package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** a47 on a corpus where the runs statistic's σ_R is zero. */
class RunsTestSpec extends SparkSpec {
  import spark.implicits._

  test("a47 on a one-user, two-value corpus: n1 = n2 = 1 gives σ_R = 0 " +
      "and reads z NULL (as SQL's division by zero does), not an ANSI " +
      "divide-by-zero") {
    val rows = EventCorpus.withEvents(spark, "graft_a47") { ev =>
      // the first user's first event and its first event of another value
      val user = ev.agg(min($"user_id")).head.getLong(0)
      val mine = ev.filter($"user_id" === user).orderBy($"event_id")
        .select($"event_id", $"value").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val (e0, v0) = mine.head
      val e1 = mine.find { case (_, v) => math.abs(v - v0) > 0.01 }.get._1
      ev.filter($"event_id".isin(e0, e1))
    }(SparkEntry.queries("a47_runs_test")(spark, _).collect())
    assert(rows.length == 1, rows.mkString("\n"))
    val r = rows.head
    assert(r.getAs[Long]("n1") == 1L && r.getAs[Long]("n2") == 1L, r)
    assert(r.getAs[Long]("runs") == 2L, r)
    assert(r.isNullAt(r.fieldIndex("z")), r)
  }
}
