package graft.queries

import graft.{SparkEntry, SparkSpec, Tables}
import graft.functions.Det

/** a27 on a corpus with every event on one side of the KS split. */
class KsDriftSpec extends SparkSpec {
  import spark.implicits._

  test("a27 on a one-sided corpus: n1·n2 = 0 reads d_ppm NULL (as SQL's " +
      "// by zero does), not an ANSI divide-by-zero") {
    val rows = EventCorpus.withEvents(spark, "graft_a27") { ev =>
      // the split a27 itself applies, on the timestamp Tables.t rebuilds
      val early = Tables.t(spark, EventCorpus.Source, "events")
        .filter(Det.epochS($"ts") < Analytics.KsSplitEs).select($"event_id")
      ev.join(early, Seq("event_id"), "left_semi")
    }(SparkEntry.queries("a27_ks_drift")(spark, _).collect())
    assert(rows.length == 1, rows.mkString("\n"))
    val r = rows.head
    assert(r.getAs[Long]("n1") > 0L && r.getAs[Long]("n2") == 0L, r)
    assert(r.isNullAt(r.fieldIndex("d_ppm")), r)
  }
}
