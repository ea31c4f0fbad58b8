package graft.jobs

import graft.SparkSpec
import graft.ml.{FittedWindowZScore, WindowZScoreDetector}
import org.apache.spark.sql.{DataFrame, Encoder}
import org.scalacheck.rng.Seed
import org.scalacheck.{Gen, Prop, Test}
import java.sql.Timestamp
import scala.reflect.ClassTag

/** Tied timestamps score deterministically: the windowed detector's time
  * order is `(timestamp, id)`, so a run's outputs do not depend on how the
  * input rows arrive or on how Spark partitions them. */
class TieOrderSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Int) =
    new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + sec * 1000L)

  /** 400 rows, two distinct rows per second; every 37th row is a spike
    * labeled 1. */
  private val unkeyed: Seq[(Timestamp, Double, Double, Int)] = {
    val rng = new scala.util.Random(11)
    (0 until 400).map { i =>
      val spike = i % 37 == 5
      val v1 = 50.0 + 10.0 * math.sin(i / 30.0) + rng.nextGaussian() * 3.0
      (ts(i / 2), if (spike) v1 * 3.0 else v1, rng.nextGaussian(), if (spike) 1 else 0)
    }
  }

  /** Two series of 200 rows, two distinct rows per second, with the job
    * table's unique `id`. */
  private val keyed: Seq[(Long, Timestamp, Int, Double, Double)] = {
    val rng = new scala.util.Random(13)
    (0 until 400).map { i =>
      val spike = i % 41 == 9
      val v1 = 20.0 + rng.nextGaussian() * 2.0
      (i.toLong, ts((i % 200) / 2), i / 200, if (spike) v1 * 4.0 else v1, rng.nextGaussian())
    }
  }

  /** How one run sees the same rows: their order, the input partitions
    * and `spark.sql.shuffle.partitions`. */
  private case class Layout(orderSeed: Long, inParts: Int, shuffleParts: Int)

  private def frame[T: Encoder: ClassTag](rows: Seq[T], l: Layout,
                                          cols: String*): DataFrame = {
    val shuffled = new scala.util.Random(l.orderSeed).shuffle(rows)
    spark.sparkContext.parallelize(shuffled, l.inParts).toDF(cols: _*)
  }

  /** Everything a run decides, by name: the batch job's split, score and
    * flag per id, its threshold, counts and metrics; and the threshold and
    * per-id score and flag of the detector fitted on its own, keyed by
    * series and without a key. */
  private def outcome(l: Layout): Seq[(String, Any)] = {
    val conf = spark.conf
    val prev = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", l.shuffleParts.toLong)
    def perId(df: DataFrame, cols: String*): Map[Long, Seq[Any]] =
      df.select("id", cols: _*).collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    try {
      val (s, detected, fitted) = BatchJob.runScored(spark, "ties",
        frame(unkeyed, l, "timestamp", "v1", "v2", "label"), "timestamp",
        Some("label"), Nil, WindowZScoreDetector(Seq("v1", "v2"), L = 3),
        0.85, persistTable = false, xai = None)
      val kdf = frame(keyed, l, "id", "timestamp", "sid", "v1", "v2")
      val standalone = Seq("keyed" -> Some("sid"), "unkeyed" -> None).flatMap {
        case (name, series) =>
          val f = WindowZScoreDetector(Seq("v1", "v2"), seriesCol = series, L = 3)
            .fit(kdf.filter($"timestamp" < ts(85))).asInstanceOf[FittedWindowZScore]
          Seq(s"$name.threshold" -> f.threshold,
            s"$name.rows" -> perId(f.transform(kdf), "anomaly_score", "is_anomaly"))
      }
      Seq("batch.summary" -> (s.rows, s.flaggedRows, s.metricsTest, s.metricsAll),
        "batch.threshold" -> fitted.asInstanceOf[FittedWindowZScore].threshold,
        "batch.rows" -> perId(detected, "split", "anomaly_score", "is_anomaly")) ++
        standalone
    } finally conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("property: batch job and standalone detector outputs are invariant " +
      "under input order, input partitions and shuffle partitions on " +
      "tied timestamps") {
    val reference = outcome(Layout(0L, 1, 2))
    val layouts = for {
      orderSeed <- Gen.choose(1L, Long.MaxValue)
      inParts <- Gen.choose(1, 8)
      shuffleParts <- Gen.choose(2, 32)
    } yield Layout(orderSeed, inParts, shuffleParts)
    val params = Test.Parameters.default.withMinSuccessfulTests(5)
      .withInitialSeed(Seed(42L))
    val res = Test.check(params, Prop.forAllNoShrink(layouts) { l =>
      val differ = outcome(l).zip(reference).collect {
        case ((name, got), (_, want)) if got != want => name
      }
      if (differ.nonEmpty) info(s"$l: ${differ.mkString(", ")} differ")
      differ.isEmpty
    })
    assert(res.passed, res.status)
  }
}
