package perfbench

import java.io.{File, PrintWriter}
import scala.util.Random
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import graft.inject.AnomalySetting

/** Seeded input generators. Everything a workload reads is made here from
  * `--seed`; the program sees only the files. */
object Gen {
  val T0 = 1700000000L
  val StepS = 60L

  /** The reference's dataset shape: a timestamped CSV with an epoch-second
    * `ts` column and `nFeat` numeric features, each a sine (own period and
    * phase) on a level of 10, plus Gaussian noise. */
  def seriesCsv(path: String, rows: Int, nFeat: Int, seed: Long): Unit = {
    val rng = new Random(seed)
    val period = Array.fill(nFeat)(40.0 + rng.nextDouble() * 160.0)
    val phase = Array.fill(nFeat)(rng.nextDouble() * 2 * math.Pi)
    new File(path).getParentFile.mkdirs()
    val w = new PrintWriter(path)
    try {
      w.println(("ts" +: features(nFeat)).mkString(","))
      for (i <- 0 until rows) {
        val vals = (0 until nFeat).map { f =>
          val v = 10.0 + 2.0 * math.sin(2 * math.Pi * i / period(f) + phase(f)) +
            0.3 * rng.nextGaussian()
          f"$v%.6f"
        }
        w.println((T0 + i * StepS).toString +: vals mkString ",")
      }
    } finally w.close()
  }

  def features(nFeat: Int): Seq[String] = (0 until nFeat).map(f => s"f$f")

  /** A spike and a step, each on its own feature and over `len` rows
    * starting at the given fractions of the series. */
  def injections(rows: Int, len: Int, spikeAt: Double, stepAt: Double,
                 spikeCol: String, stepCol: String): Seq[AnomalySetting] = {
    def start(frac: Double) = T0 + (rows * frac).toLong * StepS
    Seq(
      AnomalySetting("spike", start(spikeAt), len * StepS, magnitude = 3.0,
        columns = Seq(spikeCol)),
      AnomalySetting("step", start(stepAt), len * StepS, magnitude = 0.4,
        columns = Seq(stepCol)))
  }

  /** Stop words the curation quality gate counts (`TextOps.langWords`). */
  private val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** A `documents.parquet` in the testdata schema (doc_id, text, lang,
    * source, n_chars) with `nDocs` docs. `nChains` of them form near-
    * duplicate chains: each chain member is the previous one with one word
    * replaced, so neighbours are near-duplicates while the chain's ends can
    * be far apart. Returns the planted neighbour pairs (a_id < b_id). */
  def documents(spark: SparkSession, dir: String, nDocs: Int, nChains: Int,
                chainLen: Int, seed: Long): Seq[(Long, Long)] = {
    val rng = new Random(seed)
    val vocab = Array.fill(4000) {
      val n = 4 + rng.nextInt(5)
      (1 to n).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    }
    // uniform over the vocabulary, so unrelated docs share few words and
    // near-duplicates come only from the planted chains; a few stop words
    // let docs pass the curation quality gate
    def word(): String =
      if (rng.nextDouble() < 0.06) stop(rng.nextInt(stop.size))
      else vocab(rng.nextInt(vocab.length))
    def doc(): Array[String] = Array.fill(40 + rng.nextInt(50))(word())

    val texts = new Array[Array[String]](nDocs)
    val ids = rng.shuffle((0 until nDocs).toVector)
    val pairs = Seq.newBuilder[(Long, Long)]
    var k = 0
    for (_ <- 0 until nChains) {
      var cur = doc()
      var prev = -1
      for (_ <- 0 until chainLen) {
        val id = ids(k); k += 1
        texts(id) = cur
        if (prev >= 0) pairs += ((math.min(prev, id).toLong, math.max(prev, id).toLong))
        prev = id
        cur = cur.clone()
        cur(rng.nextInt(cur.length)) = word()
      }
    }
    while (k < nDocs) { texts(ids(k)) = doc(); k += 1 }

    val langs = Array("en", "de", "fr", "es", "zh")
    val rows = (0 until nDocs).map { i =>
      val t = texts(i).mkString(" ")
      org.apache.spark.sql.Row(i.toLong, t, langs(rng.nextInt(langs.length)),
        s"src${rng.nextInt(8)}", t.length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    singleParquet(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema), s"$dir/documents.parquet")
    pairs.result()
  }

  /** Writes `df` as ONE parquet file at `path` (the testdata layout the
    * DuckDB oracle reads), not a directory of parts. */
  private def singleParquet(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val tmp = path + ".parts"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    val dst = new File(path)
    dst.delete()
    java.nio.file.Files.move(part.toPath, dst.toPath)
    Files.deleteTree(new File(tmp))
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
