package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Coerce

/** Dataset ingest + canonical normalization (SURVEY §1.3, §2.1 S1–S6, F1–F5).
  *
  * Reference semantics (`Backend/Simulator/BatchImport/batchimport.py`):
  *  1. drop `Unnamed:*` columns (:196-200)
  *  2. rename user label column → `label`, time column → `timestamp` (:202-211)
  *  3. timestamp coercion: numeric ⇒ epoch-seconds UTC; string ⇒ parsed UTC;
  *     unparseable ⇒ null ⇒ row dropped (:213-244)
  *  4. label coercion to {0,1} (:249-276)
  *  5. sort by timestamp (:281-282)
  *  6. add `injected_anomaly=false`, `is_anomaly=false` flags (:364-366)
  *  7. stable `id` from the timestamp order (reference: DB identity column)
  *
  * All steps are declarative Column expressions; the global sort is a range
  * partitioning (Spark's orderBy), which also gives the job table its
  * time-locality (≈ hypertable chunking) at any scale.
  */
object Ingest {

  /** S1/S3/S4: extension-dispatched file read with header + schema inference. */
  def readFile(spark: SparkSession, path: String): DataFrame =
    path.toLowerCase match {
      case p if p.endsWith(".csv") =>
        spark.read.option("header", "true").option("inferSchema", "true").csv(path)
      case p if p.endsWith(".json") => spark.read.json(path)
      case p if p.endsWith(".parquet") => spark.read.parquet(path)
      case p if p.endsWith(".orc") => spark.read.orc(path)
      case other => throw new IllegalArgumentException(s"unsupported format: $other")
    }

  /** S2: header probe — schema only, no data read. */
  def columns(spark: SparkSession, path: String): Seq[String] =
    (path.toLowerCase match {
      case p if p.endsWith(".csv") =>
        spark.read.option("header", "true").csv(path) // header-only read
      case _ => readFile(spark, path)
    }).schema.fieldNames.toSeq

  /** F1–F3: coerce an arbitrary time column to UTC TimestampType.
    * Numeric ⇒ seconds since epoch; string ⇒ try_cast (null on failure,
    * matching pandas `errors='coerce'`); timestamp ⇒ passthrough. */
  def coerceTimestamp(c: Column, dt: DataType): Column = dt match {
    case _: NumericType => timestamp_seconds(c)
    case TimestampType  => c
    case DateType       => c.cast(TimestampType)
    case _              => c.try_cast(TimestampType)
  }

  /** Full normalization pass producing the canonical job-table frame:
    * `id BIGINT, timestamp TIMESTAMP, <numeric measures...>, [label INT],
    * injected_anomaly BOOLEAN, is_anomaly BOOLEAN`. */
  def normalize(df: DataFrame, timeColumn: String,
                labelColumn: Option[String] = None): DataFrame = {
    // 1. drop pandas index artifacts
    val dropped = df.drop(df.columns.filter(_.startsWith("Unnamed:")): _*)

    // 2.+3. timestamp coercion under the canonical name (temp name first:
    // the user's time column may already be called "timestamp")
    val tsType = dropped.schema(timeColumn).dataType
    val withTs = dropped
      .withColumn("__graft_ts", coerceTimestamp(col(timeColumn), tsType))
      .drop(timeColumn)
      .withColumnRenamed("__graft_ts", "timestamp")

    // 4. label coercion (total function → {0,1})
    val withLabel = labelColumn match {
      case Some(lc) =>
        withTs.withColumn("__graft_lbl",
          Coerce.labelNormalize(col(lc).cast(StringType)))
          .drop(lc)
          .withColumnRenamed("__graft_lbl", "label")
      case None => withTs
    }

    // measures: every remaining non-meta column cast to double
    val meta = Set("timestamp", "label")
    val measures = withLabel.schema.fields
      .filter(f => !meta.contains(f.name)).map(_.name).toSeq
    val casted = measures.foldLeft(withLabel)((d, c) =>
      d.withColumn(c, col(c).cast(DoubleType)))

    // P6: drop rows whose timestamp failed coercion; 5.–7.: sort, flags, id.
    // The id is the STABLE-ID CONTRACT of the engine: a 0-based rank over
    // (timestamp, measures..., label) via the range-partitioned two-pass
    // rank — a pure function of row content, identical under any partition
    // count / cluster size (monotonically_increasing_id encodes the
    // partition index and is NOT). Downstream keyed randomness (Det.frac →
    // injection selection, permutation) depends on this invariance. Rows
    // tied on every order column are fully identical, so either rank
    // assignment yields the same frame.
    val valid = casted.na.drop(Seq("timestamp"))
    val cols = Seq(col("timestamp")) ++ measures.map(col) ++
      (if (labelColumn.isDefined) Seq(col("label")) else Nil)
    graft.ops.Ranks.globalRowNumber(valid.select(cols: _*), cols, "id")
      .withColumn("id", col("id") - 1L)
      .withColumn("injected_anomaly", lit(false))
      .withColumn("is_anomaly", lit(false))
  }

  /** S7/S8: persist as the per-job table (parquet catalog table named like the
    * reference's `job_batch_<name>`). */
  def writeJobTable(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").format("parquet").saveAsTable(name)

  /** S9: time-range scan over a job table. */
  def readRange(spark: SparkSession, table: String,
                from: Option[java.sql.Timestamp],
                to: Option[java.sql.Timestamp]): DataFrame = {
    val base = spark.table(table)
    val lo = from.map(f => col("timestamp") >= lit(f)).getOrElse(lit(true))
    val hi = to.map(t => col("timestamp") <= lit(t)).getOrElse(lit(true))
    base.filter(lo && hi).orderBy(col("timestamp"))
  }
}
