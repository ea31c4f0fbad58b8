package perfbench

import org.apache.spark.sql.functions._
import graft.api.EngineApi
import graft.eval.Metrics
import graft.ingest.Ingest
import graft.streaming.StreamJob
import graft.window.Sequencer

/** The reference's `job_stream`: fit `isolation_forest` on the training
  * slice, then replay a longer series through `StreamJob.stageAndReplay` →
  * `injectStream` → `detectSink`, drained with `availableNow` and
  * appending to a table. No XAI, so ingest, injection, scoring, micro-batch
  * overhead and writes dominate. */
object StreamTwin {
  val Rows = 2000
  val NFeat = 2
  val InjLen = 40
  val Chunks = 4
  val feats: Seq[String] = Gen.features(NFeat)
  val settings = Gen.injections(Rows, InjLen, 0.30, 0.90, "f0", "f1")
  def inputSize = s"$Rows rows x $NFeat features CSV, $Chunks micro-batches"

  def generate(dir: String, seed: Long): Unit =
    Gen.seriesCsv(s"$dir/stream.csv", Rows, NFeat, seed + 1)

  private val outCols = Seq("id", "is_anomaly", "anomaly_score",
    "injected_anomaly", "label")

  /** One replay, each layer call in a span. It runs in the traced loop
    * only, so its outputs are forced like the batch job's traced calls. */
  def run(ctx: Ctx, iter: Int, tr: Tracer): () => Outcome = {
    import Check.force
    val spark = ctx.spark
    val api = new EngineApi(spark, s"${ctx.work}/datasets")
    val table = s"job_stream_${ctx.tag}_$iter"
    val stageDir = s"${ctx.work}/stage_$iter"
    val raw = tr.span("ingest.read")(
      Ingest.readFile(spark, s"${ctx.input}/stream.csv"))
    val normalized = tr.span("ingest.normalize")(
      force(Ingest.normalize(raw, "ts", None)))
    val split = tr.span("window.temporal_split")(force(
      Sequencer.temporalSplit(normalized, Seq(col("timestamp"), col("id")), 0.85)))
    val fitted = tr.span("ml.fit")(api.detector("isolation_forest", feats)
      .fit(split.filter(col("split") === "train").drop("split")))
    val stream = tr.span("streaming.stage")(
      StreamJob.stageAndReplay(spark, normalized, stageDir, nChunks = Chunks))
    // injectStream's only eager work is its static stats pre-pass
    val injected = tr.span("inject.static_stats")(
      StreamJob.injectStream(stream, normalized, "id", "timestamp", settings))
    val q = tr.span("streaming.drain") {
      val q = StreamJob.detectSink(injected, fitted, table)
      // the micro-batches run under the query's run id as job group
      tr.adopted(q.runId.toString) = tr.current
      q.awaitTermination()
      q
    }
    q.exception.foreach(e => throw e)
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    val f1 = tr.span("eval.confusion")(Metrics.confusion(spark.table(table),
      col("is_anomaly"), col("label") === 1).head.getAs[Double]("f1_score"))
    () => {
      val out = spark.table(table)
      val (n, h) = Check.of(out.select(outCols.map(col): _*))
      // the same injected rows scored in batch must carry the same flags
      val batch = fitted.transform(StreamJob.injectStream(normalized,
        normalized, "id", "timestamp", settings))
      val (bn, bh) = Check.of(batch.select(outCols.map(col): _*))
      val injected = out.filter(col("injected_anomaly")).count()
      spark.sql(s"DROP TABLE IF EXISTS $table")
      Files.deleteTree(new java.io.File(stageDir))
      def p50(key: String) = Stats.median(
        progress.toSeq.map(_.durationMs.getOrDefault(key, 0L).toDouble))
      val problems = Seq(
        if (n != Rows) Some(s"streamed rows $n != $Rows") else None,
        if ((n, h) != ((bn, bh))) Some("stream flags differ from batch scoring") else None,
        if (injected <= 0) Some("nothing injected") else None
      ).flatten
      Outcome(n, h, Map.empty,
        Map("eval.stream_detect_f1" -> f1,
          "streaming.batches" -> progress.length.toDouble,
          "streaming.batch_ms_p50" -> p50("triggerExecution"),
          "streaming.add_batch_ms_p50" -> p50("addBatch")),
        problems)
    }
  }
}
