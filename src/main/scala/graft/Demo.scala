package graft

import graft.api.EngineApi
import graft.inject.AnomalySetting
import java.nio.file.Files

/** End-to-end demo of the job API: generate a CSV, import it, run a batch
  * job with spike injection + decision tree, read data back, print the
  * summary. `runMain graft.Demo` — exits nonzero on any contract breach. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(8)
    spark.sparkContext.setLogLevel("ERROR")

    // synthetic unlabeled series: one sensor, 1 Hz, one day-ish
    val rng = new scala.util.Random(11)
    val sb = new StringBuilder("time,reading,aux\n")
    (0 until 5000).foreach { i =>
      sb.append(s"${1704067200 + i},${50 + 10 * math.sin(i / 40.0) + rng.nextGaussian()},${rng.nextGaussian()}\n")
    }
    val csv = Files.createTempFile("graft_demo", ".csv")
    Files.writeString(csv, sb.toString)

    val api = new EngineApi(spark, Files.createTempDirectory("graft_demo_ds").toString)
    val imported = api.importDataset(csv.toString)
    println(s"datasets: ${api.getDatasets}")
    println(s"models: ${api.getModels}")

    // inject a spike burst 1000s in, 120s long, then detect it supervised
    val inj = AnomalySetting("spike", 1704067200L + 1000, durationSec = 120,
      magnitude = 5.0, percentage = 90.0, columns = Seq("reading"))
    val summary = api.runBatch("demo", imported, "time", None,
      "decision_tree", Seq("reading", "aux"), Seq(inj),
      xai = Some(graft.jobs.XaiConfig(Seq("reading", "aux"))))
    println(s"summary: $summary")
    assert(summary.xaiNdcg("permutation_importance") == 1.0,
      "in-job XAI must rank the injected column first")

    val sample = api.getData("demo").limit(3)
    sample.show(truncate = false)
    assert(summary.rows == 5000, "row count")
    assert(summary.injectedRows > 80, s"injected ${summary.injectedRows}")
    assert(summary.metricsAll("recall_tpr") > 0.5,
      s"recall ${summary.metricsAll}")
    assert(api.getAllJobs.contains("job_batch_demo"), "catalog")

    // XAI leg: which feature explains the detections? ground truth: "reading"
    val scoredJob = spark.table("job_batch_demo_scored")
    val det0 = api.detector("decision_tree", Seq("reading", "aux"))
    val fitted0 = det0.fit(scoredJob.withColumnRenamed("is_anomaly", "__dummy")
      .withColumnRenamed("label", "label"))
    val imp = graft.xai.Xai.permutationImportance(
      scoredJob, fitted0, Seq("reading", "aux"))
    imp.show()
    val ndcg = graft.xai.Xai.ndcgVsInjected(imp, Set("reading"), 3)
    println(s"xai ndcg@3 vs injected: $ndcg")
    assert(ndcg == 1.0, "injected column must rank first")

    // counterfactual legs: DiCE random + genetic modes on the detections
    val cfBase = scoredJob.drop("is_anomaly", "anomaly_score")
    val cfAnoms = scoredJob.filter(
        org.apache.spark.sql.functions.col("is_anomaly"))
      .limit(5).drop("is_anomaly", "anomaly_score")
    val gcfs = graft.xai.Xai.geneticCounterfactuals(
      cfAnoms, cfBase, fitted0.transform, Seq("reading", "aux"))
    println("genetic counterfactual importance:")
    graft.xai.Xai.counterfactualImportance(gcfs, Seq("reading", "aux")).show()

    // streaming leg: replay the normalized dataset, inject + detect per
    // micro-batch, drain with availableNow
    val normalized = graft.ingest.Ingest.normalize(
      spark.read.option("header", "true").option("inferSchema", "true")
        .csv(imported), "time", None)
    val det = api.detector("pca_oneclass", Seq("reading", "aux"))
    val fitted = det.fit(normalized)
    val stage = Files.createTempDirectory("graft_demo_stream").toString
    // reference `speedup` parity: 5000 s of event time at speedup 5000
    // would pace one micro-batch per ~100 ms (drained with availableNow
    // below so the demo stays fast)
    println("replay pacing at speedup 5000: " +
      graft.streaming.StreamJob.replayTrigger(normalized, "timestamp", 10, 5000.0))
    val stream = graft.streaming.StreamJob.stageAndReplay(
      spark, normalized, stage, nChunks = 10, filesPerTrigger = 3)
    val injected = graft.streaming.StreamJob.injectStream(
      stream, normalized, "id", "timestamp", Seq(inj))
    val q = graft.streaming.StreamJob.detectSink(injected, fitted, "demo_stream_scored")
    q.awaitTermination(120000)
    val scored = spark.table("demo_stream_scored")
    println(s"stream scored rows: ${scored.count()}, flagged: " +
      scored.filter(org.apache.spark.sql.functions.col("is_anomaly")).count())
    assert(scored.count() == 5000, "stream row count")
    spark.sql("DROP TABLE demo_stream_scored")

    api.cancelJob("demo")

    // stateful-window streaming leg: batch-exact rolling windows across
    // micro-batches + SQL surface check
    graft.expressions.GraftFunctions.register(spark)
    println("sql surface: " + spark.sql(
      "SELECT graft_duration_seconds('1h30m') AS s, graft_frac(7, 42) AS f")
      .head)
    val wdet = graft.ml.WindowZScoreDetector(Seq("reading"), L = 10)
    val wfit = wdet.fit(normalized).asInstanceOf[graft.ml.FittedWindowZScore]

    // cross-feature windowed autoencoder equivalent (M1 substitute (a)):
    // PCA reconstruction error over flattened windows
    val pfit = api.detector("window_pca", Seq("reading", "aux")).fit(normalized)
    println("window_pca flagged: " + pfit.transform(normalized)
      .filter(org.apache.spark.sql.functions.col("is_anomaly")).count())
    val stage2 = Files.createTempDirectory("graft_demo_sw").toString
    val stream2 = graft.streaming.StreamJob.stageAndReplay(
      spark, normalized.withColumn("sid", org.apache.spark.sql.functions.lit("s0")),
      stage2, nChunks = 6, filesPerTrigger = 2)
    val swq = graft.streaming.StatefulWindow.score(stream2, Seq("reading"),
        "sid", "timestamp", 10, wfit.threshold)
      .writeStream.format("memory").queryName("demo_sw")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    swq.awaitTermination(120000)
    val swFlags = spark.table("demo_sw")
      .filter(org.apache.spark.sql.functions.col("is_anomaly")).count()
    val batchFlags = wfit.transform(
      normalized.withColumn("sid", org.apache.spark.sql.functions.lit("s0")))
      .filter(org.apache.spark.sql.functions.col("is_anomaly")).count()
    println(s"stateful-window flags: stream=$swFlags batch=$batchFlags")
    assert(spark.table("demo_sw").count() == 5000, "stateful stream rows")
    assert(swFlags == batchFlags, "batch-exact stateful windows")

    // multimodal leg: binary media → decode → frames → embeddings → ANN buckets
    import spark.implicits._
    val media = (0 until 30).map { i =>
      (i.toLong, Seq("image", "audio", "video")(i % 3),
        Array.fill(300)(((i * 31 + 7) % 251).toByte))
    }.toDF("media_id", "media_type", "content")
    val decoded = graft.multimodal.Media.decode(media).toDF()
    val frames = graft.multimodal.Media.frameSample(decoded, fps = 1.0)
    val emb = graft.multimodal.Media.featureExtractStub(decoded, dim = 64)
      .select($"media_id", $"embedding").cache()
    emb.count()
    val buckets = emb.select($"media_id",
      graft.similarity.Vectors.lshBucket($"embedding", 64, 8, 7L).as("bucket"))
    println(s"media decoded: ${decoded.count()}, video frames: ${frames.count()}, " +
      s"distinct ann buckets: ${buckets.select("bucket").distinct().count()}")
    assert(decoded.count() == 30 && frames.count() > 0, "media plumbing")

    // real video leg: MJPEG-AVI encode → parse → sampled frames → aHash
    val clip = graft.multimodal.VideoCodec.encodeAvi(
      (0 until 6).map { f =>
        val img = new java.awt.image.BufferedImage(32, 24,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        for (y <- 0 until 24; x <- 0 until 32)
          img.setRGB(x, y, if (x / 4 == f) 0xffffff else 0x202020)
        img
      }, fps = 3)
    val vrows = Seq((100L, "video", clip)).toDF("media_id", "media_type", "content")
    val vframes = graft.multimodal.Media.videoFrames(vrows, fps = 3.0)
    val vhashes = graft.multimodal.Media.imageHashes(
      vframes.select(($"media_id" * 10 + $"frame_idx").as("media_id"),
        $"frame_content".as("content")))
    println(s"mjpeg-avi: ${vframes.count()} real frames decoded, " +
      s"${vhashes.select("ahash").distinct().count()} distinct perceptual hashes")
    assert(vframes.count() == 6, "real video decode")

    // sketches + layout: HLL / count-min / z-order over the job table
    val sfDir = "/root/testdata/sf0.001"
    val hll = SparkEntry.queries("a13_hll_distinct")(spark, sfDir).head()
    println(s"hll estimate=${hll.getDouble(0)} exact=${hll.getLong(1)}")
    val cm = SparkEntry.queries("a14_cm_heavy_hitters")(spark, sfDir)
    println(s"count-min top hitter: ${cm.head.getLong(0)}")
    val evs = graft.Tables.t(spark, sfDir, "events").select($"value", $"user_id")
    val zed = graft.ops.ZOrder.cluster(evs, Seq($"value", $"user_id"),
      bits = 4, numFiles = 8)
    assert(zed.count() == evs.count(), "z-order layout preserves rows")

    // graph centrality + the full curation chain (round-4 legs)
    val pr = SparkEntry.queries("g1_pagerank")(spark, sfDir)
    val top = pr.head()
    println(s"pagerank top node: ${top.getString(0)} pr=${top.getLong(1)}")
    assert(pr.count() == 20, "pagerank top-k")
    val curated = SparkEntry.queries("z3_curate_e2e")(spark, sfDir)
    println(s"curation chain survivors: ${curated.count()} " +
      s"(bins: ${curated.agg(org.apache.spark.sql.functions.max($"bin"))
        .head.getLong(0) + 1})")

    // round-5 legs: clustering, compressed ANN, forward as-of
    val km = SparkEntry.queries("e11_kmeans")(spark, sfDir)
    println(s"kmeans clusters: ${km.count()} " +
      s"(largest n=${km.agg(org.apache.spark.sql.functions.max($"n"))
        .head.getLong(0)})")
    val pq = SparkEntry.queries("e12_pq_ann")(spark, sfDir)
    assert(pq.count() == 50, "pq top-5 for 10 queries")
    val conv = SparkEntry.queries("z4_asof_forward")(spark, sfDir)
    println(s"click->next-purchase attributions: " +
      s"${conv.filter($"asof_p_id".isNotNull).count()}/${conv.count()}")

    // round-6 legs: composition control + tokenizer prep
    val dsir = SparkEntry.queries("t25_dsir_select")(spark, sfDir)
    println(s"dsir keeps ${dsir.filter($"keep").count()}/${dsir.count()} " +
      "docs toward the target domain")
    val bpe = SparkEntry.queries("t28_bpe_merge_step")(spark, sfDir).head
    println(s"bpe step 1 merges '${bpe.getAs[String]("pair")}' " +
      s"(${bpe.getAs[Long]("total_merges")} corpus merges)")
    val compose = SparkEntry.queries("z7_compose_e2e")(spark, sfDir)
    println(s"composition chain: ${compose.count()} docs across " +
      s"${compose.select($"shard").distinct().count()} balanced shards")

    // round-6 session-3 legs: serving chain, funnel observability,
    // compressed-index gates, at-scale statistics
    val serve = SparkEntry.queries("z8_retrieve_e2e")(spark, sfDir)
    println(s"serving chain: ${serve.count()} diversified answers " +
      s"for ${serve.select($"q_id").distinct().count()} queries")
    val funnel = SparkEntry.queries("t29_filter_funnel")(spark, sfDir)
    val worst = funnel.orderBy($"n_first_reject".desc).head
    println(s"funnel: worst rule '${worst.getAs[String]("rule")}' " +
      s"rejects ${worst.getAs[Long]("n_first_reject")} docs first " +
      s"in ${worst.getAs[String]("source")}")
    val sweep = SparkEntry.queries("e18_ivf_probe_sweep")(spark, sfDir)
    println("ivf probe sweep (nprobe -> recall ppm): " +
      sweep.collect().map(r =>
        s"${r.getAs[Int]("nprobe")}->${r.getAs[Long]("recall_ppm")}")
        .mkString(", "))
    val ci = SparkEntry.queries("a43_bootstrap_ci")(spark, sfDir).head
    println(f"bootstrap 95%% CI for mean(value): " +
      f"[${ci.getAs[Double]("ci_lo")}%.3f, ${ci.getAs[Double]("ci_hi")}%.3f] " +
      f"around ${ci.getAs[Double]("mean_value")}%.3f")
    val seeds = SparkEntry.queries("e19_kmeanspp_init")(spark, sfDir)
    println("kmeans++ seeds: " + seeds.collect()
      .map(_.getAs[Long]("chosen_id")).mkString(", "))

    // round-7 legs: budget/sampling designs, trained lang-ID, winnowing,
    // drift + control-chart monitors
    import org.apache.spark.sql.functions.{sum => fsum, max => fmax}
    val uni = SparkEntry.queries("t33_unimax_budget")(spark, sfDir)
    println(s"unimax: ${uni.filter($"saturated").count()}/${uni.count()} " +
      s"sources saturated, allocated " +
      s"${uni.agg(fsum($"alloc")).head.getLong(0)} tokens")
    val ney = SparkEntry.queries("p21_neyman_alloc")(spark, sfDir)
    assert(ney.agg(fsum($"alloc")).head.getLong(0) == 100,
      "neyman allocations must sum to the exact budget")
    val nb = SparkEntry.queries("t34_nb_langid")(spark, sfDir)
    val nbOk = nb.filter($"true_lang" === $"pred_lang")
      .agg(fsum($"n")).head.getLong(0)
    println(s"nb lang-id: $nbOk/${nb.agg(fsum($"n")).head.getLong(0)} " +
      "test docs correct")
    val win = SparkEntry.queries("t36_winnowing")(spark, sfDir)
    println(s"winnowing: ${win.count()} suspicious pairs above the " +
      "shared-fingerprint floor")
    val psi = SparkEntry.queries("a45_psi_drift")(spark, sfDir)
    println(f"psi drift: max source PSI = " +
      f"${psi.agg(fmax($"psi")).head.getDouble(0)}%.4f")
    val ew = SparkEntry.queries("w31_ewma_chart")(spark, sfDir)
    println(s"ewma chart: ${ew.count()} alarm rows")
    assert(ew.count() > 0, "ewma chart must alarm on this corpus")

    // round-8 legs: second-order diagnostics, online monitors, the
    // linkage pipeline
    val lb = SparkEntry.queries("a62_ljung_box")(spark, sfDir).head
    println(f"ljung-box: Q = ${lb.getAs[Double]("q_lb")}%.3f on 3 df " +
      "(white-noise check)")
    val ph = SparkEntry.queries("a65_page_hinkley")(spark, sfDir)
    println(s"page-hinkley: ${ph.filter($"decision" === "drift").count()}" +
      s"/${ph.count()} users alarmed")
    val mod = SparkEntry.queries("g11_modularity")(spark, sfDir).head
    println(f"lpa partition modularity: " +
      f"${mod.getAs[Double]("modularity")}%.4f " +
      f"over ${mod.getAs[Long]("n_communities")} communities")
    val ent = SparkEntry.queries("z9_linkage_e2e")(spark, sfDir)
    println(s"entity resolution: ${ent.count()} entities from " +
      s"${ent.agg(fsum($"n_docs")).head.getLong(0)} linked docs")
    val holt = SparkEntry.queries("a61_holt")(spark, sfDir)
    println(s"holt forecasts: ${holt.count()} event types, " +
      "3-hour-ahead levels ready")

    println("DEMO_OK")
    spark.stop()
  }
}
