package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.Det
import graft.text.TextOps

/** Text-analysis + deduplication operators over the `documents` table
  * (training-data-pipeline surface; graded first-class alongside SURVEY §2).
  *
  * Everything is md5-derived and expression-only, so each operator has an
  * exact DuckDB oracle. Pipeline shapes are the 100 TB ones:
  *  - minhash signatures are per-row projections (`array_min(transform(...))`,
  *    no explode/shuffle);
  *  - candidate pairs come from LSH band / chunk equi-joins (shuffle on a
  *    short band key), never a cross product;
  *  - exact verification (n-gram Jaccard, hamming) runs only on candidates.
  */
object TextDedup {

  private val SHINGLE_K = 5
  private val NGRAM_N = 3

  /** Sorted-neighborhood window (ranks) and edit-distance accept gate. */
  private val SNM_W = 10
  private val SNM_MAX_LEV = 20
  /** Prefix-filter Jaccard threshold τ = [[PFJ_NUM]]/[[PFJ_DEN]] — kept as
    * an integer rational so the prefix length (`n - ceil(τ·n) + 1` =
    * `n - (6n+9) div 10 + 1`) and the verify gate (`10·inter ≥ 6·union`)
    * are float-free in BOTH engines. */
  private val PFJ_NUM = 6
  private val PFJ_DEN = 10
  /** Incremental-dedup split: incoming delta = doc_id ≡ 0 (mod 10); the
    * other 90 % is the already-indexed corpus. Verify gate τ = 1/2
    * (integer form 2·inter ≥ union). (private[graft]: the streaming-twin
    * spec stages the same split.) */
  private[graft] val INC_MOD = 10

  /** d18's deliberately low bucket cap — small enough that real band
    * buckets exceed it at every test SF, so the drop accounting is
    * exercised with non-zero numbers. */
  private val CapReportCap = 8

  /** d20 TF-IDF cosine: shingle width of the term space, term-df
    * fan-out cap (≤ cap² pairs per term — the g6/t26 policy; high-df
    * terms are near-zero-idf anyway) and the reported-pair cosine
    * floor. */
  private val TfidfN = 3
  private val TfidfDfCap = 32
  private val TfidfCosMin = 0.5

  private def toks(c: Column) = TextOps.tokens(c)

  /** Signature frame: doc_id + 8 minhash slices s0..s7 + `cols` (per-doc
    * columns over `documents`' own columns, computed in the same pass), via
    * the native single-pass [[graft.expressions.MinHashSigExpr]] (no
    * intermediate shingle/digest arrays; proven identical to the functions
    * composition and the DuckDB oracle in `MinHashSigSpec`). */
  private def sigDF(s: SparkSession, dir: String, cols: Column*): DataFrame = {
    import s.implicits._
    // single-file parquet → 1 input split; spread the md5-heavy projection
    // across cores (at warehouse scale the source has many splits already)
    t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("__sig",
        graft.expressions.MinHashSigExpr.sigs($"text", SHINGLE_K))
      .select(($"doc_id" +: (0 until 8).map(j =>
        element_at($"__sig", j + 1).as(s"s$j"))) ++ cols: _*)
  }

  /** The one corpus frame of a minhash dedup query: [[sigDF]] with the
    * caller's per-doc `cols`. Contract: `documents` is read once,
    * repartitioned once and localCheckpointed once; every stage of the
    * query reads this checkpoint, never the table; it keeps no bytes that
    * no stage reads (z3 nulls the tokens of docs no stage tokenizes).
    * localCheckpoint, not cache: cache matching is plan-identity-fragile,
    * and a miss under one of the frame's consumers (both band join sides,
    * both est joins, the verify joins) recomputes the minhash pass. */
  private def corpusSig(s: SparkSession, dir: String, cols: Column*): DataFrame =
    sigDF(s, dir, cols: _*).localCheckpoint()

  /** Distinct verification word n-grams of `documents`' `text` as `g`. */
  private def gramSet: Column =
    array_distinct(TextOps.wordNgrams(toks(col("text")), NGRAM_N)).as("g")

  /** MinHash LSH band memberships of a `(doc_id, text, …)` frame — 4
    * bands × 2 slices over the 8-slice signature, the d16 index geometry.
    * ONE definition shared by the batch d16 query and the streaming
    * [[graft.streaming.StreamJob.incrementalDedupSink]] (the manifest
    * constant-sharing lesson): a retune cannot desync index and probe. */
  private[graft] def bandsOfDocs(docs: DataFrame): DataFrame =
    docs
      .withColumn("__sig",
        graft.expressions.MinHashSigExpr.sigs(col("text"), SHINGLE_K))
      .select((col("doc_id") +: (0 until 8).map(j =>
        element_at(col("__sig"), j + 1).as(s"s$j"))): _*)
      .select(col("doc_id"), posexplode(array((0 until 4).map(b =>
        concat(col(s"s${2 * b}"), col(s"s${2 * b + 1}"))): _*))
        .as(Seq("band", "bv")))

  /** Distinct verification n-grams of a `(doc_id, text, …)` frame (the
    * d16 exact-Jaccard gate input) — shared with the streaming sink. */
  private[graft] def gramsOfDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), gramSet)

  /** d16's probe-and-report body: band-bucket candidates (small new side
    * BROADCAST into the index side), exact n-gram Jaccard verify at τ =
    * 1/2 (integer gate), and the per-new-doc report (candidate count, dup
    * count, best match). Shared by the batch query and the streaming sink
    * — `newIds` lists every delta doc so zero-candidate docs still report. */
  private[graft] def dedupReport(newIds: DataFrame, newBands: DataFrame,
                                 oldBands: DataFrame, newGrams: DataFrame,
                                 oldGrams: DataFrame): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
    val cand = oldBands.join(broadcast(newBands), Seq("band", "bv"))
      .select(col("new_id"), col("old_id")).distinct()
      .localCheckpoint() // feeds the verify join + the candidate count
    // scalar-only checkpoint between the array intersection and its
    // consumers (CollapseProject re-inlining guard — see d6)
    val sized = cand
      .join(newGrams, Seq("new_id"))
      .join(oldGrams, Seq("old_id"))
      .select(col("new_id"), col("old_id"),
        size(array_intersect(col("gn"), col("go"))).cast("long").as("inter"),
        (size(col("gn")) + size(col("go"))).cast("long").as("__sum"))
      .localCheckpoint()
    val dups = sized.withColumn("uni", col("__sum") - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select(col("new_id"), col("old_id"),
        expr("(inter * 1000000) div uni").as("jac_ppm"))
    val candCnt = cand.groupBy(col("new_id")).agg(count(lit(1)).as("n_cand"))
    val dupCnt = dups.groupBy(col("new_id")).agg(count(lit(1)).as("n_dup"))
    val best = dups.withColumn("rnk", row_number().over(
        win.partitionBy(col("new_id"))
          .orderBy(col("jac_ppm").desc, col("old_id"))))
      .filter(col("rnk") === 1)
      .select(col("new_id"), col("old_id").as("best_old"),
        col("jac_ppm").as("best_jac_ppm"))
    newIds
      .join(candCnt, Seq("new_id"), "left")
      .join(dupCnt, Seq("new_id"), "left")
      .join(best, Seq("new_id"), "left")
      .select(col("new_id"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"), col("best_old"),
        col("best_jac_ppm"))
      .orderBy(col("new_id"))
  }

  /** d22/d25's exact-verified candidate frame (a_id, b_id, jac_ppm):
    * ONE LSH candidate pass + ONE exact n-gram Jaccard verify join —
    * shared so the threshold sweep and the blocking audit provably
    * score the same "true match" estimator (stated: LSH-candidate-
    * verified, not all-pairs ground truth). */
  private[queries] def jacVerifiedPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one corpus checkpoint carries the signatures AND the grams both
    // verify-join sides read; the candidate generator is est-free: d22/d25
    // verify exactly, so the est_jaccard re-joins lshPairs pays are dead
    // weight here (see lshCandFromSig — the pair set is provably identical)
    val sig = corpusSig(s, dir, gramSet)
    lshCandFromSig(sig)
      .join(sig.select($"doc_id".as("a_id"), $"g".as("ga")), Seq("a_id"))
      .join(sig.select($"doc_id".as("b_id"), $"g".as("gb")), Seq("b_id"))
      .select($"a_id", $"b_id",
        size(array_intersect($"ga", $"gb")).cast("long").as("inter"),
        (size($"ga") + size($"gb")).cast("long").as("__sum"))
      .withColumn("uni", $"__sum" - $"inter")
      .select($"a_id", $"b_id",
        expr("(inter * 1000000) div uni").as("jac_ppm"))
  }

  /** d25: the "true match" verification threshold (the d22 grid's 0.8
    * point — where the sweep's knee sits on this corpus) and the
    * contract that verified pairs exist at every test SF (n_true > 0 —
    * d22's curve is flat through 0.8). */
  private val BlockTauPpm = 800000L

  /** Distinct LSH band-sharing candidate pairs (a_id < b_id) of a
    * checkpointed signature frame — the band explode + capped self-join
    * WITHOUT the two signature re-joins that estimate Jaccard. Callers
    * that verify candidates EXACTLY ([[jacVerifiedPairs]] → d22/d25)
    * never read `est_jaccard`, but the est re-joins are inner joins
    * Catalyst cannot prune away (it cannot know `sig` holds exactly one
    * row per doc_id); skipping them drops two shuffle joins + the est
    * projection from those paths (optimization r13, guide §2.4/§3.1).
    * Pair-set equivalence: every a_id/b_id comes FROM `sig` via the band
    * explode, and `sig` has exactly one row per doc (projection of
    * `documents`, no filter), so the est joins were cardinality-neutral. */
  private def lshCandFromSig(sig: DataFrame): DataFrame = {
    val bands0 = sig.select(col("doc_id"), posexplode(array((0 until 4).map(b =>
      concat(col(s"s${2 * b}"), col(s"s${2 * b + 1}"))): _*)).as(Seq("band", "bv")))
    // hot-band guard: the self-join below is quadratic in the largest band
    // bucket; skip degenerate bands (cap unhit at test SFs — oracle exact)
    val bands = graft.ops.Buckets.capMembers(bands0,
      Seq(col("band"), col("bv")), label = "minhash_lsh")
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  /** Candidate pairs sharing ≥1 of 4 LSH bands (2 slices per band), with
    * their 8-slice match count as estimated Jaccard, over a [[corpusSig]]
    * frame (it feeds four consumers: both band self-join sides and both
    * est joins). */
  private def lshPairs(sig: DataFrame): DataFrame = {
    val est = (0 until 8).map(j =>
      when(col(s"xa.s$j") === col(s"xb.s$j"), 1).otherwise(0)).reduce(_ + _)
    lshCandFromSig(sig)
      .join(sig.as("xa"), col("a_id") === col("xa.doc_id"))
      .join(sig.as("xb"), col("b_id") === col("xb.doc_id"))
      .select(col("a_id"), col("b_id"), (est / lit(8.0)).as("est_jaccard"))
  }

  private val sigSqlCols: Seq[String] = (0 until 8).map { j =>
    val digest = if (j < 4) "md5(sh)" else "md5('x' || sh)"
    s"list_min(list_transform(shingles, sh -> substr($digest, ${(j % 4) * 8 + 1}, 8))) AS s$j"
  }

  private val sigSql: String =
    s"""sig AS (
       |  SELECT doc_id, ${sigSqlCols.mkString(", ")}
       |  FROM (SELECT doc_id, list_transform(generate_series(1,
       |          greatest(len(text) - ${SHINGLE_K - 1}, 1)),
       |          i -> substr(text, i, $SHINGLE_K)) AS shingles
       |        FROM documents))""".stripMargin

  private val lshPairsSql: String =
    s"""$sigSql,
       |bands AS (
       |  SELECT doc_id, b AS band,
       |    CASE b WHEN 0 THEN s0 || s1 WHEN 1 THEN s2 || s3
       |           WHEN 2 THEN s4 || s5 ELSE s6 || s7 END AS bv
       |  FROM sig, (VALUES (0), (1), (2), (3)) t(b)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id),
       |pairs AS (
       |  SELECT a_id, b_id,
       |    ((CASE WHEN xa.s0 = xb.s0 THEN 1 ELSE 0 END) +
       |     (CASE WHEN xa.s1 = xb.s1 THEN 1 ELSE 0 END) +
       |     (CASE WHEN xa.s2 = xb.s2 THEN 1 ELSE 0 END) +
       |     (CASE WHEN xa.s3 = xb.s3 THEN 1 ELSE 0 END) +
       |     (CASE WHEN xa.s4 = xb.s4 THEN 1 ELSE 0 END) +
       |     (CASE WHEN xa.s5 = xb.s5 THEN 1 ELSE 0 END) +
       |     (CASE WHEN xa.s6 = xb.s6 THEN 1 ELSE 0 END) +
       |     (CASE WHEN xa.s7 = xb.s7 THEN 1 ELSE 0 END)) / 8.0 AS est_jaccard
       |  FROM cand JOIN sig xa ON a_id = xa.doc_id
       |            JOIN sig xb ON b_id = xb.doc_id)""".stripMargin

  /** The DuckDB twin of [[jacVerifiedPairs]] — CTE chain ending at `ver`
    * (a_id, b_id, jac_ppm), shared verbatim by the d22 and d25 oracles. */
  private def jacVerifiedSql: String =
    s"""$lshPairsSql,
       |tok AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(0, greatest(len(tokens) - $NGRAM_N, 0)),
       |    i -> array_to_string(list_slice(tokens, i + 1, i + $NGRAM_N),
       |      ' '))) AS ts
       |  FROM (SELECT doc_id, $tokensSqlExpr AS tokens FROM documents)),
       |ver AS (
       |  SELECT a_id, b_id,
       |    (CAST(len(list_intersect(ta.ts, tb.ts)) AS BIGINT) * 1000000)
       |      // CAST(len(ta.ts) + len(tb.ts)
       |        - len(list_intersect(ta.ts, tb.ts)) AS BIGINT) AS jac_ppm
       |  FROM pairs JOIN tok ta ON a_id = ta.doc_id
       |             JOIN tok tb ON b_id = tb.doc_id)""".stripMargin

  private val tokensSqlExpr =
    "list_filter(string_split(text, ' '), x -> len(x) > 0)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- language-ID (stopword-hit heuristic) ----------------------------
    "t1_lang_id" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", TextOps.langId(toks($"text")).as("lang_pred"))
        .orderBy($"doc_id")
    }),

    // ---- quality scoring -------------------------------------------------
    "t2_quality_score" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", TextOps.qualityScore($"text", toks($"text")).as("quality"))
        .orderBy($"doc_id")
    }),

    // ---- token counting (whitespace + BPE-ish estimate) ------------------
    "t3_token_counts" -> ((s, dir) => {
      import s.implicits._
      val (ws, bpe) = TextOps.tokenCounts($"text")
      t(s, dir, "documents")
        .select($"doc_id", ws.as("n_ws_tokens"), bpe.as("n_bpe_est"))
        .orderBy($"doc_id")
    }),

    // ---- T46: tokenizer fertility audit -----------------------------------
    // The budgeting pass run before choosing/locking a tokenizer: per
    // language, how many chars buy one whitespace word, and what the
    // subword estimate costs RELATIVE to words (fertility — the MT-era
    // subwords-per-word measure; a high-fertility language pays more
    // context window per sentence, which is exactly what per-language
    // token budgets must correct for). Counts ride the SHARED
    // TextOps.tokenCounts kernel (t3's columns, aggregated); ratios are
    // the exact ppm rule. 100 TB shape: ONE map-side (lang) agg
    // collapses the corpus; output is ≤ languages rows.
    "t46_fertility" -> ((s, dir) => {
      import s.implicits._
      val (ws, bpe) = TextOps.tokenCounts($"text")
      t(s, dir, "documents")
        .select($"lang", length($"text").cast("long").as("nc"),
          ws.cast("long").as("nw"), bpe.as("nb"))
        .filter($"nw" > 0L) // empty docs buy nothing (stated)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"nc").as("n_chars"),
          sum($"nw").as("n_ws_tokens"), sum($"nb").as("n_bpe_est"))
        .select($"lang", $"n_docs", $"n_ws_tokens", $"n_bpe_est",
          expr("(n_chars * 1000000) div n_ws_tokens")
            .as("chars_per_word_ppm"),
          expr("(n_bpe_est * 1000000) div n_ws_tokens")
            .as("fertility_ppm"),
          expr("(n_ws_tokens * 1000000) div n_docs")
            .as("words_per_doc_ppm"))
        .orderBy($"lang")
    }),

    // ---- document fingerprint (canonical bag-of-words md5) ---------------
    "t4_fingerprint" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", TextOps.fingerprint(toks($"text")).as("fp"))
        .orderBy($"doc_id")
    }),

    // ---- language-ID evaluation: confusion matrix vs ground truth --------
    // The classifier-quality gate for t1 (the e8/d17 treatment for the
    // lang-ID stage): predicted × labeled language counts — the table
    // that tells an operator which languages the stopword heuristic
    // confuses before routing corpora by it. One groupBy, integer counts.
    "t19_langid_eval" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"lang", TextOps.langId(toks($"text")).as("lang_pred"))
        .groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"lang_pred")
    }),

    // ---- A58: Cohen's kappa for the lang-ID classifier -----------------
    // Chance-corrected agreement (Cohen 1960) over t19's confusion —
    // the one-number skill summary raw accuracy overstates when classes
    // are imbalanced (a majority-class guesser scores high accuracy but
    // κ ≈ 0). Exactness: κ = (agree·N − Σrm·cm)/(N² − Σrm·cm) is a
    // ratio of EXACT BIGINTs (classes·N² < 2^63 ⇒ N ≲ 1e9 docs; the
    // a40 DECIMAL escape beyond) — one double division at the end.
    // Classes absent from either side contribute 0 to the chance term,
    // so the marginal inner join is exact. 100 TB shape: one
    // (lang, pred) agg collapses the corpus; everything after runs on
    // the ≤L² confusion frame.
    "a58_langid_kappa" -> ((s, dir) => {
      import s.implicits._
      val conf = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"lang", TextOps.langId(toks($"text")).as("lang_pred"))
        .groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("n"))
        .localCheckpoint() // ≤L² rows; feeds three aggs
      val tot = conf.agg(sum($"n").as("nn"),
        sum(when($"lang" === $"lang_pred", $"n").otherwise(0L))
          .as("agree"))
      val pe = conf.groupBy($"lang").agg(sum($"n").as("rm"))
        .join(conf.groupBy($"lang_pred").agg(sum($"n").as("cm"))
          .withColumnRenamed("lang_pred", "lang"), Seq("lang"))
        .agg(sum($"rm" * $"cm").as("pe_num"))
      tot.crossJoin(broadcast(pe))
        .select($"nn".as("n_docs"), $"agree",
          round(($"agree" * $"nn" - $"pe_num").cast("double") /
            ($"nn" * $"nn" - $"pe_num").cast("double"), 6).as("kappa"))
    }),

    // ---- per-source corpus report card -----------------------------------
    // The curation dashboard a corpus operator reads per ingest source:
    // doc count, exact-dup incidence, mean token length, mean quality —
    // t2/t3/d1 rolled up per source in ONE pass (quality summed in its
    // exact ×10⁴ integer form so the corpus mean is associativity-proof).
    // 100 TB shape: a text-hash groupBy for dup groups joined back on the
    // hash, then one source-keyed agg.
    "t20_corpus_report" -> ((s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", $"source", $"text", toks($"text").as("tk"),
          md5($"text".cast("binary")).as("h"))
        .localCheckpoint() // feeds the hash agg AND the join back
      val hc = base.groupBy($"h").agg(count(lit(1)).as("hc"))
      base.join(hc, Seq("h"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"hc" >= 2, 1L).otherwise(0L)).as("n_dup_docs"),
          sum(size($"tk").cast("long")).as("__st"),
          sum(TextOps.qualityScore10k($"text", $"tk")).as("__sq"))
        .select($"source", $"n_docs", $"n_dup_docs",
          round($"__st".cast("double") / $"n_docs".cast("double"), 2)
            .as("mean_tokens"),
          round($"__sq".cast("double") /
            ($"n_docs".cast("double") * 10000.0), 6).as("mean_quality"))
        .orderBy($"source")
    }),

    // ---- PII-style redaction (training-data scrub stage) -----------------
    // Synthesized contact strings (derived from doc_id, identical in both
    // engines) prove the regex semantics exactly; the patterns are chosen
    // to behave the same under Java regex (Spark) and RE2 (DuckDB).
    "t5_redact" -> ((s, dir) => {
      import s.implicits._
      val withPii = concat($"text", lit(" contact user"),
        $"doc_id".cast("string"), lit("@example.com or call 555123456789"))
      t(s, dir, "documents")
        .select($"doc_id",
          regexp_replace(
            regexp_replace(withPii,
              "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
            "[0-9]{6,}", "<NUM>").as("redacted"))
        .orderBy($"doc_id")
    }),

    // ---- exact dedup: identical-text groups ------------------------------
    "d1_exact_dedup" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .groupBy(md5($"text".cast("binary")).as("text_hash"))
        .agg(count(lit(1)).as("cnt"), min($"doc_id").as("keep_id"))
        .filter($"cnt" > 1)
        .orderBy($"text_hash")
    }),

    // ---- minhash signatures ----------------------------------------------
    // NOTE: the d12 project-above-sort rule does NOT pay here — AQE
    // coalesces the small post-sort partitions, serializing the kernel;
    // the repartitioned pre-sort projection wins despite the sampling
    // double-compute (measured 1.9 s vs 2.3 s warm, PLANS.md round-5).
    "d2_minhash_sig" -> ((s, dir) => {
      import s.implicits._
      sigDF(s, dir).orderBy($"doc_id")
    }),

    // ---- minhash LSH near-dup candidate pairs ----------------------------
    "d3_minhash_lsh_pairs" -> ((s, dir) => {
      import s.implicits._
      lshPairs(corpusSig(s, dir)).orderBy($"a_id", $"b_id")
    }),

    // ---- hot-bucket cap accounting as data -------------------------------
    // The d3 band-membership frame through Buckets.capReport with a
    // deliberately low cap, so the drop accounting (the metrics
    // capMembers logs) is itself an oracle-gated one-row frame — the
    // alertable recall-loss signal a 100 TB dedup run monitors.
    "d18_cap_report" -> ((s, dir) => {
      import s.implicits._
      val bands = sigDF(s, dir).select($"doc_id",
        posexplode(array((0 until 4).map(b =>
          concat(col(s"s${2 * b}"), col(s"s${2 * b + 1}"))): _*))
          .as(Seq("band", "bv")))
      graft.ops.Buckets.capReport(bands, Seq(col("band"), col("bv")),
        cap = CapReportCap)
    }),

    // ---- simhash fingerprints --------------------------------------------
    "d4_simhash" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("__dg", TextOps.md5Digests(toks($"text")))
        .select($"doc_id", TextOps.simhash16FromDigests($"__dg").as("sim"))
        .orderBy($"doc_id")
    }),

    // ---- simhash near-dup pairs (4-bit chunk blocking, hamming ≤ 3) ------
    "d5_simhash_pairs" -> ((s, dir) => {
      import s.implicits._
      val sim = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("__dg", TextOps.md5Digests(toks($"text")))
        .select($"doc_id", TextOps.simhash16FromDigests($"__dg").as("sim"))
        .localCheckpoint()
      val chunks = graft.ops.Buckets.capMembers(
        sim.select($"doc_id", $"sim", posexplode(array(
          (0 until 4).map(c => shiftright($"sim", 4 * c).bitwiseAND(15)): _*))
          .as(Seq("chunk", "cv"))),
        Seq(col("chunk"), col("cv")), label = "simhash16")
      chunks.as("x").join(chunks.as("y"),
          col("x.chunk") === col("y.chunk") && col("x.cv") === col("y.cv") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
          bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).as("hamming"))
        .filter($"hamming" <= 3) // filter BEFORE distinct: shrink the shuffle
        .distinct()
        .orderBy($"a_id", $"b_id")
    }),

    // ---- 64-bit simhash (native expression; collision-resistant) ---------
    "d8_simhash64" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id",
          graft.expressions.Simhash64Expr.simhash64(toks($"text")).as("sim64"))
        .orderBy($"doc_id")
    }),

    // ---- 64-bit simhash near-dup pairs (8-chunk blocking, hamming ≤ 7) ---
    "d9_simhash64_pairs" -> ((s, dir) =>
      sim64Pairs(s, dir).orderBy(col("a_id"), col("b_id"))),

    // ---- near-dup CLUSTERS: connected components over the pair list ------
    // A~B and B~C must dedup {A,B,C} together even though (A,C) was never
    // emitted; component id = min doc_id, the canonical-doc selection key.
    "d7_dedup_components" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Components.connectedComponents(
          sim64Pairs(s, dir), "a_id", "b_id")
        .select($"node".as("doc_id"), $"component")
        .orderBy($"doc_id")
    }),

    // ---- D26: dup-cluster size profile ------------------------------------
    // The dedup planner's skew read (the p27 treatment for d7's
    // clusters): the cluster-size histogram plus the totals that size a
    // dedup job — how many docs sit in near-dup clusters, the largest
    // cluster (one mega-cluster = a boilerplate template, not true
    // duplication), and the singleton complement. Pure integer counts
    // over the SHARED d7 component frame; one size agg + one histogram
    // agg. 100 TB shape: d7's cost + two tiny aggs — nothing new is
    // corpus-sized.
    "d26_cluster_profile" -> ((s, dir) => {
      import s.implicits._
      val sizes = graft.ops.Components.connectedComponents(
          sim64Pairs(s, dir), "a_id", "b_id")
        .groupBy($"component").agg(count(lit(1)).as("csize"))
        .localCheckpoint() // feeds the totals AND the histogram
      val tot = sizes.agg(sum($"csize").as("n_clustered"),
        count(lit(1)).as("n_clusters"), max($"csize").as("max_size"))
      val nd = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      sizes.groupBy($"csize").agg(count(lit(1)).as("n_clusters_of_size"))
        .crossJoin(broadcast(tot)).crossJoin(broadcast(nd))
        .select($"csize", $"n_clusters_of_size",
          ($"csize" * $"n_clusters_of_size").as("n_docs_of_size"),
          $"n_clusters", $"n_clustered",
          ($"n_docs" - $"n_clustered").as("n_singletons"), $"max_size")
        .orderBy($"csize")
    }),

    // ---- quality-aware canonical selection -------------------------------
    // What production dedup actually keeps: the BEST doc per near-dup
    // cluster (max quality, min-id tiebreak), not the arbitrary min-id
    // representative d10 uses — near-dups often differ in boilerplate and
    // truncation, and the pipeline wants the cleanest copy. One join of
    // the component frame against the integer quality scores + a per-
    // component WindowGroupLimit top-1.
    "d19_best_of_cluster" -> ((s, dir) => {
      import s.implicits._
      val comps = graft.ops.Components.connectedComponents(
        sim64Pairs(s, dir), "a_id", "b_id")
      val q = t(s, dir, "documents")
        .select($"doc_id",
          TextOps.qualityScore10k($"text", toks($"text")).as("q10k"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy($"component").orderBy($"q10k".desc, $"doc_id")
      comps.join(q, comps("node") === q("doc_id"))
        .withColumn("__rk", row_number().over(win))
        .filter($"__rk" === 1)
        .select($"component", $"doc_id".as("keep_id"), $"q10k".as("keep_q10k"))
        .orderBy($"component")
    }),

    // ---- the actual dedup: keep one canonical doc per cluster ------------
    // Survivors = docs outside any near-dup cluster + each cluster's
    // representative (min doc_id). This is the operator a training-data
    // pipeline runs: anti-join the corpus against non-canonical members.
    "d10_canonical_docs" -> ((s, dir) => {
      import s.implicits._
      val comps = graft.ops.Components.connectedComponents(
        sim64Pairs(s, dir), "a_id", "b_id")
      val drop = comps.filter($"node" =!= $"component")
        .select($"node".as("doc_id"))
      t(s, dir, "documents").select($"doc_id")
        .join(drop, Seq("doc_id"), "left_anti")
        .orderBy($"doc_id")
    }),

    // ---- Z3: the FULL corpus-curation chain as one gated query -----------
    // quality gate (Gopher rules) → near-dup drop (minhash LSH pairs,
    // greedy-by-id) → decontamination (eval 8-gram overlap) → token-budget
    // packing. Mirrors what z1 does for the reference lifecycle: every
    // individually-green stage is here re-verified THROUGH its seams — a
    // survivor-set error in any stage shifts every later bin assignment.
    // 100 TB shape: ONE corpus checkpoint (signatures, token counts, the
    // quality verdict and the tokens the decontamination stage reads) feeds
    // every stage; the guarded LSH band join; the tiny eval-gram set is a
    // broadcast semi-join; the near-dup drop ids and the contaminated ids
    // are removed by two id-only anti-joins (keyed shuffles of ids, never
    // broadcast — at corpus scale both id sets are large); distributed
    // prefix-sum pack.
    "z3_curate_e2e" -> ((s, dir) => {
      import s.implicits._
      // stage 0: hold out the eval slice (doc_id % 50 == 0); its distinct
      // 8-grams are the contamination reference
      val isEval = $"doc_id" % 50 === 0
      // stage 1: Gopher quality rules (t7's exact conjunction) on the
      // non-eval corpus
      val tk = toks($"text")
      val nw = size(tk).cast("long")
      val alpha = length(regexp_replace($"text", " ", "")).cast("long")
      val nHash = (length($"text") -
        length(regexp_replace($"text", "#", ""))).cast("long")
      val nStop = TextOps.hitCount(tk, TextOps.langWords.flatMap(_._2))
        .cast("long")
      val pass = !isEval && nw >= 50L && nw <= 100000L &&
        alpha >= nw * 3L && alpha <= nw * 10L && nHash * 10L <= nw &&
        nStop >= 2L
      // tokens only where a later stage reads them: quality survivors
      // (decontamination) and the eval slice (the reference grams)
      val docs = corpusSig(s, dir, nw.as("nw"), pass.as("q"),
        when(pass || isEval, tk).as("tokens"))
      val qual = docs.filter($"q")
      // stage 2: near-dup drop — LSH pairs at est ≥ 0.5 restricted to
      // quality survivors; the non-minimal id of each pair is dropped
      // (greedy-by-id, the standard pairwise prune; closure-based variant
      // is d10). Pair generation is per-pair independent, so restricting
      // the full-corpus pair set ≡ pairing the subset.
      val dropNd = lshPairs(docs).filter($"est_jaccard" >= 0.5)
        .join(qual.select($"doc_id".as("a_id")), Seq("a_id"), "left_semi")
        .join(qual.select($"doc_id".as("b_id")), Seq("b_id"), "left_semi")
        .select($"b_id".as("doc_id")).distinct()
      // stage 3: decontamination — drop survivors whose distinct-8-gram
      // overlap with the eval slice exceeds 20% (integer comparison:
      // 5·hits > grams; no float threshold to disagree on). The test is
      // per doc, so it commutes with the near-dup anti-join: it runs on
      // every quality survivor, and no token array crosses a shuffle
      val evalG = docs.filter(isEval)
        .select(explode(array_distinct(
          TextOps.wordNgrams($"tokens", 8))).as("g"))
        .distinct()
      val contaminated = qual
        .filter(size($"tokens") >= 8)
        .select($"doc_id", array_distinct(
          TextOps.wordNgrams($"tokens", 8)).as("gs"))
        .select($"doc_id", size($"gs").as("n_gram"), explode($"gs").as("g"))
        .join(broadcast(evalG), Seq("g"), "left_semi")
        .groupBy($"doc_id", $"n_gram").agg(count(lit(1)).as("n_hit"))
        .filter($"n_hit" * 5L > $"n_gram")
        .select($"doc_id")
      val keep = qual.select($"doc_id", $"nw".as("n_tok"))
        .join(dropNd, Seq("doc_id"), "left_anti")
        .join(contaminated, Seq("doc_id"), "left_anti")
      // stage 4: token-budget packing over the survivors (distributed
      // prefix sum — never a one-task window)
      graft.ops.Ranks.globalCumSum(keep, Seq($"doc_id"), $"n_tok", "cum_tok")
        .select($"doc_id", $"n_tok",
          expr("(cum_tok - n_tok) div 1000").as("bin"),
          (($"cum_tok" - $"n_tok") % 1000L).as("bin_offset"))
        .orderBy($"doc_id")
    }),

    // ---- D12: edit-distance verification on LSH candidates ---------------
    // Fuzzy-match refinement: exact Levenshtein distance (codegen'd
    // builtin, standard unit-cost DP — identical definition in DuckDB) on
    // a fixed 120-char prefix, computed ONLY for high-confidence LSH pairs
    // — the guarded-candidates-then-exact-verify recipe of d6, with edit
    // distance as the verifier. O(len²) per pair is why the candidate set,
    // never the corpus², pays it.
    "d12_edit_distance" -> ((s, dir) => {
      import s.implicits._
      val txt = t(s, dir, "documents")
        .select($"doc_id", substring($"text", 1, 120).as("pfx"))
      // sort BEFORE projecting the O(len²) verifier: a sort's range-
      // partitioning sampling job re-executes its child plan, so a
      // projection under the sort runs TWICE (measured 2× on this stage —
      // PLANS.md round-5). Column pruning still pushes only the prefix
      // columns through the exchange; the DP runs once, post-shuffle.
      lshPairs(corpusSig(s, dir)).filter($"est_jaccard" >= 0.5)
        .join(txt.select($"doc_id".as("a_id"), $"pfx".as("a_pfx")),
          Seq("a_id"))
        .join(txt.select($"doc_id".as("b_id"), $"pfx".as("b_pfx")),
          Seq("b_id"))
        .orderBy($"a_id", $"b_id")
        .select($"a_id", $"b_id",
          levenshtein($"a_pfx", $"b_pfx").cast("long").as("lev"))
    }),

    // ---- exact n-gram Jaccard on high-confidence LSH candidates ----------
    // Refinement step of the minhash pipeline: exact verification runs only
    // on pairs whose estimated Jaccard (signature agreement) clears 0.5 —
    // candidates merely sharing one band would multiply the exact-verify
    // cost ~100× for pairs that can't be near-dups.
    // ---- D20: TF-IDF sparse-cosine near-dup pairs -----------------------
    // The third member of the similarity triad (d6 = set Jaccard, e4 =
    // dense-embedding cosine; this is Salton's sparse vector-space
    // cosine over SHINGLE terms — the SpotSigs-style IR near-dup): docs
    // as TF·IDF vectors over 3-gram terms (n-grams, not unigrams, are
    // the discriminative term space — unigram df on a natural-language
    // corpus is dominated by stopword-scale counts that any useful df
    // cap removes entirely), pairs generated by a TERM-KEYED join — no
    // LSH, no dense vectors. Exactness: weights are exact BIGINTs (tf ·
    // the e3-quantized idf — e3 NOT e6 so Σw² stays int64 to ~9e6
    // terms/doc), dots and norms exact BIGINT sums, cosine one double
    // expression. Fan-out guard: terms with df > cap are dropped from
    // BOTH the pair join and the norms (internal consistency — cosine
    // stays ≤ 1), the g6/t26 policy: high-df terms are near-zero-idf
    // noise AND the quadratic blowup. 100 TB shape: term-keyed join
    // with ≤ cap² fan-out per term; one (d1, d2) agg; norm join per
    // side.
    "d20_tfidf_cosine" -> ((s, dir) => {
      import s.implicits._
      val tf = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", toks($"text").as("tk"))
        .filter(size($"tk") >= TfidfN)
        .select($"doc_id",
          explode(TextOps.wordNgrams($"tk", TfidfN)).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
        .localCheckpoint() // feeds df, norms AND the pair join
      val nDocs = t(s, dir, "documents").agg(count(lit(1)).as("nd"))
      val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
        .filter($"df" <= TfidfDfCap)
      val w = tf.join(df, Seq("tok"))
        .crossJoin(broadcast(nDocs))
        .select($"tok", $"doc_id", ($"tf" *
          round(log($"nd".cast("double") / $"df".cast("double")) * 1e3)
            .cast("long")).as("w"))
        .localCheckpoint() // feeds norms AND both pair sides
      val norms = w.groupBy($"doc_id").agg(sum($"w" * $"w").as("n2"))
      w.as("x").join(w.as("y"),
          col("x.tok") === col("y.tok") &&
            col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .agg(sum(col("x.w") * col("y.w")).as("dot"))
        .join(norms.select($"doc_id".as("a_id"), $"n2".as("na")),
          Seq("a_id"))
        .join(norms.select($"doc_id".as("b_id"), $"n2".as("nb")),
          Seq("b_id"))
        .withColumn("cosine", round($"dot".cast("double") /
          (sqrt($"na".cast("double")) * sqrt($"nb".cast("double"))), 6))
        .filter($"cosine" >= TfidfCosMin)
        .select($"a_id", $"b_id", $"cosine")
        .orderBy($"a_id", $"b_id")
    }),

    "d6_ngram_jaccard" -> ((s, dir) => {
      import s.implicits._
      // one corpus checkpoint feeds the LSH pass AND both gram sides
      val grams = corpusSig(s, dir, gramSet)
      // one projection computes the intersection size, then a scalar-only
      // checkpoint: CollapseProject would otherwise re-inline the expensive
      // array_intersect into every reference (2x per row)
      val sized = lshPairs(grams)
        .filter($"est_jaccard" >= 0.5)
        .join(grams.as("ga"), col("a_id") === col("ga.doc_id"))
        .join(grams.as("gb"), col("b_id") === col("gb.doc_id"))
        .select($"a_id", $"b_id",
          size(array_intersect(col("ga.g"), col("gb.g"))).cast("double").as("__i"),
          size(col("ga.g")).cast("double").as("__na"),
          size(col("gb.g")).cast("double").as("__nb"))
        .localCheckpoint()
      sized.select($"a_id", $"b_id",
          round($"__i" / ($"__na" + $"__nb" - $"__i"), 4).as("jaccard"))
        .orderBy($"a_id", $"b_id")
    }),

    // ---- exact n-gram CONTAINMENT on LSH candidates ----------------------
    // The doc-in-doc dedup signal Jaccard misses: C(A,B) = |A∩B| / |A| is
    // high when A's grams sit inside a larger B even though the union term
    // crushes their Jaccard. Reported both directions as integer ppm (no
    // float division). Candidates come from the same minhash LSH bands —
    // pairs below one shared band are out of recall by design (documented
    // LSH contract); threshold est ≥ 0.25 admits the asymmetric pairs d6's
    // 0.5 gate drops. 100 TB shape identical to d6: checkpointed gram
    // frame, band-blocked candidates, per-pair projections only.
    // ---- d22: dedup threshold sweep (the e17 probe-sweep idea applied
    // to near-dup): for each Jaccard threshold τ, how many candidate
    // pairs VERIFY and how many docs would a greedy keep-lowest-id
    // policy drop? The tuning curve behind "which τ do we dedup at" —
    // computed as DATA, not rerun-per-τ: one LSH candidate pass (the d3
    // generator), ONE exact n-gram verify join, then the τ grid is a
    // 5-row broadcast against the verified frame. The greedy drop count
    // (distinct higher-id docs in passing pairs) upper-bounds the
    // d7-style transitive-closure drop — stated estimator, not a claim
    // of CC equality. 100 TB shape: d13's verify shape + a ≤5-row agg.
    "d22_threshold_sweep" -> ((s, dir) => {
      import s.implicits._
      val exact = jacVerifiedPairs(s, dir)
        .localCheckpoint() // ONE verify pass feeds all five thresholds
      val taus = (5 to 9).map(t => t * 100000L)
      val tauF = broadcast(s.createDataFrame(taus.map(Tuple1(_)))
        .toDF("tau_ppm"))
      tauF.join(exact, $"jac_ppm" >= $"tau_ppm", "left")
        .groupBy($"tau_ppm")
        .agg(count($"a_id").as("n_pairs"),
          countDistinct($"b_id").as("n_docs_dropped"))
        .orderBy($"tau_ppm")
    }),

    // ---- D25: blocking-quality audit (reduction ratio + pairs ----------
    // completeness) — the standard linkage-blocking evaluation (Christen
    // 2012 §7): how much of the quadratic pair space does the d21 gear-
    // chunk blocker PRUNE (rr), and what fraction of true matches does
    // it still COVER (pc)? "True matches" = the SHARED jacVerifiedPairs
    // frame at jac ≥ 0.8 (the d22 grid's knee) — an LSH-verified
    // estimator, stated, not all-pairs ground truth. Candidates = the
    // SHARED fsCandidatePairs frame (d21/z9's exact blocked set, cap
    // included, BEFORE the scoring joins the audit does not need —
    // the audit sees what the linker sees). Both generators
    // emit a_id < b_id, so the hit join is a plain two-key equi-join.
    // Exactness: four BIGINT counts + two exact ppm ratios (total pair
    // space N(N−1) div 2 — exact while N ≲ 4.3e9 docs). 100 TB shape:
    // the two shared passes + ONE join on the (small) truth set + three
    // 1-row broadcasts.
    "d25_blocking_audit" -> ((s, dir) => {
      import s.implicits._
      val truth = jacVerifiedPairs(s, dir)
        .filter($"jac_ppm" >= BlockTauPpm)
        .select($"a_id", $"b_id")
        .localCheckpoint() // feeds the count AND the hit join
      val cand = graft.queries.Curate.fsCandidatePairs(s, dir)
        .select($"a_id", $"b_id")
        .localCheckpoint() // feeds the count AND the hit join
      val nDocs = t(s, dir, "documents").filter(length($"text") >= 1)
        .agg(count(lit(1)).as("n_docs"))
      val nTrue = truth.agg(count(lit(1)).as("n_true"))
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      val nHit = truth.join(cand, Seq("a_id", "b_id"))
        .agg(count(lit(1)).as("n_hit"))
      nDocs.crossJoin(broadcast(nTrue)).crossJoin(broadcast(nCand))
        .crossJoin(broadcast(nHit))
        .selectExpr("n_docs", "n_true", "n_cand", "n_hit",
          "(n_hit * 1000000) div n_true AS pc_ppm",
          "((n_docs * (n_docs - 1) div 2 - n_cand) * 1000000) div " +
            "(n_docs * (n_docs - 1) div 2) AS rr_ppm")
    }),

    "d13_containment" -> ((s, dir) => {
      import s.implicits._
      val grams = corpusSig(s, dir, gramSet)
      val sized = lshPairs(grams)
        .filter($"est_jaccard" >= 0.25)
        .join(grams.as("ga"), col("a_id") === col("ga.doc_id"))
        .join(grams.as("gb"), col("b_id") === col("gb.doc_id"))
        .select($"a_id", $"b_id",
          size(array_intersect(col("ga.g"), col("gb.g"))).cast("long").as("__i"),
          size(col("ga.g")).cast("long").as("__na"),
          size(col("gb.g")).cast("long").as("__nb"))
        .localCheckpoint()
      sized
        .filter($"__na" > 0 && $"__nb" > 0)
        .select($"a_id", $"b_id",
          expr("(__i * 1000000L) div __na").as("c_ab_ppm"),
          expr("(__i * 1000000L) div __nb").as("c_ba_ppm"))
        .orderBy($"a_id", $"b_id")
    }),

    // ---- MinHash estimator calibration ----------------------------------
    // The index-quality gate for the dedup index itself (the e8 treatment
    // for minhash): per 8-slice match count k, how does the estimated
    // Jaccard k/8 track the exact n-gram Jaccard of the candidates it
    // admits? Reports per-k pair count, mean exact ppm and mean absolute
    // estimator error — the table an operator reads before moving the
    // band/threshold knobs. Same 100 TB shape as d6: checkpointed gram
    // frame, band-blocked candidates, per-pair projections only.
    "d17_minhash_calibration" -> ((s, dir) => {
      import s.implicits._
      val grams = corpusSig(s, dir, gramSet)
      val sized = lshPairs(grams)
        .join(grams.as("ga"), col("a_id") === col("ga.doc_id"))
        .join(grams.as("gb"), col("b_id") === col("gb.doc_id"))
        .select(
          // slice-match count back from the exact-eighths estimate
          round($"est_jaccard" * 8).cast("long").as("k"),
          size(array_intersect(col("ga.g"), col("gb.g"))).cast("long")
            .as("__i"),
          size(col("ga.g")).cast("long").as("__na"),
          size(col("gb.g")).cast("long").as("__nb"))
        .localCheckpoint()
      sized.filter($"__na" + $"__nb" - $"__i" > 0)
        .select($"k",
          expr("(__i * 1000000L) div (__na + __nb - __i)").as("jp"),
          ($"k" * 125000L).as("ep"))
        .groupBy($"k")
        .agg(count(lit(1)).as("n_pairs"),
          sum($"jp").as("__sj"), sum(abs($"ep" - $"jp")).as("__sa"))
        .select($"k", ($"k" * 125000L).as("est_ppm"), $"n_pairs",
          round($"__sj".cast("double") / $"n_pairs".cast("double"), 2)
            .as("mean_jac_ppm"),
          round($"__sa".cast("double") / $"n_pairs".cast("double"), 2)
            .as("mae_ppm"))
        .orderBy($"k")
    }),

    // ---- sorted-neighborhood blocking (Hernández & Stolfo 1995, the
    // merge/purge method): sort by a normalized key, slide a fixed window
    // of W ranks, verify neighbors — the classic third blocking paradigm
    // next to LSH bands (d3) and hash chunks (d5/d9), and the one that
    // catches prefix-anchored near-dups LSH can miss at low similarity.
    // Distributed shape: the global sort order comes from the two-pass
    // Ranks primitive (no single-task window), and the window-of-W pairing
    // is an EQUI-join on adjacent rank blocks (block = (rnk-1) div W; any
    // pair within W ranks shares a block or sits in adjacent ones — each
    // unordered pair matches exactly once) — never a range join.
    // Verification is the d12 edit-distance gate on 120-char prefixes. ----
    "d14_sorted_neighborhood" -> ((s, dir) => {
      import s.implicits._
      val keyed = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id",
          substring(lower(regexp_replace($"text", "[^a-zA-Z0-9]", "")), 1, 24)
            .as("k"),
          substring($"text", 1, 120).as("pfx"))
      // feeds both join sides → checkpoint once
      val ranked = graft.ops.Ranks
        .globalRowNumber(keyed, Seq($"k", $"doc_id"), "rnk")
        .select($"doc_id", $"rnk", $"pfx",
          expr(s"(rnk - 1) div $SNM_W").as("blk"))
        .localCheckpoint()
      val right = ranked.select($"doc_id".as("b_doc"), $"rnk".as("b_rnk"),
        $"pfx".as("b_pfx"), explode(array($"blk", $"blk" - 1)).as("blk"))
      ranked.join(right, Seq("blk"))
        .filter(($"b_rnk" - $"rnk").between(1, SNM_W))
        // threshold form = BANDED DP (O(len·k) not O(len²), early-exit on
        // length mismatch): pairs beyond the gate return -1 and drop;
        // survivors carry the exact full distance, so the oracle (full
        // Levenshtein + filter) is unchanged
        .select(least($"doc_id", $"b_doc").as("a_id"),
          greatest($"doc_id", $"b_doc").as("b_id"),
          ($"b_rnk" - $"rnk").as("gap"),
          levenshtein($"pfx", $"b_pfx", SNM_MAX_LEV).cast("long").as("lev"))
        .filter($"lev" >= 0)
        .orderBy($"a_id", $"b_id")
    }),

    // ---- exact set-similarity self-join via PREFIX FILTERING (the
    // AllPairs/PPJoin family, Bayardo/Ma/Srikant 2007): any pair with
    // Jaccard ≥ τ must share at least one of each side's
    // (n − ceil(τ·n) + 1) globally-RAREST grams, so candidates reduce to
    // an equi-join on prefix grams — the canonical EXACT similarity join
    // at scale (zero false negatives, unlike LSH recall contracts).
    // 100 TB shape: gram document-frequency is ONE keyed shuffle (the
    // vocabulary is never broadcast or collected), prefix selection is a
    // per-doc window over the exploded gram frame, the candidate join
    // keys on rarest grams (fan-out bounded by construction — rare means
    // few carriers), and exact verification runs only on candidates. ------
    "d15_prefix_filter_join" -> ((s, dir) => {
      import s.implicits._
      val win = org.apache.spark.sql.expressions.Window
      // distinct gram sets feed the df agg, the prefix explode and both
      // verify sides → checkpoint once
      val grams = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id",
          array_distinct(TextOps.wordNgrams(toks($"text"), NGRAM_N)).as("g"))
        .localCheckpoint()
      val exploded = grams.select($"doc_id", size($"g").cast("long").as("n"),
        explode($"g").as("t"))
      val dfc = exploded.groupBy($"t").agg(count(lit(1)).as("dfc"))
      val prefix = exploded.join(dfc, Seq("t"))
        .withColumn("rn", row_number().over(
          win.partitionBy($"doc_id").orderBy($"dfc", $"t")))
        .filter($"rn" <=
          $"n" - expr(s"($PFJ_NUM * n + ${PFJ_DEN - 1}) div $PFJ_DEN") + 1)
        .select($"doc_id", $"t")
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      // one projection computes the intersection, then a scalar-only
      // checkpoint (CollapseProject re-inlining guard — see d6)
      val sized = cand
        .join(grams.select($"doc_id".as("a_id"), $"g".as("ga")), Seq("a_id"))
        .join(grams.select($"doc_id".as("b_id"), $"g".as("gb")), Seq("b_id"))
        .select($"a_id", $"b_id",
          size(array_intersect($"ga", $"gb")).cast("long").as("inter"),
          (size($"ga") + size($"gb")).cast("long").as("__sum"))
        .localCheckpoint()
      sized.withColumn("uni", $"__sum" - $"inter")
        .filter($"inter" * PFJ_DEN >= $"uni" * PFJ_NUM)
        .select($"a_id", $"b_id", $"inter", $"uni",
          expr("(inter * 1000000) div uni").as("jac_ppm"))
        .orderBy($"a_id", $"b_id")
    }),

    // ---- incremental corpus dedup: the PRODUCTION ingestion shape — a
    // small incoming delta is checked against the already-indexed corpus
    // WITHOUT ever self-joining the corpus. Band signatures of the delta
    // join the corpus band index (delta side broadcast — it's the daily
    // batch, not the warehouse), candidates verify with exact n-gram
    // Jaccard, and each incoming doc gets its keep/drop verdict: candidate
    // count, verified-dup count, best match. 100 TB shape: cost is one
    // scan of the corpus bands + bounded candidate verification; the
    // hot-band cap bounds degenerate bands exactly as in d3. --------------
    "d16_incremental_dedup" -> ((s, dir) => {
      import s.implicits._
      // the SHARED delta-probes-index primitives (bandsOfDocs / gramsOfDocs
      // / dedupReport) — also the body of the streaming twin
      // [[graft.streaming.StreamJob.incrementalDedupSink]], so stream ≡
      // batch is definitional, not coincidental
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val bands = graft.ops.Buckets.capMembers(bandsOfDocs(docs),
          Seq(col("band"), col("bv")), label = "incremental_dedup")
        .localCheckpoint() // one minhash + cap-window pass, both sides read it
      val newBands = bands.filter($"doc_id" % INC_MOD === 0)
        .select($"doc_id".as("new_id"), $"band", $"bv")
      val oldBands = bands.filter($"doc_id" % INC_MOD =!= 0)
        .select($"doc_id".as("old_id"), $"band", $"bv")
      val grams = gramsOfDocs(docs).localCheckpoint() // both verify sides
      dedupReport(
        t(s, dir, "documents").filter($"doc_id" % INC_MOD === 0)
          .select($"doc_id".as("new_id")),
        newBands, oldBands,
        grams.select($"doc_id".as("new_id"), $"g".as("gn")),
        grams.select($"doc_id".as("old_id"), $"g".as("go")))
    }),

    // ---- corpus-internal exact substring duplication (Lee et al. 2021,
    // "Deduplicating Training Data Makes Language Models Better": flag
    // text spans that occur verbatim in MORE THAN ONE document). Spark
    // shape: per-doc DISTINCT n-grams keyed by their md5 (fixed-width key
    // — the shuffle never carries raw span text), one gram-keyed groupBy
    // to find grams with ≥2 carriers, and a semi-join back (same key, AQE
    // reuses the exchange — the dup side is corpus-sized, NOT broadcast).
    // Output: per-doc duplicated-span count + fraction, the signal the
    // pipeline thresholds on. ----------------------------------------------
    "d11_substring_dup" -> ((s, dir) => {
      import s.implicits._
      // gram frame feeds the dup-gram agg AND the per-doc join → checkpoint
      val grams = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", toks($"text").as("toks"))
        .filter(size($"toks") >= NGRAM_N)
        .select($"doc_id",
          array_distinct(TextOps.wordNgrams($"toks", NGRAM_N)).as("gs"))
        .select($"doc_id", size($"gs").cast("long").as("n_gram"),
          explode($"gs").as("g"))
        .select($"doc_id", $"n_gram", md5($"g").as("h"))
        .localCheckpoint()
      val dup = grams.groupBy($"h").agg(count(lit(1)).as("__nd"))
        .filter($"__nd" >= 2).select($"h")
      grams.join(dup, Seq("h"), "left_semi")
        .groupBy($"doc_id", $"n_gram")
        .agg(count(lit(1)).as("n_dup"))
        .select($"doc_id", $"n_dup",
          round($"n_dup".cast("double") / $"n_gram", 4).as("dup_frac"))
        .orderBy($"doc_id")
    }),

    // ---- quality-weighted corpus resampling: keep each document with
    // probability equal to its quality score (the importance-resampling
    // shape behind DSIR-style data selection — select up-weighted data
    // without materializing weights corpus-wide). Keyed-LCG determinism:
    // the SAME sample on any cluster size, partitioning, or retry. Pure
    // per-row projection + filter — a linear scan at 100 TB, no shuffle
    // before the presentation sort. Quality is rounded to 4dp on BOTH
    // engines before the comparison so an ULP difference can never flip
    // a boundary row. -----------------------------------------------------
    "p14_weighted_sample" -> ((s, dir) => {
      import s.implicits._
      val q = round(TextOps.qualityScore($"text", toks($"text")), 4)
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", q.as("quality"),
          Det.frac($"doc_id", 99L).as("__u"))
        .filter($"__u" < $"quality")
        .select($"doc_id", $"quality")
        .orderBy($"doc_id")
    }))

  /** Shared by d9 (pair list) and d7 (components): 8-chunk-blocked 64-bit
    * simhash near-dup pairs, hamming ≤ 7, distinct, unordered. */
  private def sim64Pairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sim = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id",
        graft.expressions.Simhash64Expr.simhash64(toks($"text")).as("sim"))
      .localCheckpoint()
    val chunks = graft.ops.Buckets.capMembers(
      sim.select($"doc_id", $"sim", posexplode(array(
        (0 until 8).map(c => shiftright($"sim", 8 * c).bitwiseAND(255)): _*))
        .as(Seq("chunk", "cv"))),
      Seq(col("chunk"), col("cv")), label = "simhash64")
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.cv") === col("y.cv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).as("hamming"))
      .filter($"hamming" <= 7)
      .distinct()
  }

  /** CTE body producing `pairs64` — the d9 pair set, shared by the d9 and
    * d7 oracles (composed under WITH / WITH RECURSIVE). `sim` is
    * MATERIALIZED (here and in d5): DuckDB otherwise inlines it into every
    * reference (both chunk sides, each `pairs64` reader of the recursive
    * closure) and re-hashes the corpus each time. */
  private def sim64PairsCte: String =
    s"""sim AS MATERIALIZED (
       |  SELECT doc_id, CAST($sim64Sql AS BIGINT) AS sim
       |  FROM $digestsSql),
       |chunks AS (
       |  SELECT doc_id, sim, c AS chunk, (sim >> (8 * c)) & 255 AS cv
       |  FROM sim, (VALUES (0), (1), (2), (3), (4), (5), (6), (7)) t(c)),
       |pairs64 AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
       |    CAST(bit_count(xor(x.sim, y.sim)) AS INTEGER) AS hamming
       |  FROM chunks x JOIN chunks y
       |    ON x.chunk = y.chunk AND x.cv = y.cv AND x.doc_id < y.doc_id
       |  WHERE bit_count(xor(x.sim, y.sim)) <= 7)""".stripMargin

  /** `documents` as (doc_id, dg): each token's md5 hex digest, computed
    * once here — the simhash bit terms below read `dg` 16 or 64 times. */
  private val digestsSql: String =
    s"""(SELECT doc_id, list_transform(tokens, t -> md5(t)) AS dg
       |  FROM (SELECT doc_id, $tokensSqlExpr AS tokens FROM documents))""".stripMargin

  private val sim64Sql = graft.expressions.Simhash64Expr.simhash64Sql("dg")

  /** The d4/d5 16-bit simhash over `dg` (TextOps.simhash16's bit order). */
  private val sim16Sql: String = (1 to 16).map { j =>
    s"""(CASE WHEN list_sum(list_transform(dg,
       |  d -> CASE WHEN substr(d, $j, 1) >= '8' THEN 1 ELSE -1 END))
       |  > 0 THEN ${1L << (j - 1)} ELSE 0 END)""".stripMargin
  }.mkString("(", " + ", ")")

  def oracles: Map[String, String] = {
    val langCases = TextOps.langWords.map { case (l, ws) =>
      val set = ws.map(w => s"'$w'").mkString(", ")
      l -> s"len(list_filter(tokens, x -> x IN ($set)))"
    }
    val best = langCases.map(_._2).mkString("greatest(", ", ", ")")
    val langCase = langCases.map { case (l, e) => s"WHEN $e = $best THEN '$l'" }
      .mkString(s"CASE WHEN $best = 0 THEN 'und' ", " ", " END")
    val allStop = TextOps.langWords.flatMap(_._2).map(w => s"'$w'").mkString(", ")

    Map(
      "t1_lang_id" ->
        s"""SELECT doc_id, $langCase AS lang_pred
           |FROM (SELECT doc_id, $tokensSqlExpr AS tokens FROM documents)
           |ORDER BY doc_id""".stripMargin,

      "t19_langid_eval" ->
        s"""SELECT lang, $langCase AS lang_pred,
           |  CAST(count(*) AS BIGINT) AS n
           |FROM (SELECT lang, $tokensSqlExpr AS tokens FROM documents)
           |GROUP BY 1, 2 ORDER BY lang, lang_pred""".stripMargin,

      "d20_tfidf_cosine" ->
        s"""WITH tk AS (
           |  SELECT doc_id, $tokensSqlExpr AS tk FROM documents),
           |tf AS (
           |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           |  FROM (
           |    SELECT doc_id, unnest(list_transform(
           |      generate_series(1, len(tk) - ${TfidfN - 1}),
           |      i -> array_to_string(list_slice(tk, i, i + ${TfidfN - 1}),
           |        ' '))) AS tok
           |    FROM tk WHERE len(tk) >= $TfidfN)
           |  GROUP BY doc_id, tok),
           |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
           |df AS (
           |  SELECT tok, CAST(count(*) AS BIGINT) AS df
           |  FROM tf GROUP BY tok HAVING count(*) <= $TfidfDfCap),
           |w AS (
           |  SELECT tf.tok, tf.doc_id,
           |    tf.tf * CAST(round(ln(CAST(nd AS DOUBLE)
           |      / CAST(df.df AS DOUBLE)) * 1e3) AS BIGINT) AS w
           |  FROM tf JOIN df USING (tok) CROSS JOIN nd),
           |norms AS (
           |  SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
           |  FROM w GROUP BY doc_id),
           |dots AS (
           |  SELECT x.doc_id AS a_id, y.doc_id AS b_id,
           |    CAST(sum(x.w * y.w) AS BIGINT) AS dot
           |  FROM w x JOIN w y
           |    ON x.tok = y.tok AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2),
           |cs AS (
           |  SELECT a_id, b_id,
           |    round(CAST(dot AS DOUBLE)
           |      / (sqrt(CAST(na.n2 AS DOUBLE))
           |        * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cosine
           |  FROM dots
           |    JOIN norms na ON na.doc_id = dots.a_id
           |    JOIN norms nb ON nb.doc_id = dots.b_id)
           |SELECT a_id, b_id, cosine FROM cs
           |WHERE cosine >= $TfidfCosMin
           |ORDER BY a_id, b_id""".stripMargin,

      "a58_langid_kappa" ->
        s"""WITH conf AS (
           |  SELECT lang, $langCase AS lang_pred,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM (SELECT lang, $tokensSqlExpr AS tokens FROM documents)
           |  GROUP BY 1, 2),
           |tot AS (
           |  SELECT CAST(sum(n) AS BIGINT) AS nn,
           |    CAST(sum(CASE WHEN lang = lang_pred THEN n ELSE 0 END)
           |      AS BIGINT) AS agree
           |  FROM conf),
           |pe AS (
           |  SELECT CAST(sum(rm * cm) AS BIGINT) AS pe_num FROM
           |    (SELECT lang, CAST(sum(n) AS BIGINT) AS rm
           |     FROM conf GROUP BY lang) r
           |  JOIN
           |    (SELECT lang_pred, CAST(sum(n) AS BIGINT) AS cm
           |     FROM conf GROUP BY lang_pred) c
           |  ON r.lang = c.lang_pred)
           |SELECT nn AS n_docs, agree,
           |  round(CAST(agree * nn - pe_num AS DOUBLE)
           |    / CAST(nn * nn - pe_num AS DOUBLE), 6) AS kappa
           |FROM tot CROSS JOIN pe""".stripMargin,

      "t2_quality_score" ->
        s"""SELECT doc_id,
           |  ${TextOps.qualityScoreSql("text", tokensSqlExpr, allStop)} AS quality
           |FROM documents ORDER BY doc_id""".stripMargin,

      "t20_corpus_report" ->
        s"""WITH d AS (
           |  SELECT source, text, $tokensSqlExpr AS tokens, md5(text) AS h
           |  FROM documents),
           |hc AS (SELECT h, count(*) AS hc FROM d GROUP BY h)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(CASE WHEN hc >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_dup_docs,
           |  round(CAST(sum(len(tokens)) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE), 2) AS mean_tokens,
           |  round(CAST(sum(${TextOps.qualityScore10kSql("text", "tokens",
                 allStop)}) AS DOUBLE)
           |    / (CAST(count(*) AS DOUBLE) * 10000.0), 6) AS mean_quality
           |FROM d JOIN hc USING (h) GROUP BY source
           |ORDER BY source""".stripMargin,

      "t3_token_counts" ->
        s"""SELECT doc_id, CAST(len($tokensSqlExpr) AS INTEGER) AS n_ws_tokens,
           |  CAST(ceil(CAST(len(text) AS DOUBLE) / 4.0) AS BIGINT) AS n_bpe_est
           |FROM documents ORDER BY doc_id""".stripMargin,

      "t46_fertility" ->
        s"""WITH d AS (
           |  SELECT lang, CAST(len(text) AS BIGINT) AS nc,
           |    CAST(len($tokensSqlExpr) AS BIGINT) AS nw,
           |    CAST(ceil(CAST(len(text) AS DOUBLE) / 4.0) AS BIGINT) AS nb
           |  FROM documents),
           |g AS (
           |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(nc) AS BIGINT) AS n_chars,
           |    CAST(sum(nw) AS BIGINT) AS n_ws_tokens,
           |    CAST(sum(nb) AS BIGINT) AS n_bpe_est
           |  FROM d WHERE nw > 0 GROUP BY 1)
           |SELECT lang, n_docs, n_ws_tokens, n_bpe_est,
           |  (n_chars * 1000000) // n_ws_tokens AS chars_per_word_ppm,
           |  (n_bpe_est * 1000000) // n_ws_tokens AS fertility_ppm,
           |  (n_ws_tokens * 1000000) // n_docs AS words_per_doc_ppm
           |FROM g ORDER BY lang""".stripMargin,

      "t4_fingerprint" ->
        s"""SELECT doc_id,
           |  md5(array_to_string(list_sort(list_distinct($tokensSqlExpr)), ' '))
           |    AS fp
           |FROM documents ORDER BY doc_id""".stripMargin,

      "t5_redact" ->
        """SELECT doc_id,
          |  regexp_replace(
          |    regexp_replace(
          |      text || ' contact user' || CAST(doc_id AS VARCHAR)
          |        || '@example.com or call 555123456789',
          |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    '[0-9]{6,}', '<NUM>', 'g') AS redacted
          |FROM documents ORDER BY doc_id""".stripMargin,

      "d1_exact_dedup" ->
        """SELECT md5(text) AS text_hash, count(*) AS cnt,
          |  min(doc_id) AS keep_id
          |FROM documents GROUP BY md5(text) HAVING count(*) > 1
          |ORDER BY text_hash""".stripMargin,

      "d2_minhash_sig" ->
        s"""WITH $sigSql
           |SELECT * FROM sig ORDER BY doc_id""".stripMargin,

      "d3_minhash_lsh_pairs" ->
        s"""WITH $lshPairsSql
           |SELECT a_id, b_id, est_jaccard FROM pairs
           |ORDER BY a_id, b_id""".stripMargin,

      "d18_cap_report" ->
        s"""WITH $sigSql,
           |bands AS (
           |  SELECT doc_id, b AS band,
           |    CASE b WHEN 0 THEN s0 || s1 WHEN 1 THEN s2 || s3
           |           WHEN 2 THEN s4 || s5 ELSE s6 || s7 END AS bv
           |  FROM sig, (VALUES (0), (1), (2), (3)) t(b)),
           |bs AS (
           |  SELECT band, bv, CAST(count(*) AS BIGINT) AS bsz
           |  FROM bands GROUP BY band, bv)
           |SELECT count(*) AS n_buckets,
           |  CAST(sum(CASE WHEN bsz > $CapReportCap THEN 1 ELSE 0 END)
           |    AS BIGINT) AS over_cap_buckets,
           |  CAST(sum(bsz) AS BIGINT) AS member_rows,
           |  CAST(sum(CASE WHEN bsz > $CapReportCap THEN bsz ELSE 0 END)
           |    AS BIGINT) AS dropped_rows,
           |  max(bsz) AS max_bucket
           |FROM bs""".stripMargin,

      "d4_simhash" ->
        s"""SELECT doc_id, CAST($sim16Sql AS BIGINT) AS sim
           |FROM $digestsSql
           |ORDER BY doc_id""".stripMargin,

      "d5_simhash_pairs" ->
        s"""WITH sim AS MATERIALIZED (
           |  SELECT doc_id, CAST($sim16Sql AS BIGINT) AS sim
           |  FROM $digestsSql),
           |chunks AS (
           |  SELECT doc_id, sim, c AS chunk,
           |    (sim >> (4 * c)) & 15 AS cv
           |  FROM sim, (VALUES (0), (1), (2), (3)) t(c))
           |SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
           |  CAST(bit_count(xor(x.sim, y.sim)) AS INTEGER) AS hamming
           |FROM chunks x JOIN chunks y
           |  ON x.chunk = y.chunk AND x.cv = y.cv AND x.doc_id < y.doc_id
           |WHERE bit_count(xor(x.sim, y.sim)) <= 3
           |ORDER BY a_id, b_id""".stripMargin,

      "d8_simhash64" ->
        s"""SELECT doc_id, CAST($sim64Sql AS BIGINT) AS sim64
           |FROM $digestsSql
           |ORDER BY doc_id""".stripMargin,

      "d9_simhash64_pairs" ->
        s"""WITH $sim64PairsCte
           |SELECT a_id, b_id, hamming FROM pairs64
           |ORDER BY a_id, b_id""".stripMargin,

      "d7_dedup_components" ->
        s"""WITH RECURSIVE $sim64PairsCte,
           |sym AS (
           |  SELECT a_id AS src, b_id AS dst FROM pairs64
           |  UNION SELECT b_id, a_id FROM pairs64),
           |reach(src, dst) AS (
           |  SELECT src, dst FROM sym
           |  UNION SELECT src, src FROM sym
           |  UNION SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
           |SELECT src AS doc_id, min(dst) AS component
           |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

      "d26_cluster_profile" ->
        s"""WITH RECURSIVE $sim64PairsCte,
           |sym AS (
           |  SELECT a_id AS src, b_id AS dst FROM pairs64
           |  UNION SELECT b_id, a_id FROM pairs64),
           |reach(src, dst) AS (
           |  SELECT src, dst FROM sym
           |  UNION SELECT src, src FROM sym
           |  UNION SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
           |comp AS (
           |  SELECT src AS doc_id, min(dst) AS component
           |  FROM reach GROUP BY src),
           |sizes AS (
           |  SELECT component, CAST(count(*) AS BIGINT) AS csize
           |  FROM comp GROUP BY component),
           |tot AS (
           |  SELECT CAST(sum(csize) AS BIGINT) AS n_clustered,
           |    CAST(count(*) AS BIGINT) AS n_clusters,
           |    CAST(max(csize) AS BIGINT) AS max_size
           |  FROM sizes),
           |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
           |SELECT s.csize, CAST(count(*) AS BIGINT) AS n_clusters_of_size,
           |  s.csize * CAST(count(*) AS BIGINT) AS n_docs_of_size,
           |  any_value(t.n_clusters) AS n_clusters,
           |  any_value(t.n_clustered) AS n_clustered,
           |  any_value(nd.n_docs) - any_value(t.n_clustered)
           |    AS n_singletons,
           |  any_value(t.max_size) AS max_size
           |FROM sizes s CROSS JOIN tot t CROSS JOIN nd
           |GROUP BY s.csize ORDER BY s.csize""".stripMargin,

      "d19_best_of_cluster" -> {
        val allStop = TextOps.langWords.flatMap(_._2)
          .map(w => s"'$w'").mkString(", ")
        s"""WITH RECURSIVE $sim64PairsCte,
           |sym AS (
           |  SELECT a_id AS src, b_id AS dst FROM pairs64
           |  UNION SELECT b_id, a_id FROM pairs64),
           |reach(src, dst) AS (
           |  SELECT src, dst FROM sym
           |  UNION SELECT src, src FROM sym
           |  UNION SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
           |comp AS (
           |  SELECT src AS doc_id, min(dst) AS component
           |  FROM reach GROUP BY src),
           |q AS (
           |  SELECT doc_id,
           |    CAST(${TextOps.qualityScore10kSql("text", "tokens", "__ALLSTOP__")}
           |      AS BIGINT) AS q10k
           |  FROM (SELECT doc_id, text, $tokensSqlExpr AS tokens
           |        FROM documents))
           |SELECT component, doc_id AS keep_id, q10k AS keep_q10k FROM (
           |  SELECT c.component, c.doc_id, q.q10k, row_number() OVER
           |    (PARTITION BY c.component ORDER BY q.q10k DESC, c.doc_id)
           |    AS rk
           |  FROM comp c JOIN q ON c.doc_id = q.doc_id)
           |WHERE rk = 1 ORDER BY component""".stripMargin
          .replace("__ALLSTOP__", allStop)
      },

      "d10_canonical_docs" ->
        s"""WITH RECURSIVE $sim64PairsCte,
           |sym AS (
           |  SELECT a_id AS src, b_id AS dst FROM pairs64
           |  UNION SELECT b_id, a_id FROM pairs64),
           |reach(src, dst) AS (
           |  SELECT src, dst FROM sym
           |  UNION SELECT src, src FROM sym
           |  UNION SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
           |comp AS (
           |  SELECT src AS doc_id, min(dst) AS component
           |  FROM reach GROUP BY src)
           |SELECT doc_id FROM documents
           |WHERE doc_id NOT IN (
           |  SELECT doc_id FROM comp WHERE doc_id <> component)
           |ORDER BY doc_id""".stripMargin,

      "z3_curate_e2e" -> {
        val allStop = TextOps.langWords.flatMap(_._2)
          .map(w => s"'$w'").mkString(", ")
        s"""WITH $lshPairsSql,
           |corpus AS (
           |  SELECT doc_id, text, $tokensSqlExpr AS tokens FROM documents
           |  WHERE doc_id % 50 <> 0),
           |qual AS (
           |  SELECT doc_id, tokens, nw
           |  FROM (
           |    SELECT doc_id, tokens,
           |      CAST(len(tokens) AS BIGINT) AS nw,
           |      CAST(len(replace(text, ' ', '')) AS BIGINT) AS alpha,
           |      CAST(len(text) - len(replace(text, '#', '')) AS BIGINT)
           |        AS nhash,
           |      CAST(len(list_filter(tokens, x -> x IN ($allStop)))
           |        AS BIGINT) AS nstop
           |    FROM corpus)
           |  WHERE nw >= 50 AND nw <= 100000
           |    AND alpha >= nw * 3 AND alpha <= nw * 10
           |    AND nhash * 10 <= nw AND nstop >= 2),
           |dropnd AS (
           |  SELECT DISTINCT b_id AS doc_id FROM pairs
           |  WHERE est_jaccard >= 0.5
           |    AND a_id IN (SELECT doc_id FROM qual)
           |    AND b_id IN (SELECT doc_id FROM qual)),
           |nd AS (
           |  SELECT doc_id, tokens, nw FROM qual
           |  WHERE doc_id NOT IN (SELECT doc_id FROM dropnd)),
           |evalg AS (
           |  SELECT DISTINCT unnest(gs) AS g FROM (
           |    SELECT list_distinct(list_transform(
           |      generate_series(0, greatest(len($tokensSqlExpr) - 8, 0)),
           |      i -> array_to_string(
           |        list_slice($tokensSqlExpr, i + 1, i + 8), ' '))) AS gs
           |    FROM documents
           |    WHERE doc_id % 50 = 0 AND len($tokensSqlExpr) >= 8)),
           |contaminated AS (
           |  SELECT doc_id FROM (
           |    SELECT doc_id, n_gram, count(*) AS n_hit FROM (
           |      SELECT doc_id, len(gs) AS n_gram, unnest(gs) AS tg FROM (
           |        SELECT doc_id, list_distinct(list_transform(
           |          generate_series(0, greatest(len(tokens) - 8, 0)),
           |          i -> array_to_string(
           |            list_slice(tokens, i + 1, i + 8), ' '))) AS gs
           |        FROM nd WHERE len(tokens) >= 8))
           |    WHERE tg IN (SELECT g FROM evalg)
           |    GROUP BY doc_id, n_gram)
           |  WHERE n_hit * 5 > n_gram),
           |keep AS (
           |  SELECT doc_id, nw AS n_tok FROM nd
           |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
           |packed AS (
           |  SELECT doc_id, n_tok,
           |    sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
           |      AS cum_tok
           |  FROM keep)
           |SELECT doc_id, n_tok,
           |  CAST((cum_tok - n_tok) // 1000 AS BIGINT) AS bin,
           |  CAST((cum_tok - n_tok) % 1000 AS BIGINT) AS bin_offset
           |FROM packed ORDER BY doc_id""".stripMargin
      },

      "d12_edit_distance" ->
        s"""WITH $lshPairsSql,
           |txt AS (SELECT doc_id, substr(text, 1, 120) AS pfx
           |        FROM documents)
           |SELECT a_id, b_id,
           |  CAST(levenshtein(ta.pfx, tb.pfx) AS BIGINT) AS lev
           |FROM pairs
           |  JOIN txt ta ON a_id = ta.doc_id
           |  JOIN txt tb ON b_id = tb.doc_id
           |WHERE est_jaccard >= 0.5
           |ORDER BY a_id, b_id""".stripMargin,

      "d6_ngram_jaccard" ->
        s"""WITH $lshPairsSql,
           |grams AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(0, greatest(len(tokens) - $NGRAM_N, 0)),
           |    i -> array_to_string(list_slice(tokens, i + 1, i + $NGRAM_N), ' ')))
           |    AS g
           |  FROM (SELECT doc_id, $tokensSqlExpr AS tokens FROM documents))
           |SELECT a_id, b_id,
           |  round(CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE) /
           |    CAST(len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))
           |      AS DOUBLE), 4) AS jaccard
           |FROM pairs JOIN grams ga ON a_id = ga.doc_id
           |           JOIN grams gb ON b_id = gb.doc_id
           |WHERE est_jaccard >= 0.5
           |ORDER BY a_id, b_id""".stripMargin,

      "d13_containment" ->
        s"""WITH $lshPairsSql,
           |grams AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(0, greatest(len(tokens) - $NGRAM_N, 0)),
           |    i -> array_to_string(list_slice(tokens, i + 1, i + $NGRAM_N), ' ')))
           |    AS g
           |  FROM (SELECT doc_id, $tokensSqlExpr AS tokens FROM documents))
           |SELECT a_id, b_id,
           |  (CAST(len(list_intersect(ga.g, gb.g)) AS BIGINT) * 1000000)
           |    // len(ga.g) AS c_ab_ppm,
           |  (CAST(len(list_intersect(ga.g, gb.g)) AS BIGINT) * 1000000)
           |    // len(gb.g) AS c_ba_ppm
           |FROM pairs JOIN grams ga ON a_id = ga.doc_id
           |           JOIN grams gb ON b_id = gb.doc_id
           |WHERE est_jaccard >= 0.25 AND len(ga.g) > 0 AND len(gb.g) > 0
           |ORDER BY a_id, b_id""".stripMargin,

      "d17_minhash_calibration" ->
        s"""WITH $lshPairsSql,
           |grams AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(0, greatest(len(tokens) - $NGRAM_N, 0)),
           |    i -> array_to_string(list_slice(tokens, i + 1, i + $NGRAM_N), ' ')))
           |    AS g
           |  FROM (SELECT doc_id, $tokensSqlExpr AS tokens FROM documents)),
           |pp AS (
           |  SELECT CAST(round(est_jaccard * 8) AS BIGINT) AS k,
           |    (CAST(len(list_intersect(ga.g, gb.g)) AS BIGINT) * 1000000)
           |      // (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)))
           |      AS jp
           |  FROM pairs JOIN grams ga ON a_id = ga.doc_id
           |             JOIN grams gb ON b_id = gb.doc_id
           |  WHERE len(ga.g) + len(gb.g)
           |      - len(list_intersect(ga.g, gb.g)) > 0)
           |SELECT k, k * 125000 AS est_ppm,
           |  CAST(count(*) AS BIGINT) AS n_pairs,
           |  round(CAST(sum(jp) AS DOUBLE) / CAST(count(*) AS DOUBLE), 2)
           |    AS mean_jac_ppm,
           |  round(CAST(sum(abs(k * 125000 - jp)) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE), 2) AS mae_ppm
           |FROM pp GROUP BY k ORDER BY k""".stripMargin,

      "d11_substring_dup" ->
        s"""WITH toks AS (
           |  SELECT doc_id, $tokensSqlExpr AS tokens FROM documents),
           |g AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(0, len(tokens) - $NGRAM_N),
           |    i -> array_to_string(list_slice(tokens, i + 1, i + $NGRAM_N),
           |      ' '))) AS gs
           |  FROM toks WHERE len(tokens) >= $NGRAM_N),
           |e AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_gram,
           |        md5(unnest(gs)) AS h FROM g),
           |d AS (SELECT h FROM e GROUP BY h HAVING count(*) >= 2)
           |SELECT doc_id, count(*) AS n_dup,
           |  round(CAST(count(*) AS DOUBLE) / n_gram, 4) AS dup_frac
           |FROM e WHERE h IN (SELECT h FROM d)
           |GROUP BY doc_id, n_gram ORDER BY doc_id""".stripMargin,

      "p14_weighted_sample" -> {
        val q = s"round(${TextOps.qualityScoreSql("text", tokensSqlExpr, allStop)}, 4)"
        s"""SELECT doc_id, $q AS quality
           |FROM documents
           |WHERE ${Det.fracSql("doc_id", 99L)} < $q
           |ORDER BY doc_id""".stripMargin
      },

      "d14_sorted_neighborhood" ->
        s"""WITH keyed AS (
           |  SELECT doc_id,
           |    substr(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')),
           |      1, 24) AS k,
           |    substr(text, 1, 120) AS pfx
           |  FROM documents),
           |ranked AS (
           |  SELECT doc_id, pfx,
           |    row_number() OVER (ORDER BY k, doc_id) AS rnk
           |  FROM keyed)
           |SELECT least(a.doc_id, b.doc_id) AS a_id,
           |  greatest(a.doc_id, b.doc_id) AS b_id,
           |  b.rnk - a.rnk AS gap,
           |  CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS lev
           |FROM ranked a JOIN ranked b
           |  ON b.rnk - a.rnk BETWEEN 1 AND $SNM_W
           |WHERE levenshtein(a.pfx, b.pfx) <= $SNM_MAX_LEV
           |ORDER BY a_id, b_id""".stripMargin,

      "d15_prefix_filter_join" ->
        s"""WITH tok AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(0, greatest(len(tokens) - $NGRAM_N, 0)),
           |    i -> array_to_string(list_slice(tokens, i + 1, i + $NGRAM_N),
           |      ' '))) AS ts
           |  FROM (SELECT doc_id, $tokensSqlExpr AS tokens FROM documents)),
           |df AS (
           |  SELECT t AS tok, count(*) AS dfc
           |  FROM (SELECT unnest(ts) AS t, doc_id FROM tok) GROUP BY t),
           |ordered AS (
           |  SELECT doc_id, array_agg(t ORDER BY dfc, t) AS sorted_ts,
           |    count(*) AS n
           |  FROM (SELECT doc_id, unnest(ts) AS t FROM tok) u
           |  JOIN df ON u.t = df.tok
           |  GROUP BY doc_id),
           |pfx AS (
           |  SELECT doc_id, list_slice(sorted_ts, 1,
           |    n - (($PFJ_NUM * n + ${PFJ_DEN - 1}) // $PFJ_DEN) + 1) AS p
           |  FROM ordered),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM (SELECT doc_id, unnest(p) AS t FROM pfx) a
           |  JOIN (SELECT doc_id, unnest(p) AS t FROM pfx) b
           |    ON a.t = b.t AND a.doc_id < b.doc_id),
           |verified AS (
           |  SELECT a_id, b_id,
           |    CAST(len(list_intersect(ta.ts, tb.ts)) AS BIGINT) AS inter,
           |    CAST(len(ta.ts) + len(tb.ts)
           |      - len(list_intersect(ta.ts, tb.ts)) AS BIGINT) AS uni
           |  FROM cand JOIN tok ta ON a_id = ta.doc_id
           |            JOIN tok tb ON b_id = tb.doc_id)
           |SELECT a_id, b_id, inter, uni, (inter * 1000000) // uni AS jac_ppm
           |FROM verified WHERE inter * $PFJ_DEN >= uni * $PFJ_NUM
           |ORDER BY a_id, b_id""".stripMargin,

      "d22_threshold_sweep" ->
        s"""WITH $jacVerifiedSql
           |SELECT CAST(t.tau_ppm AS BIGINT) AS tau_ppm,
           |  CAST(count(ver.a_id) AS BIGINT) AS n_pairs,
           |  CAST(count(DISTINCT ver.b_id) AS BIGINT) AS n_docs_dropped
           |FROM (VALUES (500000), (600000), (700000), (800000), (900000))
           |  t(tau_ppm)
           |LEFT JOIN ver ON ver.jac_ppm >= t.tau_ppm
           |GROUP BY t.tau_ppm ORDER BY t.tau_ppm""".stripMargin,

      // nested WITHs keep the two shared prefixes' CTE namespaces apart
      // (both define a `pairs` CTE); each is reused VERBATIM
      "d25_blocking_audit" ->
        s"""WITH truth AS (
           |  WITH $jacVerifiedSql
           |  SELECT a_id, b_id FROM ver WHERE jac_ppm >= $BlockTauPpm),
           |cand AS (
           |  WITH ${graft.queries.Curate.fsPairsOracleCtes}
           |  SELECT a_id, b_id FROM pairs),
           |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
           |       FROM documents WHERE len(text) >= 1),
           |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
           |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
           |nh AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
           |       FROM truth JOIN cand USING (a_id, b_id))
           |SELECT n_docs, n_true, n_cand, n_hit,
           |  (n_hit * 1000000) // n_true AS pc_ppm,
           |  ((n_docs * (n_docs - 1) // 2 - n_cand) * 1000000) //
           |    (n_docs * (n_docs - 1) // 2) AS rr_ppm
           |FROM nd CROSS JOIN nt CROSS JOIN nc CROSS JOIN nh""".stripMargin,

      "d16_incremental_dedup" ->
        s"""WITH $sigSql,
           |bands AS (
           |  SELECT doc_id, b AS band,
           |    CASE b WHEN 0 THEN s0 || s1 WHEN 1 THEN s2 || s3
           |           WHEN 2 THEN s4 || s5 ELSE s6 || s7 END AS bv
           |  FROM sig, (VALUES (0), (1), (2), (3)) t(b)),
           |cand AS (
           |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
           |  FROM bands n JOIN bands o ON n.band = o.band AND n.bv = o.bv
           |  WHERE n.doc_id % $INC_MOD = 0 AND o.doc_id % $INC_MOD != 0),
           |tok AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(0, greatest(len(tokens) - $NGRAM_N, 0)),
           |    i -> array_to_string(list_slice(tokens, i + 1, i + $NGRAM_N),
           |      ' '))) AS ts
           |  FROM (SELECT doc_id, $tokensSqlExpr AS tokens FROM documents)),
           |ver AS (
           |  SELECT new_id, old_id,
           |    CAST(len(list_intersect(tn.ts, tb.ts)) AS BIGINT) AS inter,
           |    CAST(len(tn.ts) + len(tb.ts)
           |      - len(list_intersect(tn.ts, tb.ts)) AS BIGINT) AS uni
           |  FROM cand JOIN tok tn ON new_id = tn.doc_id
           |            JOIN tok tb ON old_id = tb.doc_id),
           |dups AS (
           |  SELECT new_id, old_id, (inter * 1000000) // uni AS jac_ppm
           |  FROM ver WHERE 2 * inter >= uni),
           |cc AS (SELECT new_id, count(*) AS n_cand FROM cand GROUP BY new_id),
           |dc AS (SELECT new_id, count(*) AS n_dup FROM dups GROUP BY new_id),
           |best AS (
           |  SELECT new_id, old_id AS best_old, jac_ppm AS best_jac_ppm FROM (
           |    SELECT new_id, old_id, jac_ppm, row_number() OVER
           |      (PARTITION BY new_id ORDER BY jac_ppm DESC, old_id) AS rnk
           |    FROM dups)
           |  WHERE rnk = 1)
           |SELECT d.doc_id AS new_id,
           |  CAST(coalesce(cc.n_cand, 0) AS BIGINT) AS n_cand,
           |  CAST(coalesce(dc.n_dup, 0) AS BIGINT) AS n_dup,
           |  best.best_old, best.best_jac_ppm
           |FROM documents d
           |LEFT JOIN cc ON d.doc_id = cc.new_id
           |LEFT JOIN dc ON d.doc_id = dc.new_id
           |LEFT JOIN best ON d.doc_id = best.new_id
           |WHERE d.doc_id % $INC_MOD = 0
           |ORDER BY new_id""".stripMargin)
  }
}
