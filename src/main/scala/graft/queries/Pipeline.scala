package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import graft.functions.Det
import graft.text.TextOps

/** Training-data-pipeline operators beyond the reference surface (graded
  * first-class alongside SURVEY §2): backward as-of join, token-budget
  * document packing over a distributed prefix sum, Gopher-style quality
  * rules, and deterministic stratified sampling — each with an exact DuckDB
  * oracle.
  */
object Pipeline {

  private val tokensSqlExpr =
    "list_filter(string_split(text, ' '), x -> len(x) > 0)"
  private val PackBudget = 1000L
  /** z6 as-of tolerance (seconds) — binds on ~half the z2 matches. */
  private val AsofTolS = 86400L
  private val StratumN = 30
  /** Decontamination n-gram size (8 on this short-doc synthetic corpus; the
    * published convention is 13-grams on real web text). */
  private val DecontamN = 8
  private val ChunkW = 64
  private val ChunkS = 48
  /** Top-K vocabulary size for the OOV-rate filter (tiny for the synthetic
    * corpus; real pipelines use 10⁴–10⁵ — still broadcastable). */
  private val OovVocabK = 100

  /** Keywords kept per document by the TF-IDF extractor. */
  private val TfidfTopK = 3

  /** Documents kept by the t39 contextual-gain selector. */
  private val ExcessTopK = 25

  /** t50 perplexity buckets per source (= Curate's CcnetBuckets — the
    * CCNet head/middle/tail tercile convention). */
  private val PplBuckets = 3

  /** Consistent-hash split fences over a 256-way md5 bucket: [0,230) →
    * train (~90%), [230,243) → val (~5%), [243,256) → test. Hashing the
    * KEY (not a random()) makes the split stable under reprocessing,
    * shard-order changes, and incremental appends — the property a
    * training pipeline actually needs from its split. Embedded verbatim
    * in both engines. */
  private val SplitTrainHi = 230
  private val SplitValHi = 243

  /** Co-occurrence vocabulary cap — pairs are only formed among the top-K
    * document-frequency tokens, so the per-doc pair fan-out is bounded by
    * K(K−1)/2 regardless of document length. Embedded verbatim in both
    * engines. */
  private val CoocVocabK = 30
  /** t43 interpolated Kneser–Ney: absolute discount (dyadic 3/4, the
    * textbook default) and the train/test doc split seed. */
  private val KnD = 0.75
  private val KnSeed = 113L
  private val Bm25Terms = Seq("join", "vector", "window", "dup")
  /** Inverted index: keep terms present in ≥1/20 of docs (integer test so
    * no float boundary), postings capped at the first 100 doc ids. */
  private val IdxDfDenom = 20L
  private val IdxPostCap = 100
  /** HLL: 2^6 = 64 registers; a 60-bit md5-derived hash splits into 6
    * bucket bits + 54 register bits. */
  private val HllM = 64
  private val HllRemBits = 54
  /** α₆₄·m²·2^(remBits+1), folded to ONE double constant in Scala and
    * embedded verbatim in both engines (toString round-trips doubles). */
  private val HllAlphaConst: Double =
    0.709 * HllM * HllM * (1L << (HllRemBits + 1)).toDouble

  /** Register value ρ(rem) = leading-zero rank of the 54-bit remainder —
    * one CASE over the 54 power-of-two thresholds, the SAME SQL text
    * evaluated by Spark (`expr`) and DuckDB (integer-exact; no log2). */
  private def rhoCaseSql(rem: String): String =
    (1 to HllRemBits).map(k =>
      s"WHEN $rem >= ${1L << (HllRemBits - k)} THEN $k")
      .mkString("CASE ", " ", s" ELSE ${HllRemBits + 1} END")

  /** Count-min: 4 independent 32-bit hash rows from one md5 (8-hex-char
    * slices, the minhash trick), width 256. */
  private val CmD = 4
  private val CmW = 256


  /** t43/t44's shared train/test split and bigram count tables:
    * (docs, cb, cu, bw, na) — docs = (doc_id, toks, tr) over ≥2-token
    * documents split by the keyed LCG; cb = train bigram counts
    * (w1, w2 → cb); cu = per-context totals (w1 → cu, N₁₊(w1·) as
    * n1pfw); bw = continuation type counts (w2 → N₁₊(·w2) as n1pbw);
    * na = the 1-row N₁₊(··). ONE definition so the bigram model t43
    * scores and the backoff level t44 interpolates are provably the
    * SAME tables (and one oracle CTE prefix, [[knOracleCtes]]). */
  private[queries] def knTables(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .filter(size($"toks") >= 2)
      .withColumn("tr", Det.frac($"doc_id", KnSeed) < 0.5)
      .localCheckpoint() // feeds the train counts AND the test explode
    val trBi = docs.filter($"tr")
      .select(explode(TextOps.wordNgrams($"toks", 2)).as("bg"))
      .select(substring_index($"bg", " ", 1).as("w1"),
        substring_index($"bg", " ", -1).as("w2"))
    val cb = trBi.groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
      .localCheckpoint() // feeds cu, bw, the type total AND scoring
    val cu = cb.groupBy($"w1")
      .agg(sum($"cb").as("cu"), count(lit(1)).as("n1pfw"))
    val bw = cb.groupBy($"w2").agg(count(lit(1)).as("n1pbw"))
    val na = cb.agg(count(lit(1)).as("n1pall"))
    (docs, cb, cu, bw, na)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // ---- backward as-of join: most recent prior error per user -----------
    // The union-and-carry AsOf operator: one shuffle on user_id, one sorted
    // pass — no range-join candidate blowup (ops/AsOf.scala).
    "z2_asof_join" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select($"event_id", $"user_id", Det.epochS($"ts").as("es"), $"value")
      // right side unique per (user_id, es): keep the max-event_id error
      val dedupW = Window.partitionBy($"user_id", $"es")
        .orderBy($"err_id".desc)
      val errs = t(s, dir, "events")
        .filter($"event_type" === "error")
        .select($"user_id", Det.epochS($"ts").as("es"),
          $"event_id".as("err_id"), $"value".as("err_value"))
        .withColumn("__rn", row_number().over(dedupW))
        .filter($"__rn" === 1).drop("__rn")
      graft.ops.AsOf.joinBackward(ev, errs, Seq("user_id"), "es",
          Seq("err_id", "err_value"))
        .select($"event_id", $"asof_err_id".as("prior_error_id"),
          round($"asof_err_value", 4).as("prior_error_value"))
        .orderBy($"event_id")
    }),

    // ---- as-of with tolerance (pandas merge_asof `tolerance`) ----------
    // z2's backward as-of, but a match older than AsofTolS seconds is
    // discarded (stale context is worse than none — the standard
    // merge_asof knob). Same union-and-carry cost; the tolerance is a
    // pure post-projection on the carried right timestamp, NOT a second
    // join. Tolerance chosen to BIND on this data (~half the z2 matches
    // age out), so the gate exercises both branches.
    "z6_asof_tolerance" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select($"event_id", $"user_id", Det.epochS($"ts").as("es"), $"value")
      val dedupW = Window.partitionBy($"user_id", $"es")
        .orderBy($"err_id".desc)
      val errs = t(s, dir, "events")
        .filter($"event_type" === "error")
        .select($"user_id", Det.epochS($"ts").as("es"),
          $"event_id".as("err_id"), $"value".as("err_value"))
        .withColumn("err_es", $"es")
        .withColumn("__rn", row_number().over(dedupW))
        .filter($"__rn" === 1).drop("__rn")
      val tolOk = ($"es" - $"asof_err_es") <= AsofTolS
      graft.ops.AsOf.joinBackward(ev, errs, Seq("user_id"), "es",
          Seq("err_id", "err_value", "err_es"))
        .select($"event_id",
          when(tolOk, $"asof_err_id").as("prior_error_id"),
          when(tolOk, round($"asof_err_value", 4)).as("prior_error_value"),
          when(tolOk, $"es" - $"asof_err_es").as("gap_s"))
        .orderBy($"event_id")
    }),

    // ---- token-budget packing (concat-and-chunk pretraining layout) ------
    // bin = the fixed-size token block a document STARTS in, from a
    // distributed prefix sum (Ranks.globalCumSum — never a one-task window).
    "t6_pack_budget" -> ((s, dir) => {
      import s.implicits._
      val withTok = t(s, dir, "documents")
        .select($"doc_id", size(TextOps.tokens($"text")).cast("long").as("n_tok"))
      graft.ops.Ranks.globalCumSum(withTok, Seq($"doc_id"), $"n_tok", "cum_tok")
        .select($"doc_id", $"n_tok", $"cum_tok",
          expr(s"(cum_tok - n_tok) div $PackBudget").as("bin"),
          (($"cum_tok" - $"n_tok") % PackBudget).as("bin_offset"))
        .orderBy($"doc_id")
    }),

    // ---- Gopher-style quality rules (Rae et al. 2021 §A1.1, the public
    // repetition/length heuristics) — all-integer arithmetic, rule columns
    // plus the conjunction --------------------------------------------------
    "t7_gopher_rules" -> ((s, dir) => {
      import s.implicits._
      val toks = TextOps.tokens($"text")
      val nw = size(toks).cast("long")
      val alpha = length(regexp_replace($"text", " ", "")).cast("long")
      val nHash = (length($"text") -
        length(regexp_replace($"text", "#", ""))).cast("long")
      val nStop = TextOps.hitCount(toks,
        TextOps.langWords.flatMap(_._2)).cast("long")
      val wordsOk = nw >= 50L && nw <= 100000L
      val mwlOk = alpha >= nw * 3L && alpha <= nw * 10L
      val symbolOk = nHash * 10L <= nw
      val stopOk = nStop >= 2L
      t(s, dir, "documents")
        .select($"doc_id", nw.as("n_words"),
          wordsOk.as("words_ok"), mwlOk.as("mean_word_len_ok"),
          symbolOk.as("symbol_ok"), stopOk.as("stopword_ok"),
          (wordsOk && mwlOk && symbolOk && stopOk).as("passes_gopher"))
        .orderBy($"doc_id")
    }),

    // ---- A12: grouping sets / rollup (native beyond reference) -----------
    // rollup nulls are coalesced to a sentinel in BOTH engines, so the
    // subtotal rows compare exactly (and null-ordering differences between
    // Spark and DuckDB never arise)
    "a12_rollup" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
        .rollup($"event_type", $"day")
        .agg(count(lit(1)).as("cnt"),
          (sum(round($"value" * 100).cast("long")) / 100.0).as("sum_value"))
        .select(coalesce($"event_type", lit("(all)")).as("etype"),
          coalesce($"day", lit("(all)")).as("day"), $"cnt", $"sum_value")
        .orderBy($"etype", $"day")
    }),

    // ---- U2: intersect / except (native beyond reference) ----------------
    "u2_intersect_except" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val a = ev.filter($"value" > 150.0).select($"event_id")
      val b = ev.filter($"event_type".isin("error", "click")).select($"event_id")
      a.intersect(b).withColumn("tag", lit("both"))
        .unionByName(a.except(b).withColumn("tag", lit("only_high")))
        .orderBy($"event_id", $"tag")
    }),

    // ---- F10: JSON extraction + array construction/transform/fold --------
    // nulls are compacted out of the array before sorting: Spark sort_array
    // puts NULLs FIRST, DuckDB list_sort puts them LAST, so a missing JSON
    // key would silently diverge `lo` between the engines otherwise
    // (doubled_sum needs no guard — null propagates identically through
    // both folds)
    "f11_json_array" -> ((s, dir) => {
      import s.implicits._
      val k = get_json_object($"props", "$.k").cast("long")
      val arr = array($"value", k.cast("double"))
      t(s, dir, "events")
        .select($"event_id", k.as("k"),
          // try_: ANSI element_at throws on the (all-null → empty) array;
          // DuckDB's [1] yields NULL there
          try_element_at(sort_array(array_compact(arr)), lit(1)).as("lo"),
          aggregate(transform(arr, x => x * 2.0), lit(0.0), _ + _)
            .as("doubled_sum"))
        .orderBy($"event_id")
    }),

    // ---- repetition rule (Gopher §A1.1 top-n-gram fraction, unigram) -----
    // Top-token count via explode → groupBy(doc_id, tok) → max — LINEAR in
    // document length with one doc_id-keyed shuffle. The previous form
    // (array_max over a transform×filter fold) was O(distinct·len) PER ROW
    // in interpreted higher-order functions: fine on 500 short test docs,
    // the query's hot spot on real 10³–10⁴-token web documents.
    "t8_repetition" -> ((s, dir) => {
      import s.implicits._
      // tokenised frame feeds lengths AND counts → localCheckpoint
      // (PLANS.md fan-out rule)
      val base = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
        .localCheckpoint()
      val top = base.select($"doc_id", explode($"toks").as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("__c"))
        .groupBy($"doc_id").agg(max($"__c").as("__top"))
      val cnt = coalesce($"__top", lit(0L))
      base.select($"doc_id", size($"toks").cast("long").as("n_words"))
        .join(top, Seq("doc_id"), "left") // empty docs: no tokens → 0
        .select($"doc_id", $"n_words", cnt.as("top_tok_count"),
          (cnt * 5L <= $"n_words").as("repetition_ok"))
        .orderBy($"doc_id")
    }),

    // ---- deterministic stratified sampling: N per stratum, keyed LCG -----
    "p12_stratified_sample" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type")
        .orderBy(Det.frac($"event_id", 11L), $"event_id")
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= StratumN)
        .select($"event_type", $"rn", $"event_id")
        .orderBy($"event_type", $"rn")
    }),

    // ---- deterministic train/val/test split by key hash (the split a
    // training pipeline can trust: a document lands in the same fence no
    // matter when or where it is processed, because membership is a pure
    // function of its id — never a random()). 100 TB shape: a per-row
    // md5 projection + one tiny summary agg; the per-doc assignment
    // itself needs NO shuffle at all.
    "p15_hash_split" -> ((s, dir) => {
      import s.implicits._
      val b = conv(substring(md5($"doc_id".cast("string").cast("binary")),
        1, 2), 16, 10).cast("int")
      val assigned = t(s, dir, "documents")
        .select($"doc_id", b.as("bucket"))
        .withColumn("split",
          when($"bucket" < SplitTrainHi, "train")
            .when($"bucket" < SplitValHi, "val").otherwise("test"))
      val sizes = assigned.groupBy($"split")
        .agg(count(lit(1)).as("n_split"))
      assigned.join(broadcast(sizes), Seq("split"))
        .select($"doc_id", $"bucket", $"split", $"n_split")
        .orderBy($"doc_id")
    }),

    // ---- benchmark decontamination (the GPT-3 appendix-C n-gram overlap
    // check): flag training docs sharing any distinct n-gram with a held-out
    // eval set. 100 TB shape: the eval set is tiny (benchmarks, not corpus),
    // so its gram set BROADCASTS; the train side is a map-side explode +
    // broadcast semi-join + per-doc agg — one shuffle, on doc_id only.
    "t9_decontaminate" -> ((s, dir) => {
      import s.implicits._
      def grams(df: DataFrame) = df
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
        .filter(size($"toks") >= DecontamN)
        .select($"doc_id",
          array_distinct(TextOps.wordNgrams($"toks", DecontamN)).as("gs"))
      val base = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val evalG = grams(base.filter($"doc_id" % 50 === 0))
        .select(explode($"gs").as("g")).distinct()
      val train = grams(base.filter($"doc_id" % 50 =!= 0))
        .select($"doc_id", size($"gs").as("n_gram"), explode($"gs").as("g"))
      train.join(broadcast(evalG), Seq("g"), "left_semi")
        .groupBy($"doc_id", $"n_gram")
        .agg(count(lit(1)).as("n_hit"))
        .select($"doc_id", $"n_hit",
          round($"n_hit".cast("double") / $"n_gram", 4).as("hit_frac"))
        .orderBy($"doc_id")
    }),

    // ---- BM25 relevance scoring (Robertson et al.; k1=1.2, b=0.75) -------
    // Corpus stats (N, Σdl, per-term df) are ONE tiny agg broadcast back;
    // scoring is then a per-row projection — a linear scan at 100 TB. The
    // lone transcendental (ln in idf) is rounded to 6dp on both engines so
    // libm ULP differences can't surface; everything else is order-fixed
    // IEEE double arithmetic, bit-identical cross-engine.
    // ---- T16: inverted-index / posting-list build ------------------------
    // The retrieval-side primitive behind t9's decontamination and t10's
    // BM25 at scale: term → document-frequency + sorted posting list.
    // ONE token shuffle (explode of per-doc DISTINCT terms → groupBy tok);
    // the df floor is an integer test against the corpus size and postings
    // are capped at a deterministic sorted prefix — at 100 TB a stopword's
    // full posting list is the thing you must never materialize, so the cap
    // is the contract, not a shortcut. Postings serialize to a CSV string
    // (index-row form; also keeps the cross-engine compare list-free).
    // ---- T14: TF-IDF keyword extraction ----------------------------------
    // Per-doc top-k salient terms — the keyword-metadata stage curation
    // pipelines attach before routing/mixing. idf is the a22 rounded-ln
    // (6dp integer) so score = tf·idf6 is a pure integer and the top-k
    // order has no float boundary. 100 TB shape: tf and df are one
    // token-keyed shuffle each, their join is co-partitioned on tok
    // (vocab-sized, NOT broadcast), top-k is a doc-keyed WindowGroupLimit.
    "t14_tfidf_terms" -> ((s, dir) => {
      import s.implicits._
      val tf = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      val n = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy($"doc_id").orderBy($"score_e6".desc, $"tok")
      tf.join(df, Seq("tok"))
        .crossJoin(broadcast(n))
        .withColumn("score_e6", $"tf" *
          round(log($"n_docs".cast("double") / $"df".cast("double"))
            * 1000000.0).cast("long"))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= TfidfTopK)
        .select($"doc_id", $"rnk", $"tok", $"score_e6")
        .orderBy($"doc_id", $"rnk")
    }),

    "t16_inverted_index" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val n = docs.agg(count(lit(1)).as("n_docs"))
      docs.select($"doc_id",
          explode(array_distinct(TextOps.tokens($"text"))).as("tok"))
        .groupBy($"tok")
        .agg(count(lit(1)).as("df"),
          array_join(transform(
            slice(sort_array(collect_list($"doc_id")), 1, IdxPostCap),
            x => x.cast("string")), ",").as("postings"))
        .crossJoin(broadcast(n))
        .filter($"df" * IdxDfDenom >= $"n_docs")
        .select($"tok", $"df", $"postings")
        .orderBy($"tok")
    }),

    "t10_bm25" -> ((s, dir) => {
      import s.implicits._
      // tokenised frame feeds stats AND scoring → localCheckpoint
      // (PLANS.md fan-out rule)
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
        .select(($"doc_id" +: size($"toks").cast("long").as("dl") +:
          Bm25Terms.zipWithIndex.map { case (tm, i) =>
            size(filter($"toks", x => x === tm)).cast("long").as(s"tf$i")
          }): _*)
        .localCheckpoint()
      val aggs = sum($"dl").as("sdl") +: Bm25Terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0L, 1L).otherwise(0L)).cast("double").as(s"df$i"))
      val stats = docs.agg(count(lit(1)).cast("double").as("n"), aggs: _*)
      val scored = docs.crossJoin(broadcast(stats))
        .withColumn("avgdl", $"sdl".cast("double") / $"n")
      val score = Bm25Terms.indices.map { i =>
        val tf = col(s"tf$i").cast("double")
        val idf = round(
          log(($"n" - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5))
            + lit(1.0)), 6)
        idf * (tf * lit(2.2)) /
          (tf + lit(1.2) * (lit(0.25) + lit(0.75) *
            ($"dl".cast("double") / $"avgdl")))
      }.reduce(_ + _)
      scored.select($"doc_id", round(score, 4).as("bm25"))
        .orderBy($"doc_id")
    }),

    // ---- sliding-window chunking (stride < window → overlapping training
    // chunks, the standard LLM pre-tokenization layout). Pure per-row
    // explode — ~len/stride output rows per doc, no shuffle before the
    // final presentation sort.
    "t11_chunk_stride" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
        .filter(size($"toks") > 0)
        .select($"doc_id", $"toks",
          explode(sequence(lit(0), size($"toks") - 1, lit(ChunkS))).as("start"))
        .select($"doc_id",
          ($"start" / ChunkS).cast("int").as("chunk_idx"),
          least(size($"toks") - $"start", lit(ChunkW)).as("chunk_len"),
          substring(md5(array_join(
            slice($"toks", $"start" + 1, lit(ChunkW)), " ").cast("binary")),
            1, 8).as("chunk_hash"))
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // ---- top-K-vocabulary OOV rate (the vocab-truncation filter: build
    // the K most frequent corpus words — deterministic count-desc/word-asc
    // tie-break — and score each document by its out-of-vocabulary token
    // fraction). 100 TB shape: the vocab is K rows by CONSTRUCTION, so
    // membership is a BROADCAST join against the exploded token stream;
    // the only data-sized shuffles are the unigram count and the per-doc
    // agg. ----------------------------------------------------------------
    "t13_oov_rate" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
        .filter(size($"toks") >= 1)
        .localCheckpoint() // feeds the vocab count AND the scoring explode
      val tok = docs.select($"doc_id", explode($"toks").as("w"))
      val vocab = tok.groupBy($"w").agg(count(lit(1)).as("__cu"))
        .orderBy($"__cu".desc, $"w").limit(OovVocabK)
        .select($"w", lit(1).as("__inv"))
      tok.join(broadcast(vocab), Seq("w"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(when($"__inv".isNull, 1L).otherwise(0L)).as("n_oov"))
        .select($"doc_id", $"n_tok", $"n_oov",
          round($"n_oov".cast("double") / $"n_tok", 4).as("oov_frac"))
        .orderBy($"doc_id")
    }),

    // ---- token co-occurrence lift (the PMI-style association signal,
    // kept integer-exact: lift_ppm = n_ab·N·10⁶ div (df_a·df_b) — the
    // rational core of PMI without the cross-engine libm log). Pairs are
    // formed only among the top-K document-frequency tokens, so per-doc
    // fan-out is ≤ K(K−1)/2 by CONSTRUCTION and vocab membership is a
    // BROADCAST semi-filter on the exploded distinct-token stream; the
    // only data-sized shuffles are the df count and the pair count. ------
    "t17_cooccur_lift" -> ((s, dir) => {
      import s.implicits._
      val dt = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", explode(array_distinct(TextOps.tokens($"text")))
          .as("w"))
        .localCheckpoint() // feeds the df count AND the pair build
      val vocab = dt.groupBy($"w").agg(count(lit(1)).as("df"))
        .orderBy($"df".desc, $"w").limit(CoocVocabK)
      val dv = dt.join(broadcast(vocab), Seq("w")).select($"doc_id", $"w")
      val pairs = dv.join(dv.withColumnRenamed("w", "w2"), Seq("doc_id"))
        .filter($"w" < $"w2")
      val nDocs = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      pairs.groupBy($"w".as("w1"), $"w2").agg(count(lit(1)).as("n_ab"))
        .join(broadcast(vocab.select($"w".as("w1"), $"df".as("df1"))),
          Seq("w1"))
        .join(broadcast(vocab.select($"w".as("w2"), $"df".as("df2"))),
          Seq("w2"))
        .crossJoin(broadcast(nDocs))
        .select($"w1", $"w2", $"n_ab",
          expr("(n_ab * n_docs * 1000000L) div (df1 * df2)").as("lift_ppm"))
        .orderBy($"w1", $"w2")
    }),

    // ---- n-gram LM perplexity scoring (the CCNet-style quality filter:
    // score each document under a bigram language model trained on the
    // corpus itself; low average log-probability = out-of-distribution
    // text). Laplace-smoothed: lp(w2|w1) = ln((c(w1w2)+1)/(c(w1)+V)).
    // 100 TB shape: unigram/bigram count tables are corpus-sized, so
    // scoring is gram-keyed equi-JOINs (never broadcast), the vocab size
    // is a 1-row broadcast, and per-doc aggregation shuffles on doc_id.
    // Cross-engine exactness: each lp is rounded to 6dp and scaled to an
    // integer (libm ln ULP differences can't surface, and the per-doc sum
    // is associativity-proof integer arithmetic — the a13 pattern). -------
    "t12_bigram_logprob" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
        .filter(size($"toks") >= 2)
        .localCheckpoint() // feeds unigram counts AND the bigram explode
      val docBi = docs
        .select($"doc_id", explode(TextOps.wordNgrams($"toks", 2)).as("bg"))
        .localCheckpoint() // feeds bigram counts AND scoring
      val biCnt = docBi.groupBy($"bg").agg(count(lit(1)).as("cb"))
      val uniCnt = docs.select(explode($"toks").as("w1"))
        .groupBy($"w1").agg(count(lit(1)).as("cu"))
      val vocab = uniCnt.agg(count(lit(1)).cast("double").as("v"))
      docBi
        .withColumn("w1", substring_index($"bg", " ", 1))
        .join(biCnt, Seq("bg"))
        .join(uniCnt, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .withColumn("lpi",
          round(log(($"cb" + 1.0) / ($"cu" + $"v")) * 1e6).cast("long"))
        .groupBy($"doc_id")
        .agg(round(sum($"lpi").cast("double") / 1e6 /
            count(lit(1)), 4).as("avg_logprob"),
          count(lit(1)).as("n_bigrams"))
        .orderBy($"doc_id")
    }),

    // ---- T43: interpolated Kneser–Ney bigram scoring --------------------
    // The production LM smoothing (Kneser & Ney 1995; what KenLM-style
    // CCNet filters actually run, where t12 is Laplace): held-out docs
    // scored under P_KN(w2|w1) = max(c₁₂−D,0)/c₁ + D·N₁₊(w1·)/c₁ ·
    // N₁₊(·w2)/N₁₊(··) — the continuation probability fixes exactly the
    // "San Francisco" failure (frequent-but-unproductive unigrams stop
    // leaking mass). Train/test split by the keyed LCG (the t34 rule);
    // test transitions with an UNSEEN context or an unseen-as-
    // continuation w2 are skipped and counted (stated contract — no
    // epsilon hacks; docs with zero scorable transitions report NULL).
    // Exactness: all five count tables are exact integers; P is one
    // fixed-shape double expression on them; per-transition logs ride
    // the t12 recipe (e6-quantized BIGINT, associativity-proof doc
    // sums). 100 TB shape: count tables are vocabulary-sized JOINs
    // (never broadcast, never collected), N₁₊(··) the only 1-row
    // broadcast; the corpus stays explode → join → doc_id agg.
    "t43_kneser_ney" -> ((s, dir) => {
      import s.implicits._
      val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
      val (docs, cb, cu, bw, na) = knTables(s, dir)
      docs.filter(!$"tr")
        .select($"doc_id", explode(TextOps.wordNgrams($"toks", 2)).as("bg"))
        .select($"doc_id", substring_index($"bg", " ", 1).as("w1"),
          substring_index($"bg", " ", -1).as("w2"))
        .join(cu, Seq("w1"), "left")
        .join(bw, Seq("w2"), "left")
        .join(cb, Seq("w1", "w2"), "left")
        .crossJoin(broadcast(na))
        .withColumn("ok", $"cu".isNotNull && $"n1pbw".isNotNull)
        .withColumn("lpi", when($"ok", round(log(
          greatest(coalesce(dbl($"cb"), lit(0.0)) - lit(KnD), lit(0.0)) /
            dbl($"cu") +
            ((lit(KnD) * dbl($"n1pfw")) / dbl($"cu")) *
              (dbl($"n1pbw") / dbl($"n1pall"))) * 1e6).cast("long")))
        .groupBy($"doc_id")
        .agg(sum(when($"ok", 1L).otherwise(0L)).as("n_scored"),
          sum(when(!$"ok", 1L).otherwise(0L)).as("n_skipped"),
          sum(when($"ok", $"lpi").otherwise(0L)).as("slpi"))
        .select($"doc_id", $"n_scored", $"n_skipped",
          when($"n_scored" > 0L, round($"slpi".cast("double") / 1e6 /
            $"n_scored".cast("double"), 4)).as("avg_logp"))
        .orderBy($"doc_id")
    }),

    // ---- T44: interpolated Kneser–Ney TRIGRAM scoring --------------------
    // t43 extended one backoff level — the depth production KenLM-style
    // quality filters actually run: P_KN(w3|w1w2) = max(c₁₂₃−D,0)/c₁₂· +
    // D·N₁₊(w1w2·)/c₁₂· · P_KN(w3|w2), with the MIDDLE level on
    // continuation counts (max(N₁₊(·w2w3)−D,0)/N₁₊(·w2·) +
    // D·N₁₊(w2·)/N₁₊(·w2·) · N₁₊(·w3)/N₁₊(··) — raw counts only at the
    // highest order, Chen & Goodman 1998 §4.1.6). Transitions whose
    // trigram context (w1,w2) is unseen BACK OFF to the bigram model as
    // the highest order (t43's exact formula over the SHARED tables);
    // unseen (w2 context or w3 continuation) is skipped and counted —
    // the t43 contract extended to the sparser trigram grid, where the
    // skip/backoff paths actually exercise (n_backoff > 0 at every test
    // SF). Same discount D at all orders (stated simplification).
    // Exactness: five trigram tables + the SHARED knTables, all exact
    // integers; both branch formulas are one fixed-shape double
    // expression each; per-transition logs ride the t12 e6 recipe.
    // 100 TB shape: every count table stays a vocabulary²/³-keyed JOIN
    // (never broadcast, never collected); the corpus stays explode →
    // 7 keyed joins → doc_id agg; na is the only 1-row broadcast.
    "t44_kneser_ney3" -> ((s, dir) => {
      import s.implicits._
      kn3DocScores(s, dir)
        .select($"doc_id", $"n_tri", $"n_backoff", $"n_skipped",
          when($"n_tri" + $"n_backoff" > 0L,
            round($"slpi".cast("double") / 1e6 /
              ($"n_tri" + $"n_backoff").cast("double"), 4)).as("avg_logp"))
        .orderBy($"doc_id")
    }),

    // ---- T50: CCNet buckets under the KN LM (production recipe) ----------
    // t32's bucketing with the LM production CCNet actually uses: the
    // t44 trigram interpolated Kneser–Ney model TRAINED ON THE HELD-IN
    // HALF (the keyed-LCG train split = the "reference corpus"; Wenzek
    // et al. 2020 train on Wikipedia and bucket CommonCrawl), scoring
    // the held-out half and cutting each source into perplexity
    // terciles. Rides the SHARED knTables + kn3DocScores — zero new
    // kernels; docs with no scorable transition are excluded (they
    // have no perplexity to bucket — stated; t44 reports them).
    // Exactness: avg_logp is the t44 4dp value (hash-gated identical
    // cross-engine), so the tercile ranks (doc_id tiebreak) agree
    // exactly — the t32 recipe on the better model. 100 TB shape:
    // the t44 shape + one doc_id-keyed source join + the t32
    // per-source rank window (S source partitions).
    "t50_perplexity_buckets" -> ((s, dir) => {
      import s.implicits._
      val scored = kn3DocScores(s, dir)
        .filter($"n_tri" + $"n_backoff" > 0L)
        .select($"doc_id",
          round($"slpi".cast("double") / 1e6 /
            ($"n_tri" + $"n_backoff").cast("double"), 4).as("avg_logp"))
      val src = t(s, dir, "documents").select($"doc_id", $"source")
      val wR = Window.partitionBy($"source")
        .orderBy($"avg_logp".desc, $"doc_id")
      scored.join(src, Seq("doc_id"))
        .withColumn("__rn", row_number().over(wR))
        .withColumn("__n",
          count(lit(1)).over(Window.partitionBy($"source")))
        .select($"doc_id", $"source", $"avg_logp",
          expr(s"CAST(((__rn - 1) * $PplBuckets) div __n + 1 AS INT)")
            .as("ppl_bucket"))
        .orderBy($"doc_id")
    })) ++ queriesB

  /** t44's per-doc score table (doc_id, n_tri, n_backoff, n_skipped,
    * slpi) — ONE definition shared by the t44 gate and the t50
    * bucketing, over the SHARED [[knTables]]. */
  private[queries] def kn3DocScores(s: SparkSession, dir: String)
      : DataFrame = {
      import s.implicits._
      val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
      val (docs, cb, cu, bw, na) = knTables(s, dir)
      val w2of = (c: org.apache.spark.sql.Column) =>
        substring_index(substring_index(c, " ", 2), " ", -1)
      val trTg = docs.filter($"tr" && size($"toks") >= 3)
        .select(explode(TextOps.wordNgrams($"toks", 3)).as("tg"))
        .select(substring_index($"tg", " ", 1).as("w1"),
          w2of($"tg").as("w2"), substring_index($"tg", " ", -1).as("w3"))
      val c3 = trTg.groupBy($"w1", $"w2", $"w3").agg(count(lit(1)).as("c3"))
        .localCheckpoint() // feeds ctx, the continuation tables AND scoring
      val ctx = c3.groupBy($"w1", $"w2")
        .agg(sum($"c3").as("c2dot"), count(lit(1)).as("n1pfw12"))
      val midn = c3.groupBy($"w2", $"w3").agg(count(lit(1)).as("n1pb23"))
        .localCheckpoint() // feeds middot AND scoring
      val middot = midn.groupBy($"w2").agg(sum($"n1pb23").as("middot"))
      val cuw2 = cu.select($"w1".as("w2"), $"cu".as("cu2"),
        $"n1pfw".as("n1pfw2"))
      val cbf = cb.select($"w1".as("w2"), $"w2".as("w3"), $"cb".as("cb2"))
      val bw3 = bw.select($"w2".as("w3"), $"n1pbw")
      docs.filter(!$"tr" && size($"toks") >= 3)
        .select($"doc_id", explode(TextOps.wordNgrams($"toks", 3)).as("tg"))
        .select($"doc_id", substring_index($"tg", " ", 1).as("w1"),
          w2of($"tg").as("w2"), substring_index($"tg", " ", -1).as("w3"))
        .join(ctx, Seq("w1", "w2"), "left")
        .join(c3, Seq("w1", "w2", "w3"), "left")
        .join(midn, Seq("w2", "w3"), "left")
        .join(middot, Seq("w2"), "left")
        .join(cuw2, Seq("w2"), "left")
        .join(cbf, Seq("w2", "w3"), "left")
        .join(bw3, Seq("w3"), "left")
        .crossJoin(broadcast(na))
        .withColumn("ok3", $"c2dot".isNotNull && $"middot".isNotNull &&
          $"n1pfw2".isNotNull && $"n1pbw".isNotNull)
        .withColumn("ok2", $"cu2".isNotNull && $"n1pbw".isNotNull)
        .withColumn("p2c",
          greatest(coalesce(dbl($"n1pb23"), lit(0.0)) - lit(KnD), lit(0.0)) /
            dbl($"middot") +
            ((lit(KnD) * dbl($"n1pfw2")) / dbl($"middot")) *
              (dbl($"n1pbw") / dbl($"n1pall")))
        .withColumn("lpi", when($"ok3", round(log(
            greatest(coalesce(dbl($"c3"), lit(0.0)) - lit(KnD), lit(0.0)) /
              dbl($"c2dot") +
              ((lit(KnD) * dbl($"n1pfw12")) / dbl($"c2dot")) * $"p2c") * 1e6)
            .cast("long"))
          .when($"ok2", round(log(
            greatest(coalesce(dbl($"cb2"), lit(0.0)) - lit(KnD), lit(0.0)) /
              dbl($"cu2") +
              ((lit(KnD) * dbl($"n1pfw2")) / dbl($"cu2")) *
                (dbl($"n1pbw") / dbl($"n1pall"))) * 1e6).cast("long")))
        .groupBy($"doc_id")
        .agg(sum(when($"ok3", 1L).otherwise(0L)).as("n_tri"),
          sum(when(!$"ok3" && $"ok2", 1L).otherwise(0L)).as("n_backoff"),
          sum(when(!$"ok3" && !$"ok2", 1L).otherwise(0L)).as("n_skipped"),
          sum(when($"ok3" || $"ok2", $"lpi").otherwise(0L)).as("slpi"))
  }

  /** Continuation of the query pack (split around [[kn3DocScores]]). */
  private def queriesB: Map[String, (SparkSession, String) => DataFrame]
      = Map(

    // ---- T39: contextual-gain (excess-logprob) selection ---------------
    // Excess-loss data selection in the spirit of RHO-loss (Mindermann
    // et al. 2022): score each doc by how much a CONTEXT model explains
    // it beyond a frequency baseline — the per-transition mean of
    // log p_bi(w2|w1) − log p_uni(w2), both add-one smoothed — and keep
    // the top-K. High gain = structured, learnable text; near-zero gain
    // = bag-of-frequent-words filler the unigram model already explains
    // (which can still score HIGH under t12's raw logprob — the exact
    // failure mode excess scoring exists to remove). Exactness: each
    // transition rides the t12 recipe (e6-quantized integer log terms,
    // associativity-proof BIGINT doc sums); the top-K order key is the
    // unrounded double mean built from the same exact integers with the
    // same expression shape in both engines, doc_id tiebreak. 100 TB
    // shape: both count tables are vocabulary-sized JOINS (never
    // broadcast, never collected), the corpus stays a linear explode →
    // join → doc agg, and the top-K is TakeOrderedAndProject
    // (per-partition heads — no global sort).
    "t39_excess_gain" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
        .filter(size($"toks") >= 2)
        .localCheckpoint() // feeds unigram counts AND the bigram explode
      val docBi = docs
        .select($"doc_id", explode(TextOps.wordNgrams($"toks", 2)).as("bg"))
        .localCheckpoint() // feeds bigram counts AND scoring
      val biCnt = docBi.groupBy($"bg").agg(count(lit(1)).as("cb"))
      val uniCnt = docs.select(explode($"toks").as("w"))
        .groupBy($"w").agg(count(lit(1)).as("cu"))
      val tot = uniCnt.agg(count(lit(1)).cast("double").as("v"),
        sum($"cu").cast("double").as("n"))
      docBi
        .withColumn("w1", substring_index($"bg", " ", 1))
        .withColumn("w2", substring_index($"bg", " ", -1))
        .join(biCnt, Seq("bg"))
        .join(uniCnt.select($"w".as("w1"), $"cu".as("cu1")), Seq("w1"))
        .join(uniCnt.select($"w".as("w2"), $"cu".as("cu2")), Seq("w2"))
        .crossJoin(broadcast(tot))
        .withColumn("gi",
          round(log(($"cb" + 1.0) / ($"cu1" + $"v")) * 1e6).cast("long") -
            round(log(($"cu2" + 1.0) / ($"n" + $"v")) * 1e6).cast("long"))
        .groupBy($"doc_id")
        .agg(sum($"gi").as("sg"), count(lit(1)).as("n_bigrams"))
        .withColumn("gr", $"sg".cast("double") / 1e6 / $"n_bigrams")
        .orderBy($"gr".desc, $"doc_id")
        .limit(ExcessTopK)
        .select($"doc_id", $"n_bigrams", round($"gr", 4).as("avg_gain"))
        .orderBy($"doc_id")
    }),

    // ---- HyperLogLog distinct sketch (Flajolet et al. 2007), exact
    // cross-engine: the md5-derived hash, the CASE-based register rank, the
    // integer-scaled harmonic sum (Σ 2^(55-M_j) as exact BIGINT — float
    // fold order never arises) and the 6dp-rounded ln in the linear-
    // counting branch are all deterministic in both engines. The 100 TB
    // shape is the point: one map-side projection + a 64-register agg —
    // distinct-counting with constant memory instead of a count-distinct
    // shuffle. The exact count rides along to show the sketch error.
    // At sf0.01 (150 users) the linear-counting branch fires; at sf0.1
    // (1500) the standard estimator does — both gated.
    "a13_hll_distinct" -> ((s, dir) => {
      import s.implicits._
      val regs = t(s, dir, "events")
        .select(conv(substring(
          md5($"user_id".cast("string").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("hv"))
        .select(shiftright($"hv", HllRemBits).as("bucket"),
          $"hv".bitwiseAND(lit((1L << HllRemBits) - 1)).as("rem"))
        .withColumn("rho", expr(rhoCaseSql("rem")))
        .groupBy($"bucket").agg(max($"rho").as("m"))
      val filled = s.range(HllM).toDF("bucket")
        .join(regs, Seq("bucket"), "left")
        .select(coalesce($"m", lit(0)).as("m"))
      val a = filled.agg(
        sum(expr(s"shiftleft(cast(1 as bigint), ${HllRemBits + 1} - m)"))
          .as("scaled"),
        sum(when($"m" === 0, 1L).otherwise(0L)).as("zeros"))
      val x = t(s, dir, "events")
        .agg(count_distinct($"user_id").as("exact_distinct"))
      val est0 = lit(HllAlphaConst) / $"scaled".cast("double")
      val est = when(est0 <= lit(2.5 * HllM) && $"zeros" > 0L,
        lit(HllM.toDouble) * round(log(lit(HllM.toDouble) / $"zeros"), 6))
        .otherwise(est0)
      a.crossJoin(x)
        .select(round(est, 4).as("hll_estimate"), $"exact_distinct",
          round(abs(round(est, 4) - $"exact_distinct") / $"exact_distinct", 4)
            .as("rel_err"))
    }),

    // ---- A20: HLL sketch MERGEABILITY — the property that makes the a13
    // sketch work on 1000 executors: per-slice sketches (here one per
    // event_type) union by per-register max, and that merged sketch is
    // IDENTICAL to the sketch built over the whole corpus in one pass.
    // Registers are integers, so the gate is exact — no estimator float in
    // the compared columns (merged_scaled ≡ direct_scaled pins the
    // register-level identity; n_equal pins it register by register).
    "a20_hll_merge" -> ((s, dir) => {
      import s.implicits._
      def br(df: org.apache.spark.sql.DataFrame) = df
        .select($"event_type", conv(substring(
          md5($"user_id".cast("string").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("hv"))
        .select($"event_type", shiftright($"hv", HllRemBits).as("bucket"),
          $"hv".bitwiseAND(lit((1L << HllRemBits) - 1)).as("rem"))
        .withColumn("rho", expr(rhoCaseSql("rem")))
      val e = t(s, dir, "events")
      // per-slice sketches, then the sketch-union (max per register)
      val merged = br(e).groupBy($"event_type", $"bucket")
        .agg(max($"rho").as("m"))
        .groupBy($"bucket").agg(max($"m").as("m"))
      // single-pass whole-corpus sketch
      val direct = br(e).groupBy($"bucket").agg(max($"rho").as("md"))
      // inner join: both sketches derive from the same register rows, so
      // their bucket sets are identical by construction
      val cmp = merged.join(direct, Seq("bucket")).select($"m", $"md")
      cmp.agg(count(lit(1)).as("n_reg"),
        sum(when($"m" === $"md", 1L).otherwise(0L)).as("n_equal"),
        sum(expr(s"shiftleft(cast(1 as bigint), ${HllRemBits + 1} - m)"))
          .as("merged_scaled"),
        sum(expr(s"shiftleft(cast(1 as bigint), ${HllRemBits + 1} - md)"))
          .as("direct_scaled"))
    }),

    // ---- count-min sketch heavy hitters (Cormode & Muthukrishnan 2005),
    // exact cross-engine: d×w counter grid from md5-slice hashes, point
    // estimate = min over the d counters, top-10 by estimate. Pure integer
    // arithmetic end to end. The 100 TB shape: the sketch is a d·w-row agg
    // (constant size, broadcastable), so frequency estimation never
    // shuffles the keys themselves — the sketch phase is map-side + one
    // tiny agg regardless of key cardinality. True counts ride along to
    // show the one-sided overcount.
    "a14_cm_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      // slot derivation shared with the streaming sketch (functions.CmHash)
      def slots(j: Int) =
        element_at(graft.functions.CmHash.slotArray($"user_id", CmD, CmW),
          j + 1).as(s"slot$j")
      // two consumers (sketch + key estimates) each re-scan the source:
      // at warehouse scale re-reading parquet and recomputing 4 md5 slices
      // is far cheaper than materializing a data-sized frame — the
      // checkpoint rule (PLANS.md) is for expensive columns feeding
      // BROADCAST builds, which this is not
      val base = t(s, dir, "events")
        .select(($"user_id" +: (0 until CmD).map(slots)): _*)
      val slotArr = array((0 until CmD).map(j => col(s"slot$j")): _*)
      val sketch = base
        .select(posexplode(slotArr).as(Seq("j", "slot")))
        .groupBy($"j", $"slot").agg(count(lit(1)).as("c"))
      val keys = base
        .groupBy(($"user_id" +: (0 until CmD).map(j => col(s"slot$j"))): _*)
        .agg(count(lit(1)).as("true_cnt"))
      keys.select($"user_id", $"true_cnt", posexplode(slotArr).as(Seq("j", "slot")))
        .join(broadcast(sketch), Seq("j", "slot"))
        .groupBy($"user_id", $"true_cnt").agg(min($"c").as("cm_est"))
        .select($"user_id", $"cm_est", $"true_cnt",
          ($"cm_est" - $"true_cnt").as("overcount"))
        .orderBy($"cm_est".desc, $"user_id").limit(10)
    }),

    // ---- z-order curve values (ops.ZOrder's Morton interleave, gated
    // cross-engine). FIXED bucket boundaries (value/32 capped, user_id mod
    // 16): this row pins the bit arithmetic a z-order layout rides on.
    "p13_zorder_curve" -> ((s, dir) => {
      import s.implicits._
      val xb = greatest(least(floor($"value" / 32.0), lit(15.0)), lit(0.0))
        .cast("long")
      val yb = $"user_id" % 16L
      t(s, dir, "events")
        .select($"event_id",
          graft.ops.ZOrder.interleave(Seq(xb, yb), 4).as("zval"))
        .orderBy($"event_id")
    }),

    // ---- ordered funnel (view → click → purchase): each stage is a
    // min-timestamp agg joined to the previous stage's users, all shuffles
    // on user_id (co-partitioned; AQE reuses the exchange). The ORDERING
    // constraint (click strictly after first view, purchase strictly after
    // first qualifying click) is what makes this a funnel rather than
    // three independent filters.
    "q8_funnel" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select($"user_id", $"event_type", Det.epochS($"ts").as("es"))
      def stage(df: DataFrame, typ: String,
                prev: Option[DataFrame]): DataFrame = {
        val base = df.filter($"event_type" === typ)
        val gated = prev match {
          case Some(p) => base.join(p, "user_id")
            .filter($"es" > $"__t").drop("__t")
          case None => base
        }
        gated.groupBy($"user_id").agg(min($"es").as("__t"))
      }
      val s1 = stage(ev, "view", None)
      val s2 = stage(ev, "click", Some(s1))
      val s3 = stage(ev, "purchase", Some(s2))
      s1.agg(count(lit(1)).as("n_view")).crossJoin(
          s2.agg(count(lit(1)).as("n_view_click"))).crossJoin(
          s3.agg(count(lit(1)).as("n_full_funnel")))
    }),

    // ---- cohort retention: signup-week cohorts × active-week offsets.
    // Integer week arithmetic from truncated epoch seconds — exact in
    // both engines; one distinct on (user, week), one count per cell.
    "q9_retention_cohorts" -> ((s, dir) => {
      import s.implicits._
      val epoch0 = 1704067200L // 2024-01-01 UTC, the table's origin
      // floor division, not cast-truncation: the DuckDB twin uses `//`
      // (floor), and a pre-origin timestamp would diverge under truncation
      // (-0.5 wk → 0 truncated vs -1 floored)
      val ev = t(s, dir, "events")
        .select($"user_id", $"event_type",
          floor((Det.epochS($"ts") - epoch0) / 604800L).cast("long").as("wk"))
      val cohorts = ev.filter($"event_type" === "signup")
        .groupBy($"user_id").agg(min($"wk").as("cohort_week"))
      val active = ev.select($"user_id", $"wk").distinct()
      active.join(cohorts, "user_id")
        .filter($"wk" >= $"cohort_week")
        .groupBy($"cohort_week", ($"wk" - $"cohort_week").as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy($"cohort_week", $"week_offset")
    }))

  /** The DuckDB twin of [[knTables]] — CTE prefix ending at na,
    * shared verbatim by the t43 and t44 oracles. */
  private[queries] def knOracleCtes: String =
    s"""toks AS (
       |  SELECT doc_id, tokens,
       |    (${Det.fracSql("doc_id", KnSeed)} < 0.5) AS tr FROM
       |    (SELECT doc_id, $tokensSqlExpr AS tokens FROM documents)
       |  WHERE len(tokens) >= 2),
       |trbi AS (
       |  SELECT split_part(bg, ' ', 1) AS w1,
       |    split_part(bg, ' ', 2) AS w2 FROM (
       |    SELECT unnest(list_transform(
       |      generate_series(0, len(tokens) - 2),
       |      i -> array_to_string(list_slice(tokens, i + 1, i + 2),
       |        ' '))) AS bg
       |    FROM toks WHERE tr)),
       |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
       |       FROM trbi GROUP BY 1, 2),
       |cu AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu,
       |         CAST(count(*) AS BIGINT) AS n1pfw
       |       FROM cb GROUP BY 1),
       |bw AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1pbw
       |       FROM cb GROUP BY 1),
       |na AS (SELECT CAST(count(*) AS BIGINT) AS n1pall FROM cb)"""
      .stripMargin

  def oracles: Map[String, String] = {
    val es = Det.epochSSql("ts")
    Map(
      "z2_asof_join" ->
        s"""WITH errs AS (
           |  SELECT user_id, es, event_id AS err_id, value AS err_value
           |  FROM (SELECT user_id, $es AS es, event_id, value,
           |          row_number() OVER (PARTITION BY user_id, $es
           |            ORDER BY event_id DESC) AS rn
           |        FROM events WHERE event_type = 'error')
           |  WHERE rn = 1),
           |l AS (SELECT event_id, user_id, $es AS es FROM events)
           |SELECT l.event_id, e.err_id AS prior_error_id,
           |       round(e.err_value, 4) AS prior_error_value
           |FROM l ASOF LEFT JOIN errs e
           |  ON l.user_id = e.user_id AND l.es >= e.es
           |ORDER BY l.event_id""".stripMargin,

      "z6_asof_tolerance" ->
        s"""WITH errs AS (
           |  SELECT user_id, es, event_id AS err_id, value AS err_value
           |  FROM (SELECT user_id, $es AS es, event_id, value,
           |          row_number() OVER (PARTITION BY user_id, $es
           |            ORDER BY event_id DESC) AS rn
           |        FROM events WHERE event_type = 'error')
           |  WHERE rn = 1),
           |l AS (SELECT event_id, user_id, $es AS es FROM events)
           |SELECT l.event_id,
           |  CASE WHEN l.es - e.es <= $AsofTolS THEN e.err_id END
           |    AS prior_error_id,
           |  CASE WHEN l.es - e.es <= $AsofTolS THEN round(e.err_value, 4)
           |    END AS prior_error_value,
           |  CASE WHEN l.es - e.es <= $AsofTolS THEN l.es - e.es END
           |    AS gap_s
           |FROM l ASOF LEFT JOIN errs e
           |  ON l.user_id = e.user_id AND l.es >= e.es
           |ORDER BY l.event_id""".stripMargin,

      "t6_pack_budget" ->
        s"""WITH tok AS (
           |  SELECT doc_id, CAST(len($tokensSqlExpr) AS BIGINT) AS n_tok
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, n_tok,
           |    sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
           |      AS cum_tok
           |  FROM tok)
           |SELECT doc_id, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok,
           |  CAST((cum_tok - n_tok) // $PackBudget AS BIGINT) AS bin,
           |  CAST((cum_tok - n_tok) % $PackBudget AS BIGINT) AS bin_offset
           |FROM c ORDER BY doc_id""".stripMargin,

      "t7_gopher_rules" -> {
        val allStop = TextOps.langWords.flatMap(_._2)
          .map(w => s"'$w'").mkString(", ")
        s"""WITH f AS (
           |  SELECT doc_id,
           |    CAST(len($tokensSqlExpr) AS BIGINT) AS nw,
           |    CAST(len(replace(text, ' ', '')) AS BIGINT) AS alpha,
           |    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS nhash,
           |    CAST(len(list_filter($tokensSqlExpr, x -> x IN ($allStop)))
           |      AS BIGINT) AS nstop
           |  FROM documents)
           |SELECT doc_id, nw AS n_words,
           |  (nw >= 50 AND nw <= 100000) AS words_ok,
           |  (alpha >= nw * 3 AND alpha <= nw * 10) AS mean_word_len_ok,
           |  (nhash * 10 <= nw) AS symbol_ok,
           |  (nstop >= 2) AS stopword_ok,
           |  ((nw >= 50 AND nw <= 100000) AND (alpha >= nw * 3 AND alpha <= nw * 10)
           |   AND (nhash * 10 <= nw) AND (nstop >= 2)) AS passes_gopher
           |FROM f ORDER BY doc_id""".stripMargin
      },

      "a12_rollup" ->
        """SELECT coalesce(event_type, '(all)') AS etype,
          |  coalesce(day, '(all)') AS day, cnt, sum_value
          |FROM (
          |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
          |    count(*) AS cnt,
          |    sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
          |  FROM events GROUP BY ROLLUP(event_type, strftime(ts, '%Y-%m-%d')))
          |ORDER BY etype, day""".stripMargin,

      "u2_intersect_except" ->
        """SELECT * FROM (
          |  SELECT event_id, 'both' AS tag FROM (
          |    SELECT event_id FROM events WHERE value > 150.0
          |    INTERSECT
          |    SELECT event_id FROM events
          |    WHERE event_type IN ('error', 'click'))
          |  UNION ALL
          |  SELECT event_id, 'only_high' AS tag FROM (
          |    SELECT event_id FROM events WHERE value > 150.0
          |    EXCEPT
          |    SELECT event_id FROM events
          |    WHERE event_type IN ('error', 'click')))
          |ORDER BY event_id, tag""".stripMargin,

      "f11_json_array" ->
        """SELECT event_id, k,
          |  list_sort(list_filter([value, CAST(k AS DOUBLE)],
          |    x -> x IS NOT NULL))[1] AS lo,
          |  list_reduce(list_transform([value, CAST(k AS DOUBLE)],
          |    x -> x * 2.0), (a, b) -> a + b) AS doubled_sum
          |FROM (SELECT event_id, value,
          |        CAST(json_extract(props, '$.k') AS BIGINT) AS k
          |      FROM events)
          |ORDER BY event_id""".stripMargin,

      "t8_repetition" ->
        s"""SELECT doc_id,
           |  CAST(len(toks) AS BIGINT) AS n_words,
           |  CAST(coalesce(list_max(list_transform(list_distinct(toks),
           |    u -> len(list_filter(toks, x -> x = u)))), 0) AS BIGINT)
           |    AS top_tok_count,
           |  (coalesce(list_max(list_transform(list_distinct(toks),
           |     u -> len(list_filter(toks, x -> x = u)))), 0) * 5
           |   <= len(toks)) AS repetition_ok
           |FROM (SELECT doc_id, $tokensSqlExpr AS toks FROM documents)
           |ORDER BY doc_id""".stripMargin,

      "p12_stratified_sample" ->
        s"""SELECT event_type, CAST(rn AS INTEGER) AS rn, event_id FROM (
           |  SELECT event_type, event_id, row_number() OVER
           |    (PARTITION BY event_type
           |     ORDER BY ${Det.fracSql("event_id", 11L)}, event_id) AS rn
           |  FROM events)
           |WHERE rn <= $StratumN ORDER BY event_type, rn""".stripMargin,

      "p15_hash_split" -> {
        // 8-bit bucket from 2 hex chars (the a13 hexFold pattern; DuckDB
        // has no conv())
        val fold = "(strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16" +
          " + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)"
        s"""WITH a AS (
           |  SELECT doc_id, CAST($fold AS INTEGER) AS bucket,
           |    CASE WHEN $fold < $SplitTrainHi THEN 'train'
           |         WHEN $fold < $SplitValHi THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
           |          AS h
           |        FROM documents)),
           |s AS (SELECT split, count(*) AS n_split FROM a GROUP BY split)
           |SELECT a.doc_id, a.bucket, a.split, s.n_split
           |FROM a JOIN s ON a.split = s.split
           |ORDER BY a.doc_id""".stripMargin
      },

      "t9_decontaminate" ->
        s"""WITH toks AS (
           |  SELECT doc_id, $tokensSqlExpr AS tokens FROM documents),
           |g AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(0, greatest(len(tokens) - $DecontamN, 0)),
           |    i -> array_to_string(
           |      list_slice(tokens, i + 1, i + $DecontamN), ' '))) AS gs
           |  FROM toks WHERE len(tokens) >= $DecontamN),
           |ev AS (SELECT DISTINCT unnest(gs) AS eg FROM g WHERE doc_id % 50 = 0),
           |tr AS (SELECT doc_id, len(gs) AS n_gram, unnest(gs) AS tg
           |       FROM g WHERE doc_id % 50 <> 0),
           |h AS (SELECT doc_id, n_gram, count(*) AS n_hit FROM tr
           |      WHERE tg IN (SELECT eg FROM ev) GROUP BY doc_id, n_gram)
           |SELECT doc_id, n_hit,
           |  round(CAST(n_hit AS DOUBLE) / n_gram, 4) AS hit_frac
           |FROM h ORDER BY doc_id""".stripMargin,

      "t13_oov_rate" ->
        s"""WITH toks AS (
           |  SELECT doc_id, tokens FROM
           |    (SELECT doc_id, $tokensSqlExpr AS tokens FROM documents)
           |  WHERE len(tokens) >= 1),
           |tok AS (SELECT doc_id, unnest(tokens) AS w FROM toks),
           |vocab AS (
           |  SELECT w FROM (SELECT w, count(*) AS cu FROM tok GROUP BY w)
           |  ORDER BY cu DESC, w LIMIT $OovVocabK)
           |SELECT doc_id, count(*) AS n_tok,
           |  CAST(sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 0 ELSE 1 END)
           |    AS BIGINT) AS n_oov,
           |  round(CAST(sum(CASE WHEN w IN (SELECT w FROM vocab)
           |      THEN 0 ELSE 1 END) AS DOUBLE) / count(*), 4) AS oov_frac
           |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "t17_cooccur_lift" ->
        s"""WITH dt AS (
           |  SELECT doc_id, unnest(list_distinct($tokensSqlExpr)) AS w
           |  FROM documents),
           |vocab AS (
           |  SELECT w, df FROM
           |    (SELECT w, count(*) AS df FROM dt GROUP BY w)
           |  ORDER BY df DESC, w LIMIT $CoocVocabK),
           |dv AS (SELECT dt.doc_id, dt.w FROM dt JOIN vocab ON dt.w = vocab.w),
           |c AS (
           |  SELECT a.w AS w1, b.w AS w2, count(*) AS n_ab
           |  FROM dv a JOIN dv b ON a.doc_id = b.doc_id AND a.w < b.w
           |  GROUP BY a.w, b.w)
           |SELECT c.w1, c.w2, c.n_ab,
           |  (c.n_ab * (SELECT count(*) FROM documents) * 1000000)
           |    // (v1.df * v2.df) AS lift_ppm
           |FROM c JOIN vocab v1 ON v1.w = c.w1 JOIN vocab v2 ON v2.w = c.w2
           |ORDER BY c.w1, c.w2""".stripMargin,

      "t12_bigram_logprob" ->
        s"""WITH toks AS (
           |  SELECT doc_id, tokens FROM
           |    (SELECT doc_id, $tokensSqlExpr AS tokens FROM documents)
           |  WHERE len(tokens) >= 2),
           |uni AS (
           |  SELECT w1, count(*) AS cu FROM
           |    (SELECT unnest(tokens) AS w1 FROM toks) GROUP BY w1),
           |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
           |bi AS (
           |  SELECT doc_id, unnest(list_transform(
           |    generate_series(0, len(tokens) - 2),
           |    i -> array_to_string(list_slice(tokens, i + 1, i + 2), ' ')))
           |    AS bg
           |  FROM toks),
           |bc AS (SELECT bg, count(*) AS cb FROM bi GROUP BY bg),
           |sc AS (
           |  SELECT doc_id,
           |    CAST(round(ln((cb + 1.0) / (cu + v)) * 1000000) AS BIGINT)
           |      AS lpi
           |  FROM bi JOIN bc USING (bg)
           |    JOIN uni ON uni.w1 = split_part(bi.bg, ' ', 1)
           |    CROSS JOIN v)
           |SELECT doc_id,
           |  round(CAST(sum(lpi) AS DOUBLE) / 1000000 / count(*), 4)
           |    AS avg_logprob,
           |  count(*) AS n_bigrams
           |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "t43_kneser_ney" ->
        s"""WITH $knOracleCtes,
           |tb AS (
           |  SELECT doc_id, split_part(bg, ' ', 1) AS w1,
           |    split_part(bg, ' ', 2) AS w2 FROM (
           |    SELECT doc_id, unnest(list_transform(
           |      generate_series(0, len(tokens) - 2),
           |      i -> array_to_string(list_slice(tokens, i + 1, i + 2),
           |        ' '))) AS bg
           |    FROM toks WHERE NOT tr)),
           |j AS (
           |  SELECT tb.doc_id,
           |    (cu.cu IS NOT NULL AND bw.n1pbw IS NOT NULL) AS ok,
           |    cb.cb, cu.cu, cu.n1pfw, bw.n1pbw, na.n1pall
           |  FROM tb LEFT JOIN cu USING (w1) LEFT JOIN bw USING (w2)
           |  LEFT JOIN cb ON cb.w1 = tb.w1 AND cb.w2 = tb.w2
           |  CROSS JOIN na),
           |sc AS (
           |  SELECT doc_id, ok,
           |    CASE WHEN ok THEN CAST(round(ln(
           |      greatest(coalesce(CAST(cb AS DOUBLE), 0.0)
           |          - CAST($KnD AS DOUBLE), 0.0)
           |        / CAST(cu AS DOUBLE) +
           |        ((CAST($KnD AS DOUBLE) * CAST(n1pfw AS DOUBLE))
           |          / CAST(cu AS DOUBLE))
           |        * (CAST(n1pbw AS DOUBLE) / CAST(n1pall AS DOUBLE)))
           |      * 1000000) AS BIGINT) END AS lpi
           |  FROM j),
           |g AS (
           |  SELECT doc_id,
           |    CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_scored,
           |    CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
           |      AS n_skipped,
           |    CAST(sum(CASE WHEN ok THEN lpi ELSE 0 END) AS BIGINT)
           |      AS slpi
           |  FROM sc GROUP BY doc_id)
           |SELECT doc_id, n_scored, n_skipped,
           |  CASE WHEN n_scored > 0 THEN
           |    round(CAST(slpi AS DOUBLE) / 1000000
           |      / CAST(n_scored AS DOUBLE), 4) END AS avg_logp
           |FROM g ORDER BY doc_id""".stripMargin,

      "t44_kneser_ney3" ->
        s"""WITH $knOracleCtes,
           |$kn3OracleCtes
           |SELECT doc_id, n_tri, n_backoff, n_skipped,
           |  CASE WHEN n_tri + n_backoff > 0 THEN
           |    round(CAST(slpi AS DOUBLE) / 1000000
           |      / CAST(n_tri + n_backoff AS DOUBLE), 4) END AS avg_logp
           |FROM g ORDER BY doc_id""".stripMargin,

      "t50_perplexity_buckets" ->
        s"""WITH $knOracleCtes,
           |$kn3OracleCtes,
           |sc2 AS (
           |  SELECT doc_id,
           |    round(CAST(slpi AS DOUBLE) / 1000000
           |      / CAST(n_tri + n_backoff AS DOUBLE), 4) AS avg_logp
           |  FROM g WHERE n_tri + n_backoff > 0),
           |r AS (
           |  SELECT sc2.doc_id, d.source, sc2.avg_logp,
           |    CAST(row_number() OVER (PARTITION BY d.source
           |      ORDER BY sc2.avg_logp DESC, sc2.doc_id) AS BIGINT) AS rn,
           |    CAST(count(*) OVER (PARTITION BY d.source) AS BIGINT) AS n
           |  FROM sc2 JOIN documents d USING (doc_id))
           |SELECT doc_id, source, avg_logp,
           |  CAST((rn - 1) * $PplBuckets // n + 1 AS INT) AS ppl_bucket
           |FROM r ORDER BY doc_id""".stripMargin) ++ oraclesB
  }

  /** The DuckDB twin of [[kn3DocScores]] — the trigram count tables +
    * per-doc score CTE chain ending at `g`, shared verbatim by the t44
    * and t50 oracles (composes after [[knOracleCtes]]). */
  private def kn3OracleCtes: String =
        s"""trtg AS (
           |  SELECT split_part(tg, ' ', 1) AS w1,
           |    split_part(tg, ' ', 2) AS w2,
           |    split_part(tg, ' ', 3) AS w3 FROM (
           |    SELECT unnest(list_transform(
           |      generate_series(0, len(tokens) - 3),
           |      i -> array_to_string(list_slice(tokens, i + 1, i + 3),
           |        ' '))) AS tg
           |    FROM toks WHERE tr AND len(tokens) >= 3)),
           |c3 AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3
           |       FROM trtg GROUP BY 1, 2, 3),
           |ctx AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS c2dot,
           |          CAST(count(*) AS BIGINT) AS n1pfw12
           |        FROM c3 GROUP BY 1, 2),
           |midn AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS n1pb23
           |         FROM c3 GROUP BY 1, 2),
           |middot AS (SELECT w2, CAST(sum(n1pb23) AS BIGINT) AS middot
           |           FROM midn GROUP BY 1),
           |ttg AS (
           |  SELECT doc_id, split_part(tg, ' ', 1) AS w1,
           |    split_part(tg, ' ', 2) AS w2,
           |    split_part(tg, ' ', 3) AS w3 FROM (
           |    SELECT doc_id, unnest(list_transform(
           |      generate_series(0, len(tokens) - 3),
           |      i -> array_to_string(list_slice(tokens, i + 1, i + 3),
           |        ' '))) AS tg
           |    FROM toks WHERE NOT tr AND len(tokens) >= 3)),
           |j AS (
           |  SELECT ttg.doc_id,
           |    (ctx.c2dot IS NOT NULL AND middot.middot IS NOT NULL AND
           |     cu.n1pfw IS NOT NULL AND bw.n1pbw IS NOT NULL) AS ok3,
           |    (cu.cu IS NOT NULL AND bw.n1pbw IS NOT NULL) AS ok2,
           |    c3.c3, ctx.c2dot, ctx.n1pfw12, midn.n1pb23, middot.middot,
           |    cb.cb AS cb2, cu.cu AS cu2, cu.n1pfw AS n1pfw2, bw.n1pbw,
           |    na.n1pall
           |  FROM ttg
           |  LEFT JOIN ctx ON ctx.w1 = ttg.w1 AND ctx.w2 = ttg.w2
           |  LEFT JOIN c3 ON c3.w1 = ttg.w1 AND c3.w2 = ttg.w2
           |    AND c3.w3 = ttg.w3
           |  LEFT JOIN midn ON midn.w2 = ttg.w2 AND midn.w3 = ttg.w3
           |  LEFT JOIN middot ON middot.w2 = ttg.w2
           |  LEFT JOIN cu ON cu.w1 = ttg.w2
           |  LEFT JOIN cb ON cb.w1 = ttg.w2 AND cb.w2 = ttg.w3
           |  LEFT JOIN bw ON bw.w2 = ttg.w3
           |  CROSS JOIN na),
           |sc AS (
           |  SELECT doc_id, ok3, ok2,
           |    CASE WHEN ok3 THEN CAST(round(ln(
           |      greatest(coalesce(CAST(c3 AS DOUBLE), 0.0)
           |          - CAST($KnD AS DOUBLE), 0.0)
           |        / CAST(c2dot AS DOUBLE) +
           |        ((CAST($KnD AS DOUBLE) * CAST(n1pfw12 AS DOUBLE))
           |          / CAST(c2dot AS DOUBLE))
           |        * (greatest(coalesce(CAST(n1pb23 AS DOUBLE), 0.0)
           |              - CAST($KnD AS DOUBLE), 0.0)
           |            / CAST(middot AS DOUBLE) +
           |          ((CAST($KnD AS DOUBLE) * CAST(n1pfw2 AS DOUBLE))
           |            / CAST(middot AS DOUBLE))
           |          * (CAST(n1pbw AS DOUBLE) / CAST(n1pall AS DOUBLE))))
           |      * 1000000) AS BIGINT)
           |    WHEN ok2 THEN CAST(round(ln(
           |      greatest(coalesce(CAST(cb2 AS DOUBLE), 0.0)
           |          - CAST($KnD AS DOUBLE), 0.0)
           |        / CAST(cu2 AS DOUBLE) +
           |        ((CAST($KnD AS DOUBLE) * CAST(n1pfw2 AS DOUBLE))
           |          / CAST(cu2 AS DOUBLE))
           |        * (CAST(n1pbw AS DOUBLE) / CAST(n1pall AS DOUBLE)))
           |      * 1000000) AS BIGINT) END AS lpi
           |  FROM j),
           |g AS (
           |  SELECT doc_id,
           |    CAST(sum(CASE WHEN ok3 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_tri,
           |    CAST(sum(CASE WHEN NOT ok3 AND ok2 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_backoff,
           |    CAST(sum(CASE WHEN NOT ok3 AND NOT ok2 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_skipped,
           |    CAST(sum(CASE WHEN ok3 OR ok2 THEN lpi ELSE 0 END)
           |      AS BIGINT) AS slpi
           |  FROM sc GROUP BY doc_id)""".stripMargin

  /** Continuation of the oracle pack (split around [[kn3OracleCtes]]). */
  private def oraclesB: Map[String, String] = {
    val es = Det.epochSSql("ts")
    locally(es) // some continuation oracles use it; silence when unused
    Map(
      "t39_excess_gain" ->
        s"""WITH toks AS (
           |  SELECT doc_id, tokens FROM
           |    (SELECT doc_id, $tokensSqlExpr AS tokens FROM documents)
           |  WHERE len(tokens) >= 2),
           |uni AS (
           |  SELECT w, count(*) AS cu FROM
           |    (SELECT unnest(tokens) AS w FROM toks) GROUP BY w),
           |tt AS (SELECT CAST(count(*) AS DOUBLE) AS v,
           |         CAST(sum(cu) AS DOUBLE) AS n FROM uni),
           |bi AS (
           |  SELECT doc_id, unnest(list_transform(
           |    generate_series(0, len(tokens) - 2),
           |    i -> array_to_string(list_slice(tokens, i + 1, i + 2), ' ')))
           |    AS bg
           |  FROM toks),
           |bc AS (SELECT bg, count(*) AS cb FROM bi GROUP BY bg),
           |sc AS (
           |  SELECT doc_id,
           |    CAST(round(ln((cb + 1.0) / (u1.cu + v)) * 1000000) AS BIGINT)
           |    - CAST(round(ln((u2.cu + 1.0) / (n + v)) * 1000000) AS BIGINT)
           |      AS gi
           |  FROM bi JOIN bc USING (bg)
           |    JOIN uni u1 ON u1.w = split_part(bi.bg, ' ', 1)
           |    JOIN uni u2 ON u2.w = split_part(bi.bg, ' ', 2)
           |    CROSS JOIN tt),
           |ag AS (
           |  SELECT doc_id, CAST(sum(gi) AS BIGINT) AS sg,
           |    CAST(count(*) AS BIGINT) AS n_bigrams
           |  FROM sc GROUP BY doc_id),
           |top AS (
           |  SELECT doc_id, n_bigrams,
           |    CAST(sg AS DOUBLE) / 1000000 / n_bigrams AS gr
           |  FROM ag ORDER BY gr DESC, doc_id LIMIT $ExcessTopK)
           |SELECT doc_id, n_bigrams, round(gr, 4) AS avg_gain
           |FROM top ORDER BY doc_id""".stripMargin,

      "t14_tfidf_terms" ->
        s"""WITH tf AS (
           |  SELECT doc_id, tok, count(*) AS tf FROM (
           |    SELECT doc_id, unnest($tokensSqlExpr) AS tok FROM documents)
           |  GROUP BY doc_id, tok),
           |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
           |n AS (SELECT count(*) AS n_docs FROM documents),
           |sc AS (
           |  SELECT doc_id, tok,
           |    CAST(tf AS BIGINT) * CAST(round(ln(CAST(n_docs AS DOUBLE)
           |      / CAST(df AS DOUBLE)) * 1000000.0) AS BIGINT) AS score_e6
           |  FROM tf JOIN df USING (tok), n)
           |SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, tok, score_e6
           |FROM (
           |  SELECT doc_id, tok, score_e6, row_number() OVER
           |    (PARTITION BY doc_id ORDER BY score_e6 DESC, tok) AS rnk
           |  FROM sc)
           |WHERE rnk <= $TfidfTopK ORDER BY doc_id, rnk""".stripMargin,

      "t16_inverted_index" ->
        s"""SELECT tok, df,
           |  array_to_string(list_slice(list_sort(dids), 1, $IdxPostCap),
           |    ',') AS postings
           |FROM (
           |  SELECT tok, count(*) AS df, list(doc_id) AS dids
           |  FROM (
           |    SELECT doc_id, unnest(list_distinct($tokensSqlExpr)) AS tok
           |    FROM documents)
           |  GROUP BY tok)
           |WHERE df * $IdxDfDenom >= (SELECT count(*) FROM documents)
           |ORDER BY tok""".stripMargin,

      "t10_bm25" -> {
        val tfs = Bm25Terms.zipWithIndex.map { case (tm, i) =>
          s"CAST(len(list_filter(toks, x -> x = '$tm')) AS BIGINT) AS tf$i"
        }.mkString(", ")
        val dfs = Bm25Terms.indices.map(i =>
          s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
          .mkString(", ")
        val terms = Bm25Terms.indices.map { i =>
          s"round(ln((n - df$i + 0.5) / (df$i + 0.5) + 1.0), 6) * " +
            s"(CAST(tf$i AS DOUBLE) * 2.2) / (CAST(tf$i AS DOUBLE) + " +
            "1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))"
        }.mkString(" + ")
        s"""WITH d AS (
           |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, $tfs
           |  FROM (SELECT doc_id, $tokensSqlExpr AS toks FROM documents)),
           |st AS (
           |  SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sdl, $dfs
           |  FROM d),
           |sc AS (
           |  SELECT doc_id, dl, ${Bm25Terms.indices.map(i => s"tf$i").mkString(", ")},
           |    n, ${Bm25Terms.indices.map(i => s"df$i").mkString(", ")},
           |    CAST(sdl AS DOUBLE) / n AS avgdl
           |  FROM d, st)
           |SELECT doc_id, round($terms, 4) AS bm25
           |FROM sc ORDER BY doc_id""".stripMargin
      },

      "t11_chunk_stride" ->
        s"""WITH toks AS (
           |  SELECT doc_id, $tokensSqlExpr AS tokens FROM documents),
           |st AS (
           |  SELECT doc_id, tokens,
           |    unnest(generate_series(0, len(tokens) - 1, $ChunkS)) AS start
           |  FROM toks WHERE len(tokens) > 0)
           |SELECT doc_id, CAST(start // $ChunkS AS INTEGER) AS chunk_idx,
           |  CAST(least(len(tokens) - start, $ChunkW) AS INTEGER) AS chunk_len,
           |  substr(md5(array_to_string(
           |    list_slice(tokens, start + 1, start + $ChunkW), ' ')), 1, 8)
           |    AS chunk_hash
           |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,

      "a13_hll_distinct" -> {
        // 60-bit hash from 15 hex chars: DuckDB has no conv(), so fold the
        // chars with exact shifted-BIGINT weights (≡ Spark's conv → long)
        val hexFold = (0 until 15).map(i =>
          s"(strpos('0123456789abcdef', substr(h, ${i + 1}, 1)) - 1) * " +
            s"${1L << (4 * (14 - i))}").mkString(" + ")
        val est0 = s"$HllAlphaConst / CAST(scaled AS DOUBLE)"
        val est = s"CASE WHEN $est0 <= ${2.5 * HllM} AND zeros > 0 " +
          s"THEN ${HllM.toDouble} * round(ln(${HllM.toDouble} / zeros), 6) " +
          s"ELSE $est0 END"
        s"""WITH hv AS (
           |  SELECT CAST($hexFold AS BIGINT) AS hv
           |  FROM (SELECT substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS h
           |        FROM events)),
           |br AS (SELECT hv >> $HllRemBits AS bucket,
           |              hv & ${(1L << HllRemBits) - 1} AS rem FROM hv),
           |r AS (SELECT bucket, max(${rhoCaseSql("rem")}) AS m
           |      FROM br GROUP BY bucket),
           |f AS (SELECT coalesce(r.m, 0) AS m
           |      FROM generate_series(0, ${HllM - 1}) g(bucket)
           |      LEFT JOIN r ON g.bucket = r.bucket),
           |a AS (SELECT
           |  CAST(sum(CAST(1 AS BIGINT) << (${HllRemBits + 1} - m)) AS BIGINT)
           |    AS scaled,
           |  CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros
           |  FROM f),
           |x AS (SELECT count(DISTINCT user_id) AS exact_distinct FROM events)
           |SELECT round($est, 4) AS hll_estimate, exact_distinct,
           |  round(abs(round($est, 4) - exact_distinct) / exact_distinct, 4)
           |    AS rel_err
           |FROM a, x""".stripMargin
      },

      "a20_hll_merge" -> {
        val hexFold = (0 until 15).map(i =>
          s"(strpos('0123456789abcdef', substr(h, ${i + 1}, 1)) - 1) * " +
            s"${1L << (4 * (14 - i))}").mkString(" + ")
        s"""WITH br AS (
           |  SELECT event_type,
           |    CAST($hexFold AS BIGINT) >> $HllRemBits AS bucket,
           |    CAST($hexFold AS BIGINT) & ${(1L << HllRemBits) - 1} AS rem
           |  FROM (SELECT event_type,
           |          substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS h
           |        FROM events)),
           |rho AS (SELECT event_type, bucket, ${rhoCaseSql("rem")} AS rho
           |        FROM br),
           |merged AS (
           |  SELECT bucket, max(m) AS m FROM (
           |    SELECT event_type, bucket, max(rho) AS m FROM rho
           |    GROUP BY event_type, bucket)
           |  GROUP BY bucket),
           |direct AS (SELECT bucket, max(rho) AS md FROM rho GROUP BY bucket)
           |SELECT count(*) AS n_reg,
           |  CAST(sum(CASE WHEN merged.m = direct.md THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_equal,
           |  CAST(sum(CAST(1 AS BIGINT) << (${HllRemBits + 1} - merged.m))
           |    AS BIGINT) AS merged_scaled,
           |  CAST(sum(CAST(1 AS BIGINT) << (${HllRemBits + 1} - direct.md))
           |    AS BIGINT) AS direct_scaled
           |FROM merged JOIN direct USING (bucket)""".stripMargin
      },

      "a14_cm_heavy_hitters" -> {
        def fold8(j: Int) = (0 until 8).map(i =>
          s"(strpos('0123456789abcdef', substr(h, ${j * 8 + i + 1}, 1)) - 1)" +
            s" * ${1L << (4 * (7 - i))}").mkString(" + ")
        val slotDefs = (0 until CmD).map(j =>
          s"CAST((${fold8(j)}) % $CmW AS BIGINT) AS slot$j").mkString(", ")
        val slotCase =
          "CASE j WHEN 0 THEN slot0 WHEN 1 THEN slot1 WHEN 2 THEN slot2 " +
            "ELSE slot3 END"
        s"""WITH b AS (
           |  SELECT user_id, $slotDefs
           |  FROM (SELECT user_id, md5(CAST(user_id AS VARCHAR)) AS h
           |        FROM events)),
           |p AS (SELECT j, $slotCase AS slot
           |      FROM b, generate_series(0, ${CmD - 1}) g(j)),
           |sk AS (SELECT j, slot, count(*) AS c FROM p GROUP BY j, slot),
           |k AS (SELECT user_id, slot0, slot1, slot2, slot3,
           |        count(*) AS true_cnt
           |      FROM b GROUP BY user_id, slot0, slot1, slot2, slot3),
           |kp AS (SELECT user_id, true_cnt, j, $slotCase AS slot
           |       FROM k, generate_series(0, ${CmD - 1}) g(j)),
           |est AS (SELECT user_id, true_cnt, min(c) AS cm_est
           |        FROM kp JOIN sk USING (j, slot)
           |        GROUP BY user_id, true_cnt)
           |SELECT user_id, cm_est, true_cnt, cm_est - true_cnt AS overcount
           |FROM est ORDER BY cm_est DESC, user_id LIMIT 10""".stripMargin
      },

      "p13_zorder_curve" -> {
        // same interleave as ZOrder.interleave / interleaveHost: column 0
        // (xb) owns the high bit of each pair
        val z = (0 until 4).flatMap(i => Seq(
          s"(((xb >> $i) & 1) << ${i * 2 + 1})",
          s"(((yb >> $i) & 1) << ${i * 2})")).mkString(" + ")
        s"""SELECT event_id, CAST($z AS BIGINT) AS zval
           |FROM (SELECT event_id,
           |        CAST(greatest(least(floor(value / 32.0), 15.0), 0.0)
           |          AS BIGINT) AS xb,
           |        user_id % 16 AS yb
           |      FROM events)
           |ORDER BY event_id""".stripMargin
      },

      "q8_funnel" ->
        s"""WITH ev AS (SELECT user_id, event_type, ${Det.epochSSql("ts")} AS es
           |            FROM events),
           |s1 AS (SELECT user_id, min(es) AS t FROM ev
           |       WHERE event_type = 'view' GROUP BY user_id),
           |s2 AS (SELECT ev.user_id, min(es) AS t FROM ev
           |       JOIN s1 ON ev.user_id = s1.user_id AND ev.es > s1.t
           |       WHERE event_type = 'click' GROUP BY ev.user_id),
           |s3 AS (SELECT ev.user_id, min(es) AS t FROM ev
           |       JOIN s2 ON ev.user_id = s2.user_id AND ev.es > s2.t
           |       WHERE event_type = 'purchase' GROUP BY ev.user_id)
           |SELECT (SELECT count(*) FROM s1) AS n_view,
           |       (SELECT count(*) FROM s2) AS n_view_click,
           |       (SELECT count(*) FROM s3) AS n_full_funnel""".stripMargin,

      "q9_retention_cohorts" ->
        s"""WITH ev AS (
           |  SELECT user_id, event_type,
           |    (${Det.epochSSql("ts")} - 1704067200) // 604800 AS wk
           |  FROM events),
           |c AS (SELECT user_id, min(wk) AS cohort_week FROM ev
           |      WHERE event_type = 'signup' GROUP BY user_id),
           |a AS (SELECT DISTINCT user_id, wk FROM ev)
           |SELECT cohort_week, wk - cohort_week AS week_offset,
           |       count(*) AS n_users
           |FROM a JOIN c USING (user_id)
           |WHERE wk >= cohort_week
           |GROUP BY cohort_week, wk - cohort_week
           |ORDER BY cohort_week, week_offset""".stripMargin)
  }
}
