package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import graft.similarity.{FixedIvf, Ivf, Vectors}

/** Embedding-similarity operators over the `embeddings` table
  * (`array<float>` 64-dim). Two paths, per the training-data-pipeline brief:
  *
  *  - brute-force cosine top-k — the correctness baseline, O(Q·N) with a
  *    broadcast query side (fine when Q is small, as in batched ANN serving);
  *  - random-hyperplane LSH bucketing — the 100 TB path: bucket id is a
  *    per-row projection, candidate generation is an equi-join on bucket
  *    (shuffle on a tiny key, never a cross product).
  *
  * Dot products fold left-to-right in doubles in BOTH engines
  * ([[Vectors.dotSql]]), so cosines are bit-identical cross-engine and
  * ranking needs no tolerance.
  */
object Embed {

  private val DIM = 64
  private val NBITS = 8
  private val SEED = 7L
  /** e5's fixed quantizer: 8 medoid vectors spread across the id range
    * (disjoint from the q_id<10 query set). */
  private val CENTROID_IDS = Seq(10L, 70L, 130L, 190L, 250L, 310L, 370L, 430L)
  /** e6's fixed residual codebook sources — disjoint from centroids and
    * queries. */
  private val CODEWORD_IDS = Seq(40L, 100L, 160L, 220L, 280L, 340L, 400L, 460L)
  /** e7's in-cell near-duplicate cosine threshold (see the query's note). */
  private val SEMDEDUP_COS = 0.4
  /** e8's recall@k depth: approximate (LSH) top-k scored against the
    * exact brute-force top-k. */
  private val RECALL_K = 5
  /** e9 hybrid-RRF constants: query count, per-leg depth, the standard RRF
    * smoothing constant k0=60 (Cormack et al. 2009), fused output depth,
    * and the lexical leg's word-n-gram width (matches d6's NGRAM_N). */
  private val RRF_Q = 5
  private val RRF_LEG_K = 20
  private val RRF_K0 = 60
  private val RRF_OUT_K = 10
  private val RRF_NGRAM = 3
  /** e10 MMR constants: query count, candidate-pool depth, selections, and
    * the relevance/diversity balance λ — written as the literal doubles
    * 0.7/0.3 in BOTH engines so scores are bit-identical. */
  private val MMR_Q = 3
  private val MMR_POOL = 12
  private val MMR_K = 5
  /** e12 product-quantization geometry: 8 subspaces × 8 dims, 16 codes
    * per subspace from fixed corpus rows (disjoint from the q_id<10
    * query set), refine window 4·topK. Vectors quantize to integer
    * micro-units first (the KMeansQ recipe) so every encode/ADC distance
    * is an exact integer — bit-reproducible and SQL-unrollable. */
  private val PQ_M = 8
  private val PQ_CB_IDS: Seq[Long] = (0 until 16).map(c => 20L + 5L * c)
  private val PQ_TOPK = 5
  private val PQ_REFINE = 4
  /** e15 negative-sampling geometry: candidates drawn per anchor and the
    * keyed-LCG seed (draw id = vec_id·(K+1)+k keeps draws distinct per
    * anchor AND per slot). */
  private val NEG_K = 4
  private val NEG_SEED = 41L
  /** e16 int8-quantization gate: query-set size (the e8 convention) and
    * the recall depth. */
  private val INT8_Q = 10
  private val INT8_K = 5
  /** e17 Matryoshka truncation levels (prefix dims) and recall depth. */
  private val MRL_Q = 10
  private val MRL_K = 5
  private val MRL_DIMS = Seq(16, 32)
  /** e18 probe sweep: nProbe settings measured against the exact top-k. */
  private val SWEEP_PROBES = Seq(1, 2, 4)
  private val SWEEP_K = 5
  /** z8 serving-chain geometry: query count, probed cells, coarse-rank
    * pool size, MMR selections. */
  private val Z8_Q = 3
  private val Z8_PROBE = 2
  private val Z8_POOL = 12
  private val Z8_K = 5
  /** e19 k-means++ seeding: centroids drawn, LCG seed, and the MILLI
    * quantization scale — coarser than e11's micro on purpose: the D²
    * prefix-sum total must stay an exact double-carried integer
    * (d2 ≤ 64·(2·3e3)² ≈ 2.3e9 ⇒ ΣD² exact while n ≲ 4e6 rows; at true
    * corpus scale shard the prefix sum or rescale — stated bound).
    * CONTRACT (the i9 label-domain analogue): the FIRST pick maps
    * ⌊u·count⌋ directly to a vec_id, so `vec_id` must be DENSE 0..n−1
    * (holds for `embeddings` at every SF). On a gapped id domain the
    * Spark leg fails FAST (vecOf on an empty frame throws) while the
    * SQL oracle would silently yield an empty seed CTE — route the
    * first pick through the rank-based prefix probe (rounds ≥ 2) if a
    * gapped corpus ever needs this operator. */
  private val KppK = 4
  private val KppSeed = 89L
  private[graft] val KppScale = 1000.0
  /** e20 k-NN graph: neighbors kept per node and the second LSH table's
    * seed (two independent tables raise candidate recall; isolated
    * singleton-bucket nodes simply emit no edges — stated contract). */
  private val KnnK = 3
  private val KnnSeed2 = SEED + 100L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- E23: per-dimension embedding health audit -----------------------
    // The collapse check an embedding pipeline runs BEFORE trusting any
    // ANN/cluster result on a new model drop: per-dimension mean and
    // variance (e6-quantized exact BIGINT moments), each dim's share of
    // total variance, and the participation ratio (Σλ)²/Σλ² — the
    // standard effective-dimensionality proxy (PR ≈ d ⇒ isotropic,
    // PR ≪ d ⇒ collapsed/anisotropic; Gao et al. 2019's representation-
    // degeneration failure is exactly a low-PR embedding). Exactness:
    // BIGINT per-dim moments (|q| ≤ 1e6 ⇒ Σq² exact to ~9e6 vectors per
    // dim at this width; DECIMAL(38,0) beyond, the a40 rule); the two
    // cross-dim sums fold SORTED over exactly d doubles (the t30 rule).
    // 100 TB shape: ONE posexplode → (dim) agg collapses the corpus to
    // d rows; everything after is d-row arithmetic + a 1-row broadcast.
    "e23_dim_audit" -> ((s, dir) => {
      import s.implicits._
      val dd = (c: org.apache.spark.sql.Column) => c.cast("double")
      val mom = t(s, dir, "embeddings")
        .select(posexplode($"embedding").as(Seq("dim0", "x")))
        .select($"dim0".cast("long").as("dim"),
          round($"x".cast("double") * 1000000.0).cast("long").as("v"))
        .groupBy($"dim")
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"),
          sum($"v" * $"v").as("sv2"))
        .withColumn("mu", dd($"sv") / dd($"n"))
        .withColumn("vr", (dd($"sv2") - dd($"sv") * dd($"sv") / dd($"n")) /
          dd($"n" - 1L))
        .localCheckpoint() // feeds the cross-dim totals AND the report
      val tot = mom.agg(
        aggregate(sort_array(collect_list($"vr")), lit(0.0),
          (a, x) => a + x).as("sv_all"),
        aggregate(sort_array(collect_list($"vr" * $"vr")), lit(0.0),
          (a, x) => a + x).as("sv2_all"))
      mom.crossJoin(broadcast(tot))
        .select($"dim", $"n",
          round($"mu" / 1000000.0, 6).as("mean"),
          round($"vr" / 1000000000000.0, 6).as("variance"),
          round($"vr" / $"sv_all", 6).as("var_share"),
          round($"sv_all" * $"sv_all" / $"sv2_all", 4)
            .as("participation_ratio"))
        .orderBy($"dim")
    }),

    // ---- brute-force cosine top-5 per query vector -----------------------
    "e1_cosine_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"))
      val c = emb.select($"vec_id".as("c_id"), $"embedding".as("cv"))
      val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"c_id")
      c.crossJoin(broadcast(q))
        .filter($"q_id" =!= $"c_id")
        .withColumn("cos", Vectors.cosine($"qv", $"cv"))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 5)
        .select($"q_id", $"rnk", $"c_id", round($"cos", 6).as("cos_sim"))
        .orderBy($"q_id", $"rnk")
    }),

    // ---- LSH bucket assignment (the scale-path partitioner) --------------
    "e2_lsh_buckets" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id",
          Vectors.lshBucket($"embedding", DIM, NBITS, SEED).as("bucket"))
        .orderBy($"vec_id")
    }),

    // ---- ANN: top-3 within the query's LSH bucket ------------------------
    "e3_lsh_ann" -> ((s, dir) => {
      import s.implicits._
      // localCheckpoint: withB feeds both join sides (one via broadcast
      // build); without a hard materialization the 512-term bucket
      // expression recomputes per consumer
      val withB = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id", $"embedding",
          Vectors.lshBucket($"embedding", DIM, NBITS, SEED).as("bucket"))
        .localCheckpoint()
      val q = withB.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"bucket".as("qb"))
      val c = withB
        .select($"vec_id".as("c_id"), $"embedding".as("cv"), $"bucket".as("cb"))
      val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"c_id")
      c.join(broadcast(q), $"qb" === $"cb" && $"q_id" =!= $"c_id")
        .withColumn("cos", Vectors.cosine($"qv", $"cv"))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 3)
        .select($"q_id", $"rnk", $"c_id", round($"cos", 6).as("cos_sim"))
        .orderBy($"q_id", $"rnk")
    }),

    // ---- IVF ANN, oracle-exact: fixed medoid centroids make every stage
    // (assign → probe → in-cell rank) pure SQL arithmetic. The k-means
    // production fit keeps the identical layout (IvfSpec covers recall).
    "e5_ivf_ann" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
      // centroid scan straight off the table (id-filter pushdown; 8 rows)
      val cents = FixedIvf.centroids(t(s, dir, "embeddings"), "vec_id",
        "embedding", CENTROID_IDS)
      val indexed = FixedIvf.assign(emb, "vec_id", "embedding", cents)
        .select($"vec_id".as("c_id"), $"embedding".as("cv"), $"cell")
      val queries = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"))
      FixedIvf.search(queries, indexed, "qv", "cv", "q_id", "c_id", cents,
          topK = 5, nProbe = 2)
        .select($"q_id", $"rnk", $"c_id", round($"cos", 6).as("cos_sim"))
        .orderBy($"q_id", $"rnk")
    }),

    // ---- residual-quantized IVF ANN, oracle-exact: fixed codebooks make
    // encode (cell+code assignment, recNorm), the broadcast-only approximate
    // score, and the exact refine all pure SQL arithmetic. This runs the
    // PRODUCTION IvfRqIndex.encode/search path — only the codebook source
    // differs from the k-means fit (IvfRqSpec covers recall there).
    "e6_ivfrq_ann" -> ((s, dir) => {
      import s.implicits._
      val idx = graft.similarity.IvfRq.fixed(t(s, dir, "embeddings"),
        "vec_id", "embedding", CENTROID_IDS, CODEWORD_IDS)
      val emb = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
      val encoded = idx.encode(
        emb.select($"vec_id".as("c_id"), $"embedding".as("cv")), "c_id", "cv")
      val queries = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"))
      val full = emb.select($"vec_id".as("c_id"), $"embedding".as("cv"))
      idx.search(queries, encoded, full, "q_id", "qv", "c_id", "cv",
          topK = 5, nProbe = 2, refine = 4)
        .select($"q_id", $"rnk", $"c_id", round($"cos", 6).as("cos_sim"))
        .orderBy($"q_id", $"rnk")
    }),

    // ---- near-duplicate pairs: same bucket AND cosine > 0.9 --------------
    // Oracle mirrors the hot-bucket cap (g6 policy): the gate stays exact
    // even when the cap binds at a larger SF.
    "e4_embed_neardup" -> ((s, dir) => {
      import s.implicits._
      // hot-bucket guard INSIDE the checkpoint: the capped frame feeds both
      // self-join sides, so materializing after the cap runs the guard's
      // exchange+sort+window ONCE — checkpointing before it re-ran them per
      // consumer (the broadcast side's partitioning work was pure waste)
      val withB = graft.ops.Buckets.capMembers(
        t(s, dir, "embeddings")
          .repartition(s.sparkContext.defaultParallelism)
          .select($"vec_id", $"embedding",
            Vectors.lshBucket($"embedding", DIM, NBITS, SEED).as("bucket")),
        Seq(col("bucket")), label = "embed_neardup")
        .localCheckpoint()
      withB.as("x").join(withB.as("y"),
          col("x.bucket") === col("y.bucket") &&
            col("x.vec_id") < col("y.vec_id"))
        .withColumn("cos", Vectors.cosine(col("x.embedding"), col("y.embedding")))
        .filter($"cos" > 0.9)
        .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
          round($"cos", 6).as("cos_sim"))
        .orderBy($"a_id", $"b_id")
    }),

    // ---- E20: corpus-wide k-NN graph -----------------------------------
    // The primitive SemDeDup/cluster/graph pipelines build on: every
    // node's top-k cosine neighbors, candidates drawn from TWO
    // independent LSH tables (union → dedup by max — cos is identical
    // wherever the pair appears) so recall beats any single table while
    // the join stays bucket-keyed. 100 TB shape: candidate generation is
    // the capped (tab, bucket) self-join (hot-bucket guard + d18 drop
    // accounting), per-node top-k is a key-partitioned window — no
    // all-pairs stage anywhere. Oracle mirrors the (tab, bucket) cap
    // (g6 policy) so the gate stays exact when the cap binds.
    "e20_knn_graph" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id", $"embedding")
      val tabs = Seq(SEED, KnnSeed2).zipWithIndex.map { case (sd, ti) =>
        emb.select($"vec_id", $"embedding",
          Vectors.lshBucket($"embedding", DIM, NBITS, sd).as("bucket"),
          lit(ti).as("tab"))
      }.reduce(_.unionByName(_))
      val withB = graft.ops.Buckets.capMembers(tabs,
          Seq(col("tab"), col("bucket")), label = "knn_graph")
        .localCheckpoint() // feeds both self-join sides
      withB.as("x").join(withB.as("y"),
          col("x.tab") === col("y.tab") &&
            col("x.bucket") === col("y.bucket") &&
            col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("src"), col("y.vec_id").as("nbr"),
          Vectors.cosine(col("x.embedding"), col("y.embedding")).as("cos"))
        .groupBy($"src", $"nbr").agg(max($"cos").as("cos"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy($"src").orderBy($"cos".desc, $"nbr")))
        .filter($"rnk" <= KnnK)
        .select($"src", $"rnk", $"nbr", round($"cos", 6).as("cos_sim"))
        .orderBy($"src", $"rnk")
    }),

    // ---- product-quantization ANN (Jégou et al. 2011) --------------------
    // The m-codebook compressed index completing the quantization family
    // (e5 IVF, e6 IVF-RQ): index rows carry 8 code ids, search is ADC
    // (query-side integer LUT broadcast to the exploded code lists) with
    // exact top-refine·k re-ranking — see similarity/Pq.scala for the
    // exactness + 100 TB contract.
    "e12_pq_ann" -> ((s, dir) => {
      import s.implicits._
      // quantized frame feeds codebook collect + encode + LUT + refine →
      // localCheckpoint (fan-out rule)
      val emb = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id",
          graft.similarity.KMeansQ.quantize($"embedding", 1000000.0).as("q"),
          $"embedding")
        .localCheckpoint()
      val cbRows: Array[Array[Long]] = emb
        .filter($"vec_id".isin(PQ_CB_IDS: _*))
        .orderBy($"vec_id").select($"q").collect()
        .map(_.getSeq[Double](0).map(_.toLong).toArray)
      val idx = graft.similarity.Pq.fixedIndex(cbRows, PQ_M)
      // checkpoint the 9-column encoded frame: fusing the m·k'-kernel
      // encode projection into the downstream hashAgg stage blows the
      // 64 KB generated-method limit and drops the WHOLE stage out of
      // codegen; split, each stage compiles (PLANS.md round-5)
      val encoded = idx.encode(emb.select($"vec_id".as("c_id"), $"q"), "q")
        .select($"c_id", $"codes").localCheckpoint()
        .select($"c_id", posexplode($"codes").as(Seq("b", "c")))
      val lut = idx.lut(
        emb.filter($"vec_id" < 10).select($"vec_id".as("q_id"), $"q"),
        "q_id", "q")
      val adc = encoded.join(broadcast(lut), Seq("b", "c"))
        .filter($"q_id" =!= $"c_id")
        .groupBy($"q_id", $"c_id").agg(sum($"ld").as("adist"))
      val wA = Window.partitionBy($"q_id").orderBy($"adist", $"c_id")
      val cand = adc.withColumn("arnk", row_number().over(wA))
        .filter($"arnk" <= PQ_TOPK * PQ_REFINE)
      val qe = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"))
      val wC = Window.partitionBy($"q_id").orderBy($"cos".desc, $"c_id")
      cand
        .join(emb.select($"vec_id".as("c_id"), $"embedding".as("cv")),
          Seq("c_id"))
        .join(broadcast(qe), Seq("q_id"))
        .withColumn("cos", Vectors.cosine($"qv", $"cv"))
        .withColumn("rnk", row_number().over(wC))
        .filter($"rnk" <= PQ_TOPK)
        .select($"q_id", $"rnk", $"c_id", round($"cos", 6).as("cos_sim"))
        .orderBy($"q_id", $"rnk")
    }),

    // ---- SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
    // 2303.09540): cluster with the coarse quantizer, connect in-cell
    // pairs above a cosine threshold, keep one representative (min id)
    // per connected component, report the dropped members. In-cell
    // candidate generation IS the SemDeDup design point — cluster count
    // scales with N so cells stay bounded, and capMembers guards hot
    // cells. Threshold 0.4 is calibrated to this synthetic table (max
    // pairwise cosine 0.60; real embedding corpora use ~0.9) — the
    // operator is threshold-agnostic.
    "e7_semantic_dedup" -> ((s, dir) => {
      import s.implicits._
      val cents = FixedIvf.centroids(t(s, dir, "embeddings"), "vec_id",
        "embedding", CENTROID_IDS)
      // capped frame feeds both self-join sides → guard inside the
      // checkpoint, one guard pass (same reasoning as e4 above)
      val assigned = graft.ops.Buckets.capMembers(
          FixedIvf.assign(
            t(s, dir, "embeddings")
              .repartition(s.sparkContext.defaultParallelism),
            "vec_id", "embedding", cents),
          Seq(col("cell")), label = "semantic_dedup")
        .localCheckpoint()
      val edges = assigned.as("x").join(assigned.as("y"),
          col("x.cell") === col("y.cell") &&
            col("x.vec_id") < col("y.vec_id"))
        .withColumn("cos", Vectors.cosine(col("x.embedding"), col("y.embedding")))
        .filter($"cos" > SEMDEDUP_COS)
        .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      graft.ops.Components.connectedComponents(edges, "a_id", "b_id")
        .filter($"node" =!= $"component")
        .select($"node".as("vec_id"), $"component".as("kept_id"))
        .orderBy($"vec_id")
    }),

    // ---- ANN recall@k evaluation -----------------------------------------
    // The quality gate for the index itself: per query, |LSH top-k ∩ exact
    // top-k| as integer ppm — the recall curve an operator watches when
    // tuning NBITS/bands. Both sides run in-engine off ONE checkpointed
    // bucket frame (brute side broadcasts only the tiny query set; LSH side
    // is the e3 bucket equi-join); the hit count is a left join on
    // (q_id, c_id) over two k·|Q|-row frames — negligible next to scoring.
    "e8_ann_recall" -> ((s, dir) => {
      import s.implicits._
      val withB = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id", $"embedding",
          Vectors.lshBucket($"embedding", DIM, NBITS, SEED).as("bucket"))
        .localCheckpoint()
      val q = withB.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"bucket".as("qb"))
      val c = withB
        .select($"vec_id".as("c_id"), $"embedding".as("cv"), $"bucket".as("cb"))
      val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"c_id")
      val exact = c.crossJoin(broadcast(q.select($"q_id", $"qv")))
        .filter($"q_id" =!= $"c_id")
        .withColumn("cos", Vectors.cosine($"qv", $"cv"))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= RECALL_K)
        .select($"q_id", $"c_id")
      val approx = c.join(broadcast(q), $"qb" === $"cb" && $"q_id" =!= $"c_id")
        .withColumn("cos", Vectors.cosine($"qv", $"cv"))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= RECALL_K)
        .select($"q_id".as("a_qid"), $"c_id".as("a_cid"))
      exact.join(approx,
          $"q_id" === $"a_qid" && $"c_id" === $"a_cid", "left")
        .groupBy($"q_id")
        .agg(count($"a_cid").as("n_hit"))
        .select($"q_id", $"n_hit",
          expr(s"(n_hit * 1000000L) div ${RECALL_K}L").as("recall_ppm"))
        .orderBy($"q_id")
    }),

    // ---- hybrid retrieval: reciprocal-rank fusion of lexical + semantic --
    // The standard hybrid-search combiner (Cormack et al. 2009): each leg
    // ranks candidates independently — a lexical 3-gram-Jaccard ranking over
    // `documents` and a semantic cosine ranking over `embeddings` (the two
    // tables share the 0..N-1 id space) — and RRF fuses them as
    // Σ 1/(k0 + rank), so no score normalization across legs is needed.
    // 100 TB shape: each leg is already a bounded top-k per query (the e3 /
    // t10 bucketed recipes at scale); fusion then touches only Q·k rows — a
    // tiny full-outer join on (q_id, c_id), broadcastable, never data-scale.
    // Ranks are integers and the RRF sum is two exact double divisions, so
    // scores and orderings are bit-identical cross-engine.
    "e9_hybrid_rrf" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.filter($"vec_id" < RRF_Q)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"))
      val c = emb.select($"vec_id".as("c_id"), $"embedding".as("cv"))
      val wSem = Window.partitionBy($"q_id").orderBy($"cos".desc, $"c_id")
      val sem = c.crossJoin(broadcast(q))
        .filter($"q_id" =!= $"c_id")
        .withColumn("cos", Vectors.cosine($"qv", $"cv"))
        .withColumn("sem_rnk", row_number().over(wSem))
        .filter($"sem_rnk" <= RRF_LEG_K)
        .select($"q_id", $"c_id", $"sem_rnk")
      // lexical leg: distinct word 3-grams, Jaccard against the Q query
      // docs (broadcast). localCheckpoint: grams feeds both sides (the
      // d6 fan-out rule, PLANS.md).
      val grams = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id",
          array_distinct(
            graft.text.TextOps.wordNgrams(
              graft.text.TextOps.tokens($"text"), RRF_NGRAM)).as("g"))
        .localCheckpoint()
      val qg = grams.filter($"doc_id" < RRF_Q)
        .select($"doc_id".as("q_id"), $"g".as("qg"))
      val cg = grams.select($"doc_id".as("c_id"), $"g".as("cg"))
      val wLex = Window.partitionBy($"q_id").orderBy($"jac".desc, $"c_id")
      val lex = cg.crossJoin(broadcast(qg))
        .filter($"q_id" =!= $"c_id")
        .select($"q_id", $"c_id",
          size(array_intersect($"qg", $"cg")).cast("double").as("__i"),
          size($"qg").cast("double").as("__na"),
          size($"cg").cast("double").as("__nb"))
        .withColumn("jac", $"__i" / ($"__na" + $"__nb" - $"__i"))
        .withColumn("lex_rnk", row_number().over(wLex))
        .filter($"lex_rnk" <= RRF_LEG_K)
        .select($"q_id", $"c_id", $"lex_rnk")
      val wR = Window.partitionBy($"q_id").orderBy($"rrf".desc, $"c_id")
      sem.join(lex, Seq("q_id", "c_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(RRF_K0) + $"sem_rnk"), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RRF_K0) + $"lex_rnk"), lit(0.0)))
        .withColumn("rnk", row_number().over(wR))
        .filter($"rnk" <= RRF_OUT_K)
        .select($"q_id", $"rnk", $"c_id", round($"rrf", 6).as("rrf_score"))
        .orderBy($"q_id", $"rnk")
    }),

    // ---- MMR diversified re-ranking (Carbonell & Goldstein 1998): greedy
    // top-K maximizing λ·rel(q,c) − (1−λ)·max_{s∈S} sim(c,s) — the standard
    // diversity pass between retrieval and a training batch / RAG context.
    // Greedy selection is inherently sequential in K, but K is a small
    // constant: each round is ONE distributed pass (anti-join the picked
    // docs → max-sim agg against the selected set → per-query argmax
    // window), everything keyed by q_id. 100 TB shape: the pool is the
    // bounded per-query top-N (from any ANN leg — e3/e5 at scale), so each
    // round touches Q·N rows; pairwise pool sims are computed ONCE (Q·N²,
    // bounded) and reused each round via localCheckpoint. Scores are exact
    // shared-fold double arithmetic, so ranking needs no tolerance.
    "e10_mmr_rerank" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.filter($"vec_id" < MMR_Q)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"))
      val c = emb.select($"vec_id".as("c_id"), $"embedding".as("cv"))
      val wPool = Window.partitionBy($"q_id").orderBy($"cos".desc, $"c_id")
      val pool = c.crossJoin(broadcast(q))
        .filter($"q_id" =!= $"c_id")
        .withColumn("cos", Vectors.cosine($"qv", $"cv"))
        .withColumn("prnk", row_number().over(wPool))
        .filter($"prnk" <= MMR_POOL)
        .select($"q_id", $"c_id", $"cv", $"cos")
        .localCheckpoint() // feeds sims (both sides) + every greedy round
      val sims = pool.select($"q_id", $"c_id".as("sa"), $"cv".as("va"))
        .join(pool.select($"q_id", $"c_id".as("sb"), $"cv".as("vb")),
          Seq("q_id"))
        .filter($"sa" =!= $"sb")
        .select($"q_id", $"sa", $"sb", Vectors.cosine($"va", $"vb").as("sim"))
        .localCheckpoint()
      val wPick = Window.partitionBy($"q_id").orderBy($"score".desc, $"c_id")
      // round 1: empty selected set → the diversity term is absent
      var sel = pool
        .withColumn("score", lit(0.7) * $"cos")
        .withColumn("rnk", row_number().over(wPick))
        .filter($"rnk" === 1)
        .select($"q_id", $"c_id", lit(1).as("step"), $"score")
        .localCheckpoint()
      for (k <- 2 to MMR_K) {
        val next = pool
          .join(sel.select($"q_id", $"c_id"), Seq("q_id", "c_id"), "left_anti")
          .join(sims.join(sel.select($"q_id", $"c_id".as("sa")),
              Seq("q_id", "sa"))
            .select($"q_id", $"sb".as("c_id"), $"sim"), Seq("q_id", "c_id"))
          .groupBy($"q_id", $"c_id", $"cos")
          .agg(max($"sim").as("maxsim"))
          .withColumn("score", lit(0.7) * $"cos" - lit(0.3) * $"maxsim")
          .withColumn("rnk", row_number().over(wPick))
          .filter($"rnk" === 1)
          .select($"q_id", $"c_id", lit(k).as("step"), $"score")
        sel = sel.unionByName(next).localCheckpoint()
      }
      sel.select($"q_id", $"step", $"c_id", round($"score", 6).as("mmr_score"))
        .orderBy($"q_id", $"step")
    }),

    // ---- E15: negative-pair sampling for contrastive training -----------
    // Each anchor draws NEG_K pseudo-random candidate partners from the
    // dense id space via the keyed LCG (partition-invariant, resumable),
    // bumps a self-draw to the next id, rejects same-label candidates
    // (false negatives under the label supervision), and annotates the
    // survivors with their cosine — the overdraw-and-reject recipe of
    // in-batch-negative training prep, with hardness riding along for
    // curriculum use. 100 TB shape: one 1-row count broadcast, a NEG_K
    // explode (linear), ONE id-keyed equi-join to fetch partner
    // vector+label, codegen'd DotExpr cosines — no pairwise blowup, no
    // driver-side randomness.
    "e15_negative_sampling" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val nTot = emb.agg(count(lit(1)).as("__N"))
      val cands = emb
        .select($"vec_id", $"label".as("label_a"), $"embedding".as("va"))
        .crossJoin(broadcast(nTot))
        .select($"vec_id", $"label_a", $"va", $"__N",
          explode(sequence(lit(1), lit(NEG_K))).as("k"))
        .withColumn("__cand", floor(
          graft.functions.Det.frac(
            $"vec_id" * lit(NEG_K.toLong + 1L) + $"k", NEG_SEED) *
            $"__N".cast("double")).cast("long"))
        .withColumn("neg_id",
          when($"__cand" === $"vec_id", ($"__cand" + 1L) % $"__N")
            .otherwise($"__cand"))
      cands
        .join(emb.select($"vec_id".as("neg_id"), $"label".as("label_n"),
          $"embedding".as("vn")), Seq("neg_id"))
        .filter($"label_a" =!= $"label_n")
        .select($"vec_id", $"k", $"neg_id", $"label_n",
          round(Vectors.cosine($"va", $"vn"), 6).as("cos_sim"))
        .orderBy($"vec_id", $"k")
    }),

    // ---- E14: per-label centroid drift matrix ----------------------------
    // Corpus-composition diagnostic: the centroid of each label's
    // embeddings and the pairwise cosine between centroids — the "are my
    // sources/domains drifting apart in embedding space" report a curation
    // pipeline runs per snapshot. Exactness: the KMeansQ recipe — vectors
    // quantized once to integer micro-units, per-(label,dim) sums exact
    // BIGINTs, centroid mean an exact BIGINT floor division, the pairwise
    // dot/norm sums exact BIGINTs (< 2^53, so the final double division
    // is deterministic). 100 TB shape: ONE map-side-combined agg collapses
    // the corpus to labels·d rows; the pairwise join runs on that tiny
    // centroid frame — no corpus self-join, no driver collect.
    "e14_centroid_drift" -> ((s, dir) => {
      import s.implicits._
      val comp = t(s, dir, "embeddings")
        .select($"label",
          posexplode(graft.similarity.KMeansQ.quantize($"embedding", 1e6))
            .as(Seq("dim", "v")))
        .groupBy($"label", $"dim")
        .agg(sum($"v".cast("long")).as("sv"), count(lit(1)).as("n"))
        .withColumn("m",
          expr(graft.functions.Det.floorDivSparkSql("sv", "n")))
        .select($"label", $"dim", $"m", $"n")
      val a = comp.select($"label".as("label_a"), $"dim",
        $"m".as("ma"), $"n".as("na"))
      val b = comp.select($"label".as("label_b"), $"dim",
        $"m".as("mb"), $"n".as("nb"))
      a.join(b, Seq("dim"))
        .filter($"label_a" < $"label_b")
        .groupBy($"label_a", $"label_b")
        .agg(sum($"ma" * $"mb").as("dot"),
          sum($"ma" * $"ma").as("aa"), sum($"mb" * $"mb").as("bb"),
          max($"na").as("n_a"), max($"nb").as("n_b"))
        .select($"label_a", $"label_b", $"n_a", $"n_b",
          when($"aa" === 0L || $"bb" === 0L, 0.0)
            .otherwise(round($"dot".cast("double") /
              (sqrt($"aa".cast("double")) * sqrt($"bb".cast("double"))), 6))
            .as("cos_sim"))
        .orderBy($"label_a", $"label_b")
    }),

    // ---- E16: symmetric int8 quantization + recall/fidelity gate ---------
    // The standard 4× memory/bandwidth compression for embedding serving
    // (FAISS's SQ8 / ScaNN's int8 path): per-vector symmetric scale
    // s = max|x_d|, code q_d = floor(127·x_d/s + 0.5) ∈ [-127, 127], and
    // similarity scored on the codes. This gate reports, per query,
    // recall@k of the int8 ranking against the exact float ranking PLUS
    // the worst |Δcosine| over the true top-k (in ppm) — the two numbers
    // an operator checks before switching a 100 TB index to compressed
    // storage. Exactness: codes are integer-valued doubles (≤ 127), so
    // every int8 dot/norm is an exact integer (≤ 64·127² ≈ 1.03e6) and
    // both engines' doubles are bit-identical; ranking ties break on c_id.
    // 100 TB shape: quantization is a map-only pass (the index would be
    // WRITTEN int8, reading 4× fewer bytes per scan); scoring reuses the
    // e1 broadcast-query brute-force shape — int8 here compresses the
    // corpus scan, it does not prune candidates (compose with e3/e5
    // bucketing for that).
    "e16_int8_quant" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
        .withColumn("__scale",
          array_max(transform($"embedding", x => abs(x.cast("double")))))
        .withColumn("qvec", transform($"embedding", x =>
          when($"__scale" === 0.0, 0.0)
            .otherwise(floor(x.cast("double") * 127.0 / $"__scale" + 0.5))))
        .select($"vec_id", $"embedding", $"qvec")
      val q = emb.filter($"vec_id" < INT8_Q)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"),
          $"qvec".as("qq"))
      val c = emb.select($"vec_id".as("c_id"), $"embedding".as("cv"),
        $"qvec".as("cq"))
      val qden =
        sqrt(Vectors.dot($"qq", $"qq")) * sqrt(Vectors.dot($"cq", $"cq"))
      val pairs = c.crossJoin(broadcast(q))
        .filter($"q_id" =!= $"c_id")
        .withColumn("cos", Vectors.cosine($"qv", $"cv"))
        .withColumn("qcos", when(qden === 0.0, 0.0)
          .otherwise(Vectors.dot($"qq", $"cq") / qden))
      val wE = Window.partitionBy($"q_id").orderBy($"cos".desc, $"c_id")
      val wA = Window.partitionBy($"q_id").orderBy($"qcos".desc, $"c_id")
      pairs
        .withColumn("rnk_e", row_number().over(wE))
        .withColumn("rnk_a", row_number().over(wA))
        .filter($"rnk_e" <= INT8_K)
        .groupBy($"q_id")
        .agg(sum(when($"rnk_a" <= INT8_K, 1L).otherwise(0L)).as("n_hit"),
          max(floor(abs($"qcos" - $"cos") * 1000000.0 + 0.5).cast("long"))
            .as("max_err_ppm"))
        .select($"q_id", $"n_hit",
          expr(s"(n_hit * 1000000L) div ${INT8_K}L").as("recall_ppm"),
          $"max_err_ppm")
        .orderBy($"q_id")
    }),

    // ---- E17: Matryoshka prefix-truncation recall ------------------------
    // Matryoshka representation learning (Kusupati et al. 2022) serves the
    // FIRST d' dims of an embedding as a cheaper index (16 of 64 dims =
    // 4× less memory AND 4× fewer multiply-adds per comparison — a
    // different compression axis than e16's precision reduction). This
    // gate scores the d'∈{16, 32} prefix rankings against the full-dim
    // exact top-k — the recall curve an operator reads to pick the
    // serving dimension. One pair frame computes all three cosines (the
    // prefix dot is a strict sub-loop of the full dot, not a second
    // scan); recall is exact-integer ppm. 100 TB shape: identical to e1's
    // broadcast-query brute force — truncation shrinks the scanned bytes,
    // candidate pruning still comes from composing with e3/e5 bucketing.
    "e17_matryoshka_recall" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val q = emb.filter($"vec_id" < MRL_Q)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"))
      val c = emb.select($"vec_id".as("c_id"), $"embedding".as("cv"))
      val pairs0 = c.crossJoin(broadcast(q))
        .filter($"q_id" =!= $"c_id")
        .withColumn("cos", Vectors.cosine($"qv", $"cv"))
      val pairs = MRL_DIMS.foldLeft(pairs0)((df, d) =>
        df.withColumn(s"cos$d",
          Vectors.cosine(slice($"qv", 1, d), slice($"cv", 1, d))))
      val wE = Window.partitionBy($"q_id").orderBy($"cos".desc, $"c_id")
      val ranked = MRL_DIMS.foldLeft(
        pairs.withColumn("rnk_e", row_number().over(wE)))((df, d) =>
        df.withColumn(s"rnk$d", row_number().over(
          Window.partitionBy($"q_id")
            .orderBy(col(s"cos$d").desc, $"c_id"))))
      val hitCols = MRL_DIMS.map(d =>
        sum(when(col(s"rnk$d") <= MRL_K, 1L).otherwise(0L)).as(s"nh$d"))
      ranked.filter($"rnk_e" <= MRL_K)
        .groupBy($"q_id")
        .agg(hitCols.head, hitCols.tail: _*)
        .select($"q_id" +: MRL_DIMS.map(d =>
          expr(s"(nh$d * 1000000L) div ${MRL_K}L")
            .as(s"recall_d${d}_ppm")): _*)
        .orderBy($"q_id")
    }),

    // ---- E18: IVF probe sweep — the recall-vs-nProbe tuning curve --------
    // The parameter an IVF operator actually tunes at 100 TB: each probed
    // cell multiplies scan cost, so the deploy decision is "smallest
    // nProbe whose recall clears the SLO". One query emits the whole
    // curve: recall@5 vs the exact top-5 at nProbe ∈ {1, 2, 4} over the
    // e5 fixed-centroid index. The index frame is localCheckpoint'd — it
    // feeds FOUR consumers (three probe legs + the exact baseline), the
    // e4 multi-action checkpoint rule. Per-leg cost stays the e5 shape
    // (8-row broadcast centroid scan + bucket equi-join); the recall
    // join runs on Q·K-row frames. Denominator is the measured exact-row
    // count per leg, not an assumed Q·K.
    "e18_ivf_probe_sweep" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
      val cents = FixedIvf.centroids(t(s, dir, "embeddings"), "vec_id",
        "embedding", CENTROID_IDS)
      val indexed = FixedIvf.assign(emb, "vec_id", "embedding", cents)
        .select($"vec_id".as("c_id"), $"embedding".as("cv"), $"cell")
        .localCheckpoint()
      val queries = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"))
      val wE = Window.partitionBy($"q_id").orderBy($"cos".desc, $"c_id")
      val exact = indexed.crossJoin(broadcast(queries))
        .filter($"q_id" =!= $"c_id")
        .withColumn("cos", Vectors.cosine($"qv", $"cv"))
        .withColumn("rnk", row_number().over(wE))
        .filter($"rnk" <= SWEEP_K)
        .select($"q_id", $"c_id")
      val legs = SWEEP_PROBES.map { np =>
        FixedIvf.search(queries, indexed, "qv", "cv", "q_id", "c_id",
            cents, topK = SWEEP_K, nProbe = np)
          .select($"q_id".as("a_qid"), $"c_id".as("a_cid"),
            lit(np).as("np"))
      }.reduce(_ unionByName _)
      val exn = exact.crossJoin(broadcast(SWEEP_PROBES.toDF("nprobe")))
      exn.join(legs,
          exn("nprobe") === legs("np") && exn("q_id") === legs("a_qid") &&
            exn("c_id") === legs("a_cid"), "left")
        .groupBy($"nprobe")
        .agg(count(lit(1)).as("n_exact"), count($"a_cid").as("n_hit"))
        .select($"nprobe", $"n_exact", $"n_hit",
          expr("(n_hit * 1000000L) div n_exact").as("recall_ppm"))
        .orderBy($"nprobe")
    }),

    // ---- Z8: retrieval-serving chain e2e ---------------------------------
    // The SERVING-side analogue of the curation chains (z3 text, z5
    // embeddings, z7 composition): one hash-gated query running the full
    // production retrieval funnel — IVF candidate generation (e5's
    // fixed-centroid index, nProbe=2) → int8 COARSE ranking of the
    // candidates (e16's codes — at scale this stage reads only the 4×-
    // compressed codes) → exact float re-rank scores on the surviving
    // pool only → MMR diversification of the final answer (e10's greedy,
    // λ = 0.7/0.3). The seams are what the chain gates: the candidate
    // set feeding the coarse rank, the quantized ORDER deciding who gets
    // an exact score, and the diversity pass reading exact scores it did
    // not itself compute. 100 TB shape: every stage keeps its standalone
    // query's audited shape — broadcast centroid scan + cell equi-join,
    // codes-only scoring, exact math confined to Q·POOL rows, greedy
    // rounds on the checkpointed pool (the e10 multi-action rule).
    "z8_retrieve_e2e" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
      // int8 codes computed once and carried with the vector (the index
      // would STORE these; checkpoint: feeds assign + query + candidates)
      val coded = emb
        .withColumn("__scale",
          array_max(transform($"embedding", x => abs(x.cast("double")))))
        .withColumn("qvec", transform($"embedding", x =>
          when($"__scale" === 0.0, 0.0)
            .otherwise(floor(x.cast("double") * 127.0 / $"__scale" + 0.5))))
        .select($"vec_id", $"embedding", $"qvec")
        .localCheckpoint()
      val cents = FixedIvf.centroids(t(s, dir, "embeddings"), "vec_id",
        "embedding", CENTROID_IDS)
      val indexed = FixedIvf.assign(coded, "vec_id", "embedding", cents)
        .select($"vec_id".as("c_id"), $"embedding".as("cv"),
          $"qvec".as("cq"), $"cell")
      val queries = coded.filter($"vec_id" < Z8_Q)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"),
          $"qvec".as("qq"))
      // stage 1: IVF candidates
      val cand = FixedIvf.probe(queries, "q_id", "qv", cents, Z8_PROBE)
        .join(indexed, "cell")
        .filter($"q_id" =!= $"c_id")
      // stage 2: int8 coarse rank → pool; stage 3a: exact scores on pool
      val qden =
        sqrt(Vectors.dot($"qq", $"qq")) * sqrt(Vectors.dot($"cq", $"cq"))
      val wPool = Window.partitionBy($"q_id").orderBy($"qcos".desc, $"c_id")
      val pool = cand
        .withColumn("qcos", when(qden === 0.0, 0.0)
          .otherwise(Vectors.dot($"qq", $"cq") / qden))
        .withColumn("prnk", row_number().over(wPool))
        .filter($"prnk" <= Z8_POOL)
        .withColumn("cos", Vectors.cosine($"qv", $"cv"))
        .select($"q_id", $"c_id", $"cv", $"cos")
        .localCheckpoint() // sims (both sides) + every greedy round
      // stage 3b: MMR diversify (the e10 greedy on the chain's pool)
      val sims = pool.select($"q_id", $"c_id".as("sa"), $"cv".as("va"))
        .join(pool.select($"q_id", $"c_id".as("sb"), $"cv".as("vb")),
          Seq("q_id"))
        .filter($"sa" =!= $"sb")
        .select($"q_id", $"sa", $"sb",
          Vectors.cosine($"va", $"vb").as("sim"))
        .localCheckpoint()
      val wPick = Window.partitionBy($"q_id").orderBy($"score".desc, $"c_id")
      var sel = pool
        .withColumn("score", lit(0.7) * $"cos")
        .withColumn("rnk", row_number().over(wPick))
        .filter($"rnk" === 1)
        .select($"q_id", $"c_id", lit(1).as("step"), $"score")
        .localCheckpoint()
      for (k <- 2 to Z8_K) {
        val next = pool
          .join(sel.select($"q_id", $"c_id"), Seq("q_id", "c_id"),
            "left_anti")
          .join(sims.join(sel.select($"q_id", $"c_id".as("sa")),
              Seq("q_id", "sa"))
            .select($"q_id", $"sb".as("c_id"), $"sim"), Seq("q_id", "c_id"))
          .groupBy($"q_id", $"c_id", $"cos")
          .agg(max($"sim").as("maxsim"))
          .withColumn("score", lit(0.7) * $"cos" - lit(0.3) * $"maxsim")
          .withColumn("rnk", row_number().over(wPick))
          .filter($"rnk" === 1)
          .select($"q_id", $"c_id", lit(k).as("step"), $"score")
        sel = sel.unionByName(next).localCheckpoint()
      }
      sel.select($"q_id", $"step", $"c_id",
          round($"score", 6).as("mmr_score"))
        .orderBy($"q_id", $"step")
    }),

    // ---- E19: deterministic k-means++ seeding ----------------------------
    // Completes the clustering family (e19 init → e11 Lloyd → e13
    // quality): Arthur & Vassilvitskii 2007 D²-weighted seeding made
    // deterministic — the j-th draw's uniform comes from the keyed LCG of
    // the ROUND INDEX, and "sample ∝ D²" is realized exactly as "first
    // row whose inclusive D²-prefix-sum exceeds ⌊u·ΣD²⌋" over the vec_id
    // order (the t6 distributed prefix sum — never a one-task window).
    // All D² arithmetic is exact integers (milli-quantized vectors, the
    // KMeansQ recipe), so the pick is bit-reproducible and SQL-unrollable.
    // 100 TB shape: K−1 sequential rounds (inherent to k-means++), each
    // one shuffle-free map pass (j−1 codegen'd DotExpr kernels vs literal
    // centroids) + one two-pass prefix sum; per-round driver artifacts
    // are three bounded scalars and one d-length vector (the KMeansQ
    // codebook contract). Output: chosen ids + the ΣD² mass before each
    // draw (decreasing mass = coverage diagnostic).
    "e19_kmeanspp_init" -> ((s, dir) => {
      import s.implicits._
      import graft.expressions.DotExpr
      val vecs = t(s, dir, "embeddings")
        .select($"vec_id",
          graft.similarity.KMeansQ.quantize($"embedding", KppScale).as("q"))
        .localCheckpoint() // K−1 distance passes + the id probes
      def minD2(cents: Seq[Array[Long]]): org.apache.spark.sql.Column = {
        val qq = DotExpr.dot($"q", $"q")
        val ds = cents.map { c =>
          val cc = c.map(v => v.toDouble * v.toDouble).sum
          qq - lit(2.0) * DotExpr.dot($"q", lit(c.map(_.toDouble))) + lit(cc)
        }
        if (ds.length == 1) ds.head else least(ds: _*)
      }
      def vecOf(id: Long): Array[Long] =
        vecs.filter($"vec_id" === id).head
          .getSeq[Double](1).map(_.toLong).toArray
      val nRows = vecs.count()
      val id1 = math.floor(
        graft.functions.Det.fracHost(1L, KppSeed) * nRows).toLong
      var cents = Seq(vecOf(id1))
      var chosen = Seq((1, id1, 0L))
      for (j <- 2 to KppK) {
        val d2 = vecs
          .select($"vec_id", minD2(cents).cast("long").as("d2i"))
          .localCheckpoint() // the total agg + the cumsum pick
        val total = d2.agg(sum($"d2i")).head.getLong(0)
        val tgt = math.floor(
          graft.functions.Det.fracHost(j.toLong, KppSeed) *
            total.toDouble).toLong
        val pick = graft.ops.Ranks
          .globalCumSum(d2, Seq($"vec_id"), $"d2i", "cum")
          .filter($"cum" > tgt)
          .agg(min($"vec_id")).head.getLong(0)
        cents = cents :+ vecOf(pick)
        chosen = chosen :+ ((j, pick, total))
      }
      s.createDataFrame(chosen).toDF("round", "chosen_id", "total_d2")
        .orderBy($"round")
    }))

  def oracles: Map[String, String] = {
    val e23Oracle =
      s"""WITH dims AS (SELECT unnest(generate_series(1, $DIM)) AS i),
         |qv AS (
         |  SELECT CAST(i - 1 AS BIGINT) AS dim,
         |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0)
         |      AS BIGINT) AS v
         |  FROM embeddings CROSS JOIN dims),
         |mom AS (
         |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(v) AS BIGINT) AS sv,
         |    CAST(sum(v * v) AS BIGINT) AS sv2
         |  FROM qv GROUP BY 1),
         |mm AS (
         |  SELECT dim, n, CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         |    (CAST(sv2 AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
         |      / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS vr
         |  FROM mom),
         |tot AS (
         |  SELECT list_reduce(list_sort(list(vr)), (a, x) -> a + x)
         |      AS sv_all,
         |    list_reduce(list_sort(list(vr * vr)), (a, x) -> a + x)
         |      AS sv2_all
         |  FROM mm)
         |SELECT dim, n, round(mu / 1000000.0, 6) AS mean,
         |  round(vr / 1000000000000.0, 6) AS variance,
         |  round(vr / sv_all, 6) AS var_share,
         |  round(sv_all * sv_all / sv2_all, 4) AS participation_ratio
         |FROM mm CROSS JOIN tot ORDER BY dim""".stripMargin
    val bucketSql = Vectors.lshBucketSql("embedding", DIM, NBITS, SEED)
    val cosQC = Vectors.cosineSql("qv", "cv", DIM)
    val cosXY = Vectors.cosineSql("xe", "ye", DIM)
    // ||v - c||² expanded exactly as FixedIvf.dist2: (v·v − 2·(v·c) + c·c),
    // left-associated — bit-identical fold order in both engines
    def d2(v: String): String =
      s"(${Vectors.dotSql(v, v, DIM)} - 2.0 * ${Vectors.dotSql(v, "cenv", DIM)}" +
        s" + ${Vectors.dotSql("cenv", "cenv", DIM)})"
    // e6 fold helpers — identical left-to-right double accumulation to the
    // engine's zip_with/aggregate chain (see Vectors.dotSql)
    def fold64(term: String): String =
      s"list_reduce(list_transform(generate_series(1, $DIM), i -> $term), " +
        "(x, y) -> x + y)"
    def resDotRes(v: String, c: String): String = fold64(
      s"(CAST($v[i] AS DOUBLE) - CAST($c[i] AS DOUBLE)) * " +
        s"(CAST($v[i] AS DOUBLE) - CAST($c[i] AS DOUBLE))")
    def resDotCw(v: String, c: String, w: String): String =
      fold64(s"(CAST($v[i] AS DOUBLE) - CAST($c[i] AS DOUBLE)) * $w[i]")
    val resList =
      s"list_transform(generate_series(1, $DIM), i -> " +
        "CAST(embedding[i] AS DOUBLE) - CAST(cenv[i] AS DOUBLE))"
    val recDot = fold64(
      "(CAST(cenv[i] AS DOUBLE) + cwv[i]) * (CAST(cenv[i] AS DOUBLE) + cwv[i])")

    Map(
      "e23_dim_audit" -> e23Oracle,

      "e1_cosine_topk" ->
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv
           |           FROM embeddings WHERE vec_id < 10),
           |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
           |sc AS (SELECT q_id, c_id, $cosQC AS cos
           |       FROM q, c WHERE q_id != c_id),
           |r AS (SELECT q_id, c_id, cos, row_number() OVER
           |        (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
           |      FROM sc)
           |SELECT q_id, CAST(rnk AS INTEGER) AS rnk, c_id, round(cos, 6) AS cos_sim
           |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,

      "e2_lsh_buckets" ->
        s"""SELECT vec_id, CAST($bucketSql AS BIGINT) AS bucket
           |FROM embeddings ORDER BY vec_id""".stripMargin,

      "e3_lsh_ann" ->
        s"""WITH wb AS (SELECT vec_id, embedding, $bucketSql AS bucket
           |            FROM embeddings),
           |q AS (SELECT vec_id AS q_id, embedding AS qv, bucket AS qb
           |      FROM wb WHERE vec_id < 10),
           |c AS (SELECT vec_id AS c_id, embedding AS cv, bucket AS cb FROM wb),
           |sc AS (SELECT q_id, c_id, $cosQC AS cos
           |       FROM c JOIN q ON qb = cb AND q_id != c_id),
           |r AS (SELECT q_id, c_id, cos, row_number() OVER
           |        (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
           |      FROM sc)
           |SELECT q_id, CAST(rnk AS INTEGER) AS rnk, c_id, round(cos, 6) AS cos_sim
           |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,

      "e8_ann_recall" ->
        s"""WITH wb AS (SELECT vec_id, embedding, $bucketSql AS bucket
           |            FROM embeddings),
           |q AS (SELECT vec_id AS q_id, embedding AS qv, bucket AS qb
           |      FROM wb WHERE vec_id < 10),
           |c AS (SELECT vec_id AS c_id, embedding AS cv, bucket AS cb FROM wb),
           |ex AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id, row_number() OVER
           |      (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
           |    FROM (SELECT q_id, c_id, $cosQC AS cos
           |          FROM q, c WHERE q_id != c_id))
           |  WHERE rnk <= $RECALL_K),
           |ap AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id, row_number() OVER
           |      (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
           |    FROM (SELECT q_id, c_id, $cosQC AS cos
           |          FROM c JOIN q ON qb = cb AND q_id != c_id))
           |  WHERE rnk <= $RECALL_K)
           |SELECT e.q_id, CAST(count(a.c_id) AS BIGINT) AS n_hit,
           |  (CAST(count(a.c_id) AS BIGINT) * 1000000) // $RECALL_K
           |    AS recall_ppm
           |FROM ex e LEFT JOIN ap a ON e.q_id = a.q_id AND e.c_id = a.c_id
           |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin,

      "e9_hybrid_rrf" ->
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv
           |           FROM embeddings WHERE vec_id < $RRF_Q),
           |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
           |semr AS (
           |  SELECT q_id, c_id, sem_rnk FROM (
           |    SELECT q_id, c_id, row_number() OVER
           |      (PARTITION BY q_id ORDER BY cos DESC, c_id) AS sem_rnk
           |    FROM (SELECT q_id, c_id, $cosQC AS cos
           |          FROM q, c WHERE q_id != c_id))
           |  WHERE sem_rnk <= $RRF_LEG_K),
           |grams AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(0, greatest(len(tokens) - $RRF_NGRAM, 0)),
           |    i -> array_to_string(list_slice(tokens, i + 1, i + $RRF_NGRAM),
           |         ' '))) AS g
           |  FROM (SELECT doc_id,
           |          list_filter(string_split(text, ' '), x -> len(x) > 0)
           |          AS tokens FROM documents)),
           |lex0 AS (
           |  SELECT qg.doc_id AS q_id, cg.doc_id AS c_id,
           |    CAST(len(list_intersect(qg.g, cg.g)) AS DOUBLE) AS i,
           |    CAST(len(qg.g) AS DOUBLE) AS na,
           |    CAST(len(cg.g) AS DOUBLE) AS nb
           |  FROM (SELECT * FROM grams WHERE doc_id < $RRF_Q) qg, grams cg
           |  WHERE qg.doc_id != cg.doc_id),
           |lexr AS (
           |  SELECT q_id, c_id, lex_rnk FROM (
           |    SELECT q_id, c_id, row_number() OVER
           |      (PARTITION BY q_id ORDER BY (i / (na + nb - i)) DESC, c_id)
           |      AS lex_rnk
           |    FROM lex0)
           |  WHERE lex_rnk <= $RRF_LEG_K),
           |f AS (
           |  SELECT coalesce(s.q_id, l.q_id) AS q_id,
           |    coalesce(s.c_id, l.c_id) AS c_id,
           |    coalesce(CAST(1.0 AS DOUBLE) / ($RRF_K0 + s.sem_rnk), 0.0) +
           |    coalesce(CAST(1.0 AS DOUBLE) / ($RRF_K0 + l.lex_rnk), 0.0)
           |      AS rrf
           |  FROM semr s FULL OUTER JOIN lexr l
           |    ON s.q_id = l.q_id AND s.c_id = l.c_id),
           |r AS (
           |  SELECT q_id, c_id, rrf, row_number() OVER
           |    (PARTITION BY q_id ORDER BY rrf DESC, c_id) AS rnk
           |  FROM f)
           |SELECT q_id, CAST(rnk AS INTEGER) AS rnk, c_id,
           |  round(rrf, 6) AS rrf_score
           |FROM r WHERE rnk <= $RRF_OUT_K ORDER BY q_id, rnk""".stripMargin,

      "e5_ivf_ann" ->
        s"""WITH cent AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cenv
           |  FROM embeddings WHERE vec_id IN (${CENTROID_IDS.mkString(", ")})),
           |asg AS (
           |  SELECT vec_id AS c_id, embedding AS cv, cell, row_number() OVER
           |    (PARTITION BY vec_id ORDER BY ${d2("embedding")} ASC, cell) AS arnk
           |  FROM embeddings, cent),
           |inv AS (SELECT c_id, cv, cell FROM asg WHERE arnk = 1),
           |q AS (SELECT vec_id AS q_id, embedding AS qv
           |      FROM embeddings WHERE vec_id < 10),
           |probe AS (
           |  SELECT q_id, qv, cell, row_number() OVER
           |    (PARTITION BY q_id ORDER BY ${d2("qv")} ASC, cell) AS prnk
           |  FROM q, cent),
           |sc AS (
           |  SELECT q_id, c_id, $cosQC AS cos
           |  FROM (SELECT q_id, qv, cell FROM probe WHERE prnk <= 2) p
           |  JOIN inv USING (cell) WHERE q_id != c_id),
           |r AS (SELECT q_id, c_id, cos, row_number() OVER
           |        (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
           |      FROM sc)
           |SELECT q_id, CAST(rnk AS INTEGER) AS rnk, c_id, round(cos, 6) AS cos_sim
           |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,

      "e12_pq_ann" -> {
        // exact-integer squared distance between two 8-element BIGINT
        // sub-vector lists, folded in doubles like the DotExpr kernels
        def dist8(a: String, b: String) =
          s"list_reduce(list_transform(generate_series(1, 8), " +
            s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
            s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))), " +
            "(u, v) -> u + v)"
        s"""WITH q AS (
           |  SELECT vec_id, list_transform(embedding,
           |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
           |  FROM embeddings),
           |cbsrc AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, qv
           |  FROM q WHERE vec_id IN (${PQ_CB_IDS.mkString(", ")})),
           |cb AS (
           |  SELECT t.b, s.c,
           |    list_slice(s.qv, t.b * 8 + 1, t.b * 8 + 8) AS cw
           |  FROM cbsrc s, generate_series(0, ${PQ_M - 1}) t(b)),
           |enc AS (
           |  SELECT vec_id AS c_id, b, c FROM (
           |    SELECT v.vec_id, cb.b, cb.c, row_number() OVER
           |      (PARTITION BY v.vec_id, cb.b ORDER BY
           |       ${dist8("list_slice(v.qv, cb.b * 8 + 1, cb.b * 8 + 8)",
                            "cb.cw")}, cb.c) AS rn
           |    FROM q v, cb)
           |  WHERE rn = 1),
           |lut AS (
           |  SELECT qq.vec_id AS q_id, cb.b, cb.c,
           |    ${dist8("list_slice(qq.qv, cb.b * 8 + 1, cb.b * 8 + 8)",
                         "cb.cw")} AS ld
           |  FROM q qq, cb WHERE qq.vec_id < 10),
           |adc AS (
           |  SELECT l.q_id, e.c_id, sum(l.ld) AS adist
           |  FROM enc e JOIN lut l ON e.b = l.b AND e.c = l.c
           |  WHERE l.q_id != e.c_id GROUP BY 1, 2),
           |cand AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id, row_number() OVER
           |      (PARTITION BY q_id ORDER BY adist, c_id) AS arnk FROM adc)
           |  WHERE arnk <= ${PQ_TOPK * PQ_REFINE}),
           |sc AS (
           |  SELECT cand.q_id, cand.c_id, $cosQC AS cos
           |  FROM cand
           |    JOIN (SELECT vec_id AS q_id, embedding AS qv FROM embeddings)
           |      USING (q_id)
           |    JOIN (SELECT vec_id AS c_id, embedding AS cv FROM embeddings)
           |      USING (c_id)),
           |r AS (
           |  SELECT q_id, c_id, cos, row_number() OVER
           |    (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk FROM sc)
           |SELECT q_id, CAST(rnk AS INTEGER) AS rnk, c_id,
           |  round(cos, 6) AS cos_sim
           |FROM r WHERE rnk <= $PQ_TOPK ORDER BY q_id, rnk""".stripMargin
      },

      "e6_ivfrq_ann" ->
        s"""WITH cent AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cenv
           |  FROM embeddings WHERE vec_id IN (${CENTROID_IDS.mkString(", ")})),
           |cwa AS (
           |  SELECT vec_id, embedding, cell, cenv, row_number() OVER
           |    (PARTITION BY vec_id ORDER BY ${d2("embedding")} ASC, cell) AS arnk
           |  FROM embeddings, cent
           |  WHERE vec_id IN (${CODEWORD_IDS.mkString(", ")})),
           |cw AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
           |         $resList AS cwv
           |  FROM cwa WHERE arnk = 1),
           |asg AS (
           |  SELECT vec_id AS c_id, embedding AS cv, cell, cenv, row_number() OVER
           |    (PARTITION BY vec_id ORDER BY ${d2("embedding")} ASC, cell) AS arnk
           |  FROM embeddings, cent),
           |enc0 AS (SELECT c_id, cv, cell, cenv FROM asg WHERE arnk = 1),
           |encc AS (
           |  SELECT c_id, cell, cenv, cwv, code, row_number() OVER
           |    (PARTITION BY c_id ORDER BY
           |       (${resDotRes("cv", "cenv")} - 2.0 * ${resDotCw("cv", "cenv", "cwv")}
           |        + ${Vectors.dotSql("cwv", "cwv", DIM)}) ASC, code) AS crnk
           |  FROM enc0, cw),
           |enc AS (
           |  SELECT c_id, cell, code, sqrt($recDot) AS recNorm
           |  FROM encc WHERE crnk = 1),
           |q AS (SELECT vec_id AS q_id, embedding AS qv
           |      FROM embeddings WHERE vec_id < 10),
           |qc AS (
           |  SELECT q_id, qv, cell, ${Vectors.dotSql("qv", "cenv", DIM)} AS qdc,
           |    row_number() OVER
           |      (PARTITION BY q_id ORDER BY ${d2("qv")} ASC, cell) AS prnk
           |  FROM q, cent),
           |probes AS (SELECT q_id, qv, cell, qdc FROM qc WHERE prnk <= 2),
           |qw AS (
           |  SELECT q_id AS qwid, code AS qwcode,
           |         ${fold64("CAST(qv[i] AS DOUBLE) * cwv[i]")} AS qdw
           |  FROM q, cw),
           |qnt AS (SELECT q_id AS qnid,
           |          sqrt(${Vectors.dotSql("qv", "qv", DIM)}) AS qn FROM q),
           |cand AS (
           |  SELECT p.q_id, p.qv, e.c_id,
           |    (p.qdc + w.qdw) / (CASE WHEN qnt.qn * e.recNorm > 0.0
           |       THEN qnt.qn * e.recNorm ELSE 1.0 END) AS approx
           |  FROM probes p JOIN enc e USING (cell)
           |  JOIN qw w ON p.q_id = w.qwid AND e.code = w.qwcode
           |  JOIN qnt ON p.q_id = qnt.qnid
           |  WHERE p.q_id != e.c_id),
           |sl AS (
           |  SELECT q_id, qv, c_id, row_number() OVER
           |    (PARTITION BY q_id ORDER BY approx DESC, c_id) AS ar
           |  FROM cand),
           |ref AS (
           |  SELECT sls.q_id, sls.c_id,
           |         ${Vectors.cosineSql("qv", "cv2", DIM)} AS cos
           |  FROM (SELECT q_id, qv, c_id FROM sl WHERE ar <= 20) sls
           |  JOIN (SELECT vec_id AS cid2, embedding AS cv2 FROM embeddings) f
           |    ON sls.c_id = f.cid2),
           |r AS (SELECT q_id, c_id, cos, row_number() OVER
           |        (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
           |      FROM ref)
           |SELECT q_id, CAST(rnk AS INTEGER) AS rnk, c_id, round(cos, 6) AS cos_sim
           |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,

      "e20_knn_graph" -> {
        val bucketSql2 = Vectors.lshBucketSql("embedding", DIM, NBITS,
          KnnSeed2)
        s"""WITH wb0 AS (
           |  SELECT vec_id, embedding, 0 AS tab, $bucketSql AS bucket
           |  FROM embeddings
           |  UNION ALL
           |  SELECT vec_id, embedding, 1 AS tab, $bucketSql2 AS bucket
           |  FROM embeddings),
           |wb AS (
           |  SELECT vec_id, embedding, tab, bucket FROM (
           |    SELECT vec_id, embedding, tab, bucket,
           |      count(*) OVER (PARTITION BY tab, bucket) AS bsz FROM wb0)
           |  WHERE bsz <= ${graft.ops.Buckets.DefaultCap}),
           |p AS (SELECT x.vec_id AS src, y.vec_id AS nbr,
           |        x.embedding AS xe, y.embedding AS ye
           |      FROM wb x JOIN wb y
           |        ON x.tab = y.tab AND x.bucket = y.bucket
           |        AND x.vec_id != y.vec_id),
           |c AS (SELECT src, nbr, max(cos) AS cos FROM
           |        (SELECT src, nbr, $cosXY AS cos, xe, ye FROM p)
           |      GROUP BY src, nbr),
           |r AS (SELECT src, nbr, cos, row_number() OVER
           |        (PARTITION BY src ORDER BY cos DESC, nbr) AS rnk
           |      FROM c)
           |SELECT src, CAST(rnk AS INTEGER) AS rnk, nbr,
           |  round(cos, 6) AS cos_sim
           |FROM r WHERE rnk <= $KnnK ORDER BY src, rnk""".stripMargin
      },

      "e4_embed_neardup" ->
        s"""WITH wb0 AS (SELECT vec_id, embedding, $bucketSql AS bucket
           |             FROM embeddings),
           |wb AS (
           |  SELECT vec_id, embedding, bucket FROM (
           |    SELECT vec_id, embedding, bucket,
           |      count(*) OVER (PARTITION BY bucket) AS bsz FROM wb0)
           |  WHERE bsz <= ${graft.ops.Buckets.DefaultCap}),
           |p AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id,
           |        x.embedding AS xe, y.embedding AS ye
           |      FROM wb x JOIN wb y
           |        ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
           |SELECT a_id, b_id, round($cosXY, 6) AS cos_sim
           |FROM (SELECT a_id, b_id, $cosXY AS cos, xe, ye FROM p)
           |WHERE cos > 0.9 ORDER BY a_id, b_id""".stripMargin,

      "e7_semantic_dedup" ->
        s"""WITH RECURSIVE cent AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cenv
           |  FROM embeddings WHERE vec_id IN (${CENTROID_IDS.mkString(", ")})),
           |asg AS (
           |  SELECT vec_id, embedding, cell, row_number() OVER
           |    (PARTITION BY vec_id ORDER BY ${d2("embedding")} ASC, cell) AS arnk
           |  FROM embeddings, cent),
           |inv AS (SELECT vec_id, embedding, cell FROM asg WHERE arnk = 1),
           |p AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id,
           |        x.embedding AS xe, y.embedding AS ye
           |      FROM inv x JOIN inv y
           |        ON x.cell = y.cell AND x.vec_id < y.vec_id),
           |prs AS (SELECT a_id, b_id
           |        FROM (SELECT a_id, b_id, $cosXY AS cos, xe, ye FROM p)
           |        WHERE cos > $SEMDEDUP_COS),
           |sym AS (
           |  SELECT a_id AS src, b_id AS dst FROM prs
           |  UNION SELECT b_id, a_id FROM prs),
           |reach(src, dst) AS (
           |  SELECT src, dst FROM sym
           |  UNION SELECT src, src FROM sym
           |  UNION SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
           |SELECT src AS vec_id, min(dst) AS kept_id
           |FROM reach GROUP BY src HAVING src <> min(dst)
           |ORDER BY vec_id""".stripMargin,

      "e10_mmr_rerank" -> {
        val cosAB = Vectors.cosineSql("a.cv", "b.cv", DIM)
        // unrolled greedy: one (step, running-selected-set) CTE pair per
        // round — the same K passes the engine runs, in pure SQL
        val steps = (2 to MMR_K).map { k =>
          s"""s$k AS (
             |  SELECT q_id, c_id, $k AS step, score FROM (
             |    SELECT q_id, c_id, score, row_number() OVER
             |      (PARTITION BY q_id ORDER BY score DESC, c_id) AS rnk
             |    FROM (
             |      SELECT p.q_id, p.c_id,
             |        0.7 * p.cos - 0.3 * max(m.sim) AS score
             |      FROM pool p
             |      JOIN sims m ON m.q_id = p.q_id AND m.sb = p.c_id
             |      JOIN sel${k - 1} s ON m.q_id = s.q_id AND m.sa = s.c_id
             |      WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} z
             |        WHERE z.q_id = p.q_id AND z.c_id = p.c_id)
             |      GROUP BY p.q_id, p.c_id, p.cos))
             |  WHERE rnk = 1),
             |sel$k AS (SELECT q_id, c_id, step, score FROM sel${k - 1}
             |  UNION ALL SELECT q_id, c_id, step, score FROM s$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv
           |           FROM embeddings WHERE vec_id < $MMR_Q),
           |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
           |pool AS (
           |  SELECT q_id, c_id, cv, cos FROM (
           |    SELECT q_id, c_id, cv, cos, row_number() OVER
           |      (PARTITION BY q_id ORDER BY cos DESC, c_id) AS prnk
           |    FROM (SELECT q_id, c_id, cv, $cosQC AS cos
           |          FROM q, c WHERE q_id != c_id))
           |  WHERE prnk <= $MMR_POOL),
           |sims AS (
           |  SELECT a.q_id, a.c_id AS sa, b.c_id AS sb, $cosAB AS sim
           |  FROM pool a JOIN pool b
           |    ON a.q_id = b.q_id AND a.c_id != b.c_id),
           |sel1 AS (
           |  SELECT q_id, c_id, 1 AS step, score FROM (
           |    SELECT q_id, c_id, 0.7 * cos AS score, row_number() OVER
           |      (PARTITION BY q_id ORDER BY 0.7 * cos DESC, c_id) AS rnk
           |    FROM pool)
           |  WHERE rnk = 1),
           |$steps
           |SELECT q_id, CAST(step AS INTEGER) AS step, c_id,
           |  round(score, 6) AS mmr_score
           |FROM sel$MMR_K ORDER BY q_id, step""".stripMargin
      },

      "e14_centroid_drift" ->
        s"""WITH dims AS (SELECT unnest(generate_series(1, $DIM)) AS i),
           |qv AS (
           |  SELECT label, i - 1 AS dim,
           |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0)
           |      AS BIGINT) AS v
           |  FROM embeddings CROSS JOIN dims),
           |c AS (
           |  SELECT label, dim,
           |    ${graft.functions.Det.floorDivDuckSql(
                  "CAST(sum(v) AS BIGINT)", "count(*)")} AS m,
           |    count(*) AS n
           |  FROM qv GROUP BY label, dim),
           |p AS (
           |  SELECT a.label AS label_a, b.label AS label_b,
           |    CAST(sum(a.m * b.m) AS BIGINT) AS dot,
           |    CAST(sum(a.m * a.m) AS BIGINT) AS aa,
           |    CAST(sum(b.m * b.m) AS BIGINT) AS bb,
           |    max(a.n) AS n_a, max(b.n) AS n_b
           |  FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
           |  GROUP BY a.label, b.label)
           |SELECT label_a, label_b, n_a, n_b,
           |  CASE WHEN aa = 0 OR bb = 0 THEN 0.0
           |       ELSE round(CAST(dot AS DOUBLE) /
           |         (sqrt(CAST(aa AS DOUBLE)) * sqrt(CAST(bb AS DOUBLE))), 6)
           |  END AS cos_sim
           |FROM p ORDER BY label_a, label_b""".stripMargin,

      "e15_negative_sampling" ->
        s"""WITH n AS (SELECT count(*) AS nn FROM embeddings),
           |ks AS (SELECT CAST(unnest(range(1, ${NEG_K + 1})) AS INTEGER)
           |         AS k),
           |c AS (
           |  SELECT vec_id, label AS label_a, embedding AS va, k, nn,
           |    CAST(floor(${graft.functions.Det.fracSql(
                  s"(vec_id * ${NEG_K + 1} + k)", NEG_SEED)}
           |      * CAST(nn AS DOUBLE)) AS BIGINT) AS cand
           |  FROM embeddings CROSS JOIN ks CROSS JOIN n),
           |d AS (
           |  SELECT vec_id, label_a, va, k,
           |    CASE WHEN cand = vec_id THEN (cand + 1) % nn ELSE cand END
           |      AS neg_id
           |  FROM c)
           |SELECT d.vec_id, d.k, d.neg_id, e.label AS label_n,
           |  round(${Vectors.cosineSql("d.va", "e.embedding", DIM)}, 6)
           |    AS cos_sim
           |FROM d JOIN embeddings e ON e.vec_id = d.neg_id
           |WHERE e.label <> d.label_a
           |ORDER BY d.vec_id, d.k""".stripMargin,

      "e16_int8_quant" -> {
        val qq = Vectors.dotSql("qq", "qq", DIM)
        val cc = Vectors.dotSql("cq", "cq", DIM)
        val qc = Vectors.dotSql("qq", "cq", DIM)
        s"""WITH wq AS (
           |  SELECT vec_id, embedding,
           |    CASE WHEN s = 0.0 THEN list_transform(embedding, x -> 0.0)
           |         ELSE list_transform(embedding, x ->
           |           floor(CAST(x AS DOUBLE) * 127.0 / s + 0.5)) END
           |      AS qvec
           |  FROM (SELECT vec_id, embedding,
           |          list_max(list_transform(embedding,
           |            x -> abs(CAST(x AS DOUBLE)))) AS s
           |        FROM embeddings)),
           |q AS (SELECT vec_id AS q_id, embedding AS qv, qvec AS qq
           |      FROM wq WHERE vec_id < $INT8_Q),
           |c AS (SELECT vec_id AS c_id, embedding AS cv, qvec AS cq
           |      FROM wq),
           |p AS (
           |  SELECT q_id, c_id, ${Vectors.cosineSql("qv", "cv", DIM)} AS cos,
           |    (CASE WHEN (sqrt($qq) * sqrt($cc)) = 0.0 THEN 0.0
           |          ELSE $qc / (sqrt($qq) * sqrt($cc)) END) AS qcos
           |  FROM c CROSS JOIN q WHERE q_id <> c_id),
           |r AS (
           |  SELECT q_id, c_id, cos, qcos,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY cos DESC, c_id) AS rnk_e,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY qcos DESC, c_id) AS rnk_a
           |  FROM p)
           |SELECT q_id,
           |  CAST(sum(CASE WHEN rnk_a <= $INT8_K THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_hit,
           |  (CAST(sum(CASE WHEN rnk_a <= $INT8_K THEN 1 ELSE 0 END)
           |    AS BIGINT) * 1000000) // $INT8_K AS recall_ppm,
           |  CAST(max(floor(abs(qcos - cos) * 1000000.0 + 0.5)) AS BIGINT)
           |    AS max_err_ppm
           |FROM r WHERE rnk_e <= $INT8_K
           |GROUP BY q_id ORDER BY q_id""".stripMargin
      },

      "e17_matryoshka_recall" -> {
        val cosCols = MRL_DIMS.map(d =>
          s"${Vectors.cosineSql("qv", "cv", d)} AS cos$d").mkString(",\n    ")
        val rnkCols = MRL_DIMS.map(d =>
          s"row_number() OVER (PARTITION BY q_id ORDER BY cos$d DESC, c_id)" +
            s" AS rnk$d").mkString(",\n    ")
        val recCols = MRL_DIMS.map(d =>
          s"(CAST(sum(CASE WHEN rnk$d <= $MRL_K THEN 1 ELSE 0 END) AS " +
            s"BIGINT) * 1000000) // $MRL_K AS recall_d${d}_ppm")
          .mkString(",\n  ")
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv
           |           FROM embeddings WHERE vec_id < $MRL_Q),
           |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
           |p AS (
           |  SELECT q_id, c_id, ${Vectors.cosineSql("qv", "cv", DIM)} AS cos,
           |    $cosCols
           |  FROM c CROSS JOIN q WHERE q_id <> c_id),
           |r AS (
           |  SELECT q_id, c_id,
           |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id)
           |      AS rnk_e,
           |    $rnkCols
           |  FROM p)
           |SELECT q_id,
           |  $recCols
           |FROM r WHERE rnk_e <= $MRL_K
           |GROUP BY q_id ORDER BY q_id""".stripMargin
      },

      "e18_ivf_probe_sweep" -> {
        def leg(np: Int) =
          s"""l$np AS (
             |  SELECT $np AS nprobe, q_id, c_id FROM (
             |    SELECT q_id, c_id, row_number() OVER
             |      (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
             |    FROM (
             |      SELECT q_id, c_id, $cosQC AS cos
             |      FROM (SELECT q_id, qv, cell FROM probe WHERE prnk <= $np) p
             |      JOIN inv USING (cell) WHERE q_id != c_id))
             |  WHERE rnk <= $SWEEP_K)"""
        s"""WITH cent AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cenv
           |  FROM embeddings
           |  WHERE vec_id IN (${CENTROID_IDS.mkString(", ")})),
           |asg AS (
           |  SELECT vec_id AS c_id, embedding AS cv, cell, row_number() OVER
           |    (PARTITION BY vec_id ORDER BY ${d2("embedding")} ASC, cell)
           |    AS arnk
           |  FROM embeddings, cent),
           |inv AS (SELECT c_id, cv, cell FROM asg WHERE arnk = 1),
           |q AS (SELECT vec_id AS q_id, embedding AS qv
           |      FROM embeddings WHERE vec_id < 10),
           |probe AS (
           |  SELECT q_id, qv, cell, row_number() OVER
           |    (PARTITION BY q_id ORDER BY ${d2("qv")} ASC, cell) AS prnk
           |  FROM q, cent),
           |ex AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id, row_number() OVER
           |      (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
           |    FROM (SELECT q_id, inv.c_id AS c_id, $cosQC AS cos
           |          FROM inv CROSS JOIN q WHERE q_id != c_id))
           |  WHERE rnk <= $SWEEP_K),
           |${SWEEP_PROBES.map(leg).mkString(",\n")},
           |legs AS (${SWEEP_PROBES.map(np => s"SELECT * FROM l$np")
              .mkString(" UNION ALL ")}),
           |np AS (SELECT unnest([${SWEEP_PROBES.mkString(", ")}])
           |       AS nprobe),
           |exn AS (SELECT nprobe, q_id, c_id FROM ex CROSS JOIN np)
           |SELECT exn.nprobe,
           |  CAST(count(*) AS BIGINT) AS n_exact,
           |  CAST(count(l.c_id) AS BIGINT) AS n_hit,
           |  (CAST(count(l.c_id) AS BIGINT) * 1000000) //
           |    CAST(count(*) AS BIGINT) AS recall_ppm
           |FROM exn LEFT JOIN legs l ON l.nprobe = exn.nprobe
           |  AND l.q_id = exn.q_id AND l.c_id = exn.c_id
           |GROUP BY exn.nprobe ORDER BY exn.nprobe""".stripMargin
      },

      "z8_retrieve_e2e" -> {
        val qq = Vectors.dotSql("qq", "qq", DIM)
        val cc = Vectors.dotSql("cq", "cq", DIM)
        val qc = Vectors.dotSql("qq", "cq", DIM)
        val cosAB = Vectors.cosineSql("a.cv", "b.cv", DIM)
        val steps = (2 to Z8_K).map { k =>
          s"""s$k AS (
             |  SELECT q_id, c_id, $k AS step, score FROM (
             |    SELECT q_id, c_id, score, row_number() OVER
             |      (PARTITION BY q_id ORDER BY score DESC, c_id) AS rnk
             |    FROM (
             |      SELECT p.q_id, p.c_id,
             |        0.7 * p.cos - 0.3 * max(m.sim) AS score
             |      FROM pool p
             |      JOIN sims m ON m.q_id = p.q_id AND m.sb = p.c_id
             |      JOIN sel${k - 1} s ON m.q_id = s.q_id AND m.sa = s.c_id
             |      WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} z
             |        WHERE z.q_id = p.q_id AND z.c_id = p.c_id)
             |      GROUP BY p.q_id, p.c_id, p.cos))
             |  WHERE rnk = 1),
             |sel$k AS (SELECT q_id, c_id, step, score FROM sel${k - 1}
             |  UNION ALL SELECT q_id, c_id, step, score FROM s$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH wq AS (
           |  SELECT vec_id, embedding,
           |    CASE WHEN s = 0.0 THEN list_transform(embedding, x -> 0.0)
           |         ELSE list_transform(embedding, x ->
           |           floor(CAST(x AS DOUBLE) * 127.0 / s + 0.5)) END
           |      AS qvec
           |  FROM (SELECT vec_id, embedding,
           |          list_max(list_transform(embedding,
           |            x -> abs(CAST(x AS DOUBLE)))) AS s
           |        FROM embeddings)),
           |cent AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cenv
           |  FROM embeddings
           |  WHERE vec_id IN (${CENTROID_IDS.mkString(", ")})),
           |asg AS (
           |  SELECT vec_id AS c_id, embedding AS cv, qvec AS cq, cell,
           |    row_number() OVER
           |      (PARTITION BY vec_id ORDER BY ${d2("embedding")} ASC, cell)
           |      AS arnk
           |  FROM wq, cent),
           |inv AS (SELECT c_id, cv, cq, cell FROM asg WHERE arnk = 1),
           |q AS (SELECT vec_id AS q_id, embedding AS qv, qvec AS qq
           |      FROM wq WHERE vec_id < $Z8_Q),
           |probe AS (
           |  SELECT q_id, qv, qq, cell, row_number() OVER
           |    (PARTITION BY q_id ORDER BY ${d2("qv")} ASC, cell) AS prnk
           |  FROM q, cent),
           |cand AS (
           |  SELECT q_id, qv, qq, c_id, cv, cq
           |  FROM (SELECT q_id, qv, qq, cell FROM probe
           |        WHERE prnk <= $Z8_PROBE) p
           |  JOIN inv USING (cell) WHERE q_id != c_id),
           |coarse AS (
           |  SELECT q_id, qv, c_id, cv,
           |    (CASE WHEN (sqrt($qq) * sqrt($cc)) = 0.0 THEN 0.0
           |          ELSE $qc / (sqrt($qq) * sqrt($cc)) END) AS qcos
           |  FROM cand),
           |pool AS (
           |  SELECT q_id, c_id, cv, $cosQC AS cos FROM (
           |    SELECT q_id, qv, c_id, cv, row_number() OVER
           |      (PARTITION BY q_id ORDER BY qcos DESC, c_id) AS prnk2
           |    FROM coarse)
           |  WHERE prnk2 <= $Z8_POOL),
           |sims AS (
           |  SELECT a.q_id, a.c_id AS sa, b.c_id AS sb, $cosAB AS sim
           |  FROM pool a JOIN pool b
           |    ON a.q_id = b.q_id AND a.c_id != b.c_id),
           |sel1 AS (
           |  SELECT q_id, c_id, 1 AS step, score FROM (
           |    SELECT q_id, c_id, 0.7 * cos AS score, row_number() OVER
           |      (PARTITION BY q_id ORDER BY 0.7 * cos DESC, c_id) AS rnk
           |    FROM pool)
           |  WHERE rnk = 1),
           |$steps
           |SELECT q_id, CAST(step AS INTEGER) AS step, c_id,
           |  round(score, 6) AS mmr_score
           |FROM sel$Z8_K ORDER BY q_id, step""".stripMargin
      },

      "e19_kmeanspp_init" -> {
        def dist(cv: String) =
          s"list_reduce(list_transform(generate_series(1, $DIM), " +
            s"i -> (q.qv[i] - $cv[i]) * (q.qv[i] - $cv[i])), " +
            "(a, b) -> a + b)"
        val u1 = graft.functions.Det.fracSql("1", KppSeed)
        val rounds = (2 to KppK).map { j =>
          val prev = j - 1
          val uj = graft.functions.Det.fracSql(j.toString, KppSeed)
          s"""cents$prev AS (${(1 to prev).map(i => s"SELECT qv FROM c$i")
               .mkString(" UNION ALL ")}),
             |d$j AS (
             |  SELECT q.vec_id, min(${dist("c.qv")}) AS d2
             |  FROM q, cents$prev c GROUP BY q.vec_id),
             |cum$j AS (
             |  SELECT vec_id, CAST(sum(d2) OVER (ORDER BY vec_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS cum
             |  FROM d$j),
             |tot$j AS (SELECT CAST(sum(d2) AS BIGINT) AS t FROM d$j),
             |tgt$j AS (SELECT CAST(floor($uj * CAST(t AS DOUBLE))
             |            AS BIGINT) AS tgt FROM tot$j),
             |p$j AS (SELECT min(vec_id) AS id FROM cum$j, tgt$j
             |        WHERE cum > tgt),
             |c$j AS (SELECT q.qv FROM q JOIN p$j ON q.vec_id = p$j.id)"""
        }.mkString(",\n")
        s"""WITH q AS (
           |  SELECT vec_id, list_transform(embedding,
           |    x -> CAST(round(CAST(x AS DOUBLE) * ${KppScale.toLong})
           |      AS BIGINT)) AS qv
           |  FROM embeddings),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
           |p1 AS (SELECT CAST(floor($u1 * CAST(n AS DOUBLE)) AS BIGINT)
           |         AS id FROM n),
           |c1 AS (SELECT q.qv FROM q JOIN p1 ON q.vec_id = p1.id),
           |$rounds
           |SELECT * FROM (
           |  SELECT 1 AS round, p1.id AS chosen_id,
           |    CAST(0 AS BIGINT) AS total_d2 FROM p1
           |  ${(2 to KppK).map(j =>
                s"UNION ALL SELECT $j, p$j.id, tot$j.t FROM p$j, tot$j")
               .mkString("\n  ")}
           |) u ORDER BY round""".stripMargin
      })
  }
}
