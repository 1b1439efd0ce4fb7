package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (array<float>, dim 64).
  *
  * Two paths, as a 100 TB engine needs both:
  *  - brute-force exact top-k: broadcast the (small) query set against
  *    the full corpus — one scan, no shuffle of the corpus, per-query
  *    ranking window over a few thousand scored rows per query. This
  *    is the correctness baseline and stays viable whenever
  *    |queries| × |corpus| work fits the cluster (it parallelizes
  *    perfectly with corpus partitions).
  *  - LSH-bucketed ANN: 16 independent sign-projection tables × 6 bits;
  *    candidates are bucket collisions only, then exact re-scoring.
  *    Corpus side is one narrow projection (codes are 8 small ints per
  *    vector); the bucket join replaces the all-pairs product with
  *    O(collisions) — the classic sub-linear scale path.
  *
  * Scoring uses the native FloatDot expression (strict sequential
  * double fold — bit-compatible with the DuckDB oracle, see FloatDot).
  */
object Similarity extends QueryModule {
  import Tables._
  import graft.expressions.FloatDot.float_dot

  private val Dim = 64
  private val NumTables = 16
  private val BitsPerTable = 6

  /** Cosine over float vectors with precomputed squared norms; the
    * strict sequential double fold in FloatDot matches DuckDB's
    * list_dot_product bit for bit. */
  private[operators] def cosine(a: Column, an: Column, b: Column,
      bn: Column): Column =
    float_dot(a, b) / (sqrt(an) * sqrt(bn))

  /** Deterministic Rademacher (±1) hyperplane weights — single source
    * of truth lives in the LshCodes expression object. */
  private def planeWeights(table: Int, bit: Int): Seq[Double] =
    graft.expressions.LshCodes.planeWeights(table, bit)

  /** The (vec_id, embedding, nrm) corpus projection. */
  private[operators] def corpus(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"), col("embedding"),
      float_dot(col("embedding"), col("embedding")).as("nrm"))

  private def querySet(c: DataFrame): DataFrame =
    c.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))

  override def queries: Map[String, Q] = Map(
    // Exact top-10 neighbors per query vector, brute force.
    "sim_topk_brute" -> ((s, d) => {
      val c = corpus(s, d)
      val q = querySet(c)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      c.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("cosine", cosine(col("q_emb"), col("q_nrm"),
          col("embedding"), col("nrm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
          col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Matryoshka truncation diagnostic (Kusupati et al. 2022): top-10
    // retrieval with only the FIRST 16 of 64 dims vs the full-width
    // top-10, per query. MRL-trained embeddings are served truncated
    // (4× less memory and dot-product work per probe) and this is the
    // acceptance number for that swap: overlap_10 ≈ 10 means the
    // prefix index answers like the full one. Two broadcast-query
    // linear passes over the corpus (prefix norms are per-row
    // arithmetic, no shuffle); the left join keeps a query visible
    // even at overlap 0. Doubles stay inside the strict sequential
    // FloatDot fold, so ranks are cross-engine exact.
    "sim_matryoshka_recall" -> ((s, d) => {
      val c = corpus(s, d)
      val q = querySet(c)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      val full = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("cosine", cosine(col("q_emb"), col("q_nrm"),
          col("embedding"), col("nrm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("vec_id"))
      val pc = embeddings(s, d)
        .select(col("vec_id"), expr("slice(embedding, 1, 16)").as("p_emb"))
        .withColumn("p_nrm", float_dot(col("p_emb"), col("p_emb")))
      val pq = pc.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("p_emb").as("pq_emb"),
          col("p_nrm").as("pq_nrm"))
      val prefix = pc.join(broadcast(pq), col("vec_id") =!= col("query_id"))
        .withColumn("cosine", cosine(col("pq_emb"), col("pq_nrm"),
          col("p_emb"), col("p_nrm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
      full.join(prefix, Seq("query_id", "vec_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("overlap_10"))
        .orderBy(col("query_id"))
    }),

    // Hard-negative mining for contrastive training data: per probe
    // vector, the top-5 most similar vectors carrying a DIFFERENT
    // label — the pairs that actually move a contrastive loss (easy
    // negatives are free; hard ones are what the miner exists for).
    // Same probe-set × corpus broadcast shape as sim_topk_brute (the
    // probe set is small by definition); at corpus scale the
    // brute-force scoring swaps for the sign-LSH candidate path
    // (annTopK) with the label-mismatch filter applied to candidates
    // — identical downstream contract.
    "sim_hard_negatives" -> ((s, d) => {
      val c = embeddings(s, d).select(col("vec_id"), col("label"),
        col("embedding"),
        float_dot(col("embedding"), col("embedding")).as("nrm"))
      val q = c.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label").as("q_label"),
          col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      c.join(broadcast(q), col("label") =!= col("q_label"))
        .withColumn("cosine", cosine(col("q_emb"), col("q_nrm"),
          col("embedding"), col("nrm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("negative_id"), col("label").as("neg_label"),
          col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ANN via multi-table sign-LSH + exact re-scoring of candidates.
    // Hash-exact against the oracle: the ±1 hyperplanes are plan-time
    // constants, embedded verbatim as DOUBLE[] literals in the
    // generated SQL, and every projection/cosine is the same strict
    // sequential double fold in both engines — so the bucket layout,
    // the candidate set, and the ranking all agree exactly.
    // SimilaritySpec additionally measures recall vs brute force.
    "sim_ann_lsh" -> ((s, d) =>
      annTopK(corpus(s, d), 10).orderBy(col("query_id"), col("rank"))),

    // ANN via IVF (coarse quantizer + probed inverted lists): assign
    // every vector to its nearest of 32 centroids once, probe the 8
    // nearest lists per query, exact re-score. The at-scale pattern:
    // assignment is a linear pass, search touches nProbe/nCentroids
    // of the corpus. Centroids here are the first 32 vectors
    // (deterministic, so the whole pipeline is SQL-expressible and
    // hash-exact against the oracle); trained centroids would replace
    // standInCentroids and change nothing else. Recall vs brute force
    // is measured in SimilaritySpec.
    "sim_ann_ivf" -> ((s, d) =>
      ivfTopK(corpus(s, d), 10).orderBy(col("query_id"), col("rank"))),

    // IVF posting-list balance — the index-ops diagnostic you run
    // BEFORE trusting IVF latency numbers (the ANN counterpart of
    // dedup_simhash_buckets' banding-skew check): per-centroid list
    // size, corpus share in ppm, and the max/mean skew ratio riding
    // every row as the headline number. A skew_x100 of ~100 means
    // probes touch nProbe/nCentroids of the corpus as designed; a hot
    // list means the centroid set (here the deterministic first-32;
    // production kmeans||) has collapsed and probe cost is unbounded.
    // Every centroid appears: each centroid's own vector assigns to
    // itself (cosine 1), so no empty-list row can be silently absent.
    // One linear assignment pass + a 32-row aggregate; the totals ride
    // a broadcast 1-row cross join (bounded — PlanAuditSpec
    // exemption). skew magnitudes: mx·3200 ≤ 3.2e15 at a 1e12-vector
    // corpus — inside long on both engines.
    "sim_ivf_balance" -> ((s, d) => {
      val sizes = ivfAssignTo(standInCentroids(corpus(s, d), 32),
        corpus(s, d), "vec_id", 1)
        .groupBy(col("cid")).agg(count(lit(1)).as("n_vecs"))
      val tot = sizes.agg(sum(col("n_vecs")).as("total"),
        max(col("n_vecs")).as("mx"))
      sizes.crossJoin(broadcast(tot))
        .select(col("cid"), col("n_vecs"),
          expr("n_vecs * 1000000L div total").as("share_ppm"),
          expr("mx * 3200L div total").as("skew_x100"))
        .orderBy(col("cid"))
    }),

    // k-NN GRAPH construction — every vector's top-4 neighbors, the
    // building block under graph ANN (HNSW layer 0), SemDeDup-style
    // cluster refinement, and label propagation. Candidates come from
    // the same 16-table sign-LSH buckets as sim_ann_lsh, but with the
    // WHOLE corpus as the query side: the bucket self-join replaces
    // the all-pairs product with O(collisions), and neither side is
    // broadcast — at corpus scale both legs are corpus-sized and the
    // join keys on (table, code), so AQE picks the strategy. Exact
    // cosine re-scoring + per-vector rank-4 cut; the oracle
    // replicates the identical bucket pipeline, so the result is
    // hash-exact (the recall-vs-brute-force gap is measured in
    // SimilaritySpec for the shared LSH machinery).
    "sim_knn_graph" -> ((s, d) =>
      knnEdges(corpus(s, d), 4)
        .select(col("vec_id"), col("rank"),
          col("nbr_id").as("neighbor_id"), col("cosine"))
        .orderBy(col("vec_id"), col("rank"))),

    // Semi-supervised LABEL PROPAGATION over the k-NN graph: vectors
    // with vec_id < 250 are the labeled seed set; every other vector
    // takes the cosine-weighted majority label of its labeled
    // neighbors among its top-4 graph edges. The report is the
    // predicted-vs-true confusion matrix (ground truth exists for the
    // whole synthetic corpus, so propagation quality is measurable in
    // the query itself). Determinism: vote weights are micro-int
    // quantized cosines summed exactly; argmax ties break to the
    // smaller label via the (w·16 + (15 − label)) packed ordinal.
    // Scale shape = the knn graph's (bucket self-join), then two
    // high-cardinality keyed aggregates; the labeled side of the vote
    // join is corpus-sized too — no broadcast, AQE decides.
    "emb_label_prop" -> ((s, d) => {
      val c = corpus(s, d)
      val lab = embeddings(s, d).select(col("vec_id"), col("label"))
      val votes = knnEdges(c, 4)
        .filter(col("vec_id") >= 250)
        .join(lab.filter(col("vec_id") < 250)
          .select(col("vec_id").as("nbr_id"),
            col("label").as("n_label")), Seq("nbr_id"))
        .withColumn("wm", round(col("cosine") * 100000000L).cast("long"))
        .groupBy(col("vec_id"), col("n_label"))
        .agg(sum(col("wm")).as("w"))
        .withColumn("pk", col("w") * 16 + (lit(15) - col("n_label")))
        .groupBy(col("vec_id"))
        .agg(expr("max_by(n_label, pk)").as("predicted"))
      votes.join(lab, Seq("vec_id"))
        .groupBy(col("label"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"), col("predicted"))
    }),

    // Product quantization (Jégou et al. 2011): the memory face of
    // ANN at scale. Each 64-dim vector compresses to 8 sub-space
    // codes — 256 bytes of floats become 8 small ints — and search
    // runs over CODES via an asymmetric-distance lookup table (ADC),
    // never touching raw vectors: the design that lets a
    // billion-vector index live in RAM (production stacks it under
    // IVF's candidate pruning; here the ADC scan is deliberately
    // exhaustive so recall isolates quantization error alone —
    // measured vs brute force in SimilaritySpec). Everything is
    // exact-arithmetic: sub-vectors quantize to a micro-int grid, so
    // code assignment (argmin L2², ties to the smaller centroid via
    // dist*16+cid packing) and ADC sums are integer-identical in both
    // engines. Codebook = the first 16 vectors' sub-vectors
    // (deterministic, SQL-expressible; production swaps per-subspace
    // k-means with no other change — the sim_ann_ivf contract).
    // Scale shape: the codebook (16×8 sub-vectors) and per-query LUT
    // (10×8×16 distances) broadcast; assignment and the ADC scan are
    // linear corpus passes; the one corpus-sized shuffle keys on
    // (query_id, vec_id) for the 8-way ADC partial sums, map-side
    // combined.
    // Full triplet mining for contrastive training: per anchor, the
    // hardest POSITIVE (least similar same-label vector — the one the
    // loss must pull hardest) joined to the hardest NEGATIVE (most
    // similar different-label vector), with the margin between them —
    // the rows a triplet/InfoNCE sampler feeds straight to training.
    // One scored pass serves both sides (same probe-set × corpus
    // broadcast shape as sim_topk_brute); the two rank-1 windows
    // partition on query_id and the final join is 10 × 10 rows.
    "emb_triplets" -> ((s, d) => {
      val c = embeddings(s, d).select(col("vec_id"), col("label"),
        col("embedding"),
        float_dot(col("embedding"), col("embedding")).as("nrm"))
      val q = c.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label").as("q_label"),
          col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("cosine", cosine(col("q_emb"), col("q_nrm"),
          col("embedding"), col("nrm")))
      val wPos = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine"), col("vec_id"))
      val pos = scored.filter(col("label") === col("q_label"))
        .withColumn("rk", row_number().over(wPos))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("vec_id").as("pos_id"),
          col("cosine").as("pos_cos"))
      val wNeg = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      val neg = scored.filter(col("label") =!= col("q_label"))
        .withColumn("rk", row_number().over(wNeg))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("vec_id").as("neg_id"),
          col("cosine").as("neg_cos"))
      pos.join(neg, Seq("query_id"))
        .withColumn("margin", col("pos_cos") - col("neg_cos"))
        .orderBy(col("query_id"))
    }),

    "sim_ann_pq" -> ((s, d) => {
      val (codes, lut) = pqCodesLut(s, d)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc"), col("vec_id"))
      codes.join(broadcast(lut), Seq("m", "cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(sum(col("pd")).as("adc"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"), col("adc"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF-PQ: the production ANN composition (the FAISS workhorse) —
    // IVF's coarse quantizer prunes the corpus to the probed lists'
    // candidates, then PQ's asymmetric-distance scan ranks CODES, so
    // search touches nProbe/nCentroids of the corpus and never reads a
    // raw vector: the billion-scale shape where the index is 8 bytes
    // per vector in RAM and the exact-rerank tier sits elsewhere.
    // It calls the same kernels as its parts: candidates from
    // ivfCandidates (sim_ann_ivf's 32 stand-in centroids, 8 probes),
    // codes/LUT from pqCodesLut (sim_ann_pq's micro-int grid,
    // integer-identical in both engines). Scale shape: centroids +
    // per-query LUT broadcast; assignment and the ADC scan are linear
    // passes; the (query_id, vec_id)-keyed ADC aggregate is map-side
    // combined and runs over candidates only — nProbe/32 of the
    // corpus — instead of sim_ann_pq's deliberately exhaustive scan.
    "sim_ann_ivfpq" -> ((s, d) => {
      val c = corpus(s, d)
      val (codes, lut) = pqCodesLut(s, d)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc"), col("vec_id"))
      ivfCandidates(c, querySet(c)).join(codes, Seq("vec_id"))
        .join(broadcast(lut), Seq("query_id", "m", "cid"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(sum(col("pd")).as("adc"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"), col("adc"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ANN quality report: recall@10 of the sign-LSH index against the
    // brute-force ground truth, per probe — the acceptance metric an
    // ANN deployment is tuned by (tables/bits trade recall for
    // candidate volume). Both sides are the engine's own deterministic
    // pipelines, so the report itself is oracle-exact: a left join of
    // truth to the candidate ranking over (query, neighbor), one
    // 10-row-bounded aggregate. At corpus scale truth comes from a
    // sampled probe set exactly like this one — the report's cost is
    // one brute pass over probes x corpus plus the index lookup.
    "sim_ann_recall" -> ((s, d) => {
      val c = corpus(s, d)
      val q = querySet(c)
      val wb = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      val truth = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("cosine", cosine(col("q_emb"), col("q_nrm"),
          col("embedding"), col("nrm")))
        .withColumn("rank", row_number().over(wb))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("vec_id").as("neighbor_id"))
      val ann = annTopK(c, 10)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      truth.join(ann, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_truth"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
        .select(col("query_id"), col("n_truth"), col("n_hits"),
          expr("n_hits * 1000000L div n_truth").as("recall_ppm"))
        .orderBy(col("query_id"))
    }),

    // Recall@k CURVE (k ∈ {1, 5, 10, 20}) of the sign-LSH index —
    // sim_ann_recall generalized from the single @10 point to the
    // curve an ANN deployment is actually tuned against (serving
    // top-1 needs a different operating point than top-20; the curve
    // says whether more tables buy anything at the k you serve).
    // Truth and index rankings computed ONCE to depth 20, then the
    // 4-row k table fans the (query, neighbor) pairs out — the curve
    // costs one extra bounded join over the @10 report, not four
    // recomputations. Aggregated across queries per k: recall_ppm =
    // hits·1e6 div truth-pairs (exact integers).
    "sim_recall_curve" -> ((s, d) => {
      import s.implicits._
      val c = corpus(s, d)
      val q = querySet(c)
      val wb = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      val truth = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("cosine", cosine(col("q_emb"), col("q_nrm"),
          col("embedding"), col("nrm")))
        .withColumn("t_rank", row_number().over(wb).cast("long"))
        .filter(col("t_rank") <= 20)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("t_rank"))
      val ann = annTopK(c, 20)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("a_rank"))
      val ks = Seq(1L, 5L, 10L, 20L).toDF("k")
      truth.join(ann, Seq("query_id", "neighbor_id"), "left")
        .crossJoin(broadcast(ks))
        .filter(col("t_rank") <= col("k"))
        .groupBy(col("k"))
        .agg(countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_truth"),
          sum(when(col("a_rank") <= col("k"), 1L).otherwise(0L))
            .as("n_hits"))
        .withColumn("recall_ppm", expr("n_hits * 1000000L div n_truth"))
        .orderBy(col("k"))
    }),

    // Johnson-Lindenstrauss projection fidelity audit — the check run
    // before serving distance work from a cheap sketch: project the
    // corpus to 16 dims through the SAME deterministic Rademacher
    // planes the sign-LSH tables use (bit 0 of each table — real
    // VALUES this time, not signs) and report, for every brute-force
    // top-10 truth pair, the full-space cosine, the projected-space
    // cosine, and |error| in milli. JL says error concentrates at
    // O(sqrt(log n / k)); this measures it on the actual corpus. All
    // dot products are the strict sequential fold (matches DuckDB's
    // list_dot_product bit for bit — the dedup_embedding_cosine
    // precedent), so even the double outputs hash-match. Scale: the
    // projection is a linear scan with 16 fixed 64-term dots per row;
    // the audit join touches only the bounded truth pairs.
    "emb_jl_audit" -> ((s, d) => {
      val c = corpus(s, d)
      val q = querySet(c)
      val dots = (0 until NumTables).map { t =>
        val ws = planeWeights(t, 0)
          .map(w => if (w > 0) "1.0D" else "-1.0D")
          .mkString("array(", ",", ")")
        s"aggregate(zip_with(embedding, $ws," +
          s" (x, y) -> cast(x as double) * y)," +
          s" cast(0.0 as double), (a, v) -> a + v)"
      }
      val dot16 = "aggregate(zip_with(%s, %s, (x, y) -> x * y)," +
        " cast(0.0 as double), (a, v) -> a + v)"
      val wb = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      val truth = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("cosine", cosine(col("q_emb"), col("q_nrm"),
          col("embedding"), col("nrm")))
        .withColumn("rank", row_number().over(wb))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("cosine"))
      val proj = c
        .select(col("vec_id"), expr(s"array(${dots.mkString(",")})").as("p"))
        .withColumn("pn", expr(dot16.format("p", "p")))
      truth
        .join(proj.select(col("vec_id").as("query_id"),
          col("p").as("qp"), col("pn").as("qn")), Seq("query_id"))
        .join(proj.select(col("vec_id").as("neighbor_id"),
          col("p").as("np"), col("pn").as("nn")), Seq("neighbor_id"))
        .withColumn("jl_cosine", expr(dot16.format("qp", "np")) /
          (sqrt(col("qn")) * sqrt(col("nn"))))
        .withColumn("err_milli",
          expr("cast(round(abs(cosine - jl_cosine) * 1000) as bigint)"))
        .select(col("query_id"), col("neighbor_id"), col("cosine"),
          col("jl_cosine"), col("err_milli"))
        .orderBy(col("query_id"), col("neighbor_id"))
    })
  )

  /** Corpus-wide k-NN edges from the 16-table sign-LSH buckets: the
    * bucket self-join bounds candidates to O(collisions), neither leg
    * broadcasts (both corpus-sized; AQE picks the (tbl, code)-keyed
    * strategy), exact cosine re-scores, per-vector rank cut. Shared
    * by sim_knn_graph and emb_label_prop. */
  private def knnEdges(c: DataFrame, k: Int): DataFrame = {
    val codes = c.select(col("vec_id"), posexplode(
      graft.expressions.LshCodes.lsh_codes(col("embedding"),
        NumTables, BitsPerTable)).as(Seq("tbl", "code")))
    val candidates = codes.as("x")
      .join(codes.as("y"), col("x.tbl") === col("y.tbl") &&
        col("x.code") === col("y.code") &&
        col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"),
        col("y.vec_id").as("nbr_id"))
      .distinct()
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("nbr_id"))
    candidates
      .join(c.select(col("vec_id"), col("embedding"), col("nrm")),
        Seq("vec_id"))
      .join(c.select(col("vec_id").as("nbr_id"),
        col("embedding").as("n_emb"), col("nrm").as("n_nrm")),
        Seq("nbr_id"))
      .withColumn("cosine", cosine(col("embedding"), col("nrm"),
        col("n_emb"), col("n_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** LSH candidate generation + exact scoring. Returned rank is dense
    * per query over candidates only. */
  def annTopK(c: DataFrame, k: Int): DataFrame = {
    val q = querySet(c)
    // All 16 table codes in one native-expression pass per vector (see
    // LshCodes: the per-table FloatDot formulation put ~6k nodes into
    // the plan and analysis/codegen dominated wall time).
    def codes(df: DataFrame, idCol: String, vecCol: String): DataFrame =
      df.select(col(idCol), posexplode(
        graft.expressions.LshCodes.lsh_codes(col(vecCol), NumTables,
          BitsPerTable)).as(Seq("tbl", "code")))
    val corpusCodes = codes(c, "vec_id", "embedding")
    val queryCodes = codes(q.withColumnRenamed("q_emb", "embedding"),
      "query_id", "embedding")
    val candidates = corpusCodes
      .join(broadcast(queryCodes), Seq("tbl", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    candidates
      .join(c, Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", cosine(col("q_emb"), col("q_nrm"),
        col("embedding"), col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
  }

  /** The first `nCentroids` vectors as the IVF coarse quantizer
    * (cid, c_emb, c_nrm): deterministic, so the whole pipeline is
    * SQL-expressible and hash-exact against the oracle. */
  private[operators] def standInCentroids(c: DataFrame,
      nCentroids: Int): DataFrame =
    c.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))

  /** Each row of `df` (which must carry `embedding`/`nrm`) with its
    * `topn` nearest centroids by cosine, ties to the lower cid: the
    * centroids broadcast, one linear pass over df, a per-row top-n
    * window over the centroid rows. The pass under both IVF list
    * building and query probing. */
  private def ivfAssignTo(cent: DataFrame, df: DataFrame, idCol: String,
      topn: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("c_sim").desc, col("cid"))
    df.crossJoin(broadcast(cent))
      .withColumn("c_sim", cosine(col("embedding"), col("nrm"),
        col("c_emb"), col("c_nrm")))
      .withColumn("c_rk", row_number().over(w))
      .filter(col("c_rk") <= topn)
      .select(col(idCol), col("cid"))
  }

  /** The IVF candidate step: every vector of `c` goes to the list of
    * its nearest of the 32 stand-in centroids, and each probe of `q`
    * reads its 8 nearest lists. Returns the distinct (query_id,
    * vec_id) pairs found there, the probe itself excluded. Shared by
    * sim_ann_ivf (exact re-score) and sim_ann_ivfpq (ADC over codes). */
  private def ivfCandidates(c: DataFrame, q: DataFrame): DataFrame = {
    val cent = standInCentroids(c, 32)
    val lists = ivfAssignTo(cent, c, "vec_id", 1)
    val probes = ivfAssignTo(cent,
      q.select(col("query_id"), col("q_emb").as("embedding"),
        col("q_nrm").as("nrm")), "query_id", 8)
    probes.join(lists, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
  }

  /** IVF candidates re-scored by exact cosine, top `k` per probe. */
  private def ivfTopK(c: DataFrame, k: Int): DataFrame = {
    val q = querySet(c)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    ivfCandidates(c, q)
      .join(c, Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", cosine(col("q_emb"), col("q_nrm"),
        col("embedding"), col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
  }

  /** The PQ kernel shared by sim_ann_pq and sim_ann_ivfpq: every vector
    * on the micro-int grid (integer-identical in both engines), cut
    * into 8 subvectors of 8; each subspace's codebook is the first 16
    * vectors' subvectors. Returns `codes` (vec_id, m, cid), each
    * subvector's nearest codeword by squared L2 (ties to the lower
    * cid), and the 10 probes' lookup table `lut` (query_id, m, cid,
    * pd), the squared distance from each probe subvector to each
    * codeword. */
  private def pqCodesLut(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val (m8, sub, k16) = (8, 8, 16)
    val e = embeddings(s, d).select(col("vec_id"), expr(
      "transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))")
      .as("qv"))
    val subs = e.select(col("vec_id"), posexplode(expr(
      s"transform(sequence(0, ${m8 - 1})," +
        s" m -> slice(qv, m * $sub + 1, $sub))")).as(Seq("m", "svec")))
    val cent = subs.filter(col("vec_id") < k16)
      .select(col("vec_id").as("cid"), col("m"), col("svec").as("cvec"))
    val dist = expr("aggregate(zip_with(svec, cvec," +
      " (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
    val codes = subs.join(broadcast(cent), Seq("m"))
      .withColumn("pk", dist * lit(k16) + col("cid"))
      .groupBy(col("vec_id"), col("m")).agg(min(col("pk")).as("mpk"))
      .select(col("vec_id"), col("m"), (col("mpk") % k16).as("cid"))
    val lut = subs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("m"), col("svec"))
      .join(broadcast(cent), Seq("m"))
      .select(col("query_id"), col("m"), col("cid"), dist.as("pd"))
    (codes, lut)
  }

  /** SQL literal for one hyperplane's ±1 weights. */
  private def weightsLit(table: Int, bit: Int): String =
    planeWeights(table, bit)
      .map(w => if (w > 0) "1.0" else "-1.0")
      .mkString("[", ",", "]::DOUBLE[]")

  /** One table's 6-bit sign code over column `emb` (SQL dialect). */
  private def codeSql(table: Int): String =
    (0 until BitsPerTable).map { bit =>
      s"(CASE WHEN list_dot_product(emb, ${weightsLit(table, bit)}) >= 0 THEN ${1 << bit} ELSE 0 END)"
    }.mkString(" + ")

  // DuckDB fragments of the kernels above, one definition each; Corpus
  // splices in corpusSql too. A fragment holds only text that is
  // byte-identical in every oracle using it: a CTE's `name AS
  // [MATERIALIZED]` header stays in the oracle.

  /** Body of the float corpus CTE (vec_id, emb, nrm), mirroring
    * [[corpus]]. */
  private[operators] val corpusSql =
    """(
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |    list_dot_product(CAST(embedding AS DOUBLE[]),
      |                     CAST(embedding AS DOUBLE[])) AS nrm
      |  FROM embeddings)""".stripMargin

  /** The 16 tables' sign codes `k0`..`k15` of `emb`, as select items. */
  private val lshCodesSql = (0 until NumTables)
    .map(t => s"${codeSql(t)} AS k$t").mkString(",\n    ")

  /** Body of the coded corpus CTE over `c0`: the codes lsh_codes
    * gives [[annTopK]] and [[knnEdges]]. */
  private val lshCorpusSql =
    s"""(
       |  SELECT vec_id, emb, nrm,
       |    $lshCodesSql
       |  FROM c0)""".stripMargin

  /** The 10 probes `q`, their codes renamed `qk0`..`qk15`. */
  private val lshProbesSql =
    s"""q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm,
       |        ${(0 until NumTables).map(t => s"k$t AS qk$t").mkString(", ")}
       |      FROM c WHERE vec_id < 10)""".stripMargin

  /** Probe `q` and corpus vector `c` share a bucket in some table. */
  private val probeCollisionSql =
    (0 until NumTables).map(t => s"c.k$t = q.qk$t").mkString(" OR ")

  /** Corpus vectors `x` and `y` share a bucket in some table. */
  private val pairCollisionSql =
    (0 until NumTables).map(t => s"x.k$t = y.k$t").mkString(" OR ")

  /** The IVF lists over `c`: the 32 stand-in centroids `cent` and each
    * vector's nearest one `assigned`, mirroring [[standInCentroids]]
    * and [[ivfAssignTo]] at topn 1. */
  private val ivfListsSql =
    """cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm
      |         FROM c WHERE vec_id < 32),
      |assigned AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT c.vec_id, cent.cid,
      |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
      |        ORDER BY list_dot_product(c.emb, cent.c_emb)
      |                   / (sqrt(c.nrm) * sqrt(cent.c_nrm)) DESC,
      |          cent.cid) AS rk
      |    FROM c CROSS JOIN cent) t WHERE rk = 1)""".stripMargin

  /** The 10 probes `q`, their 8 nearest lists `probes` and the
    * (query_id, vec_id) candidates `cand` in them, mirroring
    * [[ivfCandidates]]. */
  private val ivfCandidatesSql =
    """q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm
      |      FROM c WHERE vec_id < 10),
      |probes AS (
      |  SELECT query_id, cid FROM (
      |    SELECT q.query_id, cent.cid,
      |      ROW_NUMBER() OVER (PARTITION BY q.query_id
      |        ORDER BY list_dot_product(q.q_emb, cent.c_emb)
      |                   / (sqrt(q.q_nrm) * sqrt(cent.c_nrm)) DESC,
      |          cent.cid) AS rk
      |    FROM q CROSS JOIN cent) t WHERE rk <= 8),
      |cand AS (
      |  SELECT DISTINCT p.query_id, a.vec_id
      |  FROM probes p JOIN assigned a ON p.cid = a.cid
      |  WHERE a.vec_id <> p.query_id)""".stripMargin

  /** The micro-int grid vectors `e`, their 8 subvectors `sub`
    * (vec_id, m, svec), the 16-entry codebook `pcent`, every vector's
    * `codes` and the 10 probes' distance table `lut`, mirroring
    * [[pqCodesLut]]. The codebook is `pcent` because sim_ann_ivfpq's
    * IVF lists already name their centroids `cent`. */
  private val pqCodesLutSql =
    """e AS MATERIALIZED (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |sub AS MATERIALIZED (
      |  SELECT vec_id, u.m, qv[u.m * 8 + 1 : u.m * 8 + 8] AS svec
      |  FROM e, UNNEST(generate_series(0, 7)) u(m)),
      |pcent AS (SELECT vec_id AS cid, m, svec AS cvec
      |          FROM sub WHERE vec_id < 16),
      |codes AS (
      |  SELECT vec_id, m, CAST(MIN(
      |      list_sum(list_transform(generate_series(1, 8),
      |        i -> (svec[i] - cvec[i]) * (svec[i] - cvec[i])))
      |      * 16 + cid) % 16 AS BIGINT) AS cid
      |  FROM sub JOIN pcent USING (m)
      |  GROUP BY vec_id, m),
      |lut AS (
      |  SELECT s.vec_id AS query_id, s.m, c.cid,
      |    CAST(list_sum(list_transform(generate_series(1, 8),
      |      i -> (s.svec[i] - c.cvec[i]) * (s.svec[i] - c.cvec[i])))
      |      AS BIGINT) AS pd
      |  FROM sub s JOIN pcent c USING (m) WHERE s.vec_id < 10)""".stripMargin

  override def oracles: Map[String, String] = Map(
    "emb_triplets" ->
      """WITH c AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
        |    list_dot_product(CAST(embedding AS DOUBLE[]),
        |                     CAST(embedding AS DOUBLE[])) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS q_label,
        |        emb AS q_emb, nrm AS q_nrm
        |      FROM c WHERE vec_id < 10),
        |s AS MATERIALIZED (
        |  SELECT q.query_id, c.vec_id, c.label, q.q_label,
        |    list_dot_product(q.q_emb, c.emb)
        |      / (sqrt(q.q_nrm) * sqrt(c.nrm)) AS cosine
        |  FROM c JOIN q ON c.vec_id <> q.query_id),
        |pos AS (
        |  SELECT query_id, vec_id AS pos_id, cosine AS pos_cos FROM (
        |    SELECT query_id, vec_id, cosine,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cosine, vec_id) AS rk
        |    FROM s WHERE label = q_label) t WHERE rk = 1),
        |neg AS (
        |  SELECT query_id, vec_id AS neg_id, cosine AS neg_cos FROM (
        |    SELECT query_id, vec_id, cosine,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, vec_id) AS rk
        |    FROM s WHERE label <> q_label) t WHERE rk = 1)
        |SELECT p.query_id, pos_id, pos_cos, neg_id, neg_cos,
        |  pos_cos - neg_cos AS margin
        |FROM pos p JOIN neg n ON p.query_id = n.query_id
        |ORDER BY p.query_id""".stripMargin,

    "sim_ann_pq" ->
      s"""WITH $pqCodesLutSql,
         |adc AS (
         |  SELECT l.query_id, c.vec_id, CAST(SUM(l.pd) AS BIGINT) AS adc
         |  FROM codes c JOIN lut l ON c.m = l.m AND c.cid = l.cid
         |  WHERE c.vec_id <> l.query_id
         |  GROUP BY 1, 2)
         |SELECT query_id, rank, neighbor_id, adc FROM (
         |  SELECT query_id, vec_id AS neighbor_id, adc,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adc, vec_id) AS rank
         |  FROM adc) t
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "sim_ann_ivfpq" ->
      s"""WITH c AS $corpusSql,
         |$ivfListsSql,
         |$ivfCandidatesSql,
         |$pqCodesLutSql,
         |adc AS (
         |  SELECT cand.query_id, cand.vec_id,
         |    CAST(SUM(l.pd) AS BIGINT) AS adc
         |  FROM cand
         |  JOIN codes cd ON cd.vec_id = cand.vec_id
         |  JOIN lut l ON l.query_id = cand.query_id
         |            AND l.m = cd.m AND l.cid = cd.cid
         |  GROUP BY 1, 2)
         |SELECT query_id, rank, neighbor_id, adc FROM (
         |  SELECT query_id, vec_id AS neighbor_id, adc,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adc, vec_id) AS rank
         |  FROM adc) t
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "sim_knn_graph" ->
      s"""WITH c0 AS $corpusSql,
         |c AS $lshCorpusSql,
         |cand AS (
         |  SELECT x.vec_id, y.vec_id AS nbr_id,
         |    x.emb AS xe, x.nrm AS xn, y.emb AS ye, y.nrm AS yn
         |  FROM c x JOIN c y
         |    ON x.vec_id <> y.vec_id AND ($pairCollisionSql)),
         |ranked AS (
         |  SELECT vec_id, nbr_id,
         |    list_dot_product(xe, ye) / (sqrt(xn) * sqrt(yn)) AS cosine,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY list_dot_product(xe, ye) / (sqrt(xn) * sqrt(yn))
         |        DESC, nbr_id) AS rank
         |  FROM cand)
         |SELECT vec_id, rank, nbr_id AS neighbor_id, cosine
         |FROM ranked WHERE rank <= 4
         |ORDER BY vec_id, rank""".stripMargin,

    "emb_label_prop" ->
      s"""WITH c0 AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
         |    list_dot_product(CAST(embedding AS DOUBLE[]),
         |                     CAST(embedding AS DOUBLE[])) AS nrm
         |  FROM embeddings),
         |c AS (
         |  SELECT vec_id, label, emb, nrm,
         |    $lshCodesSql
         |  FROM c0),
         |cand AS (
         |  SELECT x.vec_id, y.vec_id AS nbr_id, y.label AS n_label,
         |    x.emb AS xe, x.nrm AS xn, y.emb AS ye, y.nrm AS yn
         |  FROM c x JOIN c y
         |    ON x.vec_id <> y.vec_id AND ($pairCollisionSql)),
         |ranked AS (
         |  SELECT vec_id, nbr_id, n_label,
         |    list_dot_product(xe, ye) / (sqrt(xn) * sqrt(yn)) AS cosine,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY list_dot_product(xe, ye) / (sqrt(xn) * sqrt(yn))
         |        DESC, nbr_id) AS rank
         |  FROM cand),
         |votes AS (
         |  SELECT vec_id, n_label,
         |    CAST(SUM(CAST(round(cosine * 100000000) AS BIGINT))
         |      AS BIGINT) AS w
         |  FROM ranked
         |  WHERE rank <= 4 AND vec_id >= 250 AND nbr_id < 250
         |  GROUP BY vec_id, n_label),
         |pred AS (
         |  SELECT vec_id, arg_max(n_label, w * 16 + (15 - n_label))
         |    AS predicted
         |  FROM votes GROUP BY vec_id)
         |SELECT c0.label, pred.predicted, COUNT(*) AS n
         |FROM pred JOIN c0 ON c0.vec_id = pred.vec_id
         |GROUP BY 1, 2 ORDER BY label, predicted""".stripMargin,

    "sim_ann_lsh" ->
      s"""WITH c0 AS $corpusSql,
         |c AS $lshCorpusSql,
         |$lshProbesSql,
         |cand AS (
         |  SELECT q.query_id, c.vec_id, c.emb, c.nrm, q.q_emb, q.q_nrm
         |  FROM c JOIN q ON c.vec_id <> q.query_id AND ($probeCollisionSql)),
         |ranked AS (
         |  SELECT query_id, vec_id,
         |    list_dot_product(q_emb, emb) / (sqrt(q_nrm) * sqrt(nrm))
         |      AS cosine,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY list_dot_product(q_emb, emb) / (sqrt(q_nrm) * sqrt(nrm)) DESC,
         |        vec_id) AS rank
         |  FROM cand)
         |SELECT query_id, rank, vec_id AS neighbor_id, cosine
         |FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "sim_ann_ivf" ->
      s"""WITH c AS $corpusSql,
         |$ivfListsSql,
         |$ivfCandidatesSql,
         |ranked AS (
         |  SELECT cand.query_id, cand.vec_id,
         |    list_dot_product(q.q_emb, c.emb) / (sqrt(q.q_nrm) * sqrt(c.nrm))
         |      AS cosine,
         |    ROW_NUMBER() OVER (PARTITION BY cand.query_id
         |      ORDER BY list_dot_product(q.q_emb, c.emb)
         |                 / (sqrt(q.q_nrm) * sqrt(c.nrm)) DESC,
         |        cand.vec_id) AS rank
         |  FROM cand JOIN c ON c.vec_id = cand.vec_id
         |           JOIN q ON q.query_id = cand.query_id)
         |SELECT query_id, rank, vec_id AS neighbor_id, cosine
         |FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "sim_ivf_balance" ->
      s"""WITH c AS $corpusSql,
         |$ivfListsSql,
         |sizes AS (SELECT cid, COUNT(*) AS n_vecs
         |          FROM assigned GROUP BY cid),
         |tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS total,
         |          CAST(MAX(n_vecs) AS BIGINT) AS mx FROM sizes)
         |SELECT cid, n_vecs,
         |  CAST(n_vecs * 1000000 // total AS BIGINT) AS share_ppm,
         |  CAST(mx * 3200 // total AS BIGINT) AS skew_x100
         |FROM sizes, tot ORDER BY cid""".stripMargin,

    "sim_hard_negatives" ->
      """WITH c AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
        |    list_dot_product(CAST(embedding AS DOUBLE[]),
        |                     CAST(embedding AS DOUBLE[])) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS q_label, emb AS q_emb,
        |        nrm AS q_nrm
        |      FROM c WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, c.vec_id, c.label,
        |    list_dot_product(q.q_emb, c.emb) / (sqrt(q.q_nrm) * sqrt(c.nrm))
        |      AS cosine
        |  FROM c JOIN q ON c.label <> q.q_label),
        |ranked AS (
        |  SELECT query_id, vec_id, label, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id AS negative_id, label AS neg_label,
        |  cosine
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "sim_topk_brute" ->
      s"""WITH c AS $corpusSql,
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm
         |      FROM c WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.query_id, c.vec_id,
         |    list_dot_product(q.q_emb, c.emb) / (sqrt(q.q_nrm) * sqrt(c.nrm))
         |      AS cosine
         |  FROM c JOIN q ON c.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, vec_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, vec_id AS neighbor_id, cosine
         |FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "sim_matryoshka_recall" ->
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    list_dot_product(CAST(embedding AS DOUBLE[]),
        |                     CAST(embedding AS DOUBLE[])) AS nrm,
        |    CAST(embedding[1:16] AS DOUBLE[]) AS pemb,
        |    list_dot_product(CAST(embedding[1:16] AS DOUBLE[]),
        |                     CAST(embedding[1:16] AS DOUBLE[])) AS pnrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm,
        |        pemb AS pq_emb, pnrm AS pq_nrm
        |      FROM c WHERE vec_id < 10),
        |full_r AS (
        |  SELECT q.query_id, c.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        |      list_dot_product(q.q_emb, c.emb) /
        |        (sqrt(q.q_nrm) * sqrt(c.nrm)) DESC, c.vec_id) AS rank
        |  FROM c JOIN q ON c.vec_id <> q.query_id),
        |pref_r AS (
        |  SELECT q.query_id, c.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        |      list_dot_product(q.pq_emb, c.pemb) /
        |        (sqrt(q.pq_nrm) * sqrt(c.pnrm)) DESC, c.vec_id) AS rank
        |  FROM c JOIN q ON c.vec_id <> q.query_id)
        |SELECT f.query_id,
        |  CAST(COUNT(p.vec_id) AS BIGINT) AS overlap_10
        |FROM (SELECT query_id, vec_id FROM full_r WHERE rank <= 10) f
        |LEFT JOIN (SELECT query_id, vec_id FROM pref_r WHERE rank <= 10) p
        |  ON f.query_id = p.query_id AND f.vec_id = p.vec_id
        |GROUP BY f.query_id ORDER BY f.query_id""".stripMargin,

    "sim_ann_recall" ->
      s"""WITH c0 AS MATERIALIZED $corpusSql,
         |c AS MATERIALIZED $lshCorpusSql,
         |$lshProbesSql,
         |truth AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, c0.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.query_id
         |        ORDER BY list_dot_product(q.q_emb, c0.emb)
         |          / (sqrt(q.q_nrm) * sqrt(c0.nrm)) DESC, c0.vec_id)
         |        AS rank
         |    FROM c0 JOIN q ON c0.vec_id <> q.query_id)
         |  WHERE rank <= 10),
         |ann AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY list_dot_product(q_emb, emb)
         |          / (sqrt(q_nrm) * sqrt(nrm)) DESC, vec_id) AS rank
         |    FROM (SELECT q.query_id, c.vec_id, c.emb, c.nrm, q.q_emb,
         |            q.q_nrm
         |          FROM c JOIN q ON c.vec_id <> q.query_id
         |            AND ($probeCollisionSql)))
         |  WHERE rank <= 10)
         |SELECT t.query_id, COUNT(*) AS n_truth,
         |  CAST(COALESCE(SUM(CASE WHEN a.vec_id IS NOT NULL
         |    THEN 1 END), 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(SUM(CASE WHEN a.vec_id IS NOT NULL
         |    THEN 1 END), 0) * 1000000 // COUNT(*) AS BIGINT)
         |    AS recall_ppm
         |FROM truth t LEFT JOIN ann a
         |  ON t.query_id = a.query_id AND t.vec_id = a.vec_id
         |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin,

    "sim_recall_curve" ->
      s"""WITH c0 AS MATERIALIZED $corpusSql,
         |c AS MATERIALIZED $lshCorpusSql,
         |$lshProbesSql,
         |truth AS (
         |  SELECT query_id, vec_id, t_rank FROM (
         |    SELECT q.query_id, c0.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.query_id
         |        ORDER BY list_dot_product(q.q_emb, c0.emb)
         |          / (sqrt(q.q_nrm) * sqrt(c0.nrm)) DESC, c0.vec_id)
         |        AS t_rank
         |    FROM c0 JOIN q ON c0.vec_id <> q.query_id)
         |  WHERE t_rank <= 20),
         |ann AS (
         |  SELECT query_id, vec_id, a_rank FROM (
         |    SELECT query_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY list_dot_product(q_emb, emb)
         |          / (sqrt(q_nrm) * sqrt(nrm)) DESC, vec_id) AS a_rank
         |    FROM (SELECT q.query_id, c.vec_id, c.emb, c.nrm, q.q_emb,
         |            q.q_nrm
         |          FROM c JOIN q ON c.vec_id <> q.query_id
         |            AND ($probeCollisionSql)))
         |  WHERE a_rank <= 20),
         |ks AS (SELECT * FROM (VALUES (1), (5), (10), (20)) t(k))
         |SELECT CAST(k AS BIGINT) AS k,
         |  COUNT(DISTINCT t.query_id) AS n_queries,
         |  COUNT(*) AS n_truth,
         |  CAST(COALESCE(SUM(CASE WHEN a.a_rank <= k THEN 1 ELSE 0 END),
         |    0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(SUM(CASE WHEN a.a_rank <= k THEN 1 ELSE 0 END),
         |    0) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
         |FROM truth t LEFT JOIN ann a
         |  ON t.query_id = a.query_id AND t.vec_id = a.vec_id
         |CROSS JOIN ks
         |WHERE t.t_rank <= k
         |GROUP BY k ORDER BY k""".stripMargin,

    "emb_jl_audit" -> {
      val projList = (0 until NumTables)
        .map(t => s"list_dot_product(emb, ${weightsLit(t, 0)})")
        .mkString("[", ", ", "]")
      s"""WITH c0 AS MATERIALIZED $corpusSql,
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm
         |      FROM c0 WHERE vec_id < 10),
         |truth AS (
         |  SELECT query_id, vec_id AS neighbor_id, cosine FROM (
         |    SELECT q.query_id, c0.vec_id,
         |      list_dot_product(q.q_emb, c0.emb)
         |        / (sqrt(q.q_nrm) * sqrt(c0.nrm)) AS cosine,
         |      ROW_NUMBER() OVER (PARTITION BY q.query_id
         |        ORDER BY list_dot_product(q.q_emb, c0.emb)
         |          / (sqrt(q.q_nrm) * sqrt(c0.nrm)) DESC, c0.vec_id)
         |        AS rank
         |    FROM c0 JOIN q ON c0.vec_id <> q.query_id)
         |  WHERE rank <= 10),
         |proj AS (
         |  SELECT vec_id, p, list_dot_product(p, p) AS pn FROM (
         |    SELECT vec_id, $projList AS p FROM c0))
         |SELECT t.query_id, t.neighbor_id, t.cosine,
         |  list_dot_product(a.p, b.p) / (sqrt(a.pn) * sqrt(b.pn))
         |    AS jl_cosine,
         |  CAST(round(abs(t.cosine - list_dot_product(a.p, b.p)
         |    / (sqrt(a.pn) * sqrt(b.pn))) * 1000) AS BIGINT) AS err_milli
         |FROM truth t
         |JOIN proj a ON a.vec_id = t.query_id
         |JOIN proj b ON b.vec_id = t.neighbor_id
         |ORDER BY t.query_id, t.neighbor_id""".stripMargin
    }
  )
}
