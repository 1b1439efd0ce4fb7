package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * after the per-document scoring passes (TextAnalysis) and alongside
  * the near-dup family (Dedup): semantic dedup over embeddings, TF-IDF
  * term extraction, weighted priority sampling, RAG chunking, and one
  * k-means (Lloyd) refinement step.
  *
  * All scoring arithmetic is either exact integer work or a single IEEE
  * double op per step (`+ - * / sqrt` are correctly rounded and thus
  * bit-identical across engines); transcendental functions (ln, exp,
  * pow) are deliberately avoided because libm results differ between
  * engines in the last ulp. That is why TF-IDF here scores tf/df (a
  * monotone-in-df variant of tf·idf) and priority sampling uses the
  * Duffield–Lund–Thorup u/w key rather than the exp-based A-Res key.
  */
object Corpus extends QueryModule {
  import Tables._
  import Similarity.{corpus, corpusSql, cosine, standInCentroids}
  // whitespace tokens: the one tokenizer both engines express identically
  import TextAnalysis.{sqlToks, toksExpr}

  private val NumCentroids = 32

  /** Nearest-centroid assignment (cosine, ties to the lower centroid
    * id). Centroids are the first NumCentroids vectors — deterministic,
    * so the whole pipeline is SQL-expressible (Similarity's IVF lists
    * use the same stand-ins). Assignment is one linear pass over the corpus against a
    * broadcast centroid table — the only scale-relevant cost. */
  private def assigned(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val cent = standInCentroids(c, NumCentroids)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_sim").desc, col("cid"))
    c.crossJoin(broadcast(cent))
      .withColumn("c_sim", cosine(col("embedding"), col("nrm"),
        col("c_emb"), col("c_nrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cid"), col("embedding"), col("nrm"))
  }

  /** Shared DuckDB prelude: corpus + centroids + nearest-centroid
    * assignment, mirroring `assigned` above. */
  private val assignedSql =
    s"""c AS $corpusSql,
       |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm
       |         FROM c WHERE vec_id < 32),
       |assigned AS (
       |  SELECT vec_id, cid, emb, nrm FROM (
       |    SELECT c.vec_id, cent.cid, c.emb, c.nrm,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
       |        ORDER BY list_dot_product(c.emb, cent.c_emb)
       |                   / (sqrt(c.nrm) * sqrt(cent.c_nrm)) DESC,
       |          cent.cid) AS rk
       |    FROM c CROSS JOIN cent) t WHERE rk = 1)""".stripMargin

  /** The BM25 scores in the DuckDB dialect, mirroring [[bm25Top]]:
    * the query terms `qt`, document lengths `docs`, corpus totals
    * `scal`, query-term occurrences `toks`, term frequencies `tf`,
    * document frequencies `dft`, and per (query_id, doc_id) the
    * `scored` score_micro and matched n_terms. */
  private val bm25ScoredSql =
    s"""qt AS (
       |  SELECT * FROM (VALUES (0, 'spark'), (0, 'join'), (1, 'hash'),
       |    (1, 'table'), (1, 'scan'), (2, 'window'), (2, 'agg'))
       |    t(query_id, tok)),
       |docs AS (SELECT doc_id, len($sqlToks) AS dl FROM documents),
       |scal AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len
       |         FROM docs),
       |toks AS (
       |  SELECT doc_id, tok FROM (
       |    SELECT doc_id, unnest($sqlToks) AS tok FROM documents)
       |  WHERE tok IN (SELECT tok FROM qt)),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT qt.query_id, tf.doc_id,
       |    SUM(CAST(
       |      ((2000000 * (s.n_docs - dft.df) + 1000000) // (2 * dft.df + 1))
       |        ::HUGEINT * 22 * tf.tf * s.total_len
       |      // (10 * s.total_len * tf.tf + 3 * s.total_len
       |         + 9 * docs.dl * s.n_docs) AS BIGINT)) AS score_micro,
       |    COUNT(*) AS n_terms
       |  FROM tf JOIN dft USING (tok) JOIN qt USING (tok)
       |    JOIN docs USING (doc_id) CROSS JOIN scal s
       |  GROUP BY 1, 2)""".stripMargin

  /** The BM25 ranking shared by text_bm25 and text_rrf_fusion —
    * (query_id, rank, doc_id, n_terms, score_micro) for the fixed
    * 3-query acceptance workload, top-10 per query. See the text_bm25
    * entry for the scoring derivation and scale notes. */
  private def bm25Top(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qt = Seq((0L, "spark"), (0L, "join"), (1L, "hash"),
      (1L, "table"), (1L, "scan"), (2L, "window"), (2L, "agg"))
      .toDF("query_id", "tok")
    val docs = documents(s, d)
      .select(col("doc_id"), expr(s"size($toksExpr)").cast("long").as("dl"))
    val scal = docs.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_len"))
    val toks = documents(s, d)
      .select(col("doc_id"), explode(expr(toksExpr)).as("tok"))
      .join(broadcast(qt.select(col("tok")).distinct()), Seq("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    tf.join(dfT, Seq("tok"))
      .join(broadcast(qt), Seq("tok"))
      .join(docs, Seq("doc_id"))
      .crossJoin(broadcast(scal))
      .withColumn("idf_ppm", expr(
        "(2000000 * (n_docs - df) + 1000000) div (2 * df + 1)"))
      .withColumn("term_score", expr(
        "cast(cast(idf_ppm as decimal(38,0)) * 22 * tf * total_len" +
          " div (10 * total_len * tf + 3 * total_len" +
          " + 9 * dl * n_docs) as bigint)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score")).as("score_micro"),
        count(lit(1)).as("n_terms"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
  }

  override def queries: Map[String, Q] = Map(
    // SemDeDup-style semantic dedup: cluster by nearest centroid, then
    // inside each cluster drop any vector that has a smaller-id
    // neighbor with cosine >= 0.30 (one-hop domination — deterministic
    // and order-free, unlike the paper's greedy scan ordering). The
    // within-cluster self-join shuffles on cid only: per-task work is
    // bounded by cluster size, the 100 TB knob is the centroid count
    // (clusters shrink as K grows), and no corpus-sized structure ever
    // reaches the driver. Skewed giant clusters would be re-split by
    // raising K — same answer, smaller cells.
    "dedup_semantic" -> ((s, d) => {
      val a = assigned(s, d).as("a")
      val b = assigned(s, d).as("b")
      a.join(b, col("a.cid") === col("b.cid") &&
          col("a.vec_id") < col("b.vec_id"))
        .filter(cosine(col("a.embedding"), col("a.nrm"),
          col("b.embedding"), col("b.nrm")) >= 0.30)
        .groupBy(col("a.cid").as("cid"), col("b.vec_id").as("dropped_id"))
        .agg(min(col("a.vec_id")).as("keeper_id"))
        .orderBy(col("dropped_id"))
    }),

    // Embedding-space decontamination: flag corpus vectors close to a
    // benchmark vector in cosine — the semantic complement of the
    // text-side n-gram decontamination (paraphrased test items survive
    // string matching but not embedding proximity). The benchmark side
    // is broadcast BY DEFINITION (eval suites are thousands of
    // vectors, never corpus-scale — same asymmetric-shape reasoning as
    // text_fuzzy_decon), so the corpus streams through one linear scan
    // with the FloatDot kernel inside codegen; at 100 TB this is
    // scan-bound, no shuffle of the corpus at all.
    "emb_decontaminate" -> ((s, d) => {
      val c = corpus(s, d)
      val bench = c.filter(col("vec_id") < 20)
        .select(col("vec_id").as("bench_id"),
          col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
      c.filter(col("vec_id") >= 20)
        .crossJoin(broadcast(bench))
        .withColumn("cosine", cosine(col("embedding"), col("nrm"),
          col("b_emb"), col("b_nrm")))
        .filter(col("cosine") >= 0.30)
        .select(col("vec_id"), col("bench_id"), col("cosine"))
        .orderBy(col("vec_id"), col("bench_id"))
    }),

    // TF-IDF top terms: per-doc term frequency joined against the
    // corpus-wide document frequency, score = tf/df (monotone idf
    // variant; ln is avoided for cross-engine bit determinism — see
    // the object doc). The tf⋈df join carries NO broadcast hint on
    // purpose: at small scale AQE's runtime size estimate picks the
    // broadcast anyway, but at 100 TB of web text the distinct-token
    // table (typos, URLs, numbers) is billions of rows and a forced
    // broadcast OOMs the driver — the hint would remove exactly the
    // freedom AQE needs. Same contract as Dedup.prefixTable: both
    // sides are already partitioned by tok from their aggregations,
    // so the fallback sort-merge join reuses that partitioning. The
    // doc_id cap bounds the *output*, not the df computation, which
    // always scans the full corpus.
    "text_tfidf" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), explode(expr(toksExpr)).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val dfT = toks.distinct()
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("s").desc, col("tok"))
      tf.join(dfT, Seq("tok"))
        .withColumn("s", col("tf").cast("double") / col("df"))
        .withColumn("rank", row_number().over(w))
        .filter(col("doc_id") < 50 && col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("tok").as("term"),
          expr("cast(round(1000000 * s) as bigint)").as("score_ppm"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // Okapi BM25 retrieval (Robertson & Walker 1994), integer-exact:
    // top-10 docs per query for a fixed 3-query acceptance workload.
    // k1 = 1.2, b = 0.75 as published; the idf is the LOG-FREE ratio
    // (N - df + 0.5)/(df + 0.5) in ppm (monotone in the standard
    // log-idf — same determinism contract as text_tfidf's tf/df; see
    // the object doc for why ln is banned). Clearing denominators
    // makes every term score one integer division:
    //   score = idf_ppm * 22*tf*L div (10*L*tf + 3*L + 9*dl*N)
    // with N = corpus size, L = total tokens, dl = doc length — the
    // products run in decimal(38,0) so a 10x-replicated probe corpus
    // cannot overflow a bigint intermediate. Shape at scale: the
    // corpus token stream is FILTERED by the broadcast query-term
    // table before any aggregation (df of a term is unchanged by
    // dropping other terms' rows), so tf/df aggregate over matching
    // rows only; dl and the (N, L) scalars come from one narrow
    // documents scan; the final top-10 is a per-query window over
    // candidate docs, never the corpus.
    "text_bm25" -> ((s, d) =>
      bm25Top(s, d)
        .select(col("query_id"), col("rank"), col("doc_id"),
          col("n_terms"), col("score_micro"))
        .orderBy(col("query_id"), col("rank"))),

    // Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of the
    // BM25 lexical ranking and the dense-embedding cosine ranking —
    // hybrid retrieval as production RAG stacks run it (two rankers
    // whose failure modes are uncorrelated; RRF is the standard
    // training-free fuser). Per (query, doc):
    //   rrf_micro = Σ_systems 1000000 div (60 + rank)    (k=60 as
    // published) — integer-exact, so both engines fuse identically.
    // Scale shape: both input rankers are already the 100 TB plans
    // (BM25 filters the token stream by the broadcast query-term table
    // before aggregating; dense is a broadcast-probe linear scan); the
    // fusion itself touches only the two TOP-10 lists — a full-outer
    // join over ≤ 20 rows per query, never a corpus-sized structure.
    "text_rrf_fusion" -> ((s, d) => {
      val bm = bm25Top(s, d)
        .filter(col("query_id") < 3)
        .select(col("query_id"), col("doc_id"), col("rank").as("r_bm25"))
      val c = corpus(s, d)
      val q = c.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"))
      val wd = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      val dense = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("cosine", cosine(col("q_emb"), col("q_nrm"),
          col("embedding"), col("nrm")))
        .withColumn("r_dense", row_number().over(wd).cast("long"))
        .filter(col("r_dense") <= 10)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("r_dense"))
      val wf = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf_micro").desc, col("doc_id"))
      bm.join(dense, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf_micro",
          coalesce(expr("1000000L div (60 + r_bm25)"), lit(0L)) +
            coalesce(expr("1000000L div (60 + r_dense)"), lit(0L)))
        .withColumn("rank", row_number().over(wf).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          col("rrf_micro"), col("r_bm25"), col("r_dense"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Weighted sampling without replacement via priority sampling
    // (Duffield–Lund–Thorup): key = u/w with u an md5-derived uniform
    // integer and w = n_chars; the 40 smallest keys win. Heavier docs
    // draw smaller keys more often, the sample is reproducible from
    // content alone, and the plan is a pure map + top-k
    // (TakeOrderedAndProject) — no full sort, no shuffle of the
    // corpus, which is what makes it viable at 100 TB.
    "sample_priority" -> ((s, d) => {
      val p = documents(s, d)
        .withColumn("h", expr("cast(conv(substring(md5(concat('pr', " +
          "cast(doc_id as string))), 1, 8), 16, 10) as bigint)"))
        .withColumn("pri",
          (col("h") + 1).cast("double") * lit(1.0) / col("n_chars"))
        .select(col("doc_id"), col("n_chars"), col("pri"))
        .orderBy(col("pri"), col("doc_id"))
        .limit(40)
      // rank the 40 winners — the window runs over the collected top-k
      // only, never the corpus
      val w = Window.orderBy(col("pri"), col("doc_id"))
      p.withColumn("rank", row_number().over(w))
        .select(col("rank"), col("doc_id"), col("n_chars"), col("pri"))
        .orderBy(col("rank"))
    }),

    // RAG chunking: overlapping token windows (width 50, stride 40)
    // with a content signature per chunk. Pure per-row explode —
    // embarrassingly parallel, output linear in corpus size; the
    // signature makes downstream chunk-level dedup a groupBy away.
    "text_chunks" -> ((s, d) => {
      documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("start",
          explode(expr("sequence(1, greatest(size(toks), 1), 40)")))
        .withColumn("chunk", expr("slice(toks, start, 50)"))
        .select(col("doc_id"),
          expr("cast((start - 1) div 40 + 1 as bigint)").as("chunk_idx"),
          col("start").cast("long").as("start_tok"),
          expr("cast(size(chunk) as bigint)").as("tok_cnt"),
          expr("substring(md5(array_join(chunk, ' ')), 1, 8)")
            .as("chunk_sig"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Fuzzy decontamination: probe an md5-sampled "benchmark" set
    // (~10% of docs) against the corpus for 30-char prefixes within
    // edit distance 8 — the edit-tolerant companion to
    // text_decontaminate's exact shingle containment. Candidates come
    // from positional 3-grams: strings within edit distance k share at
    // least (maxlen - q + 1) - q*k grams aligned within offset k (the
    // Gravano et al. VLDB'01 count filter; = 4 here since every prefix
    // is a full 30 chars — CorpusSpec pins that precondition), then an
    // exact levenshtein verify. The DELIBERATE asymmetry is the scale
    // design: a corpus×corpus gram self-join is quadratic in hot-gram
    // df (measured 28 s at sf0.1 — vocabulary-limited text makes every
    // gram hot, so rarity pruning cannot help), while probe-side grams
    // are benchmark-sized, broadcast, and bound the join by
    // |benchmark| x df. The oracle brute-forces every (bench, doc)
    // pair — algorithm-independent ground truth the filter must
    // reproduce exactly.
    "text_fuzzy_decon" -> ((s, d) => {
      val pre = documents(s, d)
        .select(col("doc_id"), substring(col("text"), 1, 30).as("pre"))
      def grams(df: DataFrame, idCol: String, preCol: String): DataFrame =
        df.select(col(idCol),
            explode(expr(s"sequence(1, length($preCol) - 2)")).as("pos"),
            col(preCol))
          .select(col(idCol), col("pos"),
            expr(s"substring($preCol, pos, 3)").as("gram"))
      val bench = pre
        .filter(expr("cast(conv(substring(md5(concat('fz', " +
          "cast(doc_id as string))), 1, 8), 16, 10) as bigint) % 10 = 0"))
        .select(col("doc_id").as("bench_id"), col("pre").as("bpre"))
      val bg = grams(bench, "bench_id", "bpre")
        .withColumnsRenamed(Map("pos" -> "b_pos", "gram" -> "b_gram"))
      val cg = grams(pre, "doc_id", "pre")
      cg.join(broadcast(bg), col("gram") === col("b_gram") &&
          col("doc_id") =!= col("bench_id") &&
          abs(col("pos") - col("b_pos")) <= 8)
        .groupBy(col("bench_id"), col("doc_id"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 4)
        .join(broadcast(bench), Seq("bench_id"))
        .join(pre, Seq("doc_id"))
        // Round 14: thresholded levenshtein — the verify runs on the
        // ~800k count-filter survivors at sf0.1 (the count filter is
        // weak on vocabulary-limited text: 800k candidates for 113
        // true pairs), and the 3-arg form computes the banded
        // O(k·n) DP with early exit instead of the full O(n²) table,
        // returning the EXACT distance when ≤ 8 and -1 otherwise —
        // so the emitted (pair, dist) rows are identical. Measured:
        // full query 3.66 → 2.91 s (isolated A/B, same session).
        .withColumn("dist", levenshtein(col("bpre"), col("pre"), 8))
        .filter(col("dist") >= 0)
        .select(col("bench_id"), col("doc_id"), col("dist"))
        .orderBy(col("bench_id"), col("doc_id"))
    }),

    // Temperature-reweighted corpus mixing (T = 0.5): sources are
    // sampled proportionally to n_docs^T, the standard flattening that
    // keeps small sources from washing out of a training mix.
    // T = 0.5 is deliberate — sqrt is an IEEE-correctly-rounded
    // primitive both engines compute bit-identically, while a general
    // pow(x, T) is libm-dependent (see the object doc). Weights are
    // quantized to integers so the grand total is associative
    // (map-side combinable), then shares and a per-100k-sample draw
    // plan come from one double division each. The window total runs
    // over the ~|sources| aggregated rows, never the corpus.
    // The mixing key is (source, lang) — the per-source doc counts in
    // the synthetic corpus are uniform by construction, and a
    // temperature knob over a uniform mix is a no-op.
    "corpus_mix_temp" -> ((s, d) => {
      val w = Window.partitionBy()
      documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("w_q", expr(
          "cast(round(1e8 * sqrt(cast(n_docs as double))) as bigint)"))
        .withColumn("sum_q", sum(col("w_q")).over(w))
        .select(col("source"), col("lang"), col("n_docs"), col("w_q"),
          (col("w_q").cast("double") / col("sum_q").cast("double"))
            .as("share_t"),
          expr("cast(round(100000 * (cast(w_q as double) " +
            "/ cast(sum_q as double))) as bigint)").as("docs_per_100k"))
        .orderBy(col("source"), col("lang"))
    }),

    // One Lloyd (k-means) refinement step over the embedding corpus:
    // assign to nearest centroid, then emit each cluster's sufficient
    // statistics — member count and per-dimension mean (first 4 dims
    // here to keep the declared output narrow; the full 64 is the same
    // column list). Values are micro-unit integers summed exactly, so
    // Catalyst's map-side partial aggregation gives the same answer at
    // any parallelism — the kmeans|| building block. The +1e9 offset
    // keeps the floor division on positive operands, where Spark `div`
    // and DuckDB `//` agree.
    "emb_kmeans_step" -> ((s, d) => {
      def q(dim: Int): Column =
        expr(s"cast(round(1000000 * cast(element_at(embedding, $dim) " +
          s"as double)) as bigint)").as(s"q$dim")
      assigned(s, d)
        .select(col("cid"), q(1), q(2), q(3), q(4))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("cnt"), sum(col("q1")).as("s1"),
          sum(col("q2")).as("s2"), sum(col("q3")).as("s3"),
          sum(col("q4")).as("s4"))
        .select(col("cid"), col("cnt"),
          expr("(s1 + 1000000000L * cnt) div cnt - 1000000000L").as("mean_q1"),
          expr("(s2 + 1000000000L * cnt) div cnt - 1000000000L").as("mean_q2"),
          expr("(s3 + 1000000000L * cnt) div cnt - 1000000000L").as("mean_q3"),
          expr("(s4 + 1000000000L * cnt) div cnt - 1000000000L").as("mean_q4"))
        .orderBy(col("cid"))
    }),

    // Per-domain frequency cap (the RefinedWeb/C4 rule: at most K
    // documents per source/domain, chosen by deterministic hash
    // priority so the survivors are an unbiased sample). Exact top-K
    // per key, computed skew-proof in two stages: stage 1 takes the K
    // best within each (source, salt-of-8) sub-partition — bounding
    // ANY window task to K rows per salt even when one domain holds
    // billions of documents — stage 2 re-ranks the <= 8K survivors
    // per source. Identical result to the naive single window, but
    // the full corpus is never sorted within one hot-domain task.
    "sample_domain_cap" -> ((s, d) => {
      val cap = 20
      val pri = documents(s, d)
        .select(col("doc_id"), col("source"),
          md5(concat(lit("dc"), col("doc_id").cast("string"))).as("pri"))
      val w1 = Window
        .partitionBy(col("source"), pmod(col("doc_id"), lit(8)))
        .orderBy(col("pri"), col("doc_id"))
      val w2 = Window.partitionBy(col("source"))
        .orderBy(col("pri"), col("doc_id"))
      pri
        .withColumn("rn1", row_number().over(w1))
        .filter(col("rn1") <= cap)
        .withColumn("keep_rank", row_number().over(w2).cast("long"))
        .filter(col("keep_rank") <= cap)
        .select(col("doc_id"), col("source"), col("keep_rank"))
        .orderBy(col("source"), col("keep_rank"))
    }),

    // Token-budget epoch planner (the "how many times do we repeat
    // each source" calculation behind fixed-token-budget training
    // mixes a la DoReMi/Llama data recipes): per-source token counts,
    // a uniform per-source target share of the total budget, and the
    // repeat factor (x100 fixed-point, clamped to [1x, 4x] — repeating
    // a tiny source more than 4 epochs degrades quality faster than it
    // fills budget). Integer throughout. Scale shape: one
    // map-side-combinable per-source aggregate; the 1-row corpus total
    // rides back as a broadcast — the corpus itself is scanned once.
    "corpus_epochs" -> ((s, d) => {
      val perSource = documents(s, d)
        .withColumn("n_toks",
          size(expr(toksExpr)).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      val tot = perSource.agg(
        sum(col("n_tokens")).as("total_tokens"),
        count(lit(1)).as("n_sources"))
      perSource.crossJoin(broadcast(tot))
        .withColumn("target_tokens",
          expr("total_tokens div n_sources"))
        .withColumn("epochs_x100", expr(
          "least(400L, greatest(100L," +
            " target_tokens * 100L div n_tokens))"))
        .withColumn("planned_tokens",
          expr("n_tokens * epochs_x100 div 100"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("target_tokens"), col("epochs_x100"), col("planned_tokens"))
        .orderBy(col("source"))
    }),

    // Dataset card: the per-source one-page summary a corpus release
    // ships with — volume, exact-dup rate, size profile, language
    // spread and dominant language. Two aggregations over the corpus
    // (per-source and per-(source, lang)) plus a 25-ish-row argmax
    // window; everything after the two groupBys is dimension-sized.
    // The dominant language uses a rank window ordered (count DESC,
    // lang) so ties break deterministically on both engines.
    "corpus_card" -> ((s, d) => {
      val docs = documents(s, d)
      val per = docs.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique_texts"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        countDistinct(col("lang")).as("n_langs"))
      val topLang = docs.groupBy(col("source").as("tl_source"), col("lang"))
        .agg(count(lit(1)).as("lang_docs"))
        .withColumn("rk", row_number().over(Window
          .partitionBy(col("tl_source"))
          .orderBy(col("lang_docs").desc, col("lang"))))
        .filter(col("rk") === 1)
        .select(col("tl_source"), col("lang").as("top_lang"),
          col("lang_docs").as("top_lang_docs"))
      per.join(topLang, col("source") === col("tl_source"))
        .select(col("source"), col("n_docs"), col("n_unique_texts"),
          (col("n_docs") - col("n_unique_texts")).as("n_dup"),
          col("total_chars"),
          expr("total_chars div n_docs").as("avg_chars"),
          col("n_langs"), col("top_lang"), col("top_lang_docs"))
        .orderBy(col("source"))
    }),

    // Pairwise-cosine histogram over a deterministic hash sample of
    // vectors — the "is my embedding space collapsing?" diagnostic
    // (a healthy space is spread; mass piling up near 1.0 signals
    // duplicate-heavy or degenerate embeddings). The md5 gate fixes
    // the sample before the quadratic step, so the all-pairs join runs
    // over a bounded set (the modulus is the scale knob: raise it to
    // hold the sample ~constant as the corpus grows — work stays
    // O(sample²), independent of corpus size). Bins are floor(10·cos),
    // exact on both engines for IEEE-identical cosines.
    "emb_pair_hist" -> ((s, d) => {
      val sample = corpus(s, d).filter(expr(
        "cast(conv(substring(md5(cast(vec_id as string)), 1, 8), 16, 10)" +
          " as bigint) % 4 = 0"))
      val a = sample.select(col("vec_id").as("a_id"),
        col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
      val b = sample.select(col("vec_id").as("b_id"),
        col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
      a.join(b, col("a_id") < col("b_id"))
        .withColumn("cosine", cosine(col("a_emb"), col("a_nrm"),
          col("b_emb"), col("b_nrm")))
        .groupBy(floor(col("cosine") * 10).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("bin"))
    }),

    // Sequence-length planning curve: per-source token-count
    // percentiles — what sets the packing budget and the truncation
    // loss estimate before a training run (pack too short and long
    // docs truncate; too long and short docs pad). Counting quantiles
    // over the (source, token-count) grid: the ranking window runs on
    // distinct lengths per source (bounded by the length domain),
    // never on documents.
    "corpus_length_curve" -> ((s, d) => {
      val counts = documents(s, d)
        .select(col("source"), size(expr(toksExpr)).cast("long").as("len"))
        .groupBy(col("source"), col("len"))
        .agg(count(lit(1)).as("cnt"))
      val wc = Window.partitionBy(col("source")).orderBy(col("len"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts
        .withColumn("cum", sum(col("cnt")).over(wc))
        .withColumn("n", sum(col("cnt")).over(
          Window.partitionBy(col("source"))))
        .groupBy(col("source"))
        .agg(max(col("n")).as("n_docs"),
          min(when(col("cum") * 2 >= col("n"), col("len"))).as("p50_len"),
          min(when(col("cum") * 10 >= col("n") * 9, col("len")))
            .as("p90_len"),
          min(when(col("cum") * 100 >= col("n") * 99, col("len")))
            .as("p99_len"),
          max(col("len")).as("max_len"))
        .orderBy(col("source"))
    })
  )

  override def oracles: Map[String, String] = Map(
    "emb_decontaminate" ->
      s"""WITH v AS MATERIALIZED $corpusSql
         |SELECT a.vec_id, b.vec_id AS bench_id,
         |  list_dot_product(a.emb, b.emb) / (sqrt(a.nrm) * sqrt(b.nrm))
         |    AS cosine
         |FROM v a JOIN v b ON a.vec_id >= 20 AND b.vec_id < 20
         |WHERE list_dot_product(a.emb, b.emb) / (sqrt(a.nrm) * sqrt(b.nrm))
         |  >= 0.30
         |ORDER BY a.vec_id, bench_id""".stripMargin,

    "dedup_semantic" ->
      s"""WITH $assignedSql,
         |pairs AS (
         |  SELECT a.cid, a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM assigned a JOIN assigned b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.emb, b.emb)
         |          / (sqrt(a.nrm) * sqrt(b.nrm)) >= 0.30)
         |SELECT cid, b_id AS dropped_id, MIN(a_id) AS keeper_id
         |FROM pairs GROUP BY cid, b_id
         |ORDER BY dropped_id""".stripMargin,

    "text_tfidf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         |df AS (SELECT tok, count(*) AS df
         |       FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY 1),
         |scored AS (
         |  SELECT tf.doc_id, tf.tok, CAST(tf.tf AS DOUBLE) / df.df AS s
         |  FROM tf JOIN df USING (tok)),
         |ranked AS (
         |  SELECT doc_id, tok, s,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY s DESC, tok) AS rank
         |  FROM scored)
         |SELECT doc_id, rank, tok AS term,
         |  CAST(round(1000000 * s) AS BIGINT) AS score_ppm
         |FROM ranked WHERE doc_id < 50 AND rank <= 3
         |ORDER BY doc_id, rank""".stripMargin,

    "text_bm25" ->
      s"""WITH $bm25ScoredSql,
         |ranked AS (
         |  SELECT query_id, doc_id, n_terms, score_micro,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score_micro DESC, doc_id) AS rank
         |  FROM scored)
         |SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id,
         |  n_terms, CAST(score_micro AS BIGINT) AS score_micro
         |FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "text_rrf_fusion" ->
      s"""WITH $bm25ScoredSql,
         |bm AS (
         |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score_micro DESC, doc_id) AS r_bm25
         |  FROM scored QUALIFY r_bm25 <= 10),
         |c AS $corpusSql,
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm
         |      FROM c WHERE vec_id < 3),
         |dn AS (
         |  SELECT q.query_id, c.vec_id AS doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY list_dot_product(q.q_emb, c.emb)
         |                 / (sqrt(q.q_nrm) * sqrt(c.nrm)) DESC,
         |        c.vec_id) AS r_dense
         |  FROM c JOIN q ON c.vec_id <> q.query_id
         |  QUALIFY r_dense <= 10),
         |fused AS (
         |  SELECT COALESCE(bm.query_id, dn.query_id) AS query_id,
         |    COALESCE(bm.doc_id, dn.doc_id) AS doc_id,
         |    CAST(COALESCE(1000000 // (60 + r_bm25), 0)
         |       + COALESCE(1000000 // (60 + r_dense), 0) AS BIGINT)
         |      AS rrf_micro,
         |    r_bm25, r_dense
         |  FROM bm FULL JOIN dn
         |    ON bm.query_id = dn.query_id AND bm.doc_id = dn.doc_id)
         |SELECT query_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rank,
         |  doc_id, rrf_micro, r_bm25, r_dense
         |FROM fused QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "sample_priority" ->
      """WITH p AS (
        |  SELECT doc_id, n_chars,
        |    CAST(('0x' || substr(md5('pr' || CAST(doc_id AS VARCHAR)), 1, 8))
        |           ::BIGINT + 1 AS DOUBLE) * 1.0 / n_chars AS pri
        |  FROM documents),
        |top AS (SELECT * FROM p ORDER BY pri, doc_id LIMIT 40)
        |SELECT ROW_NUMBER() OVER (ORDER BY pri, doc_id) AS rank,
        |  doc_id, n_chars, pri
        |FROM top ORDER BY rank""".stripMargin,

    "text_chunks" ->
      s"""WITH t AS (
         |  SELECT doc_id, $sqlToks AS toks FROM documents),
         |s AS (
         |  SELECT doc_id, toks,
         |    unnest(generate_series(1, greatest(len(toks), 1), 40)) AS start
         |  FROM t),
         |c AS (SELECT doc_id, start,
         |        list_slice(toks, start, start + 49) AS chunk FROM s)
         |SELECT doc_id, (start - 1) // 40 + 1 AS chunk_idx,
         |  start AS start_tok, CAST(len(chunk) AS BIGINT) AS tok_cnt,
         |  substr(md5(array_to_string(chunk, ' ')), 1, 8) AS chunk_sig
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // Brute force IS the oracle here — algorithm-independent ground
    // truth that the candidate filter must reproduce exactly.
    "text_fuzzy_decon" ->
      """WITH bench AS (
        |  SELECT doc_id AS bench_id, substr(text, 1, 30) AS bpre
        |  FROM documents
        |  WHERE ('0x' || substr(md5('fz' || CAST(doc_id AS VARCHAR)), 1, 8))
        |          ::BIGINT % 10 = 0)
        |SELECT b.bench_id, d.doc_id,
        |  levenshtein(b.bpre, substr(d.text, 1, 30)) AS dist
        |FROM bench b JOIN documents d ON d.doc_id <> b.bench_id
        |WHERE levenshtein(b.bpre, substr(d.text, 1, 30)) <= 8
        |ORDER BY b.bench_id, d.doc_id""".stripMargin,

    "corpus_mix_temp" ->
      """WITH agg AS (
        |  SELECT source, lang, count(*) AS n_docs,
        |    CAST(round(1e8 * sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)
        |      AS w_q
        |  FROM documents GROUP BY source, lang)
        |SELECT source, lang, n_docs, w_q,
        |  CAST(w_q AS DOUBLE) / CAST(SUM(w_q) OVER () AS DOUBLE) AS share_t,
        |  CAST(round(100000 * (CAST(w_q AS DOUBLE)
        |    / CAST(SUM(w_q) OVER () AS DOUBLE))) AS BIGINT)
        |    AS docs_per_100k
        |FROM agg ORDER BY source, lang""".stripMargin,

    "emb_kmeans_step" -> {
      // SUM(BIGINT) is HUGEINT in DuckDB (pandas would surface it as
      // float64) — cast the final value back down to BIGINT
      def meanQ(dim: Int) =
        s"CAST(((SUM(CAST(round(1000000 * emb[$dim]) AS BIGINT)) " +
          s"+ 1000000000 * COUNT(*)) // COUNT(*)) - 1000000000 " +
          s"AS BIGINT) AS mean_q$dim"
      s"""WITH $assignedSql
         |SELECT cid, COUNT(*) AS cnt,
         |  ${meanQ(1)}, ${meanQ(2)}, ${meanQ(3)}, ${meanQ(4)}
         |FROM assigned GROUP BY cid
         |ORDER BY cid""".stripMargin
    },

    "sample_domain_cap" ->
      """SELECT doc_id, source,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY md5('dc' || CAST(doc_id AS VARCHAR)), doc_id)
        |    AS BIGINT) AS keep_rank
        |FROM documents
        |QUALIFY keep_rank <= 20
        |ORDER BY source, keep_rank""".stripMargin,

    "corpus_epochs" -> {
      s"""WITH per AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(len($sqlToks)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  COUNT(*) AS n_sources FROM per)
         |SELECT source, n_docs, n_tokens,
         |  CAST(total_tokens // n_sources AS BIGINT) AS target_tokens,
         |  CAST(least(400, greatest(100,
         |    (total_tokens // n_sources) * 100 // n_tokens))
         |    AS BIGINT) AS epochs_x100,
         |  CAST(n_tokens * least(400, greatest(100,
         |    (total_tokens // n_sources) * 100 // n_tokens)) // 100
         |    AS BIGINT) AS planned_tokens
         |FROM per, tot ORDER BY source""".stripMargin
    },

    "corpus_card" ->
      """WITH per AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    COUNT(DISTINCT md5(text)) AS n_unique_texts,
        |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |    COUNT(DISTINCT lang) AS n_langs
        |  FROM documents GROUP BY source),
        |lc AS (
        |  SELECT source AS tl_source, lang, COUNT(*) AS lang_docs,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY COUNT(*) DESC, lang) AS rk
        |  FROM documents GROUP BY source, lang)
        |SELECT source, n_docs, n_unique_texts,
        |  n_docs - n_unique_texts AS n_dup, total_chars,
        |  total_chars // n_docs AS avg_chars, n_langs,
        |  lang AS top_lang, lang_docs AS top_lang_docs
        |FROM per JOIN lc ON source = tl_source AND rk = 1
        |ORDER BY source""".stripMargin,

    "emb_pair_hist" ->
      """WITH sample AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    list_dot_product(CAST(embedding AS DOUBLE[]),
        |                     CAST(embedding AS DOUBLE[])) AS nrm
        |  FROM embeddings
        |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
        |    % 4 = 0)
        |SELECT CAST(floor(10 * (list_dot_product(a.emb, b.emb)
        |    / (sqrt(a.nrm) * sqrt(b.nrm)))) AS BIGINT) AS bin,
        |  COUNT(*) AS n_pairs
        |FROM sample a JOIN sample b ON a.vec_id < b.vec_id
        |GROUP BY 1 ORDER BY bin""".stripMargin,

    "corpus_length_curve" ->
      s"""WITH counts AS (
         |  SELECT source, CAST(len($sqlToks) AS BIGINT) AS len,
         |    COUNT(*) AS cnt
         |  FROM documents GROUP BY 1, 2),
         |cum AS (
         |  SELECT source, len, cnt,
         |    SUM(cnt) OVER (PARTITION BY source ORDER BY len
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    SUM(cnt) OVER (PARTITION BY source) AS n
         |  FROM counts)
         |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
         |  MIN(CASE WHEN cum * 2 >= n THEN len END) AS p50_len,
         |  MIN(CASE WHEN cum * 10 >= n * 9 THEN len END) AS p90_len,
         |  MIN(CASE WHEN cum * 100 >= n * 99 THEN len END) AS p99_len,
         |  MAX(len) AS max_len
         |FROM cum GROUP BY source ORDER BY source""".stripMargin
  )
}
