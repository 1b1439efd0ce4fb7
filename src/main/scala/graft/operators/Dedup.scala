package graft.operators

import graft.{QueryModule, Shared, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, each designed
  * for the 100 TB case:
  *
  *  - exact dedup: hash-groupBy on content (or md5) — one shuffle on
  *    the hash, map-side combine; the canonical-survivor rule (min id)
  *    is an aggregate, not a window, so no per-group sort.
  *  - n-gram Jaccard: shingle → inverted-index self-join → integer
  *    intersection counts. The shingle join is the scalable shape
  *    (pairs only materialize for docs sharing a shingle); at cluster
  *    scale a document-frequency cutoff on hot shingles bounds skew —
  *    here hot-shingle skew is handled by AQE.
  *  - MinHash + LSH banding: fixed-seed universal hashing over xxhash64
  *    shingle hashes; candidates from band-bucket self-join; exact
  *    Jaccard verification on candidates only. This is the sub-
  *    quadratic path: cost is O(docs × bands + candidate pairs), never
  *    all-pairs.
  *  - embedding cosine near-dup: exact double-precision cosine over a
  *    self-join (brute force is the verification baseline; the
  *    LSH-bucketed ANN path lives in Similarity).
  *
  * Float portability: cosine is computed as a strict left-to-right
  * double fold (`aggregate`), matching DuckDB's sequential
  * list_dot_product over DOUBLE[] casts bit-for-bit.
  */
object Dedup extends QueryModule {
  import Tables._

  /** documents has no exact duplicates, so exact-dedup queries run on
    * a corpus with every 10th doc re-inserted under a shifted id. */
  private def dupedCorpus(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"))
    base.unionByName(
      base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
  }

  /** Per-document sorted distinct 8-gram shingle-hash set, computed in
    * one zero-copy native pass (see ShingleHashes) — NO shuffle: the
    * set column comes straight off the scan. Semantically identical to
    * the DuckDB UNNEST(list_transform(...substr...)) shingling in the
    * oracles up to 64-bit hash collisions (~1e-7 at this vocabulary).
    * Shared: every dedup query reads it 2-3×. */
  def shingleSets(docs: DataFrame): DataFrame =
    Shared(docs.select(col("doc_id"),
      graft.expressions.ShingleHashes.shingle_hashes(col("text"), 8)
        .as("set"))
      .withColumn("n", size(col("set")).cast("long")))

  /** Strict sequential double fold — the portable cosine primitive. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  override def queries: Map[String, Q] = Map(
    // Exact dedup on raw content: survivor = min doc_id per text.
    "dedup_exact" -> ((s, d) => {
      dupedCorpus(s, d)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("survivor_id"),
          count(lit(1)).as("n_copies"))
        .select(col("survivor_id"), col("n_copies"))
        .orderBy(col("survivor_id"))
    }),

    // Exact dedup on md5 content hash (the at-scale variant: group on
    // a 16-byte key instead of multi-KB text; md5 matches DuckDB's).
    "dedup_exact_hash" -> ((s, d) => {
      dupedCorpus(s, d)
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(min(col("doc_id")).as("survivor_id"),
          count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .orderBy(col("survivor_id"))
    }),

    // N-gram Jaccard near-dup pairs, EXACT, via prefix filtering
    // (AllPairs/PPJoin): under a global rarest-first shingle order,
    // J(a,b) >= t implies the first n-ceil(t*n)+1 shingles of a and b
    // intersect — so only those prefixes are joined. Hot shingles
    // (huge document frequency) never enter a prefix, which is what
    // kills the quadratic blowup a naive shingle self-join hits; a
    // 170s plan at sf0.1 became ~10s with identical output, and the
    // pruning gets *stronger* as the corpus grows. Threshold compared
    // in integers (5*inter >= 4*union) so the 0.8 cut has no float
    // boundary.
    "dedup_ngram_jaccard" -> ((s, d) => {
      // k-prefix filter strength: a J>=t pair must share >= K shingles
      // across its two prefixes once each prefix is extended by K-1
      // (the i-th smallest common element sits within the first
      // n - ceil(t*n) + i positions of each set). K=16 trades ~1.7x
      // more (narrow) join rows for ~500x fewer verify pairs on this
      // corpus — the verify side carries multi-KB arrays, so that is
      // the trade to make.
      val K = 16
      val sets = shingleSets(documents(s, d))
      // shared: both sides of the candidate self-join consume it, and
      // AQE does not reuse the exchange across self-join aliases here —
      // unshared, the df-agg + join + window pipeline runs twice (A/B
      // at sf0.1, 4 vCPU: unshared 18 jobs and 40 MB shuffled, shared
      // 13 jobs and 13-20 MB)
      val prefixes = Shared(prefixTable(sets, K))
      // length filter inside the candidate join: J >= 0.8 forces
      // 4*max(n) <= 5*min(n), killing size-mismatched pairs before
      // the expensive set intersection. Candidates then need >= K
      // shared prefix shingles (capped by each side's own minimum
      // possible overlap ceil(t*n), so short documents stay exact).
      val candidates = prefixes.as("x")
        .join(prefixes.as("y"), col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id") &&
          col("x.n") * 4 <= col("y.n") * 5 &&
          col("y.n") * 4 <= col("x.n") * 5)
        .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .agg(count(lit(1)).as("shared"),
          first(col("x.n")).as("xn"), first(col("y.n")).as("yn"))
        .filter(col("shared") >= least(lit(K),
          expr("(xn * 4 + 4) div 5"), expr("(yn * 4 + 4) div 5")))
        .select(col("a_id"), col("b_id"))
      // candidate pairs are tiny relative to the array-carrying sets
      // table — broadcast them so the verify is two one-pass broadcast
      // hash joins over sets instead of sort-merge shuffles of the
      // multi-KB shingle arrays
      broadcast(candidates)
        .join(sets.select(col("doc_id").as("a_id"), col("set").as("a_set"),
          col("n").as("a_n")), Seq("a_id"))
        .join(sets.select(col("doc_id").as("b_id"), col("set").as("b_set"),
          col("n").as("b_n")), Seq("b_id"))
        .withColumn("inter",
          graft.expressions.SortedIntersectCount.sorted_intersect_count(
            col("a_set"), col("b_set")))
        .withColumn("union_n", col("a_n") + col("b_n") - col("inter"))
        .filter(col("inter") * 5 >= col("union_n") * 4)
        .select(col("a_id"), col("b_id"), col("inter").cast("long"),
          col("union_n"), (col("inter").cast("double") / col("union_n"))
            .as("jaccard"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // MinHash + LSH banding, exact-verified: candidates come from
    // band-bucket collisions (sub-quadratic), then an exact-Jaccard
    // check keeps only true pairs. Because banding is 16x3 (per-pair
    // miss ~1e-5 at j=0.8), the output EQUALS the exact near-dup pair
    // set — which is exactly what the DuckDB oracle computes by brute
    // force. DedupSpec additionally proves candidate recall.
    "dedup_minhash_lsh" -> ((s, d) =>
      minhashPairs(shingleSets(documents(s, d)))
        .orderBy(col("a_id"), col("b_id"))),

    // Word-shingle MinHash-LSH: the banding production LLM pipelines
    // actually run (word n-grams à la RefinedWeb/Dolma — robust to
    // character-level noise where char shingles are robust to word
    // reordering). Same 48-perm/16-band machinery and exact-Jaccard
    // verify as the char variant, over word-3-gram md5 sets; on this
    // corpus every true pair sits at word-gram J >= 0.9 (16 bands of
    // 3 rows miss such a pair with p ~ 1e-9), so the verified output
    // EQUALS the brute-force oracle pair set.
    "dedup_minhash_words" -> ((s, d) =>
      minhashPairs(wordGramSets(documents(s, d)))
        .orderBy(col("a_id"), col("b_id"))),

    // Threshold-sensitivity sweep — the tuning artifact read before
    // committing a dedup threshold: verified pair counts and distinct
    // docs-dropped (greedy min-id survivor rule) at 90/95/98% word-gram
    // Jaccard, from ONE banding + ONE verify pass (the 3-row threshold
    // table fans the verified pairs out — the sweep costs a bounded
    // join, not three pipelines). A dedup rate that collapses between
    // 95 and 98 says the dup population is borderline-similarity and
    // the threshold choice is load-bearing; a flat curve says any cut
    // works. Thresholds stay ≥ 0.9 where 16×3 banding recall is
    // ~1−1e−9, so the LSH pair set EQUALS brute force and the oracle
    // can brute-force it.
    "dedup_threshold_sweep" -> ((s, d) => {
      import s.implicits._
      val pairs = minhashPairs(wordGramSets(documents(s, d)), 0.9)
        .withColumn("jac_ppm", expr("inter * 1000000L div union_n"))
      val ths = Seq(900000L, 950000L, 980000L).toDF("threshold_ppm")
      val agg = pairs.crossJoin(broadcast(ths))
        .filter(col("jac_ppm") >= col("threshold_ppm"))
        .groupBy(col("threshold_ppm"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("b_id")).as("n_dropped"))
      ths.join(agg, Seq("threshold_ppm"), "left")
        .select(col("threshold_ppm"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
        .orderBy(col("threshold_ppm"))
    }),

    // Text/embedding CONSISTENCY audit — the cross-modal sanity check
    // run before trusting an embedding index: documents the verified
    // near-dup pipeline says are near-identical text SHOULD be close
    // in embedding space; a pair that is text-near but embedding-far
    // means the encoder (or the id join between the text and vector
    // stores) is broken for those rows. Composes the oracle-checked
    // word-gram pair kernel with one embeddings lookup per pair side;
    // cosine via the strict sequential double fold (bit-identical to
    // the oracle's list_dot_product). Output per verified pair: text
    // Jaccard (ppm), embedding cosine, the consistency bit at 0.9.
    // Scale: pair volume is the (already banded, linear) near-dup
    // output; the two embedding joins key on vector id.
    "emb_consistency_audit" -> ((s, d) => {
      val pairs = queries("dedup_minhash_words")(s, d)
      val c = embeddings(s, d)
      pairs
        .join(c.select(col("vec_id").as("a_id"),
          col("embedding").as("a_emb")), Seq("a_id"))
        .join(c.select(col("vec_id").as("b_id"),
          col("embedding").as("b_emb")), Seq("b_id"))
        .withColumn("jac_ppm", expr("inter * 1000000L div union_n"))
        .withColumn("cosine", dot(col("a_emb"), col("b_emb")) /
          (sqrt(dot(col("a_emb"), col("a_emb"))) *
            sqrt(dot(col("b_emb"), col("b_emb")))))
        .select(col("a_id"), col("b_id"), col("jac_ppm"), col("cosine"),
          (col("cosine") >= 0.9).as("consistent"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // INCREMENTAL dedup — the production shape at 100 TB: the corpus
    // is indexed ONCE (MinHash band buckets persisted), and each
    // incoming batch probes the index without rescanning the corpus.
    // Batch-relational statement of that contract: docs with
    // doc_id % 10 == 9 are "the incoming batch", the rest are "the
    // standing index"; candidates come from an ASYMMETRIC band-bucket
    // equi-join (batch side ⨝ index side — no self-join, no a<b cut,
    // because the two sides are different populations), verified with
    // the same exact-Jaccard kernel as the batch family. Output is the
    // per-batch-doc ADMIT DECISION (what the ingest gate consumes):
    // match count, first matching index doc, best Jaccard, admit bit.
    // Scale: index banding is the one-time cost; per batch the probe
    // is |batch| × bands explode + a bucket equi-join. Oracle =
    // brute-force straddling pairs at word-gram J >= 0.9 — the verify
    // threshold sits INSIDE the banding's reliable-recall band:
    // 16-band/3-row recall at J = 0.9 is 1 - (1 - 0.9^3)^16 ≈ 1 - 1e-9
    // (the dedup_minhash_words argument), so the LSH output EQUALS the
    // brute force. (It was 0.8 through round 10; at 0.8 recall is only
    // ~0.9998, so equality leaned on the corpus having no pairs in the
    // 0.8-0.9 gap rather than on the banding math.)
    "dedup_incremental" -> ((s, d) => {
      val sets = wordGramSets(documents(s, d))
      val sigs = sets.withColumn("sig",
        graft.expressions.MinHashSig.minhash_sig(col("set"), 48))
        .select(col("doc_id"), col("sig"))
      val banded = sigs.select(col("doc_id"),
        explode(bandStructs(col("sig"), 16, 3)).as("e"))
        .select(col("doc_id"), col("e.band").as("band"),
          col("e.bh").as("bh"))
      val isBatch = pmod(col("doc_id"), lit(10)) === 9
      val cand = banded.filter(isBatch).as("b")
        .join(banded.filter(!isBatch).as("x"),
          col("b.band") === col("x.band") && col("b.bh") === col("x.bh"))
        .select(col("b.doc_id").as("a_id"), col("x.doc_id").as("b_id"))
        .distinct()
      val matches = verifyJaccard(cand, sets, 0.9)
      val per = matches.groupBy(col("a_id"))
        .agg(count(lit(1)).as("n_matches"),
          min(col("b_id")).as("first_index_id"),
          max(expr("inter * 1000000L div union_n")).as("best_jac_ppm"))
      documents(s, d).filter(isBatch)
        .select(col("doc_id").as("batch_id"))
        .join(per, col("batch_id") === col("a_id"), "left")
        .select(col("batch_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          col("first_index_id"), col("best_jac_ppm"),
          (coalesce(col("n_matches"), lit(0L)) === 0).as("admit"))
        .orderBy(col("batch_id"))
    }),

    // SimHash near-dup pairs: native codegen'd fingerprint (one long
    // per doc), then 4×15-bit chunk banding — pigeonhole guarantees
    // every pair within Hamming distance 3 shares a chunk — and a
    // bit_count(xor) verify, so the result is EXACT for the md5-60bit
    // SimHash. The DuckDB oracle recomputes the identical fingerprint
    // (md5 hex → 60-bit ints → per-bit majority) and brute-forces all
    // pairs. Fingerprint+banding is linear in docs.
    "dedup_simhash" -> ((s, d) =>
      simhashPairs(documents(s, d)).orderBy(col("a_id"), col("b_id"))),

    // Embedding cosine near-dup pairs (exact, double precision), as a
    // BLOCK-PARTITIONED grid self-join: vectors hash into B blocks,
    // each grid cell (i, j), i <= j, scores block i against block j in
    // one tight executor-side loop — the GEMM-ish kernel an all-pairs
    // scorer needs, with NOTHING materialized on the driver (the
    // previous formulation broadcast the collected corpus: correct,
    // but driver-bounded — the exact thing that dies at 100 TB). Each
    // unordered pair lands in exactly one cell, so no dedup pass is
    // needed. The B-row blocks table cross-joins with itself
    // (B(B+1)/2 cells — bounded by construction, see PlanAuditSpec
    // exemption); per-cell memory is two blocks, tuned by B, and a
    // relational nested-loop join over raw rows is avoided because it
    // materializes every candidate pair as a wide two-array row before
    // filtering (35 s vs ~2 s at sf0.1). The per-pair double fold is
    // identical to the oracle's list_dot_product, so results match
    // bit-for-bit.
    "dedup_embedding_cosine" -> ((s, d) => {
      import s.implicits._
      val numBlocks = 8
      val blocks = embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          dot(col("embedding"), col("embedding")).as("nrm"),
          pmod(col("vec_id"), lit(numBlocks)).cast("int").as("blk"))
        .groupBy(col("blk"))
        .agg(collect_list(
          struct(col("vec_id"), col("embedding"), col("nrm"))).as("rows"))
      val cells = blocks.as("x")
        .join(blocks.as("y"), col("x.blk") <= col("y.blk"))
        .select(col("x.blk").as("ablk"), col("y.blk").as("bblk"),
          col("x.rows").as("arows"), col("y.rows").as("brows"))
        .as[(Int, Int, Array[(Long, Array[Float], Double)],
          Array[(Long, Array[Float], Double)])]
      val pairs = cells.flatMap { case (ablk, bblk, arows, brows) =>
        def cos(a: (Long, Array[Float], Double),
            b: (Long, Array[Float], Double)): Double = {
          val (av, bv) = (a._2, b._2)
          var acc = 0.0
          var i = 0
          val n = math.min(av.length, bv.length)
          while (i < n) { acc += av(i).toDouble * bv(i).toDouble; i += 1 }
          acc / (math.sqrt(a._3) * math.sqrt(b._3))
        }
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Double)]
        if (ablk == bblk) {
          var i = 0
          while (i < arows.length) {
            var j = i + 1
            while (j < arows.length) {
              val c = cos(arows(i), arows(j))
              if (c >= 0.4) {
                val (u, v) = (arows(i)._1, arows(j)._1)
                out += ((math.min(u, v), math.max(u, v), c))
              }
              j += 1
            }
            i += 1
          }
        } else {
          var i = 0
          while (i < arows.length) {
            var j = 0
            while (j < brows.length) {
              val c = cos(arows(i), brows(j))
              if (c >= 0.4) {
                val (u, v) = (arows(i)._1, brows(j)._1)
                out += ((math.min(u, v), math.max(u, v), c))
              }
              j += 1
            }
            i += 1
          }
        }
        out
      }.toDF("a_id", "b_id", "cosine")
      pairs.orderBy(col("a_id"), col("b_id"))
    }),

    // LSH bucket-size histogram — the skew diagnostic every banded
    // dedup deployment needs BEFORE running the candidate self-join:
    // candidates scale as sum(bucket²), so one hot bucket (a
    // boilerplate-dominated band) is what turns a linear banding pass
    // into an accidental quadratic. Runs on the SimHash chunk banding
    // (md5-derived, so the oracle recomputes identical buckets);
    // linear scan + one groupBy on (band, key), report is
    // |distinct sizes| rows.
    "dedup_simhash_buckets" -> ((s, d) => {
      import graft.expressions.SimHash64.simhash64
      import graft.expressions.TokenMd5.token_md5_60
      val sigs = documents(s, d).select(col("doc_id"),
        simhash64(token_md5_60(col("text"))).as("sig"))
      val banded = sigs.select(col("doc_id"),
        explode(array((0 until 4).map(i => struct(lit(i).as("band"),
          shiftrightunsigned(col("sig"), i * 15).bitwiseAND(lit(0x7FFFL))
            .as("key"))): _*)).as("e"))
        .select(col("e.band").as("band"), col("e.key").as("key"))
      banded.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("bucket_size"))
        .groupBy(col("bucket_size"))
        .agg(count(lit(1)).as("n_buckets"))
        .orderBy(col("bucket_size"))
    }),

    // Detector-agreement report: how the corpus's two cheap near-dup
    // detectors (SimHash Hamming<=3, exact char-shingle Jaccard>=0.8)
    // overlap on the same corpus — the calibration readout for
    // choosing a production detector (SimHash is linear and
    // order-robust; Jaccard is the semantic yardstick). A full outer
    // join of the two pair sets, reduced to the three-way count
    // split; both inputs are the already-bounded candidate-verified
    // pair sets, so the report join is pair-count sized.
    "dedup_agreement" -> ((s, d) => {
      val sim = simhashPairs(documents(s, d))
        .select(col("a_id"), col("b_id"), lit(1L).as("in_simhash"))
      // Recall contract: the Jaccard side is banded LSH while the
      // oracle brute-forces exact Jaccard, so this oracle comparison
      // assumes banding recall is total on the corpus. DedupSpec's
      // "minhash LSH finds exactly..." diff asserts exactly that (vs
      // the lossless AllPairs filter) at sf0.001 AND the gate's
      // sf0.01, so a banding miss fails there with pairs named rather
      // than as a hash mismatch here.
      val jac = minhashPairs(shingleSets(documents(s, d)))
        .select(col("a_id"), col("b_id"), lit(1L).as("in_jaccard"))
      sim.join(jac, Seq("a_id", "b_id"), "full_outer")
        .agg(
          sum(when(col("in_simhash").isNotNull &&
            col("in_jaccard").isNotNull, 1L).otherwise(0L)).as("n_both"),
          sum(when(col("in_simhash").isNotNull &&
            col("in_jaccard").isNull, 1L).otherwise(0L))
            .as("n_simhash_only"),
          sum(when(col("in_simhash").isNull &&
            col("in_jaccard").isNotNull, 1L).otherwise(0L))
            .as("n_jaccard_only"))
    }),

    // Prefix-cluster dedup: documents sharing their first 64
    // characters — the cheap catch for boilerplate-headed pages
    // (cookie banners, license headers, template openings) that full
    // near-dup passes pay shingle cost to find. One groupBy on the
    // prefix hash: the prefix is fixed-width so the shuffle key is
    // bounded regardless of document length, and the survivor rule
    // (min doc_id) matches the exact-dedup family.
    "dedup_prefix" -> ((s, d) => {
      documents(s, d)
        .groupBy(md5(substring(col("text"), 1, 64)).as("prefix_md5"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("survivor_id"))
        .filter(col("n_docs") >= 2)
        .select(col("prefix_md5"), col("n_docs"), col("survivor_id"))
        .orderBy(col("survivor_id"))
    })
  )

  /** AllPairs/PPJoin prefix table (doc_id, n, h), fully distributed.
    *
    * Under the global rarest-first (document-frequency, hash) order, a
    * document's prefix is its first plen = n - ceil(t*n) + K shingles;
    * df=1 singletons all sort first (df 1 < any df >= 2) and can never
    * be a meeting point of two prefixes, so the emitted rows are the
    * df>=2 shingles whose rank among the doc's df>=2 shingles is
    * <= plen - (n - n2).
    *
    * Nothing touches the driver: the df table stays a DataFrame — AQE
    * broadcasts the join when it is actually small (13k rows at sf0.1)
    * and falls back to a shuffle join when the vocabulary is large
    * (the 100 TB case, where a driver collect() of the df table would
    * be billions of rows) — and the per-document rank is a window over
    * the df>=2-filtered stream. That filter is what keeps the window
    * shuffle cheap: natural-language 8-gram shingles are overwhelmingly
    * unique, so the inner join against df>=2 discards most of the
    * stream before anything is shuffled on doc_id.
    */
  def prefixTable(sets: DataFrame, k: Int): DataFrame = {
    val exploded = sets.select(col("doc_id"), col("n"),
      explode(col("set")).as("h"))
    val df2 = exploded.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    val wRank = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val wDoc = Window.partitionBy(col("doc_id"))
    exploded.join(df2, Seq("h"))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("n2", count(lit(1)).over(wDoc))
      // plen over the FULL order; the first n - n2 positions are the
      // doc's df=1 singletons. ceil(n*thr) in exact integer arithmetic.
      .withColumn("plen",
        least(col("n"), col("n") - expr("(n * 4 + 4) div 5") + lit(k)))
      .filter(col("rk") <= col("plen") - (col("n") - col("n2")))
      .select(col("doc_id"), col("n"), col("h"))
  }

  /** Per-doc distinct word-3-gram md5 hash sets — the WORD-shingle
    * face of shingleSets (what production LLM dedup pipelines band
    * on: RefinedWeb/Dolma-style word n-grams, robust to whitespace
    * and character noise where char shingles are robust to word
    * reordering). Composed md5-conv expressions rather than a native
    * pass: grams-per-doc is tokens-2 (vs ~chars for char shingles),
    * so the string round-trip that justified ShingleHashes never
    * dominates here. Docs under 3 tokens have no gram set and drop
    * out, same as the oracle's len(toks) >= 3 guard. */
  def wordGramSets(docs: DataFrame): DataFrame =
    Shared(docs
      .withColumn("toks", expr(TextAnalysis.toksExpr))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), expr(
        "array_sort(array_distinct(transform(sequence(1, size(toks) - 2)," +
          " i -> cast(conv(substring(md5(concat_ws(' '," +
          " toks[i - 1], toks[i], toks[i + 1])), 1, 15), 16, 10)" +
          " as bigint))))").as("set"))
      .withColumn("n", size(col("set")).cast("long")))

  /** MinHash signature → banded LSH candidates → exact-Jaccard verify.
    *
    * 48 seeded-xxhash64 permutations over shingle hashes
    * (deterministic across runs/partitions), 16 bands × 3 rows:
    * P(miss | j=0.8) = (1-0.8^3)^16 ≈ 1.1e-5 per pair — at that rate
    * the verified output equals the exact-Jaccard pair set, which is
    * what the DuckDB oracle checks. The verify step removes false
    * positives entirely, so banding only ever costs candidates.
    *
    * `sets` is any (doc_id, set, n) hash-set table: [[shingleSets]]
    * for character shingles, [[wordGramSets]] for word grams. A query
    * that reads the pairs and the sets elsewhere passes the same sets
    * table to both.
    */
  def minhashPairs(sets: DataFrame, threshold: Double = 0.8): DataFrame = {
    val numPerm = 48
    val bands = 16
    val rowsPerBand = numPerm / bands
    // all 48 per-permutation mins come from ONE native pass over the
    // set (see MinHashSig — the nested transform/array_min formulation
    // materialized 48 intermediate arrays per row and dominated the
    // pipeline). Shared: both band-join legs read the signatures, so
    // the signature pass runs once (A/B at sf0.1, 4 vCPU: same 11 jobs
    // and 133 KiB shuffled either way, median wall 1.71/1.98 s shared
    // vs 1.82/2.03 s unshared over two runs of 3).
    val perDoc = Shared(sets
      .withColumn("sig",
        graft.expressions.MinHashSig.minhash_sig(col("set"), numPerm))
      .select(col("doc_id"), col("sig")))
    // bands: hash each signature slice, explode to (doc, band, bandHash)
    val banded = perDoc.select(col("doc_id"),
      explode(bandStructs(col("sig"), bands, rowsPerBand)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh"))
    val candidates = banded.as("x")
      .join(banded.as("y"), col("x.band") === col("y.band") &&
        col("x.bh") === col("y.bh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    // exact-Jaccard verification on candidates only (sorted-merge
    // intersect over the hash sets, same primitive as ngram-jaccard);
    // candidates are tiny — broadcast them through both joins so the
    // array-carrying sets side streams without a shuffle.
    verifyJaccard(candidates, sets, threshold)
  }

  /** The LSH band-hash expression — ONE definition shared by the
    * candidate self-join (minhashPairs) and the incremental
    * gate's asymmetric probe (dedup_incremental). Returns
    * array<struct<band:int, bh:long>> over a MinHash signature
    * column. */
  private def bandStructs(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { bi =>
      val slice = (0 until rowsPerBand).map(ri =>
        element_at(sig, bi * rowsPerBand + ri + 1))
      struct(lit(bi).as("band"), xxhash64(slice: _*).as("bh"))
    }: _*)

  /** SimHash chunk-band expression — 4 chunks of 15 bits; pigeonhole
    * guarantees any pair within Hamming distance 3 shares a chunk. */
  private def simhashBandStructs(sig: Column): Column =
    array((0 until 4).map(i => struct(lit(i).as("band"),
      shiftrightunsigned(sig, i * 15).bitwiseAND(lit(0x7FFFL))
        .as("key"))): _*)

  /** Exact-Jaccard verify of an (a_id, b_id) candidate pair set
    * against a (doc_id, set, n) hash-set table — the shared verify
    * kernel of the LSH pipelines. Candidates broadcast through both
    * joins; the array-carrying sets side streams without a shuffle. */
  private def verifyJaccard(candidates: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame = {
    val thrNum = math.round(threshold * 100).toInt
    broadcast(candidates)
      .join(sets.select(col("doc_id").as("a_id"), col("set").as("a_set"),
        col("n").as("a_n")), Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("set").as("b_set"),
        col("n").as("b_n")), Seq("b_id"))
      .withColumn("inter",
        graft.expressions.SortedIntersectCount.sorted_intersect_count(
          col("a_set"), col("b_set")).cast("long"))
      .withColumn("union_n", col("a_n") + col("b_n") - col("inter"))
      .filter(col("inter") * 100 >= col("union_n") * thrNum)
      .select(col("a_id"), col("b_id"), col("inter"), col("union_n"))
  }

  /** SimHash fingerprint → chunk-banded candidates → Hamming verify.
    *
    * Token hashes are the first 15 hex chars of md5 (60 bits) rather
    * than xxhash64: md5 is the one hash both engines share, which is
    * what lets the DuckDB oracle recompute the IDENTICAL fingerprint
    * and brute-force the same pair set. The SimHash fold itself stays
    * the native codegen'd SimHash64 expression (bits 60..63 vote all-
    * zero and drop out). Banding = 4 chunks of 15 bits: pigeonhole
    * guarantees every pair within Hamming distance 3 shares a chunk,
    * so candidates stay linear in docs and the verify is exact.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    import graft.expressions.SimHash64.simhash64
    import graft.expressions.TokenMd5.token_md5_60
    // token_md5_60 = native one-pass replacement for
    //   transform(filter(split(text,'\s+'), t -> t != ''),
    //             t -> cast(conv(substring(md5(t),1,15),16,10) as bigint))
    // — same values (NativeExprSpec pins it), none of the four
    // per-token string allocations of the composed form
    val sigs = docs.select(col("doc_id"),
      simhash64(token_md5_60(col("text"))).as("sig"))
    hammingPairs(sigs, maxHamming)
  }

  /** Band-bucketed Hamming pair generation over ANY 60-bit signature
    * column (doc_id, sig) — shared by SimHash text near-dup and the
    * multimodal block-mean hash. The 4×15-bit chunk bands pigeonhole
    * exactly Hamming ≤ 3: with at most 3 differing bits, some chunk is
    * untouched and the pair shares its key, so candidates stay linear
    * in rows and the verify is exact.
    * Recall is NOT guaranteed past 3 — a larger radius needs a layout
    * derived from it (more/overlapping bands), hence the require. */
  def hammingPairs(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"the band layout guarantees recall only for Hamming <= 3, got $maxHamming")
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(simhashBandStructs(col("sig"))).as("e"))
      .select(col("doc_id"), col("sig"), col("e.band").as("band"),
        col("e.key").as("key"))
    // the Hamming cut rides the join condition: candidates failing it
    // die inside the hash-join match loop instead of materializing
    // through the distinct (bucket collisions are ~50x the survivor
    // count on natural-language SimHashes, whose bits are far from
    // uniform — hot buckets otherwise dominate the stage)
    banded.as("x")
      .join(banded.as("y"), col("x.band") === col("y.band") &&
        col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id") &&
        expr("bit_count(x.sig ^ y.sig)") <= maxHamming)
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        expr("bit_count(x.sig ^ y.sig)").as("hamming"))
      .distinct()
  }

  // DuckDB fragments of the kernels above, one definition each; the
  // oracles below and Pipeline's splice them in. A fragment holds only
  // text that is byte-identical in every oracle using it: a CTE's
  // `name AS [MATERIALIZED]` header stays in the oracle.

  /** Body of an `sh` CTE: the distinct 8-char shingles (doc_id, s) of
    * every document, mirroring [[shingleSets]]. */
  private[operators] val shinglesSql =
    """(
      |  SELECT DISTINCT doc_id, u.s FROM documents,
      |  UNNEST(list_transform(generate_series(1, greatest(1, len(text) - 7)),
      |    i -> substr(text, i, 8))) u(s))""".stripMargin

  /** `sz` (set size n) and `pairs` (shared shingles `inter`, a_id <
    * b_id) over `sh`: the counts [[verifyJaccard]] takes from the
    * sorted sets. */
  private[operators] val shinglePairsSql =
    """sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS inter
      |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Body of an `np` CTE: the `pairs` at Jaccard >= 0.8 in integer
    * form, the (a_id, b_id) edge set [[minhashPairs]] returns at its
    * default threshold. */
  private[operators] val jaccardNpSql =
    """(
      |  SELECT a_id, b_id FROM pairs
      |  JOIN sz a ON a.doc_id = a_id JOIN sz b ON b.doc_id = b_id
      |  WHERE inter * 5 >= (a.n + b.n - inter) * 4)""".stripMargin

  /** Opens an oracle's WITH list: tokens `t` and the distinct md5-60
    * word-3-gram hashes `g` (doc_id, h), mirroring [[wordGramSets]].
    * Concatenate it in front of the oracle's stripped literal, never
    * splice it into one: its `||` line would lose a bar to a second
    * stripMargin. */
  private val wordGramsSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> x != '')
      |      AS toks
      |  FROM documents),
      |g AS MATERIALIZED (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(toks[i] || ' ' || toks[i + 1] || ' '
      |      || toks[i + 2]), 1, 15))::BIGINT AS h
      |  FROM t, UNNEST(generate_series(1, len(toks) - 2)) u(i)
      |  WHERE len(toks) >= 3)""".stripMargin

  /** [[shinglePairsSql]] over the word-gram set `g`. */
  private val wordGramPairsSql =
    """sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
      |pairs AS (
      |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS inter
      |  FROM g x JOIN g y ON x.h = y.h AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Body of a `t` CTE: each document's md5-60 token hashes `th`, the
    * values token_md5_60 yields in [[simhashPairs]]. */
  private val tokenHashesSql =
    """(
      |  SELECT doc_id, list_transform(
      |    list_filter(string_split_regex(text, '\s+'), t -> t != ''),
      |    t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS th
      |  FROM documents)""".stripMargin

  /** The 60-bit SimHash of `th`, one majority vote per bit: the
    * fingerprint simhash64 folds in [[simhashPairs]]. */
  private val simhashSigSql = (0 until 60).map { i =>
    s"(CASE WHEN 2 * COALESCE(list_sum(list_transform(th, x -> (x >> $i) & 1)), 0) > len(th) THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END)"
  }.mkString(" + ")

  override def oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies
        |FROM corpus GROUP BY text ORDER BY survivor_id""".stripMargin,

    "dedup_exact_hash" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT md5(text) AS text_md5, MIN(doc_id) AS survivor_id,
        |  COUNT(*) AS n_copies
        |FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1
        |ORDER BY survivor_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH sh AS $shinglesSql,
         |$shinglePairsSql
         |SELECT a_id, b_id, inter, a.n + b.n - inter AS union_n,
         |  CAST(inter AS DOUBLE) / (a.n + b.n - inter) AS jaccard
         |FROM pairs JOIN sz a ON a.doc_id = a_id JOIN sz b ON b.doc_id = b_id
         |WHERE inter * 5 >= (a.n + b.n - inter) * 4
         |ORDER BY a_id, b_id""".stripMargin,

    // Exact near-dup pair set: the LSH pipeline's verified output must
    // equal this (banding is tuned so no true pair is missed; the
    // verify step removes every false candidate).
    "dedup_minhash_words" ->
      (wordGramsSql + s""",
        |$wordGramPairsSql
        |SELECT a_id, b_id, inter, a.n + b.n - inter AS union_n
        |FROM pairs JOIN sz a ON a.doc_id = a_id
        |           JOIN sz b ON b.doc_id = b_id
        |WHERE inter * 100 >= (a.n + b.n - inter) * 80
        |ORDER BY a_id, b_id""".stripMargin),

    "dedup_threshold_sweep" ->
      (wordGramsSql + s""",
        |$wordGramPairsSql,
        |m AS (
        |  SELECT a_id, b_id,
        |    inter * 1000000 // (a.n + b.n - inter) AS jac_ppm
        |  FROM pairs JOIN sz a ON a.doc_id = a_id
        |             JOIN sz b ON b.doc_id = b_id
        |  WHERE inter * 10 >= (a.n + b.n - inter) * 9),
        |ths AS (SELECT * FROM (VALUES (900000), (950000), (980000))
        |  t(threshold_ppm)),
        |agg AS (
        |  SELECT threshold_ppm, COUNT(*) AS n_pairs,
        |    COUNT(DISTINCT b_id) AS n_dropped
        |  FROM m CROSS JOIN ths WHERE jac_ppm >= threshold_ppm
        |  GROUP BY 1)
        |SELECT CAST(threshold_ppm AS BIGINT) AS threshold_ppm,
        |  CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(n_dropped, 0) AS BIGINT) AS n_dropped
        |FROM ths LEFT JOIN agg USING (threshold_ppm)
        |ORDER BY threshold_ppm""".stripMargin),

    "emb_consistency_audit" ->
      (wordGramsSql + s""",
        |$wordGramPairsSql,
        |m AS (
        |  SELECT a_id, b_id, inter, a.n + b.n - inter AS union_n
        |  FROM pairs JOIN sz a ON a.doc_id = a_id
        |             JOIN sz b ON b.doc_id = b_id
        |  WHERE inter * 100 >= (a.n + b.n - inter) * 80),
        |c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |scored AS (
        |  SELECT a_id, b_id,
        |    CAST(inter * 1000000 // union_n AS BIGINT) AS jac_ppm,
        |    list_dot_product(x.emb, y.emb)
        |      / (sqrt(list_dot_product(x.emb, x.emb))
        |         * sqrt(list_dot_product(y.emb, y.emb))) AS cosine
        |  FROM m JOIN c x ON x.vec_id = a_id JOIN c y ON y.vec_id = b_id)
        |SELECT a_id, b_id, jac_ppm, cosine, cosine >= 0.9 AS consistent
        |FROM scored ORDER BY a_id, b_id""".stripMargin),

    "dedup_incremental" ->
      (wordGramsSql + s""",
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |pairs AS (
        |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS inter
        |  FROM g x JOIN g y ON x.h = y.h
        |    AND x.doc_id % 10 = 9 AND y.doc_id % 10 <> 9
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT a_id, b_id, inter, a.n + b.n - inter AS union_n
        |  FROM pairs JOIN sz a ON a.doc_id = a_id
        |             JOIN sz b ON b.doc_id = b_id
        |  WHERE inter * 100 >= (a.n + b.n - inter) * 90),
        |per AS (
        |  SELECT a_id, COUNT(*) AS n_matches, MIN(b_id) AS first_index_id,
        |    MAX(inter * 1000000 // union_n) AS best_jac_ppm
        |  FROM m GROUP BY a_id)
        |SELECT d.doc_id AS batch_id,
        |  COALESCE(per.n_matches, 0) AS n_matches,
        |  per.first_index_id, per.best_jac_ppm,
        |  COALESCE(per.n_matches, 0) = 0 AS admit
        |FROM documents d LEFT JOIN per ON d.doc_id = per.a_id
        |WHERE d.doc_id % 10 = 9
        |ORDER BY batch_id""".stripMargin),

    "dedup_minhash_lsh" ->
      s"""WITH sh AS $shinglesSql,
         |$shinglePairsSql
         |SELECT a_id, b_id, inter, a.n + b.n - inter AS union_n
         |FROM pairs JOIN sz a ON a.doc_id = a_id JOIN sz b ON b.doc_id = b_id
         |WHERE inter * 5 >= (a.n + b.n - inter) * 4
         |ORDER BY a_id, b_id""".stripMargin,

    // Identical md5-60bit SimHash recomputed in SQL, then brute-force
    // Hamming over all pairs (the Spark side's banding is exact by
    // pigeonhole, so the sets match).
    "dedup_simhash" ->
      s"""WITH t AS $tokenHashesSql,
         |s AS (SELECT doc_id, $simhashSigSql AS sig FROM t)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  bit_count(xor(a.sig, b.sig)) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_embedding_cosine" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                   CAST(b.embedding AS DOUBLE[])) /
        |  (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(a.embedding AS DOUBLE[]))) *
        |   sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[]))))
        |    AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                       CAST(b.embedding AS DOUBLE[])) /
        |  (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(a.embedding AS DOUBLE[]))) *
        |   sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[])))) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,

    "dedup_agreement" ->
      s"""WITH t AS MATERIALIZED $tokenHashesSql,
         |sgs AS MATERIALIZED (SELECT doc_id, $simhashSigSql AS sig FROM t),
         |simp AS MATERIALIZED (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sgs a JOIN sgs b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= 3),
         |sh AS MATERIALIZED $shinglesSql,
         |sz AS MATERIALIZED (
         |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |jacp AS MATERIALIZED (
         |  SELECT a_id, b_id FROM (
         |    SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS inter
         |    FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
         |    GROUP BY 1, 2) p
         |  JOIN sz a ON a.doc_id = a_id JOIN sz b ON b.doc_id = b_id
         |  WHERE inter * 5 >= (a.n + b.n - inter) * 4)
         |SELECT
         |  CAST(SUM(CASE WHEN s.a_id IS NOT NULL AND j.a_id IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |  CAST(SUM(CASE WHEN s.a_id IS NOT NULL AND j.a_id IS NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_simhash_only,
         |  CAST(SUM(CASE WHEN s.a_id IS NULL AND j.a_id IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_jaccard_only
         |FROM simp s FULL OUTER JOIN jacp j
         |  ON s.a_id = j.a_id AND s.b_id = j.b_id""".stripMargin,

    "dedup_simhash_buckets" ->
      s"""WITH t AS $tokenHashesSql,
         |s AS (SELECT doc_id, $simhashSigSql AS sig FROM t),
         |banded AS (
         |  SELECT u.band, (s.sig >> (u.band * 15)) & 32767 AS key
         |  FROM s, UNNEST([0, 1, 2, 3]) u(band)),
         |buckets AS (
         |  SELECT band, key, COUNT(*) AS bucket_size
         |  FROM banded GROUP BY band, key)
         |SELECT bucket_size, COUNT(*) AS n_buckets
         |FROM buckets GROUP BY bucket_size ORDER BY bucket_size""".stripMargin,

    "dedup_prefix" ->
      """SELECT md5(substr(text, 1, 64)) AS prefix_md5,
        |  COUNT(*) AS n_docs, MIN(doc_id) AS survivor_id
        |FROM documents
        |GROUP BY 1 HAVING COUNT(*) >= 2
        |ORDER BY survivor_id""".stripMargin
  )
}
