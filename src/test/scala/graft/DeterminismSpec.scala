package graft

/** Partition-count invariance: the engine's portability story (Num
  * quantization, integer micro-units, strict sequential folds) claims
  * results are identical under ANY parallelism — that is what lets the
  * same query hash-match a single-threaded DuckDB oracle from a
  * 1000-executor cluster. This spec actually varies the parallelism:
  * each representative query must collect the exact same rows at
  * shuffle.partitions=3 and =13. A plain double `sum()` would fail
  * here (merge order changes with partitioning); every declared
  * aggregate is built not to.
  */
class DeterminismSpec extends SparkSpec {

  // One representative per arithmetic family: decimal-quantized sums
  // (q1), FloatDot cosine + window rank (dedup_semantic), integer
  // micro-unit sums + floor division (emb_kmeans_step), quantized
  // window total (corpus_mix_temp), double division ranking
  // (text_tfidf), md5-keyed top-k (sample_priority), chained quantized
  // reductions through an iterative loop (emb_pca_power — the hardest
  // case: three rounds of dot/accumulate/normalize, any merge-order
  // leak compounds), corpus-count double division + quantized mean
  // (text_bigram_lm).
  // Round-7 families: packed max_by ordinals (q_argmax_events),
  // one-pass sufficient-moment regression (q_stats_corr — sqrt of
  // exact decimals), counting medians (q_anomaly_mad), KMV set-op
  // estimates (q_kmv_setops — division chains over sketch arrays),
  // mergeable SpaceSaving (text_heavy_hitters — the merge-order bug
  // this spec exists to catch), PQ code assignment + ADC
  // (sim_ann_pq).
  // Round-11 families: corpus-adaptive SAX blocking (q_ts_similarity
  // — generated CASE words, equi-depth bucket floor divisions, and a
  // shared feature table, all under varying parallelism) and the
  // composed release gate (corpus_release — curation chain + safe
  // split + leakage count through a localCheckpoint).
  // Round-12 family: the DistributedRank two-pass kernel (sampled
  // range boundaries + spark_partition_id offsets) — boundaries MOVE
  // with parallelism, so these four prove rank/prefix-sum output is
  // invariant to where the range cuts land (q_ntile_spend = rank→NTILE
  // arithmetic, q_revenue_pareto = decimal prefix sum + ride-along
  // totals, mm_shard_pack/index = long byte cumsum → shard assignment).
  private val representative = Seq("q1_pricing", "dedup_semantic",
    "emb_kmeans_step", "corpus_mix_temp", "text_tfidf", "sample_priority",
    "emb_pca_power", "text_bigram_lm",
    "q_argmax_events", "q_stats_corr", "q_anomaly_mad", "q_kmv_setops",
    "text_heavy_hitters", "sim_ann_pq",
    "q_ts_similarity", "corpus_release",
    "q_ntile_spend", "q_revenue_pareto", "mm_shard_pack", "mm_shard_index")

  test("query results are invariant to shuffle partition count") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    def runAll(parts: String): Map[String, Seq[String]] = {
      spark.conf.set(key, parts)
      // each pass builds its queries anew, so every shared table is
      // recomputed at the pass's own partition count
      representative.map { name =>
        name -> SparkEntry.queries(name)(spark, sf)
          .collect().map(_.toString).toSeq
      }.toMap
    }
    try {
      val at3 = runAll("3")
      val at13 = runAll("13")
      for (name <- representative)
        assert(at3(name) === at13(name),
          s"$name differs between 3 and 13 shuffle partitions")
    } finally spark.conf.set(key, saved)
  }
}
