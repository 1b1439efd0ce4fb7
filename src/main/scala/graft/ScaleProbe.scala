package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-probe main: writes an Nx-replicated copy of the sf tables
  * (ids offset so keys stay distinct; document text perturbed per copy
  * so replication does not manufacture cross-copy near-dup cliques)
  * and times the REAL declared queries at 1x and Nx. The point is the
  * RATIO: near-linear growth means the plan survives scale-up;
  * super-linear growth flags an all-pairs or skew blowup. Not part of
  * the driver contract — a development instrument.
  *
  * Usage: SPARK_GRAFT_SCALE=10 sbt "runMain graft.ScaleProbe"
  */
object ScaleProbe {
  /** The probed surface: every op timed at 1x vs Nx. ProbeCoverageSpec
    * asserts (probedOps, probeExempt) exactly partition the declared
    * queries, so a new query cannot ship unaccounted. */
  val probedOps: Seq[String] = Seq("q1_pricing", "dedup_ngram_jaccard", "dedup_minhash_lsh",
      "dedup_cluster", "graph_pagerank", "sim_ann_lsh", "text_decontaminate",
      "text_winnow", "text_winnow_pairs", "text_fuzzy_decon", "text_chunks",
      // perturbed text keeps cross-copy gram/bigram overlap ~zero, so
      // these measure pipeline scaling; the embedding pair (whiten/pca)
      // is pure aggregation — replication exercises exactly the
      // reduction paths
      "text_dup_spans", "text_bigram_lm", "emb_whiten", "emb_pca_power",
      // round-7 additions: bloom prefilter decon (runtime-filter
      // path), boilerplate gram-df join, and the two label-geometry
      // audits (perturbed text / pure reductions, same rationale)
      "text_bloom_decon", "text_boilerplate", "emb_class_reps",
      "emb_label_outliers",
      // round-7 additions: word-gram banding (perturbed text — the
      // translate map rewrites every word, so cross-copy gram overlap
      // is ~zero), PQ's linear code-assignment + ADC scan, and the
      // triplet miner's scored-pass windows (both pure scans +
      // bounded-output top-k over unperturbed embeddings)
      "dedup_minhash_words", "sim_ann_pq", "emb_triplets",
      // round-7 second-session additions. The TPC-H shapes ride the
      // FK-consistent star replication (multi-join plans over n-times
      // facts with unchanged dim selectivity); the event-analytics
      // trio measures window/aggregate scaling on n-times events with
      // a fixed calendar; the text/corpus reports are single-pass
      // aggregations over perturbed text. emb_pair_hist is
      // deliberately absent: its sample gate is a fixed modulus, so a
      // 10x corpus means a 10x sample and ~100x pairs BY DESIGN (the
      // modulus is the documented scale knob) — its ratio would
      // measure the knob, not the pipeline.
      "q_volume_shipping", "q_market_share", "q_product_profit",
      "q_late_sole_supplier", "q_parts_supplier_cnt",
      "q_regional_best_supplier", "q_ntile_spend", "q_column_stats",
      "q_order_streaks", "q_user_paths", "q_moving_median",
      "q_conversion_time", "dedup_prefix", "dedup_simhash_buckets",
      "text_keywords", "corpus_card", "corpus_contamination_report",
      "cdc_change_stats", "mm_size_hist",
      // round-8 completions of the round-7 surface: the remaining
      // TPC-H shapes (Q4 semi-join, Q15 top-supplier window over a
      // revenue agg, Q17 small-qty avg subquery, Q19 disjunctive
      // predicate join), the A/V alignment interval join, the Heaps
      // vocab curve (perturbed text -> per-copy-disjoint bigram
      // vocab), and the Benford digit screen (pure one-pass agg)
      "q_priority_late", "q_top_supplier", "q_small_qty_revenue",
      "q_disjunctive", "mm_av_align", "text_vocab_growth", "q_benford",
      // round-8 third-session additions: the Q10 narrow-key join
      // rollup, the two bounded-histogram quantile operators (their
      // cutoff tables must stay bounded as the corpus grows — exactly
      // what the ratio checks), and DSIR's 1024-bucket scoring (the
      // lift table is constant-size by construction; the ratio should
      // be pure scan growth)
      "q_returned_items", "text_ccnet_buckets", "text_curriculum",
      "text_dsir",
      // unperturbed embeddings are fine here: list sizes just grow
      // n-fold per centroid, which is exactly the linear pass probed
      "sim_ivf_balance",
      // fourth wave: order-basket rules (bounded pair fan-out), the
      // pack rollup, the calendar-bounded cohort window, and the
      // 11-bucket calibration join
      "q_assoc_rules", "pack_efficiency", "q_cohort_ltv",
      "text_score_calibration",
      // round-9: the post-fix native block-mean hash (perturbed copies
      // have ~zero cross-copy Hamming proximity, so pairs grow with
      // the per-copy synthesized dupes — linear) and the split family:
      // stateless content-hash scan, its stratification rollup, the
      // LSH-composed leakage audit, and the cluster-inheritance safe
      // split (cluster map broadcast, output-sized)
      "mm_blockhash_neardup", "corpus_split", "corpus_split_report",
      "corpus_split_leakage", "corpus_split_safe",
      // round-9 additions: HLL's register table is ≤1024 rows/type by
      // construction (the ratio checks the one raw-scan pass), and the
      // matryoshka diagnostic is two broadcast-query linear passes
      "q_hll_distinct", "sim_matryoshka_recall",
      // attribution: user_id-keyed windows/joins over n× events with a
      // fixed calendar; FK audit: seven anti-joins over the replicated
      // star (dims replicate too, so orphanlessness is preserved)
      "q_attribution", "q_fk_integrity",
      // BM25: query-term-filtered tf/df aggregates + broadcast
      // scalars; table diff: narrow (pk, fp, cents) full outer join;
      // k-anonymity: two narrow groupBys + constant rollups; drift:
      // one explode + (label, half, dim) aggregate
      "text_bm25", "q_table_diff", "q_k_anonymity", "emb_centroid_drift",
      // BPE learn: pair counting over |vocab| rows, sublinear in
      // corpus; z-order: one scan + 1024-ary aggregate; online CUSUM:
      // windows over the calendar-bounded day spine
      "text_bpe_learn", "q_zorder_plan", "q_cusum_online",
      // wave-4: scrub rides the dup_spans shape (perturbed text ->
      // ~zero cross-copy gram overlap) plus a doc-partitioned window;
      // theil-sen's pairwise step runs over the calendar-bounded
      // monthly aggregate, so pairs are CONSTANT as facts grow; ivfpq
      // is linear passes (assign, code, ADC over nProbe/32 lists).
      // q_record_linkage is deliberately absent (the emb_pair_hist
      // precedent): with a FIXED blocking key, replicating both sides
      // n-fold grows in-block pairs n^2 BY DESIGN — the blocking-key
      // granularity is the documented scale knob, so its ratio would
      // measure the knob, not the pipeline.
      "text_scrub_spans", "q_theil_sen", "sim_ann_ivfpq",
      // wave-5: RRF fuses two already-probed linear rankers (BM25's
      // term-filtered aggregates + the 3-probe broadcast dense scan);
      // the fusion join touches only the two top-10 lists.
      // dedup_incremental rides the word-gram banding on perturbed
      // text (~zero cross-copy overlap, so candidates grow with the
      // per-copy populations — linear); seasonal decomposition's
      // windows run over the calendar-bounded monthly spine (CONSTANT
      // rows as facts grow — only the ingest aggregate scales); gini's
      // per-region ranking window is the statistic's inherent sort,
      // linear in customers with |regions| partitions.
      "text_rrf_fusion", "dedup_incremental", "q_seasonal_decompose",
      "q_gini",
      // wave-6: ACF folds run over the calendar-bounded monthly spine
      // (constant as facts grow); novelty's two shuffles key on the
      // gram (perturbed text -> per-copy-disjoint gram vocab, so the
      // origin table grows linearly); scene cuts is the one-pass
      // native frame-sum scan + per-clip windows (frames per clip
      // bounded by clip length)
      "q_acf", "text_ngram_novelty", "mm_scene_cuts",
      // wave-7: zone-map probe joins run over bounded (file/month/
      // predicate) aggregates — only the ingest scans grow; the A/B
      // readout is a (type,user) count + bounded rollups; the
      // equi-depth histogram is one scan + a ≤1024-cell table
      "q_zone_map_prune", "q_ab_readout", "q_equi_depth_hist",
      // wave-8: Q20's two aggregates share the (suppkey, partkey)
      // shuffle family over n× facts; fertility is a pure scan +
      // |langs|-row rollup; the recall curve is two broadcast-probe
      // passes to depth 20 + a bounded fan-out join
      "q_excess_suppliers", "text_tokenizer_fertility",
      "sim_recall_curve",
      // wave-9: distribution drift is two scans + two bounded-cell
      // aggregates; every probe side ≤1024 rows
      "q_dist_drift",
      // wave-10: keyframe pick rides the probed sceneSegments scan +
      // one (doc, seg) aggregate; the consistency audit rides the
      // probed word-gram pair kernel + two vec-id joins (perturbed
      // text -> per-copy pair populations, linear); collocations'
      // pair count keys on the bigram (perturbed text -> per-copy-
      // disjoint bigram vocab, linear)
      "mm_keyframe_select", "emb_consistency_audit",
      "text_collocations",
      // wave-11: the media curate pass is digest groupBys + the
      // banded blockhash pair kernel (perturbed copies keep per-copy
      // dupe populations — linear); seasonal anomaly runs over the
      // calendar-bounded day spine
      "mm_curate", "q_anomaly_seasonal",
      // wave-12: the sweep is ONE banding+verify pass fanned by a
      // 3-row table; the shard index is the packer's metadata-only
      // prefix sum + a per-shard window; categorical drift is one
      // scan + a |types|-row aggregate
      "dedup_threshold_sweep", "mm_shard_index", "q_cat_drift",
      // wave-13: forward as-of is the one-shuffle carry window on
      // user_id; split balance is two per-doc scans joined on doc_id
      // + a 3-row rollup
      "q_forward_asof", "corpus_split_balance",
      // wave-14: SPC rules run over the calendar-bounded day spine
      "q_spc_rules",
      // wave-15: the JL projection is a linear scan (16 fixed dots per
      // row); the audit join touches only the bounded truth pairs
      "emb_jl_audit",
      // wave-16: KN smoothing rides the bigram-keyed table family
      // (perturbed text -> per-copy-disjoint vocab, linear)
      "text_kn_fluency",
      // wave-17: the backtest runs over the calendar-bounded monthly
      // spine — only the ingest aggregate scales
      "q_forecast_backtest",
      // round-11: the composed release gate — every stage is an
      // already-probed kernel (curation stages, the output-sized
      // cluster map, the banded pair kernel, the 3-row card rollup)
      "corpus_release",
      // round-11: both former fixed-blocking exclusions are now
      // corpus-ADAPTIVE (SaxBlocking word ladder + continuous
      // equi-depth volume key; linkage suffix-digit ladder), so their
      // ratios measure the pipeline — the week-shape events
      // perturbation keeps copies from being time-series clones, and
      // linkage pair volume is key-driven (clone names only shift the
      // lev distribution, not the candidate count)
      "q_ts_similarity", "q_record_linkage",
      // per-user symbolization audit — a pure per-user map over the
      // bounded feature table
      "q_sax_words",
      // round-12: the two remaining DistributedRank swaps (ntile and
      // shard_index ride the kernel too and were already probed) —
      // rank/prefix-sum is now a sampled range shuffle + broadcast
      // offsets, so the ratio should be the linear shuffle growth,
      // never a single-task sort
      "q_revenue_pareto", "mm_shard_pack",
      // round-12 coverage sweep: the remaining pair-generating shapes
      // — in-group pair fan-outs (range join / baskets: bounded by
      // lines-per-order), the span-df self-join (perturbed text →
      // per-copy-disjoint span vocab), and out-degree-oriented wedge
      // counting (FK-consistent copies are disjoint components)
      "q_range_join", "q_basket_pairs", "text_para_dedup",
      "q_triangle_count",
      // round-12: the kernel's corpus-sized demonstrations — exact
      // median / p50-p90-p99 by distributed rank selection over the
      // RAW fact tables (sampled ranges + broadcast offsets; the
      // ratio should be the linear range-shuffle growth)
      "q_exact_median", "q_exact_percentiles")
  /** Why each UNprobed declared query is exempt, grouped by the
    * structural reason. ProbeCoverageSpec asserts probedOps and these
    * groups exactly partition SparkEntry.queries: adding a query
    * without either a probe or a reasoned exemption fails the build
    * (the round-9 probe-before-snapshot rule, closed-loop). */
  val probeExempt: Map[String, Seq[String]] = Map(
    // the whole CDC family renders and parses the same events-derived
    // WAL through one shared kernel (render -> parse -> broadcast PK
    // join); cdc_change_stats carries the family's probe, the rest
    // differ only in per-row format/gate/rollup tails
    "cdc-shared-kernel" -> Seq(
      "cdc_apply", "cdc_csv_format", "cdc_csv_payload", "cdc_dead_letter",
      "cdc_full_change", "cdc_operation_gate", "cdc_scd2",
      "cdc_table_filter", "cdc_test_decoding_roundtrip",
      "cdc_wal2json_roundtrip"),
    // embeddings/binary digests replicate UNperturbed, so every copy is
    // an exact near-dup of copy 0: their pair/bucket outputs grow
    // ~copies^2 BY CONSTRUCTION and a ratio would measure output blowup,
    // not pipeline scaling (the dedup_semantic caveat)
    "clone-blowup-by-construction" -> Seq(
      "dedup_semantic", "dedup_embedding_cosine", "emb_pair_hist",
      "sim_knn_graph", "emb_label_prop", "mm_dedup_binary"),
    // corpus x a FIXED broadcast side (10 probes / 32 centroids / bench
    // vectors / 64-dim directions): one linear scan, the shape probed
    // via sim_ann_lsh, sim_ann_pq and emb_pca_power
    "bounded-broadcast-pass" -> Seq(
      "sim_topk_brute", "sim_ann_recall", "sim_ann_ivf",
      "sim_hard_negatives", "emb_decontaminate", "emb_quantize_recall",
      "emb_kmeans_step", "emb_pca2", "emb_label_stats", "emb_dim_stats"),
    // compositions over already-probed kernels: the memoized CC fixpoint
    // (probed via dedup_cluster), content-hash groupBys
    // (dedup_minhash_lsh family) or |sources|-row rollups on one scan
    "rides-probed-kernel" -> Seq(
      "corpus_curate", "corpus_funnel", "dedup_survivors",
      "dedup_survivors_quality", "dedup_cluster_hist", "shard_assign",
      "dedup_exact", "dedup_exact_hash", "dedup_simhash",
      "dedup_agreement", "dedup_source_stats", "corpus_mix",
      "corpus_mix_temp", "corpus_epochs", "corpus_length_curve"),
    // embarrassingly parallel per-row/per-doc transforms (no corpus-
    // sized shuffle; at most a domain-bounded rollup tail): wall time IS
    // the scan, probed via text_chunks/text_token-class scans
    "per-row-map" -> Seq(
      "text_langid", "text_quality", "text_readability", "text_char_gini",
      "text_classifier_score", "text_gopher_rules", "text_fingerprint",
      "text_bpe_tokens", "text_token_stats", "text_pii_report",
      "text_pii_scrub", "text_repetition", "text_containment",
      "text_bigram_coverage", "mm_decode_features", "mm_resize",
      "mm_frame_sample", "mm_audio_windows", "mm_batch_plan",
      "emb_quantize", "q_string_funcs", "q_json_props"),
    // one map-side-combinable scan (possibly + a broadcast dim/scalar
    // ride-along) into an output bounded by a fixed domain - dates,
    // types, buckets, digits, sketch capacity: the
    // q1_pricing/q_volume_shipping probes stand for the class
    "bounded-output-aggregate" -> Seq(
      "q3_shipping", "q5_region_revenue", "q6_forecast", "q_histogram",
      "q_percentiles", "q_hourly_events", "q_dow_hour_heatmap",
      "q_case_buckets", "q_grouping_sets", "q_rollup_pricing",
      "q_cube_segment", "q_pivot_events", "q_unpivot", "q_setops_years",
      "q_promo_share", "q_large_orders", "q_distinct_parts",
      "q_mode_events", "q_approx_stats", "q_stats_corr",
      "q_argmax_events", "q_anomaly_mad", "q_cusum", "q_decay_sum",
      "q_yoy_growth", "q_skew_report", "q_string_agg", "q_kmv_distinct",
      "q_kmv_setops", "q_cms_users", "q_idle_customers",
      "q_important_parts", "q_rfm_segments", "q_order_dist",
      "q_outer_nation", "q_anti_customers", "q_semi_customers",
      "q_top_customers", "q_having_active", "q_sql_correlated",
      "q_gapfill_hours", "q_interarrival", "q_running_distinct",
      "q_skyline", "q_funnel_steps", "text_heavy_hitters", "text_zipf"),
    // ONE hash shuffle family on a high-cardinality key (user/order/
    // doc/gram) with windows, in-group joins or keyed aggregates:
    // linear by partitioning, probed via q_user_paths / q_attribution
    // / q_forward_asof (user keys) and text_boilerplate /
    // text_ngram_novelty (gram keys)
    "keyed-linear" -> Seq(
      "text_tfidf", "text_source_drift",
      "q_window_dist", "q_window_nav", "q_window_range", "q_window_rank",
      "q_window_running", "q_session_windows", "q_sliding_events",
      "q_rolling_active_users", "q_event_transitions", "q_retention",
      "q_asof_click", "q_salted_join"),
    // the declared query pins nShards=8 / budget=512 so its DuckDB
    // oracle (a recursive CTE) stays tractable; production sets nShards
    // proportional to the corpus (Pipeline.packSequences doc), so the
    // pinned ratio would measure the pin
    "fixed-pin" -> Seq(
      "pack_sequences"),
    // pure map + TakeOrderedAndProject / fixed-modulus hash gate: no
    // full sort, no corpus shuffle, output is the fixed sample size
    "top-k-sample" -> Seq(
      "sample_priority", "sample_stratified", "sample_domain_cap",
      "sample_hash")
  )

  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val spark = Tuning.localSession(32)

    val tmp = s"/tmp/graft_scale$n"
    // Per-copy key offset. One shared constant across ALL tables (not
    // per-table maxes) so FK consistency holds: copy i's l_orderkey
    // and o_orderkey shift identically. Guarded below — a key column
    // at or above the offset would make copies silently collide and
    // corrupt every ratio built on the replicated data.
    val offset = 10000000L
    def replicate(df: DataFrame, idCols: Seq[String], copies: Int,
        perturb: Option[String] = None,
        perturbRow: Option[(DataFrame, Int) => DataFrame] = None)
        : DataFrame = {
      // greatest() needs >=2 args; reduce handles 1-column tables
      val maxes = df.agg(idCols.map(c => max(col(c).cast("long")))
        .reduce((a, b) => greatest(a, b))).head()
      require(maxes.isNullAt(0) || maxes.getLong(0) < offset,
        s"replicate: max(${idCols.mkString(",")}) = ${maxes.get(0)} >= " +
          s"$offset — copies would collide; raise the shared offset")
      (0 until copies).map { i =>
        val shifted = idCols.foldLeft(df) { (acc, c) =>
          acc.withColumn(c, col(c) + lit(i.toLong * offset))
        }
        perturb match {
          // per-copy character substitution: a bijective char mapping
          // preserves each copy's internal near-dup structure exactly
          // (shingle equality is preserved within a copy) while making
          // cross-copy shingle overlap ~zero. A mere suffix tag is NOT
          // enough — it leaves cross-copy jaccard ≈ 0.94 > 0.8, which
          // manufactures 10-cliques and measures output blowup, not
          // pipeline scaling.
          case Some(c) if i > 0 =>
            // round 14: seeded Fisher-Yates permutation of the full
            // lowercase alphabet per copy (was: 25 cyclic rotations,
            // which repeat beyond 25 copies — copies sharing a
            // rotation formed TRUE cross-copy near-dup cliques, so
            // the corpus gates could not be probed past 25×). A
            // seeded permutation is deterministic per copy index,
            // bijective (per-copy internal near-dup structure is
            // preserved exactly), and pairwise-distinct for any
            // realistic copy count; two distinct permutations agree
            // on ~1 of 26 characters in expectation, so cross-copy
            // shingle overlap stays ~zero at 50× and beyond.
            val src = "etaoinshrdlucmfwypvbgkqjxz"
            val rnd = new scala.util.Random(0x5eed0000L + i)
            val perm = rnd.shuffle(src.toList).mkString
            // a permutation that collides with identity would make
            // copy i an exact clone of copy 0 — shift it by one
            val dst = if (perm == src) perm.drop(1) + perm.take(1)
                      else perm
            shifted.withColumn(c, translate(col(c), src, dst))
          case _ =>
            perturbRow match {
              case Some(f) if i > 0 => f(shifted, i)
              case _ => shifted
            }
        }
      }.reduce(_ unionByName _)
    }

    replicate(Tables.documents(spark, d), Seq("doc_id"), n, Some("text"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    replicate(Tables.embeddings(spark, d), Seq("vec_id"), n)
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    // the full star schema, FK-consistent: every key column shifts by
    // the same per-copy offset, so copy i's lineitem joins copy i's
    // orders/customer/part/supplier and never copy j's — an n-times
    // corpus with the same join selectivities, which is what makes
    // the multi-join TPC-H-shape ratios meaningful. nation/region are
    // genuine fixed-size dimensions and stay as-is.
    replicate(Tables.lineitem(spark, d),
      Seq("l_orderkey", "l_partkey", "l_suppkey"), n)
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    replicate(Tables.orders(spark, d), Seq("o_orderkey", "o_custkey"), n)
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    replicate(Tables.customer(spark, d), Seq("c_custkey"), n)
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    replicate(Tables.part(spark, d), Seq("p_partkey"), n)
      .write.mode("overwrite").parquet(s"$tmp/part.parquet")
    replicate(Tables.supplier(spark, d), Seq("s_suppkey"), n)
      .write.mode("overwrite").parquet(s"$tmp/supplier.parquet")
    // events perturbation: copy i drops a week-and-copy-dependent
    // hash slice of events (drop rate = ((wk * (1 + i%5) + i) % 7)/12,
    // i.e. 0-50% varying by week with a per-copy stride+phase), so
    // each copy's users carry DIFFERENT weekly-shape profiles. Without
    // it the copies are exact time-series clones of copy 0 and
    // q_ts_similarity's ratio would measure true clone-pair output
    // blowup (the dedup_semantic caveat), not pipeline scaling. Other
    // event queries see an ~0.75x-per-copy but still linear corpus.
    val weekShapeDrop: (DataFrame, Int) => DataFrame = (df, i) =>
      df.filter(expr(
        // pmod on BOTH sides: abs(Long.MinValue)%12 overflows negative
        // on the left, and a pre-epoch week index would make a signed
        // %7 threshold negative on the right (vacuously-true filter =
        // undropped clone rows for that time slice)
        "pmod(xxhash64(event_id), 12) >= " +
          "pmod(cast(datediff(cast(ts as date), date '1970-01-01') as bigint)" +
          s" div 7 * ${1 + i % 5} + $i, 7)"))
    replicate(Tables.events(spark, d), Seq("event_id", "user_id"), n,
      perturbRow = Some(weekShapeDrop))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    Tables.nation(spark, d)
      .write.mode("overwrite").parquet(s"$tmp/nation.parquet")
    Tables.region(spark, d)
      .write.mode("overwrite").parquet(s"$tmp/region.parquet")

    // dedup_semantic / dedup_embedding_cosine are deliberately absent:
    // embeddings replicate UNperturbed, so every copy is an exact
    // near-dup of copy 0 and their timings would measure true output
    // blowup (x copies^2 pairs), not pipeline scaling.
    val ops = probedOps
      // optional focus: probe only a comma-separated subset (fast
      // re-probe of newly added ops without re-timing the full set)
      .filter(sys.env.get("SPARK_GRAFT_PROBE_OPS") match {
        case Some(csv) => csv.split(',').map(_.trim).toSet
        case None => (_: String) => true
      })
    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // steady-state warmup (codegen/JIT) on the small side
    ops.foreach(op => SparkEntry.queries(op)(spark, d).count())
    // drop warmup state: cached data AND the session cluster memo —
    // otherwise the 1x dedup_cluster timing measures a memo lookup
    // (~0.1 s) against a full 10x computation and the ratio is noise
    QueryCache.release(spark)
    val r = ops.flatMap { op =>
      val t1 = time(SparkEntry.queries(op)(spark, d).count())
      val tN = time(SparkEntry.queries(op)(spark, tmp).count())
      Seq(s"${op}_1x" -> t1, s"${op}_${n}x" -> tN,
        s"${op}_ratio" -> tN / t1)
    }
    println("{" + r.map { case (k, v) => f""""$k":$v%.2f""" }
      .mkString(",") + s""","scale":$n}""")
    spark.stop()
  }
}
