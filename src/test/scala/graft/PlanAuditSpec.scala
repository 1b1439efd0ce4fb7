package graft

import org.apache.spark.ListenerBusAccess

/** Physical-plan hygiene for EVERY declared query: catches silent
  * regressions into cartesian products and plans that fall out of
  * whole-stage codegen. Runs at sf0.001 — plan SHAPE is what is
  * asserted, and the shape is scale-independent modulo AQE join
  * strategy choices (which only ever replace a shuffle join with a
  * broadcast join here, never with a cartesian).
  */
class PlanAuditSpec extends SparkSpec {

  // Deliberate all-pairs / nested-loop shapes:
  //  - sim_topk_brute: query set × corpus IS the brute-force baseline
  //    (broadcast nested loop over 10 query vectors)
  //  - sim_ann_ivf: corpus × 32 broadcast centroids (coarse quantizer
  //    assignment — bounded small side by construction)
  //  - dedup_embedding_cosine: the B×B block-grid join (both sides have
  //    exactly numBlocks rows by construction; the data rides inside
  //    per-block arrays, not the joined rows)
  //  - dedup_semantic / emb_kmeans_step: corpus × 32 broadcast
  //    centroids (nearest-centroid assignment, same shape as
  //    sim_ann_ivf's coarse quantizer)
  //  - emb_decontaminate: corpus × broadcast benchmark vectors (the
  //    benchmark side is bounded by definition — eval suites, not
  //    corpus data)
  //  - emb_pca_power: 64-row direction vector × broadcast 1-row norm
  //    per iteration (both sides bounded by construction)
  //  - text_bloom_decon: corpus shingles × the broadcast ONE-row Bloom
  //    filter (the runtime-filter scalar riding along every row — a
  //    1×N "join" by construction, O(m/8) bytes regardless of corpus)
  //  - sim_hard_negatives: corpus × the broadcast 10-vector probe set
  //    (label-mismatch condition; same bounded shape as sim_topk_brute)
  //  - text_zipf: 40-row top-k head × the broadcast ONE-row corpus
  //    total (both sides bounded by construction; the vocabulary
  //    itself never reaches the join)
  //  - emb_triplets: corpus × the broadcast 10-anchor probe set (one
  //    scored pass serving both triplet sides; same bounded shape as
  //    sim_hard_negatives)
  //  - q_idle_customers: customers × the broadcast ONE-row quantized
  //    balance threshold (scalar-aggregate ride-along)
  //  - q_rfm_segments: customers × three broadcast ONE-row quartile
  //    cutoff tables (counting-quantile scalars riding along)
  //  - q_important_parts: per-part aggregate × the broadcast ONE-row
  //    mean-value threshold (scalar-aggregate ride-along)
  //  - corpus_epochs: per-source aggregate × the broadcast ONE-row
  //    corpus token total (scalar-aggregate ride-along)
  private val nestedLoopOk =
    Set("sim_topk_brute", "sim_ann_ivf", "dedup_embedding_cosine",
      "dedup_semantic", "emb_kmeans_step", "emb_decontaminate",
      "emb_pca_power", "emb_pca2", "text_bloom_decon", "sim_hard_negatives",
      "text_zipf", "emb_triplets", "q_idle_customers",
      "q_rfm_segments", "q_triangle_count", "q_kmv_setops",
      "q_rolling_active_users", "text_source_drift",
      "q_important_parts", "corpus_epochs",
      // source-vocab aggregate × the broadcast ONE-row corpus token
      // total (scalar-aggregate ride-along, same as corpus_epochs)
      "text_keywords",
      // all-pairs cosine over the md5-gated fixed-size sample — the
      // quadratic step is bounded by the sample modulus by
      // construction, never corpus-sized
      "emb_pair_hist",
      // recall report embeds sim_topk_brute's ground truth: corpus ×
      // the broadcast 10-vector probe set, same bounded shape
      "sim_ann_recall",
      // per-customer aggregate × the broadcast ONE-row total
      // (scalar-aggregate ride-along, same as q_important_parts)
      "q_revenue_pareto",
      // ranked per-customer rows × the broadcast ONE-row __n from
      // DistributedRank's bounded per-range totals (NTILE arithmetic)
      "q_ntile_spend",
      // ranked fact rows × the same broadcast ONE-row __n (the median
      // position (n+1) div 2 selector)
      "q_exact_median",
      // corpus × the broadcast 10-probe set, twice-scored (full and
      // int8-reconstructed) — same bounded shape as sim_topk_brute
      "emb_quantize_recall",
      // gram stream × the broadcast ONE-row doc count (scalar
      // ride-along, same as corpus_epochs)
      "text_vocab_growth",
      // per-doc difficulty × the broadcast ONE-row quartile-cutoff
      // table (histogram-quantile scalars riding along, same shape as
      // q_rfm_segments)
      "text_curriculum",
      // 1024-bucket table × the broadcast ONE-row token totals
      // (scalar-aggregate ride-along, same as corpus_epochs)
      "text_dsir",
      // corpus × 32 broadcast centroids (the sim_ann_ivf coarse
      // quantizer) + 32-row sizes × broadcast ONE-row totals
      "sim_ivf_balance",
      // rule set × the broadcast ONE-row order total (scalar-aggregate
      // ride-along, same as corpus_epochs)
      "q_assoc_rules",
      // per-relation child aggregate × the broadcast ONE-row orphan
      // count (scalar-aggregate ride-along), 7 bounded rows total
      "q_fk_integrity",
      // prefix-dim top-10 × full top-10 per query: the full side
      // embeds sim_topk_brute's corpus × broadcast 10-probe shape
      "sim_matryoshka_recall",
      // candidate docs × the broadcast ONE-row (N, L) corpus scalars
      // (scalar-aggregate ride-along, same as corpus_epochs)
      "text_bm25",
      // orders × the broadcast ONE-row min/max normalization scalars
      // (scalar-aggregate ride-along, same as corpus_epochs)
      "q_zorder_plan",
      // corpus × 32 broadcast centroids for the IVF candidate stage
      // (the sim_ann_ivf coarse quantizer, unchanged)
      "sim_ann_ivfpq",
      // BM25 side embeds text_bm25's scalar ride-along; dense side is
      // corpus × the broadcast 3-probe set (sim_topk_brute shape)
      "text_rrf_fusion",
      // calendar-bounded monthly spine × broadcast ONE-row (n, S) /
      // denominator scalars and × the broadcast 6-row lag table —
      // every side bounded by the calendar, never the corpus
      "q_acf",
      // bounded 14-row file stats × broadcast 3-row predicate table,
      // and the ~80-row monthly aggregate × the same predicates —
      // every probe side bounded, the fact table is scanned once
      "q_zone_map_prune",
      // per-type conversion rows × the broadcast ONE-row (n0, n1)
      // user totals (scalar-aggregate ride-along)
      "q_ab_readout",
      // fact scan × broadcast ONE-row max scalar; ≤1024-cell histogram
      // × broadcast ONE-row total (scalar ride-alongs)
      "q_equi_depth_hist",
      // embeds sim_topk_brute's corpus × broadcast 10-probe truth
      // pass, plus the bounded (query, neighbor) pairs × broadcast
      // 4-row k table
      "sim_recall_curve",
      // fact scan × broadcast ONE-row reference max; ≤1024-cell
      // current histogram × broadcast ≤8-row bucket-bound ranges;
      // ×ONE-row period totals (all bounded probe sides)
      "q_dist_drift",
      // pair table × broadcast ONE-row token total N (scalar
      // ride-along, same as corpus_epochs)
      "text_collocations",
      // verified pair table × broadcast 3-row threshold table (bounded
      // fan-out, one banding+verify pass)
      "dedup_threshold_sweep",
      // |types|-row aggregate × broadcast ONE-row period totals
      "q_cat_drift",
      // calendar-bounded day spine × broadcast ONE-row (n, S) and
      // ONE-row Σr² scalars
      "q_spc_rules",
      // embeds sim_topk_brute's corpus × broadcast 10-probe truth pass
      "emb_jl_audit",
      // bigram-type table × broadcast ONE-row type-count scalar B
      "text_kn_fluency",
      // weekly aggregate × broadcast ONE-row min-week scalar, plus
      // ONE-row user-count / max-volume scalars feeding the adaptive
      // blocking granularity (alphabet ladder + equi-depth volume key)
      "q_ts_similarity",
      // per-user symbolization audit: weekly aggregate × the same
      // broadcast ONE-row min-week scalar
      "q_sax_words",
      // customer/supplier scans × broadcast ONE-row customer-count
      // scalar selecting the adaptive blocking-suffix length
      "q_record_linkage")

  /** The audited predicate, factored out so the mutation test below can
    * prove it actually fires (the previous disjunctive form was vacuous:
    * Spark prints `BroadcastNestedLoopJoin BuildLeft/BuildRight`, never
    * `BroadcastNestedLoopJoin Inner`, so it could not fail). */
  private def plansNestedLoop(plan: String): Boolean =
    plan.contains("CartesianProduct") ||
      plan.contains("BroadcastNestedLoopJoin")

  test("no declared query plans a cartesian product") {
    for ((name, fn) <- SparkEntry.queries) {
      val df = fn(spark, sf)
      df.collect() // finalize AQE so the audited plan is the executed one
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
      if (!nestedLoopOk(name))
        assert(!plansNestedLoop(plan),
          s"$name plans an unexpected nested-loop join:\n$plan")
    }
  }

  test("declared query construction launches no Spark jobs (no driver collects)") {
    // A query BUILDER that runs collect()/count() materializes data on
    // the driver at plan time — the scale anti-pattern behind the old
    // ngram df-table and embedding-corpus collects. Building the
    // DataFrame must be fully lazy: zero jobs until an action runs.
    // The iterative fixpoints (connected components, pagerank, the
    // power chains) are plan nodes whose rounds run at execution, so no
    // query is exempt.
    val sc = spark.sparkContext
    @volatile var jobs = 0
    @volatile var lastSite = ""
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        // `spark.read.parquet` itself may run a footer/schema-inference
        // job (stage named "parquet at Tables.scala:N") — Spark-internal
        // metadata work, bytes per file at any scale. Only DATA jobs
        // (collect/count/... inside a builder) are the anti-pattern.
        if (!js.stageInfos.forall(_.name.startsWith("parquet at Tables"))) {
          jobs += 1
          lastSite = js.stageInfos.map(_.name).mkString("; ")
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      for ((name, fn) <- SparkEntry.queries) {
        ListenerBusAccess.waitUntilEmpty(sc)
        val before = jobs
        fn(spark, sf)
        ListenerBusAccess.waitUntilEmpty(sc)
        assert(jobs == before,
          s"$name launched ${jobs - before} job(s) during query construction" +
            s" (last: $lastSite)")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("the nested-loop audit fires on a deliberate cartesian (mutation probe)") {
    val df = spark.range(8).toDF("x").crossJoin(spark.range(8).toDF("y"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plansNestedLoop(plan),
      s"audit predicate failed to flag a cross join:\n$plan")
  }

  test("no filter predicate re-evaluates an expensive array expression") {
    // Regression lock for the round-4 bench killer: with
    // InferFiltersFromGenerate active, every explode sprouted a
    // size(arr)>0 predicate that pushdown inlined below the
    // projections — and a lambda slicing ANOTHER computed array column
    // (winnowing's slice(hs, j, 8)) then re-evaluated the md5-shingle
    // transform once per element, interpreted, inside the filter.
    // graft.Tuning excludes the rule session-wide; this asserts the
    // symptom stays gone: no Filter node anywhere in the nested-array
    // pipelines carries an md5/transform-bearing predicate.
    for (name <- Seq("text_winnow_pairs", "text_winnow",
        "text_repetition", "text_bigram_coverage")) {
      assert(expensiveFilterLines(name).isEmpty,
        s"$name pushes an expensive array expression into a filter:\n" +
          expensiveFilterLines(name).mkString("\n"))
    }
  }

  /** Filter NODES of the executed plan whose inline condition carries
    * an array-building expression. Matched on the plan STRING: the
    * executed plan is an AdaptiveSparkPlanExec whose finalized query
    * stages are not children of the node tree (collect() sees none of
    * them), but toString prints the full final plan, filters with
    * conditions inline. */
  private def expensiveFilterLines(name: String): Seq[String] = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString.split("\n").toSeq
      .filter(l => l.contains("Filter "))
      .filter(l => l.contains("md5(") || l.contains("transform(")
        || l.contains("split("))
  }

  test("the expensive-filter audit fires with the rule re-enabled (mutation probe)") {
    // prove the assertion above is not vacuous: putting
    // InferFiltersFromGenerate back re-grows an inferred predicate
    // carrying the inlined gram/token transforms into a lazy explode
    // pipeline's plan (text_repetition — winnow_pairs itself hides its
    // expensive stage behind the eager checkpoint, so the filter
    // reappears in plans that have no such barrier)
    val key = "spark.sql.optimizer.excludedRules"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "")
      assert(expensiveFilterLines("text_repetition").nonEmpty,
        "mutation probe: expected an inferred expensive filter with the rule active")
    } finally spark.conf.set(key, saved)
  }

  // ---------------------------------------------------------------
  // Global-window audit: an unpartitioned Window is the one window
  // shape that does NOT distribute (WindowExec single-partitions — one
  // task sorts and holds the whole input). Legitimate ONLY over inputs
  // provably bounded as the corpus grows. Every such site must either
  // be the DistributedRank kernel's per-range offsets table
  // (recognized structurally: the window sits directly over the
  // aggregate grouped by the kernel's __pid range id, ≤ parts rows by
  // construction) or carry an entry here naming WHY its input is
  // bounded. Set-EQUALITY against reality below, so a stale entry
  // fails the build just like a missing one.
  //
  //  - calendar/time-domain-bounded spines: q_gapfill_hours (|hours|
  //    spine from a 2-scalar aggregate), q_running_distinct (day
  //    spine), q_spc_rules (day spine), q_seasonal_decompose /
  //    q_forecast_backtest (monthly spine), q_conversion_time /
  //    q_interarrival (distinct integer-second gap values of a
  //    bounded time domain)
  //  - bounded-cell histogram / bounded-domain distinct-value tables:
  //    q_equi_depth_hist, q_dist_drift (≤1024 cells), q_rfm_segments
  //    (distinct days/counts/whole-dollar values of bounded domains),
  //    q_skyline (per-p_size table, |size domain| rows),
  //    q_ts_similarity (1024-cell volume pre-histogram), q_benford
  //    (9 leading-digit rows), text_curriculum (quartile cutoffs from
  //    a bounded difficulty histogram)
  //  - top-k / fixed-fan-out inputs (a limit or constant split sits
  //    below the window): sample_priority (top-40), text_zipf
  //    (top-40), text_vocab_growth (10 decile rows), text_bpe_learn
  //    (|vocab| merge candidates), corpus_mix / corpus_mix_temp
  //    (|sources|-row mix tables)
  //  - cdc_test_decoding_roundtrip: the WAL is ONE totally-ordered
  //    stream by definition — the batch face orders one micro-batch
  //    (bounded by maxRecordsPerTrigger / the 13 s flush window); the
  //    streaming face replaces the window with keyed state
  // (the names asserted below are computed from the ACTUAL optimized
  // plans; this comment is the rationale index, the assertion is the
  // contract — both sides fail on drift)
  private lazy val globalWindowOk: Set[String] = Set(
    "cdc_test_decoding_roundtrip", "corpus_mix", "corpus_mix_temp",
    "q_benford", "q_conversion_time", "q_dist_drift",
    "q_equi_depth_hist", "q_forecast_backtest", "q_gapfill_hours",
    "q_interarrival", "q_rfm_segments", "q_running_distinct",
    "q_seasonal_decompose", "q_skyline", "q_spc_rules",
    "q_ts_similarity", "sample_priority", "text_bpe_learn",
    "text_curriculum", "text_vocab_growth", "text_zipf")

  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
    LogicalPlan, Window => LWindow}

  /** The kernel's one legitimate global window: directly (through
    * unary Project/Filter nodes) over the per-range-id aggregate —
    * ≤ `parts` rows by construction. */
  @annotation.tailrec
  private def isRangeOffsetsTable(p: LogicalPlan): Boolean = p match {
    case a: Aggregate =>
      a.groupingExpressions.exists(_.references.exists(_.name == "__pid"))
    case u: org.apache.spark.sql.catalyst.plans.logical.UnaryNode =>
      isRangeOffsetsTable(u.child)
    case _ => false
  }

  /** Collect across shared tables too (round 14): a Window inside a
    * shared subtree still RUNS — q_ts_similarity's bounded cellMap
    * window moved inside the keyed-table InMemoryRelation when that
    * table was shared, and a collect over only the outer plan would
    * have read it as vanished (stale-entry false positive) while a
    * real unbounded window could hide the same way (missed offender).
    * The cached subtree is stored analyzed; it is optimized here so it
    * is judged at the same altitude as the outer optimized plan.
    */
  private def collectThroughCaches[A](p: LogicalPlan)(
      f: PartialFunction[LogicalPlan, A]): Seq[A] =
    p.collect {
      case n => n
    }.flatMap {
      case imr: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        collectThroughCaches(spark.sessionState.optimizer.execute(
          imr.cacheBuilder.logicalPlan))(f)
      case n => f.lift(n).toSeq
    }

  private def unboundedGlobalWindows(
      df: org.apache.spark.sql.DataFrame): Seq[LWindow] =
    collectThroughCaches(df.queryExecution.optimizedPlan) {
      case w: LWindow if w.partitionSpec.isEmpty &&
        !isRangeOffsetsTable(w.child) => w
    }

  test("no query plans an unpartitioned window over a corpus-growing input") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      unboundedGlobalWindows(SparkEntry.queries(name)(spark, sf)).nonEmpty
    }.toSet
    val unexplained = offenders -- globalWindowOk
    val stale = globalWindowOk -- offenders
    assert(unexplained.isEmpty && stale.isEmpty,
      s"global (single-task) windows without a bounded-input entry " +
        s"(distribute via DistributedRank or document the bound): " +
        s"[${unexplained.toSeq.sorted.mkString(", ")}]; stale " +
        s"globalWindowOk entries (no global window in plan): " +
        s"[${stale.toSeq.sorted.mkString(", ")}]")
  }

  test("the global-window audit fires on a corpus-sized NTILE (mutation probe)") {
    // the OLD q_ntile_spend shape — exactly what round 12 removed
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val mutated = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice")).as("spend"))
      .withColumn("decile", ntile(10).over(
        W.orderBy(col("spend").desc, col("o_custkey"))))
    assert(unboundedGlobalWindows(mutated).nonEmpty,
      "audit failed to flag an unpartitioned corpus-sized window")
    // ...and the kernel that replaced it passes: its only global
    // window is the ≤parts-row per-range offsets table
    val (ranked, _) = operators.DistributedRank.rankPrefix(
      Tables.orders(spark, sf).groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice")).as("spend")),
      Seq(col("spend").desc, col("o_custkey")), "rn")
    assert(unboundedGlobalWindows(ranked).isEmpty,
      "kernel's bounded offsets window wrongly flagged")
  }

  test("every batch query keeps a whole-stage-codegen span") {
    // dedup_embedding_cosine is mapPartitions-kerneled by design (the
    // scoring loop is hand-fused Scala, not Catalyst expressions)
    val exempt = Set("dedup_embedding_cosine")
    for ((name, fn) <- SparkEntry.queries if !exempt(name)) {
      val df = fn(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      // AQE-finalized plans print codegen stages as "*(n) Op" markers
      assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
        s"$name has no whole-stage-codegen span:\n$plan")
    }
  }

  // ---------------------------------------------------------------
  // Shared tables (graft.Shared) belong to the plan that built them:
  // building or running a query registers nothing in the session, a
  // plan holds each shared table once, and a dropped plan's tables are
  // unpersisted.

  import org.apache.spark.sql.execution.columnar.InMemoryRelation

  /** Every shared table `p` reads, also those read inside another
    * shared table's plan, once per table. */
  private def sharedTables(p: LogicalPlan): Seq[InMemoryRelation] = {
    def all(q: LogicalPlan): Seq[InMemoryRelation] =
      q.collect { case r: InMemoryRelation => r }
        .flatMap(r => r +: all(r.cacheBuilder.logicalPlan))
    all(p).foldLeft(Seq.empty[InMemoryRelation]) { (seen, r) =>
      if (seen.exists(_.cacheBuilder eq r.cacheBuilder)) seen else seen :+ r
    }
  }

  /** Pairs of distinct shared tables in `p` that compute the same
    * result: a table the query builds twice where it should pass one
    * down. */
  private def duplicateShared(p: LogicalPlan): Seq[(InMemoryRelation, InMemoryRelation)] = {
    val ts = sharedTables(p)
    for {
      (a, i) <- ts.zipWithIndex
      b <- ts.drop(i + 1)
      if a.cacheBuilder.logicalPlan.sameResult(b.cacheBuilder.logicalPlan)
    } yield (a, b)
  }

  /** The queries whose plans hold a shared table, sorted. */
  private lazy val sharedSites: Seq[String] =
    SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, fn) if sharedTables(
        fn(spark, sf).queryExecution.analyzed).nonEmpty => name
    }

  test("building every query, and running each that shares a table, leaves the CacheManager empty") {
    val cm = spark.sharedState.cacheManager
    assert(cm.isEmpty, "the session held cached tables before the builds")
    SparkEntry.queries.values.foreach(_(spark, sf))
    assert(cm.isEmpty, "a query build registered a cached table")
    assert(sharedSites.size >= 25, s"shared-table queries: $sharedSites")
    for (name <- sharedSites) {
      SparkEntry.queries(name)(spark, sf).collect()
      assert(cm.isEmpty, s"$name registered a cached table when it ran")
    }
  }

  test("no plan holds two shared tables that compute the same result") {
    val dups = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      duplicateShared(fn(spark, sf).queryExecution.analyzed).map { case (a, b) =>
        s"$name: ${a.cacheBuilder.cachedName} and ${b.cacheBuilder.cachedName}"
      }
    }
    assert(dups.isEmpty, s"build the table once and pass it down:\n" +
      dups.mkString("\n"))
    // the audit fires on a table built twice (mutation probe)
    def twice = Shared(Tables.nation(spark, sf).select("n_nationkey"))
    assert(duplicateShared(twice.union(twice).queryExecution.analyzed).size == 1)
    val once = twice
    assert(duplicateShared(once.union(once).queryExecution.analyzed).isEmpty)
  }

  test("a dropped plan's shared tables are unpersisted") {
    // the tables the runs above materialized are reachable from no plan
    // now, so the ContextCleaner (and the weak persistent-RDD map) let
    // them go once the garbage collector has run
    val sc = spark.sparkContext
    val deadline = System.currentTimeMillis() + 60000
    while (sc.getPersistentRDDs.nonEmpty &&
        System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(sc.getPersistentRDDs.isEmpty, "still persisted: " +
      sc.getPersistentRDDs.values.map(r => s"${r.id} ${r.name}").mkString(", "))
  }
}
