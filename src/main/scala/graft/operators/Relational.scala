package graft.operators

import graft.{Num, QueryModule, Shared, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Batch relational surface over the TPC-H-ish tables: the generalized
  * analytics capabilities BASELINE.json obliges on top of the reference's
  * streaming dataflow (SURVEY.md §2.1 checklist, right column): scans,
  * joins (broadcast/shuffle/semi/anti/outer/as-of), hash aggregation,
  * distinct, rollup/cube, window functions, sorts/top-k, set ops, string
  * and JSON scalar functions, time-windowed aggregation.
  *
  * Scale notes (100 TB design intent):
  *  - Filters/projections sit directly on the parquet scan (pushdown +
  *    pruning verified via .explain in RelationalSpec).
  *  - Dimension tables (region/nation) are broadcast explicitly; the
  *    customer/orders sides are left to AQE, which picks broadcast at
  *    small SF and shuffled hash join at cluster scale.
  *  - Aggregations are declarative groupBy → Catalyst does map-side
  *    partial aggregation; no collect-based logic anywhere.
  *  - The as-of join uses the union + carry-forward-window formulation:
  *    one shuffle on the join key, no per-row range probe, skew-safe.
  *
  * Float determinism: every double aggregate goes through Num.dsum/davg
  * (exact decimal accumulation) so results hash-match DuckDB regardless
  * of partition count or merge order; running windows use decimal sums
  * because DuckDB's segment-tree window accumulator reorders additions.
  *
  * Synthetic-data ranges (TESTDATA.md tables): order/ship dates span
  * 1995–2001, events.ts spans Jan 2024, discounts 0.00–0.10.
  */
object Relational extends QueryModule {
  import Tables._
  import Num._

  private def tsLit(s: String) = lit(s).cast("timestamp")

  /** q_record_linkage's corpus-adaptive blocking-suffix length: D
    * entity-number digits give 25 nations x 10^D blocks; D steps up
    * when expected block size would exceed ~64 customers
    * (n > 25 * 64 * 10^(D-1)). Valid in both Spark SQL and DuckDB —
    * both engines derive the identical D from COUNT(customer). */
  private def linkageDigitsSql(nCol: String): String =
    (8 to 2 by -1).map { dd =>
      val thresh = 25L * 64L * math.pow(10, dd - 1).toLong
      s"WHEN $nCol > $thresh THEN $dd"
    }.mkString("CASE ", " ", " ELSE 1 END")

  /** SQL-surface queries against a shared SparkSession: register the
    * input under a per-invocation-unique temp view (Verify runs
    * queries CONCURRENTLY — a fixed name would race), build the
    * DataFrame, then drop the view. spark.sql analyzes eagerly, so the
    * view binding is resolved into the returned plan before the drop;
    * repeated invocations leave no catalog residue. */
  private def withTempView(s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame, prefix: String)(
      build: String => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val v = prefix + java.util.UUID.randomUUID.toString.replace("-", "")
    df.createOrReplaceTempView(v)
    try build(v) finally s.catalog.dropTempView(v)
  }

  /** Co-purchase edges (p1 < p2, support >= 2) — shared by
    * q_basket_pairs and q_triangle_count. Pair generation is bounded
    * by lines-per-order via the l_orderkey equi-join. */
  private def basketPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val li = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    li.as("a").join(li.as("b"),
      col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
  }

  override def queries: Map[String, Q] = Map(
    // ---- aggregation ----------------------------------------------------
    // TPC-H Q1: pricing summary. Single scan → partial agg → final agg.
    "q1_pricing" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_shipdate") <= tsLit("2001-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // TPC-H Q6: selective filter + scalar aggregate; scan-only job.
    "q6_forecast" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_shipdate") >= tsLit("1996-01-01") &&
          col("l_shipdate") < tsLit("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))
    }),

    // GROUP BY + HAVING: active customers by order count.
    "q_having_active" -> ((s, d) => {
      orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_spent"))
        .filter(col("n_orders") >= 3)
        .orderBy(col("o_custkey"))
    }),

    // Exact distinct aggregation (shuffle on group key, expand for
    // multiple distincts handled by Catalyst's rewrite).
    "q_distinct_parts" -> ((s, d) => {
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    }),

    // Approximate stats with PORTABLE sketches: distinct via bounded
    // KMV (O(k) state, mergeable — see KmvSmallest) and percentiles
    // via a deterministic md5-keyed ~10% row sample with an exact
    // interpolated percentile over the sample. Both are one-pass,
    // fixed-memory, order-independent — the properties HLL++ /
    // approx_percentile buy at 100 TB — but unlike those (whose merge
    // internals are engine-specific) every intermediate here is a
    // shared md5-derived value, so DuckDB reproduces the result
    // bit-for-bit and this query carries a full hash oracle.
    // RelationalSpec additionally bounds both estimates against the
    // exact answers.
    "q_approx_stats" -> ((s, d) => {
      val k = 128
      lineitem(s, d)
        .withColumn("h", expr(
          "cast(conv(substring(md5(cast(l_partkey as string)), 1, 8), 16, 10) as double)" +
            " / 4294967296.0"))
        // sample keyed on the row's unique (orderkey, linenumber) id:
        // both engines compute the identical md5, so the sampled set —
        // not just its size — is identical
        .withColumn("sampled_price", when(expr(
          "cast(conv(substring(md5(concat(cast(l_orderkey as string), '-'," +
            " cast(l_linenumber as string))), 1, 8), 16, 10) as bigint) % 10 = 0"),
          col("l_extendedprice")))
        .groupBy(col("l_returnflag"))
        .agg(
          graft.expressions.KmvSmallest.kmv_smallest(col("h"), k).as("hs"),
          expr("percentile(sampled_price, 0.5)").as("p50_price"),
          expr("percentile(sampled_price, 0.95)").as("p95_price"))
        .withColumn("approx_parts",
          when(size(col("hs")) >= k,
            lit((k - 1).toDouble) / element_at(col("hs"), k))
            .otherwise(size(col("hs")).cast("double")))
        .select(col("l_returnflag"), col("approx_parts"),
          col("p50_price"), col("p95_price"))
        .orderBy(col("l_returnflag"))
    }),

    // KMV (k-minimum-values) distinct-count sketch, k=256: estimate =
    // (k-1) / h_k where h_k is the k-th smallest distinct uniform hash.
    // Unlike HLL sketches (engine-specific merge internals), KMV over a
    // shared md5-derived hash is EXACTLY portable — both engines
    // compute identical doubles. The aggregation state is the bounded
    // native KmvSmallest buffer: O(k) doubles per group under any merge
    // order (a collect_set formulation is estimator-equivalent but
    // holds EVERY distinct hash per group — memory-linear in distinct
    // count, which is exactly what a sketch exists to avoid at 100 TB).
    // The DuckDB oracle keeps the full-set formulation; equality holds
    // because the k smallest distinct values determine the estimate.
    "q_kmv_distinct" -> ((s, d) => {
      val k = 256
      lineitem(s, d)
        .withColumn("h", expr(
          "cast(conv(substring(md5(cast(l_partkey as string)), 1, 8), 16, 10) as double)" +
            " / 4294967296.0"))
        .groupBy(col("l_returnflag"))
        .agg(graft.expressions.KmvSmallest.kmv_smallest(col("h"), k).as("hs"),
          countDistinct(col("l_partkey")).as("exact_distinct"))
        // fewer than k distinct hashes seen => the sketch holds the
        // whole set and the estimate IS the (hash-)distinct count —
        // the standard KMV small-set branch
        .withColumn("kmv_estimate",
          when(size(col("hs")) >= k,
            lit((k - 1).toDouble) / element_at(col("hs"), k))
            .otherwise(size(col("hs")).cast("double")))
        .select(col("l_returnflag"), col("kmv_estimate"),
          col("exact_distinct"))
        .orderBy(col("l_returnflag"))
    }),

    // Sketch SET OPERATIONS (the theta-sketch capability): distinct
    // users per event type, of their union, and of their
    // INTERSECTION — all from three bounded KMV sketches, never a
    // distinct-join of the raw sets. The theta trick: θ_union ≤ both
    // per-set thetas, so every union-sketch hash that belongs to A is
    // guaranteed to also sit in A's sketch — membership tests against
    // the two k-arrays are exact, and est_inter = (|both|/k')·D̂_union.
    // Below k distinct the sketches hold the whole sets and every
    // estimate collapses to the exact count (the q_kmv_distinct
    // small-set branch). All arithmetic is the same md5-derived
    // doubles + a fixed IEEE op sequence in both engines, so even the
    // ESTIMATES hash-match the oracle.
    "q_kmv_setops" -> ((s, d) => {
      import graft.expressions.KmvSmallest.kmv_smallest
      val k = 64
      val hExpr = "cast(conv(substring(md5(cast(user_id as string))," +
        " 1, 8), 16, 10) as double) / 4294967296.0"
      // the value cut makes membership PARTIAL (ragged overlap between
      // the two sets) so the theta/estimator branch is actually
      // exercised at sf >= 0.01 rather than the exact small-set branch
      val ev = events(s, d).filter(col("value") > 110)
        .select(col("event_type"), col("user_id"), expr(hExpr).as("h"))
      def sketch(f: org.apache.spark.sql.Column, pfx: String) =
        ev.filter(f).agg(kmv_smallest(col("h"), k).as(s"${pfx}_sk"),
          countDistinct(col("user_id")).as(s"${pfx}_exact"))
      def est(sk: String) =
        when(size(col(sk)) >= k,
          lit((k - 1).toDouble) / element_at(col(sk), k))
          .otherwise(size(col(sk)).cast("double"))
      sketch(col("event_type") === "view", "a")
        .crossJoin(broadcast(sketch(col("event_type") === "click", "b")))
        .crossJoin(broadcast(sketch(
          col("event_type").isin("view", "click"), "u")))
        .withColumn("est_a", est("a_sk"))
        .withColumn("est_b", est("b_sk"))
        .withColumn("est_union", est("u_sk"))
        .withColumn("n_both", size(expr(
          "filter(u_sk, x -> array_contains(a_sk, x)" +
            " AND array_contains(b_sk, x))")).cast("long"))
        .withColumn("est_inter",
          col("n_both").cast("double") / size(col("u_sk")) *
            col("est_union"))
        .select(col("est_a"), col("est_b"), col("est_union"),
          col("n_both"), col("est_inter"), col("a_exact"),
          col("b_exact"), col("u_exact"))
    }),

    // ---- joins ----------------------------------------------------------
    // TPC-H Q3: shipping priority. 3-way join, group, top-10.
    "q3_shipping" -> ((s, d) => {
      val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = orders(s, d).filter(col("o_orderdate") < tsLit("1998-01-01"))
      val l = lineitem(s, d).filter(col("l_shipdate") > tsLit("1998-01-01"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5: multi-way join through region→nation→(customer,supplier),
    // revenue per nation. region/nation broadcast; rest to AQE.
    "q5_region_revenue" -> ((s, d) => {
      val r = region(s, d).filter(col("r_name") === "EUROPE")
      val n = nation(s, d)
      val c = customer(s, d)
      val sup = supplier(s, d)
      val o = orders(s, d)
        .filter(col("o_orderdate") >= tsLit("1996-01-01") &&
          col("o_orderdate") < tsLit("1997-01-01"))
      val l = lineitem(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q10 shape (returned-item reporting): revenue lost to
    // returns per customer over one quarter, top 20. The orderdate
    // filter and the returnflag filter both push to the parquet scans
    // BEFORE the 3-way join; lineitem-orders shuffles on orderkey,
    // the customer join flips to broadcast under AQE at small SF and
    // shuffled-hash at cluster scale, nation is an explicit broadcast.
    // Aggregating on custkey alone (name/acctbal/n_name ride along via
    // the post-agg customer join) keeps the shuffle key narrow — the
    // canonical Q10 groups by all four, paying a wide composite key.
    "q_returned_items" -> ((s, d) => {
      val lost = lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .join(orders(s, d)
            .filter(col("o_orderdate") >= tsLit("1996-01-01") &&
              col("o_orderdate") < tsLit("1996-04-01")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      lost
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"), col("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // Top-k by aggregate: biggest customers by lifetime spend.
    "q_top_customers" -> ((s, d) => {
      orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(dsum(col("o_totalprice")).as("total_spent"),
          count(lit(1)).as("n_orders"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("total_spent"),
          col("n_orders"))
        .orderBy(col("total_spent").desc, col("c_custkey"))
        .limit(15)
    }),

    // Left-semi join: customers that have at least one open ('P') order.
    "q_semi_customers" -> ((s, d) => {
      customer(s, d)
        .join(orders(s, d).filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // Left-anti join: customers with no urgent-priority orders.
    "q_anti_customers" -> ((s, d) => {
      customer(s, d)
        .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // Left-outer join + aggregate: customer count per nation (zeros kept).
    "q_outer_nation" -> ((s, d) => {
      nation(s, d)
        .join(customer(s, d), col("n_nationkey") === col("c_nationkey"),
          "left_outer")
        .groupBy(col("n_name"))
        .agg(count(col("c_custkey")).as("n_customers"),
          dsum(coalesce(col("c_acctbal"), lit(0.0))).as("sum_acctbal"))
        .orderBy(col("n_name"))
    }),

    // Salted join: identical rows to the plain equi-join (the oracle
    // IS the plain join), but hot keys spread across 8 salt buckets —
    // the explicit skew tool for when AQE's split isn't enough.
    "q_salted_join" -> ((s, d) => {
      val joined = Joins.saltedJoin(events(s, d), customer(s, d),
        col("user_id"), col("c_custkey"), salts = 8)
      joined
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("c_mktsegment"))
    }),

    // As-of join (operator the reference lacks; SURVEY §2.1 checklist):
    // for each purchase event, the most recent click (ts <= purchase ts)
    // by the same user. Implemented as union + carry-forward window:
    // one shuffle on user_id, linear scan per partition — the scalable
    // formulation (no per-row range probe, no broadcast of the big side).
    "q_asof_click" -> ((s, d) => {
      val ev = events(s, d)
      // dedup click side per (user_id, ts) so ties are deterministic
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
        .select(col("user_id"), col("ts"), col("click_id"),
          lit(0).as("kind"), lit(null).cast("long").as("purchase_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          lit(null).cast("long").as("click_id"), lit(1).as("kind"),
          col("event_id").as("purchase_id"))
      // kind orders click before purchase at equal ts => inclusive (<=)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("asof_click_id",
          last(col("click_id"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("purchase_id"), col("user_id"),
          col("asof_click_id"))
        .orderBy(col("purchase_id"))
    }),

    // FORWARD as-of join — q_asof_click's time-mirror, and the one a
    // LABELING pipeline needs: for each view event, the NEXT purchase
    // (ts >= view ts) by the same user — "did this impression convert,
    // and to what" — where the backward form answers attribution.
    // Same scalable union + carry window formulation, with the frame
    // REVERSED (currentRow..unboundedFollowing) instead of a second
    // sort: one user_id shuffle, linear per partition, no range probe.
    // kind orders view BEFORE purchase at equal ts, so the view's
    // forward frame still contains a same-instant purchase =>
    // inclusive (>=).
    "q_forward_asof" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(min(col("event_id")).as("next_purchase_id"))
        .select(col("user_id"), col("ts"), col("next_purchase_id"),
          lit(1).as("kind"), lit(null).cast("long").as("view_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          lit(null).cast("long").as("next_purchase_id"), lit(0).as("kind"),
          col("event_id").as("view_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("kind"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      purchases.unionByName(views)
        .withColumn("converts_to",
          first(col("next_purchase_id"), ignoreNulls = true).over(w))
        .filter(col("kind") === 0)
        .select(col("view_id"), col("user_id"), col("converts_to"))
        .orderBy(col("view_id"))
    }),

    // Range/theta join: equi-key plus inequality — per order, count
    // line-item pairs shipped in strictly increasing date order. The
    // equi key carries the shuffle; the inequality evaluates inside
    // the hash-join match loop (no nested-loop blowup).
    "q_range_join" -> ((s, d) => {
      val l1 = lineitem(s, d).select(col("l_orderkey").as("k"),
        col("l_linenumber").as("ln1"), col("l_shipdate").as("d1"))
      val l2 = lineitem(s, d).select(col("l_orderkey").as("k2"),
        col("l_linenumber").as("ln2"), col("l_shipdate").as("d2"))
      l1.join(l2, col("k") === col("k2") &&
          col("ln1") < col("ln2") && col("d1") < col("d2"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_ordered_pairs"))
        .orderBy(col("k"))
    }),

    // Exact interpolated percentiles (sort-based, not sketch).
    "q_percentiles" -> ((s, d) => {
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.5)").as("p50"),
          expr("percentile(l_extendedprice, 0.9)").as("p90"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- windows --------------------------------------------------------
    // Ranking window: top-3 orders per market segment by price.
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("c_mktsegment"), col("rk"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy(col("c_mktsegment"), col("rk"))
    }),

    // Running-total window: cumulative spend per user over time.
    // Decimal accumulation: DuckDB's segment-tree window sums doubles in
    // a different order than Spark's streaming frame — decimal is exact
    // under any association, so both engines agree bit-for-bit.
    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .filter(col("event_type") === "purchase")
        .withColumn("running_spend",
          sum(dsumExpr(col("value"))).over(w).cast("double") / 1e8)
        .withColumn("purchase_seq", row_number().over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("ts"), col("event_id"))))
        .select(col("event_id"), col("user_id"), col("purchase_seq"),
          col("running_spend"))
        .orderBy(col("event_id"))
    }),

    // Navigation windows: lag/lead deltas + ntile quartiles over the
    // per-user purchase sequence.
    "q_window_nav" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, d)
        .filter(col("event_type") === "purchase")
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("next_value", lead(col("value"), 1).over(w))
        .withColumn("quartile", ntile(4).over(w))
        .select(col("event_id"), col("user_id"), col("value"),
          col("prev_value"), col("next_value"), col("quartile"))
        .orderBy(col("event_id"))
    }),

    // RANGE-frame window (value-based frame, not row-based): for each
    // order, how many of the same customer's orders fall within
    // [price - 1000, price], and their decimal-exact sum. Distinct
    // semantics from ROWS frames: peers enter by VALUE distance, so
    // ties and gaps behave differently.
    "q_window_range" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"))
        .rangeBetween(-1000L, 0L)
      orders(s, d)
        .withColumn("n_near", count(lit(1)).over(w))
        .withColumn("sum_near",
          sum(dsumExpr(col("o_totalprice"))).over(w).cast("double") / 1e8)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("n_near"), col("sum_near"))
        .orderBy(col("o_orderkey"))
    }),

    // Distribution window functions: percent_rank / cume_dist over
    // order price within market segment (exact rational arithmetic in
    // both engines, so doubles match bit-for-bit).
    "q_window_dist" -> ((s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice"))
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .select(col("o_orderkey"), col("c_mktsegment"),
          col("o_totalprice"), col("pr"), col("cd"))
        .orderBy(col("o_orderkey"))
    }),

    // Session windows (5-minute gap) in batch: Spark's session_window
    // vs the oracle's gaps-and-islands formulation — same boundaries,
    // same aggregates. The streaming form of this operator is covered
    // in StreamingSpec with a watermark.
    "q_session_windows" -> ((s, d) => {
      events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "5 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"),
          date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // ---- grouping sets --------------------------------------------------
    // ROLLUP with coalesced totals (avoids NULL-ordering dialect gaps).
    "q_rollup_pricing" -> ((s, d) => {
      lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy(col("returnflag"), col("linestatus"))
    }),

    // CUBE over nation × segment.
    "q_cube_segment" -> ((s, d) => {
      customer(s, d)
        .join(broadcast(nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .cube(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("sum_bal"))
        .select(coalesce(col("n_name"), lit("ALL")).as("nation"),
          coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          col("n"), col("sum_bal"))
        .orderBy(col("nation"), col("segment"))
    }),

    // Pivot: event counts per user-decile, one column per event type
    // (Catalyst rewrites to a single-pass conditional aggregation).
    "q_pivot_events" -> ((s, d) => {
      events(s, d)
        .withColumn("user_decile", (col("user_id") % 10).cast("long"))
        .groupBy(col("user_decile"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .orderBy(col("user_decile"))
    }),

    // Explicit GROUPING SETS (beyond rollup/cube) via the SQL surface.
    "q_grouping_sets" -> ((s, d) => {
      withTempView(s, orders(s, d), "orders_gs_")(v => s.sql(
        s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           |  COALESCE(o_orderpriority, 'ALL') AS priority,
           |  COUNT(*) AS n,
           |  ${Num.sqlSumSpark("o_totalprice")} AS sum_price
           |FROM $v
           |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
           |ORDER BY status, priority""".stripMargin))
    }),

    // Ordered string aggregation (LISTAGG / string_agg): per region,
    // the lexicographically-first 3 nation names concatenated in
    // order. Spark has no ordered string_agg aggregate — the portable
    // formulation is collect_list → array_sort → slice → array_join,
    // which also states the scale contract explicitly: the list is
    // per-group bounded (25 nations) BEFORE concatenation; an ordered
    // LISTAGG over an unbounded group would hold the whole group in
    // one aggregation buffer and belongs behind a top-k pre-filter.
    "q_string_agg" -> ((s, d) => {
      nation(s, d)
        .join(broadcast(region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(expr("array_join(slice(array_sort(collect_list(n_name)), 1, 3)" +
          ", ',')").as("top_nations"),
          count(lit(1)).as("n_nations"))
        .orderBy(col("r_name"))
    }),

    // ---- set operations -------------------------------------------------
    // Customers ordering in 1996 vs 1997: EXCEPT / INTERSECT / UNION ALL
    // with a tag column (exercises all three set ops in one plan).
    "q_setops_years" -> ((s, d) => {
      def buyers(year: String) = orders(s, d)
        .filter(col("o_orderdate") >= tsLit(s"$year-01-01") &&
          col("o_orderdate") < tsLit(s"${year.toInt + 1}-01-01"))
        .select(col("o_custkey"))
      val y96 = buyers("1996")
      val y97 = buyers("1997")
      val only96 = y96.distinct.except(y97).withColumn("tag", lit("only96"))
      val only97 = y97.distinct.except(y96).withColumn("tag", lit("only97"))
      val both = y96.intersect(y97).withColumn("tag", lit("both"))
      only96.unionByName(only97).unionByName(both)
        .orderBy(col("o_custkey"), col("tag"))
    }),

    // Conditional aggregation (TPC-H Q14 shape): PROMO revenue share.
    "q_promo_share" -> ((s, d) => {
      lineitem(s, d)
        .join(part(s, d), col("l_partkey") === col("p_partkey"))
        .agg(
          (sum(when(col("p_type") === "PROMO",
            round((col("l_extendedprice") * (lit(1) - col("l_discount")))
              * 1e8)).otherwise(lit(0)).cast("decimal(38,0)"))
            .cast("double") /
            sum(round((col("l_extendedprice") * (lit(1) - col("l_discount")))
              * 1e8).cast("decimal(38,0)")).cast("double") * 100)
            .as("promo_share_pct"),
          count(lit(1)).as("n_rows"))
    }),

    // Correlated scalar subquery via the SQL surface: orders priced
    // above their customer's average. Catalyst decorrelates this into
    // an aggregate + join — no per-row subquery execution.
    "q_sql_correlated" -> ((s, d) => {
      withTempView(s, orders(s, d), "orders_v_")(v => s.sql(
        s"""SELECT o_orderkey, o_custkey, o_totalprice
           |FROM $v o
           |WHERE o_totalprice > 1.5 * (
           |  SELECT AVG(o2.o_totalprice) FROM $v o2
           |  WHERE o2.o_custkey = o.o_custkey)
           |ORDER BY o_orderkey""".stripMargin))
    }),

    // ---- scalar functions ----------------------------------------------
    // String-function projection over part (split/lower/replace/substr).
    "q_string_funcs" -> ((s, d) => {
      part(s, d)
        .select(col("p_partkey"),
          lower(col("p_name")).as("name_lower"),
          split(col("p_name"), " ").getItem(0).as("first_token"),
          regexp_replace(col("p_name"), " ", "_").as("name_snake"),
          substring(col("p_name"), 1, 5).as("name_prefix"),
          length(col("p_name")).as("name_len"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy(col("p_partkey"))
    }),

    // JSON extraction from the events.props payload (P2-analog scalar).
    "q_json_props" -> ((s, d) => {
      events(s, d)
        .withColumn("k",
          get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),

    // CASE/WHEN bucketing + aggregation.
    "q_case_buckets" -> ((s, d) => {
      events(s, d)
        .withColumn("bucket",
          when(col("value") < 50, "low")
            .when(col("value") < 150, "mid")
            .otherwise("high"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    // ---- event-time windows --------------------------------------------
    // Tumbling 1-hour event-time window (batch form of the streaming
    // windowed aggregation; same window() primitive works on streams).
    "q_hourly_events" -> ((s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("hour_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("hour_start"), col("event_type"))
    }),

    // Fixed-width histogram: integer bucketing of a value column — the
    // portable distribution profile (approx_percentile's sketch merge
    // is engine-specific; floor-divided integer buckets are exact under
    // any partitioning). One scan + one small aggregate; the bucket
    // expression folds into the scan projection.
    "q_histogram" -> ((s, d) => {
      orders(s, d)
        .withColumn("bucket",
          floor(col("o_totalprice") / 25000.0).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy(col("bucket"))
    }),

    // UNPIVOT (stack): wide measure columns to long (measure, value)
    // rows, then one aggregate per measure — the melt step feature
    // pipelines run before per-metric analysis. stack() expands inline
    // on the scan (a generator, no shuffle until the aggregate); the
    // oracle is the portable UNION ALL formulation.
    // Plan note (round-8 measurement): the tempting aggregate-then-
    // unpivot rewrite (16 aggregates in one scan pass, stack over the
    // single result row — no 4xN Generate) measures 4x SLOWER here
    // (2.2 s vs 0.5 s warm at sf0.1): packing four decimal(38,0) sums
    // into one aggregate drops the accumulation out of whole-stage
    // codegen into the interpreted decimal path, while this shape's
    // single decimal sum over the stacked column stays codegen'd —
    // Generate + hash-aggregate both fuse. The 4x row expansion with a
    // codegen'd single-sum aggregate IS the floor for this query; the
    // r6->r7 bench delta (0.31->1.02 s) is full-surface codegen-cache
    // ordering variance, not a plan change.
    "q_unpivot" -> ((s, d) => {
      lineitem(s, d)
        .select(expr(
          "stack(4, 'quantity', l_quantity, 'extendedprice', l_extendedprice," +
            " 'discount', l_discount, 'tax', l_tax) AS (measure, v)"))
        .groupBy(col("measure"))
        .agg(count(lit(1)).as("n"), dsum(col("v")).as("total"),
          min(col("v")).as("vmin"), max(col("v")).as("vmax"))
        .orderBy(col("measure"))
    }),

    // Sliding event-time windows (1 h window, 15 min slide): each event
    // lands in exactly window/slide = 4 overlapping windows. Spark's
    // `window()` generator expands the 4 assignments inline on the
    // scan (no self-join), then one hash aggregate — the same cost
    // shape as tumbling, scaled by the overlap factor. The oracle
    // reproduces the epoch-aligned window starts by integer floor
    // division on epoch milliseconds.
    "q_sliding_events" -> ((s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("win_start"), col("n"), col("sum_value"))
        .orderBy(col("win_start"))
    }),

    // Multi-step event funnel (view → click → purchase): per user, the
    // first view, then the first click strictly after it, then the
    // first purchase strictly after that; the report is users reaching
    // each stage. Each stage is one filter + one (user_id) aggregate
    // joined to the previous stage's per-user timestamp — all three
    // shuffles key on user_id, so the exchange partitioning is reused
    // stage to stage; no windows over the whole event stream, no
    // self-join of events against events. Timestamps compare at
    // microsecond precision in both engines (Tables.events nano
    // truncation = DuckDB's CAST).
    "q_funnel_steps" -> ((s, d) => {
      val e = events(s, d).select(col("user_id"), col("event_type"),
        col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = e.filter(col("event_type") === "click")
        .join(v, Seq("user_id")).filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id")).filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      v.select(lit("1_view").as("stage"), col("user_id"))
        .unionByName(c.select(lit("2_click").as("stage"), col("user_id")))
        .unionByName(p.select(lit("3_purchase").as("stage"), col("user_id")))
        .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("stage"))
    }),

    // Cohort retention: users bucketed by their first active day, then
    // distinct active users per (cohort, day-offset) out to a week —
    // the standard engagement triangle. Two aggregates and a join, all
    // keyed on user_id (exchange reuse), then a distinct on the small
    // (user, cohort, offset) projection; day arithmetic is exact
    // integer date math in both engines.
    "q_retention" -> ((s, d) => {
      val e = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val f = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      e.join(f, Seq("user_id"))
        .select(col("user_id"), col("cohort"),
          datediff(col("day"), col("cohort")).cast("long").as("day_k"))
        .distinct()
        .filter(col("day_k") <= 7)
        .groupBy(col("cohort"), col("day_k"))
        .agg(count(lit(1)).as("n_users"))
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          col("day_k"), col("n_users"))
        .orderBy(col("cohort"), col("day_k"))
    }),

    // Recency-weighted engagement: per event type, the
    // 1/(1+age_days) time-decayed sum of event values against a fixed
    // anchor date — the freshness-weighted rollup behind trending
    // rankings and decayed counters. The anchor is a constant (not a
    // MAX(ts) scalar subquery) so the weight of a given event never
    // changes as new data arrives — the property that makes the rollup
    // incrementally maintainable — and every weight is one exact
    // integer datediff + one IEEE divide, identical in both engines;
    // the weighted sum goes through Num's quantized-decimal
    // accumulation so partial-agg order cannot perturb it. Pure
    // scan + one small-key aggregate: scan-bound at any scale.
    "q_decay_sum" -> ((s, d) => {
      events(s, d)
        .withColumn("w_value", col("value") /
          (lit(1) + datediff(lit("2024-02-01").cast("date"),
            to_date(col("ts")))))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("w_value")).as("decayed_sum"))
        .orderBy(col("event_type"))
    }),

    // First-order Markov transition matrix over per-user event
    // sequences — the "what happens after X" model behind
    // next-action prediction and session anomaly scoring. One
    // user-partitioned ordered window (lag) to form consecutive
    // pairs, then a tiny (|types|²) aggregate: the shuffle is the
    // user_id hash partition, identical at any corpus size, and the
    // transition matrix itself never grows past event-type
    // cardinality squared. Probabilities are one IEEE double divide
    // of two exact integers, so both engines agree bit-for-bit;
    // (ts, event_id) ordering makes the lag deterministic under ties.
    "q_event_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("prev_type"))))
        .orderBy(col("prev_type"), col("event_type"))
    }),

    // Arg-max rows without a window sort: per event type, the single
    // highest-value event (id, user, value) via max_by over a packed
    // (value, event_id) ordinal. Neither Spark's max_by nor DuckDB's
    // arg_max defines tie order (and both reject struct ordering
    // keys), so the value is snapped to its cent grid and packed with
    // the id into one bigint — both engines then maximize the SAME
    // scalar and agree exactly. One map-side-combinable aggregate:
    // the "best row per key" that otherwise costs a full window sort
    // + filter over the event stream; at 100 TB the partials carry
    // one row per (partition, type). The 1e12 pack factor leaves id
    // headroom to a trillion rows — it is the documented knob if ids
    // outgrow it.
    "q_argmax_events" -> ((s, d) => {
      events(s, d)
        .withColumn("pk", round(col("value") * 100).cast("long") *
          lit(1000000000000L) + col("event_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("max_by(event_id, pk)").as("top_event_id"),
          expr("max_by(user_id, pk)").as("top_user_id"),
          expr("max_by(value, pk)").as("top_value"))
        .orderBy(col("event_type"))
    }),

    // Time-spine gap fill: dense hourly report between the corpus's
    // first and last hour — empty hours appear with n=0 and the last
    // known hourly average carried forward (last_value IGNORE NULLS),
    // the standard prep before charting or feeding a forecaster.
    // The hourly aggregate is the only corpus-sized stage (one
    // map-side-combinable groupBy); the spine is generated from a
    // 2-value scalar aggregate and is |hours| rows, so the unkeyed
    // carry-forward window sorts only the spine — bounded by the time
    // domain, not the data. The left join keeps every spine hour, so
    // the spine cannot be its build side: the hourly aggregate (also
    // at most |hours| rows) is the side Spark broadcasts.
    "q_gapfill_hours" -> ((s, d) => {
      val hourly = events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
      val spine = events(s, d)
        .agg(date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi"))
        .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hr"))
      val w = Window.orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("hr"), "left")
        .select(col("hr"), coalesce(col("n"), lit(0L)).as("n"),
          last(col("avg_value"), ignoreNulls = true).over(w)
            .as("filled_avg"))
        .select(date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hr"),
          col("n"), col("filled_avg"))
        .orderBy(col("hr"))
    }),

    // Exact streaming-friendly least squares: per event type, the
    // slope and Pearson correlation of value against hour-of-day from
    // the five classic sufficient moments (n, Σx, Σy, Σxy, Σx², Σy²)
    // — the textbook one-pass formulation, map-side-combinable, no
    // second centered pass. Values quantize to an integer milli grid
    // so every moment is EXACT decimal arithmetic under any merge
    // order; the final slope/corr are a fixed sequence of IEEE ops
    // (casts, sqrt, divides — all correctly rounded, no libm
    // transcendentals), so both engines agree bit-for-bit. Decimal
    // headroom: n·Σy² at milli scale stays under 10³⁶ out to ~10¹²
    // rows; past that, drop the quantization another decade — the
    // documented knob.
    "q_stats_corr" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val e = events(s, d).select(col("event_type"),
        hour(col("ts")).cast(dec).as("x"),
        round(col("value") * 1000).cast(dec).as("ym"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val varx = col("n") * col("sxx") - col("sx") * col("sx")
      val vary = col("n") * col("syy") - col("sy") * col("sy")
      e.groupBy(col("event_type"))
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("x")).as("sx"), sum(col("ym")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("ym")).as("sxy"),
          sum(col("ym") * col("ym")).as("syy"))
        .select(col("event_type"), col("n").cast("long").as("n"),
          (cov.cast("double") / varx.cast("double") / lit(1000.0))
            .as("slope"),
          (cov.cast("double") /
            (sqrt(varx.cast("double")) * sqrt(vary.cast("double"))))
            .as("corr"))
        .orderBy(col("event_type"))
    }),

    // 2-D skyline (Pareto frontier): parts not dominated on
    // (maximize p_size, minimize p_retailprice). Instead of the
    // quadratic NOT EXISTS self-join (the oracle's formulation), the
    // plan reduces dominance to two cuts: a part survives iff it is
    // the cheapest at its own size AND no strictly larger size has a
    // min-price <= its price. Both cuts come from ONE per-size
    // aggregate — a table bounded by the size domain (50 rows here,
    // never corpus-sized), so the running-min window over sizes-desc
    // sorts only that tiny table and the join back is a broadcast.
    // Corpus-side cost: one map-side-combinable groupBy + one
    // broadcast join — linear at any scale, vs the self-join's n².
    "q_skyline" -> ((s, d) => {
      val perSize = part(s, d).groupBy(col("p_size"))
        .agg(min(col("p_retailprice")).as("mn_same"))
      val wDesc = Window.orderBy(col("p_size").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val cuts = perSize
        .withColumn("mn_strict", min(col("mn_same")).over(wDesc))
      part(s, d).join(broadcast(cuts), Seq("p_size"))
        .filter(col("p_retailprice") === col("mn_same") &&
          (col("mn_strict").isNull ||
            col("mn_strict") > col("p_retailprice")))
        .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
        .orderBy(col("p_size"), col("p_retailprice"), col("p_partkey"))
    }),

    // TPC-H Q13 shape: customer distribution by order count,
    // INCLUDING zero-order customers (the left join is the point —
    // an inner join silently drops them). Two aggregates: the first
    // keys on custkey (high cardinality, the exchange carries from
    // the join), the second is |distinct counts| rows. All-integer.
    "q_order_dist" -> ((s, d) => {
      val per = customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"),
          "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      per.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q22 shape: positive-balance customers with no RECENT
    // order (none since 2000 — every synthetic customer has SOME
    // order, so "never ordered" is the empty set; the recency window
    // keeps the anti join semantics AND a non-trivial answer),
    // rolled up by nation — anti join + a scalar threshold. The
    // threshold (mean positive balance) goes through Num's quantized
    // accumulation so the cutoff is bit-identical in both engines (a
    // plain AVG(double) is merge-order-dependent and can flip
    // borderline customers); it rides along as a broadcast 1-row
    // cross join (bounded by construction — PlanAuditSpec exemption).
    // The anti join keys on custkey; nation is an explicit broadcast.
    "q_idle_customers" -> ((s, d) => {
      val thr = customer(s, d).filter(col("c_acctbal") > 0)
        .agg(davg(col("c_acctbal")).as("thr"))
      customer(s, d)
        .join(orders(s, d)
          .filter(col("o_orderdate") >= tsLit("2000-01-01"))
          .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .crossJoin(broadcast(thr))
        .filter(col("c_acctbal") > col("thr"))
        .join(broadcast(nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          dsum(col("c_acctbal")).as("total_bal"))
        .orderBy(col("n_name"))
    }),

    // RFM segmentation (recency / frequency / monetary): the classic
    // customer-grading rollup. Quartile boundaries come from COUNTING
    // quantiles, not ntile: each metric's domain is bounded (days
    // since last order, order counts, whole-dollar totals), so the
    // cutoff selection windows run over distinct-VALUE count tables —
    // ntile over a billion customers would collapse into one
    // unpartitioned data-sized sort. Cutoff_k = MIN v with
    // cum*4 >= n*k (lower-quantile convention, all integer); scoring
    // is then a broadcast 1-row cross join + three compares per
    // metric. Segment counts out, 4x4x4 max.
    "q_rfm_segments" -> ((s, d) => {
      val rfm = orders(s, d).groupBy(col("o_custkey"))
        .agg(datediff(lit("2001-09-01").cast("date"),
          max(col("o_orderdate")).cast("date")).cast("long").as("rec"),
          count(lit(1)).as("freq"),
          sum(round(col("o_totalprice")).cast("decimal(38,0)"))
            .cast("long").as("mon"))
      def cuts(vCol: String, pfx: String) = {
        val counts = rfm.groupBy(col(vCol).as("v"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        counts
          .withColumn("cum", sum(col("cnt")).over(w))
          .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
          .agg(min(when(col("cum") * 4 >= col("n"), col("v")))
            .as(s"${pfx}1"),
            min(when(col("cum") * 4 >= col("n") * 2, col("v")))
              .as(s"${pfx}2"),
            min(when(col("cum") * 4 >= col("n") * 3, col("v")))
              .as(s"${pfx}3"))
      }
      def grade(vCol: String, pfx: String) =
        lit(1) + (col(vCol) > col(s"${pfx}1")).cast("int") +
          (col(vCol) > col(s"${pfx}2")).cast("int") +
          (col(vCol) > col(s"${pfx}3")).cast("int")
      rfm
        .crossJoin(broadcast(cuts("rec", "rc")))
        .crossJoin(broadcast(cuts("freq", "fc")))
        .crossJoin(broadcast(cuts("mon", "mc")))
        .select(grade("rec", "rc").as("r_q"), grade("freq", "fc").as("f_q"),
          grade("mon", "mc").as("m_q"))
        .groupBy(col("r_q"), col("f_q"), col("m_q"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("r_q"), col("f_q"), col("m_q"))
    }),

    // Market-basket pair counts: parts co-ordered in the same order,
    // with support >= 2 — pairwise frequent-itemset mining. The
    // self-join keys on l_orderkey, so pair generation is bounded by
    // lines-per-order (TPC-H: <= 7) per key — within-group pairs,
    // never a corpus product — and the pair aggregate shuffles on the
    // (p1, p2) key. The shape survives any corpus size as long as
    // basket size is bounded, which is the defining property of
    // baskets.
    "q_basket_pairs" -> ((s, d) =>
      basketPairs(s, d).orderBy(col("support").desc, col("p1"),
        col("p2"))),

    // Association rules (Agrawal-Srikant level 2): confidence and lift
    // for directed co-purchase rules a→b at ORDER granularity (the
    // distinct() collapses duplicate part lines within an order, so
    // supports are order counts — q_basket_pairs' edges deliberately
    // stay at line granularity, which is why this does not reuse
    // them). The pair join is the bounded-fan-out basket self-join;
    // the two support lookups shuffle on partkey (dimension-sized,
    // AQE may broadcast); the order total rides a broadcast 1-row
    // cross join (bounded — PlanAuditSpec exemption). Lift's
    // sup_ab·N·1e6 product reaches ~1e28 at warehouse scale, so the
    // ratio arithmetic runs in decimal(38,0) (the text_keywords
    // overflow contract); conf/lift land back in bigint ppm.
    "q_assoc_rules" -> ((s, d) => {
      // NOT cached (round-13 measurement): caching the distinct item
      // set for its four consumers was tried and made the query 2.2×
      // SLOWER at sf0.1 (3.9 s vs 1.8 s) — the in-memory table's
      // materialization plus lost whole-stage fusion cost more than
      // AQE's existing exchange reuse across the identical self-join
      // legs saves. Left as lineage; exchange reuse dedupes the
      // distinct's shuffle at runtime.
      val items = lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val nOrders = items.agg(
        count_distinct(col("l_orderkey")).as("n_orders"))
      val sup = items.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("sup"))
      val pairs = items.as("a").join(items.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
        .agg(count(lit(1)).as("sup_ab"))
        .filter(col("sup_ab") >= 2)
      val rules = pairs.select(col("p1").as("antecedent"),
          col("p2").as("consequent"), col("sup_ab"))
        .union(pairs.select(col("p2"), col("p1"), col("sup_ab")))
      rules
        .join(sup.select(col("l_partkey").as("antecedent"),
          col("sup").as("sup_a")), Seq("antecedent"))
        .join(sup.select(col("l_partkey").as("consequent"),
          col("sup").as("sup_b")), Seq("consequent"))
        .crossJoin(broadcast(nOrders))
        .withColumn("conf_ppm",
          expr("cast(sup_ab as decimal(38,0)) * 1000000 div sup_a"))
        .withColumn("lift_ppm", expr(
          "cast(sup_ab as decimal(38,0)) * n_orders * 1000000" +
            " div (cast(sup_a as decimal(38,0)) * sup_b)"))
        .select(col("antecedent"), col("consequent"), col("sup_ab"),
          col("conf_ppm"), col("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("antecedent"),
          col("consequent"))
        .limit(50)
    }),

    // HyperLogLog, relationalized (Flajolet et al. 2007): per-type
    // distinct-user registers from ONE pass over raw events — no
    // distinct, no per-key state. w = 60-bit md5 hash; bucket = low 10
    // bits (m=1024); the register is the max over the bucket's items
    // of the lowest-set-bit VALUE of the remaining 50 bits (2^tz —
    // monotone in the trailing-zero count tz, so max(2^tz) IS the
    // classic max-rho register with rho = tz+1, and stays integer).
    // The sketch state is two bounded aggregates: groupBy(type,
    // bucket) MAX (≤ 1024 rows per type regardless of cardinality —
    // at 100 TB the register table still broadcasts), then a per-type
    // rollup emitting n_hit and the harmonic sum S = Σ 2^50/v (exact:
    // v divides 2^50), from which the HLL estimate is
    // α·m²/((m−n_hit) + S/2^51) — computed and accuracy-asserted in
    // RelationalSpec (the estimate needs floats; the CHECKED output
    // is the integer sketch state plus the exact count beside it,
    // cross-engine bit-exact like the CMS report).
    "q_hll_distinct" -> ((s, d) => {
      val ev = events(s, d).select(col("event_type"), col("user_id"))
      // shared kernel: StreamingSketchParitySpec aggregates the same
      // lineage incrementally and pins stream == batch
      val regs = graft.functions.Sketches
        .hllRegisters(ev, "event_type", "user_id")
      val sketch = regs.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hit"),
          sum(expr("1125899906842624L div v")).as("harmonic_bits"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_uniques"))
      sketch.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_hit"), col("harmonic_bits"),
          col("exact_uniques"))
        .orderBy(col("event_type"))
    }),

    // Count-Min sketch, relationalized (Cormode & Muthukrishnan 2005):
    // per-user event-count ESTIMATES from a bounded d=4 × w=1024
    // counter table instead of a corpus-wide per-key aggregate — the
    // frequency member of the sketch family (KMV=distinct,
    // SpaceSaving=top-k, Bloom=membership) expressed as two
    // aggregations and a broadcast join, no custom state: counters =
    // groupBy(row, bucket) COUNT (4096 rows total, REGARDLESS of key
    // cardinality — at 100 TB the counter table still broadcasts);
    // estimate(key) = min over the 4 rows of its bucket's counter.
    // Everything md5-derived and integer, so the oracle recomputes the
    // identical sketch; the report carries exact counts beside the
    // estimates, making the CMS guarantee (estimate >= exact,
    // overestimate bounded by collisions) itself part of the checked
    // output. Top-50 by exact count, ties to the smaller user.
    "q_cms_users" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"))
      // shared kernel: counter building and probing use the same
      // probe-coordinate expression (Sketches.cmsProbesExpr), and the
      // streaming face aggregates the identical counter lineage
      val counters = graft.functions.Sketches.cmsCounters(ev)
      val exact = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("exact"))
      // probe from the per-user aggregate (|users| rows), re-hashing
      // each user's 4 (j, bucket) probes directly — NOT a distinct()
      // over the 4×|events| exploded stream, which would be a second
      // full-width shuffle just to rediscover the per-user keys
      exact.select(col("user_id"), col("exact"),
        explode(expr(graft.functions.Sketches.cmsProbesExpr)).as("e"))
        .select(col("user_id"), col("exact"), col("e.j").as("j"),
          col("e.bucket").as("bucket"))
        .join(broadcast(counters), Seq("j", "bucket"))
        .groupBy(col("user_id"), col("exact"))
        .agg(min(col("c")).as("estimate"))
        .select(col("user_id"), col("exact"), col("estimate"))
        .orderBy(col("exact").desc, col("user_id"))
        .limit(50)
    }),

    // Customer-cohort lifetime-value curves: cohort = month of first
    // order, k = whole months since cohort (integer y*12+m arithmetic
    // — months_between is fractional and engine-specific), per
    // (cohort, k) the order count, revenue, and the cumulative LTV
    // curve. Two aggregations: per-customer first order (shuffle on
    // custkey, reused by the orders self-join on the same key — AQE
    // may broadcast the first-order side), then the (cohort, k)
    // rollup. The running-sum window runs over the AGGREGATED table —
    // ≤ cohorts × months rows, bounded by the CALENDAR, not the
    // corpus — with decimal accumulation (q_window_running contract:
    // DuckDB's segment-tree window reorders additions).
    "q_cohort_ltv" -> ((s, d) => {
      val first = orders(s, d).groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("first_dt"))
      val w = Window.partitionBy(col("cohort")).orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders(s, d).join(first, Seq("o_custkey"))
        .withColumn("cohort", date_format(col("first_dt"), "yyyy-MM"))
        .withColumn("k",
          ((year(col("o_orderdate")) * 12 + month(col("o_orderdate"))) -
            (year(col("first_dt")) * 12 + month(col("first_dt"))))
            .cast("long"))
        .groupBy(col("cohort"), col("k"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("revenue"))
        .withColumn("cum_revenue",
          sum(dsumExpr(col("revenue"))).over(w).cast("double") / 1e8)
        .orderBy(col("cohort"), col("k"))
    }),

    // Triangle count + global clustering coefficient over the
    // co-purchase graph (edges = basket pairs with support >= 2).
    // The wedge join uses the classic DEGREE ORIENTATION: each edge
    // points from its (deg, id)-smaller endpoint to the larger, every
    // wedge is generated at its lowest-rank vertex only, and closure
    // is one equi-join back onto the oriented edges — each triangle
    // counted exactly once, and per-vertex wedge fan-out is bounded
    // by out-degree, which orientation caps at O(sqrt(m)) for any
    // graph: the trick that makes distributed triangle counting
    // survive power-law hubs (a hub's wedges are generated at its
    // low-degree neighbors, not at the hub). Wedge totals come from
    // the degree table; the coefficient is one IEEE divide of exact
    // integers.
    "q_triangle_count" -> ((s, d) => {
      // shared: the basket-pair join feeds five consumers (degree
      // table, both wedge legs, the closure probe, the edge count) —
      // unshared, Catalyst re-runs the lineitem self-join per leg
      // (measured 4.5 s -> the join once). On a cluster this barrier
      // is a checkpoint or an intermediate table, same shape.
      val e = Shared(basketPairs(s, d).select(col("p1"), col("p2")))
      val deg = e.select(col("p1").as("v"))
        .unionByName(e.select(col("p2").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val wd = e
        .join(deg.select(col("v").as("p1"), col("deg").as("d1")),
          Seq("p1"))
        .join(deg.select(col("v").as("p2"), col("deg").as("d2")),
          Seq("p2"))
      val uIsP1 = col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("p1") < col("p2"))
      // shared: both wedge legs and the closure probe read it (A/B at
      // sf0.1, 4 vCPU: unshared 43 jobs and 13.4 MB shuffled, 10.1-11.2
      // s; shared 26 jobs and 12.5 MB, 5.8-7.4 s)
      val oriented = Shared(wd.select(
        when(uIsP1, col("p1")).otherwise(col("p2")).as("u"),
        when(uIsP1, col("p2")).otherwise(col("p1")).as("v"),
        when(uIsP1, col("d2")).otherwise(col("d1")).as("dv")))
      // Round 14 re-examined: a sorted-adjacency-intersect rewrite
      // (|N⁺(u) ∩ N⁺(v)| per oriented edge via SortedIntersectCount,
      // no wedge rows) measured a WASH at sf0.1 (3.47 → 3.50 s, 26 →
      // 28 jobs, shuffle 12.5 → 12.6 MB — the shuffle here is the
      // upstream basket-pair join, not the wedges) and is NOT smaller
      // at scale either: carrying N⁺(u) arrays through the second
      // join's exchange moves the same Σ out-deg² values the wedge
      // rows do, just packed in arrays. Kept the proven wedge form.
      val wedgeOrder = col("x.dv") < col("y.dv") ||
        (col("x.dv") === col("y.dv") && col("x.v") < col("y.v"))
      val triangles = oriented.as("x")
        .join(oriented.as("y"),
          col("x.u") === col("y.u") && wedgeOrder)
        .select(col("x.v").as("u"), col("y.v").as("v"))
        .join(oriented.select(col("u"), col("v")), Seq("u", "v"))
        .agg(count(lit(1)).as("n_triangles"))
      val stats = deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
      val edges = e.agg(count(lit(1)).as("n_edges"))
      stats.crossJoin(broadcast(edges))
        .crossJoin(broadcast(triangles))
        .select(col("n_nodes"), col("n_edges"),
          col("n_wedges").cast("long").as("n_wedges"),
          col("n_triangles"),
          ((col("n_triangles") * 3).cast("double") / col("n_wedges"))
            .as("clustering"))
    }),

    // 7-day rolling active users (the DAU→WAU curve): a rolling
    // COUNT(DISTINCT) that no window frame can express exactly in
    // either engine. The exact-and-linear formulation: each distinct
    // (user, active-day) contributes membership to the 7 report days
    // it covers — explode that bounded factor, re-distinct, count per
    // day. Work is 7× the distinct (user, day) pairs (never user ×
    // calendar), every shuffle keys on high-cardinality (user, day),
    // and the report is calendar-bounded. Days past the last activity
    // are clipped so the curve ends with the data.
    "q_rolling_active_users" -> ((s, d) => {
      val ud = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val maxDay = ud.agg(max(col("day")).as("max_day"))
      ud.crossJoin(broadcast(maxDay))
        .select(col("user_id"), explode(expr(
          "sequence(day, least(date_add(day, 6), max_day))")).as("rday"))
        .distinct()
        .groupBy(col("rday"))
        .agg(count(lit(1)).as("wau"))
        .select(date_format(col("rday"), "yyyy-MM-dd").as("day"),
          col("wau"))
        .orderBy(col("day"))
    }),

    // Day-of-week × hour activity heatmap — the seasonality grid
    // behind capacity planning and anomaly baselines. Weekday comes
    // from integer epoch-day arithmetic ((days + 3) % 7, 0 = Monday)
    // rather than each engine's dayofweek() — their week-start
    // conventions differ, the formula doesn't. One
    // map-side-combinable aggregate, 168 output rows at any scale.
    "q_dow_hour_heatmap" -> ((s, d) => {
      events(s, d)
        .withColumn("dow", (datediff(to_date(col("ts")),
          lit("1970-01-01").cast("date")).cast("long") + 3) % 7)
        .withColumn("hr", hour(col("ts")).cast("long"))
        .groupBy(col("dow"), col("hr"))
        .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
        .orderBy(col("dow"), col("hr"))
    }),

    // Year-over-year growth per nation — the classic BI trend report.
    // Revenue aggregates through Num's quantized accumulation so the
    // per-(nation, year) totals are merge-order-exact; growth is then
    // ONE subtraction and ONE divide on those exact totals, identical
    // in both engines. The lag window partitions by nation over a
    // years-bounded frame (the aggregate output, never the fact
    // table); first year reports NULL growth rather than a fake zero.
    "q_yoy_growth" -> ((s, d) => {
      val rev = orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("yr"))
        .agg(dsum(col("o_totalprice")).as("revenue"))
      val w = Window.partitionBy(col("n_name")).orderBy(col("yr"))
      rev
        .withColumn("prev", lag(col("revenue"), 1).over(w))
        .select(col("n_name"), col("yr").cast("long").as("yr"),
          col("revenue"),
          ((col("revenue") - col("prev")) / col("prev")).as("yoy"))
        .orderBy(col("n_name"), col("yr"))
    }),

    // Inter-arrival time distribution: per-user gaps between
    // consecutive events, summarized as counting-quantile statistics
    // over the SECONDS grid (the q_anomaly_mad discipline — the
    // ranking window runs over distinct gap values, bounded by the
    // time domain, never the event count). Gaps are exact integer
    // microsecond differences; the lag window keys on user_id with a
    // (ts, event_id) order so ties are deterministic.
    "q_interarrival" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = events(s, d)
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(expr("(unix_micros(cast(ts as timestamp))" +
          " - unix_micros(cast(prev as timestamp))) div 1000000")
          .as("gap_s"))
      val counts = gaps.groupBy(col("gap_s"))
        .agg(count(lit(1)).as("cnt"))
      val wc = Window.orderBy(col("gap_s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts
        .withColumn("cum", sum(col("cnt")).over(wc))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
        .agg(max(col("n")).as("n_gaps"),
          min(when(col("cum") * 2 >= col("n"), col("gap_s")))
            .as("median_gap_s"),
          min(when(col("cum") * 10 >= col("n") * 9, col("gap_s")))
            .as("p90_gap_s"),
          max(col("gap_s")).as("max_gap_s"))
    }),

    // Robust outlier accounting per event type: median / MAD (median
    // absolute deviation) with a 3-MAD cut — the outlier rule that,
    // unlike mean/stddev z-scores, outliers themselves cannot drag.
    // Exactness AND scale come from the same trick: values live on a
    // 2-decimal cent grid, so both medians are COUNTING medians — a
    // (type, cent) count table plus one running-sum window over
    // distinct cents — never a per-row sort (the value domain bounds
    // the window, not the data; the rank-median of raw rows would
    // sort data-sized per-type partitions). All-integer arithmetic,
    // lower-median convention on even counts.
    "q_anomaly_mad" -> ((s, d) => {
      def median(df: org.apache.spark.sql.DataFrame, vCol: String) = {
        val counts = df.groupBy(col("event_type"), col(vCol))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("event_type")).orderBy(col(vCol))
        counts
          .withColumn("cum", sum(col("cnt")).over(w))
          .withColumn("tot",
            sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
          .filter(col("cum") >= expr("(tot + 1) div 2"))
          .groupBy(col("event_type")).agg(min(col(vCol)).as("med"))
      }
      val e = events(s, d).select(col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      val med = median(e, "c")
      val dev = e.join(broadcast(med), Seq("event_type"))
        .withColumn("dev", abs(col("c") - col("med")))
      val mad = median(dev, "dev")
        .withColumnRenamed("med", "mad")
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("med")).as("med_c"), min(col("mad")).as("mad_c"),
          sum(when(col("dev") > lit(3) * col("mad"), 1L).otherwise(0L))
            .as("n_anomalies"))
        .orderBy(col("event_type"))
    }),

    // Seasonally-adjusted anomaly screen — q_anomaly_mad's calendar-
    // aware sibling: a Saturday that looks like a Saturday is normal
    // even when it would flag against an all-days baseline, so the
    // residual is computed WITHIN the day-of-week stratum. Integer-
    // exact residual without a mean division: r = cnt·n_dow − tot_dow
    // (= n_dow·(cnt − mean), same sign/scale per stratum), then the
    // 3-MAD cut on |r| with MAD per stratum as a counting median over
    // the day spine. Day-of-week from epoch-day arithmetic (the
    // q_dow_hour_heatmap idiom — no engine-specific DAYOFWEEK). All
    // windows run over the calendar-bounded day spine; the fact scan
    // collapses to (day, cnt) first.
    "q_anomaly_seasonal" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(datediff(to_date(col("ts")),
          lit("1970-01-01").cast("date")).cast("long").as("day"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("dow", (col("day") + 3) % 7)
      val strat = daily.groupBy(col("dow"))
        .agg(count(lit(1)).as("n_dow"), sum(col("cnt")).as("tot_dow"))
      val r = daily.join(broadcast(strat), Seq("dow"))
        .withColumn("r", col("cnt") * col("n_dow") - col("tot_dow"))
        .withColumn("absr", abs(col("r")))
      // counting median of |r| per stratum (lower-median convention)
      val w = Window.partitionBy(col("dow")).orderBy(col("absr"))
      val mad = r.groupBy(col("dow"), col("absr"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("tot",
          sum(col("c")).over(Window.partitionBy(col("dow"))))
        .filter(col("cum") >= expr("(tot + 1) div 2"))
        .groupBy(col("dow")).agg(min(col("absr")).as("mad"))
      r.join(broadcast(mad), Seq("dow"))
        .select(col("day"), col("dow"), col("cnt"), col("r"),
          col("mad"), (col("absr") > lit(3) * col("mad")).as("anomaly"))
        .orderBy(col("day"))
    }),

    // Control-chart screening (Western Electric rules 1, 2 and 4) over
    // daily event volume — the SPC discipline q_cusum/q_anomaly_mad
    // complement: rule 1 = a point beyond 3σ, rule 2 = 2 of 3
    // consecutive points beyond 2σ on the same side, rule 4 = 8
    // consecutive points on one side of the mean. Everything integer:
    // with n days, total S, r_t = n·x_t − S (= n·(x_t − mean)) and
    // D = Σ r² (= n³·variance), "beyond kσ" is r²·n > k²·D
    // cross-multiplied — no sqrt, no float σ, bit-identical engines.
    // Decimal(38,0) keeps r² exact past 1e12 events/day. Rule 4's run
    // length is gaps-and-islands on the sign. All windows run over
    // the calendar-bounded day spine; the fact scan collapses first.
    "q_spc_rules" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(datediff(to_date(col("ts")),
          lit("1970-01-01").cast("date")).cast("long").as("day"))
        .agg(count(lit(1)).as("x"))
      val scal = daily.agg(count(lit(1)).as("n"),
        sum(col("x")).as("s"))
      val r = daily.crossJoin(broadcast(scal))
        .withColumn("r", expr(
          "cast(n as decimal(38,0)) * x - s"))
      val dTot = r.agg(sum(col("r") * col("r")).as("dd"))
      val w = Window.orderBy(col("day"))
      val flagged = r.crossJoin(broadcast(dTot))
        .withColumn("beyond3", expr("r * r * n > 9 * dd"))
        .withColumn("beyond2", expr("r * r * n > 4 * dd"))
        .withColumn("side", when(col("r") > 0, 1L)
          .when(col("r") < 0, -1L).otherwise(0L))
        .withColumn("b2pos", when(col("beyond2") && col("side") === 1, 1L)
          .otherwise(0L))
        .withColumn("b2neg", when(col("beyond2") && col("side") === -1, 1L)
          .otherwise(0L))
        .withColumn("rule2",
          sum(col("b2pos")).over(w.rowsBetween(-2, 0)) >= 2 ||
            sum(col("b2neg")).over(w.rowsBetween(-2, 0)) >= 2)
        .withColumn("newRun",
          when(lag(col("side"), 1).over(w).isNull ||
            lag(col("side"), 1).over(w) =!= col("side"), 1L).otherwise(0L))
        .withColumn("runId", sum(col("newRun"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val runLen = Window.partitionBy(col("runId")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      flagged
        .withColumn("run_len", count(lit(1)).over(runLen))
        .select(col("day"), col("x"),
          expr("cast(r as bigint)").as("r"),
          col("beyond3").as("rule1"), col("rule2"),
          (col("run_len") >= 8 && col("side") =!= 0).as("rule4"))
        .orderBy(col("day"))
    }),

    // Forecast-baseline BACKTEST (the forecasting-101 artifact: before
    // any model ships, know what naive / seasonal-naive / drift score
    // — a model that can't beat the naive table is noise). One-step
    // backtest over monthly revenue: naive = y_{t−1}, seasonal naive
    // = y_{t−12}, drift = y_{t−1} + (y_{t−1} − y_1)/(t−2) (Hyndman's
    // definitions). All predictions are lagged exact cents (drift's
    // division is the one rational step: sign-split integer div, both
    // engines identical); per method the table reports forecast
    // count, MAE and mean signed bias in cents (exact divisions over
    // non-negative counts). Windows run over the calendar-bounded
    // monthly spine; the fact scan collapses first.
    "q_forecast_backtest" -> ((s, d) => {
      import s.implicits._
      // shared kernel (StreamingMonitorParitySpec): same spine as q_acf
      val monthly = graft.functions.Monitors.monthlyCents(orders(s, d))
        .withColumnRenamed("rq", "y")
      val w = Window.orderBy(col("m"))
      val withPreds = monthly
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("prev", lag(col("y"), 1).over(w))
        .withColumn("naive", col("prev"))
        .withColumn("snaive", lag(col("y"), 12).over(w))
        .withColumn("y1", first(col("y")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("drift", when(col("t") >= 3,
          col("prev") + expr(
            "case when prev - y1 < 0" +
              " then -((y1 - prev) div (t - 2))" +
              " else (prev - y1) div (t - 2) end")))
      val errs = Seq(("naive", "naive"), ("seasonal_naive", "snaive"),
        ("drift", "drift"))
      errs.map { case (name, c) =>
        withPreds.filter(col(c).isNotNull)
          .agg(count(lit(1)).as("n_forecasts"),
            sum(abs(col("y") - col(c))).as("abs_err"),
            sum(col("y") - col(c)).as("bias"))
          .select(lit(name).as("method"), col("n_forecasts"),
            expr("cast(abs_err div n_forecasts as bigint)")
              .as("mae_cents"),
            expr("cast(case when bias < 0" +
              " then -((-bias) div n_forecasts)" +
              " else bias div n_forecasts end as bigint)")
              .as("bias_cents"))
      }.reduce(_.unionByName(_)).orderBy(col("method"))
    }),

    // Time-series SIMILARITY SEARCH with symbolic blocking (the
    // SAX-style discipline: symbolize, block on the key, verify
    // exactly — the same block-then-verify shape as every dedup tier
    // here, applied to series): each user's activity becomes 6 weekly
    // sums; the SAX word quantizes each week's deviation from the
    // user's own mean, normalized by the user's own variance
    // (cross-multiplied — level- and variance-invariant); candidate
    // pairs come from an equi-join on (word, volume bucket); the
    // verify is exact Pearson over the weekly sums in SIGNED SQUARED
    // milli (sign(cov)·cov²·1e3 div (vx·vy) — integer, no sqrt), kept
    // at |r| ≥ ~0.975 (r²_milli ≥ 950). Blocking granularity is
    // CORPUS-ADAPTIVE (SaxBlocking, the round-11 de-cliff): the word
    // alphabet steps up a ladder with the user count, and the second
    // key — an equi-depth volume bucket with k = clamp(n/64, 1, 1024)
    // buckets from a bounded 1024-cell pre-histogram — scales
    // continuously, so expected block size stays ~64 and candidate
    // pairs grow LINEARLY with users (at 150/1500 test users the
    // ladder sits at b = 1, the original sign word). Constant series
    // (vx = 0) are unverifiable and excluded.
    "q_ts_similarity" -> ((s, d) =>
      // shared kernel (graft.functions.TimeSeries): the streaming face
      // maintains the identical per-(user, week) counts and runs THIS
      // blocking+verify kernel over them
      // (StreamingTsSimilarityParitySpec)
      graft.functions.TimeSeries.similarPairs(
        graft.functions.TimeSeries.weeklyCounts(events(s, d)))),

    // Per-user SAX symbolization audit at FIXED fine alphabets (b = 2
    // and b = 3): the test corpora sit at b = 1 on the corpus ladder,
    // so without this the b > 1 arms of the generated word SQL would
    // only ever be exercised by SaxBlockingSpec's hand-computed cases
    // — here every user's b = 2 / b = 3 word is checked byte-for-byte
    // against the DuckDB oracle on real data (a stronger exercise
    // than a pair set, and never vacuous: one row per active user).
    // Also the inspection surface behind the similarity search: which
    // symbols a user's weeks quantize to at each granularity.
    "q_sax_words" -> ((s, d) =>
      graft.functions.TimeSeries.saxWords(
        graft.functions.TimeSeries.weeklyCounts(events(s, d)),
        Seq(2, 3))),

    // Per-key mode (most frequent value): neither engine defines
    // mode()'s tie order, so the portable formulation is count →
    // per-key max over a window → keep tied rows → MIN as the
    // deterministic tie-break. Both shuffles key on user_id (high
    // cardinality, uniform); the window partitions by the same key,
    // so the exchange is reused — no global sort anywhere.
    "q_mode_events" -> ((s, d) => {
      val counts = events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("user_id"))
      counts
        .withColumn("mx", max(col("cnt")).over(w))
        .filter(col("cnt") === col("mx"))
        .groupBy(col("user_id"))
        .agg(min(col("event_type")).as("mode_type"),
          max(col("mx")).as("n"))
        .orderBy(col("user_id"))
    }),

    // Cumulative distinct users by day — the growth curve a plain
    // COUNT(DISTINCT) OVER cannot express in either engine. Each
    // user's first active day (one user_id-keyed aggregate) turns
    // the running distinct count into a running SUM of a daily
    // new-user count; active days with no new users still appear
    // via the distinct-day spine. Every corpus-sized stage keys on
    // user_id or day; the running window sorts only the day spine
    // (bounded by the calendar, not the data).
    "q_running_distinct" -> ((s, d) => {
      val byDay = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val firstDay = byDay.groupBy(col("user_id"))
        .agg(min(col("day")).as("day"))
      val daily = firstDay.groupBy(col("day"))
        .agg(count(lit(1)).as("new_users"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byDay.select(col("day")).distinct()
        .join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("new_users"), lit(0L))
          .as("new_users"))
        .withColumn("cum_users", sum(col("new_users")).over(w))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("new_users"), col("cum_users"))
        .orderBy(col("day"))
    }),

    // TPC-H Q11 shape (no partsupp table in this star schema, so the
    // "stock value" is lineitem revenue): per-part revenue vs a
    // global-scalar threshold — group-aggregate against an aggregate
    // of itself. The per-part rollup is one map-side-combinable
    // shuffle; the threshold (the mean per-part value — scale-
    // invariant where Q11's 1/SF-scaled fraction is not, and the
    // synthetic uniform data keeps any k-sigma cut empty) re-aggregates the SAME
    // tiny per-part table and rides back as a broadcast 1-row cross
    // join, so the corpus-sized input is scanned exactly once.
    // Decimal-exact sums (Num discipline) keep the borderline parts
    // deterministic.
    "q_important_parts" -> ((s, d) => {
      val perPart = lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("value"))
      val thr = perPart
        .agg((dsum(col("value")) / count(lit(1))).as("thr"))
      perPart.crossJoin(broadcast(thr))
        .filter(col("value") > col("thr"))
        .select(col("l_partkey"), col("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),

    // TPC-H Q18 shape (large-volume orders): orders whose total
    // lineitem quantity clears a threshold, decorated with the
    // customer. The HAVING pre-aggregates lineitem BEFORE any join —
    // the 150-quantity cut drops ~all orders, so the join inputs are
    // the filtered aggregate (small) against orders/customer; the
    // aggregate keys on orderkey (lineitem's natural clustering), and
    // AQE picks the join strategy for the survivors.
    "q_large_orders" -> ((s, d) => {
      val big = lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 150)
      big
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").cast("string")
            .as("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    }),

    // ONLINE one-sided CUSUM monitor (Page 1954), the deployable
    // two-window form of q_cusum: calibrate the reference mean on the
    // first half of the calendar, then run the alarm recursion
    //   S_i = max(0, S_{i-1} + c_i - mu - slack),  alert when S_i > h
    // over the monitor half (slack = mu/20, h = mu/2, all integer
    // floor-div). The recursion is NOT folded — the reflection
    // identity S_i = prefix_i - min(0, min_{j<=i} prefix_j) turns it
    // into two running windows over the day spine (bounded by type
    // count × calendar, never event count), which also sidesteps a
    // DuckDB 1.0 list_reduce bug that mis-binds struct-accumulator
    // fields.
    "q_cusum_online" -> ((s, d) => {
      val daily0 = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("c"))
      val ref = daily0.filter(col("day") < lit("2024-01-16"))
        .groupBy(col("event_type"))
        .agg(expr("sum(c) div count(1)").as("mu"))
      val wrun = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily0.filter(col("day") >= lit("2024-01-16"))
        .join(ref, Seq("event_type"))
        .withColumn("dev", expr("c - mu - mu div 20"))
        .withColumn("prefix", sum(col("dev")).over(wrun))
        .withColumn("runmin", min(col("prefix")).over(wrun))
        .withColumn("s", expr("prefix - least(0L, runmin)"))
        .withColumn("alert", col("s") > expr("mu div 2"))
        .groupBy(col("event_type"), col("mu"))
        .agg(count(lit(1)).as("n_monitor_days"),
          sum(when(col("alert"), 1L).otherwise(0L)).as("n_alert_days"),
          min(when(col("alert"), col("day").cast("string")))
            .as("first_alert_day"),
          max(col("s")).as("max_s"))
        .orderBy(col("event_type"))
    }),

    // CUSUM changepoint scan per event type: daily value totals in
    // exact cents, deviation from the series' integer mean, running
    // cumulative deviation, and the day where |CUSUM| peaks — the
    // classic level-shift detector a metrics pipeline runs over every
    // series. All integer (cents, floor-div mean), so oracle-exact.
    // Scale shape: the corpus collapses to one (type, day) aggregate
    // immediately; every window after that runs over the day spine —
    // bounded by type count x calendar, never by the event count.
    "q_cusum" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("c"))
      val wt = Window.partitionBy(col("event_type"))
      val wrun = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("n_days", count(lit(1)).over(wt).cast("long"))
        .withColumn("mean_c", expr(
          "sum(c) over (partition by event_type)" +
            " div count(1) over (partition by event_type)"))
        .withColumn("cusum", sum(col("c") - col("mean_c")).over(wrun))
        .withColumn("pk", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(abs(col("cusum")).desc, col("day"))))
        .filter(col("pk") === 1)
        .select(col("event_type"), col("n_days"),
          date_format(col("day"), "yyyy-MM-dd").as("peak_day"),
          abs(col("cusum")).as("peak_cusum"),
          signum(col("cusum")).cast("long").as("direction"))
        .orderBy(col("event_type"))
    }),

    // TPC-H Q7 shape: bilateral trade volume between two nations by
    // ship year. Both nation dims broadcast (25 rows); the
    // lineitem→orders→customer chain shuffles on its keys and the
    // supp/cust-nation filter lands before the aggregate, so at
    // cluster scale the wide join carries only the two nations' rows.
    "q_volume_shipping" -> ((s, d) => {
      val cn = broadcast(nation(s, d).select(
        col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
      val sn = broadcast(nation(s, d).select(
        col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      lineitem(s, d)
        .filter(col("l_shipdate") >= tsLit("1996-01-01") &&
          col("l_shipdate") < tsLit("1998-01-01"))
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(cn, col("c_nationkey") === col("c_nk"))
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(sn, col("s_nationkey") === col("s_nk"))
        .filter((col("supp_nation") === "NATION_3" &&
            col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" &&
            col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // TPC-H Q8 shape: one supplier-nation's market share inside a
    // customer region, per order year. The share is a ratio of two
    // deterministic sums over the same aggregated rows, so the double
    // division is bit-identical cross-engine.
    "q_market_share" -> ((s, d) => {
      val cn = broadcast(nation(s, d).select(
        col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk")))
      val sn = broadcast(nation(s, d).select(
        col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val reg = broadcast(region(s, d).filter(col("r_name") === "ASIA"))
      lineitem(s, d)
        .join(part(s, d).filter(col("p_type") === "PROMO"),
          col("l_partkey") === col("p_partkey"))
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(cn, col("c_nationkey") === col("c_nk"))
        .join(reg, col("c_rk") === col("r_regionkey"))
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(sn, col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((dsum(when(col("supp_nation") === "NATION_8",
            col("l_extendedprice") * (lit(1) - col("l_discount")))
            .otherwise(lit(0.0))) /
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q9 shape: profit by supplier nation and order year. The
    // reference schema's ps_supplycost doesn't exist here, so cost is
    // proxied as 60% of the part's retail price per unit — the join
    // topology (fact × part × supplier × nation × orders) and the
    // group-by are the Q9 plan shape being exercised.
    "q_product_profit" -> ((s, d) => {
      lineitem(s, d)
        .join(part(s, d).filter(col("p_type") === "ECONOMY"),
          col("l_partkey") === col("p_partkey"))
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) -
          col("p_retailprice") * lit(0.6) * col("l_quantity"))
          .as("sum_profit"))
        .orderBy(col("n_name"), col("o_year").desc)
    }),

    // TPC-H Q4 shape: order-priority counts for orders with at least
    // one late line (shipped >60 days after the order date). Left-semi
    // join keeps one row per order regardless of how many lines are
    // late; the inequality rides the l_orderkey equi-join.
    "q_priority_late" -> ((s, d) => {
      orders(s, d)
        .filter(col("o_orderdate") >= tsLit("1996-01-01") &&
          col("o_orderdate") < tsLit("1996-04-01"))
        .join(lineitem(s, d),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q15 shape: supplier(s) achieving the maximum quarterly
    // revenue. The max is a 1-row aggregate of the already-aggregated
    // per-supplier totals (second stage runs over |suppliers| rows,
    // not the fact table); equality on the deterministic sums is
    // exact cross-engine.
    "q_top_supplier" -> ((s, d) => {
      val rev = lineitem(s, d)
        .filter(col("l_shipdate") >= tsLit("1996-01-01") &&
          col("l_shipdate") < tsLit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("mx"))
      rev.join(broadcast(mx), col("total_revenue") === col("mx"))
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q16 shape: distinct supplier count per part attribute
    // combo, excluding one brand and suppliers in bad standing. The
    // distinct (partkey, suppkey) projection collapses the fact table
    // before the dimension joins; supplier is keyed-unique so the
    // inner join is semantically a semi join.
    "q_parts_supplier_cnt" -> ((s, d) => {
      val pairs = lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      pairs
        .join(supplier(s, d).filter(col("s_acctbal") >= 0)
          .select(col("s_suppkey")), col("l_suppkey") === col("s_suppkey"))
        .join(part(s, d).filter(col("p_brand") =!= "Brand#1" &&
            col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // TPC-H Q17 shape: revenue impact of small-quantity orders for one
    // brand: lines with quantity below half the part's average
    // quantity. The per-part average is a groupBy over the brand's
    // lineitems only (filter pushed through the self-aggregation), and
    // the threshold compare uses the deterministic average so both
    // engines cut the same rows.
    "q_small_qty_revenue" -> ((s, d) => {
      val brandLines = lineitem(s, d)
        .join(part(s, d).filter(col("p_brand") === "Brand#12"),
          col("l_partkey") === col("p_partkey"))
      val avgQty = brandLines
        .groupBy(col("l_partkey").as("ap_partkey"))
        .agg(davg(col("l_quantity")).as("avg_qty"))
      brandLines
        .join(avgQty, col("l_partkey") === col("ap_partkey"))
        .filter(col("l_quantity") < col("avg_qty") * 0.5)
        .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
    }),

    // TPC-H Q19 shape: disjunction of conjunctive predicate blocks
    // across the part join. Catalyst extracts the common l_quantity
    // bounds and the p_brand IN-set toward the scans; the OR itself
    // evaluates inside the join's generated code.
    "q_disjunctive" -> ((s, d) => {
      lineitem(s, d)
        .join(part(s, d), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#24" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#10" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
    }),

    // TPC-H Q21 shape: suppliers who were the sole late shipper on a
    // multi-supplier order ("kept orders waiting"), by nation.
    // Per-order supplier/late-supplier counts aggregate the fact table
    // once each on l_orderkey; the candidate rows then join those two
    // bounded per-order summaries — no correlated re-scan per row.
    "q_late_sole_supplier" -> ((s, d) => {
      // Round-13 shape (guide §2.3): collapse to ONE (order, supplier)
      // aggregate first — "any line late" per pair — then derive both
      // the per-order summary (n_supp = pair count, n_late = late-pair
      // count) and the candidate set (late pairs) from it. The old
      // shape computed the lineitem⋈orders join twice (per-order agg +
      // candidate distinct) and paid two countDistinct expand passes;
      // this one joins the fact once, shuffles once at line grain, and
      // every later shuffle is pair-grain. Set semantics are identical
      // FOR NON-NULL l_suppkey (r13 advisory): countDistinct(l_suppkey)
      // ignored NULL keys while count over (order, supplier) groups
      // would count a NULL group — the synthetic lineitem (like TPC-H)
      // has no NULL l_suppkey, so the two agree here; a NULLable-key
      // deployment would need an IS NOT NULL pre-filter to keep them
      // equivalent.
      // Shared (round 14): the r13 claim that AQE reuses the pair
      // exchange across the two consumers was WRONG — the executed
      // plan at both sf0.001 and sf0.1 materializes TWO
      // (l_orderkey, l_suppkey) exchanges, i.e. the lineitem⋈orders
      // join and the pair aggregate ran twice. The bounded pair table
      // (≤ suppliers-per-order × orders) now materializes once per run
      // and both faces read it (guide §2.4). Measured: 22.6 → 13.4 MB
      // shuffled at sf0.1 (the duplicated fact-join pass gone).
      val perPair = Shared(lineitem(s, d)
        .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("late")))
      val perOrder = perPair.groupBy(col("l_orderkey").as("po_orderkey"))
        .agg(count(lit(1)).as("n_supp"),
          sum(when(col("late"), 1L).otherwise(0L)).as("n_late"))
      perPair.filter(col("late"))
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(perOrder, col("l_orderkey") === col("po_orderkey"))
        .filter(col("n_supp") >= 2 && col("n_late") === 1)
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("s_name"), col("n_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    }),

    // TPC-H Q2 shape: per qualifying part, the best-standing supplier
    // (max account balance) among the EUROPE suppliers who actually
    // shipped it. The distinct pair projection replaces partsupp; the
    // per-part argmax is a rank-1 window over the candidate pairs —
    // bounded by suppliers-per-part, never a correlated re-scan.
    "q_regional_best_supplier" -> ((s, d) => {
      val pairs = lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val eurSupp = supplier(s, d)
        .join(broadcast(nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("n_name"))
      val w = Window.partitionBy(col("p_partkey"))
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      pairs
        .join(part(s, d).filter(col("p_size") === 15 &&
            col("p_type") === "STANDARD"),
          col("l_partkey") === col("p_partkey"))
        .join(eurSupp, col("l_suppkey") === col("s_suppkey"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_brand"))
        .orderBy(col("s_acctbal").desc, col("p_partkey"))
    }),

    // Gaps-and-islands: longest run of consecutive active months per
    // customer, reported as a streak-length histogram. The classic
    // row_number-difference trick: within a customer, consecutive
    // months share (month_idx - rn), so islands fall out of one
    // groupBy — two window passes over per-customer distinct months
    // (bounded by the 80-month date span), no self-join.
    "q_order_streaks" -> ((s, d) => {
      val months = orders(s, d)
        .select(col("o_custkey"),
          (year(col("o_orderdate")) * 12 +
            month(col("o_orderdate"))).cast("long").as("m"))
        .distinct()
      val rn = Window.partitionBy(col("o_custkey")).orderBy(col("m"))
      val streaks = months
        .withColumn("island", col("m") - row_number().over(rn))
        .groupBy(col("o_custkey"), col("island"))
        .agg(count(lit(1)).as("streak_len"))
        .groupBy(col("o_custkey"))
        .agg(max(col("streak_len")).as("best_streak"))
      streaks.groupBy(col("best_streak"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("best_streak"))
    }),

    // Top navigation paths: the most frequent 3-step event-type
    // sequences across user sessions — the product-analytics "what do
    // users do" query. Two lead windows per user (ordered ts,
    // event_id for tie-stability), then a count + top-k; the window
    // shuffles once on user_id and the aggregate runs over
    // |event_type|³-bounded path keys.
    "q_user_paths" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .filter(col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
          .as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(10)
    }),

    // 7-day moving median of daily totals per event type — the
    // robust trend line (moving average exists as q_window_running;
    // the median shrugs off the spike days that drag a mean). Daily
    // totals are exact integer centi-units (the q_cusum discipline),
    // so the counting median — rank (n+1)/2 within each day's
    // trailing window — is deterministic on both engines. The range
    // self-join runs AFTER the daily aggregate: at any corpus scale
    // its input is |event_types| × |days| rows, each joining ≤7
    // trailing rows, so the quadratic-looking step is calendar-
    // bounded, never corpus-bounded.
    "q_moving_median" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("c"))
      val a = daily.select(col("event_type"), col("day"))
      val b = daily.select(col("event_type").as("b_type"),
        col("day").as("b_day"), col("c").as("b_c"))
      val win = a.join(b, col("event_type") === col("b_type") &&
        col("b_day") <= col("day") &&
        col("b_day") >= date_sub(col("day"), 6))
      val ranked = win
        .withColumn("n_in_win", count(lit(1)).over(Window
          .partitionBy(col("event_type"), col("day"))))
        .withColumn("rn", row_number().over(Window
          .partitionBy(col("event_type"), col("day"))
          .orderBy(col("b_c"), col("b_day"))))
      ranked.filter(col("rn") === expr("(n_in_win + 1) div 2"))
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_in_win").cast("long").as("n_in_win"),
          col("b_c").as("med_total_c"))
        .orderBy(col("event_type"), col("day"))
    }),

    // Spend deciles: NTILE over per-customer totals, rolled up to one
    // row per decile — the marketing "value segment" cut. NTILE's
    // equal-fill-remainder-first semantics are identical across
    // engines given a total order, so the (total_spent DESC, custkey)
    // tie-break makes bucket membership deterministic. No global
    // WindowExec: the position comes from DistributedRank's two-pass
    // range-partitioned rank (sampled ranges + broadcast offsets) and
    // the NTILE bucket is pure arithmetic on (rank, n) — n rides from
    // the bounded per-range table, never a rescan. Scales to any
    // |customers|: the sort runs as `parts` parallel tasks.
    "q_ntile_spend" -> ((s, d) => {
      val spend = orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(dsum(col("o_totalprice")).as("total_spent"))
      val (ranked, totals) = DistributedRank.rankPrefix(
        spend, Seq(col("total_spent").desc, col("o_custkey")), "__rn")
      ranked
        .crossJoin(broadcast(totals.select(col("__n"))))
        .withColumn("decile",
          DistributedRank.ntileOf(col("__rn"), col("__n"), 10))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("total_spent")).as("decile_spend"),
          min(col("total_spent")).as("floor_spend"))
        .orderBy(col("decile"))
    }),

    // Exact global median by DISTRIBUTED rank selection — the
    // order-statistic primitive counting-quantile cutoffs cannot give
    // when the answer must be an actual ranked row (audits, SLAs,
    // "the literal middle order"). Unlike q_percentiles (value
    // histogram over a bounded domain), this ranks the RAW fact table:
    // DistributedRank samples range boundaries, ranks within ~balanced
    // ranges, and the median is the row whose global position is
    // (n+1) div 2 — a filter, not a sort-the-world. The kernel's
    // corpus-sized demonstration: same code path at 1.5e9 orders.
    "q_exact_median" -> ((s, d) => {
      val px = orders(s, d).select(
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"),
        col("o_orderkey"))
      val (ranked, totals) = DistributedRank.rankPrefix(
        px, Seq(col("cents"), col("o_orderkey")), "rn")
      ranked.crossJoin(broadcast(totals.select(col("__n"))))
        .filter(col("rn") === expr("(__n + 1) div 2"))
        .select(col("cents").as("median_cents"),
          col("rn").as("median_rank"))
    }),

    // Exact multi-percentile selection in ONE ranked pass — the SLA
    // report (p50/p90/p99 as actual ranked rows) over the LARGEST fact
    // table. Generalizes q_exact_median: DistributedRank ranks
    // lineitem's quantized price once, the three target positions
    // ceil(n*p/100) derive from the kernel's bounded totals and come
    // back as a 3-row broadcast equi-join on the rank — no second
    // scan, no sort-the-world, output is exactly 3 rows at any corpus
    // size.
    "q_exact_percentiles" -> ((s, d) => {
      val px = lineitem(s, d).select(
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"),
        col("l_orderkey"), col("l_linenumber"))
      val (ranked, totals) = DistributedRank.rankPrefix(
        px, Seq(col("cents"), col("l_orderkey"), col("l_linenumber")),
        "rn")
      val targets = totals.select(explode(array(
        Seq(50, 90, 99).map(p => struct(lit(p.toLong).as("pct"),
          expr(s"(__n * $p + 99) div 100").as("rn"))): _*)).as("t"))
        .select(col("t.pct"), col("t.rn"))
      ranked.join(broadcast(targets), Seq("rn"))
        .select(col("pct"), col("cents").as("price_cents"),
          col("rn").as("at_rank"))
        .orderBy(col("pct"))
    }),

    // Time-to-convert: per user, the gap from first view to first
    // subsequent purchase, summarized as counting quantiles over the
    // integer seconds grid (the q_interarrival discipline — the
    // ranking runs over distinct gap values, bounded by the time
    // domain). Two per-user min aggregates and a join on user_id:
    // one shuffle each, all corpus-scale-safe.
    "q_conversion_time" -> ((s, d) => {
      val ev = events(s, d)
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val firstPurchase = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
      val gaps = firstView
        .join(firstPurchase, Seq("user_id"))
        .filter(col("p_ts") >= col("v_ts"))
        .select(expr("(unix_micros(cast(p_ts as timestamp))" +
          " - unix_micros(cast(v_ts as timestamp))) div 1000000")
          .as("gap_s"))
      val counts = gaps.groupBy(col("gap_s")).agg(count(lit(1)).as("cnt"))
      val wc = Window.orderBy(col("gap_s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts
        .withColumn("cum", sum(col("cnt")).over(wc))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
        .agg(max(col("n")).as("n_users"),
          min(when(col("cum") * 4 >= col("n"), col("gap_s")))
            .as("p25_s"),
          min(when(col("cum") * 2 >= col("n"), col("gap_s")))
            .as("median_s"),
          min(when(col("cum") * 10 >= col("n") * 9, col("gap_s")))
            .as("p90_s"),
          max(col("gap_s")).as("max_s"))
    }),

    // Multi-touch attribution: per converting user, the first- and
    // last-touch event types before their FIRST purchase (ties broken
    // by event_id — (ts, event_id) is a total order, so the report is
    // deterministic under any partitioning), rolled up to a
    // (first_touch, last_touch) matrix with the attributed purchase
    // value (Num.dsum decimal discipline). Every join/window keys on
    // user_id — one shuffle partitioning carried through first-purchase
    // selection, the touch join, and both rank windows; output is
    // |event_types|² rows.
    "q_attribution" -> ((s, d) => {
      val ev = events(s, d)
      val wp = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val firstPurch = ev.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(wp))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts").as("p_ts"),
          col("event_id").as("p_id"), col("value").as("p_value"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .join(firstPurch, Seq("user_id"))
        .filter(col("ts") < col("p_ts") ||
          (col("ts") === col("p_ts") && col("event_id") < col("p_id")))
      val wDesc = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val ft = touches.withColumn("rn", row_number().over(wp))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("first_touch"),
          col("p_value"))
      val lt = touches.withColumn("rn", row_number().over(wDesc))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("last_touch"))
      ft.join(lt, Seq("user_id"))
        .groupBy(col("first_touch"), col("last_touch"))
        .agg(count(lit(1)).as("n_users"),
          dsum(col("p_value")).as("attributed_value"))
        .orderBy(col("first_touch"), col("last_touch"))
    }),

    // Referential-integrity audit over the whole star schema: per FK
    // relation, child row count and orphan count (child keys with no
    // parent — left anti join, the canonical shape: broadcast when the
    // parent is a dim, shuffle-co-partitioned when it's a fact). The
    // data-quality gate a pipeline runs after every load; a clean
    // synthetic corpus reports zeros, which is exactly the assertion.
    "q_fk_integrity" -> ((s, d) => {
      val rels: Seq[(String, org.apache.spark.sql.DataFrame, String,
          org.apache.spark.sql.DataFrame, String)] = Seq(
        ("customer.c_nationkey->nation", customer(s, d), "c_nationkey",
          nation(s, d), "n_nationkey"),
        ("lineitem.l_orderkey->orders", lineitem(s, d), "l_orderkey",
          orders(s, d), "o_orderkey"),
        ("lineitem.l_partkey->part", lineitem(s, d), "l_partkey",
          part(s, d), "p_partkey"),
        ("lineitem.l_suppkey->supplier", lineitem(s, d), "l_suppkey",
          supplier(s, d), "s_suppkey"),
        ("nation.n_regionkey->region", nation(s, d), "n_regionkey",
          region(s, d), "r_regionkey"),
        ("orders.o_custkey->customer", orders(s, d), "o_custkey",
          customer(s, d), "c_custkey"),
        ("supplier.s_nationkey->nation", supplier(s, d), "s_nationkey",
          nation(s, d), "n_nationkey"))
      rels.map { case (name, child, fk, parent, pk) =>
        val orphans = child.join(parent,
          child(fk) === parent(pk), "left_anti")
        child.agg(count(lit(1)).as("n_child"),
          countDistinct(col(fk)).as("n_distinct_fk"))
          .crossJoin(broadcast(orphans.agg(count(lit(1)).as("n_orphans"))))
          .select(lit(name).as("relation"), col("n_child"),
            col("n_distinct_fk"), col("n_orphans"))
      }.reduce(_.unionByName(_)).orderBy(col("relation"))
    }),

    // Snapshot diff — the data-regression gate a pipeline runs between
    // two loads of the same table: per change class (added / removed /
    // changed / unchanged), row count and the deterministic total-price
    // delta. The two snapshots are derived from orders by key residue
    // (old drops keys ≡3 mod 10, new drops ≡5 and bumps the price 10%
    // on ≡7) so the diff exercises every class. Scale shape: each side
    // is projected to (pk, fingerprint, price) BEFORE the full outer
    // join, so the shuffle carries three narrow columns — never the
    // full row — and both sides hash-partition on the PK (the one
    // shuffle; AQE splits any hot key). Fingerprint = md5 over the
    // '|'-joined payload, the usual row-hash discipline — it only ever
    // compares within one engine, so rendering differences cannot leak
    // into the checked output.
    "q_table_diff" -> ((s, d) => {
      // price in integer cents from the start: the bump on keys %10==7
      // is then cents*11 div 10 -- exact integers end to end, so
      // neither engine's double-rounding enters the diff
      val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"),
        col("o_orderdate"), col("o_orderpriority"))
      def side(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.select(col("o_orderkey").as(s"${tag}_key"),
          expr("md5(concat_ws('|', o_custkey, o_orderstatus, cents," +
            " o_orderdate, o_orderpriority))").as(s"${tag}_fp"),
          col("cents").as(s"${tag}_cents"))
      val old = side(base.filter(col("o_orderkey") % 10 =!= 3), "a")
      val neu = side(base.filter(col("o_orderkey") % 10 =!= 5)
        .withColumn("cents", when(col("o_orderkey") % 10 === 7,
          expr("cents * 11 div 10")).otherwise(col("cents"))), "b")
      old.join(neu, col("a_key") === col("b_key"), "full_outer")
        .withColumn("change", when(col("a_key").isNull, "added")
          .when(col("b_key").isNull, "removed")
          .when(col("a_fp") =!= col("b_fp"), "changed")
          .otherwise("unchanged"))
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n_rows"),
          sum(coalesce(col("b_cents"), lit(0L)) -
            coalesce(col("a_cents"), lit(0L))).as("delta_cents"))
        .orderBy(col("change"))
    }),

    // k-anonymity audit (Sweeney 2002) — the privacy gate a
    // training-data release runs over its structured fields: for each
    // candidate quasi-identifier set, the equivalence-class profile
    // (class count, smallest class, classes and rows below k=5, rows
    // at risk in ppm). Each QI audit is ONE narrow groupBy over the
    // table followed by a constant-size rollup; the union of the two
    // audits is two scans (a grouping-sets formulation would save one
    // scan but pins both audits to one shuffle key — at 100 TB you
    // want the per-QI aggregations independent so AQE sizes each).
    "q_k_anonymity" -> ((s, d) => {
      def audit(qi: String, keys: Seq[String]) =
        customer(s, d)
          .groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("k"))
          .agg(lit(qi).as("qi"), count(lit(1)).as("n_classes"),
            min(col("k")).as("min_k"),
            sum(when(col("k") < 5, 1L).otherwise(0L)).as("classes_lt_5"),
            sum(when(col("k") < 5, col("k")).otherwise(0L))
              .as("rows_lt_5"),
            expr("cast(1000000 * sum(CASE WHEN k < 5 THEN k ELSE 0 END)" +
              " div sum(k) as bigint)").as("risk_ppm"))
      audit("nation", Seq("c_nationkey"))
        .unionByName(audit("nation+segment",
          Seq("c_nationkey", "c_mktsegment")))
        .orderBy(col("qi"))
    }),

    // Z-order layout plan (Morton 1966) — the data-layout pass behind
    // Delta/Iceberg Z-ORDER clustering: range-normalize two cluster
    // keys to 5 bits each against broadcast min/max scalars, bit-
    // interleave into a 10-bit Morton bucket, and report per-bucket
    // row count + the covered rectangle (x_lo..x_hi × y_lo..y_hi).
    // Small per-bucket rectangles are WHY z-ordered files prune on
    // both keys at once; the report is the acceptance check before
    // committing a rewrite of 100 TB. One scan + one 1024-ary
    // aggregate; the interleave is pure div/mod arithmetic so both
    // engines agree bit-for-bit (no shift-operator dialect drift).
    "q_zorder_plan" -> ((s, d) => {
      val o = orders(s, d).select(col("o_custkey").as("x"),
        expr("cast(datediff(o_orderdate, date'1995-01-01') as bigint)")
          .as("y"))
      val scal = o.agg(min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      o.crossJoin(broadcast(scal))
        .withColumn("x5", expr(
          "(x - min_x) * 32 div (max_x - min_x + 1)"))
        .withColumn("y5", expr(
          "(y - min_y) * 32 div (max_y - min_y + 1)"))
        .withColumn("bucket", expr(
          "(x5 % 2) + (y5 % 2) * 2 + ((x5 div 2) % 2) * 4" +
            " + ((y5 div 2) % 2) * 8 + ((x5 div 4) % 2) * 16" +
            " + ((y5 div 4) % 2) * 32 + ((x5 div 8) % 2) * 64" +
            " + ((y5 div 8) % 2) * 128 + ((x5 div 16) % 2) * 256" +
            " + ((y5 div 16) % 2) * 512"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"), min(col("x")).as("x_lo"),
          max(col("x")).as("x_hi"), min(col("y")).as("y_lo"),
          max(col("y")).as("y_hi"))
        .orderBy(col("bucket"))
    }),

    // ANALYZE-style column statistics — the stats collection pass a
    // cost-based optimizer (and any data-quality monitor) runs over a
    // table: per key column, cardinality, null count and value range.
    // Long format via one explode (4× row multiply, then a single
    // shuffle on 4 group keys) rather than four countDistincts in one
    // aggregate — Catalyst's multi-distinct rewrite expands the input
    // once per distinct aggregate anyway, and the long format keeps
    // the result schema fixed as columns are added.
    "q_column_stats" -> ((s, d) => {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber")
      val long = lineitem(s, d).select(
        explode(array(cols.map(c => struct(lit(c).as("col_name"),
          col(c).cast("long").as("v"))): _*)).as("e"))
        .select(col("e.col_name").as("col_name"), col("e.v").as("v"))
      long.groupBy(col("col_name"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("v")).as("ndv"),
          sum(col("v").isNull.cast("long")).as("n_null"),
          min(col("v")).as("min_v"),
          max(col("v")).as("max_v"))
        .orderBy(col("col_name"))
    }),

    // Revenue concentration (the 80/20 report): the share of total
    // revenue held by the top 1% / 10% / 20% of customers. The
    // cumulative sum runs in quantized decimal (the q_window_running
    // discipline) so the running total is reassociation-exact, and
    // the percentile cut rows are exact integer ceilings. Both the
    // position AND the running revenue come from DistributedRank's
    // range-partitioned two-pass kernel (no single-task WindowExec),
    // and the (n_customers, total_revenue) scalars ride from its
    // bounded per-range totals — the per-customer aggregate is
    // range-shuffled once and never rescanned.
    "q_revenue_pareto" -> ((s, d) => {
      val spend = orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(dsum(col("o_totalprice")).as("spent"))
      val (ranked, totals) = DistributedRank.rankPrefix(
        spend, Seq(col("spent").desc, col("o_custkey")), "rn",
        value = Some(dsumExpr(col("spent"))), cumName = "__cumq")
      val tot = totals.select(col("__n").as("n_customers"),
        (col("__vtot").cast("double") / 1e8).as("total_revenue"))
      ranked
        .withColumn("cum", col("__cumq").cast("double") / 1e8)
        .crossJoin(broadcast(tot))
        .agg(max(col("n_customers")).as("n_customers"),
          max(col("total_revenue")).as("total_revenue"),
          (max(when(col("rn") <= expr("(n_customers + 99) div 100"),
            col("cum"))) / max(col("total_revenue"))).as("share_top1"),
          (max(when(col("rn") <= expr("(n_customers + 9) div 10"),
            col("cum"))) / max(col("total_revenue"))).as("share_top10"),
          (max(when(col("rn") <= expr("(n_customers + 4) div 5"),
            col("cum"))) / max(col("total_revenue"))).as("share_top20"))
    }),

    // Join-key skew report: per candidate shuffle key, the heaviest
    // key's row count against the mean — the diagnostic that decides
    // between a plain shuffle join, AQE skew splitting, and salting
    // (a skew_x100 in the thousands on a key you're about to join on
    // is the 100 TB straggler forecast). Same long-format explode as
    // q_column_stats; skew is exact integer arithmetic.
    "q_skew_report" -> ((s, d) => {
      val keys = Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_returnflag")
      val long = lineitem(s, d).select(
        explode(array(keys.map(c => struct(lit(c).as("key_col"),
          col(c).cast("string").as("v"))): _*)).as("e"))
        .select(col("e.key_col").as("key_col"), col("e.v").as("v"))
      long.groupBy(col("key_col"), col("v"))
        .agg(count(lit(1)).as("per_key"))
        .groupBy(col("key_col"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("per_key")).as("total_rows"),
          max(col("per_key")).as("max_per_key"))
        // decimal(38,0) product: max_per_key * n_keys can pass 2^63 on
        // a web-scale fact table (1e11 rows x 1e9 keys) and long
        // multiplication wraps silently; div returns bigint so the
        // output type is unchanged
        .withColumn("skew_x100",
          expr("cast(max_per_key as decimal(38,0)) * n_keys * 100" +
            " div total_rows"))
        .orderBy(col("key_col"))
    }),

    // Benford leading-digit profile of order totals — the classic
    // anomaly screen on financial columns (organically-generated
    // amounts lean hard on low leading digits; a flat profile flags
    // synthetic or manipulated data). The digit comes from the
    // INTEGER part's decimal string — integer-to-string formatting is
    // identical across engines, where double formatting is not.
    "q_benford" -> ((s, d) => {
      orders(s, d)
        .select(expr(
          "cast(substring(cast(cast(o_totalprice as bigint) as string)," +
            " 1, 1) as bigint)").as("digit"))
        .groupBy(col("digit"))
        .agg(count(lit(1)).as("n"))
        .withColumn("ppm", expr(
          "n * 1000000L div sum(n) over ()"))
        .orderBy(col("digit"))
    }),

    // Theil-Sen robust trend per nation: the median of all pairwise
    // monthly-revenue slopes — the estimator that shrugs off the
    // outlier months a least-squares fit (q6_forecast) chases. The
    // pairwise step runs over the AGGREGATE, never the fact table:
    // monthly revenue is one (nation, month)-keyed shuffle, and the
    // per-nation self-join is calendar-bounded (~84 months -> ~3.5k
    // pairs per nation at ANY corpus size — months don't grow with
    // rows). The median is the explicit rank-pick formulation
    // ((n+1) div 2 and n div 2 + 1, averaged) so both engines select
    // identical doubles — no engine-specific percentile interpolation.
    // Slope doubles come from dsum-exact revenues, so each pair's
    // (rev2-rev1)/(m2-m1) is bit-identical across engines.
    "q_theil_sen" -> ((s, d) => {
      // Round-13 shape (guide §2.3 "aggregate before you shuffle" +
      // §2.4 "share one exchange"):
      //  (a) lineitem pre-aggregates to per-ORDER revenue before any
      //      join — the quantized decimal sums are associative, so
      //      sum-per-order then sum-per-(nation, month) is bit-equal to
      //      the one-level dsum — which shrinks the join probe side
      //      from line- to order-cardinality (measured: the monthly
      //      build alone 1.2 s → 0.62 s at sf0.1);
      //  (b) the monthly table feeds THREE consumers (both self-join
      //      legs + the per-nation month count); as a plain DataFrame
      //      each consumer re-derived the whole fact join, and because
      //      column pruning specializes each copy, exchange reuse
      //      could not dedupe them (measured: 18 parquet scans / 11
      //      live exchanges in the executed plan). A LAZY
      //      Shared table pins the |nations| × |calendar-months| table
      //      (≤ ~2 100 rows at ANY corpus size): the fact join runs
      //      once per run. Shared, not localCheckpoint — the build is
      //      fully lazy (the zero-jobs audit holds with no exemption;
      //      localCheckpoint, even eager=false, finalizes the AQE plan
      //      and runs its stages at construction).
      val liOrder = lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(dsumExpr(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("rev_q"))
      val monthly = Shared(liOrder
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .as("m"))
        .agg((sum(col("rev_q")).cast("double") / 1e8).as("rev")))
      val a = monthly.select(col("n_name"), col("m").as("m1"),
        col("rev").as("r1"))
      val b = monthly.select(col("n_name"), col("m").as("m2"),
        col("rev").as("r2"))
      val pairs = a.join(b, Seq("n_name"))
        .filter(col("m1") < col("m2"))
        .withColumn("slope",
          (col("r2") - col("r1")) / (col("m2") - col("m1")))
      val w = Window.partitionBy(col("n_name"))
        .orderBy(col("slope"), col("m1"), col("m2"))
      val ranked = pairs
        .withColumn("rk", row_number().over(w))
        .withColumn("n_pairs",
          count(lit(1)).over(Window.partitionBy(col("n_name"))))
      val med = ranked
        .filter(col("rk") === expr("(n_pairs + 1) div 2") ||
          col("rk") === expr("n_pairs div 2 + 1"))
        .groupBy(col("n_name"), col("n_pairs"))
        .agg(avg(col("slope")).as("slope"))
      val months = monthly.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_months"))
      med.join(months, Seq("n_name"))
        .select(col("n_name"), col("n_months"), col("n_pairs"),
          col("slope"))
        .orderBy(col("n_name"))
    }),

    // Classical additive seasonal decomposition (the 2x12 centered
    // moving average + month-of-year seasonal index that predates and
    // underlies STL): monthly revenue y_t splits into trend (2x12 MA:
    // half-weighted endpoints so a 12-month season never straddles the
    // window asymmetrically), seasonal (mean detrended value per
    // month-of-year over the months where trend is defined), and
    // residual. Determinism: y comes from the quantized decimal sum;
    // trend/seasonal are kept as EXACT integer combinations as long as
    // possible (trend24 = 2*S13 - y_{t-6} - y_{t+6} in decimal(38,0);
    // detrend24 = 24*y - trend24), with ONE correctly-rounded double
    // division at the very end — both engines emit identical doubles.
    // Scale: the fact scan collapses to the calendar-bounded monthly
    // spine (~84 rows at ANY corpus size); the windows and the
    // month-of-year aggregate run over that spine, so the
    // single-partition window is bounded by the calendar, not the
    // data (the q_cusum discipline).
    "q_seasonal_decompose" -> ((s, d) => {
      val monthly = orders(s, d)
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .as("m"))
        .agg(sum(dsumExpr(col("o_totalprice"))).as("rq"))
      val w = Window.orderBy(col("m"))
      val base = monthly
        .withColumn("t24", lit(2) * sum(col("rq")).over(w.rowsBetween(-6, 6))
          - lag(col("rq"), 6).over(w) - lead(col("rq"), 6).over(w))
        .filter(col("t24").isNotNull)
        .withColumn("d24", lit(24) * col("rq") - col("t24"))
      val seas = base.groupBy(pmod(col("m"), lit(12)).as("mo"))
        .agg(sum(col("d24")).as("dsum24"), count(lit(1)).as("cnt"))
      base.join(broadcast(seas), pmod(col("m"), lit(12)) === col("mo"))
        .withColumn("revenue", col("rq").cast("double") / 1e8)
        .withColumn("trend", col("t24").cast("double") / 2.4e9)
        .withColumn("seasonal",
          col("dsum24").cast("double") / (col("cnt") * lit(2.4e9)))
        .select(col("m").cast("long").as("m"), col("revenue"),
          col("trend"), col("seasonal"),
          (col("revenue") - col("trend") - col("seasonal")).as("residual"))
        .orderBy(col("m"))
    }),

    // Gini concentration of customer spend per region — the Lorenz
    // inequality statistic a marketplace watches per market, computed
    // from the rank formulation G = (2*Σ i·s_i - (n+1)*Σ s_i)
    // / (n*Σ s_i) over ascending-sorted spends (ppm, integer-exact:
    // spends are quantized decimal micro-units, ranks are exact, the
    // single division is integral — bit-identical across engines).
    // The top-decile spend share rides the same ranking. Shape at
    // scale: one (region, customer) aggregate, one per-region ranking
    // window (partition count = |regions|; within a region the sort is
    // the shuffle the statistic inherently needs — same contract as
    // q_ntile_spend), then a per-region fold. Decimal(38,0) holds to
    // ~1e9 customers per region at micro quantization (documented
    // headroom: i·s_i sums stay < 1e38).
    "q_gini" -> ((s, d) => {
      val spend = orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("c_custkey"))
        .agg(sum(dsumExpr(col("o_totalprice"))).as("sq"))
      val w = Window.partitionBy(col("r_name"))
        .orderBy(col("sq"), col("c_custkey"))
      val ranked = spend
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("r_name"))))
      ranked.groupBy(col("r_name"), col("n"))
        .agg(sum(col("sq")).as("tot"),
          sum(col("sq") * col("i")).as("wsum"),
          sum(when(col("i") > col("n") - expr("n div 10"), col("sq")))
            .as("top_sq"))
        .select(col("r_name"), col("n").as("n_cust"),
          expr("cast((2 * wsum - (n + 1) * tot) * 1000000" +
            " div (n * tot) as bigint)").as("gini_ppm"),
          expr("cast(coalesce(top_sq, 0) * 1000000 div tot as bigint)")
            .as("top10_ppm"))
        .orderBy(col("r_name"))
    }),

    // Autocorrelation function of monthly revenue at lags 1..6 — the
    // seasonality/persistence diagnostic read BEFORE choosing a
    // forecasting model (a spike at lag 12 says seasonal, slow decay
    // says trend; q_seasonal_decompose and q_theil_sen are the
    // follow-ups). Integer-exact throughout: with n months, total S
    // and cents-quantized monthly revenue y_t, the centered value
    // c_t = n·y_t − S is an exact decimal; acf_k = Σ c_t·c_{t−k}
    // / Σ c_t² computed as sign-split ppm (numerators go negative,
    // and truncate-vs-floor on a negative operand is the one integer
    // op the engines may disagree on — splitting the sign keeps every
    // divide non-negative). Cents (not micro) quantization keeps
    // Σc² inside decimal(38,0) to ~sf 1e4 (c ~ n·y ≤ ~1e17 cents,
    // c² ~ 1e34, ×84 terms ~ 1e36); headroom documented. Scale: the
    // fact scan collapses to the calendar-bounded ~84-row monthly
    // spine; the lag self-join and both folds run over spine × 6
    // rows — constant work regardless of corpus size (the q_cusum
    // discipline).
    "q_acf" -> ((s, d) => {
      import s.implicits._
      // shared kernel: the streaming face maintains the identical
      // calendar-bounded spine (StreamingMonitorParitySpec)
      val monthly = graft.functions.Monitors.monthlyCents(orders(s, d))
      val scal = monthly.agg(count(lit(1)).as("n"), sum(col("rq")).as("s"))
      val cent = monthly.crossJoin(broadcast(scal))
        .select(col("m"), col("n"), (col("n") * col("rq") - col("s")).as("c"))
      val den = cent.agg(sum(col("c") * col("c")).as("den"))
      val ks = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("lag")
      val a = cent.select(col("m"), col("c"))
      val b = cent.select((col("m")).as("mb"), col("c").as("cb"))
      a.crossJoin(broadcast(ks))
        .join(b, col("mb") === col("m") - col("lag"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n_terms"), sum(col("c") * col("cb")).as("num"))
        .crossJoin(broadcast(den))
        .select(col("lag"), col("n_terms"),
          expr("cast(case when num < 0" +
            " then -((-num) * 1000000 div den)" +
            " else num * 1000000 div den end as bigint)").as("acf_ppm"))
        .orderBy(col("lag"))
    }),

    // Zone-map (min/max file-skipping) effectiveness report — the
    // lakehouse layout decision quantified: the same orders written
    // under a date-CLUSTERED layout (file = order year) vs a SCATTERED
    // one (file = orderkey mod 7) and probed with three month-aligned
    // date-range predicates. Per (layout, predicate): files whose
    // [min,max] month range overlaps (what a Delta/Iceberg/parquet
    // reader must open), rows inside those files (actual scan volume),
    // exact matching rows, and the read amplification ×100 — the
    // number that justifies (or refutes) a Z-ORDER/sort rewrite
    // (q_zorder_plan is the planner; this is its acceptance metric).
    // Everything in integer month-index space (year*12+month), dates
    // never compared cross-engine. Scale: two (layout, file)
    // aggregates + one monthly aggregate over the scan — all outputs
    // bounded (7 files, ~80 months, 3 predicates); the probe joins
    // run over those bounded tables only.
    "q_zone_map_prune" -> ((s, d) => {
      import s.implicits._
      val o = orders(s, d).select(
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"),
        col("o_orderkey"))
      val preds = Seq(
        (0L, 1996L * 12 + 1, 1996L * 12 + 6),
        (1L, 1998L * 12 + 1, 1998L * 12 + 12),
        (2L, 2000L * 12 + 7, 2001L * 12 + 8))
        .toDF("pred_id", "lo", "hi")
      // shared kernel: the streaming face maintains the identical
      // zone-map aggregate at write time (StreamingMonitorParitySpec)
      import graft.functions.Monitors.zoneStats
      val f = zoneStats(o, "clustered", expr("m div 12 - 1995"))
        .unionByName(zoneStats(o, "scattered",
          pmod(col("o_orderkey"), lit(7))))
      val monthly = o.groupBy(col("m")).agg(count(lit(1)).as("cnt"))
      val exact = monthly.join(broadcast(preds),
          col("m") >= col("lo") && col("m") <= col("hi"))
        .groupBy(col("pred_id")).agg(sum(col("cnt")).as("rows_matched"))
      f.crossJoin(broadcast(preds))
        .groupBy(col("layout"), col("pred_id"))
        .agg(count(lit(1)).as("files_total"),
          sum(when(col("max_m") >= col("lo") && col("min_m") <= col("hi"),
            1L).otherwise(0L)).as("files_hit"),
          sum(when(col("max_m") >= col("lo") && col("min_m") <= col("hi"),
            col("rows")).otherwise(0L)).as("rows_scanned"))
        .join(broadcast(exact), Seq("pred_id"))
        .select(col("layout"), col("pred_id"), col("files_total"),
          col("files_hit"), col("rows_scanned"), col("rows_matched"),
          expr("rows_scanned * 100 div rows_matched").as("read_amp_x100"))
        .orderBy(col("layout"), col("pred_id"))
    }),

    // A/B experiment readout — per candidate engagement event, the 2×2
    // contingency analysis a growth team runs: variant = user_id
    // parity (the deterministic hash split), conversion = the user's
    // count of that event type is ABOVE the per-user average for the
    // type (cnt·N > total, cross-multiplied — non-saturating at any
    // scale, where "at least once" degenerates on an active user
    // base). Rates in integer ppm (each division over non-negative
    // operands; the lift is a SUBTRACTION of two already-divided ppms,
    // so no negative-operand division) and the two-proportion test as
    // the 2×2 chi-square in exact integer milli-units: chi2 =
    // N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)), significant at 3.841
    // (95%); a degenerate table (all or none converted) reads chi2 =
    // 0. Decimal(38,0) headroom: (ad−bc)² ~ (users²)² — exact to ~3e7
    // users per cell, past which chi2 is saturated anyway. Scale: one
    // (type, user) count + one |types|-row total + one ONE-row user
    // total — shuffles on high-cardinality uniform keys; output = one
    // row per event type.
    "q_ab_readout" -> ((s, d) => {
      // shared kernel: the streaming face maintains the identical
      // per-(type, user) counts (StreamingMonitorParitySpec)
      val per = graft.functions.Monitors.engagementCounts(events(s, d))
      val tot = per.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("total"))
      val totals = events(s, d).select(col("user_id")).distinct()
        .agg(sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L))
          .as("n0"),
          sum(when(pmod(col("user_id"), lit(2)) === 1, 1L).otherwise(0L))
            .as("n1"))
      val conv = per.join(broadcast(tot), Seq("event_type"))
        .crossJoin(broadcast(totals))
        .withColumn("conv",
          col("cnt") * (col("n0") + col("n1")) > col("total"))
        .groupBy(col("event_type"), col("n0"), col("n1"))
        .agg(sum(when(pmod(col("user_id"), lit(2)) === 0 && col("conv"), 1L)
          .otherwise(0L)).as("conv0"),
          sum(when(pmod(col("user_id"), lit(2)) === 1 && col("conv"), 1L)
            .otherwise(0L)).as("conv1"))
      // degenerate-arm guards (n0 = 0 / n1 = 0): impossible on the
      // synthetic corpus but a one-arm slice must read as rate 0 /
      // chi2 0, not a null (Spark div) vs crash (DuckDB //) divergence
      conv
        .withColumn("rate0_ppm",
          expr("case when n0 = 0 then 0L else conv0 * 1000000L div n0 end"))
        .withColumn("rate1_ppm",
          expr("case when n1 = 0 then 0L else conv1 * 1000000L div n1 end"))
        .withColumn("lift_ppm", col("rate1_ppm") - col("rate0_ppm"))
        .withColumn("chi2_milli", expr(
          "case when n0 = 0 or n1 = 0 or conv0 + conv1 = 0" +
            " or n0 + n1 - conv0 - conv1 = 0 then 0L else" +
            " cast(1000 * (n0 + n1)" +
            " * cast(conv1 * (n0 - conv0) - (n1 - conv1) * conv0" +
            "   as decimal(38,0))" +
            " * cast(conv1 * (n0 - conv0) - (n1 - conv1) * conv0" +
            "   as decimal(38,0))" +
            " div (cast(n1 as decimal(38,0)) * n0 * (conv0 + conv1)" +
            "   * (n0 + n1 - conv0 - conv1)) as bigint) end"))
        .select(col("event_type"), col("n0"), col("n1"), col("conv0"),
          col("conv1"), col("rate0_ppm"), col("rate1_ppm"),
          col("lift_ppm"), col("chi2_milli"),
          (col("chi2_milli") > 3841L).as("significant"))
        .orderBy(col("event_type"))
    }),

    // Equi-depth histogram of order totals — the ANALYZE primitive
    // under join-cardinality estimation (equi-WIDTH q_histogram tells
    // you shape; equi-DEPTH bounds per-bucket row error, which is what
    // an optimizer wants). Built the scale-honest way: ONE bounded
    // 1024-cell pre-histogram of cents-quantized prices (cell = price
    // scaled into [0,1024) by the broadcast max — no global sort, no
    // ntile over the fact table), then bucket k = the 8-quantile the
    // cell's FIRST row falls in by cumulative count — boundaries are
    // approximate to cell width, exactly like production engines build
    // stats at scale, and every step is integer so the oracle agrees
    // bit-for-bit. The cumulative window runs over ≤1024 cells.
    "q_equi_depth_hist" -> ((s, d) => {
      val cents = orders(s, d)
        .select(expr("cast(round(o_totalprice * 100) as bigint)").as("p"))
      val mx = cents.agg(max(col("p")).as("mx"))
      val cells = cents.crossJoin(broadcast(mx))
        .select(expr("p * 1024 div (mx + 1)").as("cell"), col("p"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("cnt"), min(col("p")).as("lo_cents"),
          max(col("p")).as("hi_cents"))
      val w = Window.orderBy(col("cell"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("cum", sum(col("cnt")).over(w))
        .crossJoin(broadcast(cells.agg(sum(col("cnt")).as("n"))))
        .withColumn("bucket",
          expr("least(7L, (cum - cnt) * 8 div n)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("n_rows"),
          min(col("lo_cents")).as("lo_cents"),
          max(col("hi_cents")).as("hi_cents"))
        .orderBy(col("bucket"))
    }),

    // Numeric-distribution drift monitor (the PSI use case, log-free):
    // equi-depth buckets are fit on the REFERENCE period (orders
    // through 1997) exactly as q_equi_depth_hist fits them — bounded
    // 1024-cell pre-histogram, no global sort — and the CURRENT
    // period (1998+) is scored against those FROZEN boundaries. Per
    // bucket: both periods' row counts and shares (ppm), the signed
    // shift (subtraction of two non-negative divisions), and the
    // total-variation contribution |shift|/2 — Σ tvd_ppm is the TVD
    // the monitor alerts on, chosen over PSI because it needs no
    // logarithm and stays integer-exact cross-engine. Bucket lookup
    // for current rows is a ≤8-row broadcast range join on contiguous
    // cell ranges (lead-derived); a current value past the reference
    // max clamps into the top bucket (exactly what a frozen scorer
    // does in production). Scale: two scans + two bounded-cell
    // aggregates; every probe-side table ≤1024 rows.
    "q_dist_drift" -> ((s, d) => {
      val cents = orders(s, d)
        .select(expr("cast(round(o_totalprice * 100) as bigint)").as("p"),
          (year(col("o_orderdate")) <= 1997).as("is_ref"))
      val mx = cents.filter(col("is_ref")).agg(max(col("p")).as("mx"))
      val withCell = cents.crossJoin(broadcast(mx))
        .select(col("is_ref"),
          expr("least(1023L, p * 1024 div (mx + 1))").as("cell"))
      val refCells = withCell.filter(col("is_ref"))
        .groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(col("cell"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bucketed = refCells
        .withColumn("cum", sum(col("cnt")).over(w))
        .crossJoin(broadcast(refCells.agg(sum(col("cnt")).as("n_ref"))))
        .withColumn("bucket", expr("least(7L, (cum - cnt) * 8 div n_ref)"))
      val bounds = bucketed.groupBy(col("bucket"))
        .agg(min(col("cell")).as("lo_cell"), sum(col("cnt")).as("ref_rows"))
        .withColumn("hi_cell",
          coalesce(lead(col("lo_cell"), 1)
            .over(Window.orderBy(col("bucket"))) - 1, lit(1023L)))
      val curCells = withCell.filter(!col("is_ref"))
        .groupBy(col("cell")).agg(count(lit(1)).as("ccnt"))
      val cur = curCells.join(broadcast(bounds),
          col("cell") >= col("lo_cell") && col("cell") <= col("hi_cell"))
        .groupBy(col("bucket")).agg(sum(col("ccnt")).as("cur_rows"))
      bounds.join(cur, Seq("bucket"), "left")
        .withColumn("cur_rows", coalesce(col("cur_rows"), lit(0L)))
        .crossJoin(broadcast(withCell.groupBy(col("is_ref"))
          .agg(count(lit(1)).as("n"))
          .agg(sum(when(col("is_ref"), col("n"))).as("n_ref"),
            sum(when(!col("is_ref"), col("n"))).as("n_cur"))))
        .withColumn("ref_ppm", expr("ref_rows * 1000000L div n_ref"))
        .withColumn("cur_ppm", expr("cur_rows * 1000000L div n_cur"))
        .withColumn("shift_ppm", col("cur_ppm") - col("ref_ppm"))
        .select(col("bucket"), col("ref_rows"), col("cur_rows"),
          col("ref_ppm"), col("cur_ppm"), col("shift_ppm"),
          expr("cast(abs(shift_ppm) div 2 as bigint)").as("tvd_ppm"))
        .orderBy(col("bucket"))
    }),

    // Categorical-column drift — the third member of the drift family
    // (q_dist_drift = numeric distribution, text_source_drift =
    // token-level by source): event-type MIX shift between the first
    // and second half of the month, per type in exact ppm with the
    // total-variation contribution. The schema-drift alarm a feature
    // store fires when an upstream product change rebalances event
    // emission. One scan, one |types|-row aggregate, scalar totals
    // ride broadcast — scan-bound at any volume.
    "q_cat_drift" -> ((s, d) => {
      val per = events(s, d)
        .select(col("event_type"),
          (dayofmonth(col("ts")) <= 15).as("is_ref"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ref_rows"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cur_rows"))
      val tot = per.agg(sum(col("ref_rows")).as("n_ref"),
        sum(col("cur_rows")).as("n_cur"))
      per.crossJoin(broadcast(tot))
        .withColumn("ref_ppm", expr("ref_rows * 1000000L div n_ref"))
        .withColumn("cur_ppm", expr("cur_rows * 1000000L div n_cur"))
        .withColumn("shift_ppm", col("cur_ppm") - col("ref_ppm"))
        .select(col("event_type"), col("ref_rows"), col("cur_rows"),
          col("ref_ppm"), col("cur_ppm"), col("shift_ppm"),
          expr("cast(abs(shift_ppm) div 2 as bigint)").as("tvd_ppm"))
        .orderBy(col("event_type"))
    }),

    // TPC-H Q20 shape (potential part promotion): suppliers who ship a
    // CONCENTRATED share of some red part's volume — the nested
    // per-part threshold subquery + semi-join chain that makes Q20 the
    // planner stress test it is. The schema has no partsupp, so
    // "availqty > half the part's demand" becomes its shipped-volume
    // dual: a (supplier, part) shipped-quantity aggregate exceeding
    // 20% of the part's corpus-wide total (qty·5 > total,
    // cross-multiplied decimal — no division). One lineitem scan
    // feeds BOTH aggregates (the per-pair and the per-part rollup,
    // same shuffle key family); the part filter pushes to the part
    // scan and prunes the fact join early; the final supplier/nation
    // joins broadcast. Output: per qualifying supplier, how many red
    // parts they dominate.
    "q_excess_suppliers" -> ((s, d) => {
      val redParts = part(s, d).filter(col("p_name").like("red%"))
        .select(col("p_partkey"))
      val shipped = lineitem(s, d)
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .select(col("l_suppkey"), col("l_partkey"),
          dsumExpr(col("l_quantity")).as("q"))
      val perPair = shipped.groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("q")).as("qty_sup"))
      val perPart = shipped.groupBy(col("l_partkey"))
        .agg(sum(col("q")).as("qty_total"))
      val excess = perPair.join(perPart, Seq("l_partkey"))
        .filter(col("qty_sup") * 5 > col("qty_total"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_excess_parts"))
      excess
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"),
          col("n_excess_parts"))
        .orderBy(col("s_suppkey"))
    }),

    // Record linkage (entity resolution) with blocking: candidate
    // customer-supplier pairs come from an EQUI-join on the blocking
    // key (nation, entity-number suffix) — the step that turns the
    // quadratic all-pairs compare into O(block^2) per block, which is
    // the whole entity-resolution scale story at 100 TB (pick blocking
    // keys so blocks stay bounded; the compare inside a block is then
    // embarrassingly parallel). The suffix LENGTH is corpus-adaptive
    // (the round-11 de-cliff, same discipline as q_ts_similarity):
    // D digits give 25 nations x 10^D blocks, and D steps up a CASE
    // ladder as customers grow so expected block size stays ~64 —
    // D = 1 at the test scales (both engines compute the identical
    // ladder from COUNT(customer)). Inside a block the comparator is
    // full Levenshtein on the records' 9-digit entity-number suffixes
    // (identical classic edit distance in both engines): distance 0 is
    // a same-entity link, small distances are noisy-identifier
    // variants. Per nation: candidate volume, pairs within distance 2,
    // the minimum distance seen, and the deterministic best pair
    // (rank-1 by (distance, custkey, suppkey)).
    "q_record_linkage" -> ((s, d) => {
      val nC = customer(s, d).agg(count(lit(1)).as("n_c"))
      val c = customer(s, d).crossJoin(broadcast(nC))
        .select(col("c_custkey"), col("c_nationkey"),
          expr("right(c_name, 9)").as("c_ent"),
          expr(s"right(c_name, ${linkageDigitsSql("n_c")})").as("blk"))
      val sup = supplier(s, d).crossJoin(broadcast(nC))
        .select(col("s_suppkey"),
          col("s_nationkey"), expr("right(s_name, 9)").as("s_ent"),
          expr(s"right(s_name, ${linkageDigitsSql("n_c")})").as("blk"))
      val cand = c.join(sup,
        col("c_nationkey") === col("s_nationkey") &&
          c("blk") === sup("blk"))
        .withColumn("lev", levenshtein(col("c_ent"), col("s_ent")))
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("lev"), col("c_custkey"), col("s_suppkey"))
      val best = cand.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("c_nationkey"), col("c_custkey").as("best_cust"),
          col("s_suppkey").as("best_supp"))
      val stats = cand.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("lev") <= 2, 1L).otherwise(0L)).as("n_close"),
          min(col("lev")).cast("long").as("min_lev"))
      stats.join(best, Seq("c_nationkey"))
        .join(broadcast(nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("n_pairs"), col("n_close"),
          col("min_lev"), col("best_cust"), col("best_supp"))
        .orderBy(col("n_name"))
    })
  )

  /** Opens the time-series oracles' WITH list: weekly counts `daily`,
    * the first week `mw`, the 6-week shape `wide`, its sums `st` and
    * the users with non-zero variance `f`, mirroring
    * TimeSeries.weeklyCounts and featureTable. */
  private val weeklyFeaturesSql =
    """WITH daily AS (
      |  SELECT user_id,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |      AS BIGINT) // 7 AS wk,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |mw AS (SELECT MIN(wk) AS w0 FROM daily),
      |wide AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN wk - w0 = 0 THEN cnt ELSE 0 END) AS w0c,
      |    SUM(CASE WHEN wk - w0 = 1 THEN cnt ELSE 0 END) AS w1c,
      |    SUM(CASE WHEN wk - w0 = 2 THEN cnt ELSE 0 END) AS w2c,
      |    SUM(CASE WHEN wk - w0 = 3 THEN cnt ELSE 0 END) AS w3c,
      |    SUM(CASE WHEN wk - w0 = 4 THEN cnt ELSE 0 END) AS w4c,
      |    SUM(CASE WHEN wk - w0 = 5 THEN cnt ELSE 0 END) AS w5c
      |  FROM daily CROSS JOIN mw GROUP BY 1),
      |st AS (
      |  SELECT user_id, w0c, w1c, w2c, w3c, w4c, w5c,
      |    w0c + w1c + w2c + w3c + w4c + w5c AS sx,
      |    6 * (w0c::HUGEINT*w0c + w1c::HUGEINT*w1c + w2c::HUGEINT*w2c
      |       + w3c::HUGEINT*w3c + w4c::HUGEINT*w4c + w5c::HUGEINT*w5c)
      |      - (w0c + w1c + w2c + w3c + w4c + w5c)::HUGEINT
      |        * (w0c + w1c + w2c + w3c + w4c + w5c) AS vx
      |  FROM wide),
      |f AS (SELECT * FROM st WHERE vx > 0)""".stripMargin

  override def oracles: Map[String, String] = Map(
    "q_exact_median" ->
      """WITH r AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    row_number() OVER (
        |      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
        |        o_orderkey) AS rn
        |  FROM orders),
        |n AS (SELECT COUNT(*) AS c FROM orders)
        |SELECT cents AS median_cents, rn AS median_rank
        |FROM r, n WHERE rn = (c + 1) // 2""".stripMargin,

    "q_exact_percentiles" ->
      """WITH r AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    row_number() OVER (
        |      ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT),
        |        l_orderkey, l_linenumber) AS rn
        |  FROM lineitem),
        |n AS (SELECT COUNT(*) AS c FROM lineitem),
        |t AS (SELECT p AS pct, (c * p + 99) // 100 AS rn
        |      FROM n, (VALUES (50), (90), (99)) AS ps(p))
        |SELECT t.pct, r.cents AS price_cents, r.rn AS at_rank
        |FROM r JOIN t USING (rn) ORDER BY t.pct""".stripMargin,

    "q1_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlSum("l_quantity")} AS sum_qty,
         |  ${sqlSum("l_extendedprice")} AS sum_base_price,
         |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${sqlSum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |  ${sqlAvg("l_quantity")} AS avg_qty,
         |  ${sqlAvg("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q6_forecast" ->
      s"""SELECT ${sqlSum("l_extendedprice * l_discount")} AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_discount >= 0.05 AND l_discount <= 0.07
         |  AND l_quantity < 24""".stripMargin,

    "q_having_active" ->
      s"""SELECT o_custkey, COUNT(*) AS n_orders,
         |  ${sqlSum("o_totalprice")} AS total_spent
         |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 3
         |ORDER BY o_custkey""".stripMargin,

    "q_distinct_parts" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q3_shipping" ->
      s"""SELECT l_orderkey,
         |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      s"""SELECT n_name,
         |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |    AND c_nationkey = s_nationkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'EUROPE'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q_returned_items" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name, revenue
         |FROM (SELECT o_custkey,
         |        ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue
         |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |      WHERE l_returnflag = 'R'
         |        AND o_orderdate >= TIMESTAMP '1996-01-01'
         |        AND o_orderdate < TIMESTAMP '1996-04-01'
         |      GROUP BY o_custkey) t
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_top_customers" ->
      s"""SELECT c_custkey, c_name, total_spent, n_orders
         |FROM (SELECT o_custkey, ${sqlSum("o_totalprice")} AS total_spent,
         |        COUNT(*) AS n_orders FROM orders GROUP BY o_custkey) t
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY total_spent DESC, c_custkey LIMIT 15""".stripMargin,

    "q_semi_customers" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,

    "q_anti_customers" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q_outer_nation" ->
      s"""SELECT n_name, COUNT(c_custkey) AS n_customers,
         |  ${sqlSum("COALESCE(c_acctbal, 0.0)")} AS sum_acctbal
         |FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_salted_join" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n,
         |  ${sqlSum("value")} AS sum_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_forward_asof" ->
      """WITH purchases AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         MIN(event_id) AS next_purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |views AS (
        |  SELECT event_id AS view_id, user_id,
        |         CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'view')
        |SELECT v.view_id, v.user_id,
        |  p.next_purchase_id AS converts_to
        |FROM views v ASOF LEFT JOIN purchases p
        |  ON v.user_id = p.user_id AND v.ts <= p.ts
        |ORDER BY v.view_id""".stripMargin,

    "q_asof_click" ->
      """WITH clicks AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |purchases AS (
        |  SELECT event_id AS purchase_id, user_id,
        |         CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, c.click_id AS asof_click_id
        |FROM purchases p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.purchase_id""".stripMargin,

    "q_approx_stats" ->
      """WITH l AS (
        |  SELECT l_returnflag,
        |    ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT
        |      / 4294967296.0 AS h,
        |    CASE WHEN ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
        |        || CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT % 10 = 0
        |      THEN l_extendedprice END AS sampled_price
        |  FROM lineitem),
        |g AS (
        |  SELECT l_returnflag, list_sort(list(DISTINCT h)) AS hs,
        |    quantile_cont(sampled_price, 0.5) AS p50_price,
        |    quantile_cont(sampled_price, 0.95) AS p95_price
        |  FROM l GROUP BY 1)
        |SELECT l_returnflag,
        |  CASE WHEN len(hs) >= 128 THEN 127.0 / hs[128]
        |       ELSE CAST(len(hs) AS DOUBLE) END AS approx_parts,
        |  p50_price, p95_price
        |FROM g ORDER BY l_returnflag""".stripMargin,

    "q_kmv_setops" ->
      """WITH h AS MATERIALIZED (
        |  SELECT event_type, user_id,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
        |      / 4294967296.0 AS h
        |  FROM events WHERE value > 110),
        |a AS (SELECT list_sort(list(DISTINCT h))[:64] AS sk,
        |        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ex
        |      FROM h WHERE event_type = 'view'),
        |b AS (SELECT list_sort(list(DISTINCT h))[:64] AS sk,
        |        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ex
        |      FROM h WHERE event_type = 'click'),
        |u AS (SELECT list_sort(list(DISTINCT h))[:64] AS sk,
        |        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ex
        |      FROM h WHERE event_type IN ('view', 'click')),
        |e AS (
        |  SELECT
        |    CASE WHEN len(a.sk) >= 64 THEN 63.0 / a.sk[64]
        |      ELSE CAST(len(a.sk) AS DOUBLE) END AS est_a,
        |    CASE WHEN len(b.sk) >= 64 THEN 63.0 / b.sk[64]
        |      ELSE CAST(len(b.sk) AS DOUBLE) END AS est_b,
        |    CASE WHEN len(u.sk) >= 64 THEN 63.0 / u.sk[64]
        |      ELSE CAST(len(u.sk) AS DOUBLE) END AS est_union,
        |    CAST(len(list_filter(u.sk, x -> list_contains(a.sk, x)
        |      AND list_contains(b.sk, x))) AS BIGINT) AS n_both,
        |    a.ex AS a_exact, b.ex AS b_exact, u.ex AS u_exact,
        |    len(u.sk) AS u_len
        |  FROM a, b, u)
        |SELECT est_a, est_b, est_union, n_both,
        |  CAST(n_both AS DOUBLE) / u_len * est_union AS est_inter,
        |  a_exact, b_exact, u_exact
        |FROM e""".stripMargin,

    "q_kmv_distinct" ->
      """WITH h AS (
        |  SELECT l_returnflag, l_partkey,
        |    ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT
        |      / 4294967296.0 AS h
        |  FROM lineitem),
        |g AS (
        |  SELECT l_returnflag, list_sort(list(DISTINCT h)) AS hs,
        |    COUNT(DISTINCT l_partkey) AS exact_distinct
        |  FROM h GROUP BY 1)
        |SELECT l_returnflag,
        |  CASE WHEN len(hs) >= 256 THEN 255.0 / hs[256]
        |    ELSE CAST(len(hs) AS DOUBLE) END AS kmv_estimate,
        |  exact_distinct
        |FROM g ORDER BY l_returnflag""".stripMargin,

    "q_range_join" ->
      """SELECT l1.l_orderkey AS k, COUNT(*) AS n_ordered_pairs
        |FROM lineitem l1 JOIN lineitem l2
        |  ON l1.l_orderkey = l2.l_orderkey
        | AND l1.l_linenumber < l2.l_linenumber
        | AND l1.l_shipdate < l2.l_shipdate
        |GROUP BY 1 ORDER BY k""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS p50,
        |  quantile_cont(l_extendedprice, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_window_rank" ->
      """SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders JOIN customer ON o_custkey = c_custkey) t
        |WHERE rk <= 3 ORDER BY c_mktsegment, rk""".stripMargin,

    "q_window_running" ->
      """SELECT event_id, user_id,
        |  ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS purchase_seq,
        |  CAST(SUM(CAST(round(value * 1e8) AS HUGEINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / 1e8 AS running_spend
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "q_window_nav" ->
      """SELECT event_id, user_id, value,
        |  LAG(value, 1) OVER w AS prev_value,
        |  LEAD(value, 1) OVER w AS next_value,
        |  NTILE(4) OVER w AS quartile
        |FROM events WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    "q_window_range" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  COUNT(*) OVER w AS n_near,
        |  CAST(SUM(CAST(round(o_totalprice * 1e8) AS HUGEINT)) OVER w
        |    AS DOUBLE) / 1e8 AS sum_near
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
        |  RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "q_window_dist" ->
      """SELECT o_orderkey, c_mktsegment, o_totalprice,
        |  PERCENT_RANK() OVER w AS pr,
        |  CUME_DIST() OVER w AS cd
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY o_totalprice)
        |ORDER BY o_orderkey""".stripMargin,

    "q_session_windows" ->
      s"""WITH e AS (
         |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         |    CASE WHEN CAST(ts AS TIMESTAMP) -
         |      LAG(CAST(ts AS TIMESTAMP)) OVER
         |        (PARTITION BY user_id ORDER BY ts)
         |      > INTERVAL 5 MINUTE OR
         |      LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         |    THEN 1 ELSE 0 END AS new_sess
         |  FROM events),
         |s AS (
         |  SELECT user_id, ts, value,
         |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
         |  FROM e)
         |SELECT user_id,
         |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         |  COUNT(*) AS n_events, ${sqlSum("value")} AS sum_value
         |FROM s GROUP BY user_id, sess_id
         |ORDER BY user_id, session_start""".stripMargin,

    "q_rollup_pricing" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
         |  COALESCE(l_linestatus, 'ALL') AS linestatus,
         |  COUNT(*) AS n, ${sqlSum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY returnflag, linestatus""".stripMargin,

    "q_cube_segment" ->
      s"""SELECT COALESCE(n_name, 'ALL') AS nation,
         |  COALESCE(c_mktsegment, 'ALL') AS segment,
         |  COUNT(*) AS n, ${sqlSum("c_acctbal")} AS sum_bal
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY CUBE (n_name, c_mktsegment)
         |ORDER BY nation, segment""".stripMargin,

    "q_pivot_events" ->
      """SELECT user_id % 10 AS user_decile,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1 ORDER BY user_decile""".stripMargin,

    "q_grouping_sets" ->
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
         |  COALESCE(o_orderpriority, 'ALL') AS priority,
         |  COUNT(*) AS n, ${sqlSum("o_totalprice")} AS sum_price
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY status, priority""".stripMargin,

    "q_string_agg" ->
      """SELECT r.r_name,
        |  array_to_string(list_slice(list_sort(list(n.n_name)), 1, 3), ',')
        |    AS top_nations,
        |  count(*) AS n_nations
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name
        |ORDER BY r.r_name""".stripMargin,

    "q_setops_years" ->
      """WITH y96 AS (SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
        |y97 AS (SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
        |SELECT o_custkey, 'only96' AS tag FROM
        |  (SELECT DISTINCT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y97)
        |UNION ALL
        |SELECT o_custkey, 'only97' AS tag FROM
        |  (SELECT DISTINCT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y96)
        |UNION ALL
        |SELECT o_custkey, 'both' AS tag FROM
        |  (SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y97)
        |ORDER BY o_custkey, tag""".stripMargin,

    "q_promo_share" ->
      """SELECT
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(round(l_extendedprice * (1 - l_discount) * 1e8) AS HUGEINT)
        |    ELSE 0 END) AS DOUBLE) /
        |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 1e8) AS HUGEINT))
        |    AS DOUBLE) * 100 AS promo_share_pct,
        |  COUNT(*) AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,

    "q_sql_correlated" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > 1.5 * (
        |  SELECT AVG(o2.o_totalprice) FROM orders o2
        |  WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q_string_funcs" ->
      """SELECT p_partkey, LOWER(p_name) AS name_lower,
        |  string_split(p_name, ' ')[1] AS first_token,
        |  REPLACE(p_name, ' ', '_') AS name_snake,
        |  SUBSTR(p_name, 1, 5) AS name_prefix,
        |  LENGTH(p_name) AS name_len,
        |  CONCAT_WS('|', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_json_props" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  MAX(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_case_buckets" ->
      s"""SELECT event_type,
         |  CASE WHEN value < 50 THEN 'low'
         |       WHEN value < 150 THEN 'mid' ELSE 'high' END AS bucket,
         |  COUNT(*) AS n, ${sqlSum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,

    "q_hourly_events" ->
      s"""SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour_start,
         |  event_type, COUNT(*) AS n, ${sqlSum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_unpivot" ->
      s"""WITH m AS (
         |  SELECT 'quantity' AS measure, l_quantity AS v FROM lineitem
         |  UNION ALL
         |  SELECT 'extendedprice', l_extendedprice FROM lineitem
         |  UNION ALL
         |  SELECT 'discount', l_discount FROM lineitem
         |  UNION ALL
         |  SELECT 'tax', l_tax FROM lineitem)
         |SELECT measure, COUNT(*) AS n, ${sqlSum("v")} AS total,
         |  MIN(v) AS vmin, MAX(v) AS vmax
         |FROM m GROUP BY measure ORDER BY measure""".stripMargin,

    "q_sliding_events" ->
      s"""WITH w AS (
         |  SELECT make_timestamp(
         |      ((epoch_ms(CAST(ts AS TIMESTAMP)) // 900000) - s.k)
         |        * 900000 * 1000) AS ws,
         |    value
         |  FROM events, UNNEST(generate_series(0, 3)) s(k))
         |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
         |  COUNT(*) AS n, ${sqlSum("value")} AS sum_value
         |FROM w GROUP BY ws ORDER BY win_start""".stripMargin,

    "q_funnel_steps" ->
      """WITH v AS MATERIALIZED (
        |  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS MATERIALIZED (
        |  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > t1
        |  GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
        |  FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > t2
        |  GROUP BY 1)
        |SELECT stage, COUNT(*) AS n_users FROM (
        |  SELECT '1_view' AS stage, user_id FROM v
        |  UNION ALL SELECT '2_click', user_id FROM c
        |  UNION ALL SELECT '3_purchase', user_id FROM p)
        |GROUP BY stage ORDER BY stage""".stripMargin,

    "q_retention" ->
      """WITH e AS MATERIALIZED (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort FROM e GROUP BY 1),
        |a AS (
        |  SELECT DISTINCT e.user_id, f.cohort,
        |    date_diff('day', f.cohort, e.day) AS day_k
        |  FROM e JOIN f USING (user_id))
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort, day_k,
        |  COUNT(*) AS n_users
        |FROM a WHERE day_k <= 7
        |GROUP BY cohort, day_k ORDER BY cohort, day_k""".stripMargin,

    "q_decay_sum" -> {
      val w = "value / (1 + date_diff('day', " +
        "CAST(CAST(ts AS TIMESTAMP) AS DATE), DATE '2024-02-01'))"
      s"""SELECT event_type, COUNT(*) AS n, ${sqlSum(w)} AS decayed_sum
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
    },

    "q_event_transitions" ->
      """WITH t AS (
        |  SELECT event_type, LAG(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type, COUNT(*) AS n,
        |  CAST(COUNT(*) AS DOUBLE)
        |    / CAST(SUM(COUNT(*)) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
        |FROM t WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type
        |ORDER BY prev_type, event_type""".stripMargin,

    "q_argmax_events" ->
      """WITH t AS (
        |  SELECT event_type, event_id, user_id, value,
        |    CAST(round(value * 100) AS BIGINT) * 1000000000000
        |      + event_id AS pk
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  arg_max(event_id, pk) AS top_event_id,
        |  arg_max(user_id, pk) AS top_user_id,
        |  arg_max(value, pk) AS top_value
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_gapfill_hours" ->
      s"""WITH h AS (
         |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
         |    COUNT(*) AS n, ${sqlAvg("value")} AS avg_value
         |  FROM events GROUP BY 1),
         |spine AS (
         |  SELECT unnest(generate_series(
         |    (SELECT date_trunc('hour', MIN(CAST(ts AS TIMESTAMP)))
         |       FROM events),
         |    (SELECT date_trunc('hour', MAX(CAST(ts AS TIMESTAMP)))
         |       FROM events),
         |    INTERVAL 1 HOUR)) AS hr)
         |SELECT strftime(s.hr, '%Y-%m-%d %H:%M:%S') AS hr,
         |  COALESCE(h.n, 0) AS n,
         |  last_value(h.avg_value IGNORE NULLS) OVER (
         |    ORDER BY s.hr
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS filled_avg
         |FROM spine s LEFT JOIN h ON s.hr = h.hr
         |ORDER BY hr""".stripMargin,

    "q_stats_corr" ->
      """WITH t AS (
        |  SELECT event_type,
        |    CAST(hour(CAST(ts AS TIMESTAMP)) AS HUGEINT) AS x,
        |    CAST(round(value * 1000) AS HUGEINT) AS ym
        |  FROM events),
        |a AS (
        |  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(x) AS sx, SUM(ym) AS sy, SUM(x * x) AS sxx,
        |    SUM(x * ym) AS sxy, SUM(ym * ym) AS syy
        |  FROM t GROUP BY event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) / 1000.0 AS slope,
        |  CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |       * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr
        |FROM a ORDER BY event_type""".stripMargin,

    "q_skyline" ->
      """SELECT p.p_partkey, p.p_size, p.p_retailprice
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_size >= p.p_size
        |    AND q.p_retailprice <= p.p_retailprice
        |    AND (q.p_size > p.p_size
        |         OR q.p_retailprice < p.p_retailprice))
        |ORDER BY p.p_size, p.p_retailprice, p.p_partkey""".stripMargin,

    "q_order_dist" ->
      """WITH per AS (
        |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM per GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_idle_customers" ->
      s"""WITH thr AS (
         |  SELECT ${sqlAvg("c_acctbal")} AS thr
         |  FROM customer WHERE c_acctbal > 0)
         |SELECT n_name, COUNT(*) AS n_cust,
         |  ${sqlSum("c_acctbal")} AS total_bal
         |FROM customer c
         |JOIN nation ON c.c_nationkey = n_nationkey, thr
         |WHERE c.c_acctbal > thr.thr
         |  AND NOT EXISTS (
         |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
         |      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
         |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_rfm_segments" ->
      """WITH rfm AS MATERIALIZED (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
        |      DATE '2001-09-01') AS BIGINT) AS rec,
        |    CAST(COUNT(*) AS BIGINT) AS freq,
        |    CAST(SUM(CAST(round(o_totalprice) AS HUGEINT)) AS BIGINT)
        |      AS mon
        |  FROM orders GROUP BY 1),
        |cc AS MATERIALIZED (
        |  SELECT metric, v, SUM(cnt) OVER (PARTITION BY metric ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER (PARTITION BY metric) AS n
        |  FROM (
        |    SELECT 'rec' AS metric, rec AS v, COUNT(*) AS cnt
        |    FROM rfm GROUP BY 2
        |    UNION ALL SELECT 'freq', freq, COUNT(*) FROM rfm GROUP BY 2
        |    UNION ALL SELECT 'mon', mon, COUNT(*) FROM rfm GROUP BY 2) t),
        |cuts AS (
        |  SELECT metric,
        |    MIN(CASE WHEN cum * 4 >= n THEN v END) AS c1,
        |    MIN(CASE WHEN cum * 4 >= n * 2 THEN v END) AS c2,
        |    MIN(CASE WHEN cum * 4 >= n * 3 THEN v END) AS c3
        |  FROM cc GROUP BY metric),
        |scored AS (
        |  SELECT
        |    1 + CAST(rec  > r.c1 AS INT) + CAST(rec  > r.c2 AS INT)
        |      + CAST(rec  > r.c3 AS INT) AS r_q,
        |    1 + CAST(freq > f.c1 AS INT) + CAST(freq > f.c2 AS INT)
        |      + CAST(freq > f.c3 AS INT) AS f_q,
        |    1 + CAST(mon  > m.c1 AS INT) + CAST(mon  > m.c2 AS INT)
        |      + CAST(mon  > m.c3 AS INT) AS m_q
        |  FROM rfm,
        |    (SELECT * FROM cuts WHERE metric = 'rec') r,
        |    (SELECT * FROM cuts WHERE metric = 'freq') f,
        |    (SELECT * FROM cuts WHERE metric = 'mon') m)
        |SELECT r_q, f_q, m_q, COUNT(*) AS n
        |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_triangle_count" ->
      """WITH e AS MATERIALIZED (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (
        |  SELECT v, COUNT(*) AS deg FROM (
        |    SELECT p1 AS v FROM e UNION ALL SELECT p2 FROM e) t
        |  GROUP BY v),
        |tri AS (
        |  SELECT COUNT(*) AS n FROM e ab
        |  JOIN e bc ON ab.p2 = bc.p1
        |  JOIN e ac ON ac.p1 = ab.p1 AND ac.p2 = bc.p2)
        |SELECT
        |  (SELECT COUNT(*) FROM deg) AS n_nodes,
        |  (SELECT COUNT(*) FROM e) AS n_edges,
        |  (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM deg)
        |    AS n_wedges,
        |  CAST(tri.n AS BIGINT) AS n_triangles,
        |  CAST(3 * tri.n AS DOUBLE)
        |    / (SELECT SUM(deg * (deg - 1) // 2) FROM deg) AS clustering
        |FROM tri""".stripMargin,

    "q_basket_pairs" ->
      """SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |  COUNT(*) AS support
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY support DESC, p1, p2""".stripMargin,

    "q_assoc_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
        |        AS n_orders FROM items),
        |sup AS (SELECT l_partkey, COUNT(*) AS sup
        |        FROM items GROUP BY l_partkey),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |    COUNT(*) AS sup_ab
        |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |rules AS (
        |  SELECT p1 AS antecedent, p2 AS consequent, sup_ab FROM pairs
        |  UNION ALL
        |  SELECT p2, p1, sup_ab FROM pairs)
        |SELECT antecedent, consequent, sup_ab,
        |  CAST(CAST(sup_ab AS HUGEINT) * 1000000 // sa.sup AS BIGINT)
        |    AS conf_ppm,
        |  CAST(CAST(sup_ab AS HUGEINT) * n_orders * 1000000
        |    // (CAST(sa.sup AS HUGEINT) * sb.sup) AS BIGINT) AS lift_ppm
        |FROM rules
        |JOIN sup sa ON sa.l_partkey = antecedent
        |JOIN sup sb ON sb.l_partkey = consequent, n
        |ORDER BY lift_ppm DESC, antecedent, consequent
        |LIMIT 50""".stripMargin,

    "q_hll_distinct" ->
      """WITH h AS (
        |  SELECT event_type, user_id,
        |    ('0x' || substr(md5('hll' || CAST(user_id AS VARCHAR)),
        |      1, 15))::BIGINT AS w
        |  FROM events),
        |b AS (
        |  SELECT event_type, w % 1024 AS bucket, w // 1024 AS rest
        |  FROM h),
        |regs AS (
        |  SELECT event_type, bucket,
        |    MAX(CASE WHEN rest = 0 THEN 1125899906842624
        |      ELSE rest & (0 - rest) END) AS v
        |  FROM b GROUP BY event_type, bucket),
        |sketch AS (
        |  SELECT event_type, COUNT(*) AS n_hit,
        |    SUM(1125899906842624 // v) AS harmonic_bits
        |  FROM regs GROUP BY event_type),
        |exact AS (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_uniques
        |  FROM events GROUP BY event_type)
        |SELECT event_type, n_hit,
        |  CAST(harmonic_bits AS BIGINT) AS harmonic_bits, exact_uniques
        |FROM sketch JOIN exact USING (event_type)
        |ORDER BY event_type""".stripMargin,

    "q_attribution" ->
      """WITH p AS (
        |  SELECT user_id, ts, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_type = 'purchase'),
        |fp AS (SELECT user_id, ts AS p_ts, event_id AS p_id,
        |         value AS p_value FROM p WHERE rn = 1),
        |t AS (
        |  SELECT e.user_id, e.event_type, e.ts, e.event_id, fp.p_value
        |  FROM events e JOIN fp ON e.user_id = fp.user_id
        |  WHERE e.event_type <> 'purchase'
        |    AND (e.ts < fp.p_ts
        |      OR (e.ts = fp.p_ts AND e.event_id < fp.p_id))),
        |r AS (
        |  SELECT user_id, event_type, p_value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS ra,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM t)
        |SELECT f.event_type AS first_touch, l.event_type AS last_touch,
        |  COUNT(*) AS n_users,
        |  CAST(SUM(CAST(round(f.p_value * 1e8) AS HUGEINT)) AS DOUBLE)
        |    / 1e8 AS attributed_value
        |FROM (SELECT * FROM r WHERE ra = 1) f
        |JOIN (SELECT user_id, event_type FROM r WHERE rd = 1) l
        |  ON f.user_id = l.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_fk_integrity" -> {
      val rels = Seq(
        ("customer.c_nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey",
          "region", "r_regionkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
          "nation", "n_nationkey"))
      rels.map { case (name, child, fk, parent, pk) =>
        s"""SELECT '$name' AS relation,
           |  (SELECT COUNT(*) FROM $child) AS n_child,
           |  (SELECT COUNT(DISTINCT $fk) FROM $child) AS n_distinct_fk,
           |  (SELECT COUNT(*) FROM $child c WHERE NOT EXISTS
           |    (SELECT 1 FROM $parent p WHERE p.$pk = c.$fk))
           |    AS n_orphans""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY relation")
    },

    "q_table_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderdate, o_orderpriority
        |  FROM orders),
        |a AS (
        |  SELECT o_orderkey AS a_key,
        |    md5(concat_ws('|', o_custkey, o_orderstatus, cents,
        |      o_orderdate, o_orderpriority)) AS a_fp,
        |    cents AS a_cents
        |  FROM base WHERE o_orderkey % 10 <> 3),
        |b AS (
        |  SELECT o_orderkey AS b_key,
        |    md5(concat_ws('|', o_custkey, o_orderstatus,
        |      CASE WHEN o_orderkey % 10 = 7 THEN cents * 11 // 10
        |           ELSE cents END,
        |      o_orderdate, o_orderpriority)) AS b_fp,
        |    CASE WHEN o_orderkey % 10 = 7 THEN cents * 11 // 10
        |         ELSE cents END AS b_cents
        |  FROM base WHERE o_orderkey % 10 <> 5)
        |SELECT
        |  CASE WHEN a_key IS NULL THEN 'added'
        |       WHEN b_key IS NULL THEN 'removed'
        |       WHEN a_fp <> b_fp THEN 'changed'
        |       ELSE 'unchanged' END AS change,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(COALESCE(b_cents, 0) - COALESCE(a_cents, 0))
        |    AS BIGINT) AS delta_cents
        |FROM a FULL OUTER JOIN b ON a_key = b_key
        |GROUP BY 1 ORDER BY change""".stripMargin,

    "q_k_anonymity" -> {
      def audit(qi: String, keys: String) =
        s"""SELECT '$qi' AS qi, COUNT(*) AS n_classes,
           |  MIN(k) AS min_k,
           |  CAST(SUM(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS classes_lt_5,
           |  CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
           |    AS rows_lt_5,
           |  CAST(1000000 * SUM(CASE WHEN k < 5 THEN k ELSE 0 END)
           |    // SUM(k) AS BIGINT) AS risk_ppm
           |FROM (SELECT COUNT(*) AS k FROM customer GROUP BY $keys)""".stripMargin
      audit("nation", "c_nationkey") + "\nUNION ALL\n" +
        audit("nation+segment", "c_nationkey, c_mktsegment") +
        "\nORDER BY qi"
    },

    "q_zorder_plan" ->
      """WITH o AS (
        |  SELECT o_custkey AS x,
        |    date_diff('day', DATE '1995-01-01', o_orderdate)::BIGINT AS y
        |  FROM orders),
        |scal AS (
        |  SELECT MIN(x) AS min_x, MAX(x) AS max_x,
        |    MIN(y) AS min_y, MAX(y) AS max_y
        |  FROM o),
        |norm AS (
        |  SELECT x, y,
        |    (x - min_x) * 32 // (max_x - min_x + 1) AS x5,
        |    (y - min_y) * 32 // (max_y - min_y + 1) AS y5
        |  FROM o CROSS JOIN scal)
        |SELECT
        |  (x5 % 2) + (y5 % 2) * 2 + ((x5 // 2) % 2) * 4
        |    + ((y5 // 2) % 2) * 8 + ((x5 // 4) % 2) * 16
        |    + ((y5 // 4) % 2) * 32 + ((x5 // 8) % 2) * 64
        |    + ((y5 // 8) % 2) * 128 + ((x5 // 16) % 2) * 256
        |    + ((y5 // 16) % 2) * 512 AS bucket,
        |  COUNT(*) AS n_rows, MIN(x) AS x_lo, MAX(x) AS x_hi,
        |  MIN(y) AS y_lo, MAX(y) AS y_hi
        |FROM norm GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_cms_users" ->
      """WITH hashed AS (
        |  SELECT user_id, u.j,
        |    ('0x' || substr(md5('cms' || CAST(u.j AS VARCHAR)
        |      || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 1024
        |      AS bucket
        |  FROM events, UNNEST(generate_series(0, 3)) u(j)),
        |counters AS (
        |  SELECT j, bucket, COUNT(*) AS c
        |  FROM hashed GROUP BY j, bucket),
        |exact AS (
        |  SELECT user_id, COUNT(*) AS exact FROM events GROUP BY user_id),
        |est AS (
        |  SELECT user_id, MIN(c) AS estimate
        |  FROM (SELECT DISTINCT user_id, j, bucket FROM hashed) h
        |  JOIN counters USING (j, bucket)
        |  GROUP BY user_id)
        |SELECT user_id, exact, estimate
        |FROM est JOIN exact USING (user_id)
        |ORDER BY exact DESC, user_id LIMIT 50""".stripMargin,

    "q_cohort_ltv" ->
      s"""WITH f AS (
         |  SELECT o_custkey, MIN(o_orderdate) AS first_dt
         |  FROM orders GROUP BY o_custkey),
         |j AS (
         |  SELECT strftime(f.first_dt, '%Y-%m') AS cohort,
         |    CAST((date_part('year', o.o_orderdate) * 12
         |        + date_part('month', o.o_orderdate))
         |      - (date_part('year', f.first_dt) * 12
         |        + date_part('month', f.first_dt)) AS BIGINT) AS k,
         |    o.o_totalprice
         |  FROM orders o JOIN f USING (o_custkey)),
         |g AS (
         |  SELECT cohort, k, COUNT(*) AS n_orders,
         |    ${sqlSum("o_totalprice")} AS revenue
         |  FROM j GROUP BY cohort, k)
         |SELECT cohort, k, n_orders, revenue,
         |  CAST(SUM(CAST(round(revenue * 1e8) AS HUGEINT)) OVER (
         |    PARTITION BY cohort ORDER BY k
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    / 1e8 AS cum_revenue
         |FROM g ORDER BY cohort, k""".stripMargin,

    "q_rolling_active_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events),
        |mx AS (SELECT MAX(day) AS max_day FROM ud),
        |ex AS (
        |  SELECT DISTINCT user_id, CAST(u.rday AS DATE) AS rday
        |  FROM ud, mx,
        |  UNNEST(generate_series(CAST(day AS TIMESTAMP),
        |    CAST(least(day + 6, max_day) AS TIMESTAMP),
        |    INTERVAL 1 DAY)) u(rday))
        |SELECT strftime(rday, '%Y-%m-%d') AS day, COUNT(*) AS wau
        |FROM ex GROUP BY 1 ORDER BY day""".stripMargin,

    "q_dow_hour_heatmap" ->
      s"""SELECT
         |  (CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
         |     - DATE '1970-01-01' AS BIGINT) + 3) % 7 AS dow,
         |  CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
         |  COUNT(*) AS n, ${sqlAvg("value")} AS avg_value
         |FROM events GROUP BY 1, 2 ORDER BY dow, hr""".stripMargin,

    "q_yoy_growth" ->
      s"""WITH rev AS (
         |  SELECT n_name, CAST(year(CAST(o_orderdate AS TIMESTAMP))
         |      AS BIGINT) AS yr,
         |    ${sqlSum("o_totalprice")} AS revenue
         |  FROM orders
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  GROUP BY 1, 2)
         |SELECT n_name, yr, revenue,
         |  (revenue - LAG(revenue) OVER (PARTITION BY n_name ORDER BY yr))
         |    / LAG(revenue) OVER (PARTITION BY n_name ORDER BY yr) AS yoy
         |FROM rev ORDER BY n_name, yr""".stripMargin,

    "q_interarrival" ->
      """WITH g AS (
        |  SELECT (epoch_us(CAST(ts AS TIMESTAMP))
        |      - epoch_us(LAG(CAST(ts AS TIMESTAMP)) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id)))
        |    // 1000000 AS gap_s
        |  FROM events),
        |c AS (
        |  SELECT gap_s, COUNT(*) AS cnt FROM g
        |  WHERE gap_s IS NOT NULL GROUP BY gap_s),
        |w AS (
        |  SELECT gap_s,
        |    SUM(cnt) OVER (ORDER BY gap_s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER () AS n
        |  FROM c)
        |SELECT CAST(MAX(n) AS BIGINT) AS n_gaps,
        |  MIN(CASE WHEN cum * 2 >= n THEN gap_s END) AS median_gap_s,
        |  MIN(CASE WHEN cum * 10 >= n * 9 THEN gap_s END) AS p90_gap_s,
        |  MAX(gap_s) AS max_gap_s
        |FROM w""".stripMargin,

    "q_forecast_backtest" ->
      """WITH monthly AS (
        |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |    SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS y
        |  FROM orders GROUP BY 1),
        |wp AS (
        |  SELECT m, y,
        |    ROW_NUMBER() OVER (ORDER BY m) AS t,
        |    LAG(y, 1) OVER (ORDER BY m) AS prev,
        |    LAG(y, 12) OVER (ORDER BY m) AS snaive,
        |    FIRST_VALUE(y) OVER (ORDER BY m
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y1
        |  FROM monthly),
        |wp2 AS (
        |  SELECT *, prev AS naive,
        |    CASE WHEN t >= 3 THEN prev +
        |      (CASE WHEN prev - y1 < 0 THEN -((y1 - prev) // (t - 2))
        |        ELSE (prev - y1) // (t - 2) END) END AS drift
        |  FROM wp),
        |res AS (
        |  SELECT 'naive' AS method, COUNT(*) AS n_forecasts,
        |    SUM(abs(y - naive)) AS abs_err, SUM(y - naive) AS bias
        |  FROM wp2 WHERE naive IS NOT NULL
        |  UNION ALL
        |  SELECT 'seasonal_naive', COUNT(*), SUM(abs(y - snaive)),
        |    SUM(y - snaive)
        |  FROM wp2 WHERE snaive IS NOT NULL
        |  UNION ALL
        |  SELECT 'drift', COUNT(*), SUM(abs(y - drift)),
        |    SUM(y - drift)
        |  FROM wp2 WHERE drift IS NOT NULL)
        |SELECT method, n_forecasts,
        |  CAST(abs_err // n_forecasts AS BIGINT) AS mae_cents,
        |  CAST(CASE WHEN bias < 0 THEN -((-bias) // n_forecasts)
        |    ELSE bias // n_forecasts END AS BIGINT) AS bias_cents
        |FROM res ORDER BY method""".stripMargin,

    "q_ts_similarity" ->
      s"""$weeklyFeaturesSql,
        |nn AS (SELECT COUNT(*) AS n_users,
        |  GREATEST(1, LEAST(1024, COUNT(*) // 64)) AS k FROM f),
        |mxx AS (SELECT MAX(sx) AS mx FROM f),
        |cells AS (
        |  SELECT CAST(sx::HUGEINT * 1024 // (mx + 1) AS BIGINT) AS cell,
        |    COUNT(*) AS cnt
        |  FROM f CROSS JOIN mxx GROUP BY 1),
        |cm AS (
        |  SELECT cell, LEAST(k - 1,
        |    (SUM(cnt) OVER (ORDER BY cell ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) - cnt) * k // n_users)
        |    AS vol_bucket
        |  FROM cells CROSS JOIN nn),
        |sb AS (
        |  SELECT f.*, ${SaxBlocking.bLadderSql("n_users")} AS b,
        |    CAST(sx::HUGEINT * 1024 // (mx + 1) AS BIGINT) AS cell,
        |    ${(0 until 6).map(i =>
                s"6 * w${i}c - sx AS d$i, (6 * w${i}c - sx)::HUGEINT" +
                  s" * (6 * w${i}c - sx) * 1000 AS q$i").mkString(", ")}
        |  FROM f CROSS JOIN nn CROSS JOIN mxx),
        |sym AS (
        |  SELECT sb.*, cm.vol_bucket,
        |    ${SaxBlocking.wordSqlDuck("b",
               (0 until 6).map(i => s"d$i"), (0 until 6).map(i => s"q$i"),
               "vx")} AS word
        |  FROM sb JOIN cm USING (cell)),
        |cand AS (
        |  SELECT x.user_id AS u1, y.user_id AS u2, x.word,
        |    6 * (x.w0c::HUGEINT*y.w0c + x.w1c::HUGEINT*y.w1c
        |       + x.w2c::HUGEINT*y.w2c + x.w3c::HUGEINT*y.w3c
        |       + x.w4c::HUGEINT*y.w4c + x.w5c::HUGEINT*y.w5c)
        |      - x.sx::HUGEINT * y.sx AS cov,
        |    x.vx AS vxa, y.vx AS vxb
        |  FROM sym x JOIN sym y
        |    ON x.word = y.word AND x.vol_bucket = y.vol_bucket
        |      AND x.user_id < y.user_id),
        |scored AS (
        |  SELECT u1, u2, word,
        |    CASE WHEN cov < 0 THEN -(cov * cov * 1000 // (vxa * vxb))
        |      ELSE cov * cov * 1000 // (vxa * vxb) END AS r2
        |  FROM cand)
        |SELECT u1, u2, word, CAST(r2 AS BIGINT) AS r2_milli
        |FROM scored WHERE r2 >= 950
        |ORDER BY u1, u2""".stripMargin,

    "q_sax_words" ->
      s"""$weeklyFeaturesSql,
        |sb AS (
        |  SELECT f.*,
        |    ${(0 until 6).map(i =>
                s"6 * w${i}c - sx AS d$i, (6 * w${i}c - sx)::HUGEINT" +
                  s" * (6 * w${i}c - sx) * 1000 AS q$i").mkString(", ")}
        |  FROM f)
        |SELECT user_id, CAST(sx AS BIGINT) AS sx,
        |  ${SaxBlocking.wordSqlDuck("2",
             (0 until 6).map(i => s"d$i"), (0 until 6).map(i => s"q$i"),
             "vx")} AS word_b2,
        |  ${SaxBlocking.wordSqlDuck("3",
             (0 until 6).map(i => s"d$i"), (0 until 6).map(i => s"q$i"),
             "vx")} AS word_b3
        |FROM sb ORDER BY user_id""".stripMargin,

    "q_spc_rules" ->
      """WITH daily AS (
        |  SELECT CAST(datediff('day', DATE '1970-01-01',
        |      CAST(ts AS DATE)) AS BIGINT) AS day,
        |    COUNT(*) AS x
        |  FROM events GROUP BY 1),
        |scal AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM daily),
        |r AS (
        |  SELECT day, x, n, CAST(n AS HUGEINT) * x - s AS r
        |  FROM daily CROSS JOIN scal),
        |dd AS (SELECT SUM(r * r) AS dd FROM r),
        |f AS (
        |  SELECT day, x, r,
        |    r * r * n > 9 * dd.dd AS beyond3,
        |    r * r * n > 4 * dd.dd AS beyond2,
        |    CASE WHEN r > 0 THEN 1 WHEN r < 0 THEN -1 ELSE 0 END AS side
        |  FROM r CROSS JOIN dd),
        |g AS (
        |  SELECT *,
        |    SUM(CASE WHEN beyond2 AND side = 1 THEN 1 ELSE 0 END)
        |      OVER (ORDER BY day
        |        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2
        |    OR SUM(CASE WHEN beyond2 AND side = -1 THEN 1 ELSE 0 END)
        |      OVER (ORDER BY day
        |        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2 AS rule2,
        |    CASE WHEN LAG(side) OVER (ORDER BY day) IS NULL
        |      OR LAG(side) OVER (ORDER BY day) <> side
        |      THEN 1 ELSE 0 END AS newrun
        |  FROM f),
        |h AS (
        |  SELECT *, SUM(newrun) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runid
        |  FROM g),
        |i AS (
        |  SELECT *, COUNT(*) OVER (PARTITION BY runid ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_len
        |  FROM h)
        |SELECT day, CAST(x AS BIGINT) AS x, CAST(r AS BIGINT) AS r,
        |  beyond3 AS rule1, rule2,
        |  (run_len >= 8 AND side <> 0) AS rule4
        |FROM i ORDER BY day""".stripMargin,

    "q_anomaly_seasonal" ->
      """WITH daily AS (
        |  SELECT CAST(datediff('day', DATE '1970-01-01',
        |      CAST(ts AS DATE)) AS BIGINT) AS day,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1),
        |d2 AS (SELECT day, cnt, (day + 3) % 7 AS dow FROM daily),
        |strat AS (
        |  SELECT dow, COUNT(*) AS n_dow, SUM(cnt) AS tot_dow
        |  FROM d2 GROUP BY 1),
        |r AS (
        |  SELECT day, d2.dow, cnt,
        |    cnt * n_dow - tot_dow AS r,
        |    abs(cnt * n_dow - tot_dow) AS absr
        |  FROM d2 JOIN strat ON d2.dow = strat.dow),
        |madc AS (
        |  SELECT dow, absr, COUNT(*) AS c FROM r GROUP BY 1, 2),
        |madcum AS (
        |  SELECT dow, absr,
        |    SUM(c) OVER (PARTITION BY dow ORDER BY absr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY dow) AS tot
        |  FROM madc),
        |mad AS (
        |  SELECT dow, MIN(absr) AS mad FROM madcum
        |  WHERE cum >= (tot + 1) // 2 GROUP BY dow)
        |SELECT day, r.dow, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(r AS BIGINT) AS r, CAST(mad AS BIGINT) AS mad,
        |  absr > 3 * mad AS anomaly
        |FROM r JOIN mad ON r.dow = mad.dow
        |ORDER BY day""".stripMargin,

    "q_anomaly_mad" ->
      """WITH e AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |mc AS (
        |  SELECT event_type, c, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, MIN(c) AS med FROM (
        |    SELECT event_type, c,
        |      SUM(cnt) OVER (PARTITION BY event_type ORDER BY c
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |      SUM(cnt) OVER (PARTITION BY event_type) AS tot
        |    FROM mc) t
        |  WHERE cum >= (tot + 1) // 2 GROUP BY event_type),
        |d AS (
        |  SELECT e.event_type, e.c, abs(e.c - m.med) AS dev, m.med
        |  FROM e JOIN m USING (event_type)),
        |dc AS (
        |  SELECT event_type, dev, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
        |md AS (
        |  SELECT event_type, MIN(dev) AS mad FROM (
        |    SELECT event_type, dev,
        |      SUM(cnt) OVER (PARTITION BY event_type ORDER BY dev
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |      SUM(cnt) OVER (PARTITION BY event_type) AS tot
        |    FROM dc) t
        |  WHERE cum >= (tot + 1) // 2 GROUP BY event_type)
        |SELECT d.event_type, COUNT(*) AS n,
        |  MIN(d.med) AS med_c, MIN(md.mad) AS mad_c,
        |  CAST(SUM(CASE WHEN d.dev > 3 * md.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_anomalies
        |FROM d JOIN md USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

    "q_mode_events" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT user_id, event_type, cnt,
        |    MAX(cnt) OVER (PARTITION BY user_id) AS mx
        |  FROM c)
        |SELECT user_id, MIN(event_type) AS mode_type,
        |  CAST(MAX(mx) AS BIGINT) AS n
        |FROM m WHERE cnt = mx
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_running_distinct" ->
      """WITH e AS MATERIALIZED (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS day FROM e GROUP BY 1),
        |daily AS (SELECT day, COUNT(*) AS new_users FROM f GROUP BY 1),
        |spine AS (SELECT DISTINCT day FROM e)
        |SELECT strftime(s.day, '%Y-%m-%d') AS day,
        |  COALESCE(d.new_users, 0) AS new_users,
        |  CAST(SUM(COALESCE(d.new_users, 0)) OVER (
        |    ORDER BY s.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_users
        |FROM spine s LEFT JOIN daily d ON s.day = d.day
        |ORDER BY day""".stripMargin,

    "q_important_parts" ->
      s"""WITH per AS MATERIALIZED (
         |  SELECT l_partkey,
         |    ${sqlSum("l_extendedprice * (1 - l_discount)")} AS value
         |  FROM lineitem GROUP BY l_partkey),
         |thr AS (SELECT ${sqlSum("value")} / COUNT(*) AS thr FROM per)
         |SELECT l_partkey, value FROM per, thr
         |WHERE value > thr.thr
         |ORDER BY value DESC, l_partkey""".stripMargin,

    "q_large_orders" ->
      s"""WITH big AS (
         |  SELECT l_orderkey, ${sqlSum("l_quantity")} AS total_qty
         |  FROM lineitem GROUP BY l_orderkey
         |  HAVING ${sqlSum("l_quantity")} > 150)
         |SELECT c_name, c_custkey, o_orderkey,
         |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
         |  o_totalprice, total_qty
         |FROM big JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,

    "q_cusum_online" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |ref AS (
        |  SELECT event_type, CAST(SUM(c) // COUNT(*) AS BIGINT) AS mu
        |  FROM daily WHERE day < DATE '2024-01-16' GROUP BY 1),
        |mon AS (
        |  SELECT d.event_type, r.mu, d.day,
        |    d.c - r.mu - r.mu // 20 AS dev
        |  FROM daily d JOIN ref r USING (event_type)
        |  WHERE d.day >= DATE '2024-01-16'),
        |pre AS (
        |  SELECT event_type, mu, day,
        |    SUM(dev) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
        |  FROM mon),
        |run AS (
        |  SELECT event_type, mu, day, prefix,
        |    MIN(prefix) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin
        |  FROM pre),
        |s AS (
        |  SELECT event_type, mu, day,
        |    prefix - least(0, runmin) AS s,
        |    prefix - least(0, runmin) > mu // 2 AS alert
        |  FROM run)
        |SELECT event_type, mu, COUNT(*) AS n_monitor_days,
        |  CAST(SUM(CASE WHEN alert THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alert_days,
        |  MIN(CASE WHEN alert THEN strftime(day, '%Y-%m-%d') END)
        |    AS first_alert_day,
        |  CAST(MAX(s) AS BIGINT) AS max_s
        |FROM s GROUP BY 1, 2 ORDER BY event_type""".stripMargin,

    "q_cusum" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, c,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n_days,
        |    SUM(c) OVER (PARTITION BY event_type)
        |      // COUNT(*) OVER (PARTITION BY event_type) AS mean_c
        |  FROM daily),
        |cs AS (
        |  SELECT event_type, day, n_days,
        |    SUM(c - mean_c) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        |  FROM w)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(day AS VARCHAR) AS peak_day,
        |  CAST(abs(cusum) AS BIGINT) AS peak_cusum,
        |  CAST(sign(cusum) AS BIGINT) AS direction
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY abs(cusum) DESC, day) AS pk FROM cs)
        |WHERE pk = 1 ORDER BY event_type""".stripMargin,

    "q_volume_shipping" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |  CAST(year(CAST(l_shipdate AS TIMESTAMP)) AS BIGINT) AS l_year,
         |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
         |    OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_market_share" ->
      s"""SELECT CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
         |    AS o_year,
         |  ${sqlSum("CASE WHEN sn.n_name = 'NATION_8' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
         |  / (${sqlSum("l_extendedprice * (1 - l_discount)")}) AS mkt_share
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_product_profit" ->
      s"""SELECT n_name,
         |  CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS o_year,
         |  ${sqlSum("l_extendedprice * (1 - l_discount) - p_retailprice * 0.6 * l_quantity")}
         |    AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin,

    "q_priority_late" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_top_supplier" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |    ${sqlSum("l_extendedprice * (1 - l_discount)")} AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,

    "q_parts_supplier_cnt" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM pairs
        |JOIN supplier ON l_suppkey = s_suppkey AND s_acctbal >= 0
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q_small_qty_revenue" ->
      s"""WITH brand_lines AS (
         |  SELECT l_partkey, l_quantity, l_extendedprice
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_brand = 'Brand#12'),
         |avg_qty AS (
         |  SELECT l_partkey AS ap_partkey,
         |    ${sqlAvg("l_quantity")} AS avg_qty
         |  FROM brand_lines GROUP BY 1)
         |SELECT ${sqlSum("l_extendedprice")} / 7.0 AS avg_yearly
         |FROM brand_lines JOIN avg_qty ON l_partkey = ap_partkey
         |WHERE l_quantity < avg_qty * 0.5""".stripMargin,

    "q_disjunctive" ->
      s"""SELECT ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
         |    AND l_quantity BETWEEN 1 AND 11)
         |  OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 10
         |    AND l_quantity BETWEEN 10 AND 20)
         |  OR (p_brand = 'Brand#10' AND p_size BETWEEN 1 AND 15
         |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q_late_sole_supplier" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |per_order AS (
        |  SELECT l_orderkey AS po_orderkey,
        |    COUNT(DISTINCT l_suppkey) AS n_supp,
        |    COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
        |  FROM li GROUP BY 1)
        |SELECT s_name, n_name, COUNT(*) AS numwait
        |FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE late) c
        |JOIN per_order ON l_orderkey = po_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_supp >= 2 AND n_late = 1
        |GROUP BY s_name, n_name
        |ORDER BY numwait DESC, s_name""".stripMargin,

    "q_regional_best_supplier" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |eur AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |cand AS (
        |  SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
        |    ROW_NUMBER() OVER (PARTITION BY p_partkey
        |      ORDER BY s_acctbal DESC, s_suppkey) AS rk
        |  FROM pairs
        |  JOIN part ON l_partkey = p_partkey
        |    AND p_size = 15 AND p_type = 'STANDARD'
        |  JOIN eur ON l_suppkey = s_suppkey)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
        |FROM cand WHERE rk = 1
        |ORDER BY s_acctbal DESC, p_partkey""".stripMargin,

    "q_order_streaks" ->
      """WITH months AS (
        |  SELECT DISTINCT o_custkey,
        |    CAST(year(CAST(o_orderdate AS TIMESTAMP)) * 12
        |      + month(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS m
        |  FROM orders),
        |islands AS (
        |  SELECT o_custkey,
        |    m - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY m)
        |      AS island
        |  FROM months),
        |best AS (
        |  SELECT o_custkey, MAX(streak_len) AS best_streak
        |  FROM (SELECT o_custkey, island, COUNT(*) AS streak_len
        |        FROM islands GROUP BY o_custkey, island)
        |  GROUP BY o_custkey)
        |SELECT best_streak, COUNT(*) AS n_customers
        |FROM best GROUP BY best_streak ORDER BY best_streak""".stripMargin,

    "q_user_paths" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS e2,
        |    LEAD(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS e3
        |  FROM events)
        |SELECT event_type || '>' || e2 || '>' || e3 AS path,
        |  COUNT(*) AS n
        |FROM seq WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin,

    "q_moving_median" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |win AS (
        |  SELECT a.event_type, a.day, b.day AS b_day, b.c AS b_c
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type
        |    AND b.day <= a.day AND b.day >= a.day - INTERVAL 6 DAY),
        |ranked AS (
        |  SELECT event_type, day, b_c,
        |    COUNT(*) OVER (PARTITION BY event_type, day) AS n_in_win,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, day
        |      ORDER BY b_c, b_day) AS rn
        |  FROM win)
        |SELECT event_type, CAST(day AS VARCHAR) AS day,
        |  CAST(n_in_win AS BIGINT) AS n_in_win, b_c AS med_total_c
        |FROM ranked WHERE rn = (n_in_win + 1) // 2
        |ORDER BY event_type, day""".stripMargin,

    "q_ntile_spend" ->
      s"""WITH spend AS (
         |  SELECT o_custkey, ${sqlSum("o_totalprice")} AS total_spent
         |  FROM orders GROUP BY o_custkey),
         |tiled AS (
         |  SELECT o_custkey, total_spent,
         |    CAST(NTILE(10) OVER (ORDER BY total_spent DESC, o_custkey)
         |      AS BIGINT) AS decile
         |  FROM spend)
         |SELECT decile, COUNT(*) AS n_customers,
         |  ${sqlSum("total_spent")} AS decile_spend,
         |  MIN(total_spent) AS floor_spend
         |FROM tiled GROUP BY decile ORDER BY decile""".stripMargin,

    "q_conversion_time" ->
      """WITH fv AS (
        |  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS v_ts
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |fp AS (
        |  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS p_ts
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |gaps AS (
        |  SELECT (epoch_us(p_ts) - epoch_us(v_ts)) // 1000000 AS gap_s
        |  FROM fv JOIN fp USING (user_id) WHERE p_ts >= v_ts),
        |counts AS (
        |  SELECT gap_s, COUNT(*) AS cnt FROM gaps GROUP BY gap_s),
        |cum AS (
        |  SELECT gap_s, cnt,
        |    SUM(cnt) OVER (ORDER BY gap_s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER () AS n
        |  FROM counts)
        |SELECT CAST(MAX(n) AS BIGINT) AS n_users,
        |  MIN(CASE WHEN cum * 4 >= n THEN gap_s END) AS p25_s,
        |  MIN(CASE WHEN cum * 2 >= n THEN gap_s END) AS median_s,
        |  MIN(CASE WHEN cum * 10 >= n * 9 THEN gap_s END) AS p90_s,
        |  MAX(gap_s) AS max_s
        |FROM cum""".stripMargin,

    "q_column_stats" ->
      """WITH long AS (
        |  SELECT 'l_orderkey' AS col_name, l_orderkey AS v FROM lineitem
        |  UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem
        |  UNION ALL SELECT 'l_linenumber', CAST(l_linenumber AS BIGINT)
        |    FROM lineitem)
        |SELECT col_name, COUNT(*) AS n_rows, COUNT(DISTINCT v) AS ndv,
        |  CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null,
        |  MIN(v) AS min_v, MAX(v) AS max_v
        |FROM long GROUP BY col_name ORDER BY col_name""".stripMargin,

    "q_revenue_pareto" ->
      s"""WITH spend AS (
         |  SELECT o_custkey, ${sqlSum("o_totalprice")} AS spent
         |  FROM orders GROUP BY o_custkey),
         |tot AS (SELECT COUNT(*) AS n_customers,
         |  ${sqlSum("spent")} AS total_revenue FROM spend),
         |cum AS (
         |  SELECT o_custkey, spent,
         |    CAST(ROW_NUMBER() OVER (ORDER BY spent DESC, o_custkey)
         |      AS BIGINT) AS rn,
         |    CAST(SUM(CAST(round(spent * 1e8) AS HUGEINT)) OVER (
         |      ORDER BY spent DESC, o_custkey
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS DOUBLE) / 1e8 AS cum
         |  FROM spend)
         |SELECT MAX(n_customers) AS n_customers,
         |  MAX(total_revenue) AS total_revenue,
         |  MAX(CASE WHEN rn <= (n_customers + 99) // 100 THEN cum END)
         |    / MAX(total_revenue) AS share_top1,
         |  MAX(CASE WHEN rn <= (n_customers + 9) // 10 THEN cum END)
         |    / MAX(total_revenue) AS share_top10,
         |  MAX(CASE WHEN rn <= (n_customers + 4) // 5 THEN cum END)
         |    / MAX(total_revenue) AS share_top20
         |FROM cum CROSS JOIN tot""".stripMargin,

    "q_skew_report" ->
      """WITH long AS (
        |  SELECT 'l_orderkey' AS key_col, CAST(l_orderkey AS VARCHAR) AS v
        |    FROM lineitem
        |  UNION ALL SELECT 'l_partkey', CAST(l_partkey AS VARCHAR)
        |    FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR)
        |    FROM lineitem
        |  UNION ALL SELECT 'l_returnflag', l_returnflag FROM lineitem),
        |per AS (
        |  SELECT key_col, v, COUNT(*) AS per_key
        |  FROM long GROUP BY key_col, v)
        |SELECT key_col, COUNT(*) AS n_keys,
        |  CAST(SUM(per_key) AS BIGINT) AS total_rows,
        |  CAST(MAX(per_key) AS BIGINT) AS max_per_key,
        |  CAST(MAX(per_key) * COUNT(*) * 100 // SUM(per_key) AS BIGINT)
        |    AS skew_x100
        |FROM per GROUP BY key_col ORDER BY key_col""".stripMargin,

    "q_benford" ->
      """WITH digits AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders),
        |counts AS (
        |  SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit)
        |SELECT digit, n,
        |  CAST(n * 1000000 // SUM(n) OVER () AS BIGINT) AS ppm
        |FROM counts ORDER BY digit""".stripMargin,

    "q_theil_sen" ->
      s"""WITH monthly AS (
         |  SELECT n_name,
         |    year(o_orderdate) * 12 + month(o_orderdate) AS m,
         |    ${sqlSum("l_extendedprice * (1 - l_discount)")} AS rev
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a.n_name, a.m AS m1, b.m AS m2,
         |    (b.rev - a.rev) / (b.m - a.m) AS slope
         |  FROM monthly a JOIN monthly b
         |    ON a.n_name = b.n_name AND a.m < b.m),
         |ranked AS (
         |  SELECT n_name, slope,
         |    ROW_NUMBER() OVER (PARTITION BY n_name
         |      ORDER BY slope, m1, m2) AS rk,
         |    COUNT(*) OVER (PARTITION BY n_name) AS n_pairs
         |  FROM pairs),
         |med AS (
         |  SELECT n_name, CAST(n_pairs AS BIGINT) AS n_pairs,
         |    AVG(slope) AS slope
         |  FROM ranked
         |  WHERE rk = (n_pairs + 1) // 2 OR rk = n_pairs // 2 + 1
         |  GROUP BY 1, 2),
         |months AS (
         |  SELECT n_name, COUNT(*) AS n_months FROM monthly GROUP BY 1)
         |SELECT med.n_name, n_months, n_pairs, slope
         |FROM med JOIN months ON med.n_name = months.n_name
         |ORDER BY med.n_name""".stripMargin,

    "q_seasonal_decompose" ->
      """WITH monthly AS (
        |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |    SUM(CAST(round(o_totalprice * 1e8) AS HUGEINT)) AS rq
        |  FROM orders GROUP BY 1),
        |base AS (
        |  SELECT m, rq,
        |    2 * SUM(rq) OVER (ORDER BY m
        |        ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
        |      - LAG(rq, 6) OVER (ORDER BY m)
        |      - LEAD(rq, 6) OVER (ORDER BY m) AS t24
        |  FROM monthly),
        |trd AS (
        |  SELECT m, rq, t24, 24 * rq - t24 AS d24
        |  FROM base WHERE t24 IS NOT NULL),
        |seas AS (
        |  SELECT m % 12 AS mo, SUM(d24) AS dsum24, COUNT(*) AS cnt
        |  FROM trd GROUP BY 1),
        |j AS (
        |  SELECT CAST(m AS BIGINT) AS m,
        |    CAST(rq AS DOUBLE) / 1e8 AS revenue,
        |    CAST(t24 AS DOUBLE) / 2.4e9 AS trend,
        |    CAST(dsum24 AS DOUBLE) / (cnt * 2.4e9) AS seasonal
        |  FROM trd JOIN seas ON trd.m % 12 = seas.mo)
        |SELECT m, revenue, trend, seasonal,
        |  revenue - trend - seasonal AS residual
        |FROM j ORDER BY m""".stripMargin,

    "q_gini" ->
      """WITH spend AS (
        |  SELECT r_name, c_custkey,
        |    SUM(CAST(round(o_totalprice * 1e8) AS HUGEINT)) AS sq
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT r_name, sq,
        |    ROW_NUMBER() OVER (PARTITION BY r_name
        |      ORDER BY sq, c_custkey) AS i,
        |    COUNT(*) OVER (PARTITION BY r_name) AS n
        |  FROM spend)
        |SELECT r_name, CAST(n AS BIGINT) AS n_cust,
        |  CAST((2 * SUM(sq * i) - (n + 1) * SUM(sq)) * 1000000
        |    // (n * SUM(sq)) AS BIGINT) AS gini_ppm,
        |  CAST(COALESCE(SUM(CASE WHEN i > n - n // 10 THEN sq END), 0)
        |    * 1000000 // SUM(sq) AS BIGINT) AS top10_ppm
        |FROM ranked GROUP BY r_name, n
        |ORDER BY r_name""".stripMargin,

    "q_acf" ->
      """WITH monthly AS (
        |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |    SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS rq
        |  FROM orders GROUP BY 1),
        |scal AS (SELECT COUNT(*) AS n, SUM(rq) AS s FROM monthly),
        |cent AS (
        |  SELECT m, n * rq - s AS c FROM monthly CROSS JOIN scal),
        |den AS (SELECT SUM(c * c) AS den FROM cent),
        |ks AS (SELECT unnest(generate_series(1, 6)) AS lag),
        |num AS (
        |  SELECT lag, COUNT(*) AS n_terms, SUM(a.c * b.c) AS num
        |  FROM cent a CROSS JOIN ks JOIN cent b ON b.m = a.m - lag
        |  GROUP BY lag)
        |SELECT CAST(lag AS BIGINT) AS lag, n_terms,
        |  CAST(CASE WHEN num < 0
        |    THEN -((-num) * 1000000 // den)
        |    ELSE num * 1000000 // den END AS BIGINT) AS acf_ppm
        |FROM num CROSS JOIN den
        |ORDER BY lag""".stripMargin,

    "q_zone_map_prune" ->
      """WITH o AS (
        |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |    o_orderkey
        |  FROM orders),
        |preds AS (
        |  SELECT * FROM (VALUES
        |    (0, 1996 * 12 + 1, 1996 * 12 + 6),
        |    (1, 1998 * 12 + 1, 1998 * 12 + 12),
        |    (2, 2000 * 12 + 7, 2001 * 12 + 8)) t(pred_id, lo, hi)),
        |f AS (
        |  SELECT 'clustered' AS layout, m // 12 - 1995 AS file,
        |    MIN(m) AS min_m, MAX(m) AS max_m, COUNT(*) AS rows
        |  FROM o GROUP BY 2
        |  UNION ALL
        |  SELECT 'scattered' AS layout, o_orderkey % 7 AS file,
        |    MIN(m) AS min_m, MAX(m) AS max_m, COUNT(*) AS rows
        |  FROM o GROUP BY 2),
        |monthly AS (SELECT m, COUNT(*) AS cnt FROM o GROUP BY m),
        |exact AS (
        |  SELECT pred_id, SUM(cnt) AS rows_matched
        |  FROM monthly JOIN preds ON m >= lo AND m <= hi
        |  GROUP BY pred_id),
        |probe AS (
        |  SELECT layout, pred_id, COUNT(*) AS files_total,
        |    SUM(CASE WHEN max_m >= lo AND min_m <= hi THEN 1 ELSE 0 END)
        |      AS files_hit,
        |    SUM(CASE WHEN max_m >= lo AND min_m <= hi THEN rows
        |      ELSE 0 END) AS rows_scanned
        |  FROM f CROSS JOIN preds GROUP BY 1, 2)
        |SELECT layout, CAST(pred_id AS BIGINT) AS pred_id,
        |  CAST(files_total AS BIGINT) AS files_total,
        |  CAST(files_hit AS BIGINT) AS files_hit,
        |  CAST(rows_scanned AS BIGINT) AS rows_scanned,
        |  CAST(rows_matched AS BIGINT) AS rows_matched,
        |  CAST(rows_scanned * 100 // rows_matched AS BIGINT)
        |    AS read_amp_x100
        |FROM probe JOIN exact USING (pred_id)
        |ORDER BY layout, pred_id""".stripMargin,

    "q_ab_readout" ->
      """WITH per AS (
        |  SELECT event_type, user_id, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, SUM(cnt) AS total FROM per GROUP BY 1),
        |totals AS (
        |  SELECT SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n0,
        |    SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n1
        |  FROM (SELECT DISTINCT user_id FROM events)),
        |conv AS (
        |  SELECT per.event_type, n0, n1,
        |    SUM(CASE WHEN user_id % 2 = 0 AND cnt * (n0 + n1) > total
        |      THEN 1 ELSE 0 END) AS conv0,
        |    SUM(CASE WHEN user_id % 2 = 1 AND cnt * (n0 + n1) > total
        |      THEN 1 ELSE 0 END) AS conv1
        |  FROM per JOIN tot USING (event_type) CROSS JOIN totals
        |  GROUP BY 1, 2, 3),
        |j AS (
        |  SELECT event_type, n0, n1, conv0, conv1,
        |    CASE WHEN n0 = 0 THEN 0
        |      ELSE conv0 * 1000000 // n0 END AS rate0_ppm,
        |    CASE WHEN n1 = 0 THEN 0
        |      ELSE conv1 * 1000000 // n1 END AS rate1_ppm,
        |    CASE WHEN n0 = 0 OR n1 = 0 OR conv0 + conv1 = 0
        |      OR n0 + n1 - conv0 - conv1 = 0 THEN 0 ELSE
        |    1000 * (n0 + n1)
        |      * CAST(conv1 * (n0 - conv0) - (n1 - conv1) * conv0
        |          AS HUGEINT)
        |      * CAST(conv1 * (n0 - conv0) - (n1 - conv1) * conv0
        |          AS HUGEINT)
        |      // (CAST(n1 AS HUGEINT) * n0 * (conv0 + conv1)
        |         * (n0 + n1 - conv0 - conv1)) END AS chi2_milli
        |  FROM conv)
        |SELECT event_type, CAST(n0 AS BIGINT) AS n0,
        |  CAST(n1 AS BIGINT) AS n1, CAST(conv0 AS BIGINT) AS conv0,
        |  CAST(conv1 AS BIGINT) AS conv1,
        |  CAST(rate0_ppm AS BIGINT) AS rate0_ppm,
        |  CAST(rate1_ppm AS BIGINT) AS rate1_ppm,
        |  CAST(rate1_ppm - rate0_ppm AS BIGINT) AS lift_ppm,
        |  CAST(chi2_milli AS BIGINT) AS chi2_milli,
        |  chi2_milli > 3841 AS significant
        |FROM j ORDER BY event_type""".stripMargin,

    "q_equi_depth_hist" ->
      """WITH cents AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS p
        |  FROM orders),
        |mx AS (SELECT MAX(p) AS mx FROM cents),
        |cells AS (
        |  SELECT p * 1024 // (mx + 1) AS cell, COUNT(*) AS cnt,
        |    MIN(p) AS lo_cents, MAX(p) AS hi_cents
        |  FROM cents CROSS JOIN mx GROUP BY 1),
        |n AS (SELECT SUM(cnt) AS n FROM cells),
        |cum AS (
        |  SELECT cell, cnt, lo_cents, hi_cents,
        |    SUM(cnt) OVER (ORDER BY cell
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM cells)
        |SELECT CAST(least(7, (cum - cnt) * 8 // n.n) AS BIGINT) AS bucket,
        |  COUNT(*) AS n_cells, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |  MIN(lo_cents) AS lo_cents, MAX(hi_cents) AS hi_cents
        |FROM cum CROSS JOIN n
        |GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_cat_drift" ->
      """WITH per AS (
        |  SELECT event_type,
        |    SUM(CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 0 END)
        |      AS ref_rows,
        |    SUM(CASE WHEN date_part('day', ts) > 15 THEN 1 ELSE 0 END)
        |      AS cur_rows
        |  FROM events GROUP BY event_type),
        |tot AS (
        |  SELECT SUM(ref_rows) AS n_ref, SUM(cur_rows) AS n_cur
        |  FROM per),
        |j AS (
        |  SELECT event_type, ref_rows, cur_rows,
        |    ref_rows * 1000000 // n_ref AS ref_ppm,
        |    cur_rows * 1000000 // n_cur AS cur_ppm
        |  FROM per CROSS JOIN tot)
        |SELECT event_type, CAST(ref_rows AS BIGINT) AS ref_rows,
        |  CAST(cur_rows AS BIGINT) AS cur_rows,
        |  CAST(ref_ppm AS BIGINT) AS ref_ppm,
        |  CAST(cur_ppm AS BIGINT) AS cur_ppm,
        |  CAST(cur_ppm - ref_ppm AS BIGINT) AS shift_ppm,
        |  CAST(abs(cur_ppm - ref_ppm) // 2 AS BIGINT) AS tvd_ppm
        |FROM j ORDER BY event_type""".stripMargin,

    "q_dist_drift" ->
      """WITH cents AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS p,
        |    year(o_orderdate) <= 1997 AS is_ref
        |  FROM orders),
        |mx AS (SELECT MAX(p) AS mx FROM cents WHERE is_ref),
        |wc AS (
        |  SELECT is_ref, least(1023, p * 1024 // (mx + 1)) AS cell
        |  FROM cents CROSS JOIN mx),
        |refcells AS (
        |  SELECT cell, COUNT(*) AS cnt FROM wc WHERE is_ref GROUP BY 1),
        |nref AS (SELECT SUM(cnt) AS n_ref FROM refcells),
        |bucketed AS (
        |  SELECT cell, cnt,
        |    least(7, (SUM(cnt) OVER (ORDER BY cell
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
        |      * 8 // n_ref) AS bucket
        |  FROM refcells CROSS JOIN nref),
        |bounds AS (
        |  SELECT bucket, MIN(cell) AS lo_cell, SUM(cnt) AS ref_rows
        |  FROM bucketed GROUP BY 1),
        |bounds2 AS (
        |  SELECT bucket, lo_cell, ref_rows,
        |    COALESCE(LEAD(lo_cell) OVER (ORDER BY bucket) - 1, 1023)
        |      AS hi_cell
        |  FROM bounds),
        |curcells AS (
        |  SELECT cell, COUNT(*) AS ccnt FROM wc WHERE NOT is_ref
        |  GROUP BY 1),
        |cur AS (
        |  SELECT bucket, SUM(ccnt) AS cur_rows
        |  FROM curcells JOIN bounds2
        |    ON cell >= lo_cell AND cell <= hi_cell
        |  GROUP BY 1),
        |tot AS (
        |  SELECT SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
        |    SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS n_cur
        |  FROM wc)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(ref_rows AS BIGINT) AS ref_rows,
        |  CAST(COALESCE(cur_rows, 0) AS BIGINT) AS cur_rows,
        |  CAST(ref_rows * 1000000 // t.n_ref AS BIGINT) AS ref_ppm,
        |  CAST(COALESCE(cur_rows, 0) * 1000000 // t.n_cur AS BIGINT)
        |    AS cur_ppm,
        |  CAST(COALESCE(cur_rows, 0) * 1000000 // t.n_cur
        |     - ref_rows * 1000000 // t.n_ref AS BIGINT) AS shift_ppm,
        |  CAST(abs(COALESCE(cur_rows, 0) * 1000000 // t.n_cur
        |     - ref_rows * 1000000 // t.n_ref) // 2 AS BIGINT) AS tvd_ppm
        |FROM bounds2 LEFT JOIN cur USING (bucket) CROSS JOIN tot t
        |ORDER BY bucket""".stripMargin,

    "q_excess_suppliers" ->
      """WITH shipped AS (
        |  SELECT l_suppkey, l_partkey,
        |    CAST(round(l_quantity * 1e8) AS HUGEINT) AS q
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'),
        |per_pair AS (
        |  SELECT l_suppkey, l_partkey, SUM(q) AS qty_sup
        |  FROM shipped GROUP BY 1, 2),
        |per_part AS (
        |  SELECT l_partkey, SUM(q) AS qty_total
        |  FROM shipped GROUP BY 1),
        |excess AS (
        |  SELECT l_suppkey, COUNT(*) AS n_excess_parts
        |  FROM per_pair JOIN per_part USING (l_partkey)
        |  WHERE qty_sup * 5 > qty_total
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, n_name,
        |  CAST(n_excess_parts AS BIGINT) AS n_excess_parts
        |FROM excess
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY s_suppkey""".stripMargin,

    "q_record_linkage" ->
      s"""WITH ncc AS (SELECT COUNT(*) AS n_c FROM customer),
        |cand AS (
        |  SELECT c_nationkey, c_custkey, s_suppkey,
        |    levenshtein(right(c_name, 9), right(s_name, 9)) AS lev
        |  FROM customer CROSS JOIN ncc JOIN supplier
        |    ON c_nationkey = s_nationkey
        |   AND right(c_name, ${linkageDigitsSql("n_c")})
        |     = right(s_name, ${linkageDigitsSql("n_c")})),
        |best AS (
        |  SELECT c_nationkey, c_custkey AS best_cust,
        |    s_suppkey AS best_supp
        |  FROM (SELECT c_nationkey, c_custkey, s_suppkey,
        |          ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |            ORDER BY lev, c_custkey, s_suppkey) AS rk
        |        FROM cand) t WHERE rk = 1),
        |stats AS (
        |  SELECT c_nationkey, COUNT(*) AS n_pairs,
        |    CAST(SUM(CASE WHEN lev <= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_close,
        |    CAST(MIN(lev) AS BIGINT) AS min_lev
        |  FROM cand GROUP BY c_nationkey)
        |SELECT n_name, n_pairs, n_close, min_lev, best_cust, best_supp
        |FROM stats
        |JOIN best USING (c_nationkey)
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY n_name""".stripMargin
  )
}
