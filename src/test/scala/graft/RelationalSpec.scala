package graft

import org.apache.spark.sql.execution.ExplainMode

class RelationalSpec extends SparkSpec {

  test("every declared query returns rows at sf0.001 (non-vacuous)") {
    // The synthetic data's ranges differ from real TPC-H (see
    // TESTDATA.md); an over-tight filter silently matches nothing and
    // the oracle "passes" on an empty result. Guard against that here.
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"query $name returned 0 rows at sf0.001")
    }
  }

  test("every oracle key has a corresponding query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every oracle string is fully assembled: no margin bar, no splice left") {
    // Oracles splice shared SQL fragments into stripMargin literals. A
    // literal that misses its stripMargin keeps lines starting with a
    // lone `|`; a splice in a literal without the `s` interpolator
    // stays `$name` or `${...}`. SQL's `||` continuation lines and a
    // regex's `$` anchor are legitimate.
    val splice = """\$[\w{][\w.]*""".r
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) =>
        val margin = sql.split("\n").map(_.dropWhile(_.isWhitespace))
          .find(l => l.startsWith("|") && !l.startsWith("||"))
        margin.map(l => s"$name: unstripped margin: $l") ++
          splice.findFirstIn(sql).map(m => s"$name: unexpanded splice: $m")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("q1 pushes the shipdate filter into the parquet scan") {
    val plan = SparkEntry.queries("q1_pricing")(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"no pushed filter in plan:\n$plan")
  }

  test("q5 broadcasts the dimension tables") {
    val plan = SparkEntry.queries("q5_region_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("approx sketches stay within tolerance of exact answers") {
    import org.apache.spark.sql.functions._
    val approx = SparkEntry.queries("q_approx_stats")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val exact = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n"),
        expr("percentile(l_extendedprice, 0.5)").as("p50"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    exact.foreach { case (flag, (exN, exP50)) =>
      val (apN, apP50) = approx(flag)
      // KMV k=128: below k distinct the small-set branch is exact
      // (modulo 32-bit hash collisions); above, 3 sigma ~ 3/sqrt(128)
      val tol = if (exN <= 128) 0.01 else 3.0 / math.sqrt(128.0)
      assert(math.abs(apN - exN) / exN <= tol,
        s"$flag: approx distinct $apN vs exact $exN")
      // 10% deterministic sample: median of the sample tracks the true
      // median well within 15% at any SF the specs run
      assert(math.abs(apP50 - exP50) / exP50 <= 0.15,
        s"$flag: sampled p50 $apP50 vs exact $exP50")
    }
  }

  test("sliding windows: every event lands in exactly window/slide buckets") {
    import org.apache.spark.sql.functions._
    val nEvents = Tables.events(spark, sf).count()
    val rows = SparkEntry.queries("q_sliding_events")(spark, sf).collect()
    // 1 h window / 15 min slide = 4 assignments per event
    assert(rows.map(_.getLong(1)).sum == 4 * nEvents,
      "sliding assignment multiplicity broken")
    // window starts are on 15-minute boundaries
    rows.foreach { r =>
      val mmss = r.getString(0).takeRight(5)
      assert(Set("00:00", "15:00", "30:00", "45:00")(mmss),
        s"unaligned window start ${r.getString(0)}")
    }
  }

  test("event transition probabilities are a proper distribution per source state") {
    val rows = SparkEntry.queries("q_event_transitions")(spark, sf).collect()
    assert(rows.nonEmpty)
    // per prev_type: p sums to 1 (exact integer counts over one total)
    rows.groupBy(_.getString(0)).foreach { case (prev, rs) =>
      val pSum = rs.map(_.getDouble(3)).sum
      assert(math.abs(pSum - 1.0) < 1e-9, s"$prev: p sums to $pSum")
      val n = rs.map(_.getLong(2)).sum
      rs.foreach { r =>
        assert(math.abs(r.getDouble(3) - r.getLong(2).toDouble / n) < 1e-12)
      }
    }
    // transition pair count never exceeds events minus distinct users
    val ev = Tables.events(spark, sf)
    val nEvents = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum == nEvents - nUsers)
  }

  test("KMV sketch estimates distinct counts within ~3/sqrt(k)") {
    // k=256 -> standard error ~1/16; 3 sigma ~ 19%
    val rows = SparkEntry.queries("q_kmv_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (est, ex) = (r.getDouble(1), r.getLong(2))
      // below k distinct the sketch is exact (small-set branch, modulo
      // 32-bit hash collisions); above it the estimator error applies
      val tol = if (ex <= 256) 0.01 else 3.0 / 16
      assert(math.abs(est - ex) / ex <= tol,
        s"${r.getString(0)}: KMV $est vs exact $ex")
    }
  }

  test("HLL estimate from the checked sketch state is within tolerance") {
    // the declared query emits the integer sketch state (cross-engine
    // exact); the float estimator lives here: standard HLL with the
    // linear-counting small-range correction (Flajolet et al. 2007)
    val m = 1024.0
    val alpha = 0.7213 / (1 + 1.079 / m)
    val rows = SparkEntry.queries("q_hll_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nHit, s, exact) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val zeros = m - nHit
      // register term 2^-(tz+1) = (2^50/v) / 2^51; empty registers
      // contribute 2^-0 = 1
      val denom = zeros + s / math.pow(2, 51)
      val raw = alpha * m * m / denom
      val est = if (raw <= 2.5 * m && zeros > 0) m * math.log(m / zeros)
                else raw
      val err = math.abs(est - exact) / exact
      info(f"${r.getString(0)}: exact $exact, HLL est $est%.1f, err ${err * 100}%.2f%%")
      // 1.04/sqrt(1024) ≈ 3.25% standard error; allow 3 sigma
      assert(err <= 0.10, f"${r.getString(0)}: HLL err ${err * 100}%.1f%% > 10%%")
    }
  }
}
