package graft

/** Semantic invariants for the round's diagnostic/report queries —
  * the properties a hash-compare can't state (shares bounded and
  * monotone, histograms conserving mass, recall caps), at sf0.001.
  */
class ReportInvariantsSpec extends SparkSpec {

  test("q_revenue_pareto shares are nested and within [0, 1]") {
    val r = SparkEntry.queries("q_revenue_pareto")(spark, sf).head()
    val (s1, s10, s20) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(s1 > 0 && s1 <= s10 && s10 <= s20 && s20 <= 1.0,
      s"shares not nested: $s1 $s10 $s20")
  }

  test("q_benford ppm masses a near-complete million") {
    val rows = SparkEntry.queries("q_benford")(spark, sf).collect()
    val ppm = rows.map(_.getLong(2)).sum
    // integer floor division loses < 1 ppm per digit row
    assert(ppm > 1000000L - rows.length && ppm <= 1000000L, s"ppm=$ppm")
    rows.foreach(r => assert(r.getLong(0) >= 1 && r.getLong(0) <= 9))
  }

  test("q_skew_report: max >= mean for every key, skew >= 100") {
    SparkEntry.queries("q_skew_report")(spark, sf).collect().foreach { r =>
      val (nKeys, total, maxK, skew) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(maxK * nKeys >= total, "max below mean is impossible")
      assert(skew >= 100, s"skew_x100 $skew < its own floor")
    }
  }

  test("text_vocab_growth is cumulative and monotone") {
    val rows = SparkEntry.queries("text_vocab_growth")(spark, sf).collect()
    assert(rows.nonEmpty)
    val vocab = rows.map(_.getLong(2))
    assert(vocab.sameElements(vocab.sorted), "vocab_size must be monotone")
    assert(vocab.last == rows.map(_.getLong(1)).sum,
      "final vocab equals the sum of per-decile novelty")
  }

  test("emb_quantize_recall is bounded by k and mostly high") {
    val rows = SparkEntry.queries("emb_quantize_recall")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) >= 0 && r.getLong(1) <= 10))
    // int8 over 64 dims barely moves a cosine ranking: demand a sane floor
    val mean = rows.map(_.getLong(1)).sum.toDouble / rows.length
    assert(mean >= 5.0, s"mean recall@10 $mean suspiciously low")
  }

  test("dedup_cluster_hist conserves clustered-doc mass") {
    import org.apache.spark.sql.functions._
    val hist = SparkEntry.queries("dedup_cluster_hist")(spark, sf).collect()
    val docs = hist.map(r => r.getLong(0) * r.getLong(1)).sum
    val clustered = SparkEntry.queries("dedup_cluster")(spark, sf).count()
    assert(docs == clustered, s"histogram mass $docs != $clustered docs")
    hist.foreach(r => assert(r.getLong(0) >= 2, "clusters have >= 2 members"))
  }

  test("text_pii_report accounting is internally consistent") {
    SparkEntry.queries("text_pii_report")(spark, sf).collect().foreach { r =>
      val (nDocs, dEmail, nEmails, dCard, nCards, clean) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))
      assert(nEmails >= dEmail && nCards >= dCard)
      assert(clean <= nDocs && clean >= nDocs - dEmail - dCard)
    }
  }

  test("mm_av_align windows used are bounded by frames sampled") {
    SparkEntry.queries("mm_av_align")(spark, sf).collect().foreach { r =>
      assert(r.getLong(2) <= r.getLong(1),
        "distinct windows cannot exceed sampled frames")
    }
  }

  test("mm_scene_cuts reports every clip of two or more frames") {
    // an empty report still hash-matches the oracle
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("mm_scene_cuts")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.length == Tables.documents(spark, sf)
      .filter(length(col("text")) >= 128).count())
    rows.foreach { r =>
      val (frames, cuts, longest) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(frames >= 2 && cuts >= 0 && cuts < frames, s"doc ${r.getLong(0)}")
      assert(longest >= 1 && longest <= frames, s"doc ${r.getLong(0)}")
    }
  }

  test("text_ccnet_buckets: per-lang tertiles ordered and mass-bounded") {
    val rows = SparkEntry.queries("text_ccnet_buckets")(spark, sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      val by = rs.map(r => r.getString(1) -> r).toMap
      val total = rs.map(_.getLong(2)).sum
      // score ranges are strictly disjoint: head q >= q_head > middle q
      for ((hi, lo) <- Seq(("head", "middle"), ("middle", "tail"))
           if by.contains(hi) && by.contains(lo))
        assert(by(hi).getLong(4) > by(lo).getLong(5),
          s"$lang: $hi q_lo must exceed $lo q_hi")
      // cutoff construction guarantees head >= n/3, head+middle >= 2n/3
      by.get("head").foreach(h =>
        assert(h.getLong(2) * 3 >= total, s"$lang head under a third"))
      if (by.contains("head") && by.contains("middle"))
        assert((by("head").getLong(2) + by("middle").getLong(2)) * 3
          >= total * 2, s"$lang head+middle under two thirds")
    }
  }

  test("text_curriculum: stages difficulty-disjoint and quartile-bounded") {
    val rows = SparkEntry.queries("text_curriculum")(spark, sf).collect()
      .sortBy(_.getLong(0))
    val total = rows.map(_.getLong(1)).sum
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(5) < b.getLong(4),
          s"stage ${a.getLong(0)} d_hi must stay below next stage's d_lo")
      case _ =>
    }
    // cumulative mass: stages 1..k hold at least k/4 of the docs
    var cum = 0L
    rows.foreach { r =>
      cum += r.getLong(1)
      assert(cum * 4 >= total * r.getLong(0),
        s"stages 1..${r.getLong(0)} hold less than their quartile share")
    }
  }

  test("text_dsir weights rank the target domain above the rest") {
    val rows = SparkEntry.queries("text_dsir")(spark, sf).collect()
    assert(rows.nonEmpty)
    val w = rows.map(_.getLong(4))
    assert(w.sameElements(w.sortBy(-_)), "weights must be non-increasing")
    w.foreach(x => assert(x >= 0))
    // the target corpus scores itself: src0 docs must average a higher
    // importance weight than the rest of the selection
    val (tgt, rest) = rows.partition(_.getString(1) == "src0")
    if (tgt.nonEmpty && rest.nonEmpty) {
      val mt = tgt.map(_.getLong(4)).sum.toDouble / tgt.length
      val mr = rest.map(_.getLong(4)).sum.toDouble / rest.length
      assert(mt > mr, s"target mean weight $mt not above rest $mr")
    }
  }

  test("q_assoc_rules: confidence bounded, support floored") {
    val rows = SparkEntry.queries("q_assoc_rules")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= 2, "min support is 2 by construction")
      val conf = r.getLong(3)
      assert(conf > 0 && conf <= 1000000L,
        s"conf_ppm $conf outside (0, 1e6]: sup_ab cannot exceed sup_a")
      assert(r.getLong(4) > 0, "lift must be positive")
    }
  }

  test("pack_efficiency conserves document mass across shards") {
    val rows = SparkEntry.queries("pack_efficiency")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum ==
      Tables.documents(spark, sf).count(), "per-shard docs must sum to corpus")
    rows.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(4) > 0)
      // no synthetic doc exceeds the 512 budget, so the greedy can
      // never use fewer bins than the token-mass lower bound
      assert(r.getLong(2) >= r.getLong(5),
        s"bins ${r.getLong(2)} below lower bound ${r.getLong(5)}")
    }
  }

  test("q_cms_users: the count-min guarantee holds on every row") {
    val rows = SparkEntry.queries("q_cms_users")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est >= exact,
        s"user ${r.getLong(0)}: CMS can only OVERestimate ($est < $exact)")
    }
  }

  test("sim_ivf_balance conserves corpus mass across 32 lists") {
    val rows = SparkEntry.queries("sim_ivf_balance")(spark, sf).collect()
    assert(rows.length == 32, s"expected 32 lists, got ${rows.length}")
    val nVecs = rows.map(_.getLong(1)).sum
    val corpus = Tables.embeddings(spark, sf).count()
    assert(nVecs == corpus, s"list mass $nVecs != corpus $corpus")
    val ppm = rows.map(_.getLong(2)).sum
    assert(ppm > 1000000L - 32 && ppm <= 1000000L, s"share ppm=$ppm")
    rows.foreach(r => assert(r.getLong(3) >= 100,
      "skew_x100 below its own floor of 100 is impossible"))
  }

  test("mm_shard_index and mm_shard_pack can never disagree about placement") {
    // the .idx companion's claim (Multimodal.scala): both artifacts
    // derive from the same hash-priority order + DistributedRank
    // cumsum, so the index aggregated per shard must BE the pack
    // manifest — and within each shard, ordinals are dense from 1 and
    // byte offsets strictly increase from 0
    import org.apache.spark.sql.functions._
    val idx = SparkEntry.queries("mm_shard_index")(spark, sf)
    val pack = SparkEntry.queries("mm_shard_pack")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val fromIdx = idx.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("total_bytes"),
        max(col("n_bytes")).as("max_item_bytes"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(fromIdx == pack,
      s"index-derived manifest disagrees with the pack manifest")
    val perShard = idx.select("shard", "item_seq", "offset_in_shard")
      .collect().groupBy(_.getLong(0))
    for ((shard, rows) <- perShard) {
      val byRank = rows.sortBy(_.getLong(1))
      assert(byRank.map(_.getLong(1)).toSeq == (1L to rows.length).toSeq,
        s"shard $shard ordinals not dense from 1")
      val offs = byRank.map(_.getLong(2)).toSeq
      assert(offs.head == 0L, s"shard $shard first offset ${offs.head} != 0")
      assert(offs == offs.sorted && offs.distinct == offs,
        s"shard $shard offsets not strictly increasing: $offs")
    }
  }

  test("corpus_split, q_cusum_online and dedup_incremental are non-trivial") {
    // a hash-compare also passes on an empty or one-sided result:
    // corpus_split covers the corpus with all three splits,
    // q_cusum_online has series, dedup_incremental rejects some doc
    import org.apache.spark.sql.functions._
    val split = SparkEntry.queries("corpus_split")(spark, sf)
    assert(split.count() == Tables.documents(spark, sf).count())
    assert(split.select("split").distinct().collect().map(_.getString(0))
      .toSet == Set("train", "val", "test"))
    assert(SparkEntry.queries("q_cusum_online")(spark, sf).count() > 0)
    assert(SparkEntry.queries("dedup_incremental")(spark, sf)
      .filter(!col("admit")).count() > 0,
      "no batch doc near-duplicates an index doc")
  }
}
