package graft

import graft.operators.Pipeline
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("connected components: min label per component, driver-free loop") {
    // two components {1,2,3,7} (path + extra edge) and {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (2L, 7L), (10L, 11L))
      .toDF("a_id", "b_id")
    val got = Pipeline.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      10L -> 10L, 11L -> 10L))
    // a 52-node path: the min label needs 51 hops to reach node 51, so
    // the loop must run to convergence, not to a round cap
    val path = Pipeline.connectedComponents(
      (0L until 51L).map(i => (i, i + 1)).toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(path == (0L to 51L).map(_ -> 0L).toMap)
  }

  test("dedup_cluster groups every paired doc, cluster id is member min") {
    val rows = SparkEntry.queries("dedup_cluster")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_._2)
    assert(byCluster.forall { case (cid, ms) => ms.map(_._1).min == cid })
    assert(byCluster.forall(_._2.length >= 2))
  }

  test("hash sample is deterministic and roughly the target rate") {
    val q = SparkEntry.queries("sample_hash")
    val a = q(spark, sf).collect().map(_.getLong(0)).toSeq
    val b = q(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(a == b)
    val total = Tables.documents(spark, sf).count()
    assert(a.length > 0 && a.length < total / 5)
  }

  test("stratified sample takes floor(n/10) rows from every stratum") {
    val strata = Tables.documents(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = SparkEntry.queries("sample_stratified")(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    strata.foreach { case (lang, n) =>
      assert(got.getOrElse(lang, 0L) == n / 10, s"stratum $lang")
    }
  }

  test("bpe tokenizer splits letters/digits/punct, counts dominate order") {
    val rows = SparkEntry.queries("text_bpe_tokens")(spark, sf).collect()
    assert(rows.length <= 20)
    val ns = rows.map(_.getLong(1))
    assert(ns.sameElements(ns.sorted.reverse), "not count-descending")
  }

  test("pii scrub redacts exactly the planted markers") {
    val rows = SparkEntry.queries("text_pii_scrub")(spark, sf).collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      val (email, card) = (r.getInt(1), r.getInt(2))
      if (id % 4 == 0) assert(email == 1 && card == 0, s"doc $id")
      else if (id % 4 == 1) assert(email == 0 && card == 1, s"doc $id")
      else assert(email == 0 && card == 0, s"doc $id")
    }
  }

  test("shard assignment covers the whole corpus with bounded skew") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    val rows = SparkEntry.queries("shard_assign")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == docs, "docs lost or duplicated")
    val counts = rows.map(_.getLong(1))
    // md5 assignment should stay roughly balanced (no empty/hot shard
    // beyond 4x the mean at this corpus size)
    assert(counts.max <= 4 * math.max(1, docs / 32), s"hot shard: ${counts.max}")
  }

  test("decontamination reports only pairs sharing >= 8 true shingles") {
    def shingleSet(text: String): Set[String] =
      (1 to math.max(1, text.length - 7)).map(i =>
        text.substring(i - 1, math.min(text.length, i + 7))).toSet
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
      .toMap
    val rows = SparkEntry.queries("text_decontaminate")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (d, b, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(d >= 20 && b < 20)
      assert(shingleSet(texts(d)).intersect(shingleSet(texts(b))).size == n,
        s"pair ($d,$b)")
    }
  }

  test("survivor selection keeps exactly one doc per near-dup cluster") {
    val clusters = SparkEntry.queries("dedup_cluster")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val survivors = SparkEntry.queries("dedup_survivors")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    // every clustered doc except its min-id representative is dropped
    clusters.foreach { case (doc, cl) =>
      assert(survivors.contains(doc) == (doc == cl), s"doc $doc cl $cl")
    }
    assert(survivors.size ==
      total - clusters.count { case (doc, cl) => doc != cl })
  }

  test("bigram coverage matches a brute-force recount") {
    val rows = SparkEntry.queries("text_bigram_coverage")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (_, nb, nc, cov) =>
      assert(nc <= nb && cov >= 0.0 && cov <= 1.0)
    }
    // brute force over the whole corpus (sf0.001 is small)
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split("\\s+").filter(_.nonEmpty).toSeq)
    val bigrams = texts.map { case (id, t) =>
      id -> t.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
    }
    val counts = bigrams.flatMap(_._2).groupBy(identity).view
      .mapValues(_.size).toMap
    val expect = bigrams.map { case (id, bs) =>
      id -> ((bs.size.toLong, bs.count(counts(_) >= 5).toLong))
    }.toMap
    rows.foreach { case (id, nb, nc, _) =>
      assert((nb, nc) == expect(id), s"doc $id")
    }
  }

  test("corpus mix shares sum to 1 and count every document") {
    val rows = SparkEntry.queries("corpus_mix")(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getLong(2)).sum == total)
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-9)
  }

  test("label stats cover every (label, dim) cell") {
    val rows = SparkEntry.queries("emb_label_stats")(spark, sf).collect()
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("label").distinct().count()
    assert(rows.length == labels * 64)
    rows.foreach { r =>
      val (mean, vmin, vmax) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(mean >= vmin - 1e-12 && mean <= vmax + 1e-12,
        s"label ${r.get(0)} dim ${r.get(1)}: $vmin <= $mean <= $vmax")
    }
  }

  test("embedding dim stats cover every dimension with sane bounds") {
    val rows = SparkEntry.queries("emb_dim_stats")(spark, sf).collect()
    assert(rows.length == 64)
    rows.foreach { r =>
      val (mean, vmin, vmax) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(vmin <= mean && mean <= vmax)
    }
  }

  test("pagerank matches an exact integer-arithmetic recompute") {
    val pairs = operators.Dedup.minhashPairs(
      operators.Dedup.shingleSets(Tables.documents(spark, sf)))
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = deg.keySet.toSeq.sorted
    val n = nodes.size
    var pr = nodes.map(_ -> 100000000L / n).toMap
    for (_ <- 1 to 5) {
      val in = edges.groupBy(_._2).view
        .mapValues(_.map { case (s, _) => pr(s) / deg(s) }.sum).toMap
      pr = nodes.map(v => v ->
        ((15L * 100000000L / n) / 100L + 85L * in.getOrElse(v, 0L) / 100L))
        .toMap
    }
    val got = SparkEntry.queries("graph_pagerank")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == pr, "distributed pagerank diverged from exact recompute")
    assert(got.values.forall(_ > 0L))
  }

  test("containment flags every corpus doc covering >= 25% of a bench doc") {
    def shingleSet(text: String): Set[String] =
      (1 to math.max(1, text.length - 7)).map(i =>
        text.substring(i - 1, math.min(text.length, i + 7))).toSet
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
      .toMap
    val got = SparkEntry.queries("text_containment")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val expect = (for {
      (c, ct) <- texts.toSeq if c >= 20
      (b, bt) <- texts.toSeq if b < 20
      bs = shingleSet(bt)
      i = shingleSet(ct).intersect(bs).size
      if i * 4 >= bs.size
    } yield (c, b) -> ((i.toLong, bs.size.toLong))).toMap
    assert(got == expect, "containment pair set diverges from brute force")
    assert(got.nonEmpty)
  }

  test("int8 quantization: codes within [-127,127], error bounded by scale/2") {
    val rows = SparkEntry.queries("emb_quantize")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    assert(rows.length == vecs.size)
    rows.foreach { case (id, scale, checksum, maxErr, mse) =>
      val v = vecs(id).map(_.toDouble)
      val expScale = v.map(math.abs).max / 127.0
      assert(scale == expScale, s"vec $id scale")
      // Spark/DuckDB round() is half-AWAY-FROM-ZERO; Scala math.round
      // is half-toward-+inf and would diverge on exact -k.5 codes
      val q = v.map(x => BigDecimal(x / scale)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      assert(q.forall(c => c >= -127 && c <= 127), s"vec $id code range")
      assert(checksum == q.sum, s"vec $id checksum")
      // round-to-nearest reconstruction is within half a step per dim
      assert(maxErr <= scale / 2 + 1e-12, s"vec $id maxErr $maxErr")
      assert(mse <= maxErr * maxErr + 1e-12 && mse >= 0.0, s"vec $id mse")
    }
  }

  test("class reps: exactly top-5 per label, nearest-first, distance matches recompute") {
    val rows = SparkEntry.queries("emb_class_reps")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byLabel = rows.groupBy(_._1)
    assert(byLabel.nonEmpty)
    byLabel.foreach { case (label, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq &&
        rs.length <= 5, s"label $label ranks ${rs.map(_._2).toSeq}")
      // rank order == distance order (vec_id tiebreak)
      val inRank = rs.sortBy(_._2).map(r => (r._4, r._3))
      assert(inRank.sameElements(inRank.sorted), s"label $label not nearest-first")
    }
    // recompute one label's distances brute-force on the driver
    val (label0, reps) = byLabel.head
    val vecs = Tables.embeddings(spark, sf)
      .filter(col("label") === label0)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(v => math.round(1e6 * v.toDouble)).toArray)
    val dims = vecs.head._2.length
    val cent = Array.tabulate(dims) { i =>
      val s = vecs.map(_._2(i)).sum
      Math.floorDiv(s, vecs.length.toLong)
    }
    val d2 = vecs.map { case (id, q) =>
      id -> q.zip(cent).map { case (a, c) => (a - c) * (a - c) }.sum
    }.toMap
    val expectTop = d2.toSeq.sortBy { case (id, d) => (d, id) }.take(5)
    assert(reps.sortBy(_._2).map(r => (r._3, r._4)).toSeq ==
      expectTop.map { case (id, d) => (id, d) })
  }

  test("corpus_curate: every stage proven by a driver recount") {
    val got = SparkEntry.queries("corpus_curate")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def toks(t: String): Long = t.split("\\s+").count(_.nonEmpty).toLong
    def shingleSet(t: String): Set[String] =
      (if (t.length <= 8) Set(t)
       else (0 to t.length - 8).map(i => t.substring(i, i + 8)).toSet)
    // quality + eval-exclusion + exact dedup (first doc per content)
    val corpus = docs.filter { case (id, t) => id >= 20 && toks(t) >= 20 }
    val exact = corpus.groupBy(_._2).map { case (_, xs) => xs.keys.min }.toSet
    // near-dup non-survivors from the already-proven cluster query
    val nonSurv = SparkEntry.queries("dedup_cluster")(spark, sf).collect()
      .filter(r => r.getLong(0) != r.getLong(1)).map(_.getLong(0)).toSet
    // contamination: >= 80 shared distinct shingles with any bench doc
    val benchSets = docs.filter(_._1 < 20).values.map(shingleSet)
    val contam = corpus.keySet.filter { id =>
      val s = shingleSet(docs(id))
      benchSets.exists(b => (s intersect b).size >= 80)
    }
    val kept = exact -- nonSurv -- contam
    assert(kept.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    def shardOf(id: Long): Long = {
      val hex = md.digest(s"sh$id".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 32
    }
    val expected = kept.groupBy(shardOf).map { case (sh, ids) =>
      (sh, ids.size.toLong, ids.toSeq.map(id => toks(docs(id))).sum)
    }.toSet
    assert(got == expected)
  }

  test("label outliers: farthest-5 per label, disjoint from the class reps") {
    val out = SparkEntry.queries("emb_label_outliers")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    val byLabel = out.groupBy(_._1)
    assert(byLabel.nonEmpty)
    byLabel.foreach { case (label, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq)
      // rank 1 is the FARTHEST; distances nonincreasing down the queue
      val d2s = rs.sortBy(_._2).map(_._4)
      assert(d2s.zip(d2s.tail).forall { case (a, b) => a >= b },
        s"label $label review queue not farthest-first")
      rs.foreach { r =>
        assert(r._4 >= r._5, "an outlier must be at or above the median")
        assert(math.abs(r._6 - r._4.toDouble / r._5) < 1e-12)
      }
    }
    // the review queue and the exemplar set must not overlap (reps are
    // nearest-5, outliers farthest-5; labels here have >10 members)
    val reps = SparkEntry.queries("emb_class_reps")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(2))).toSet
    assert(out.forall(r => !reps.contains((r._1, r._3))))
  }

  test("boilerplate fraction: df threshold proven by a driver recount") {
    val rows = SparkEntry.queries("text_boilerplate")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "filter(split(text, '\\\\s+'), t -> t != '') as toks")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val grams = docs.map { case (id, toks) =>
      id -> (if (toks.length >= 5) toks.sliding(5).map(_.mkString(" ")).toSeq
             else Seq.empty[String])
    }
    val df = grams.flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.length }
    val expected = grams.map { case (id, gs) =>
      val boiler = gs.count(g => df(g) >= 4)
      (id, gs.length.toLong, boiler.toLong,
        if (gs.nonEmpty) boiler.toDouble / gs.length else 0.0)
    }.toSet
    assert(rows.length == docs.length && rows.toSet == expected)
  }

  test("quantization edge cases: zero vector, negatives, single dim") {
    val df = Seq(
      (1L, Array(0.0f, 0.0f, 0.0f)),      // all-zero: scale 0 branch
      (2L, Array(-2.0f, 1.0f, 0.5f)),     // negative max-abs
      (3L, Array(3.5f)),                  // single dimension
      (4L, Array(-1.0f, 1.0f))            // symmetric extremes
    ).toDF("vec_id", "embedding")
    val rows = Pipeline.quantizeInt8(df).orderBy("vec_id").collect()
    // zero vector: zero scale, zero codes, zero error — not NaN/null
    assert(rows(0).getDouble(1) == 0.0 && rows(0).getLong(2) == 0L)
    assert(rows(0).getDouble(3) == 0.0 && rows(0).getDouble(4) == 0.0)
    // negative max: scale from |−2|, codes sum = −127 + round(63.5) + round(31.75)
    assert(rows(1).getDouble(1) == 2.0 / 127.0)
    assert(rows(1).getLong(2) == -127L + 64L + 32L)
    // single dim maps to exactly ±127 with zero error
    assert(rows(2).getLong(2) == 127L && rows(2).getDouble(3) == 0.0)
    // symmetric extremes cancel
    assert(rows(3).getLong(2) == 0L && rows(3).getDouble(3) == 0.0)
  }

  test("winnow fingerprints match a brute-force recount and bound density") {
    val rows = SparkEntry.queries("text_winnow")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val texts = spark.read.parquet(s"$sf/documents.parquet").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(rows.length == texts.size)
    def h(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    rows.foreach { case (id, nSh, nFp, fpSum) =>
      val t = texts(id)
      val hs = (1 to math.max(1, t.length - 7))
        .map(i => h(t.substring(i - 1, math.min(t.length, i + 7))))
      val fps = (1 to math.max(1, hs.length - 7))
        .map(j => hs.slice(j - 1, j + 7).min).distinct
      assert(nSh == hs.length, s"doc $id n_shingles")
      assert(nFp == fps.length && fpSum == fps.sum, s"doc $id fingerprints")
      // winnowing keeps far fewer fingerprints than shingles
      assert(nFp <= nSh, s"doc $id density")
    }
  }

  test("repetition signals match a brute-force within-doc recount") {
    val rows = SparkEntry.queries("text_repetition")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4),
        r.getLong(5)))
    val texts = spark.read.parquet(s"$sf/documents.parquet").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split("\\s+").filter(_.nonEmpty).toSeq).toMap
    assert(rows.length == texts.size)
    rows.foreach { case (id, nTok, topN, n5, dup5) =>
      val toks = texts(id)
      assert(nTok == toks.length, s"doc $id n_tokens")
      assert(topN == toks.groupBy(identity).values.map(_.size).max,
        s"doc $id top_tok_n")
      val grams = toks.sliding(5).filter(_.size == 5)
        .map(_.mkString(" ")).toSeq
      assert(n5 == grams.length, s"doc $id n_5grams")
      val counts = grams.groupBy(identity).view.mapValues(_.size)
      assert(dup5 == counts.values.filter(_ >= 2).sum, s"doc $id dup5_n")
    }
  }

  test("sequence packing: every doc planned once, packs respect the budget") {
    val budget = 512L
    val rows = SparkEntry.queries("pack_sequences")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.length.toLong == nDocs, "every document must be planned")
    rows.groupBy(_._1).foreach { case (shard, docs) =>
      // pack ids advance monotonically in doc order, starting at 0
      val inOrder = docs.sortBy(_._2)
      assert(inOrder.head._4 == 0L)
      inOrder.sliding(2).foreach { case Array(a, b) =>
        assert(b._4 == a._4 || b._4 == a._4 + 1,
          s"shard $shard: pack ids must advance by 0 or 1")
      }
      // a pack only exceeds the budget when it is a single oversized doc
      inOrder.groupBy(_._4).foreach { case (pack, members) =>
        val total = members.map(_._3).sum
        assert(total <= budget || members.length == 1,
          s"shard $shard pack $pack: $total tokens in ${members.length} docs")
      }
      // greedy tightness: a pack's first doc never fits the prior pack
      inOrder.groupBy(_._4).toSeq.sortBy(_._1).sliding(2).foreach {
        case Seq((_, prev), (_, cur)) =>
          assert(prev.map(_._3).sum + cur.minBy(_._2)._3 > budget,
            s"shard $shard: pack split although the next doc fit")
        case _ => ()
      }
    }
  }

  test("sequence packing: streaming scan matches the sequential " +
      "reference at two shard counts, invariant to input partitioning") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // driver-side reference: the literal greedy algorithm, one shard
    // at a time, computed independently of any Spark partitioning
    val md = java.security.MessageDigest.getInstance("MD5")
    def shardOf(id: Long, n: Int): Long = {
      val hex = md.digest(s"sh$id".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % n
    }
    val toks = docs.selectExpr("doc_id",
      "cast(size(filter(split(text, '\\\\s+'), t -> t != '')) as long) as tk")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (n <- Seq(8, 3)) {
      val expected = toks.keys.toSeq.groupBy(shardOf(_, n)).flatMap {
        case (shard, ids) =>
          var pack = 0L; var acc = 0L
          ids.sorted.map { id =>
            val tk = toks(id)
            if (acc > 0 && acc + tk > 512L) { pack += 1; acc = tk }
            else acc += tk
            (shard, id, tk, pack)
          }
      }.toSet
      // skewed input partitioning must not change the plan output
      for (input <- Seq(docs, docs.repartition(7), docs.coalesce(1))) {
        val got = graft.operators.Pipeline.packSequences(input, nShards = n)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
        assert(got == expected, s"nShards=$n")
      }
    }
  }

  test("cluster-aware split: zero near-dup leakage by construction") {
    // corpus_split_safe assigns every doc its near-dup cluster
    // representative's content-hash bucket, so NO verified near-dup
    // pair may straddle splits — the invariant corpus_split_leakage
    // audits for and the naive content-hash split cannot guarantee
    Seq(sf, "/root/testdata/sf0.01").foreach { dir =>
      val safe = SparkEntry.queries("corpus_split_safe")(spark, dir)
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val pairs = graft.operators.Dedup.minhashPairs(
        graft.operators.Dedup.shingleSets(Tables.documents(spark, dir)))
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.nonEmpty, s"no near-dup pairs in $dir")
      pairs.foreach { case (a, b) =>
        assert(safe(a) == safe(b),
          s"$dir: pair ($a, $b) straddles ${safe(a)}/${safe(b)}")
      }
      // every doc keeps an assignment (left joins lose nobody)
      assert(safe.size == Tables.documents(spark, dir).count())
    }
  }
}
