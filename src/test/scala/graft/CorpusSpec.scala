package graft

import graft.operators.Corpus
import org.apache.spark.sql.functions._

/** Semantic invariants for the Corpus module, beyond the DuckDB oracle
  * hash check (which pins exact values): structural properties that must
  * hold at any scale factor, plus plan-shape audits for the claims the
  * Scaladoc makes (top-k without a global sort, broadcast df join).
  */
class CorpusSpec extends SparkSpec {
  private def q(name: String) = Corpus.queries(name)(spark, sf)

  test("dedup_semantic: every drop is dominated by a smaller same-cluster id") {
    val rows = q("dedup_semantic").collect()
    assert(rows.forall(r => r.getAs[Long]("keeper_id") <
      r.getAs[Long]("dropped_id")))
    // dropped ids are unique — one verdict per document
    val dropped = rows.map(_.getAs[Long]("dropped_id"))
    assert(dropped.distinct.length === dropped.length)
  }

  test("sample_priority: fixed size, deterministic, biased to heavy docs") {
    val s1 = q("sample_priority").collect()
    val s2 = q("sample_priority").collect()
    assert(s1.length === 40)
    assert(s1.map(_.toString).toSeq === s2.map(_.toString).toSeq)
    val sampleAvg = s1.map(_.getAs[Long]("n_chars")).sum.toDouble / s1.length
    val corpusAvg = Tables.documents(spark, sf)
      .agg(avg(col("n_chars"))).head().getDouble(0)
    // weight = n_chars, so the sample must overrepresent long docs
    assert(sampleAvg > corpusAvg,
      s"sample avg $sampleAvg not above corpus avg $corpusAvg")
  }

  test("sample_priority plan: top-k, not a global sort") {
    val plan = q("sample_priority").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected top-k physical operator, got:\n$plan")
  }

  test("text_chunks: windows tile every token with stride 40") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        expr("size(filter(split(text, '\\\\s+'), t -> t != ''))").as("n"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    val chunks = q("text_chunks").collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(chunks.keySet === docs.keySet)
    chunks.foreach { case (id, rs) =>
      val n = docs(id)
      val sorted = rs.sortBy(_.getAs[Long]("chunk_idx"))
      // starts are 1, 41, 81, ... and every token index is covered
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Long]("start_tok") === 1L + 40L * i)
        val cnt = r.getAs[Long]("tok_cnt")
        assert(cnt === math.min(50L, n - 40L * i))
      }
      val last = sorted.last
      assert(last.getAs[Long]("start_tok") + last.getAs[Long]("tok_cnt") - 1 === n.toLong)
    }
  }

  test("text_tfidf: per-doc ranks are 1..3 with non-increasing scores") {
    val byDoc = q("text_tfidf").collect().groupBy(_.getAs[Long]("doc_id"))
    byDoc.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq ===
        (1 to sorted.length).toSeq)
      val scores = sorted.map(_.getAs[Long]("score_ppm")).toSeq
      assert(scores === scores.sorted.reverse)
    }
  }

  test("text_tfidf plan: df table joins via broadcast") {
    val plan = Corpus.queries("text_tfidf")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"df join should broadcast the vocabulary-sized side:\n$plan")
  }

  test("text_fuzzy_decon: count-filter precondition and verify semantics") {
    // The q-gram bound (maxlen - q + 1) - q*k = 4 assumes full 30-char
    // prefixes; a shorter document would weaken it below guarantee.
    // Pin the precondition so a data change fails loudly here rather
    // than as a silent candidate miss vs the brute-force oracle.
    val tooShort = Tables.documents(spark, sf)
      .filter(length(col("text")) < 30).count()
    assert(tooShort === 0, s"$tooShort docs shorter than the 30-char prefix")
    val rows = q("text_fuzzy_decon").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Int]("dist") <= 8))
    assert(rows.forall(r =>
      r.getAs[Long]("bench_id") != r.getAs[Long]("doc_id")))
  }

  test("text_fuzzy_decon plan: benchmark gram side broadcasts") {
    val df = Corpus.queries("text_fuzzy_decon")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"probe side should broadcast:\n$plan")
  }

  test("corpus_mix_temp: temperature flattens the mix toward uniform") {
    val rows = q("corpus_mix_temp").collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum.toDouble
    val shareSum = rows.map(_.getAs[Double]("share_t")).sum
    assert(math.abs(shareSum - 1.0) < 1e-9)
    // T=0.5 must pull every subset's share toward uniform: bigger than
    // raw share for small subsets, smaller for big ones. Guard against
    // a degenerate all-uniform mix making this vacuous.
    val raws = rows.map(_.getAs[Long]("n_docs") / total)
    assert(raws.distinct.length > 1, "mix is uniform; test is vacuous")
    rows.zip(raws).foreach { case (r, raw) =>
      val t = r.getAs[Double]("share_t")
      if (raw < 1.0 / rows.length) assert(t > raw)
      else if (raw > 1.0 / rows.length) assert(t < raw)
    }
  }

  test("emb_kmeans_step: clusters partition the corpus") {
    val rows = q("emb_kmeans_step").collect()
    assert(rows.length <= 32 && rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("cnt")).sum
    assert(total === Tables.embeddings(spark, sf).count())
    // micro-unit means stay inside the embedding value range (|v| < 1)
    rows.foreach { r =>
      (1 to 4).foreach { d =>
        assert(math.abs(r.getAs[Long](s"mean_q$d")) < 1000000L)
      }
    }
  }
}
