package graft

import graft.expressions.FloatDot.float_dot
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("float_dot matches the higher-order-function fold exactly") {
    val df = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
      .select(col("embedding").as("a"), col("embedding").as("b"))
    val both = df.select(
      float_dot(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("hof")).collect()
    both.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1),
        s"native=${r.getDouble(0)} hof=${r.getDouble(1)}")
    }
  }

  test("float_dot interpreted eval matches codegen") {
    val df = spark.read.parquet(s"$sf/embeddings.parquet").limit(20)
    val c = df.select(float_dot(col("embedding"), col("embedding")).as("d"))
      .collect().map(_.getDouble(0))
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val i =
      try df.select(float_dot(col("embedding"), col("embedding")).as("d"))
        .collect().map(_.getDouble(0))
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    assert(c.toSeq == i.toSeq)
  }

  test("ANN recall@10 against brute force is acceptable") {
    def pairs(name: String) =
      SparkEntry.queries(name)(spark, sf)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs("sim_topk_brute")
    val lsh = pairs("sim_ann_lsh")
    val ivf = pairs("sim_ann_ivf")
    val lshRecall = (brute & lsh).size.toDouble / brute.size
    val ivfRecall = (brute & ivf).size.toDouble / brute.size
    info(f"LSH recall@10 = $lshRecall%.3f, IVF recall@10 = $ivfRecall%.3f")
    assert(lshRecall >= 0.5, f"LSH recall $lshRecall%.3f below 0.5")
    assert(ivfRecall >= 0.5, f"IVF recall $ivfRecall%.3f below 0.5")
  }

  test("PQ ADC recall@10 against exact L2 on the same grid") {
    // PQ approximates L2, not cosine — so its recall is measured
    // against the exact L2 top-10 over the same micro-int grid the
    // codes quantize; the gap is pure quantization error of the
    // 16-centroid × 8-subspace codebook.
    import org.apache.spark.sql.expressions.Window
    val pq = SparkEntry.queries("sim_ann_pq")(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))")
        .as("qv"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("pv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2"), col("vec_id"))
    val exact = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("d2", expr("aggregate(zip_with(qv, pv," +
        " (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    info(f"PQ ADC recall@10 vs exact L2 = $recall%.3f")
    assert(recall >= 0.3, f"PQ recall $recall%.3f below 0.3")
  }

  test("IVF-PQ recall@10 against the exhaustive ADC scan") {
    // sim_ann_ivfpq = sim_ann_pq's ADC ranking restricted to the IVF
    // candidate lists, so measuring it against the EXHAUSTIVE ADC
    // top-10 isolates the IVF pruning loss alone (PQ quantization
    // error cancels — both sides rank on identical codes).
    def pairs(name: String) =
      SparkEntry.queries(name)(spark, sf)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs("sim_ann_pq")
    val pruned = pairs("sim_ann_ivfpq")
    val recall = (full & pruned).size.toDouble / full.size
    info(f"IVF-PQ recall@10 vs exhaustive ADC = $recall%.3f")
    assert(recall >= 0.5, f"IVF-PQ recall $recall%.3f below 0.5")
  }

  test("custom expressions are SQL-callable after Graft.register") {
    Graft.register(spark)
    spark.read.parquet(s"$sf/embeddings.parquet").limit(5)
      .createOrReplaceTempView("emb_sql_test")
    val viaSql = spark.sql(
      """SELECT vec_id, float_dot(embedding, embedding) AS d,
        |  simhash64(transform(sequence(1, 10),
        |    i -> xxhash64(CAST(i AS STRING)))) AS sh
        |FROM emb_sql_test ORDER BY vec_id""".stripMargin).collect()
    assert(viaSql.length == 5)
    assert(viaSql.forall(_.getDouble(1) > 0))
    // dedup-family expressions: literal arity params, composed in SQL
    val dd = spark.sql(
      """SELECT shingle_hashes('abcdefghijkl', 8) AS sh,
        |  minhash_sig(shingle_hashes('abcdefghijkl', 8), 16) AS sig,
        |  sorted_intersect_count(shingle_hashes('abcdefghijkl', 8),
        |    shingle_hashes('abcdefghijkl', 8)) AS ic""".stripMargin)
      .collect().head
    assert(dd.getSeq[Long](0).length == 5)   // 12 chars -> 5 windows
    assert(dd.getSeq[Long](1).length == 16)
    assert(dd.getInt(2) == 5)
    val lc = spark.sql(
      """SELECT lsh_codes(CAST(array_repeat(CAST(0.5 AS FLOAT), 64)
        |  AS ARRAY<FLOAT>), 16, 6) AS codes""".stripMargin).collect().head
    assert(lc.getSeq[Int](0).length == 16)
  }

  test("brute-force top-k is deterministic across runs") {
    val a = SparkEntry.queries("sim_topk_brute")(spark, sf).collect()
    val b = SparkEntry.queries("sim_topk_brute")(spark, sf).collect()
    assert(a.toSeq == b.toSeq)
  }

  test("hard negatives: different label, similarity-ranked, truly the hardest") {
    val labels = Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = SparkEntry.queries("sim_hard_negatives")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      // every negative carries a label different from the probe's
      rs.foreach { r =>
        assert(r.getInt(3) != labels(qid))
        assert(r.getInt(3) == labels(r.getLong(2)))
      }
      // ranked by descending similarity
      val cos = rs.sortBy(_.getInt(1)).map(_.getDouble(4))
      assert(cos.zip(cos.tail).forall { case (x, y) => x >= y })
    }
    // cross-check against the label-free top-k: any same-rank neighbor of
    // a DIFFERENT label in sim_topk_brute must appear here with cosine
    // no greater than this query's rank-1 negative
    val topk = SparkEntry.queries("sim_topk_brute")(spark, sf).collect()
    val best = rows.filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getDouble(3 + 1)).toMap
    topk.filter(r => labels(r.getLong(2)) != labels(r.getLong(0)))
      .foreach { r =>
        assert(r.getDouble(3) <= best(r.getLong(0)) + 1e-12,
          s"query ${r.getLong(0)}: top-k found a harder negative")
      }
  }
}
