package graft

import graft.expressions.{LshCodes, MinHashSig, PrefixShingles, ShingleHashes}
import org.apache.spark.sql.functions._

/** Unit coverage for the native expressions backing the dedup /
  * similarity hot paths: each is checked against the composed
  * built-in-function formulation it replaced (the semantics the DuckDB
  * oracles were originally written against), plus interpreted-vs-
  * codegen agreement where both paths exist. */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  test("shingle_hashes equals distinct substring windows, incl. short strings") {
    val df = Seq(
      (1L, "abcdefghij"),          // 3 windows of 8
      (2L, "abc"),                 // shorter than k -> 1 window (whole)
      (3L, "aaaaaaaaaa"),          // all windows identical -> 1 distinct
      (4L, "ab"),
      (5L, "héllo wörld unicode£") // multi-byte chars
    ).toDF("doc_id", "text")
    val viaExpr = df.select(col("doc_id"),
      size(ShingleHashes.shingle_hashes(col("text"), 8)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaBuiltins = df.select(col("doc_id"),
      size(array_distinct(expr(
        "transform(sequence(1, greatest(1, length(text) - 7))," +
          " i -> substring(text, i, 8))"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaExpr == viaBuiltins)
  }

  test("shingle_hashes output is sorted and duplicate-free") {
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select(ShingleHashes.shingle_hashes(col("text"), 8).as("set"))
      .as[Array[Long]].collect()
    assert(rows.nonEmpty)
    rows.foreach { a =>
      assert(a.toSeq == a.toSeq.sorted && a.distinct.length == a.length)
    }
  }

  test("shingle-set intersections match string-shingle intersections") {
    // pairwise intersection counts over hash sets must equal the
    // counts over the underlying distinct substring sets (the quantity
    // every jaccard oracle checks)
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(30)
    val viaHash = docs.select(col("doc_id"),
      ShingleHashes.shingle_hashes(col("text"), 8).as("s"))
      .as[(Long, Array[Long])].collect().map { case (id, s) => id -> s.toSet }
    val viaStr = docs.select(col("doc_id"), array_distinct(expr(
      "transform(sequence(1, greatest(1, length(text) - 7))," +
        " i -> substring(text, i, 8))")).as("s"))
      .as[(Long, Array[String])].collect().map { case (id, s) => id -> s.toSet }
    val byIdH = viaHash.toMap
    val byIdS = viaStr.toMap
    for ((a, b) <- byIdH.keys.toSeq.combinations(2).map(x => (x(0), x(1))))
      assert(byIdH(a).intersect(byIdH(b)).size ==
        byIdS(a).intersect(byIdS(b)).size)
  }

  test("minhash_sig: equal sets agree, signature similarity tracks jaccard") {
    val a = (1L to 200L).toArray
    val b = (1L to 200L).toArray                 // identical
    val c = (1L to 160L).toArray ++ (1001L to 1040L).toArray // J = 2/3
    val d = (5001L to 5200L).toArray             // disjoint
    val df = Seq(("a", a), ("b", b), ("c", c), ("d", d)).toDF("k", "set")
    val sigs = df.select(col("k"), MinHashSig.minhash_sig(col("set"), 48))
      .as[(String, Array[Long])].collect().toMap
    assert(sigs("a").toSeq == sigs("b").toSeq)
    def agree(x: Array[Long], y: Array[Long]) =
      x.zip(y).count { case (u, v) => u == v }
    assert(agree(sigs("a"), sigs("c")) > 48 / 3) // E = 48 * 2/3 = 32
    assert(agree(sigs("a"), sigs("d")) <= 2)     // E = 0
  }

  test("prefix_shingles matches the relational AllPairs prefix") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sets = docs.select(col("doc_id"),
      ShingleHashes.shingle_hashes(col("text"), 8).as("set"))
      .withColumn("n", size(col("set")).cast("long"))
    val K = 16
    val df = sets.select(explode(col("set")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df")).filter(col("df") >= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt))
    val viaExpr = sets.select(col("doc_id"),
      PrefixShingles.prefix_shingles(col("set"), df, K, 4, 5).as("p"))
      .as[(Long, Array[Long])].collect().map { case (id, p) => id -> p.toSet }
      .toMap
    // reference formulation: sort (df, h) over the FULL set, slice
    // plen, drop df=1
    val dfMap = df.toMap
    val viaRef = sets.select(col("doc_id"), col("set"))
      .as[(Long, Array[Long])].collect().map { case (id, set) =>
        val n = set.length
        val plen = math.min(n, n - ((n * 4 + 4) / 5) + K)
        val sorted = set.map(h => (dfMap.getOrElse(h, 1), h)).sorted
        id -> sorted.take(plen).filter(_._1 >= 2).map(_._2).toSet
      }.toMap
    assert(viaExpr == viaRef)
  }

  test("lsh_codes equals per-plane float_dot sign codes") {
    import graft.expressions.FloatDot.float_dot
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
    val viaExpr = emb.select(col("vec_id"),
      LshCodes.lsh_codes(col("embedding"), 16, 6).as("codes"))
      .as[(Long, Array[Int])].collect().toMap
    val perPlane = (0 until 16).map { t =>
      (0 until 6).map { bit =>
        val w = LshCodes.planeWeights(t, bit)
        val proj = float_dot(col("embedding"),
          array(w.map(x => lit(x.toFloat)): _*))
        when(proj >= 0, lit(1 << bit)).otherwise(lit(0))
      }.reduce(_ + _)
    }
    val viaPlanes = emb.select(col("vec_id"), array(perPlane: _*).as("codes"))
      .as[(Long, Array[Int])].collect().toMap
    assert(viaExpr.keys == viaPlanes.keys)
    viaExpr.foreach { case (id, codes) =>
      assert(codes.toSeq == viaPlanes(id).toSeq, s"vec $id")
    }
  }

  test("kmv_smallest equals sorted collect_set prefix under any partitioning") {
    import graft.expressions.KmvSmallest.kmv_smallest
    val k = 16
    // 1000 rows, 250 distinct hashes (each seen 4x), deliberately
    // shuffled across partition counts so partial/merge order varies
    val base = spark.range(1000)
      .withColumn("g", (col("id") % 3).cast("int"))
      .withColumn("h", expr(
        "cast(conv(substring(md5(cast(id % 250 as string)), 1, 8), 16, 10)" +
          " as double) / 4294967296.0"))
    for (parts <- Seq(1, 7, 32)) {
      val df = base.repartition(parts, col("id"))
      val viaAgg = df.groupBy(col("g"))
        .agg(kmv_smallest(col("h"), k).as("hs"))
        .as[(Int, Array[Double])].collect().toMap
      val viaSet = df.groupBy(col("g"))
        .agg(array_sort(collect_set(col("h"))).as("hs"))
        .as[(Int, Array[Double])].collect().toMap
      assert(viaAgg.keys == viaSet.keys)
      viaAgg.foreach { case (g, hs) =>
        assert(hs.length == math.min(k, viaSet(g).length), s"group $g size")
        assert(hs.toSeq == viaSet(g).take(k).toSeq, s"group $g @ $parts parts")
      }
    }
  }

  test("kmv_smallest state stays bounded and handles small sets exactly") {
    import graft.expressions.KmvSmallest.kmv_smallest
    // fewer distinct values than k -> the full (exact) distinct set
    val small = spark.range(100)
      .withColumn("h", (col("id") % 5).cast("double"))
      .agg(kmv_smallest(col("h"), 16).as("hs"))
      .as[Array[Double]].head()
    assert(small.toSeq == Seq(0.0, 1.0, 2.0, 3.0, 4.0))
    // SQL registration path
    Graft.register(spark)
    spark.range(100).withColumn("h", (col("id") % 40).cast("double"))
      .createOrReplaceTempView("kmv_in")
    val viaSql = spark.sql(
      "SELECT kmv_smallest(h, 8) AS hs FROM kmv_in")
      .as[Array[Double]].head()
    assert(viaSql.toSeq == (0 until 8).map(_.toDouble))
  }

  test("py_json renders CPython json.dumps conventions") {
    import graft.expressions.PyJson.render
    // separators, order preservation, nesting, all value kinds
    assert(render("""{"b":1,"a":[true,null,"x"],"c":{"k":2}}""") ==
      "{\"b\": 1, \"a\": [true, null, \"x\"], \"c\": {\"k\": 2}}")
    // ensure_ascii escaping + control chars
    assert(render("{\"s\":\"é\\n\\\"q\\\"\"}") ==
      "{\"s\": \"\\u00e9\\n\\\"q\\\"\"}")
    // number tokens verbatim (documented deviation: no float roundtrip)
    assert(render("""[0, -7, 1.50, 2e3]""") == "[0, -7, 1.50, 2e3]")
    // malformed input -> null through the expression
    Graft.register(spark)
    val r = spark.sql("SELECT py_json('{nope')").head
    assert(r.isNullAt(0))
  }

  test("full_change_rows: one-parse extraction handles field order and edges") {
    import graft.expressions.FullChangeRows.full_change_rows
    def rows(payload: String) =
      Seq(payload).toDF("p").select(explode(full_change_rows(col("p"))).as("c"))
        .select("c.xid", "c.schema", "c.table", "c.kind", "c.change_py")
        .collect()
    // multi-element array; xid AFTER change (field order must not matter)
    val out = rows(
      """{"change": [{"kind": "insert", "schema": "s", "table": "t1",
        | "columnvalues": [1, "a"]},
        |{"kind": "delete", "schema": "s", "table": "t2",
        | "oldkeys": {"keyvalues": [2]}}], "xid": 42}""".stripMargin)
    assert(out.length == 2)
    assert(out.forall(_.getLong(0) == 42L))
    assert(out(0).getString(3) == "insert" && out(1).getString(3) == "delete")
    assert(out(0).getString(4) ==
      """{"kind": "insert", "schema": "s", "table": "t1",""" +
        """ "columnvalues": [1, "a"]}""")
    assert(out(1).getString(4).contains(""""oldkeys": {"keyvalues": [2]}"""))
    // element missing routing fields -> null fields, row still emitted
    val sparse = rows("""{"xid": 7, "change": [{"columnvalues": [9]}]}""")
    assert(sparse.length == 1 && sparse(0).isNullAt(2) &&
      sparse(0).getString(4) == """{"columnvalues": [9]}""")
    // empty array / malformed payload -> zero rows (explode drops null)
    assert(rows("""{"xid": 7, "change": []}""").isEmpty)
    assert(rows("""{"xid": 7, "change": "nope"}""").isEmpty)
    assert(rows("{broken").isEmpty)
  }

  test("regexp_extract_cached equals regexp_extract with a per-row pattern") {
    import graft.expressions.CachedRegexpExtract.regexp_extract_cached
    val pk = "\\[integer\\]:'?([\\w\\-]+)'?"
    // interleaved patterns (the case that recompiles), optional and
    // unmatched groups, no match, null subject and null pattern
    val df = Seq(
      ("id[integer]:1 name[text]:'a'", "id" + pk),
      ("uuid[uuid]:'k-9'", "uuid\\[uuid\\]:'?([\\w\\-]+)'?"),
      ("id[integer]:22", "id" + pk),
      ("other[integer]:3", "id" + pk),
      ("ab", "a(x)?b"),
      ("ab", "(a)(b)?"),
      (null, "id" + pk),
      ("id[integer]:4", null)
    ).toDF("s", "p")
    val got = df.select(regexp_extract_cached(col("s"), col("p"), 1))
      .as[String].collect().toSeq
    val want = df.select(expr("regexp_extract(s, p, 1)")).as[String]
      .collect().toSeq
    assert(got == want)
    assert(got.take(6) == Seq("1", "k-9", "22", "", "", "a"))
    // a group past the pattern's groups fails as regexp_extract does
    val e = intercept[Exception](Seq(("ab", "(a)")).toDF("s", "p")
      .select(regexp_extract_cached(col("s"), col("p"), 2)).collect())
    assert(e.getMessage.contains("INVALID_PARAMETER_VALUE.REGEX_GROUP_INDEX"))
  }

  test("token_md5_60 equals the composed split/md5/conv formulation") {
    val edge = Seq(
      (1L, "plain tokens here"),
      (2L, "  leading and\ttrailing  \n"),   // empty-split artifacts drop
      (3L, ""),                               // no tokens -> empty array
      (4L, "repeat repeat repeat"),           // duplicates kept, in order
      (5L, "héllo wörld £multibyte"),         // multi-byte UTF-8 tokens
      (6L, "\t\r\n"),                         // all whitespace
      (7L, "one")
    ).toDF("doc_id", "text")
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
      .select(col("doc_id"), col("text"))
    for (df <- Seq(edge, docs)) {
      val viaExpr = df.select(col("doc_id"),
        graft.expressions.TokenMd5.token_md5_60(col("text")).as("th"))
        .as[(Long, Array[Long])].collect().toMap
      val viaBuiltins = df.select(col("doc_id"), expr(
        "transform(filter(split(text, '\\\\s+'), t -> t != '')," +
          " t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))").as("th"))
        .as[(Long, Array[Long])].collect().toMap
      assert(viaExpr.keySet == viaBuiltins.keySet)
      for (k <- viaExpr.keySet)
        assert(viaExpr(k).toSeq == viaBuiltins(k).toSeq, s"doc $k")
    }
  }

  test("md5_shingles32 equals the composed substring/md5/conv formulation") {
    val edge = Seq(
      (1L, "abcdefghijk"),          // 4 full windows
      (2L, "short"),                // < k -> one whole-string hash
      (3L, "aaaaaaaaaa"),           // duplicate windows kept, in order
      (4L, "héllo wörld £multibyte windows")  // multi-byte chars
    ).toDF("doc_id", "text")
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
      .select(col("doc_id"), col("text"))
    for (df <- Seq(edge, docs)) {
      val viaExpr = df.select(col("doc_id"),
        graft.expressions.Md5Shingles.md5_shingles32(col("text"), 8).as("hs"))
        .as[(Long, Array[Long])].collect().toMap
      val viaBuiltins = df.select(col("doc_id"), expr(
        "transform(sequence(1, greatest(1, length(text) - 7))," +
          " i -> cast(conv(substring(md5(substring(text, i, 8)), 1, 8)," +
          " 16, 10) as bigint))").as("hs"))
        .as[(Long, Array[Long])].collect().toMap
      assert(viaExpr.keySet == viaBuiltins.keySet)
      for (k <- viaExpr.keySet)
        assert(viaExpr(k).toSeq == viaBuiltins(k).toSeq, s"doc $k")
    }
  }

  test("winnow_fps32 equals the composed distinct-window-min formulation") {
    val edge = Seq(
      (1L, "abcdefghijklmnopqrs"),   // several hash windows
      (2L, "short"),                 // < k -> one hash -> one window
      (3L, "aaaaaaaaaaaaaaaaaaaa"),  // all hashes equal -> single fp
      (4L, "héllo wörld £multibyte windows here"),
      (5L, "abcdefgh")               // exactly k chars -> one hash
    ).toDF("doc_id", "text")
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
      .select(col("doc_id"), col("text"))
    for (df <- Seq(edge, docs)) {
      val fused = df.select(col("doc_id"),
        graft.expressions.WinnowFps.winnow_fps32(col("text"), 8, 8).as("fps"))
        .as[(Long, Array[Long])].collect().toMap
      val composed = df
        .withColumn("hs",
          graft.expressions.Md5Shingles.md5_shingles32(col("text"), 8))
        .select(col("doc_id"), expr(
          "array_distinct(transform(sequence(1, greatest(1, size(hs) - 7))," +
            " j -> array_min(slice(hs, j, 8))))").as("fps"))
        .as[(Long, Array[Long])].collect().toMap
      assert(fused.keySet == composed.keySet)
      for (k <- fused.keySet)
        assert(fused(k).toSeq == composed(k).toSeq, s"doc $k")
    }
  }

  test("block_mean_hash60 equals the composed split/aggregate formulation") {
    val edge = Seq(
      (1L, "a" * 60),                      // minimal length, uniform
      (2L, "abcdefghij" * 13),             // 130 chars, non-60-divisible
      (3L, ("x" * 30) + ("Z" * 45)),       // 75 chars, step change
      // NOTE no multibyte row: Spark's ascii() yields the first BYTE of a
      // multibyte char, so the composed form is only well-defined on ASCII
      // (the corpus's domain); the native code-point fallback is the clean
      // general-input semantics and is covered by the determinism test.
      (5L, (0 until 240).map(i => ('a' + i % 26).toChar).mkString)
    ).toDF("doc_id", "text")
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
      .filter(length(col("text")) >= 60)
      .select(col("doc_id"), col("text"))
    for (df <- Seq(edge, docs)) {
      val native = df.select(col("doc_id"),
        graft.expressions.BlockMeanHash60
          .blockMeanHash60(col("text")).as("sig"))
        .as[(Long, Long)].collect().toMap
      val composed = df
        .withColumn("n", length(col("text")).cast("long"))
        .withColumn("tsum", expr(
          "aggregate(filter(split(text, ''), c -> c != ''), 0L," +
            " (a, c) -> a + ascii(c))"))
        .select(col("doc_id"), expr(
          "aggregate(sequence(0, 59), 0L, (acc, i) -> acc + " +
            "IF(aggregate(filter(split(substring(text," +
            " cast(i * n div 60 as int) + 1," +
            " cast((i + 1) * n div 60 - i * n div 60 as int)), '')," +
            " c -> c != ''), 0L, (a, c) -> a + ascii(c)) * n" +
            " > tsum * ((i + 1) * n div 60 - i * n div 60)," +
            " shiftleft(1L, cast(i as int)), 0L))").as("sig"))
        .as[(Long, Long)].collect().toMap
      assert(native.keySet == composed.keySet)
      for (k <- native.keySet) assert(native(k) == composed(k), s"doc $k")
    }
  }

  test("frame_sums equals the composed substring/aggregate formulation") {
    val edge = Seq(
      (1L, "a" * 64),                      // exactly one frame
      (2L, "a" * 63),                      // below one frame -> empty
      (3L, "abcdefgh" * 20),               // 160 chars, ragged tail
      (4L, (0 until 640).map(i => ('a' + i % 26).toChar).mkString)
    ).toDF("doc_id", "text")
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
      .select(col("doc_id"), col("text"))
    for (df <- Seq(edge, docs)) {
      val native = df.select(col("doc_id"),
        graft.expressions.FrameSums.frame_sums(col("text"), 64).as("fs"))
        .as[(Long, Array[Long])].collect().toMap
      val composed = df
        .select(col("doc_id"), expr(
          // sequence(1, 0) would descend, so the short-input case is
          // guarded to an empty array explicitly
          "CASE WHEN length(text) >= 64 THEN" +
            " transform(sequence(1, length(text) div 64)," +
            " f -> aggregate(filter(split(substring(text," +
            " cast((f - 1) * 64 as int) + 1, 64), ''), c -> c != '')," +
            " 0L, (a, c) -> a + ascii(c)))" +
            " ELSE array() END").as("fs"))
        .as[(Long, Array[Long])].collect().toMap
      assert(native.keySet == composed.keySet)
      for (k <- native.keySet)
        assert(native(k).toSeq == composed(k).toSeq, s"doc $k")
    }
  }

  test("native expressions: interpreted eval matches codegen") {
    val df = spark.read.parquet(s"$sf/documents.parquet").limit(40)
      // multibyte row exercises BlockMeanHash60's code-point fallback
      .unionByName(Seq((999999L, "héllo wörld £" * 12))
        .toDF("doc_id", "text"), allowMissingColumns = true)
    def run(): Seq[(Int, Seq[Long], Seq[Long], Long, Seq[Long])] = df.select(
      size(ShingleHashes.shingle_hashes(col("text"), 8)).as("ns"),
      MinHashSig.minhash_sig(
        ShingleHashes.shingle_hashes(col("text"), 8), 16).as("sig"),
      graft.expressions.TokenMd5.token_md5_60(col("text")).as("th"),
      graft.expressions.BlockMeanHash60
        .blockMeanHash60(col("text")).as("bh"),
      graft.expressions.FrameSums.frame_sums(col("text"), 64).as("fs"))
      .as[(Int, Array[Long], Array[Long], Long, Array[Long])].collect().toSeq
      .map { case (n, s, t, b, f) => (n, s.toSeq, t.toSeq, b, f.toSeq) }
    val viaCodegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val viaInterp =
      try run()
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    assert(viaCodegen == viaInterp)
  }
}
