package graft

import graft.expressions.SimHash64.simhash64
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("minhash LSH finds exactly the exact-jaccard >= 0.8 pairs") {
    // The verify step removes all false positives, so equality with the
    // brute-force oracle checks LSH *recall* at the planted-dup level.
    // Run at BOTH the spec corpus and the oracle gate's sf0.01: the
    // 16x3 banding can in principle miss a true pair at the threshold
    // (~1e-5 per pair), and dedup_minhash_lsh / dedup_agreement both
    // lean on recall being total on the verification corpora — this
    // diff against the lossless AllPairs prefix filter turns that
    // assumption into an asserted invariant, so a corpus change that
    // defeats the banding fails HERE with the missing pairs named,
    // not as an opaque oracle hash mismatch.
    Seq(sf, "/root/testdata/sf0.01").foreach { dir =>
      val exact = SparkEntry.queries("dedup_ngram_jaccard")(spark, dir)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val lsh = SparkEntry.queries("dedup_minhash_lsh")(spark, dir)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact.nonEmpty, s"no planted near-duplicates at all in $dir")
      assert(lsh == exact,
        s"$dir: missed=${exact -- lsh}, spurious=${lsh -- exact}")
    }
  }

  test("simhash of identical token arrays is identical; near-dups close") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different words about spark catalyst engines xyzzy")
    ).toDF("doc_id", "text")
    val sigs = df.select(col("doc_id"),
      simhash64(expr("transform(split(text, '\\\\s+'), t -> xxhash64(t))"))
        .as("sig")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) > 3)
  }

  test("simhash pair query finds planted near-duplicates") {
    val pairs = SparkEntry.queries("dedup_simhash")(spark, sf).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Int]("hamming") <= 3))
  }

  test("simhash interpreted eval matches codegen") {
    val df = (1 to 50).map(i => (i.toLong, s"word$i common tokens here " * (i % 5 + 1)))
      .toDF("doc_id", "text")
    val ex = expr("transform(split(text, '\\\\s+'), t -> xxhash64(t))")
    val viaCodegen = df.select(simhash64(ex).as("s")).collect().map(_.getLong(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val viaInterp =
      try df.select(simhash64(ex).as("s")).collect().map(_.getLong(0))
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    assert(viaCodegen.toSeq == viaInterp.toSeq)
  }

  test("exact dedup collapses the synthesized duplicates") {
    val out = SparkEntry.queries("dedup_exact")(spark, sf).collect()
    assert(out.length == 500) // all source texts are distinct
    assert(out.count(_.getAs[Long]("n_copies") == 2L) == 50) // every 10th duped
  }
}
