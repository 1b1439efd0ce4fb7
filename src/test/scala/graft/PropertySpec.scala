package graft

import java.nio.charset.StandardCharsets

import org.scalacheck.{Gen, Prop}

import graft.expressions.{KmvSmallest, PyJson}
import graft.streaming.KplAggregate
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DoubleType

/** Property-based coverage for the byte-level and sketch-level
  * primitives: randomized inputs catch the framing/merge edge cases a
  * handful of goldens cannot. */
class PropertySpec extends SparkSpec {

  private def check(prop: Prop, tests: Int = 200): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(tests), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- KPL wire codec ---------------------------------------------------
  private val genRecord: Gen[(String, Array[Byte])] = for {
    pk <- Gen.choose(0L, Long.MaxValue).map(_.toString)
    data <- Gen.nonEmptyListOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
  } yield (pk, data.toArray)

  test("KPL aggregate: encode/decode round-trips any record batch") {
    check(Prop.forAll(Gen.nonEmptyListOf(genRecord)) { records =>
      val decoded = KplAggregate.decode(KplAggregate.encode(records))
      decoded.length == records.length &&
        decoded.zip(records).forall { case ((pkA, dataA), (pkB, dataB)) =>
          pkA == pkB && java.util.Arrays.equals(dataA, dataB)
        }
    })
  }

  // ---- PyJson renderer --------------------------------------------------
  private val genScalar: Gen[String] = Gen.oneOf(
    Gen.choose(-1000000L, 1000000L).map(_.toString),
    Gen.oneOf("true", "false", "null"),
    Gen.alphaNumStr.map(s => "\"" + s + "\""),
    // strings exercising the escape paths
    Gen.oneOf("\"a\\nb\"", "\"q\\\"uote\"", "\"caf\\u00e9\"", "\"\\\\\""))

  private def genJson(depth: Int): Gen[String] =
    if (depth <= 0) genScalar
    else Gen.oneOf(
      genScalar,
      Gen.listOfN(3, genJson(depth - 1)).map(_.mkString("[", ",", "]")),
      Gen.listOfN(3, genJson(depth - 1)).map(vs =>
        vs.zipWithIndex.map { case (v, i) => s""""k$i":$v""" }
          .mkString("{", ",", "}")))

  test("py_json render is idempotent and JSON-preserving on nested values") {
    check(Prop.forAll(genJson(3)) { json =>
      val once = PyJson.render(json)
      // idempotence: a rendered doc re-renders to itself byte-for-byte
      PyJson.render(once) == once
    })
  }

  // ---- Bounded KMV buffer ----------------------------------------------
  test("KmvSmallest: any partitioning/merge order equals brute-force k-smallest") {
    val agg = KmvSmallest(BoundReference(0, DoubleType, nullable = true), 8)
    val genVals = Gen.listOf(Gen.oneOf(
      Gen.choose(0, 30).map(_.toDouble / 30.0), // heavy duplication
      Gen.choose(0.0, 1.0)))
    val genSplit = for {
      vs <- genVals
      nParts <- Gen.choose(1, 5)
    } yield (vs, nParts)
    check(Prop.forAll(genSplit) { case (vs, nParts) =>
      val parts = vs.grouped(math.max(1, (vs.size + nParts - 1) / nParts))
        .toSeq
      val buffers = parts.map { p =>
        val b = agg.createAggregationBuffer()
        p.foreach(v => agg.update(b,
          new GenericInternalRow(Array[Any](v))))
        // serialize/deserialize every partial, like a real shuffle
        agg.deserialize(agg.serialize(b))
      }
      val merged = buffers.foldLeft(agg.createAggregationBuffer())(agg.merge)
      val got = agg.eval(merged)
        .asInstanceOf[ArrayData]
        .toDoubleArray().toSeq
      val want = vs.distinct.sorted.take(8)
      got == want
    })
  }

  // ---- md5 hash kernels -------------------------------------------------
  private def md5hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map(b => f"$b%02x").mkString

  test("token_md5_60: byte-scan tokenization equals Java regex split on any string") {
    // generator mixes every Java \s class member, ASCII, multi-byte BMP
    // chars AND supplementary (surrogate-pair) chars — the byte scan
    // must agree with String.split("\\s+") on all of them
    val genChar = Gen.oneOf(
      Gen.oneOf(' ', '\t', '\n', '\r', '\f', '\u000B'),
      Gen.alphaNumChar,
      Gen.oneOf('é', 'ß', '£', '中', '文'),
      Gen.const("😀")) // 😀 as a surrogate pair
    val genString = Gen.listOf(genChar).map(_.map(_.toString).mkString)
    check(Prop.forAll(genString) { s =>
      val got = graft.expressions.TokenMd5.hashes(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
        .toLongArray().toSeq
      val want = s.split("\\s+").filter(_.nonEmpty).toSeq.map { t =>
        java.lang.Long.parseLong(md5hex(t.getBytes("UTF-8")).take(15), 16)
      }
      got == want && got.forall(v => v >= 0 && v < (1L << 60))
    })
  }

  // ---- Bloom filter kernel ----------------------------------------------

  test("bloom: zero false negatives for any value set under any split/merge") {
    val genVals = Gen.nonEmptyListOf(Gen.choose(Long.MinValue, Long.MaxValue))
    val genCfg = for {
      mWords <- Gen.choose(1, 64)
      k <- Gen.choose(1, 16)
    } yield (mWords * 64, k)
    check(Prop.forAll(genVals, genCfg, Gen.choose(1, 5)) {
      case (vals, (m, k), nParts) =>
        // build via arbitrary partition split + OR-merge, like a
        // distributed partial aggregation would
        val parts = vals.grouped(math.max(1, vals.size / nParts)).toSeq
        val bufs = parts.map { p =>
          val w = new Array[Long](m / 64)
          p.foreach(v => graft.expressions.Bloom.set(w, m, k, v))
          w
        }
        val merged = bufs.reduce { (a, b) =>
          a.indices.foreach(i => a(i) |= b(i)); a
        }
        // probed through the ArrayData entry the codegen path calls
        val filter = ArrayData.toArrayData(Array(m.toLong, k.toLong) ++ merged)
        vals.forall(v => graft.expressions.Bloom.mightContain(filter, v))
    })
  }

  test("bloom: split/merge build equals single-pass build exactly") {
    val genVals = Gen.nonEmptyListOf(Gen.choose(Long.MinValue, Long.MaxValue))
    check(Prop.forAll(genVals, Gen.choose(1, 6)) { (vals, nParts) =>
      val m = 1024; val k = 5
      def build(groups: Seq[Seq[Long]]): Seq[Long] = {
        val acc = new Array[Long](m / 64)
        groups.foreach { g =>
          val w = new Array[Long](m / 64)
          g.foreach(v => graft.expressions.Bloom.set(w, m, k, v))
          acc.indices.foreach(i => acc(i) |= w(i))
        }
        acc.toSeq
      }
      build(Seq(vals)) == build(
        vals.grouped(math.max(1, vals.size / nParts)).toSeq)
    })
  }

  // ---- SpaceSaving heavy hitters -----------------------------------------

  private def ssAggregate(groups: Seq[Seq[String]],
      cap: Int): Map[String, (Long, Long)] = {
    val agg = graft.expressions.SpaceSavingTopK(
      BoundReference(0, org.apache.spark.sql.types.StringType,
        nullable = true), cap)
    val bufs = groups.map { g =>
      val b = agg.createAggregationBuffer()
      g.foreach { t =>
        agg.update(b, new GenericInternalRow(Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString(t))))
      }
      b
    }
    val merged = bufs.reduce(agg.merge)
    import scala.jdk.CollectionConverters._
    merged.map.asScala.map { case (k, v) => k -> (v(0), v(1)) }.toMap
  }

  test("space_saving: exact (err 0) below capacity under any split/merge") {
    val genTokens = Gen.nonEmptyListOf(Gen.choose(0, 30).map(i => s"tok$i"))
    check(Prop.forAll(genTokens, Gen.choose(1, 5)) { (toks, nParts) =>
      val got = ssAggregate(
        toks.grouped(math.max(1, toks.size / nParts)).toSeq, cap = 64)
      val want = toks.groupBy(identity).map { case (t, xs) =>
        t -> (xs.size.toLong, 0L)
      }
      got == want
    })
  }

  test("space_saving: past capacity, counts bound truth (true <= cnt <= true + err)") {
    // skewed stream over MORE distinct values than capacity
    val genTokens = Gen.nonEmptyListOf(Gen.frequency(
      5 -> Gen.const("heavy"),
      3 -> Gen.choose(0, 4).map(i => s"warm$i"),
      2 -> Gen.choose(0, 200).map(i => s"cold$i")))
    check(Prop.forAll(genTokens, Gen.choose(1, 4)) { (toks, nParts) =>
      val truth = toks.groupBy(identity).view.mapValues(_.size.toLong)
      val got = ssAggregate(
        toks.grouped(math.max(1, toks.size / nParts)).toSeq, cap = 8)
      got.size <= 8 && got.forall { case (t, (cnt, err)) =>
        val tr = truth.getOrElse(t, 0L)
        tr <= cnt && cnt <= tr + err
      }
    })
  }

  test("winnow_fps32: deque sliding-min equals brute-force window minima on any string") {
    val genChar = Gen.oneOf(Gen.alphaNumChar,
      Gen.oneOf(' ', 'é', 'ß', '£', '中', '文'))
    val genString = Gen.listOf(genChar).map(_.mkString)
    check(Prop.forAll(genString, Gen.choose(1, 12), Gen.choose(1, 12)) {
      (s, k, w) =>
        val got = graft.expressions.WinnowFps.fps(
          org.apache.spark.unsafe.types.UTF8String.fromString(s), k, w)
          .toLongArray().toSeq
        val hs = graft.expressions.Md5Shingles.hashes(
          org.apache.spark.unsafe.types.UTF8String.fromString(s), k)
          .toLongArray().toSeq
        val nw = math.max(1, hs.length - w + 1)
        val want = (0 until nw).map(j =>
          hs.slice(j, j + w).min).distinct
        got == want
    })
  }

  test("md5_shingles32: byte-walk windows equal code-point substrings on any BMP string") {
    // BMP-only on purpose: the contract is Spark's substring (code
    // points), which equals Java String windows only below U+10000
    val genChar = Gen.oneOf(Gen.alphaNumChar,
      Gen.oneOf(' ', 'é', 'ß', '£', '中', '文'))
    val genString = Gen.listOf(genChar).map(_.mkString)
    check(Prop.forAll(genString) { s =>
      val got = graft.expressions.Md5Shingles.hashes(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), 8)
        .toLongArray().toSeq
      val nWin = math.max(1, s.length - 7)
      val want = (0 until nWin).toSeq.map { i =>
        val w = s.substring(i, math.min(i + 8, s.length))
        java.lang.Long.parseLong(md5hex(w.getBytes("UTF-8")).take(8), 16)
      }
      got == want && got.forall(v => v >= 0 && v < (1L << 32))
    })
  }

  // ---- test_decoding line split -----------------------------------------
  private val tdPiece: Gen[Array[Byte]] = Gen.frequency(
    4 -> Gen.oneOf(":", " ", ": "),
    4 -> Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar, Gen.const('_')))
      .map(_.mkString),
    2 -> Gen.oneOf("-", ".", "'", "[", "]", "\t", "#", "\u007f"),
    1 -> Gen.oneOf("\r", "\n", "\r\n"),
    1 -> Gen.oneOf("\u0085", "\u2028", "\u2029"),
    1 -> Gen.oneOf("é", "ä", "中", "🎉"),
  ).map(_.getBytes(StandardCharsets.UTF_8)).flatMap(b => Gen.frequency(
    // invalid UTF-8: lone lead and continuation bytes, cut sequences
    12 -> Gen.const(b),
    1 -> Gen.oneOf(Seq(0xFF), Seq(0xC3), Seq(0x80), Seq(0xE2, 0x80),
      Seq(0xF0, 0x9F, 0x8E)).map(_.map(_.toByte).toArray)))

  private def tdBytes(pieces: Seq[Array[Byte]]): Array[Byte] =
    pieces.flatten.toArray

  private val genTdLine: Gen[Array[Byte]] = Gen.oneOf(
    // free: a prefix, then any pieces
    for {
      head <- Gen.frequency(8 -> "table ", 1 -> "", 1 -> "tabl",
        1 -> "TABLE ", 1 -> " table ")
      rest <- Gen.listOf(tdPiece)
    } yield head.getBytes(StandardCharsets.UTF_8) ++ tdBytes(rest),
    // shaped: table <name>: <op>: <body>, each part drawn from pieces
    for {
      name <- Gen.resize(8, Gen.listOf(tdPiece.map(_.filter(_ != ':'))))
      op <- Gen.frequency(3 -> Gen.identifier,
        2 -> Gen.zip(Gen.identifier, Gen.oneOf("-", ".", " ", "'", "$", "é",
          "\u0085"), Gen.identifier).map { case (a, c, b) => a + c + b },
        1 -> tdPiece.map(new String(_, StandardCharsets.UTF_8)))
      body <- Gen.resize(12, Gen.listOf(tdPiece))
    } yield "table ".getBytes(StandardCharsets.UTF_8) ++ tdBytes(name) ++
      s": $op: ".getBytes(StandardCharsets.UTF_8) ++ tdBytes(body))

  test("test_decoding_split equals rlike + 3x regexp_extract on any line") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, RLike, RegExpExtract, UnsafeProjection}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    import graft.expressions.TestDecodingSplit
    val line = BoundReference(0, StringType, nullable = true)
    val pat = Literal(TestDecodingSplit.Line.pattern)
    val matches = RLike(line, pat)
    val groups = (1 to 3).map(i => RegExpExtract(line, pat, Literal(i)))
    val split = TestDecodingSplit(line)
    val generated = UnsafeProjection.create(Seq(split))
    var matched = 0
    var nonAscii = 0
    check(Prop.forAll(genTdLine) { bytes =>
      val row = new GenericInternalRow(Array[Any](UTF8String.fromBytes(bytes)))
      val want =
        if (matches.eval(row) == true) Some(groups.map(_.eval(row).toString))
        else None
      def read(a: ArrayData): Option[Seq[String]] =
        Option(a).map { a =>
          assert(a.numElements() == 1)
          val r = a.getStruct(0, 3)
          (0 until 3).map(r.getUTF8String(_).toString)
        }
      val interpreted = read(split.eval(row).asInstanceOf[ArrayData])
      val codegen = generated(row)
      val compiled = if (codegen.isNullAt(0)) None else read(codegen.getArray(0))
      if (want.nonEmpty) {
        matched += 1
        if (bytes.exists(_ < 0)) nonAscii += 1
      }
      interpreted == want && compiled == want
    }, tests = 1000)
    assert(matched >= 20 && nonAscii >= 5,
      s"too few matching lines drawn: $matched, $nonAscii with non-ASCII bytes")
  }

  // ---- progress-window accounting --------------------------------------
  private val genTicks: Gen[List[(Long, Long, Long)]] = for {
    n <- Gen.choose(1, 60)
    deltas <- Gen.listOfN(n, Gen.choose(0L, 25L)) // clock steps, may stall
    counts <- Gen.listOfN(n, Gen.choose(0L, 50L))
    xids <- Gen.listOfN(n, Gen.choose(0L, 5000L))
  } yield deltas.scanLeft(5L)(_ + _).tail.zip(counts).zip(xids)
    .map { case ((t, c), x) => (t, c, x) }

  test("progress window: emitted counters reconcile under any schedule") {
    // Against a direct simulation of the reference's accounting: the
    // window counters emitted across all lines plus whatever is still
    // buffered must equal the cumulative total (no tick lost or
    // double-counted, however the clock stalls or jumps), each line's
    // cumulative field is the running total at emission, at most one
    // line per 10 s window, and windows emit in increasing order.
    check(Prop.forAll(genTicks) { ticks =>
      // clock serves the generated schedule, then one far-future tick
      // for the flush call below
      val it = (ticks.map(_._1) :+ (ticks.last._1 + 100)).iterator
      val w = new graft.streaming.ProgressWindow(() => it.next())
      val winRe = "win_count: *(\\d+)".r
      val cumRe = "cum_count: *(\\d+)".r
      var cum = 0L
      var emittedWin = 0L
      var ok = true
      var lastBoundary = Long.MinValue
      def absorb(t: Long, line: String): Unit = {
        emittedWin += winRe.findFirstMatchIn(line).get.group(1).toLong
        ok &&= cumRe.findFirstMatchIn(line).get.group(1).toLong == cum
        val boundary = t / 10 * 10
        ok &&= boundary > lastBoundary
        lastBoundary = boundary
      }
      ticks.foreach { case (t, c, x) =>
        cum += c
        w.record(x, c, 0L).foreach(absorb(t, _))
      }
      // flush the residual window: total emitted must now reconcile
      // exactly with the cumulative count — nothing lost, nothing
      // double-counted, regardless of clock stalls and jumps
      w.record(0L, 0L, 0L).foreach(absorb(ticks.last._1 + 100, _))
      ok && emittedWin == cum
    })
  }
}
