package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import graft.catalog.PkCatalog
import graft.core.PrimaryKeyMapItem
import graft.functions.Cdc
import graft.sources.CdcSource
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** The streaming test_decoding split — the source's `begin_xid` carry
  * plus [[Cdc.splitTestDecoding]] — and the batch parser
  * [[Cdc.parseTestDecoding]] against the reference kept here:
  * one mutable xid advanced at each `BEGIN ` message, and the Scala
  * `Regex` extractor (a whole-line `matches()`) on every other one, on
  * an edge corpus of the lines a WAL can hold. */
class TestDecodingSplitParitySpec extends SparkSpec {

  private val TableLine = "^table ([^:]+): (\\w+): (.*)$".r

  private def reference(payloads: Seq[String])
      : Seq[(Long, Long, String, String, String)] = {
    var xid = -1L
    payloads.zipWithIndex.flatMap { case (p, lsn) =>
      if (p.startsWith("BEGIN ")) {
        xid = p.substring(6).trim.toLong
        None
      } else p match {
        case TableLine(table, op, body) =>
          Some((lsn.toLong, xid, table, op, body))
        case _ => None // COMMIT / noise
      }
    }
  }

  /** A WAL file holding `payloads`, one a line. The source strips one
    * '\r' before each '\n', so "\r\n" line ends read back as written,
    * a payload's own last '\r' included. */
  private def wal(payloads: Seq[String]): String = {
    val p = Files.createTempDirectory("graft-td-parity").resolve("wal.txt")
    Files.write(p, payloads.map(_ + "\r\n").mkString
      .getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  /** Drain the source at `path` through `f` in micro-batches of at
    * most `cap` lines; rows sorted by lsn. */
  private def drain(path: String, cap: Long)(
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Seq[Row] = {
    val out = mutable.Buffer.empty[Row]
    val q = f(CdcSource.rawStream(spark, path, cap)).writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-td-ckpt").toString)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val rows = b.collect()
        out.synchronized(out ++= rows)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    out.toSeq.sortBy(_.getLong(0))
  }

  private def split(path: String, cap: Long)
      : Seq[(Long, Long, String, String, String)] =
    drain(path, cap) { raw =>
      Cdc.splitTestDecoding(
        raw.select(col("lsn"), col("begin_xid"), col("payload")), "payload")
    }.map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
      r.getString(4)))

  private val corpus = Seq(
    "table public.a: INSERT: id[integer]:1", // before any BEGIN
    "BEGIN 100",
    "table public.a: UPDATE: note[text]:'a: b: c' id[integer]:2",
    "table public.my.ta ble: DELETE: id[integer]:3",
    "table public.a: : id[integer]:4",
    "table public.a: id[integer]:5",
    "table public.a: insert: id[integer]:6",
    "table public.a:INSERT: id[integer]:7",
    "table",
    "tablepublic.a: INSERT: id[integer]:8",
    "table public.ä: INSERT: note[text]:'héllo 🎉 ✓' id[integer]:9",
    "table public.a: INSERT: note[text]:'x\u0085y' id[integer]:10",
    "table public.a: INSERT: id[integer]:11\u0085",
    "table public.a: INSERT: note[text]:'x\u2028y' id[integer]:12",
    "table public.a: INSERT: id[integer]:13\u2028",
    "table public.a: INSERT: note[text]:'x\ry' id[integer]:14",
    "table public.a: INSERT: id[integer]:15\r",
    "table pub\u0085lic.a: INSERT: id[integer]:16",
    "COMMIT 100",
    "COMMIT",
    "#" * 40, // a page-filler line
    "",
    "BEGIN  42 ",
    "table public.a: INSERT: id[integer]:17",
    "BEGIN +7",
    "table public.a: DELETE: id[integer]:18",
    "BEGIN",
    "BEGIN\t9",
    " table public.a: INSERT: id[integer]:19",
    "TABLE public.a: INSERT: id[integer]:20",
    "table public.a: INSERT: ",
    "table public.a: INSERT:")

  test("source payloads read back as the corpus holds them") {
    val got = drain(wal(corpus), Long.MaxValue)(
      _.select(col("lsn"), col("payload"))).map(_.getString(1))
    assert(got == corpus)
  }

  test("split + carry equal the reference on the edge corpus") {
    val want = reference(corpus)
    assert(want.map(_._2).distinct == Seq(-1L, 100L, 42L, 7L))
    val path = wal(corpus)
    for (cap <- Seq(Long.MaxValue, 3L))
      assert(split(path, cap) == want, s"cap $cap")
  }

  test("the batch parser equals the reference after the first BEGIN") {
    import spark.implicits._
    val cat = PkCatalog.fromItems(spark,
      Seq(PrimaryKeyMapItem("public.a", "id", "integer", 1)))
    val Pk = "id\\[integer\\]:'?([\\w\\-]+)'?".r
    val firstBegin = corpus.indexWhere(_.startsWith("BEGIN "))
    val want = reference(corpus).filter(_._1 > firstBegin).map {
      case (lsn, xid, table, op, body) => (lsn, Some(xid), table, op,
        if (table != "public.a") null
        else Pk.findFirstMatchIn(body).map(_.group(1)).orNull)
    }
    val got = Cdc.parseTestDecoding(
        corpus.zipWithIndex.map { case (p, i) => (i.toLong, p) }
          .toDF("lsn", "payload"), "payload", "lsn", cat, strict = false)
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]), r.getString(2),
        r.getString(3), r.getString(4))).toSeq.sortBy(_._1)
    val (before, after) = got.partition(_._1 < firstBegin)
    assert(before.nonEmpty && before.forall(_._2.isEmpty),
      s"no xid before the first BEGIN: $before")
    assert(after == want)
  }

  test("a malformed BEGIN fails on both sides") {
    val lines = Seq("BEGIN 5", "table public.a: INSERT: id[integer]:1",
      "BEGIN x", "table public.a: INSERT: id[integer]:2")
    intercept[NumberFormatException](reference(lines))
    val e = intercept[Exception](split(wal(lines), Long.MaxValue))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[NumberFormatException]),
      s"expected the BEGIN parse error, got $e")
  }
}
