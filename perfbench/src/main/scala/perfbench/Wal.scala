package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.SplittableRandom

import graft.core.PrimaryKeyMapItem

/** The generated database: tables, their primary keys and the job's
  * filters. Tables outside `public` fail the job's table pattern, and
  * deletes fail its operation allow-list, so both filters do work. */
object CdcSchema {
  final case class Table(schema: String, name: String, pkName: String,
      pkType: String, textPk: Boolean, pkPos: Int, weight: Int) {
    val full = s"$schema.$name"
    val delivered: Boolean = schema == "public"
  }
  val tables: Vector[Table] = Vector(
    Table("public", "users", "id", "integer", textPk = false, 0, 30),
    Table("public", "orders", "order_id", "bigint", textPk = false, 1, 25),
    Table("public", "items", "sku", "character varying", textPk = true, 1, 20),
    Table("public", "events", "event_id", "bigint", textPk = false, 0, 10),
    Table("audit", "log", "id", "integer", textPk = false, 0, 10),
    Table("pgq", "queue", "id", "integer", textPk = false, 0, 5))
  val tablePat = "^public\\."
  val ops: Vector[String] = Vector("insert", "update", "delete")
  val allowedOps: Seq[String] = Seq("insert", "update")
  private val totalWeight = tables.map(_.weight).sum

  def catalogItems: Seq[PrimaryKeyMapItem] =
    tables.map(t => PrimaryKeyMapItem(t.full, t.pkName, t.pkType, t.pkPos + 1))

  def pickTable(r: SplittableRandom): Int = {
    var x = r.nextInt(totalWeight)
    var i = 0
    while (x >= tables(i).weight) { x -= tables(i).weight; i += 1 }
    i
  }
  /** 50% insert, 30% update, 20% delete. */
  def pickOp(r: SplittableRandom): Int = {
    val x = r.nextInt(10)
    if (x < 5) 0 else if (x < 8) 1 else 2
  }
  def note(r: SplittableRandom): String = {
    val n = r.nextInt(160)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      sb.append(if (r.nextInt(6) == 0) ' ' else ('a' + r.nextInt(26)).toChar)
      i += 1
    }
    sb.toString
  }
}

/** Every change the generator wrote, indexed by its sequence number,
  * which is also its primary-key value (unique across tables). */
final class ChangeLog {
  private def grow(a: Array[Long], n: Int) =
    if (n < a.length) a else java.util.Arrays.copyOf(a, a.length * 2)
  private var lsns = new Array[Long](1 << 16)
  private var xids = new Array[Long](1 << 16)
  private var meta = new Array[Long](1 << 16) // table << 8 | op
  private var stamps = new Array[Long](1 << 16)
  @volatile var size = 0

  def add(lsn: Long, xid: Long, table: Int, op: Int, created: Long): Int = {
    val i = size
    lsns = grow(lsns, i); xids = grow(xids, i)
    meta = grow(meta, i); stamps = grow(stamps, i)
    lsns(i) = lsn; xids(i) = xid; meta(i) = (table << 8 | op).toLong
    stamps(i) = created
    size = i + 1
    i
  }
  def lsn(i: Int): Long = lsns(i)
  def xid(i: Int): Long = xids(i)
  def table(i: Int): CdcSchema.Table = CdcSchema.tables((meta(i) >> 8).toInt)
  def op(i: Int): String = CdcSchema.ops((meta(i) & 0xff).toInt)
  def created(i: Int): Long = stamps(i)
  def delivered(i: Int): Boolean =
    table(i).delivered && CdcSchema.allowedOps.contains(op(i))

  def pkValue(i: Int): String = if (table(i).textPk) s"k$i" else i.toString
  /** Independent CSVPayload formatter: `0,CDC,{"xid":..,"table":..,
    * "operation":..,"pkey":..}` as the job must emit it. Generated
    * names and values need no JSON escaping. */
  def expected(i: Int, opText: String): String =
    s"""0,CDC,{"xid":${xid(i)},"table":"${table(i).full}",""" +
      s""""operation":"$opText","pkey":"${pkValue(i)}"}"""
}

/** Seeded wal2json backlog: one transaction per line, 1..maxChanges
  * changes each, across all tables, with mixed operations and value
  * widths. The line index is the LSN the file source assigns. */
object Wal2JsonGen {
  def write(path: Path, seed: Long, changes: Int, maxChanges: Int,
      log: ChangeLog): Long = {
    val r = new SplittableRandom(seed)
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(path), StandardCharsets.UTF_8), 1 << 20)
    var line = 0L
    var xid = 1000L + r.nextInt(1000)
    val t0 = System.nanoTime()
    try {
      while (log.size < changes) {
        val k = math.min(1 + r.nextInt(maxChanges), changes - log.size)
        w.write(s"""{"xid": $xid, "change": [""")
        var c = 0
        while (c < k) {
          val ti = CdcSchema.pickTable(r)
          val op = CdcSchema.pickOp(r)
          val t = CdcSchema.tables(ti)
          val i = log.add(line, xid, ti, op, System.nanoTime())
          val pk = if (t.textPk) s""""k$i"""" else i.toString
          val stamp = (log.created(i) - t0) / 1000
          val names = Array("\"note\"", "\"created_us\"")
          val types = Array("\"text\"", "\"bigint\"")
          val values = Array("\"" + CdcSchema.note(r) + "\"", stamp.toString)
          val (n, ty, v) = if (t.pkPos == 0)
            (s"\"${t.pkName}\"" +: names, s"\"${t.pkType}\"" +: types, pk +: values)
          else (names.patch(1, Seq(s"\"${t.pkName}\""), 0),
            types.patch(1, Seq(s"\"${t.pkType}\""), 0), values.patch(1, Seq(pk), 0))
          if (c > 0) w.write(", ")
          w.write(s"""{"kind": "${CdcSchema.ops(op)}", "schema": "${t.schema}", """ +
            s""""table": "${t.name}", "columnnames": [${n.mkString(", ")}], """ +
            s""""columntypes": [${ty.mkString(", ")}], """ +
            s""""columnvalues": [${v.mkString(", ")}]}""")
          c += 1
        }
        w.write("]}\n")
        line += 1
        xid += 1
      }
    } finally w.close()
    line
  }
}

/** Open-loop test_decoding generator: a thread that appends
  * transactions (BEGIN / `table ...` / COMMIT) at a fixed rate on a
  * schedule that does not slow down when the job does. Each change is
  * stamped with the time its transaction was due.
  *
  * Appends never cross a 4 KiB page boundary: a reader can see a
  * multi-page write half done, which the file source would read as a
  * torn last line. A line that does not fit in the page is preceded
  * by a filler line the pipeline ignores as noise. */
final class TestDecodingGen(path: Path, seed: Long, txPerSec: Double,
    val log: ChangeLog) extends Thread("perfbench-wal-gen") {
  setDaemon(true)
  private val Page = 4096
  private val r = new SplittableRandom(seed)
  @volatile private var stopping = false
  @volatile var lateMaxMs = 0.0
  @volatile var lines = 0L
  @volatile var startNs = 0L
  /** CPU seconds the generator itself used, known once it finished. */
  @volatile var cpuS = 0.0
  private var xid = 1000L + r.nextInt(1000)
  private var fileOff = 0L
  private val ch = FileChannel.open(path, StandardOpenOption.CREATE,
    StandardOpenOption.WRITE, StandardOpenOption.APPEND)

  def finish(): Unit = { stopping = true; join() }

  private def render(ti: Int, op: Int, i: Int, createdNs: Long): String = {
    val t = CdcSchema.tables(ti)
    val pk = if (t.textPk) s"${t.pkName}[${t.pkType}]:'k$i'"
      else s"${t.pkName}[${t.pkType}]:$i"
    val rest = Seq(s"note[text]:'${CdcSchema.note(r)}'",
      s"created_us[bigint]:${(createdNs - startNs) / 1000}")
    val cols = if (t.pkPos == 0) pk +: rest else rest.patch(1, Seq(pk), 0)
    s"table ${t.full}: ${CdcSchema.ops(op).toUpperCase}: ${cols.mkString(" ")}"
  }

  override def run(): Unit = {
    startNs = System.nanoTime()
    val periodNs = 1e9 / txPerSec
    var sent = 0L
    val buf = new java.io.ByteArrayOutputStream(1 << 14)
    try {
      while (!stopping) {
        val now = System.nanoTime()
        val due = ((now - startNs) / periodNs).toLong + 1
        if (due > sent) {
          lateMaxMs = math.max(lateMaxMs, (now - startNs - sent * periodNs) / 1e6)
          buf.reset()
          var lineNo = lines
          def emit(s: String): Unit = {
            val b = (s + "\n").getBytes(StandardCharsets.UTF_8)
            val room = Page - ((fileOff + buf.size()) % Page).toInt
            if (b.length > room) {
              val fill = new Array[Byte](room)
              java.util.Arrays.fill(fill, '#'.toByte)
              fill(room - 1) = '\n'
              buf.write(fill); lineNo += 1
            }
            buf.write(b); lineNo += 1
          }
          while (sent < due) {
            // open loop: a change is created when its transaction is
            // due, so a stalled writer still counts against latency
            val dueNs = startNs + (sent * periodNs).toLong
            emit(s"BEGIN $xid")
            val k = 1 + r.nextInt(3)
            var c = 0
            while (c < k) {
              val ti = CdcSchema.pickTable(r)
              val op = CdcSchema.pickOp(r)
              emit(render(ti, op, log.size, dueNs))
              // the change line is the last line emit wrote
              log.add(lineNo - 1, xid, ti, op, dueNs)
              c += 1
            }
            emit(s"COMMIT $xid")
            xid += 1
            sent += 1
          }
          val bytes = buf.toByteArray
          var pos = 0
          while (pos < bytes.length) {
            val n = math.min(bytes.length - pos, Page - (fileOff % Page).toInt)
            ch.write(ByteBuffer.wrap(bytes, pos, n))
            pos += n; fileOff += n
          }
          lines = lineNo
        } else {
          val next = startNs + (sent * periodNs).toLong
          java.util.concurrent.locks.LockSupport.parkNanos(
            math.max(20000L, math.min(next - now, 200000L)))
        }
      }
    } finally { ch.close(); cpuS = Main.threadCpuS }
  }

}

object TestDecodingGen {
  /** A transaction on a table the job filters out. */
  def fence(path: Path, xid: Long): Unit =
    Files.write(path, s"BEGIN $xid\ntable audit.log: INSERT: id[integer]:0\nCOMMIT $xid\n"
      .getBytes(StandardCharsets.UTF_8), StandardOpenOption.APPEND)
}
