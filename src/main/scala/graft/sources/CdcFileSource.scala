package graft.sources

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** "cdc-file": a DataSourceV2 MicroBatchStream with the exact contract
  * of the reference's replication-slot source (S1/K2/K3, SURVEY.md
  * §2.1), backed by a tailed text file instead of a walsender socket:
  *
  *  - one payload line per WAL message; the line number IS the LSN
  *    (a totally ordered, ever-growing position — same algebra as a
  *    Postgres LSN). A line counts once its '\n' is written: a torn
  *    last line waits for its newline, then is read once, whole,
  *  - the stream keeps a line → byte-offset index ([[LineIndex]]):
  *    each trigger scans only the bytes appended since the last one,
  *    each partition seeks to its start byte and slices lines straight
  *    into the rows, so every WAL byte is read a constant number of
  *    times however long the file grows,
  *  - offsets are LSN ranges; Structured Streaming's checkpoint plays
  *    the role of the client-side restart position,
  *  - `commit(end)` — invoked by the engine only after the epoch is
  *    durably committed — appends the LSN to a `.feedback` file: the
  *    analog of `send_feedback(flush_lsn=...)` (reference
  *    __main__.py:101-104). Crash before commit ⇒ replay ⇒ the same
  *    at-least-once contract (reference README.rst:15-18),
  *  - `maxRecordsPerTrigger` caps each micro-batch (K3 backpressure:
  *    unread lines simply stay in the file, as unread WAL stays in
  *    the slot).
  *
  * A production Postgres source swaps the file tail for a replication
  * connection and keeps every interface here; nothing downstream
  * changes.
  */
class CdcFileSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcFileSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CdcFileTable(properties.get("path"),
      Option(properties.get("maxRecordsPerTrigger")).map(_.toLong)
        .getOrElse(Long.MaxValue),
      Option(properties.get("peek")).exists(_.toBoolean))
  override def supportsExternalMetadata(): Boolean = true
}

object CdcFileSource {
  /** payload + lsn + data_size, mirroring psycopg2's ReplicationMessage
    * envelope (payload, data_start, data_size). */
  val Schema: StructType = StructType(Seq(
    StructField("payload", StringType, nullable = false),
    StructField("lsn", LongType, nullable = false),
    StructField("data_size", LongType, nullable = false)))

  /** Number of '\n'-terminated lines (LSNs) in the file: one forward
    * scan of its bytes, nothing decoded. A last line still missing its
    * newline is not counted. */
  def lineCount(path: String): Long = {
    if (!Files.exists(Paths.get(path))) return 0L
    val r = new WalLines(path, 0L, Long.MaxValue)
    try {
      var n = 0L
      while (r.next()) n += 1
      n
    } finally r.close()
  }

  /** Stream lines [start, end) as Strings: one forward scan, decoding
    * only the lines returned. */
  def lineRange(path: String, start: Long, end: Long)
      : (Iterator[String], AutoCloseable) = {
    if (!Files.exists(Paths.get(path)) || end <= start)
      return (Iterator.empty, () => ())
    val r = new WalLines(path, 0L, Long.MaxValue)
    var skipped = 0L
    while (skipped < start && r.next()) skipped += 1
    var left = end - start
    val it = Iterator.continually(r).takeWhile(_ => left > 0 && r.next())
      .map { _ => left -= 1; r.line.toString }
    (it, r)
  }
}

/** Forward reader of the '\n'-terminated lines that start in the byte
  * range [from, until) of a file — the one scanner behind the offset
  * index, the partition reader and the helpers above. A line is the
  * bytes before its '\n', less one '\r' just before it (so CRLF
  * lines read as BufferedReader.readLine reads them); bytes after the
  * last '\n' are a torn line still being written and are not
  * returned. [[line]] is a view into a reused buffer, valid until the
  * next [[next]].
  */
final class WalLines(path: String, from: Long, until: Long)
    extends AutoCloseable {
  private val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
  private var buf =
    new Array[Byte](math.min(1L << 18, math.max(until - from, 1L << 12)).toInt)
  private var bufPos = from // file position of buf(0)
  private var start = 0     // first byte of the next line in buf
  private var scanned = 0   // buf[start, scanned) holds no '\n'
  private var lim = 0       // bytes read into buf
  private var lineLen = 0
  private var lineOff = 0

  /** Advance to the next complete line; false when none is left. */
  def next(): Boolean = {
    while (true) {
      var i = scanned
      while (i < lim && buf(i) != '\n') i += 1
      if (i < lim) {
        lineOff = start
        lineLen = if (i > start && buf(i - 1) == '\r') i - 1 - start
          else i - start
        start = i + 1
        scanned = start
        return true
      }
      scanned = lim
      if (!fill()) return false
    }
    false
  }

  /** The current line's bytes. */
  def line: UTF8String = UTF8String.fromBytes(buf, lineOff, lineLen)

  /** File position just past the current line's '\n'. */
  def lineEnd: Long = bufPos + start

  private def fill(): Boolean = {
    if (bufPos + lim >= until) return false
    if (start > 0) { // keep only the partial line
      System.arraycopy(buf, start, buf, 0, lim - start)
      bufPos += start; lim -= start; scanned -= start; start = 0
    }
    if (lim == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    val want = math.min(buf.length - lim, until - (bufPos + lim)).toInt
    val n = ch.read(ByteBuffer.wrap(buf, lim, want), bufPos + lim)
    if (n <= 0) return false
    lim += n
    true
  }

  override def close(): Unit = ch.close()
}

/** Line → byte-offset index of a growing WAL file, kept by the stream
  * on the driver: the byte where each line from `first` to `head`
  * starts (`head` = complete lines = the WAL head LSN). [[refresh]]
  * scans only the bytes appended since the last call, so a trigger
  * costs O(new bytes), not O(file); lines below the committed offset
  * are dropped ([[forget]]), so it holds O(uncommitted lines). A fresh
  * index (a restart) is built by one forward scan from byte 0, keeping
  * lines from the first one asked for.
  *
  * Every refresh first checks that the indexed prefix is still there:
  * same file (inode), not shorter, and the same bytes at the end of the
  * last indexed line. A WAL truncated or replaced under the live
  * stream fails through `regressed`, even once it has regrown past the
  * indexed byte, instead of being read from a stale offset.
  */
private final class LineIndex(path: String, regressed: String => Nothing) {
  private val file = Paths.get(path)
  private var first = 0L
  private var starts = new Array[Long](1024)
  private var n = 0 // entries; starts(n - 1) is the start of line `head`
  private var head = 0L
  private var headByte = 0L
  private var built = false
  private var fileKey: AnyRef = null
  private var tail = Array.emptyByteArray // bytes just before headByte

  /** Index the complete lines appended since the last call; returns
    * the head (number of complete lines). A fresh index keeps the lines
    * from `keepFrom` on. */
  def refresh(keepFrom: Long): Long = {
    val attrs =
      try Files.readAttributes(file, classOf[BasicFileAttributes])
      catch { case _: java.nio.file.NoSuchFileException => null }
    val size = if (attrs == null) 0L else attrs.size()
    val key = if (attrs == null) null else attrs.fileKey()
    if (built && headByte > 0 && (size < headByte || key != fileKey ||
        !read(tail.length).sameElements(tail)))
      regressed(s"$path changed under the stream: $size bytes, " +
        s"$headByte indexed through line $head")
    if (!built) {
      built = true
      first = keepFrom
      if (first == 0L) append(0L)
    }
    fileKey = key
    if (size > headByte) {
      val r = new WalLines(path, headByte, size)
      try while (r.next()) {
        head += 1
        headByte = r.lineEnd
        if (head >= first) append(headByte)
      } finally r.close()
      tail = read(math.min(64L, headByte).toInt)
    }
    head
  }

  /** Byte where `line` starts, for first <= line <= head; an index
    * that has dropped `line` is rebuilt from byte 0. */
  def byteOf(line: Long): Long = {
    if (!built || line < first) { reset(); refresh(keepFrom = line) }
    require(line <= head, s"line $line is past the WAL head $head")
    starts((line - first).toInt)
  }

  /** Drop the lines below `line`: no batch will start there again. */
  def forget(line: Long): Unit =
    if (line > first && line <= head) {
      val k = (line - first).toInt
      System.arraycopy(starts, k, starts, 0, n - k)
      n -= k
      first = line
    }

  private def reset(): Unit = {
    n = 0; head = 0L; headByte = 0L
    built = false; tail = Array.emptyByteArray
  }

  private def append(b: Long): Unit = {
    if (n == starts.length) starts = java.util.Arrays.copyOf(starts, n * 2)
    starts(n) = b
    n += 1
  }

  private def read(len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    if (len == 0) return out
    val ch = FileChannel.open(file, StandardOpenOption.READ)
    try {
      val bb = ByteBuffer.wrap(out)
      while (bb.hasRemaining &&
        ch.read(bb, headByte - len + bb.position()) > 0) ()
    } finally ch.close()
    out
  }
}

class CdcFileTable(path: String, maxPerTrigger: Long,
    peek: Boolean = false)
    extends Table with SupportsRead {
  override def name(): String = s"cdc-file($path)"
  override def schema(): StructType = CdcFileSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = CdcFileSource.Schema
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream =
        new CdcFileMicroBatchStream(path, maxPerTrigger, peek)
    }
}

case class LsnOffset(lsn: Long) extends Offset {
  override def json(): String = s"""{"lsn":$lsn}"""
}

class CdcFileMicroBatchStream(path: String, maxPerTrigger: Long,
    peek: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl {
  // The highest offset this stream instance has admitted or planned:
  // the WAL must still hold it (guardRegression), and a latestOffset()
  // with no start counts from it.
  private var lastPlanned: Long = -1L
  // Highest offset restored from the checkpoint log (deserializeOffset
  // runs during recovery): the engine has durably planned/committed up
  // to here, so the WAL head may NEVER be below it — see guardRegression.
  private var restoredFloor: Long = 0L

  /** Fail-fast on WAL regression (slot recreated / WAL file replaced
    * under a live checkpoint). Without this the source would sit on
    * empty batches until the NEW WAL grows past the old offset and
    * then silently skip its first `floor` records — data loss wearing
    * a clean progress log. The reference has the same failure mode
    * (a recreated slot restarts at a fresh restart_lsn and its
    * checkpointless client just follows); with a durable checkpoint
    * the only safe move is to halt and make the operator choose:
    * fresh checkpoint, or stop recreating slots under running jobs. */
  private def guardRegression(head: Long, floor: Long): Unit =
    if (head < floor)
      regressed(s"head=$head < checkpointed/planned=$floor for $path")

  private def regressed(detail: String): Nothing =
    throw new IllegalStateException(s"WAL position regressed: $detail — " +
      "the slot/WAL was dropped or recreated while this checkpoint " +
      "exists. Restart with a FRESH checkpoint to consume the recreated " +
      "slot from its new origin.")

  private val index = new LineIndex(path, regressed)

  override def initialOffset(): Offset = LsnOffset(0L)

  override def getDefaultReadLimit: ReadLimit =
    if (maxPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxPerTrigger)

  override def latestOffset(): Offset =
    latestOffset(null, getDefaultReadLimit)

  /** The engine passes the batch's start, which after a restart is the
    * checkpointed offset, so a capped first batch counts from there. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val base = start match {
      case LsnOffset(lsn) => lsn
      case null => math.max(lastPlanned, 0L)
      case other => deserializeOffset(other.json).asInstanceOf[LsnOffset].lsn
    }
    val cap = limit match {
      case m: ReadMaxRows => m.maxRows
      case _ => Long.MaxValue
    }
    val floor = math.max(math.max(base, lastPlanned), restoredFloor)
    val total = index.refresh(keepFrom = floor)
    guardRegression(total, floor)
    // saturating add: base + Long.MaxValue must not wrap negative, or
    // the offset oscillates and the engine schedules empty batches
    // forever (processAllAvailable never converges)
    val admitted = if (cap > total - base) total else base + cap
    lastPlanned = math.max(lastPlanned, admitted)
    LsnOffset(admitted)
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LsnOffset].lsn
    val e = end.asInstanceOf[LsnOffset].lsn
    // Restart-replan of a planned-but-uncommitted batch, or a start
    // restored from the checkpoint (either beyond anything THIS stream
    // instance planned): the WAL must still hold every line of it. In
    // steady state latestOffset just indexed and guarded the same head.
    val last = math.max(s, e)
    if (last > lastPlanned) {
      guardRegression(index.refresh(keepFrom = s), last)
      lastPlanned = last // keep the admission tracker consistent
    }
    if (e <= s) Array.empty
    else Array(CdcFilePartition(path, s, e, index.byteOf(s), index.byteOf(e)))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcFileReaderFactory

  /** The 2-phase-commit ack: only after the engine has durably
    * committed the epoch does the slot learn it may discard WAL.
    * Note the engine invokes this while constructing the NEXT batch,
    * so feedback trails the sink by one epoch — a conservative lag
    * that can only cause replay, never loss (at-least-once preserved,
    * same contract as the reference's post-put send_feedback). */
  override def commit(end: Offset): Unit = {
    val lsn = end.asInstanceOf[LsnOffset].lsn
    index.forget(lsn)
    // peek mode (pg_logical_slot_peek_changes parity): consume without
    // acking — the slot's restart pointer never advances, so a later
    // real run replays everything from the same position
    if (peek) { PgReplicationSource.logPeeked(lsn); return }
    Files.write(Paths.get(path + ".feedback"),
      s"$lsn\n".getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    // reference __main__.py:103-104: every feedback ack logs its LSN
    PgReplicationSource.logFlushed(lsn)
  }

  override def deserializeOffset(json: String): Offset = {
    val lsn = json.replaceAll("[^0-9]", "").toLong
    // recovery path: remember the checkpoint's horizon for the
    // regression guard
    if (lsn > restoredFloor) restoredFloor = lsn
    LsnOffset(lsn)
  }

  override def stop(): Unit = ()
}

/** Lines [start, end) of the WAL, which are its bytes
  * [startByte, endByte). */
case class CdcFilePartition(path: String, start: Long, end: Long,
    startByte: Long, endByte: Long) extends InputPartition

class CdcFileReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdcFilePartition]
    val lines = new WalLines(p.path, p.startByte, p.endByte)
    new PartitionReader[InternalRow] {
      private var lsn = p.start - 1
      private val row = new UnsafeRowWriter(3)
      override def next(): Boolean =
        if (lines.next()) { lsn += 1; true }
        else if (lsn + 1 == p.end) false
        else throw new IllegalStateException(s"${p.path} changed under " +
          s"a planned batch: lines [${p.start}, ${p.end}) at bytes " +
          s"[${p.startByte}, ${p.endByte}) ended at line ${lsn + 1}")
      // the payload bytes go straight from the file buffer into the row
      override def get(): InternalRow = {
        val payload = lines.line
        row.reset()
        row.zeroOutNullBytes()
        row.write(0, payload)
        row.write(1, lsn)
        row.write(2, payload.numBytes.toLong)
        row.getRow
      }
      override def close(): Unit = lines.close()
    }
  }
}
