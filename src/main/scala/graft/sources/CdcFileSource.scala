package graft.sources

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The schema of the CDC stream, and helpers over a WAL file that read
  * it with the transport's own line scanner. */
object CdcFileSource {
  /** payload + lsn + data_size, mirroring psycopg2's ReplicationMessage
    * envelope (payload, data_start, data_size), + begin_xid (the
    * test_decoding transaction carry, see [[CdcMicroBatchStream]]). */
  val Schema: StructType = StructType(Seq(
    StructField("payload", StringType, nullable = false),
    StructField("lsn", LongType, nullable = false),
    StructField("data_size", LongType, nullable = false),
    StructField("begin_xid", LongType, nullable = false)))

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

  /** Whether the current line starts with `BEGIN `. */
  def isBegin: Boolean = lineLen >= 6 && buf(lineOff) == 'B' &&
    buf(lineOff + 1) == 'E' && buf(lineOff + 2) == 'G' &&
    buf(lineOff + 3) == 'I' && buf(lineOff + 4) == 'N' &&
    buf(lineOff + 5) == ' '

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

/** Line → byte-offset index of a growing WAL file, kept by the file
  * transport on the driver: the byte where each line from `first` to `head`
  * starts (`head` = complete lines = the WAL head LSN), and the xid in
  * effect there: that of the last BEGIN line before it, -1 before any.
  * [[refresh]]
  * scans only the bytes appended since the last call, so a trigger
  * costs O(new bytes), not O(file); lines below the committed offset
  * are dropped ([[forget]]), so it holds O(uncommitted lines). A fresh
  * index (a restart) is built by one forward scan from byte 0, keeping
  * lines from the first one asked for.
  *
  * Every refresh first checks that the indexed prefix is still there:
  * same file (inode), not shorter, and the same bytes at the end of the
  * last indexed line. A WAL truncated or replaced under the live
  * stream fails through [[CdcSource.regressed]], even once it has regrown past the
  * indexed byte, instead of being read from a stale offset.
  */
private final class LineIndex(path: String) {
  private val file = Paths.get(path)
  private var first = 0L
  private var starts = new Array[Long](1024)
  private var xids = new Array[Long](1024)
  private var n = 0 // entries; starts(n - 1) is the start of line `head`
  private var xid = -1L // in effect at `head`
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
      CdcSource.regressed(s"$path changed under the stream: $size bytes, " +
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
        if (r.isBegin) xid = CdcSource.beginXid(r.line.toString)
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
  def byteOf(line: Long): Long = starts(entry(line))

  /** The xid in effect at `line`, -1 before any BEGIN; as [[byteOf]]. */
  def xidAt(line: Long): Long = xids(entry(line))

  private def entry(line: Long): Int = {
    if (!built || line < first) { reset(); refresh(keepFrom = line) }
    require(line <= head, s"line $line is past the WAL head $head")
    (line - first).toInt
  }

  /** Drop the lines below `line`: no batch will start there again. */
  def forget(line: Long): Unit =
    if (line > first && line <= head) {
      val k = (line - first).toInt
      System.arraycopy(starts, k, starts, 0, n - k)
      System.arraycopy(xids, k, xids, 0, n - k)
      n -= k
      first = line
    }

  private def reset(): Unit = {
    n = 0; head = 0L; headByte = 0L; xid = -1L
    built = false; tail = Array.emptyByteArray
  }

  private def append(b: Long): Unit = {
    if (n == starts.length) {
      starts = java.util.Arrays.copyOf(starts, n * 2)
      xids = java.util.Arrays.copyOf(xids, n * 2)
    }
    starts(n) = b
    xids(n) = xid
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

/** The tailed-file transport, the walsender stand-in: one payload
  * line per WAL message, and the line number IS the LSN (a totally
  * ordered, ever-growing position — same algebra as a Postgres LSN).
  * A line counts once its '\n' is written: a torn last line waits for
  * its newline, then is read once, whole.
  *
  * The [[LineIndex]] holds the start byte and the xid in effect for
  * every uncommitted line: each trigger scans only the bytes appended
  * since the last one, and each partition seeks to its start byte and
  * slices lines straight into the rows, so every WAL byte is read a
  * constant number of times however long the file grows. Rows carry
  * `begin_xid`, the xid of the last `BEGIN <xid>` line at or before
  * them (-1 before any; wal2json lines never start with `BEGIN `). The
  * ack appends the LSN to `<path>.feedback`; committed lines leave the
  * index even under peek.
  */
class FileTransport(path: String) extends CdcTransport {
  private val index = new LineIndex(path)

  override def name: String = s"cdc-file($path)"
  override def head(keepFrom: Long, floor: Long): Long =
    index.refresh(keepFrom)
  // saturating add: start + Long.MaxValue must not wrap negative, or
  // the offset oscillates and the engine schedules empty batches
  // forever (processAllAvailable never converges)
  override def end(start: Long, cap: Long, head: Long): Long =
    if (cap > head - start) head else start + cap
  override def xidAt(lsn: Long, known: LsnOffset): Long = index.xidAt(lsn)
  override def partition(start: LsnOffset, end: Long): InputPartition =
    CdcFilePartition(path, start.lsn, end, index.byteOf(start.lsn),
      index.byteOf(end), start.xid)
  override def readerFactory: PartitionReaderFactory = new CdcFileReaderFactory
  override def ack(lsn: Long): Unit =
    Files.write(Paths.get(path + ".feedback"),
      s"$lsn\n".getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  override def release(lsn: Long): Unit = index.forget(lsn)
}

/** Lines [start, end) of the WAL, which are its bytes
  * [startByte, endByte); `startXid` is the xid in effect at `start`. */
case class CdcFilePartition(path: String, start: Long, end: Long,
    startByte: Long, endByte: Long, startXid: Long) extends InputPartition

class CdcFileReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdcFilePartition]
    val lines = new WalLines(p.path, p.startByte, p.endByte)
    new PartitionReader[InternalRow] {
      private var lsn = p.start - 1
      private var xid = p.startXid
      private val row = new UnsafeRowWriter(4)
      override def next(): Boolean =
        if (lines.next()) {
          lsn += 1
          if (lines.isBegin) xid = CdcSource.beginXid(lines.line.toString)
          true
        }
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
        row.write(3, xid)
        row.getRow
      }
      override def close(): Unit = lines.close()
    }
  }
}
