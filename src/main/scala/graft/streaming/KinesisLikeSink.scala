package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** Kinesis-shaped ordered sink (operators A1/A2/K1, SURVEY.md §2.1):
  * size-bounded record aggregation (the KPL 1 MB packing,
  * reference stream.py:16,36-44), a single ordered delivery lane
  * (reference: 1 shard + SequenceNumberForOrdering, stream.py:15-20),
  * and bounded exponential-backoff retry on throughput errors
  * (reference stream.py:46-74).
  *
  * The flush timer (A2, 13 s) is subsumed by the micro-batch trigger:
  * every batch flushes its partial aggregate at batch end, so
  * `Trigger.ProcessingTime("13 seconds")` reproduces the reference's
  * cadence exactly.
  *
  * Total order through a system built to reorder: the batch is
  * coalesced to ONE partition and read in source order, which is LSN
  * order (a decrease fails the batch) — the same single-lane
  * constraint the reference lives with (its throughput bound is
  * likewise one shard). The put client is pluggable; the AWS
  * client drops in where LocalFilePutClient stands.
  *
  * Retry stays INSIDE the task (not Spark task retry, which would
  * re-put the whole batch — SURVEY.md §4).
  */
trait PutClient extends Serializable {
  /** Deliver one aggregated record, the `seq`-th (from 0) of the
    * current (batch, lane). May throw ThrottlingException. */
  def put(seq: Long, data: Array[Byte]): Unit
  /** Number of records already delivered. The writer no longer calls
    * it: sequence numbers restart at every (batch, lane). */
  def deliveredCount(): Long
  /** Called once per micro-batch before any put, with the foreachBatch
    * batchId. Clients that can key deliveries on (batchId, position)
    * use it to make foreachBatch REPLAYS idempotent (a re-run of the
    * same batch overwrites byte-identical records instead of appending
    * duplicates). Default no-op: real Kinesis has no such key, so the
    * AWS path keeps the reference's at-least-once contract
    * (README.rst:15-18) unchanged. */
  def beginBatch(batchId: Long): Unit = ()
  /** Multi-lane variant: called before the puts of one (batch, lane) —
    * a lane is one ordered delivery sequence (one Kinesis shard). The
    * default ignores the lane (single-shard clients); lane-aware
    * clients use it to key deliveries on (batchId, lane, position) so
    * concurrent lane tasks never collide and replays stay idempotent
    * per lane. */
  def beginBatch(batchId: Long, lane: Int): Unit = beginBatch(batchId)
}

class ThrottlingException(msg: String) extends RuntimeException(msg)

/** Kinesis "stream already exists" analog (boto3
  * ResourceInUseException, reference stream.py:21-25). */
class ResourceInUseException(msg: String) extends RuntimeException(msg)

/** S4 sink DDL seam: what `boto3.client('kinesis')` provides of the
  * stream lifecycle — create and describe. The AWS client drops in
  * where spec fakes stand. */
trait StreamLifecycle {
  /** Create the stream (reference: ShardCount=1); must throw
    * [[ResourceInUseException]] when it already exists. */
  def createStream(name: String): Unit
  /** Current stream status (CREATING/ACTIVE/...), None if absent. */
  def streamStatus(name: String): Option[String]
}

object StreamLifecycle {
  /** Reference stream.py:19-30: create the stream tolerating
    * already-exists, then the boto3 `stream_exists` waiter — poll
    * every 10 s for up to 18 attempts (180 s) until the stream is
    * ACTIVE, else time out. The sleeper is injected so specs prove the
    * waiter's schedule without real waiting. */
  def ensureActive(lc: StreamLifecycle, name: String,
      pollMillis: Long = 10000L, maxAttempts: Int = 18,
      sleep: Long => Unit = Thread.sleep): Unit = {
    try lc.createStream(name)
    catch { case _: ResourceInUseException => () }
    var attempt = 0
    while (attempt < maxAttempts) {
      if (lc.streamStatus(name).contains("ACTIVE")) return
      attempt += 1
      if (attempt < maxAttempts) sleep(pollMillis)
    }
    throw new java.util.concurrent.TimeoutException(
      s"stream $name not ACTIVE after ${pollMillis * (maxAttempts - 1)} ms")
  }
}

/** Local-filesystem stand-in for the Kinesis shard: one file per
  * aggregated record, keyed `rec-<batchId>-<posInBatch>` (or
  * `rec-<batchId>-L<lane>-<posInBatch>`) — a foreachBatch REPLAY of the
  * same batch regenerates the same (deterministically ordered) records
  * and overwrites the same paths with identical bytes, so replays are
  * idempotent on this client (the real-Kinesis path stays
  * at-least-once; see PutClient.beginBatch). A put before any
  * [[beginBatch]] fails. failFirstAttemptEvery injects a
  * ThrottlingException on the first attempt of every Nth position of
  * a (batch, lane) to exercise the backoff path. */
class LocalFilePutClient(dir: String, failFirstAttemptEvery: Int = 0)
    extends PutClient {
  // Task-local (the client is serialized into each foreachPartition
  // closure); one task owns each (batch, lane) position sequence.
  private var curBatch: Long = -1L
  private var curLane: Int = -1
  private var posInBatch: Long = 0L
  override def beginBatch(batchId: Long): Unit = {
    curBatch = batchId
    curLane = -1
    posInBatch = 0L
  }
  override def beginBatch(batchId: Long, lane: Int): Unit = {
    curBatch = batchId
    curLane = lane
    posInBatch = 0L
  }
  override def put(seq: Long, data: Array[Byte]): Unit = {
    if (curBatch < 0)
      throw new IllegalStateException(s"put of record $seq before beginBatch")
    if (failFirstAttemptEvery > 0 && posInBatch % failFirstAttemptEvery == 0 &&
        LocalFilePutClient.attempted.putIfAbsent(
          s"$dir/$curBatch/$curLane/$posInBatch", true) == null) {
      throw new ThrottlingException(
        s"injected throttle for batch $curBatch lane $curLane position $posInBatch")
    }
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val name =
      if (curLane >= 0) f"rec-$curBatch%09d-L$curLane%04d-$posInBatch%06d"
      else f"rec-$curBatch%09d-$posInBatch%06d"
    Files.write(d.resolve(name), data)
    posInBatch += 1
  }
  override def deliveredCount(): Long = {
    val d = Paths.get(dir)
    if (!Files.exists(d)) 0L
    else {
      // Files.list must be closed or the directory stream's file
      // handle leaks (one per micro-batch per sink).
      val s = Files.list(d)
      try s.count() finally s.close()
    }
  }
}

object LocalFilePutClient {
  private val attempted = new ConcurrentHashMap[String, java.lang.Boolean]()
}

/** Size-bounded aggregation buffer — the KPL RecordAggregator
  * (reference stream.py:16,32-44), emitting the genuine KPL
  * aggregated-record wire bytes (see KplAggregate) with
  * partition_key = str(xid) per user record, exactly like the
  * reference's `add_user_record(str(change.xid), data)`. */
class RecordAggregator(maxBytes: Int) {
  private var entries =
    scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
  private var est = 20 // magic + md5 framing

  /** Add one record; returns a full aggregate if adding would
    * overflow the size bound (caller sends it, then the record goes
    * into the fresh buffer). */
  def add(partitionKey: String, record: Array[Byte]): Option[Array[Byte]] = {
    val cost = KplAggregate.recordOverhead(partitionKey, record.length)
    val full =
      if (entries.nonEmpty && est + cost > maxBytes) Some(clearAndGet())
      else None
    entries += ((partitionKey, record))
    est += cost
    full
  }

  def clearAndGet(): Array[Byte] = {
    val out = KplAggregate.encode(entries.toSeq)
    entries = scala.collection.mutable.ArrayBuffer.empty
    est = 20
    out
  }

  def nonEmpty: Boolean = entries.nonEmpty
}

class OrderedAggregatingWriter(client: PutClient,
    maxAggBytes: Int = 1 << 20,
    backoffBaseMs: Long = 50,
    backoffLimitMs: Long = 60000,
    lanes: Int = 1) extends Serializable {

  /** foreachBatch body: ordered delivery lanes, KPL-style packing,
    * in-task bounded backoff. Null fmt_msg rows (operation-gated,
    * F2) flow through without contributing records — preserving the
    * reference's "filtered messages still tick the batcher" cadence.
    *
    * lanes = 1 (default) is the reference's contract verbatim: ONE
    * shard, TOTAL WAL order (stream.py:15-20). The batch's planned
    * rows (`foreachBatch` hands over a Dataset over its RDD) coalesce
    * to one task and are read in source order, which is LSN order: the
    * stream plans one partition per batch and every transform after
    * the source keeps order. The loop checks it: an LSN below the one
    * before it fails the batch with an IllegalStateException naming
    * both, so a misordered batch is never delivered silently. A shuffle
    * on this path would need an LSN sort.
    *
    * lanes > 1 is the engine's horizontal scale-out past the
    * reference's one-shard throughput cap
    * (ARCHITECTURE.md "per-key lanes"): the ordering contract weakens
    * to PER-KEY — every record of one partition key (xid,
    * stream.py:36) lands on one deterministic lane (hash(xid) mod
    * lanes ≡ Kinesis's own key→shard routing) and is delivered in LSN
    * order with lane-local sequence numbers, while distinct keys ride
    * `lanes` parallel tasks. Exactly the semantics a multi-shard
    * Kinesis stream gives a consumer: ordered within a partition key,
    * unordered across keys. Sequence numbers count from 0 in every
    * (batch, lane). */
  def writeBatch(batch: DataFrame, batchId: Long): Unit = {
    val c = client
    val maxB = maxAggBytes
    val base = backoffBaseMs
    val limit = backoffLimitMs
    val routed =
      if (lanes <= 1) batch
      else batch.select(col("lsn"), col("fmt_msg"), col("xid"),
          // pmod, not abs(hash)%n: abs(Long.MinValue) stays negative
          pmod(xxhash64(col("xid")), lit(lanes)).cast("int").as("__lane"))
        // hash-repartition ON the lane id: all records of a lane
        // (hence of a key) land in one task; a task may own several
        // lanes (hash(lane) mod lanes is not identity), so the
        // per-partition loop below re-groups on the lane boundary
        .repartition(lanes, col("__lane"))
        .sortWithinPartitions("__lane", "lsn")
    val schema = routed.schema
    def field(name: String, t: DataType): Int = {
      val i = schema.fieldIndex(name)
      require(schema(i).dataType == t,
        s"sink column $name must be $t, got ${schema(i).dataType}")
      i
    }
    val lsnAt = field("lsn", LongType)
    val msgAt = field("fmt_msg", StringType)
    val xidAt = field("xid", LongType)
    val laneAt = if (lanes <= 1) -1 else schema.fieldIndex("__lane")
    val rows = routed.queryExecution.toRdd
    (if (lanes <= 1) rows.coalesce(1) else rows).foreachPartition {
      (it: Iterator[InternalRow]) =>
        var agg: RecordAggregator = null
        var seq = 0L
        var curLane = Int.MinValue
        var lastLsn = Long.MinValue
        def send(data: Array[Byte]): Unit = {
          var backoff = base
          var waited = 0L
          var done = false
          while (!done) {
            try { c.put(seq, data); done = true }
            catch {
              case e: ThrottlingException =>
                if (waited >= limit) throw e
                Thread.sleep(backoff)
                waited += backoff
                backoff = math.min(backoff * 2, limit)
            }
          }
          seq += 1
        }
        it.foreach { r =>
          val lane = if (laneAt < 0) -1 else r.getInt(laneAt)
          if (lane != curLane) {
            // lane boundary (or first row): flush the previous lane's
            // partial aggregate, then open the new lane's sequence
            if (agg != null && agg.nonEmpty) send(agg.clearAndGet())
            curLane = lane
            agg = new RecordAggregator(maxB)
            if (lane >= 0) c.beginBatch(batchId, lane) else c.beginBatch(batchId)
            seq = 0L
            lastLsn = Long.MinValue
          }
          val lsn = r.getLong(lsnAt)
          if (lsn < lastLsn)
            throw new IllegalStateException(s"batch $batchId: LSN $lsn " +
              s"follows LSN $lastLsn; the ordered sink needs rows in LSN order")
          lastLsn = lsn
          if (!r.isNullAt(msgAt)) {
            if (r.isNullAt(xidAt))
              throw new NullPointerException(s"batch $batchId: null xid at LSN $lsn")
            // partition key = str(xid), reference stream.py:36
            agg.add(String.valueOf(r.getLong(xidAt)),
              r.getUTF8String(msgAt).getBytes).foreach(send)
          }
        }
        if (agg != null && agg.nonEmpty) send(agg.clearAndGet())
    }
  }
}
