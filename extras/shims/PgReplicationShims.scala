// ==== COMPILE-ONLY SHIMS ==== (see PgJdbcShims.scala for the why)
package org.postgresql.replication

import java.util.concurrent.TimeUnit

/** Mirror of pgjdbc's LogSequenceNumber value type. */
final class LogSequenceNumber private (private val value: Long) {
  def asLong(): Long = value
}

object LogSequenceNumber {
  def valueOf(v: Long): LogSequenceNumber = new LogSequenceNumber(v)
}

/** Mirror of the replication API root returned by
  * PGConnection.getReplicationAPI. */
trait PGReplicationConnection {
  def replicationStream(): fluent.ChainedStreamBuilder
}

/** Mirror of pgjdbc's PGReplicationStream — the methods the adapter's
  * poll and ack use. */
trait PGReplicationStream {
  def readPending(): java.nio.ByteBuffer
  def getLastReceiveLSN: LogSequenceNumber
  def setFlushedLSN(lsn: LogSequenceNumber): Unit
  def setAppliedLSN(lsn: LogSequenceNumber): Unit
  def forceUpdateStatus(): Unit
  def close(): Unit
}

package fluent {
  trait ChainedStreamBuilder {
    // _root_ path: the method name `logical` would otherwise shadow
    // the subpackage in its own return-type position
    def logical(): _root_.org.postgresql.replication.fluent.logical
      .ChainedLogicalStreamBuilder
  }

  package logical {
    trait ChainedLogicalStreamBuilder {
      def withSlotName(name: String): ChainedLogicalStreamBuilder
      def withStatusInterval(interval: Int,
          unit: TimeUnit): ChainedLogicalStreamBuilder
      def withSlotOption(key: String,
          value: String): ChainedLogicalStreamBuilder
      def start(): PGReplicationStream
    }
  }
}
