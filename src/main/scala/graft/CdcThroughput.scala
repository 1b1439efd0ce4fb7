package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CDC end-to-end throughput probe — a development instrument (not
  * part of the driver contract), the "matches-or-beats the
  * reference's single-node throughput" evidence. Generates N wal2json
  * changes into a WAL dump, runs the FULL production pipeline
  * (file transport → parse → PK join → operation gate → CSVPayload
  * format → ordered KPL-aggregated sink with LSN feedback) via
  * GraftJob.start, and reports msgs/s over the drain wall time.
  *
  * A small WAL of the same shape is drained first, on its own
  * checkpoint and sink, so the timed drain measures the pipeline, not
  * the session's first codegen and JIT; its time prints as `warm_s`.
  *
  * Reference ceiling for comparison (BASELINE.md): pg2kinesis is a
  * 1-process 1-thread blocking loop (slot.py:129) hard-capped by its
  * single Kinesis shard at 1000 records/s or 1 MB/s (stream.py:20) —
  * with KPL aggregation the wire cap is 1 MB/s. This probe's local
  * sink removes the network so the number is the ENGINE's ceiling.
  *
  * SPARK_GRAFT_CDC_LANES > 1 measures the per-key multi-lane sink
  * (the horizontal scale-out the reference's one shard cannot do;
  * ordering contract weakens to per-xid — see OrderedAggregatingWriter).
  *
  * Usage: SPARK_GRAFT_CDC_N=200000 sbt "runMain graft.CdcThroughput"
  */
object CdcThroughput {
  private val WarmMsgs = 10000

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CDC_N", "200000").toInt
    val lanes = sys.env.getOrElse("SPARK_GRAFT_CDC_LANES", "1").toInt
    val dir = Files.createTempDirectory("graft-cdc-tp")
    val spark = Tuning.localSession(32)
    val cat = catalog.PkCatalog.fromItems(spark, Seq(
      core.PrimaryKeyMapItem("public.species", "id", "integer", 1)))
    val (warmSecs, _) =
      drain(spark, cat, dir.resolve("warm"), math.min(n, WarmMsgs), lanes)
    val (secs, sunk) = drain(spark, cat, dir.resolve("run"), n, lanes)
    spark.stop()
    val bytes = Files.size(dir.resolve("run").resolve("wal.jsonl"))
    println(f"""{"metric":"cdc_throughput","n_msgs":$n,"lanes":$lanes,"sunk":$sunk,""" +
      f""""wal_mb":${bytes / 1e6}%.1f,"warm_s":$warmSecs%.2f,"secs":$secs%.2f,""" +
      f""""msgs_per_s":${n / secs}%.0f,"mb_per_s":${bytes / 1e6 / secs}%.1f}""")
  }

  /** Write `n` wal2json changes under `dir`, drain them through
    * GraftJob.start; returns the drain's seconds and the records the
    * sink holds. */
  private def drain(spark: SparkSession, cat: DataFrame, dir: Path,
      n: Int, lanes: Int): (Double, Int) = {
    Files.createDirectories(dir)
    val src = dir.resolve("wal.jsonl")
    val w = Files.newBufferedWriter(src, StandardCharsets.UTF_8)
    try (0 until n).foreach { i =>
      val kind = Seq("insert", "update", "delete")(i % 3)
      w.write(s"""{"xid": ${1000 + i}, "change": [{"kind": "$kind",""" +
        s""" "schema": "public", "table": "species",""" +
        s""" "columnnames": ["id", "name"],""" +
        s""" "columntypes": ["integer", "text"],""" +
        s""" "columnvalues": [$i, "row-$i-payload"]}]}""")
      w.write("\n")
    } finally w.close()
    val cfg = GraftConfig(src.toString, s"$dir/sink", s"$dir/ckpt",
      formatter = "CSVPayload", sendWindowSecs = 0, sinkLanes = lanes)
    val t0 = System.nanoTime()
    val q = GraftJob.start(spark, cfg, cat)
    q.processAllAvailable()
    val secs = (System.nanoTime() - t0) / 1e9
    q.stop()
    val sink = Paths.get(cfg.sinkDir)
    val sunk =
      if (!Files.exists(sink)) 0
      else {
        import scala.jdk.CollectionConverters._
        val files = Files.list(sink)
        try files.iterator().asScala
          .map(f => streaming.KplAggregate.decode(Files.readAllBytes(f)).size)
          .sum
        finally files.close()
      }
    (secs, sunk)
  }
}
