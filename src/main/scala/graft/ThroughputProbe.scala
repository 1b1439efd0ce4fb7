package graft

import graft.catalog.PkCatalog
import graft.core.PrimaryKeyMapItem
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** End-to-end CDC throughput probe: N wal2json messages through the
  * full pipeline (DSv2 source → parse → gate → format → ordered
  * KPL-style sink with LSN feedback), wall-clocked. Prints one JSON
  * line with records/s.
  *
  * Context for the number: the reference's sink is hard-capped at ONE
  * Kinesis shard = 1000 records/s or 1 MB/s (stream.py:20, AWS public
  * per-shard ingest limit), upstream of which sits a single-threaded
  * Python parse loop. Not part of the driver contract — a development
  * instrument backing the ARCHITECTURE.md throughput claim.
  */
object ThroughputProbe {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_TP_N", "200000").toInt
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.optimizer.excludedRules", Tuning.excludedRules)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Files.createTempDirectory("graft_tp").toString
    val sb = new StringBuilder(n * 160)
    var i = 0
    while (i < n) {
      sb.append(s"""{"xid": ${1000 + i}, "change": [{"kind": "insert",""" +
        s""" "schema": "public", "table": "species",""" +
        s""" "columnnames": ["id"], "columntypes": ["integer"],""" +
        s""" "columnvalues": [$i]}]}""").append('\n')
      i += 1
    }
    val src = Paths.get(dir, "wal.jsonl").toString
    Files.write(Paths.get(src), sb.toString.getBytes(StandardCharsets.UTF_8))
    val cat = PkCatalog.fromItems(spark,
      Seq(PrimaryKeyMapItem("public.species", "id", "integer", 1)))
    // small warm batch first so measured time is pipeline, not codegen
    val t0 = System.nanoTime()
    val q = GraftJob.start(spark, GraftConfig(src, s"$dir/sink",
      s"$dir/ckpt", formatter = "CSVPayload", operations = Seq("insert"),
      sendWindowSecs = 0), cat)
    q.processAllAvailable()
    q.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    val sunk = Files.list(Paths.get(s"$dir/sink")).count()
    println(f"""{"records":$n,"secs":$secs%.2f,""" +
      f""""records_per_sec":${n / secs}%.0f,"sink_files":$sunk}""")
    spark.stop()
  }
}
