package graft

import graft.expressions.SpaceSavingTopK.space_saving_topk
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Stream/batch parity for the bounded-sketch aggregates: the
  * documents corpus tokenized and fed as a STREAM in round-robin
  * micro-batches, the SpaceSaving buffer carried as streaming
  * aggregation state across batches — the final complete-mode
  * emission must equal the batch text_heavy_hitters DECLARED QUERY
  * row for row. That batch face is itself oracle-checked, closing the
  * chain stream == batch == DuckDB; the HLL and Count-Min tests close
  * the same chain for q_hll_distinct and q_cms_users. */
class StreamingSketchParitySpec extends SparkSpec {
  import spark.implicits._

  test("streaming SpaceSaving state across batches == batch heavy hitters") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)]
      .collect().toSeq.sortBy(_._1)
    assert(docs.size >= 10, s"corpus too small: ${docs.size}")

    val in = MemoryStream[(Long, String)]
    val tokens = in.toDF().toDF("doc_id", "text")
      .select(explode(expr(
        "filter(split(text, '\\\\s+'), t -> t != '')")).as("t"))
    // text_heavy_hitters' aggregate: capacity 64, top 10
    val q = tokens.agg(space_saving_topk(col("t"), 64).as("hh"))
      .select(posexplode(col("hh")).as(Seq("pos", "e")))
      .filter(col("pos") < 10)
      .select((col("pos") + 1).cast("long").as("rank"),
        col("e.token").as("token"), col("e.cnt").as("cnt"),
        col("e.err").as("err"))
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode(OutputMode.Complete).start()
    docs.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
      .foreach { case (_, b) =>
        in.addData(b.map(_._1)); q.processAllAvailable()
      }
    val streamed = spark.table("hh_stream")
      .as[(Long, String, Long, Long)].collect().sorted.toSeq
    q.stop()

    val batch = SparkEntry.queries("text_heavy_hitters")(spark, sf)
      .as[(Long, String, Long, Long)].collect().sorted.toSeq

    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"streaming sketch ${streamed} != batch ${batch}")
    // the exact-below-capacity contract the parity rides: no eviction
    // error on this corpus's bounded vocabulary
    assert(batch.forall(_._4 == 0L), "expected err 0 below capacity")
  }

  test("streaming HLL registers across batches == batch registers") {
    // Sketches.hllRegisters is the EXACT lineage q_hll_distinct's
    // oracle-checked sketch state is built from; the max-register
    // aggregate maintained incrementally across micro-batches must
    // land on the same ≤1024-rows-per-type table.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.events(spark, sf)
      .select("event_type", "user_id").as[(String, Long)]
      .collect().toSeq
    assert(ev.size >= 100, s"feed too small: ${ev.size}")

    val in = MemoryStream[(String, Long)]
    val regs = graft.functions.Sketches.hllRegisters(
      in.toDF().toDF("event_type", "user_id"), "event_type", "user_id")
    val q = regs.writeStream.format("memory").queryName("hll_stream")
      .outputMode(OutputMode.Complete).start()
    ev.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
      .foreach { case (_, b) =>
        in.addData(b.map(_._1)); q.processAllAvailable()
      }
    val streamed = spark.table("hll_stream")
      .as[(String, Long, Long)].collect().sorted.toSeq
    q.stop()

    val batch = graft.functions.Sketches.hllRegisters(
      Tables.events(spark, sf).select("event_type", "user_id"),
      "event_type", "user_id")
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"streaming HLL registers != batch (${streamed.size} vs ${batch.size})")
  }

  test("streaming Count-Min counters across batches == batch counters") {
    // same closure for q_cms_users: the d×w counter table is a plain
    // (j, bucket) count the state store maintains at fixed 4×1024
    // size; the final complete-mode emission must equal the batch
    // counter table the oracle-checked estimates are probed from.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.events(spark, sf)
      .select(col("user_id")).as[Long].collect().toSeq
    val in = MemoryStream[Long]
    val counters = graft.functions.Sketches.cmsCounters(
      in.toDF().toDF("user_id"))
    val q = counters.writeStream.format("memory").queryName("cms_stream")
      .outputMode(OutputMode.Complete).start()
    ev.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
      .foreach { case (_, b) =>
        in.addData(b.map(_._1)); q.processAllAvailable()
      }
    val streamed = spark.table("cms_stream")
      .as[(Int, Long, Long)].collect().sorted.toSeq
    q.stop()

    val batch = graft.functions.Sketches.cmsCounters(
      Tables.events(spark, sf).select(col("user_id")))
      .as[(Int, Long, Long)].collect().sorted.toSeq
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"streaming CMS counters != batch (${streamed.size} vs ${batch.size})")
  }
}
