package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper

/** Each `graft.Profile` mode on the flagship query (`scale` on the
  * lineitem-only q1_pricing), in the shared session, which stays usable
  * afterwards. */
class ProfileSpec extends SparkSpec {
  private val q = "q5_region_revenue"

  private def out(mode: String, arg: Option[String], query: String = q)
      : String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(Profile.run(spark, mode, sf, Seq(query), arg))
    buf.toString(StandardCharsets.UTF_8)
  }

  test("time: one line per run, with the jobs the listener counted") {
    val lines = out("time", Some("2")).split("\n").filter(_.startsWith(q))
    assert(lines.length == 2, lines.mkString("\n"))
    val jobs = lines.map(l => """"jobs":(\d+)""".r.findFirstMatchIn(l).get
      .group(1).toInt)
    assert(jobs.forall(_ >= 1), lines.mkString("\n"))
  }

  test("plan: one file per query, holding the physical plan") {
    val dir = Files.createTempDirectory("graft-profile")
    assert(out("plan", Some(dir.toString)).isEmpty)
    val files = dir.toFile.list().toSeq
    assert(files == Seq(s"$q.txt"))
    assert(Files.readString(dir.resolve(s"$q.txt"))
      .contains("== Physical Plan =="))
  }

  test("exec-plan: the AQE-final plan after a collect") {
    assert(out("exec-plan", None).contains("isFinalPlan=true"))
  }

  test("scale: lineitem-only q1_pricing at 2x reads twice the rows, returns the same") {
    val json = new ObjectMapper().readTree(out("scale", Some("2"), "q1_pricing"))
    val r = json.get("queries").get("q1_pricing")
    def fig(run: String, k: String): Long = r.get(run).get(k).asLong
    assert(fig("base", "input_rows") > 0, r)
    assert(fig("scaled", "input_rows") == 2 * fig("base", "input_rows"), r)
    assert(fig("scaled", "output_rows") == fig("base", "output_rows"), r)
    assert(!r.get("flagged").asBoolean && json.get("flagged").isEmpty, json)
  }

  test("scale flags shuffle growth above Slack times the larger row growth") {
    val base = RunMetrics(inputRows = 100, largestScanRows = 100,
      outputRows = 10, jobs = 1, stages = 1, shuffleWriteBytes = 1000,
      shuffleReadBytes = 0, spillBytes = 0, wallS = 1.0)
    // input rows x10, output rows x1: the bound is 1.5 * 10 = 15x
    val in10 = base.copy(inputRows = 1000, largestScanRows = 1000)
    assert(!Profile.flagged(base, in10.copy(shuffleWriteBytes = 14900)))
    assert(Profile.flagged(base, in10.copy(shuffleWriteBytes = 15100)))
    // output rows x20 outgrow input rows x10: the bound is 30x
    val out20 = in10.copy(outputRows = 200)
    assert(!Profile.flagged(base, out20.copy(shuffleWriteBytes = 29900)))
    assert(Profile.flagged(base, out20.copy(shuffleWriteBytes = 30100)))
  }

  test("scale judges shuffle growth against the largest scan, not the sum of scans") {
    // a corpus scan grows 10x, a pruned probe scan stays at 100 rows: the
    // summed input grows 5.5x, the corpus 10x, so the bound is 15x
    val base = RunMetrics(inputRows = 200, largestScanRows = 100,
      outputRows = 10, jobs = 1, stages = 1, shuffleWriteBytes = 1000,
      shuffleReadBytes = 0, spillBytes = 0, wallS = 1.0)
    val scaled = base.copy(inputRows = 1100, largestScanRows = 1000)
    assert(!Profile.flagged(base, scaled.copy(shuffleWriteBytes = 10000)))
    assert(!Profile.flagged(base, scaled.copy(shuffleWriteBytes = 14900)))
    assert(Profile.flagged(base, scaled.copy(shuffleWriteBytes = 15100)))
  }

  test("measure computes every column: dedup_threshold_sweep scans and shuffles its MinHash side") {
    val m = QueryMetrics.listening(spark)(
      _.measure(SparkEntry.queries("dedup_threshold_sweep")(spark, sf)))
    assert(m.outputRows > 0, m)
    assert(m.inputRows > 0 && m.largestScanRows > 0, m)
    assert(m.stages >= 2 && m.shuffleWriteBytes > 0, m)
  }

  test("scale: embedding copies keep their own dots and are no clones of copy 0") {
    val dir = Files.createTempDirectory("graft-replicate").toString
    Profile.replicateTables(spark, sf, dir, 2)
    val vecs = Tables.embeddings(spark, dir).collect().map { r =>
      r.getLong(r.fieldIndex("vec_id")) ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
    }.toMap
    val ids = vecs.keys.filter(_ < Profile.offset).toSeq.sorted
    assert(ids.size > 1 && vecs.size == 2 * ids.size)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.map(k => a(k) * b(k)).sum
    def copy1(id: Long) = vecs(id + Profile.offset)
    for (a <- ids.take(40); b <- ids.take(40))
      assert(dot(copy1(a), copy1(b)) == dot(vecs(a), vecs(b)), (a, b))
    val cos = ids.map { id =>
      dot(vecs(id), copy1(id)) / dot(vecs(id), vecs(id))
    }
    assert(cos.forall(c => math.abs(c) < 0.9), cos.max)
  }

  test("the session is still usable afterwards") {
    assert(!spark.sparkContext.isStopped)
    assert(SparkEntry.queries(q)(spark, sf).count() > 0)
  }
}
