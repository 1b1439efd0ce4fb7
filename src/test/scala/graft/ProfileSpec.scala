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
    val jobs = lines.map(l => """jobs=\s*(\d+)""".r.findFirstMatchIn(l).get
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
    val base = RunMetrics(inputRows = 100, outputRows = 10, jobs = 1,
      stages = 1, shuffleWriteBytes = 1000, shuffleReadBytes = 0,
      spillBytes = 0, wallS = 1.0)
    // input rows x10, output rows x1: the bound is 1.5 * 10 = 15x
    val in10 = base.copy(inputRows = 1000)
    assert(!Profile.flagged(base, in10.copy(shuffleWriteBytes = 14900)))
    assert(Profile.flagged(base, in10.copy(shuffleWriteBytes = 15100)))
    // output rows x20 outgrow input rows x10: the bound is 30x
    val out20 = in10.copy(outputRows = 200)
    assert(!Profile.flagged(base, out20.copy(shuffleWriteBytes = 29900)))
    assert(Profile.flagged(base, out20.copy(shuffleWriteBytes = 30100)))
  }

  test("the session is still usable afterwards") {
    assert(!spark.sparkContext.isStopped)
    assert(SparkEntry.queries(q)(spark, sf).count() > 0)
  }
}
