package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Each `graft.Profile` mode on the flagship query, in the shared
  * session, which stays usable afterwards. */
class ProfileSpec extends SparkSpec {
  private val q = "q5_region_revenue"

  private def out(mode: String, arg: Option[String]): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(Profile.run(spark, mode, sf, Seq(q), arg))
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

  test("the session is still usable afterwards") {
    assert(!spark.sparkContext.isStopped)
    assert(SparkEntry.queries(q)(spark, sf).count() > 0)
  }
}
