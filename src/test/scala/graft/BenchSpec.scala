package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** `graft.Bench.run` at sf0.001 on q1_pricing and an injected query that
  * fails at execution, in the shared session, which stays usable. */
class BenchSpec extends SparkSpec {
  private val artifact =
    Files.createTempDirectory("graft-bench").resolve("bench_last.json")
  private lazy val (full, summary) = {
    val boom: Bench.Query = (s, _) =>
      s.range(4).selectExpr("raise_error('injected failure') AS x")
    Bench.run(spark, sf, Seq("q1_pricing" -> SparkEntry.queries("q1_pricing"),
      "zz_boom" -> boom), budgetS = 60, capS = 20, artifact)
  }
  private def json(s: String): JsonNode = new ObjectMapper().readTree(s)
  private def keys(j: JsonNode): Seq[String] = j.fieldNames().asScala.toSeq

  private val head = Seq("metric", "unit", "sf")
  private val calib =
    Seq("calibration", "box_factor_curve", "budget_exhausted", "n_shed")
  private val tail = Seq("failed", "over_cap", "value")

  test("run: both printed lines keep every key, the summary under 2000 chars") {
    assert(keys(json(full)) == head ++ calib ++ Seq("queries") ++ tail)
    assert(keys(json(summary)) ==
      head ++ Seq("n_queries") ++ calib ++ Seq("slowest", "queries_file") ++ tail)
    assert(summary.length < 2000)
    assert(json(summary).get("queries_file").asText == artifact.toString)
    assert(json(full).get("calibration").get("sec").asDouble > 0, full)
  }

  test("run: a query that throws reads -1 and is listed in failed") {
    val j = json(full)
    assert(j.get("queries").get("zz_boom").asDouble == -1.0, full)
    assert(j.get("queries").get("q1_pricing").asDouble > 0, full)
    assert(j.get("failed").elements().asScala.map(_.asText).toSeq == Seq("zz_boom"))
    assert(json(summary).get("failed").get(0).asText == "zz_boom")
  }

  test("run: the artifact holds every attempt and the kept attempt's figures") {
    val j = json(Files.readString(artifact))
    assert(keys(j) == head ++ calib ++
      Seq("queries", "attempts", "metrics") ++ tail)
    assert(j.get("attempts").get("zz_boom").elements().asScala
      .forall(_.asDouble == -1.0), j)
    val m = j.get("metrics")
    assert(keys(m) == Seq("q1_pricing"), m)
    val q1 = m.get("q1_pricing")
    assert(keys(q1) == Seq("input_rows", "largest_scan_rows", "output_rows",
      "jobs", "stages", "shuffle_write_bytes", "shuffle_read_bytes",
      "spill_bytes", "wall_s"))
    assert(q1.get("input_rows").asLong > 0 && q1.get("output_rows").asLong > 0, q1)
    assert(q1.get("jobs").asLong >= 1 && q1.get("shuffle_write_bytes").asLong > 0, q1)
    assert(math.abs(q1.get("wall_s").asDouble -
      j.get("queries").get("q1_pricing").asDouble) <= 0.006, q1)
  }

  test("the session is still usable afterwards") {
    assert(!spark.sparkContext.isStopped)
    assert(SparkEntry.queries("q1_pricing")(spark, sf).count() > 0)
  }
}
