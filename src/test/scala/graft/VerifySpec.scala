package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, raise_error}

/** Verify's query loop fails loud: a query that throws is recorded with
  * its message, and the exit status is non-zero, while every other
  * result and the oracle SQL are still written. */
class VerifySpec extends SparkSpec {

  private def read(dir: String, file: String): String =
    new String(Files.readAllBytes(Paths.get(dir, file)), StandardCharsets.UTF_8)

  private val ok: (SparkSession, String) => DataFrame =
    (s, _) => s.range(3).toDF("id")

  test("a broken query gives a non-zero exit and its message") {
    val out = Files.createTempDirectory("graft-verify").toString
    val broken: (SparkSession, String) => DataFrame =
      (s, _) => s.range(1).select(raise_error(lit("deliberately broken")))
    val status = Verify.dump(spark, Seq("q_ok" -> ok, "q_broken" -> broken),
      Map("q_ok" -> "SELECT 1", "q_broken" -> "SELECT 2"), sf, out, par = 2)
    assert(status != 0)
    assert(spark.read.parquet(s"$out/q_ok").count() == 3)
    assert(read(out, "oracle_sql.json").contains("\"q_broken\": \"SELECT 2\""))
    val failures = read(out, "failures.json")
    assert(failures.contains("\"q_broken\": ") &&
      failures.contains("deliberately broken"), failures)
    assert(!failures.contains("q_ok"), failures)
  }

  test("a clean run exits zero with an empty failure manifest") {
    val out = Files.createTempDirectory("graft-verify").toString
    assert(Verify.dump(spark, Seq("q_ok" -> ok), Map("q_ok" -> "SELECT 1"),
      sf, out, par = 1) == 0)
    assert(read(out, "failures.json") == "{}")
  }
}
