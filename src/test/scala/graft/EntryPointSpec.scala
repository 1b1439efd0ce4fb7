package graft

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library has one session factory, one cache owner and a fixed
  * set of mains: a new dev main, hand-built session or unowned cache in
  * `src/main` fails here. */
class EntryPointSpec extends AnyFunSuite {
  private val mains = Set("Main", "Verify", "Bench", "Profile",
    "CdcThroughput", "ScaleProbe", "HupProbe")

  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map((p: Path) => p.getFileName.toString.stripSuffix(".scala") ->
        Files.readString(p))
      .toList
    finally files.close()
  }

  private def count(text: String, token: String): Int =
    Pattern.quote(token).r.findAllMatchIn(text).size

  test("SparkSession.builder( appears only in Tuning") {
    val builders = sources.collect {
      case (name, text) if name != "Tuning" &&
        text.contains("SparkSession.builder(") => name
    }
    assert(builders.isEmpty, s"build sessions with Tuning: $builders")
    assert(sources.exists { case (n, t) =>
      n == "Tuning" && count(t, "SparkSession.builder(") == 1 })
  }

  test(".cache() and .persist( appear only in QueryCache and PkCatalog") {
    val caching = sources.collect {
      case (name, text) if name != "QueryCache" && name != "PkCatalog" &&
        (text.contains(".cache()") || text.contains(".persist(")) => name
    }
    assert(caching.isEmpty, s"cache through QueryCache: $caching")
  }

  test("def main appears once in each declared entry point, nowhere else") {
    val found = sources.map { case (name, text) =>
      name -> count(text, "def main(") }.filter(_._2 > 0).toMap
    assert(found == mains.map(_ -> 1).toMap,
      s"mains: ${found.toSeq.sorted}, declared: ${mains.toSeq.sorted}")
  }
}
