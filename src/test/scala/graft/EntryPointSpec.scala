package graft

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library has one session factory, one builder of shared tables,
  * one CDC stream and a fixed set of mains, and every file is reachable
  * from an entry point: a new dev main, hand-built session, session
  * cache, second stream or file nothing runs in `src/main` fails here. */
class EntryPointSpec extends AnyFunSuite {
  private val mains = Set("Main", "Verify", "Bench", "Profile",
    "CdcThroughput", "HupProbe")

  private def scalaFiles(root: Path): Seq[(Path, String)] = {
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map((p: Path) => p -> Files.readString(p)).toList
    finally files.close()
  }

  private lazy val mainFiles = scalaFiles(Paths.get("src/main/scala"))

  private lazy val sources: Seq[(String, String)] = mainFiles.map {
    case (p, text) => p.getFileName.toString.stripSuffix(".scala") -> text
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

  test("no file caches through the session; one file builds shared tables") {
    val caching = for {
      (name, text) <- sources
      token <- Seq(".cache()", ".persist(", "cacheManager", "clearCache")
      if text.contains(token)
    } yield s"$name: $token"
    assert(caching.isEmpty, s"share tables with graft.Shared: $caching")
    val relations = sources.collect {
      case (name, text) if text.contains("InMemoryRelation") => name }
    assert(relations == Seq("Iterate"), s"InMemoryRelation in $relations")
  }

  test("def main appears once in each declared entry point, nowhere else") {
    val found = sources.map { case (name, text) =>
      name -> count(text, "def main(") }.filter(_._2 > 0).toMap
    assert(found == mains.map(_ -> 1).toMap,
      s"mains: ${found.toSeq.sorted}, declared: ${mains.toSeq.sorted}")
  }

  /** Source text without its comments. String and char literals are
    * kept whole, so a comment opener inside one starts no comment. */
  private def stripComments(s: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val j =
        if (s.startsWith("\"\"\"", i)) {
          val end = s.indexOf("\"\"\"", i + 3)
          var e = if (end < 0) s.length else end + 3
          while (e < s.length && s(e) == '"') e += 1
          e
        } else if (s(i) == '"') {
          var e = i + 1
          while (e < s.length && s(e) != '"' && s(e) != '\n')
            e += (if (s(e) == '\\') 2 else 1)
          math.min(e + 1, s.length)
        } else if (s(i) == '\'' && i + 2 < s.length &&
            (s(i + 1) == '\\' || s(i + 2) == '\'')) {
          s.indexOf('\'', if (s(i + 1) == '\\') i + 3 else i + 2) + 1
        } else i
      if (j > i) { out ++= s.substring(i, j); i = j }
      else if (s.startsWith("//", i)) {
        val nl = s.indexOf('\n', i)
        i = if (nl < 0) s.length else nl
      } else if (s.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (i < s.length && depth > 0) {
          if (s.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (s.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        out += ' '
      } else { out += s(i); i += 1 }
    }
    out.toString
  }

  test("one MicroBatchStream, one TableProvider and one Table serve both CDC transports") {
    for (api <- Seq("MicroBatchStream", "TableProvider", "Table")) {
      val decl = s"\\b(?:extends|with|new)\\s+$api\\b".r
      val found = mainFiles.flatMap { case (p, text) =>
        decl.findAllIn(stripComments(text)).map(_ => p.getFileName.toString) }
      assert(found.size == 1, s"$api implementations: $found")
    }
  }

  test("the CDC provider takes exactly one of path and connection") {
    import graft.sources.{CdcFileSource, CdcSourceProvider}
    def table(opts: (String, String)*) = new CdcSourceProvider().getTable(
      CdcFileSource.Schema, Array.empty, opts.toMap.asJava)
    assert(table("path" -> "wal").name == "cdc-file(wal)")
    assert(table("connection" -> "c", "peek" -> "true").name == "cdc-pg(c)")
    for (opts <- Seq(Seq("path" -> "wal", "connection" -> "c"),
        Seq("maxRecordsPerTrigger" -> "5"))) {
      val e = intercept[IllegalArgumentException](table(opts: _*))
      assert(e.getMessage.contains("path and connection"), e.getMessage)
    }
  }

  test("every src/main file is reachable from an entry point") {
    // file A reaches file B when A, comments stripped, names a
    // top-level type B declares. Roots: the mains, Graft.scala (Spark
    // loads GraftExtensions by class name) and every file declaring a
    // type perfbench names.
    val topLevel = ("(?m)^(?:(?:private(?:\\[\\w+\\])?|protected|final|" +
      "sealed|abstract|implicit|case)\\s+)*(?:object|class|trait)\\s+(\\w+)").r
    val word = "\\w+".r
    val files = mainFiles.map { case (p, text) =>
      val code = stripComments(text)
      (p, topLevel.findAllMatchIn(code).map(_.group(1)).toSet,
        word.findAllIn(code).toSet)
    }
    val benchNames = scalaFiles(Paths.get("perfbench/src")).flatMap {
      case (_, text) => word.findAllIn(stripComments(text))
    }.toSet
    val roots = files.collect { case (p, types, _)
      if (types & (mains ++ benchNames)).nonEmpty ||
        p.getFileName.toString == "Graft.scala" => p }
    assert(roots.size > mains.size, s"roots: $roots")
    var seen = roots.toSet
    var frontier = roots
    while (frontier.nonEmpty) {
      val names = files.collect { case (p, _, words) if frontier.contains(p) =>
        words }.flatten.toSet
      frontier = files.collect { case (p, types, _)
        if !seen(p) && (types & names).nonEmpty => p }
      seen ++= frontier
    }
    val unreachable = files.map(_._1).filterNot(seen).map(_.toString).sorted
    assert(unreachable.isEmpty,
      s"no entry point reaches: ${unreachable.mkString(", ")}")
  }
}
