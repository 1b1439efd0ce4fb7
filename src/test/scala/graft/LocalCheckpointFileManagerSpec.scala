package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.catalog.PkCatalog
import graft.core.PrimaryKeyMapItem
import graft.streaming.{KplAggregate, LocalCheckpointFileManager}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** The contract Spark's offset and commit logs rely on, for the NIO
  * checkpoint manager GraftJob sets on `file:` checkpoints. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def tmp(): java.nio.file.Path =
    Files.createTempDirectory("graft-ckpt")

  private def manager(dir: java.nio.file.Path): CheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(m: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(StandardCharsets.UTF_8))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  private def names(dir: java.nio.file.Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("createAtomic: no overwrite keeps an existing file, overwrite replaces it") {
    val dir = tmp()
    val m = manager(dir)
    val f = new Path(dir.toUri.toString, "0")
    write(m, f, "first", overwrite = false)
    assert(read(m, f) == "first")
    intercept[FileAlreadyExistsException] {
      write(m, f, "second", overwrite = false)
    }
    assert(read(m, f) == "first")
    write(m, f, "third", overwrite = true)
    assert(read(m, f) == "third")
    assert(names(dir) == Set("0"), "no temp file may be left behind")
  }

  test("cancel leaves neither target nor temp file; list skips a stray temp file") {
    val dir = tmp()
    val m = manager(dir)
    val root = new Path(dir.toUri.toString)
    val out = m.createAtomic(new Path(root, "1"), overwriteIfPossible = false)
    out.write("partial".getBytes(StandardCharsets.UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
    write(m, new Path(root, "2"), "done", overwrite = false)
    // a crash between write and publish leaves the temp file alone
    Files.writeString(dir.resolve(".3.0b1d6f0e.tmp"), "torn")
    assert(m.list(root).map(_.getPath.getName).toSeq == Seq("2"))
    assert(m.exists(new Path(root, "2")) && !m.exists(new Path(root, "3")))
    m.delete(new Path(root, "2"))
    assert(!m.exists(new Path(root, "2")))
  }

  test("non-file schemes get Spark's default manager") {
    // built without contacting the name node: the HDFS client
    // connects on first use
    val hdfs = new LocalCheckpointFileManager(
      new Path("hdfs://localhost:9/ckpt"), new Configuration())
    assert(!hdfs.isLocal)
    assert(manager(tmp()).isLocal)
  }

  test("overwrite drops a stale .crc, so Spark's default manager reads the new bytes") {
    val dir = tmp()
    val f = new Path(dir.toUri.toString, "metadata")
    val conf = new Configuration()
    val spark0 = CheckpointFileManager.create(f.getParent, conf)
    write(spark0, f, "old bytes", overwrite = false)
    assert(names(dir).contains(".metadata.crc"))
    write(manager(dir), f, "new bytes, longer", overwrite = true)
    assert(!names(dir).contains(".metadata.crc"))
    assert(read(CheckpointFileManager.create(f.getParent, conf), f) ==
      "new bytes, longer")
  }

  test("a file system without hard links publishes by rename, still refusing an existing target") {
    val dir = tmp()
    val target = dir.resolve("0")
    def staged(text: String): java.nio.file.Path = {
      val t = dir.resolve(s".0.${text.length}.tmp")
      Files.writeString(t, text)
    }
    val noLinks: (java.nio.file.Path, java.nio.file.Path) => Unit = (_, _) =>
      throw new java.nio.file.FileSystemException("link: Operation not permitted")
    LocalCheckpointFileManager.publishNew(staged("first"), target, noLinks)
    assert(Files.readString(target) == "first")
    val second = staged("second")
    intercept[FileAlreadyExistsException] {
      LocalCheckpointFileManager.publishNew(second, target,
        (_, _) => throw new UnsupportedOperationException("no links"))
    }
    assert(Files.readString(target) == "first")
  }

  test("a query restarted on a checkpoint Spark's default manager wrote resumes at its offset") {
    val dir = tmp()
    val wal = dir.resolve("wal.txt")
    def append(lines: String*): Unit = Files.write(wal,
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    // transaction 701 is open when the first query stops: the resumed
    // query must carry its xid from the offset
    append("BEGIN 700", "table public.species: INSERT: id[integer]:1", "COMMIT",
      "BEGIN 701", "table public.species: INSERT: id[integer]:2")
    val cat = PkCatalog.fromItems(spark, Seq(
      PrimaryKeyMapItem("public.species", "id", "integer", 1)))
    val ckpt = dir.resolve("ckpt")
    val cfg = GraftConfig(wal.toString, dir.resolve("sink").toString,
      ckpt.toString, plugin = "test_decoding", formatter = "CSV",
      sendWindowSecs = 0)
    val q1 = GraftJob.start(spark, cfg, cat)
    try q1.processAllAvailable() finally q1.stop()

    // rewrite every checkpoint file as Spark's default manager writes
    // it, .crc sidecars included
    val sparkDefault = CheckpointFileManager.create(
      new Path(ckpt.toUri), new Configuration())
    assert(!sparkDefault.isInstanceOf[LocalCheckpointFileManager])
    val files = {
      val w = Files.walk(ckpt)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally w.close()
    }
    files.foreach { f =>
      val bytes = Files.readAllBytes(f)
      Files.delete(f)
      val out = sparkDefault.createAtomic(new Path(f.toUri), false)
      out.write(bytes)
      out.close()
    }
    val offsetsDir = ckpt.resolve("offsets")
    assert(names(offsetsDir).contains(".0.crc"))
    assert(names(ckpt.resolve("commits")).contains(".0.crc"))
    val last = names(offsetsDir).filter(_.forall(_.isDigit)).map(_.toInt).max
    val committed = Files.readAllLines(offsetsDir.resolve(last.toString))
      .asScala.last

    append("table public.species: INSERT: id[integer]:3", "COMMIT")
    val q2 = GraftJob.start(spark, cfg, cat)
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.conf.get(LocalCheckpointFileManager.ConfKey) ==
      classOf[LocalCheckpointFileManager].getName)
    val resumed = q2.recentProgress.filter(_.numInputRows > 0)
    assert(resumed.nonEmpty)
    assert(resumed.head.sources.head.startOffset == committed)
    assert(committed.contains("\"xid\":701"), committed)
    assert(!names(offsetsDir).contains(s".${last + 1}.crc"))

    val sink = Paths.get(cfg.sinkDir)
    val recs = Files.list(sink).iterator().asScala.toSeq
      .sortBy(_.getFileName.toString)
      .flatMap(f => KplAggregate.decode(Files.readAllBytes(f)))
      .map(r => new String(r._2, StandardCharsets.UTF_8))
    assert(recs == Seq("0,CDC,700,public.species,INSERT,1",
      "0,CDC,701,public.species,INSERT,2",
      "0,CDC,701,public.species,INSERT,3"))
  }
}
