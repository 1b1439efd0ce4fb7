package graft

/** Invariants for the multimodal plumbing queries (the decode STUB is
  * deterministic, so these check the Spark-side shapes: typed decode,
  * frame explode, resize planning, per-shard batch assembly). */
class MultimodalSpec extends SparkSpec {

  test("resize plan aspect-fits into 224 with integer rounding") {
    val rows = SparkEntry.queries("mm_resize")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, h, ow, oh) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))
      assert(math.max(ow, oh) == 224, s"doc ${r.getLong(0)}")
      assert(ow <= 224 && oh <= 224)
      // integer aspect preservation: floor(short * 224 / long)
      if (w >= h) assert(oh == h * 224 / w) else assert(ow == w * 224 / h)
    }
  }

  test("JDK decoder: real PNG/BMP/GIF/WAV decode through the same plumbing") {
    // The decode seam proven with GENUINE codecs: media encoded
    // in-memory by the JDK itself (javax.imageio / javax.sound),
    // decoded back through the identical decodeBlobs mapPartitions
    // pass the declared queries use — only the decoder argument
    // differs. No external media library involved.
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import graft.operators.Multimodal

    def png(w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => img.setRGB(x, 0, x * 1000))
      val out = new ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    def bmp(w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val out = new ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "bmp", out)
      out.toByteArray
    }
    def gif(w: Int, h: Int, frames: Int): Array[Byte] = {
      // multi-frame GIF via the stock ImageWriter sequence API
      val out = new ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(out)
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      wr.setOutput(ios)
      wr.prepareWriteSequence(null)
      (0 until frames).foreach { i =>
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        img.setRGB(0, 0, i)
        wr.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      wr.endWriteSequence(); wr.dispose(); ios.close()
      out.toByteArray
    }
    def wav(sampleRate: Float, channels: Int, frames: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16,
        channels, true, false)
      val pcm = new Array[Byte](frames * fmt.getFrameSize)
      pcm.indices.foreach(i => pcm(i) = (i % 251).toByte)
      val in = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val out = new ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(in,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }

    import spark.implicits._
    val blobs = Seq(
      (1L, png(37, 21)), (2L, bmp(15, 9)), (3L, gif(8, 6, 3)),
      (4L, wav(8000f, 1, 1600)), (5L, wav(44100f, 2, 441)))
    val feats = Multimodal
      .decodeBlobs(blobs.toDS(), Multimodal.JdkMediaDecoder)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(feats(1L) == ((37L, 21L, 1L)), "png w/h + single frame")
    assert(feats(2L) == ((15L, 9L, 1L)), "bmp w/h")
    assert(feats(3L) == ((8L, 6L, 3L)), "gif frame count")
    assert(feats(4L) == ((8000L, 1L, 1600L)), "wav rate/channels/frames")
    assert(feats(5L) == ((44100L, 2L, 441L)))
    // n_bytes/byte_sum ride along identically to the stub path
    val sizes = Multimodal
      .decodeBlobs(blobs.toDS(), Multimodal.JdkMediaDecoder)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    blobs.foreach { case (id, b) => assert(sizes(id) == b.length.toLong) }
    // unknown container AND corrupt media both raise
    // IllegalArgumentException — ONE type for a lenient dead-letter
    // filter to key on (same as the CDC parser's strict/lenient modes);
    // the corrupt-RIFF case would otherwise leak the JDK codec's own
    // checked UnsupportedAudioFileException
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    val corruptWav = "RIFF\u0000\u0000\u0000\u0000WAVEgarbage"
      .getBytes("ISO-8859-1")
    Seq(Array[Byte](1, 2, 3, 4), corruptWav).foreach { blob =>
      val bad = Seq((9L, blob)).toDS()
      val e = intercept[org.apache.spark.SparkException] {
        Multimodal.decodeBlobs(bad, Multimodal.JdkMediaDecoder).collect()
      }
      assert(causes(e).exists(_.isInstanceOf[IllegalArgumentException]),
        s"blob ${blob.take(4).toSeq}: got $e")
    }
  }

  test("batch plan packs shard frames into consecutive batches of <= 32") {
    val rows = SparkEntry.queries("mm_batch_plan")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (shard, bs) =>
      val ids = bs.map(_._2).sorted
      assert(ids.toSeq == (0L until ids.length).toSeq,
        s"shard $shard batch ids not consecutive: ${ids.toSeq}")
      // all full batches of 32 except possibly the last
      bs.sortBy(_._2).dropRight(1).foreach { case (_, b, n) =>
        assert(n == 32, s"shard $shard batch $b has $n items")
      }
      assert(bs.maxBy(_._2)._3 <= 32)
    }
    // batches partition the frame stream exactly
    val frames = SparkEntry.queries("mm_frame_sample")(spark, sf).count()
    assert(rows.map(_._3).sum == frames)
  }

  test("blockhash near-dup recovers every planted perturbed copy") {
    import org.apache.spark.sql.functions._
    val pairs = SparkEntry.queries("mm_blockhash_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val planted = Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 0 && length(col("text")) >= 60)
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(planted.nonEmpty)
    // a single leading-byte flip moves one block's mean: the copy must
    // sit within the Hamming-3 band radius of its original
    planted.foreach { id =>
      assert(pairs.exists(p => p._1 == id && p._2 == id + 100000L),
        s"planted pair ($id, ${id + 100000L}) missing")
    }
    pairs.foreach(p => assert(p._3 <= 3, "verify must cap hamming at 3"))
  }

  test("mm_scene_cuts detects cuts on synthetic step clips") {
    // the sf0.001 corpus has no energy step past the threshold, so the
    // cut path is pinned on hand-computed clips: 'a'(97)x64 then
    // '!'(33)x64 — |Δsum| = 64*64 = 4096 > 1024 → one cut, two
    // 1-frame segments; plus a uniform clip (no cut) and a 3-frame
    // clip with a step after frame 2 (longest segment = 2)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mm-cuts")
      .toString
    Seq((1L, "a" * 64 + "!" * 64), (2L, "a" * 128),
      (3L, "a" * 128 + "!" * 64))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("mm_scene_cuts")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(rows == Seq((1L, 2L, 1L, 1L), (2L, 2L, 0L, 2L),
      (3L, 3L, 1L, 2L)), s"got $rows")
  }
}
