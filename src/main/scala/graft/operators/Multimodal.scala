package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata, decoded per-partition by an imperative decoder.
  *
  * The Spark-side shape is the real thing a 100 TB media pipeline
  * needs and is fully exercised here:
  *  - binary payload column (utf-8 bytes of the doc text stand in for
  *    image/audio bytes — the real codecs are not in this container),
  *  - `Dataset[T].mapPartitions` with a decoder instantiated ONCE per
  *    partition (the pattern for loading a codec/model per executor
  *    task rather than per row),
  *  - a typed features schema coming back out, joinable/aggregable
  *    like any other column.
  *
  * The decode seam is [[Multimodal.MediaDecoder]], with two
  * implementations:
  *  - [[Multimodal.JdkMediaDecoder]] — a REAL codec path over the
  *    JDK's built-in media APIs (javax.imageio for PNG/BMP/GIF/JPEG
  *    headers+frames, javax.sound.sampled for WAV format/frames),
  *    exercised end-to-end through the identical mapPartitions
  *    plumbing by MultimodalSpec on real in-memory-encoded media;
  *  - `FakeDecoder` — a clearly-marked deterministic stand-in used by
  *    the DECLARED queries, because the test corpus's payload column
  *    is utf-8 text (not valid media) and the oracle needs outputs
  *    that are pure functions of the byte stream. Swapping the real
  *    decoder in is one constructor argument ([[decodeBlobs]]); no
  *    Spark code changes.
  */
object Multimodal extends QueryModule {
  import Tables._

  /** Typed metadata extracted from one media blob. All Long so the
    * parquet schema lines up with DuckDB's BIGINT arithmetic. */
  case class MediaFeatures(doc_id: Long, n_bytes: Long, byte_sum: Long,
      width: Long, height: Long, n_frames: Long)

  /** The decode seam: one blob in, typed features out. Implementations
    * must be Serializable (instances ship to executor tasks); heavy
    * codec state belongs in lazy/transient fields so it initializes
    * once per task, not on the driver. */
  trait MediaDecoder extends Serializable {
    def decode(docId: Long, bytes: Array[Byte]): MediaFeatures
  }

  /** STUB decoder: deterministic fake "image header parse" (see the
    * module note — the declared queries run over text bytes, so their
    * oracle needs arithmetic, not a codec). */
  private object FakeDecoder extends MediaDecoder {
    def decode(docId: Long, bytes: Array[Byte]): MediaFeatures = {
      val n = bytes.length.toLong
      MediaFeatures(docId, n, byteSum(bytes),
        width = 64 + n % 576,
        height = 64 + (n * 7) % 416,
        n_frames = n / 100)
    }
  }

  private def byteSum(bytes: Array[Byte]): Long = {
    var sum = 0L
    var i = 0
    while (i < bytes.length) {
      sum += bytes(i) & 0xff
      i += 1
    }
    sum
  }

  /** REAL decoder over the JDK's built-in codecs — no external media
    * libraries needed, so the seam is proven with genuine decodes even
    * in this container. Container sniff by magic bytes:
    *  - RIFF/WAVE → javax.sound.sampled: width = sample rate (Hz),
    *    height = channels, n_frames = PCM frame count;
    *  - else → javax.imageio (PNG/BMP/GIF/JPEG in any stock JVM):
    *    width/height from the image header (no full pixel decode —
    *    the metadata pass stays cheap), n_frames = image count
    *    (animated GIF frames; 1 for stills).
    * Unknown container OR corrupt media → IllegalArgumentException
    * (the JDK codecs' own failures — UnsupportedAudioFileException,
    * IIOException on a garbage header — are wrapped so a lenient
    * dead-letter filter has ONE exception type to key on, exactly
    * like the CDC parser's strict/lenient modes). */
  object JdkMediaDecoder extends MediaDecoder {
    def decode(docId: Long, bytes: Array[Byte]): MediaFeatures =
      try decodeUnchecked(docId, bytes)
      catch {
        case e: IllegalArgumentException => throw e
        case e @ (_: java.io.IOException |
            _: javax.sound.sampled.UnsupportedAudioFileException) =>
          throw new IllegalArgumentException(
            s"doc $docId: corrupt or truncated media: ${e.getMessage}", e)
      }

    private def decodeUnchecked(docId: Long,
        bytes: Array[Byte]): MediaFeatures = {
      val n = bytes.length.toLong
      val sum = byteSum(bytes)
      val isWav = bytes.length >= 12 &&
        bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
        bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'A' &&
        bytes(10) == 'V' && bytes(11) == 'E'
      if (isWav) {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          MediaFeatures(docId, n, sum,
            width = fmt.getSampleRate.toLong,
            height = fmt.getChannels.toLong,
            n_frames = in.getFrameLength)
        } finally in.close()
      } else {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext)
            throw new IllegalArgumentException(
              s"doc $docId: no JDK codec recognizes this container")
          val r = readers.next()
          r.setInput(iis)
          try MediaFeatures(docId, n, sum,
            width = r.getWidth(0).toLong,
            height = r.getHeight(0).toLong,
            n_frames = r.getNumImages(true).toLong)
          finally r.dispose()
        } finally iis.close()
      }
    }
  }

  /** The per-partition decode pass, decoder-parameterized — the swap
    * point between the oracle-friendly stub and the real JDK codecs
    * (or a native decoder at deploy time). The decoder reference is
    * materialized once per partition before the row loop. */
  def decodeBlobs(blobs: org.apache.spark.sql.Dataset[(Long, Array[Byte])],
      decoder: MediaDecoder): org.apache.spark.sql.DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      // decoder init happens once per partition, not per row
      val dec = decoder
      it.map { case (id, bytes) => dec.decode(id, bytes) }
    }.toDF()
  }

  override def queries: Map[String, Q] = Map(
    // Binary ingestion + per-partition decode; verified byte-exactly
    // by the oracle since the fake decode is arithmetic on the bytes.
    "mm_decode_features" -> ((s, d) =>
      decoded(s, d).orderBy(col("doc_id"))),

    // Frame sampling: every 10th frame of each "video" — the explode
    // pattern that turns one media row into N frame rows for
    // downstream feature extraction.
    "mm_frame_sample" -> ((s, d) => {
      decoded(s, d)
        .filter(col("n_frames") > 0)
        .select(col("doc_id"),
          explode(sequence(lit(0L), col("n_frames") - 1L, lit(10L)))
            .as("frame_idx"))
        .withColumn("byte_offset", col("frame_idx") * 100)
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // Resize planning: integer aspect-fit of each decoded image into
    // 224x224 — the metadata transform that sizes the real resize
    // kernel's output buffers. Pure integer arithmetic on decoded
    // dims, so the oracle verifies it exactly.
    "mm_resize" -> ((s, d) => {
      decoded(s, d)
        .select(col("doc_id"), col("width"), col("height"),
          expr("CASE WHEN width >= height THEN CAST(224 AS BIGINT)" +
            " ELSE (width * 224) div height END").as("out_w"),
          expr("CASE WHEN width >= height THEN (height * 224) div width" +
            " ELSE CAST(224 AS BIGINT) END").as("out_h"))
        .orderBy(col("doc_id"))
    }),

    // Audio STFT framing plan: per blob, the standard 25 ms-window /
    // 10 ms-hop frame count a feature extractor (fbank/MFCC/wav2vec
    // tokenizer) would produce — the metadata pass that sizes feature
    // buffers and shards GPU work BEFORE any expensive decode runs.
    // Sample rate and sample count derive deterministically from the
    // byte stream (same stand-in discipline as FakeDecoder: the
    // arithmetic is the real framing math, the media constants are
    // fake), so the oracle verifies the integer framing exactly.
    "mm_audio_windows" -> ((s, d) => {
      decoded(s, d)
        .select(col("doc_id"), col("n_bytes"))
        .withColumn("sample_rate", expr("8000 + (n_bytes % 3) * 4000"))
        // stand-in 1:64 "decompression": 16-bit PCM samples per byte
        .withColumn("n_samples", expr("n_bytes * 64 div 2"))
        .withColumn("win_len", expr("sample_rate div 40"))
        .withColumn("hop_len", expr("sample_rate div 100"))
        .withColumn("n_windows", expr(
          "CASE WHEN n_samples >= win_len" +
            " THEN 1 + (n_samples - win_len) div hop_len" +
            " ELSE CAST(0 AS BIGINT) END"))
        .orderBy(col("doc_id"))
    }),

    // Batch assembly plan: pack the sampled-frame stream into
    // fixed-size minibatches of 32 WITHIN a shard (batching is
    // per-shard at scale — a global row_number would serialize on one
    // partition; per-shard windows parallelize by shard key exactly
    // like the downstream inference tasks they feed).
    // Exact media dedup: identical binary payloads collapse on
    // (content-md5, size) — the first pass of any crawl-scale media
    // pipeline (the same image re-crawled across pages), the binary
    // face of dedup_exact_hash. The md5 matches, the size guards the
    // astronomically-unlikely collision for free. Linear: one digest
    // per blob on the scan, one shuffle on the digest — the blob
    // itself never shuffles. Duplicates synthesized as in
    // Dedup.dupedCorpus (documents has none).
    "mm_dedup_binary" -> ((s, d) => {
      val base = documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      val duped = base.unionByName(
        base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            col("payload")))
      duped
        .groupBy(md5(col("payload")).as("digest"),
          length(col("payload")).cast("long").as("n_bytes"))
        .agg(min(col("doc_id")).as("survivor_id"),
          count(lit(1)).as("n_copies"))
        .filter(col("n_copies") >= 2)
        .select(col("digest"), col("n_bytes"), col("survivor_id"),
          col("n_copies"))
        .orderBy(col("survivor_id"))
    }),

    // Perceptual NEAR-dup over binary payloads — the block-mean hash
    // (Yang et al. 2006): split the byte stream into 60 equal blocks,
    // bit i = (block i's mean byte > the global mean), giving a 60-bit
    // signature that survives small local edits (a re-encoded or
    // lightly-retouched image keeps most block means; mm_dedup_binary's
    // digest match catches only BYTE-identical payloads). Pair
    // generation reuses the shared Dedup.hammingPairs band machinery
    // (4×15-bit pigeonhole, exact bit_count verify — candidates linear
    // in blobs, never all-pairs). On real media the block means come
    // from decoded pixel blocks via the MediaDecoder seam; here the
    // byte stream stands in, exactly like the rest of the family, so
    // the oracle can recompute the identical signature. Integer-exact:
    // block-vs-global mean compares cross-multiplied (bsum·n vs
    // tsum·len), no division. Near-dups synthesized as perturbed
    // copies (first byte flipped — one block's sum moves, Hamming
    // stays within the band radius); blobs under 60 bytes are excluded
    // (empty blocks make the mean test vacuous; list_sum of an empty
    // DuckDB list is NULL while Spark's aggregate seed is 0 — the
    // filter keeps the engines out of that corner entirely).
    "mm_blockhash_neardup" -> ((s, d) => {
      val base = documents(s, d)
        .select(col("doc_id"), col("text"))
        .filter(length(col("text")) >= 60)
      val duped = base.unionByName(
        base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(lit("X"), expr("substring(text, 2)")).as("text")))
      val sigs = duped
        .select(col("doc_id"),
          graft.expressions.BlockMeanHash60
            .blockMeanHash60(col("text")).as("sig"))
      Dedup.hammingPairs(sigs, maxHamming = 3)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // The composed end-to-end MEDIA curation pass — corpus_curate's
    // multimodal sibling, one declared query with a composed oracle:
    // ingest (base blobs + byte-identical re-uploads + lightly
    // retouched re-encodes) → size gate (≥128 bytes) → exact dedup on
    // content digest (survivor = min id) → perceptual near-dup
    // collapse (block-mean-hash banding, Hamming ≤ 3 — the 4×15
    // pigeonhole makes the banded pair set EQUAL to brute force at
    // this radius, which is what lets the oracle brute-force it) →
    // per-stage funnel counts. The drop rule is deterministic greedy
    // min-id (a blob drops iff it Hamming-pairs with a smaller id),
    // the dedup_survivors discipline without needing full connected
    // components. Scale: each stage is a groupBy/anti-join on
    // digest/id keys; the near stage is the banded pair kernel —
    // nothing quadratic, nothing driver-side.
    "mm_curate" -> ((s, d) => {
      val base = documents(s, d).select(col("doc_id"), col("text"))
      val duped = base
        .unionByName(base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(lit("X"), expr("substring(text, 2)")).as("text")))
        .unionByName(base.filter(col("doc_id") % 10 === 5)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      val sized = duped.filter(length(col("text")) >= 128)
      // groups are byte-identical, so min(text) IS the payload
      val exact = sized.groupBy(md5(col("text")).as("dg"))
        .agg(min(col("doc_id")).as("doc_id"), min(col("text")).as("text"))
      val sigs = exact.select(col("doc_id"),
        graft.expressions.BlockMeanHash60
          .blockMeanHash60(col("text")).as("sig"))
      val dropped = Dedup.hammingPairs(sigs, maxHamming = 3)
        .select(col("b_id").as("doc_id")).distinct()
      val near = exact.join(dropped, Seq("doc_id"), "left_anti")
      def stage(order: Long, name: String,
          df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_blobs"),
          sum(length(col("text")).cast("long")).as("total_bytes"))
          .select(lit(order).as("stage"), lit(name).as("stage_name"),
            col("n_blobs"), col("total_bytes"))
      stage(0L, "ingest", duped)
        .unionByName(stage(1L, "size_gate", sized))
        .unionByName(stage(2L, "exact_dedup", exact))
        .unionByName(stage(3L, "neardup_survivors", near))
        .orderBy(col("stage"))
    }),

    // Shot-boundary (scene-cut) segmentation over the frame stream —
    // the classical pixel-intensity-difference baseline: a cut falls
    // between consecutive frames whose energy (per-frame code-point
    // sum, the [[graft.expressions.FrameSums]] one-pass native
    // expression — on real media the decoded frame's pixel sum via the
    // MediaDecoder seam) jumps by more than a mean-shift of 16/byte
    // (|Δsum| > 16·64 = 1024). Segments are runs between cuts; the
    // report per clip is what a video-curation pipeline keys sampling
    // on (one keyframe per SEGMENT beats fixed-stride mm_frame_sample
    // on cuts-heavy content). Integer-exact: sums and deltas are
    // integers, no thresholds on floats. Scale: frame explode is
    // linear in payload bytes; the lag/running-sum windows partition
    // BY CLIP (frames per clip bounded by clip length, never global);
    // the rollup is one (doc, seg) then (doc) aggregate.
    "mm_scene_cuts" -> ((s, d) =>
      sceneSegments(s, d).groupBy(col("doc_id"), col("seg"))
        .agg(count(lit(1)).as("seg_frames"))
        .groupBy(col("doc_id"))
        .agg(sum(col("seg_frames")).as("n_frames"),
          (count(lit(1)) - 1L).as("n_cuts"),
          max(col("seg_frames")).as("longest_seg"))
        .orderBy(col("doc_id"))),

    // Keyframe selection per scene segment — the curation ACTION the
    // scene-cut report feeds: one representative frame per segment
    // (the max-energy frame, ties to the earliest — argmax via the
    // packed-ordinal max_by, the q_argmax_events discipline), instead
    // of mm_frame_sample's fixed stride that oversamples static scenes
    // and misses short ones. Rides the SAME sceneSegments lineage as
    // mm_scene_cuts — a banding change lands on both or neither. Per
    // (clip, segment): frame span, the chosen keyframe, its energy.
    // Scale: identical to mm_scene_cuts (one native-expression scan +
    // per-clip windows) plus one (doc, seg) aggregate.
    "mm_keyframe_select" -> ((s, d) =>
      sceneSegments(s, d)
        .groupBy(col("doc_id"), col("seg"))
        .agg(count(lit(1)).as("seg_frames"),
          min(col("frame_idx")).as("first_frame"),
          max(col("frame_idx")).as("last_frame"),
          // pack (fsum, -frame_idx) so max picks highest energy, then
          // EARLIEST frame: fsum ≤ 64·1114111 < 2^27 per frame, so
          // fsum * 2^32 + (2^32 - 1 - frame_idx) never collides
          max(col("fsum") * lit(4294967296L) +
            (lit(4294967295L) - col("frame_idx"))).as("packed"))
        .select(col("doc_id"), col("seg"), col("seg_frames"),
          col("first_frame"), col("last_frame"),
          (lit(4294967295L) - pmod(col("packed"), lit(4294967296L)))
            .as("keyframe_idx"),
          expr("packed div 4294967296L").as("key_fsum"))
        .orderBy(col("doc_id"), col("seg"))),

    "mm_batch_plan" -> ((s, d) => {
      val frames = decoded(s, d)
        .filter(col("n_frames") > 0)
        .select(col("doc_id"),
          explode(sequence(lit(0L), col("n_frames") - 1L, lit(10L)))
            .as("frame_idx"))
        .withColumn("shard", col("doc_id") % 8)
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("doc_id"), col("frame_idx"))
      frames
        .withColumn("rn", row_number().over(w))
        .withColumn("batch_id", expr("CAST((rn - 1) div 32 AS BIGINT)"))
        .groupBy(col("shard"), col("batch_id"))
        .agg(count(lit(1)).as("n_items"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("shard"), col("batch_id"))
    }),

    // Byte-budget shard packer: next-fit bin packing of the media
    // manifest into ~64 KB shards (the tar/WebDataset-shard planning
    // step that decides which blobs land in which archive file). Blobs
    // are ordered by deterministic hash priority — shuffling sizes so
    // shards mix large and small — then a running byte offset assigns
    // each blob to the shard its START offset falls in (items never
    // split; a shard overshoots by at most one blob). This runs on the
    // MANIFEST (one metadata row per blob — the payload bytes never
    // move until the archiver reads its assigned list), and the
    // prefix sum itself is DistributedRank's range-partitioned
    // two-pass kernel: sampled ranges, per-range byte sums, broadcast
    // cumulative offsets — no single-task WindowExec at any manifest
    // size.
    // Shard INDEX — the .idx companion the shard packer ships beside
    // each archive (WebDataset/tar readers seek by it): per item, its
    // shard, ordinal within the shard, and byte offset FROM THE
    // SHARD'S START (not the global stream), derived from the same
    // deterministic hash-priority order as mm_shard_pack so the two
    // artifacts can never disagree about placement. Same scale
    // contract as the packer: the prefix sum runs over the METADATA
    // manifest only (DistributedRank's two-pass cumsum kernel); the
    // within-shard offset is one min-over-partition on the already
    // computed running total.
    "mm_shard_index" -> ((s, d) => {
      val cap = 65536L
      val manifest = documents(s, d)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_bytes"),
          md5(concat(lit("sp"), col("doc_id").cast("string"))).as("pri"))
      val (withCum, _) = DistributedRank.rankPrefix(
        manifest, Seq(col("pri"), col("doc_id")), "__rn",
        value = Some(col("n_bytes")), cumName = "cum")
      val placed = withCum
        .withColumn("start", col("cum") - col("n_bytes"))
        .withColumn("shard", expr(s"start div $cap"))
      val ws = Window.partitionBy(col("shard"))
      placed
        .withColumn("item_seq", row_number().over(
          Window.partitionBy(col("shard"))
            .orderBy(col("pri"), col("doc_id"))).cast("long"))
        .withColumn("offset_in_shard", col("start") - min(col("start")).over(ws))
        .select(col("shard"), col("item_seq"), col("doc_id"),
          col("n_bytes"), col("offset_in_shard"))
        .orderBy(col("shard"), col("item_seq"))
    }),

    "mm_shard_pack" -> ((s, d) => {
      val cap = 65536L
      val manifest = documents(s, d)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_bytes"),
          md5(concat(lit("sp"), col("doc_id").cast("string"))).as("pri"))
      val (withCum, _) = DistributedRank.rankPrefix(
        manifest, Seq(col("pri"), col("doc_id")), "__rn",
        value = Some(col("n_bytes")), cumName = "cum")
      withCum
        .withColumn("shard", expr(s"(cum - n_bytes) div $cap"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("n_bytes")).as("total_bytes"),
          max(col("n_bytes")).as("max_item_bytes"))
        .orderBy(col("shard"))
    }),

    // A/V alignment plan: map each sampled video frame to the STFT
    // window that contains its timestamp — the pairing step an
    // audio-visual training pipeline runs before emitting co-aligned
    // examples (frame at 25 fps → sample position → hop-quantized
    // window, clamped to the last real window). Every step is integer
    // division on the two per-doc plans; the explode is bounded by
    // the sampled-frame count.
    "mm_av_align" -> ((s, d) => {
      val plan = decoded(s, d)
        .withColumn("sample_rate", expr("8000 + (n_bytes % 3) * 4000"))
        .withColumn("n_samples", expr("n_bytes * 64 div 2"))
        .withColumn("hop_len", expr("sample_rate div 100"))
        .withColumn("win_len", expr("sample_rate div 40"))
        .withColumn("n_windows", expr(
          "CASE WHEN n_samples >= win_len" +
            " THEN 1 + (n_samples - win_len) div hop_len" +
            " ELSE CAST(0 AS BIGINT) END"))
        .filter(col("n_frames") > 0 && col("n_windows") > 0)
      plan
        .select(col("doc_id"), col("sample_rate"), col("hop_len"),
          col("n_windows"),
          explode(sequence(lit(0L), col("n_frames") - 1L, lit(10L)))
            .as("frame_idx"))
        .withColumn("w", least(
          expr("frame_idx * sample_rate div 25 div hop_len"),
          col("n_windows") - 1L))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames_sampled"),
          countDistinct(col("w")).as("n_windows_used"),
          max(col("w")).as("last_window"))
        .orderBy(col("doc_id"))
    }),

    // Blob-size profile: power-of-two size histogram over the media
    // payloads — the storage-planning report (row-group sizing, shard
    // byte budgets, "do we have a long tail of megablobs") every
    // binary-column table needs. Integer log2 via length(bin(n)) - 1:
    // both engines print identical minimal binary strings, so the
    // bucketing is exact without touching libm log2. Pure scan +
    // one groupBy on ≤64 bucket keys.
    "mm_size_hist" -> ((s, d) => {
      documents(s, d)
        .select(octet_length(col("text")).cast("long").as("n_bytes"))
        .withColumn("log2_bucket",
          (length(bin(col("n_bytes"))) - 1).cast("long"))
        .groupBy(col("log2_bucket"))
        .agg(count(lit(1)).as("n_blobs"),
          sum(col("n_bytes")).as("total_bytes"),
          min(col("n_bytes")).as("min_bytes"),
          max(col("n_bytes")).as("max_bytes"))
        .orderBy(col("log2_bucket"))
    })
  )

  /** Shared scene-segmentation lineage under mm_scene_cuts and
    * mm_keyframe_select: per-frame energies from the one-pass native
    * [[graft.expressions.FrameSums]] expression, a cut where the
    * consecutive-frame delta exceeds a 16/byte mean shift, segment id
    * = running cut count. One definition so the report and the
    * keyframe picker can never disagree about where scenes start. */
  private def sceneSegments(s: SparkSession, d: String) = {
    val frames = documents(s, d)
      .filter(length(col("text")) >= 128)
      .select(col("doc_id"),
        posexplode(graft.expressions.FrameSums.frame_sums(col("text"), 64))
          .as(Seq("frame_idx", "fsum")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("cut",
        when(abs(col("fsum") - lag(col("fsum"), 1).over(w)) > 1024, 1L)
          .otherwise(0L))
      .withColumn("seg", sum(col("cut"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Opens the scene oracles' WITH list: code points `t`, 64-char
    * frame sums `frames` and the cut flags `cuts`, mirroring
    * [[sceneSegments]]. */
  private val sceneCutsSql =
    """WITH t AS (
      |  SELECT doc_id, len(text) AS n,
      |    list_transform(range(1, len(text) + 1),
      |      i -> CAST(unicode(substr(text, i, 1)) AS BIGINT)) AS cs
      |  FROM documents WHERE len(text) >= 128),
      |frames AS (
      |  SELECT doc_id, u.f AS frame_idx,
      |    CAST(list_sum(cs[(u.f * 64 + 1):((u.f + 1) * 64)]) AS BIGINT)
      |      AS fsum
      |  FROM t, UNNEST(range(0, n // 64)) u(f)),
      |cuts AS (
      |  SELECT doc_id, frame_idx, fsum,
      |    CASE WHEN abs(fsum - LAG(fsum) OVER (PARTITION BY doc_id
      |      ORDER BY frame_idx)) > 1024 THEN 1 ELSE 0 END AS cut
      |  FROM frames)""".stripMargin

  /** Shared decode stage over the test corpus — stub decoder because
    * the corpus payloads are text bytes (see module note); the real
    * JDK decoder rides the same [[decodeBlobs]] plumbing. */
  private def decoded(s: SparkSession, d: String) = {
    import s.implicits._
    decodeBlobs(
      documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])],
      FakeDecoder)
  }

  /** `t2` (adds the total `tsum`) and the 60-bit block-mean hash `s`
    * (doc_id, sig) over `t(doc_id, n, cs)`, a document's length and
    * code points: one bit per block, set when the block's mean is
    * above the document's, as BlockMeanHash60 computes it. */
  private val blockHashSql = {
    val bits = (0 until 60).map { i =>
      s"(CASE WHEN COALESCE(list_sum(cs[(($i * n) // 60 + 1):" +
        s"((${i + 1} * n) // 60)]), 0) * n" +
        s" > tsum * ((${i + 1} * n) // 60 - ($i * n) // 60)" +
        s" THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    s"""t2 AS (SELECT doc_id, n, cs,
       |  CAST(list_sum(cs) AS BIGINT) AS tsum FROM t),
       |s AS (SELECT doc_id, $bits AS sig FROM t2)""".stripMargin
  }

  override def oracles: Map[String, String] = Map(
    "mm_dedup_binary" ->
      """WITH duped AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents
        |  WHERE doc_id % 10 = 0)
        |SELECT md5(text) AS digest,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies
        |FROM duped GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY survivor_id""".stripMargin,

    // brute-force pair oracle (band recall is pigeonhole-exact at
    // Hamming <= 3, so brute == banded); ASCII corpus makes
    // unicode(char) == Spark's ascii(char) per the family note
    "mm_blockhash_neardup" ->
      s"""WITH duped AS (
         |  SELECT doc_id, text FROM documents WHERE len(text) >= 60
         |  UNION ALL
         |  SELECT doc_id + 100000, 'X' || substr(text, 2)
         |  FROM documents WHERE len(text) >= 60 AND doc_id % 10 = 0),
         |t AS (
         |  SELECT doc_id, CAST(len(text) AS BIGINT) AS n,
         |    list_transform(range(1, len(text) + 1),
         |      i -> CAST(unicode(substr(text, i, 1)) AS BIGINT)) AS cs
         |  FROM duped),
         |$blockHashSql
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  bit_count(xor(a.sig, b.sig)) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY a_id, b_id""".stripMargin,
    "mm_scene_cuts" ->
      s"""$sceneCutsSql,
         |segs AS (
         |  SELECT doc_id,
         |    SUM(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
         |  FROM cuts),
         |per AS (
         |  SELECT doc_id, seg, COUNT(*) AS seg_frames
         |  FROM segs GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(seg_frames) AS BIGINT) AS n_frames,
         |  CAST(COUNT(*) - 1 AS BIGINT) AS n_cuts,
         |  CAST(MAX(seg_frames) AS BIGINT) AS longest_seg
         |FROM per GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    "mm_curate" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         |duped AS (
         |  SELECT doc_id, text FROM base
         |  UNION ALL
         |  SELECT doc_id + 100000, 'X' || substr(text, 2)
         |  FROM base WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000, text FROM base WHERE doc_id % 10 = 5),
         |sized AS (SELECT * FROM duped WHERE len(text) >= 128),
         |exact AS (
         |  SELECT MIN(doc_id) AS doc_id, MIN(text) AS text
         |  FROM sized GROUP BY md5(text)),
         |t AS (
         |  SELECT doc_id, CAST(len(text) AS BIGINT) AS n,
         |    list_transform(range(1, len(text) + 1),
         |      i -> CAST(unicode(substr(text, i, 1)) AS BIGINT)) AS cs
         |  FROM exact),
         |$blockHashSql,
         |dropped AS (
         |  SELECT DISTINCT b.doc_id FROM s a JOIN s b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= 3),
         |near AS (
         |  SELECT * FROM exact
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped))
         |SELECT CAST(0 AS BIGINT) AS stage, 'ingest' AS stage_name,
         |  COUNT(*) AS n_blobs, CAST(SUM(len(text)) AS BIGINT)
         |    AS total_bytes FROM duped
         |UNION ALL
         |SELECT 1, 'size_gate', COUNT(*),
         |  CAST(SUM(len(text)) AS BIGINT) FROM sized
         |UNION ALL
         |SELECT 2, 'exact_dedup', COUNT(*),
         |  CAST(SUM(len(text)) AS BIGINT) FROM exact
         |UNION ALL
         |SELECT 3, 'neardup_survivors', COUNT(*),
         |  CAST(SUM(len(text)) AS BIGINT) FROM near
         |ORDER BY stage""".stripMargin,

    "mm_keyframe_select" ->
      s"""$sceneCutsSql,
         |segs AS (
         |  SELECT doc_id, frame_idx, fsum,
         |    SUM(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
         |  FROM cuts),
         |per AS (
         |  SELECT doc_id, seg, COUNT(*) AS seg_frames,
         |    MIN(frame_idx) AS first_frame, MAX(frame_idx) AS last_frame,
         |    MAX(fsum * 4294967296 + (4294967295 - frame_idx)) AS packed
         |  FROM segs GROUP BY 1, 2)
         |SELECT doc_id, CAST(seg AS BIGINT) AS seg,
         |  CAST(seg_frames AS BIGINT) AS seg_frames,
         |  CAST(first_frame AS BIGINT) AS first_frame,
         |  CAST(last_frame AS BIGINT) AS last_frame,
         |  CAST(4294967295 - packed % 4294967296 AS BIGINT)
         |    AS keyframe_idx,
         |  CAST(packed // 4294967296 AS BIGINT) AS key_fsum
         |FROM per ORDER BY doc_id, seg""".stripMargin,

    // text is pure ASCII in this corpus, so byte length == char length
    // and byte sum == char-code sum; the oracle checks the decode
    // arithmetic without needing blob folds.
    "mm_decode_features" ->
      """SELECT doc_id, len(text) AS n_bytes,
        |  CAST(list_sum(list_transform(range(1, len(text) + 1),
        |    i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))) AS BIGINT)
        |    AS byte_sum,
        |  64 + len(text) % 576 AS width,
        |  64 + (len(text) * 7) % 416 AS height,
        |  len(text) // 100 AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_frame_sample" ->
      """SELECT doc_id, u.f AS frame_idx, u.f * 100 AS byte_offset
        |FROM documents, UNNEST(range(0, len(text) // 100, 10)) u(f)
        |WHERE len(text) >= 100
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "mm_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, 64 + len(text) % 576 AS width,
        |    64 + (len(text) * 7) % 416 AS height
        |  FROM documents)
        |SELECT doc_id, width, height,
        |  CASE WHEN width >= height THEN CAST(224 AS BIGINT)
        |    ELSE width * 224 // height END AS out_w,
        |  CASE WHEN width >= height THEN height * 224 // width
        |    ELSE CAST(224 AS BIGINT) END AS out_h
        |FROM dims ORDER BY doc_id""".stripMargin,

    "mm_audio_windows" ->
      """WITH a AS (
        |  SELECT doc_id, CAST(len(text) AS BIGINT) AS n_bytes,
        |    8000 + (len(text) % 3) * 4000 AS sample_rate,
        |    CAST(len(text) AS BIGINT) * 64 // 2 AS n_samples
        |  FROM documents)
        |SELECT doc_id, n_bytes, sample_rate, n_samples,
        |  sample_rate // 40 AS win_len,
        |  sample_rate // 100 AS hop_len,
        |  CASE WHEN n_samples >= sample_rate // 40
        |    THEN 1 + (n_samples - sample_rate // 40) // (sample_rate // 100)
        |    ELSE CAST(0 AS BIGINT) END AS n_windows
        |FROM a ORDER BY doc_id""".stripMargin,

    "mm_batch_plan" ->
      """WITH frames AS (
        |  SELECT doc_id, u.f AS frame_idx, doc_id % 8 AS shard
        |  FROM documents, UNNEST(range(0, len(text) // 100, 10)) u(f)
        |  WHERE len(text) >= 100),
        |numbered AS (
        |  SELECT shard, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY shard
        |      ORDER BY doc_id, frame_idx) AS rn
        |  FROM frames)
        |SELECT shard, CAST((rn - 1) // 32 AS BIGINT) AS batch_id,
        |  COUNT(*) AS n_items, MIN(doc_id) AS first_doc,
        |  MAX(doc_id) AS last_doc
        |FROM numbered GROUP BY 1, 2 ORDER BY shard, batch_id""".stripMargin,

    "mm_shard_index" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(len(text) AS BIGINT) AS n_bytes,
        |    md5('sp' || CAST(doc_id AS VARCHAR)) AS pri
        |  FROM documents),
        |placed AS (
        |  SELECT doc_id, n_bytes, pri,
        |    SUM(n_bytes) OVER (ORDER BY pri, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - n_bytes AS start
        |  FROM m),
        |sharded AS (
        |  SELECT doc_id, n_bytes, pri, start,
        |    start // 65536 AS shard
        |  FROM placed)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
        |    ORDER BY pri, doc_id) AS BIGINT) AS item_seq,
        |  doc_id, n_bytes,
        |  CAST(start - MIN(start) OVER (PARTITION BY shard) AS BIGINT)
        |    AS offset_in_shard
        |FROM sharded
        |ORDER BY shard, item_seq""".stripMargin,

    "mm_shard_pack" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(len(text) AS BIGINT) AS n_bytes,
        |    md5('sp' || CAST(doc_id AS VARCHAR)) AS pri
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_bytes,
        |    SUM(n_bytes) OVER (ORDER BY pri, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM m)
        |SELECT CAST((cum - n_bytes) // 65536 AS BIGINT) AS shard,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(MAX(n_bytes) AS BIGINT) AS max_item_bytes
        |FROM c GROUP BY 1 ORDER BY shard""".stripMargin,

    "mm_av_align" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(len(text) AS BIGINT) AS n_bytes,
        |    CAST(len(text) // 100 AS BIGINT) AS n_frames,
        |    8000 + (len(text) % 3) * 4000 AS sample_rate,
        |    CAST(len(text) AS BIGINT) * 64 // 2 AS n_samples
        |  FROM documents),
        |plan AS (
        |  SELECT doc_id, sample_rate, n_frames,
        |    sample_rate // 100 AS hop_len,
        |    CASE WHEN n_samples >= sample_rate // 40
        |      THEN 1 + (n_samples - sample_rate // 40)
        |        // (sample_rate // 100)
        |      ELSE CAST(0 AS BIGINT) END AS n_windows
        |  FROM p
        |  WHERE n_frames > 0 AND n_samples >= sample_rate // 40),
        |frames AS (
        |  SELECT doc_id, sample_rate, hop_len, n_windows, u.f AS frame_idx
        |  FROM plan, UNNEST(range(0, n_frames, 10)) u(f)),
        |aligned AS (
        |  SELECT doc_id,
        |    least(frame_idx * sample_rate // 25 // hop_len,
        |      n_windows - 1) AS w
        |  FROM frames)
        |SELECT doc_id, COUNT(*) AS n_frames_sampled,
        |  COUNT(DISTINCT w) AS n_windows_used,
        |  MAX(w) AS last_window
        |FROM aligned GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "mm_size_hist" ->
      """WITH b AS (
        |  SELECT CAST(strlen(text) AS BIGINT) AS n_bytes FROM documents)
        |SELECT CAST(length(bin(n_bytes)) - 1 AS BIGINT) AS log2_bucket,
        |  COUNT(*) AS n_blobs,
        |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  MIN(n_bytes) AS min_bytes, MAX(n_bytes) AS max_bytes
        |FROM b GROUP BY 1 ORDER BY log2_bucket""".stripMargin
  )
}
