package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed batch-at-a-time via mapPartitions (the
  * Scala analogue of a vectorized pandas UDF). Decoding is pluggable
  * ([[Multimodal.MediaDecoder]]): the JDK's `javax.imageio` codecs handle
  * real PNG/JPEG payloads, and a clearly marked deterministic byte-stats
  * STUB terminates the chain for formats with no codec in the JVM —
  * everything around the decoder (schema, batch iteration, partitioning,
  * feature shape) is the real pipeline either way.
  */
object Multimodal {

  /** typed metadata accompanying an opaque media payload */
  final case class MediaMeta(format: String, width: Int, height: Int, nBytes: Long)
  final case class MediaRow(doc_id: Long, payload: Array[Byte], meta: MediaMeta)
  final case class FeatureRow(doc_id: Long, feature: Array[Float], n_frames: Int)

  /** Attach an opaque binary payload + typed metadata to each document.
    * (The fixture has no real media, so the payload is the utf-8 text —
    * the schema and plumbing are what's exercised.)
    */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        lit("img/fake").as("format"),
        lit(64).as("width"),
        lit(64).as("height"),
        length(col("text")).cast("long").as("nBytes")).as("meta"))

  /** Pluggable decode backend: executor-side (Serializable), returns None
    * when this backend cannot decode the payload so [[AutoDecoder]] can
    * chain backends. A production deployment adds a JNI/ONNX-backed
    * implementation; the Spark-side plumbing (batch iteration per
    * partition, schema, feature shape) is identical for all of them.
    */
  trait MediaDecoder extends Serializable {
    def name: String
    def decode(payload: Array[Byte], dim: Int): Option[Array[Float]]
  }

  /** STUB decoder: stands in for image decode + feature extraction when
    * no codec applies. Deterministic fake: a dim-bucket accumulation of
    * byte values — never fails, so it terminates every decoder chain.
    */
  object ByteStatsDecoder extends MediaDecoder {
    val name = "byte-stats-stub"
    def decode(payload: Array[Byte], dim: Int): Option[Array[Float]] = {
      val f = new Array[Float](dim)
      var i = 0
      while (i < payload.length) {
        f(i % dim) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      Some(f)
    }
  }

  /** Real image decoder over the JDK's bundled codecs (PNG/JPEG/BMP/GIF
    * via `javax.imageio` — headless-safe, no native install). Feature =
    * dim-bin luminance histogram normalized by pixel count: deterministic,
    * resolution-invariant, and cheap enough to run inline in the map
    * stage. Returns None for payloads ImageIO cannot parse.
    */
  object ImageIoDecoder extends MediaDecoder {
    val name = "javax-imageio"
    def decode(payload: Array[Byte], dim: Int): Option[Array[Float]] = {
      val img =
        // NonFatal, not just IOException: a codec RuntimeException on a
        // corrupt payload must mean "this backend can't decode it"
        // (→ None, chain continues), never a dead extract stage
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) None
      else {
        val f = new Array[Float](dim)
        val (w, h) = (img.getWidth, img.getHeight)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xff) * 299 +
              ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
            f(math.min(lum * dim / 256, dim - 1)) += 1.0f
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * h).toFloat
        var i = 0
        while (i < dim) { f(i) /= n; i += 1 }
        Some(f)
      }
    }
  }

  /** Default chain: real codecs first, byte-stats stub as the terminal
    * fallback (the fixture's payloads are utf-8 text, so on fixture data
    * this reduces to the stub and existing oracles are unchanged).
    */
  object AutoDecoder extends MediaDecoder {
    val name = "auto"
    def decode(payload: Array[Byte], dim: Int): Option[Array[Float]] =
      ImageIoDecoder.decode(payload, dim)
        .orElse(ByteStatsDecoder.decode(payload, dim))
  }

  /** Real-decode positional feature for image DEDUP (vs the histogram's
    * retrieval shape): `javax.imageio` decode, then an UNNORMALIZED
    * positional fold of integer pixel luminance — f[(y·w+x) mod dim] +=
    * lum. Every accumulation is an exact small integer (≪ 2²⁴, so float
    * addition is lossless), which is what lets a SQL oracle reproduce
    * the vectors bit-for-bit from the pixel bytes and hash-check the
    * whole decode→feature→near-dup composition (mm_neardup). Cosine is
    * scale-invariant, so skipping the normalization changes no
    * downstream similarity. Returns None when ImageIO cannot parse the
    * payload — chain with [[ByteStatsDecoder]] if a terminal fallback is
    * wanted.
    */
  object PixelSumDecoder extends MediaDecoder {
    val name = "imageio-pixel-sum"
    def decode(payload: Array[Byte], dim: Int): Option[Array[Float]] = {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) None
      else {
        // accumulate in Long so per-slot sums stay exact at ANY image
        // size (float accumulation silently loses exactness past 2^24 —
        // a 10 MP image at dim=16 reaches ~1.6e8 per slot); the single
        // final Long→Float conversion is the same rounding the SQL
        // oracle applies to its exact integer sum
        val acc = new Array[Long](dim)
        val (w, h) = (img.getWidth, img.getHeight)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xff) * 299 +
              ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
            acc((y * w + x) % dim) += lum
            x += 1
          }
          y += 1
        }
        val f = new Array[Float](dim)
        var i = 0
        while (i < dim) { f(i) = acc(i).toFloat; i += 1 }
        Some(f)
      }
    }
  }

  /** Render each document's UTF-8 bytes as a REAL `len`×1 RGB PNG —
    * pixel x carries byte value x in all three channels, so after the
    * lossless PNG round-trip the decoded luminance of pixel x is exactly
    * that byte ((299+587+114)/1000 = 1 for r=g=b). Deterministic
    * synthetic media: the decode path is the real ImageIO codec, while
    * every decoded pixel statistic stays a closed-form function of the
    * text a SQL oracle can compute. Empty docs are excluded (a 0-width
    * image cannot encode). Map-only stage, same scale shape as
    * [[extractFeatures]].
    */
  def toPngPayload(docs: DataFrame): DataFrame =
    bytesToPngPayload(docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")))

  /** [[toPngPayload]] over an arbitrary binary column: pixel x carries
    * payload byte x. This is what lets a media pipeline re-encode a
    * DERIVED payload (e.g. the silence-stripped bytes) and feed the same
    * real-codec decode chain — null/empty payloads are excluded (a
    * 0-width image cannot encode).
    */
  def bytesToPngPayload(media: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[MediaRow]
    media.filter(col("payload").isNotNull && length(col("payload")) > 0)
      .select(col("doc_id"), col("payload"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val img = new java.awt.image.BufferedImage(
            bytes.length, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var x = 0
          while (x < bytes.length) {
            val v = bytes(x) & 0xff
            img.setRGB(x, 0, (v << 16) | (v << 8) | v)
            x += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          val png = bos.toByteArray
          MediaRow(id, png, MediaMeta("image/png", bytes.length, 1, png.length.toLong))
        }
      }.toDF()
  }

  /** Batch feature extraction over partitions. Partition-parallel, no
    * shuffle; at 100 TB this is a map-only stage whose parallelism is the
    * input split count.
    */
  def extractFeatures(spark: SparkSession, media: DataFrame, dim: Int = 16,
      decoder: MediaDecoder = AutoDecoder): Dataset[FeatureRow] = {
    implicit val enc = Encoders.product[FeatureRow]
    media.select(col("doc_id"), col("payload")).as(
        Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          FeatureRow(id,
            decoder.decode(payload, dim).getOrElse(new Array[Float](dim)),
            n_frames = 1)
        }
      }
  }

  /** Codec-true image resize: decode via the real `javax.imageio` codec,
    * nearest-neighbor PIXEL rescale — output pixel (x,y) samples source
    * pixel (x·srcW/dstW, y·srcH/dstH), integer division — then re-encode
    * as PNG (the same lossless machinery as [[bytesToPngPayload]]).
    * Because both the sampling rule and the PNG round-trip are exact,
    * every decoded pixel of the OUTPUT is a closed-form function of the
    * input pixels, which is what lets a SQL oracle hash-check the full
    * decode→rescale→re-encode chain (mm_resize). Map-only stage, no
    * shuffle; parallelism is the input split count.
    *
    * Payloads no JVM codec can parse take the byte-sampling terminal
    * fallback (the resize analogue of [[ByteStatsDecoder]] — a real
    * deployment chains a JNI/ffmpeg codec in front): output length is
    * exactly max(1, ceil(nBytes·(w'·h')/(w·h))) with nearest-neighbor
    * byte sampling, so the size/metadata contract holds for every row
    * either way.
    */
  def resize(spark: SparkSession, media: DataFrame,
      targetW: Int, targetH: Int): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    media.select(col("doc_id"), col("payload"), col("meta"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          val img =
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
            catch { case scala.util.control.NonFatal(_) => null }
          if (img != null) {
            val (sw, sh) = (img.getWidth, img.getHeight)
            val out = new java.awt.image.BufferedImage(
              targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_RGB)
            // sampling math in Long: y*sh (or x*sw) overflows Int for
            // large source × target dims, and the min(..) clamp would
            // preserve the wrapped-negative index into getRGB
            var y = 0
            while (y < targetH) {
              val sy = math.min((y.toLong * sh / targetH).toInt, sh - 1)
              var x = 0
              while (x < targetW) {
                out.setRGB(x, y,
                  img.getRGB(math.min((x.toLong * sw / targetW).toInt, sw - 1), sy))
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            val png = bos.toByteArray
            MediaRow(r.doc_id, png,
              MediaMeta("image/png", targetW, targetH, png.length.toLong))
          } else {
            // caller-supplied dims can be garbage on a non-decodable row;
            // a zero/negative area would make scale Infinity and the
            // allocation Int.MaxValue — degrade to ratio 1 instead
            val area = r.meta.width.toLong * r.meta.height
            val scale =
              if (area > 0) targetW.toLong * targetH / area.toDouble else 1.0
            val outLen = math.max(1, math.ceil(r.payload.length * scale).toInt)
            val out = new Array[Byte](outLen)
            // empty payload keeps the 1-byte floor as zeros (sampling from
            // an empty array would index at -1)
            if (r.payload.nonEmpty) {
              var i = 0
              while (i < outLen) {
                out(i) = r.payload((i.toLong * r.payload.length / outLen).toInt
                  .min(r.payload.length - 1))
                i += 1
              }
            }
            MediaRow(r.doc_id, out,
              MediaMeta(r.meta.format, targetW, targetH, outLen.toLong))
          }
        }
      }
  }

  /** Windowed audio energy over a PCM-like payload: bytes as unsigned
    * 8-bit samples, windows of `window` samples every `hop`, per-window
    * EXACT integer energy Σ (b−128)² ([[graft.functions.MediaKernel]] —
    * one codegen'd pass per row, no per-byte explode). Map-only stage:
    * nothing shuffles; rows out = windows, not bytes.
    */
  def audioEnergy(media: DataFrame, window: Int = 256,
      hop: Int = 128): DataFrame =
    media
      .select(col("doc_id"), length(col("payload")).as("len"),
        posexplode(graft.functions.MediaExpressions
          .byteWindowEnergyNative(col("payload"), window, hop)))
      .select(col("doc_id"), col("pos").as("window_no"),
        least(lit(window), col("len") - col("pos") * hop)
          .cast("int").as("n_samples"),
        col("col").as("energy"))

  /** Frame sampling for video-like payloads: emit every nth chunk as a
    * "frame" row (flatMap — the MultiSelection shape from the reference,
    * applied to media).
    */
  def sampleFrames(spark: SparkSession, media: DataFrame, chunk: Int = 64,
      stride: Int = 4): DataFrame =
    // a null payload has no frames — without the filter it would emit a
    // (doc_id, 0, NULL) row (greatest() skips nulls, so the sequence
    // still yields [0]) and NULL frames would cluster downstream
    media.filter(col("payload").isNotNull)
      .select(col("doc_id"), col("payload"),
        explode(sequence(lit(0),
          greatest((length(col("payload")) / chunk - 1).cast("int"), lit(0)),
          lit(stride))).as("frame_no"))
      .select(col("doc_id"), col("frame_no"),
        col("payload").substr(col("frame_no") * chunk + 1, lit(chunk)).as("frame"))

  /** Cross-document repeated-frame detection over [[sampleFrames]] output:
    * one row per distinct frame content appearing MORE than once, with
    * the canonical keep site (smallest (doc_id, frame_no)) and the copy
    * count — the video-frame analogue of [[Dedup.exact]]. The EXCHANGE
    * KEY is the 16-byte md5 of the frame (the same fixed-width-key
    * argument as [[Dedup.persistExactIndex]] — 128 bits has no birthday
    * bound at any corpus size), not the frame bytes themselves: at real
    * video frame sizes (tens of KB) a content-keyed shuffle would carry
    * full frames in every exchange row, where the hash key is 16 bytes
    * regardless of frame width. The content itself rides only inside the
    * pre-shuffle min(struct) partial aggregate — one copy per distinct
    * frame per mapper (map-side combine), needed anyway for the output's
    * frame_hex. Canonical site is that same min(struct), never a
    * per-frame window sort; md5 equality implies content equality within
    * a group, so (doc_id, frame_no) ordering is unchanged.
    */
  def frameDedup(frames: DataFrame): DataFrame =
    frames.groupBy(unhex(md5(col("frame"))).as("fkey"))
      .agg(min(struct(col("doc_id"), col("frame_no"), col("frame"))).as("keep"),
        count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select(hex(col("keep.frame")).as("frame_hex"),
        col("keep.doc_id").as("keep_doc_id"),
        col("keep.frame_no").as("keep_frame_no"), col("n_copies"))

  /** Persist a standing frame-content index for a media corpus: the
    * frames of `media` sampled by [[sampleFrames]], fingerprinted and
    * bucketed through [[Dedup.persistExactIndex]] (content-agnostic —
    * a frame fingerprints to the same 16-byte md5 whether the content
    * column is text or binary). The structure a multimodal ingest keeps
    * warm so arriving video never re-scans the corpus: the index side
    * is distinct hashes bucketed on the hash, zero exchange per probe.
    */
  def persistFrameIndex(
      catalog: graft.storage.SetCatalog, db: String, name: String,
      media: DataFrame, chunk: Int = 64, stride: Int = 4,
      numBuckets: Int = 0,
      advisor: Option[graft.advisor.PlacementAdvisor] = None): Unit =
    Dedup.persistExactIndex(catalog, db, name,
      sampleFrames(media.sparkSession, media, chunk, stride), "frame",
      numBuckets, advisor)

  /** Frame dedup against a [[persistFrameIndex]] set: the media rows
    * (`doc_id`, `payload`) are frame-sampled and every frame flagged with
    * whether its exact content already exists in the stored corpus
    * index — (doc_id, frame_no, is_dup). Each frame's flag depends only
    * on its own bytes plus the index, so
    * `Dedup.streamProbe(stream, framesAgainstStoredIndex(_, …))` is the
    * batching-invariant stream form, and the index is scanned per call.
    */
  def framesAgainstStoredIndex(
      media: DataFrame, catalog: graft.storage.SetCatalog,
      db: String, name: String, chunk: Int = 64, stride: Int = 4): DataFrame =
    Dedup.exactAgainstHashesKeyed(
      sampleFrames(media.sparkSession, media, chunk, stride),
      Dedup.scanExactIndex(catalog, db, name),
      Seq("doc_id", "frame_no"), "frame")

  /** Persist a standing audio-envelope index for a media corpus: each
    * payload's 63-bit delta-sign fingerprint ([[envelopeFingerprint]]),
    * distinct and bucketed on the fingerprint via
    * [[Dedup.persistFingerprintIndex]] — the audio analogue of
    * [[persistFrameIndex]], completing the standing-index family for
    * every media dedup form. The index side never re-shuffles per
    * arrival batch, and the 8-byte key is even lighter in the exchange
    * than the frame index's 16-byte md5.
    */
  def persistEnvelopeIndex(
      catalog: graft.storage.SetCatalog, db: String, name: String,
      media: DataFrame, window: Int = 64, hop: Int = 32,
      minWindows: Int = 8, numBuckets: Int = 0,
      advisor: Option[graft.advisor.PlacementAdvisor] = None,
      targetRowsPerBucket: Long = 1L << 22): Unit =
    Dedup.persistFingerprintIndex(catalog, db, name,
      envelopeFingerprint(media, window, hop, minWindows), "fp",
      numBuckets, advisor, targetRowsPerBucket)

  /** Envelope dedup against a [[persistEnvelopeIndex]] set: the media
    * rows (`doc_id`, `payload`) are envelope-fingerprinted and flagged
    * with whether that envelope already exists in the stored corpus
    * index — (doc_id, is_dup). Docs too short for a discriminative
    * envelope (< minWindows windows) emit no row, exactly like the batch
    * operator. Each doc's flag depends only on its own bytes plus the
    * index, so `Dedup.streamProbe(stream, envelopesAgainstStoredIndex(_,
    * …))` is the batching-invariant stream form, and the index is
    * scanned per call.
    */
  def envelopesAgainstStoredIndex(
      media: DataFrame, catalog: graft.storage.SetCatalog,
      db: String, name: String, window: Int = 64, hop: Int = 32,
      minWindows: Int = 8): DataFrame =
    Dedup.fingerprintsAgainstFps(
      envelopeFingerprint(media, window, hop, minWindows),
      Dedup.scanFingerprintIndex(catalog, db, name),
      Seq("doc_id"), "fp")

  /** ACT form of [[silenceSegments]]: rebuild each payload keeping only
    * its above-threshold windows (non-overlapping — window == hop, so
    * every byte belongs to exactly one window and the rebuild is
    * unambiguous), plus the removed-window count. TWO codegen'd kernel
    * passes per row, both linear: [[graft.functions.ByteWindowStrip]]
    * emits the stripped payload directly (one energy scan + one
    * arraycopy per kept window into a pre-sized buffer — replacing the
    * earlier higher-order `aggregate`/`concat` fold, which copied the
    * growing accumulator per kept window: O(W²·window) bytes for a
    * W-window row, a stalled task at real audio sizes), and
    * [[graft.functions.ByteWindowEnergy]] feeds the removed-window
    * count. Nothing shuffles. A null payload stays null (0 removed),
    * matching the null-in/null-out contract of the other per-row media
    * passes.
    */
  def stripSilence(media: DataFrame, window: Int = 256,
      maxEnergy: Long = 500000L): DataFrame =
    media
      .select(col("doc_id"),
        graft.functions.MediaExpressions
          .byteWindowStripNative(col("payload"), window, maxEnergy)
          .as("payload_stripped"),
        graft.functions.MediaExpressions
          .byteWindowEnergyNative(col("payload"), window, window).as("en"))
      .select(col("doc_id"), col("payload_stripped"),
        expr(
          s"""CASE WHEN en IS NULL OR size(en) = 0 THEN 0
             |     ELSE size(filter(en, e -> e <= ${maxEnergy}L))
             |END""".stripMargin).cast("int").as("n_removed"))

  /** 63-bit energy-envelope fingerprint: bit i set iff window i+1's
    * energy strictly exceeds window i's, over the first 64 windows
    * (delta-sign audio fingerprinting — the envelope SHAPE, robust to
    * uniform gain, cheap to compare). One codegen'd kernel pass for the
    * energies plus one higher-order aggregate for the packing — no
    * per-window explode, no shuffle. Docs with fewer than `minWindows`
    * windows are dropped: a too-short envelope has no discriminative
    * shape and would alias into a handful of hot fingerprints.
    */
  def envelopeFingerprint(media: DataFrame, window: Int = 64, hop: Int = 32,
      minWindows: Int = 8): DataFrame = {
    // a 1-window doc would reach sequence(0, -1), which Spark evaluates
    // as the DESCENDING sequence [0,-1] → shiftleft(1L,-1) garbage; a
    // delta-sign fingerprint needs at least one delta anyway
    require(minWindows >= 2,
      s"envelopeFingerprint needs minWindows >= 2 (one energy delta), got $minWindows")
    media
      .select(col("doc_id"),
        graft.functions.MediaExpressions
          .byteWindowEnergyNative(col("payload"), window, hop).as("en"))
      .filter(size(col("en")) >= minWindows)
      .select(col("doc_id"), expr(
        "aggregate(sequence(0, least(62, size(en) - 2)), 0L, " +
          "(acc, i) -> acc + IF(en[i+1] > en[i], shiftleft(1L, i), 0L))")
        .as("fp"))
  }

  /** Duplicate-envelope groups — the audio analogue of [[Dedup.exact]]:
    * one row per fingerprint shared by MORE than one doc, with the
    * smallest doc as the canonical keep site and the copy count. A
    * groupBy on the 63-bit key (never a self-join), so a hot
    * fingerprint costs one large group, not a quadratic pair set.
    */
  def envelopeDedup(media: DataFrame, window: Int = 64, hop: Int = 32,
      minWindows: Int = 8): DataFrame =
    envelopeFingerprint(media, window, hop, minWindows)
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Low-energy segmentation over [[audioEnergy]] windows: windows whose
    * energy is at or under `maxEnergy` merged into maximal runs of
    * consecutive window numbers per doc (gaps-and-islands, the same
    * merge shape as [[Dedup.duplicateSpans]]' span merge) —
    * (doc_id, seg_start, seg_end, n_windows). The window function is
    * partitioned by doc, so per-doc state is bounded by the doc's own
    * window count; nothing global.
    */
  def silenceSegments(media: DataFrame, window: Int = 256, hop: Int = 128,
      maxEnergy: Long = 500000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("window_no")
    audioEnergy(media, window, hop)
      .filter(col("energy") <= maxEnergy)
      .withColumn("grp", col("window_no") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min("window_no").as("seg_start"), max("window_no").as("seg_end"),
        count(lit(1)).as("n_windows"))
      .drop("grp")
  }
}
