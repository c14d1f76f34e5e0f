package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal-column plumbing: media as opaque `binary` payloads with typed
  * metadata, processed partition-wise. The container has no NATIVE
  * image/audio codecs, so the oracle-checked default decode is a
  * clearly-marked deterministic STUB — but the seam is proven with a real
  * decoder too: [[Multimodal.ImageIOCodec]] decodes PNG/BMP/GIF/JPEG with
  * the JDK's own `javax.imageio` (contract-tested on generated fixtures).
  * The Spark-side contract (schema, partitioning, batch shape, typed
  * Dataset flow) is identical for every codec.
  *
  * The `documents` table stands in for a media table: `payload` is the
  * UTF-8 encoding of `text` (a real pipeline reads image bytes from
  * parquet/object storage the same way — a binary column).
  */
object Multimodal {

  /** m1: binary feature extraction — payload length + content hash, pure
    * built-ins (oracle-checkable: octet_length/sha256 in DuckDB).
    */
  def binaryFeatures(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("byte_len"),
        sha2(col("payload"), 256).as("content_sha256"))
      .orderBy(col("doc_id"))

  case class MediaRecord(doc_id: Long, payload: Array[Byte])
  case class DecodedMedia(doc_id: Long, byte_len: Long, width: Int, height: Int,
                          n_frames: Int, format: String)

  /** The codec seam: everything a decoder must provide, and NOTHING about
    * the plan. `open()` runs once per partition (the amortized-init hook a
    * JNI/javacv decoder needs — codec tables, native contexts) and returns
    * the per-payload decode function. Swapping implementations changes no
    * schema, no partitioning, no operator shape — the contract suite runs
    * the same assertions against [[StubCodec]] and a second fake codec to
    * pin exactly that.
    */
  trait MediaCodec extends Serializable {
    /** (width, height, n_frames, format) for one payload. */
    def open(): Array[Byte] => (Int, Int, Int, String)
  }

  /** STUB decoder ??? — replace with a real codec (e.g. javacv / JNI) in a
    * production image. Deterministic fake: dimensions derived from a hash
    * of the payload so tests are stable. The hash is the engine-portable
    * Rabin–Karp polynomial ([[graft.expressions.RollingHash.hashBytes]]),
    * which a DuckDB list_reduce reproduces byte-for-byte — so even the
    * stubbed decode path is fully oracle-checkable. Runs partition-wise
    * with one "decoder init" per partition — the same batch shape a real
    * decoder needs (expensive init amortized across a partition's records,
    * the Scala analog of pandas-batched UDFs).
    */
  def decodeStub(payload: Array[Byte]): (Int, Int, Int, String) = {
    val h = graft.expressions.RollingHash.hashBytes(payload) // in [0, 2^61-1)
    val w = 64 + (h % 1024).toInt
    val ht = 64 + ((h / 1024) % 1024).toInt
    val frames = 1 + ((h / (1L << 20)) % 16).toInt
    val fmt = if (h % 2 == 0) "img" else "vid"
    (w, ht, frames, fmt)
  }

  /** Default codec: the deterministic stub above (no per-partition state
    * to initialize, so `open()` just returns the pure function).
    */
  object StubCodec extends MediaCodec {
    def open(): Array[Byte] => (Int, Int, Int, String) = decodeStub
  }

  /** REAL decoder for formats the JDK ships codecs for (PNG, BMP, GIF,
    * JPEG via `javax.imageio` — no native deps). `open()` resolves the
    * reader registry once per partition and disables ImageIO's disk
    * cache (payloads are already in memory), the amortized-init shape the
    * seam exists for; per payload it reads only the header descriptor
    * (width/height/format) plus the frame count, never the pixel planes.
    * Frame count uses `getNumImages(allowSearch = true)` so animated GIFs
    * report their real frame total; single-frame formats return 1.
    */
  class ImageIOCodec extends MediaCodec {
    def open(): Array[Byte] => (Int, Int, Int, String) = {
      javax.imageio.ImageIO.setUseCache(false) // in-memory payloads only
      payload => {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          require(readers.hasNext, "no ImageIO reader recognizes this payload")
          val reader = readers.next()
          try {
            reader.setInput(iis)
            (reader.getWidth(0), reader.getHeight(0),
              reader.getNumImages(true), reader.getFormatName.toLowerCase)
          } finally reader.dispose()
        } finally iis.close()
      }
    }
  }

  /** Partition-wise decode of an arbitrary media Dataset — the operator
    * every `(spark, dir)` entry point delegates to, and the one a caller
    * with real image bytes uses directly.
    */
  def decodeRecords(media: Dataset[MediaRecord],
                    codec: MediaCodec = StubCodec): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { records =>
      val decode = codec.open() // per-partition decoder init (amortized)
      records.map { r =>
        val (w, h, frames, fmt) = decode(r.payload)
        DecodedMedia(r.doc_id, r.payload.length.toLong, w, h, frames, fmt)
      }
    }
  }

  /** Partition-wise decode of binary payloads into typed metadata. */
  def decodeAll(spark: SparkSession, dir: String,
                codec: MediaCodec = StubCodec): Dataset[DecodedMedia] = {
    import spark.implicits._
    val media = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRecord]
    decodeRecords(media, codec)
  }

  case class ResizedMedia(doc_id: Long, width: Int, height: Int, payload_len: Long)
  case class FrameSample(doc_id: Long, frame_idx: Int, frame_hash: Long)

  /** STUB resize ??? — a real implementation scales pixel buffers; the
    * deterministic fake halves dimensions and "re-encodes" to a smaller
    * payload length. Same partition-wise batch shape as [[decodeAll]].
    */
  def resizeDecoded(decoded: Dataset[DecodedMedia],
                    maxDim: Int = 256): Dataset[ResizedMedia] = {
    import decoded.sparkSession.implicits._
    decoded.mapPartitions { records =>
      records.map { d =>
        val scale = math.max(1, math.max(d.width, d.height) / maxDim)
        ResizedMedia(d.doc_id, d.width / scale, d.height / scale,
          d.byte_len / (scale.toLong * scale))
      }
    }
  }

  def resizeAll(spark: SparkSession, dir: String,
                maxDim: Int = 256,
                codec: MediaCodec = StubCodec): Dataset[ResizedMedia] =
    resizeDecoded(decodeAll(spark, dir, codec), maxDim)

  /** STUB frame sampler ??? — emits every `stride`-th frame index with a
    * deterministic per-frame hash (a real implementation seeks and decodes
    * frames). One input row fans out to n_frames/stride rows — the
    * flatMap-shaped operator a video pipeline needs.
    */
  def sampleFramesDecoded(decoded: Dataset[DecodedMedia],
                          stride: Int = 4): Dataset[FrameSample] = {
    import decoded.sparkSession.implicits._
    decoded.flatMap { d =>
      (0 until d.n_frames by stride).map { i =>
        FrameSample(d.doc_id, i, d.doc_id * 31L + i)
      }
    }
  }

  def sampleFrames(spark: SparkSession, dir: String,
                   stride: Int = 4,
                   codec: MediaCodec = StubCodec): Dataset[FrameSample] =
    sampleFramesDecoded(decodeAll(spark, dir, codec), stride)

  case class PixelFrameSample(doc_id: Long, frame_idx: Int, width: Int,
                              height: Int, mean_lum: Double, frame_phash: Long)

  /** REAL frame sampler through the ImageIO seam: decodes every
    * `stride`-th frame of a multi-frame payload (GIF is the JDK's
    * animated format — `reader.read(i)` seeks frame i without decoding
    * the skipped ones' pixel planes), converts each sampled frame to the
    * SAME 8-bit luminance plane the real-pixel m5 path fingerprints
    * ([[luminancePlane]]), and emits the frame's mean luminance plus its
    * 52-bit block-mean hash — the per-frame signal a video near-dup pass
    * bands on, exactly the way [[mediaNearDupPairs]] consumes the m5
    * hashes. Same flatMap fan-out shape, partitioning and amortized
    * per-partition decoder init as the stub sampler, so the plan (and its
    * 100 TB cost model: one decoder per partition, rows ∝ frames/stride,
    * no shuffle) is identical; only the codec is real. Frames are taken
    * as the reader stores them (GIF delta frames surface at their own
    * raster size — compositing disposal methods is codec policy, not
    * plumbing, and the contract fixtures write full frames).
    */
  def pixelFrameSamples(media: Dataset[MediaRecord],
                        stride: Int = 4): Dataset[PixelFrameSample] = {
    import media.sparkSession.implicits._
    media.mapPartitions { records =>
      javax.imageio.ImageIO.setUseCache(false) // in-memory payloads only
      records.flatMap { r =>
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          require(readers.hasNext, "no ImageIO reader recognizes this payload")
          val reader = readers.next()
          try {
            reader.setInput(iis)
            val n = reader.getNumImages(true)
            // materialize before the reader is disposed: the iterator the
            // caller drains outlives this record's try/finally scope
            (0 until n by stride).map { i =>
              val img = reader.read(i)
              val lum = luminancePlane(img)
              var s = 0L; var k = 0
              while (k < lum.length) { s += (lum(k) & 0xff); k += 1 }
              PixelFrameSample(r.doc_id, i, img.getWidth, img.getHeight,
                s.toDouble / lum.length,
                graft.expressions.BlockMeanHash.hashBytes(lum))
            }.toVector
          } finally reader.dispose()
        } finally iis.close()
      }
    }
  }

  /** m12 fixture geometry — 104×26 = 2704 pixels: 52 blocks of 52 bytes
    * for [[graft.expressions.BlockMeanHash]], exactly 2 blocks per row, so
    * a ROW split moves block bits (the m3-real-frames contract geometry).
    * All constants interpolate into the DuckDB twin.
    */
  val PixelW = 104
  val PixelH = 26
  /** m12 frame stride (every 3rd frame is decoded). */
  val PixelStride = 3
  /** m12 shades: exact GIF palette entries, and BT.601 on gray (v,v,v)
    * returns v exactly — the decoded luminance plane is closed-form.
    */
  val PixelDark = 40
  val PixelBright = 200
  /** m12 split-row modulus: frame (d,i) is dark for its top
    * `1 + (d·5 + i·3) mod PixelSplitMod` rows — always ≥1 dark and ≥2
    * bright rows, so the block hash is always `2^52 − 2^(2s)`.
    */
  val PixelSplitMod = 24

  /** Deterministic animated-GIF corpus keyed on `documents.doc_id` — the
    * m12 fixture generator: doc d carries `2 + d mod 7` frames, frame i a
    * [[PixelW]]×[[PixelH]] raster whose top `s(d,i)` rows are gray
    * [[PixelDark]] and the rest [[PixelBright]]. Both shades are exact
    * GIF palette entries, so the JDK's GIF codec round-trips the pixels
    * losslessly and every downstream stat is computable in closed form
    * from (d, i) alone — which is what lets a REAL pixel decode be
    * oracle-checked by an engine with no image codec. Encoder init
    * (ImageIO SPI resolution) is per-partition, one payload per record —
    * the same amortized batch shape the decode seam uses, no shuffle.
    */
  def syntheticGifMedia(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false) // in-memory payloads only
        val spi = javax.imageio.ImageIO.getImageWritersByFormatName("gif")
          .next().getOriginatingProvider // per-partition registry lookup
        // two-entry indexed palette (r16, guide §1.2 step 2 / §5): writing
        // TYPE_INT_RGB frames made GIFImageWriter re-derive a palette via
        // its octree quantizer for EVERY frame — per-pixel tree inserts and
        // node allocation that dominated the encode and drove the
        // 32-thread GC pressure the r15 scaling block flagged (m12 ratio
        // 0.19). An explicit IndexColorModel holding exactly the two gray
        // shades is written as-is (no quantization pass), and the raster
        // rows are filled as primitive bytes instead of 2704 setRGB calls
        // per frame. Decoded pixels are bit-identical — both shades were
        // always exact palette entries (MultimodalSpec pins pixel
        // exactness; the closed-form oracle contract is unchanged).
        val icm = new java.awt.image.IndexColorModel(8, 2,
          Array(PixelDark.toByte, PixelBright.toByte),
          Array(PixelDark.toByte, PixelBright.toByte),
          Array(PixelDark.toByte, PixelBright.toByte))
        ids.map { d =>
          val nFrames = (2 + d % 7).toInt
          val baos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
          val writer = spi.createWriterInstance()
          try {
            writer.setOutput(ios)
            writer.prepareWriteSequence(null)
            (0 until nFrames).foreach { i =>
              val s = (1 + (d * 5 + i * 3) % PixelSplitMod).toInt
              val img = new java.awt.image.BufferedImage(
                PixelW, PixelH, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
              val data = img.getRaster.getDataBuffer
                .asInstanceOf[java.awt.image.DataBufferByte].getData
              // TYPE_BYTE_INDEXED is one byte per pixel, row-major with no
              // scanline padding for a fresh BufferedImage: dark rows are
              // index 0, bright rows index 1
              java.util.Arrays.fill(data, 0, s * PixelW, 0.toByte)
              java.util.Arrays.fill(data, s * PixelW, PixelH * PixelW, 1.toByte)
              writer.writeToSequence(
                new javax.imageio.IIOImage(img, null, null), null)
            }
            writer.endWriteSequence()
          } finally { writer.dispose(); ios.close() }
          MediaRecord(d, baos.toByteArray)
        }
      }
  }

  /** m12: REAL-pixel frame statistics — the graded registration of
    * [[pixelFrameSamples]] (the r7 verdict's one "weak" row): every
    * document's synthetic animated GIF ([[syntheticGifMedia]]) is decoded
    * frame-by-frame with the JDK's actual GIF codec at stride
    * [[PixelStride]], each sampled frame fingerprinted on its decoded
    * luminance plane, then re-aggregated per document (sample count,
    * mean luminance, phash checksum, distinct-phash count). Nothing in
    * the decode path is stubbed; the oracle checks it anyway because the
    * fixture pixels are closed-form in (doc_id, frame_idx): mean_lum =
    * (s·dark + (H−s)·bright)/H and phash = 2^52 − 2^(2s) exactly (the
    * m3-real-frames contract, proven pixel-exact in MultimodalSpec).
    *
    * Scale shape: encode and decode are both per-partition flatMap work —
    * rows ∝ frames/stride, one codec init per partition, no shuffle
    * before the final per-doc aggregation. The 100 TB cost model is the
    * real video pipeline's: linear scan, decoder amortized, partition
    * output bounded by its own documents' frame counts.
    */
  def pixelFrameStats(spark: SparkSession, dir: String): DataFrame =
    pixelFrameSamples(syntheticGifMedia(spark, dir), PixelStride)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_sampled"),
        round(avg(col("mean_lum")) + lit(1e-9), 4).as("avg_lum"),
        sum(col("frame_phash")).cast("long").as("sum_phash"),
        countDistinct(col("frame_phash")).cast("long").as("n_distinct_phash"))
      .orderBy(col("doc_id"))

  /** m13's cut threshold: a sampled-frame luminance jump above this many
    * levels is flagged as a shot boundary. Interpolated into the twin.
    */
  val ShotDeltaThreshold = 30.0

  /** m13: shot-boundary detection — the temporal extension of m12: the
    * same REAL GIF frame decode, but now consecutive sampled frames are
    * compared (|Δ mean luminance|, the classic hard-cut detector a video
    * curation pass runs to split payloads into shots before sampling
    * training clips). Per document: transition count, cut count at
    * [[ShotDeltaThreshold]], and the largest jump.
    *
    * Scale shape: the lag window is PARTITIONED per document and ordered
    * by frame index — a partition never outgrows its own document's
    * frame count, the same bound the d21 gaps-and-islands window rides;
    * everything else is the m12 decode pipeline (per-partition codec
    * init, no shuffle until the per-doc aggregation). Deltas bind on the
    * 4dp-rounded value so the cut verdict is pinned across engines.
    */
  def shotBoundaries(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    pixelFrameSamples(syntheticGifMedia(spark, dir), PixelStride)
      .toDF()
      .withColumn("delta",
        round(abs(col("mean_lum") - lag(col("mean_lum"), 1).over(w)) + lit(1e-9), 4))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_sampled"),
        count(col("delta")).cast("long").as("n_transitions"),
        sum(when(col("delta") > ShotDeltaThreshold, 1L).otherwise(0L))
          .cast("long").as("n_cuts"),
        round(coalesce(max(col("delta")), lit(0.0)), 4).as("max_delta"))
      .orderBy(col("doc_id"))
  }

  /** m3's frame stride (every 4th frame — the historical m3 cadence,
    * distinct from m12's [[PixelStride]]). Interpolated into the twin.
    */
  val FrameSampleStride = 4

  /** m3: per-document frame-sample aggregation — the flatMap fan-out of
    * the frame sampler re-aggregated (count + fingerprint checksum per
    * doc). Since r9 the registered form rides the REAL pixel sampler
    * ([[pixelFrameSamples]] over [[syntheticGifMedia]], JDK GIF codec,
    * stride [[FrameSampleStride]]) — the stub sampler
    * ([[sampleFrames]]/[[decodeStub]]) survives only as the documented
    * metadata-decode seam default for m1/m2/m4 and as spec fixtures.
    * `sum_hash` is the checksum of real 52-bit block-mean frame hashes;
    * the oracle replays it in closed form because the fixture pixels are
    * deterministic in (doc_id, frame_idx) — the same m12 contract,
    * at m3's own stride and column surface.
    */
  def frameSampleStats(spark: SparkSession, dir: String): DataFrame =
    pixelFrameSamples(syntheticGifMedia(spark, dir), FrameSampleStride)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_sampled"),
        sum(col("frame_phash")).cast("long").as("sum_hash"))
      .orderBy(col("doc_id"))

  /** Welford running-moment accumulator — the numerically-stable
    * streaming form of (count, mean, variance): partials merge with the
    * standard parallel-variance formula, so the aggregation is map-side
    * combinable like any built-in.
    */
  case class Moments(n: Long, mean: Double, m2: Double)

  /** Typed `Aggregator` over the decoded-media Dataset — the
    * Encoder-based rung of the extension ladder (next to the
    * TypedImperativeAggregate BottomKSample and the codegen'd
    * expressions): business logic as plain Scala on case classes, yet
    * planned as a real two-phase aggregate, not a collect.
    */
  object ByteLenMoments
      extends org.apache.spark.sql.expressions.Aggregator[DecodedMedia, Moments, Moments] {
    def zero: Moments = Moments(0L, 0.0, 0.0)
    def reduce(b: Moments, a: DecodedMedia): Moments = {
      val n1 = b.n + 1
      val d = a.byte_len.toDouble - b.mean
      val mean1 = b.mean + d / n1
      Moments(n1, mean1, b.m2 + d * (a.byte_len.toDouble - mean1))
    }
    def merge(x: Moments, y: Moments): Moments = {
      if (x.n == 0) y
      else if (y.n == 0) x
      else {
        val n = x.n + y.n
        val d = y.mean - x.mean
        Moments(n, x.mean + d * y.n / n,
          x.m2 + y.m2 + d * d * x.n * y.n / n)
      }
    }
    def finish(r: Moments): Moments = r
    def bufferEncoder = org.apache.spark.sql.Encoders.product[Moments]
    def outputEncoder = org.apache.spark.sql.Encoders.product[Moments]
  }

  /** m4: typed per-format moments via the [[ByteLenMoments]] Aggregator —
    * `groupByKey(...).agg(agg.toColumn)` over the typed Dataset, then the
    * sample variance from the merged M2. Oracle-checked against DuckDB's
    * avg/var_samp (mathematically identical; the merge-order float noise
    * is absorbed by the rounding nudge).
    */
  def typedFormatMoments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeAll(spark, dir)
      .groupByKey(_.format)
      .agg(ByteLenMoments.toColumn.name("m"))
      .select(col("key").as("format"),
        col("m.n").as("n_media"),
        round(col("m.mean") + lit(1e-9), 4).as("mean_len"),
        // var_samp semantics: a single-member group has NO sample
        // variance — null, like the built-in, never NaN from 0/0
        when(col("m.n") > 1,
          round(col("m.m2") / (col("m.n") - 1).cast("double") + lit(1e-9), 4))
          .as("var_len"))
      .orderBy(col("format"))
  }

  /** m2: downstream aggregation over decoded metadata — proves the decoded
    * Dataset composes with normal relational ops. Fully oracle-checked: the
    * stub's rolling-hash is reproduced in DuckDB SQL.
    */
  def formatStats(spark: SparkSession, dir: String): DataFrame =
    decodeAll(spark, dir)
      .groupBy(col("format"))
      .agg(
        count(lit(1)).cast("long").as("n_media"),
        round(avg(col("width")), 2).as("avg_width"),
        round(avg(col("height")), 2).as("avg_height"),
        max(col("n_frames")).as("max_frames"))
      .orderBy(col("format"))

  /** m5: perceptual media fingerprints — the 52-bit block-mean aHash
    * ([[graft.expressions.BlockMeanHash]]) of every payload, the
    * first-line image-dedup signal (re-encodes and metadata-stripped
    * copies of the same media collide exactly; small edits land a few
    * hamming bits away). Map-side only: one codegen'd expression per row,
    * no shuffle except the presentation sort — per-row cost is identical
    * at 100 TB.
    */
  def perceptualHashes(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.BlockMeanHash.register(spark)
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("byte_len"),
        expr("block_mean_hash(payload)").as("phash"))
      .orderBy(col("doc_id"))
  }

  /** 8-bit luminance plane of a decoded image, row-major — integer BT.601
    * weights (exact for gray pixels, deterministic for color). Shared by
    * the real-pixel perceptual-hash path and the real frame sampler so
    * both fingerprint the same plane a re-encode preserves.
    */
  private[multimodal] def luminancePlane(
      img: java.awt.image.BufferedImage): Array[Byte] = {
    val w = img.getWidth; val h = img.getHeight
    val lum = new Array[Byte](w * h)
    def lumOf(rgb: Int): Byte = (((rgb >> 16 & 0xFF) * 299 +
      (rgb >> 8 & 0xFF) * 587 + (rgb & 0xFF) * 114) / 1000).toByte
    img.getColorModel match {
      // indexed fast path (r16, guide §1.2 step 2): GIF decodes to a
      // single-band TYPE_BYTE_INDEXED raster — per-pixel getRGB walks the
      // IndexColorModel for every pixel, so precompute the ≤256-entry
      // palette→luminance table once per frame and map the raster bytes
      // directly. Same integer BT.601 weights on the same palette RGB
      // values: output bytes identical to the per-pixel path (pinned by
      // the unchanged MultimodalSpec pixel-exactness fixtures).
      case icm: java.awt.image.IndexColorModel
          if img.getRaster.getNumBands == 1 =>
        val table = new Array[Byte](icm.getMapSize)
        var k = 0
        while (k < table.length) { table(k) = lumOf(icm.getRGB(k)); k += 1 }
        // getSamples handles every single-band layout the GIF decoder
        // produces (byte-per-pixel ComponentSampleModel for ≥16-color
        // palettes, bit-packed MultiPixelPackedSampleModel for 2/4-color)
        val idx = img.getRaster.getSamples(0, 0, w, h, 0, new Array[Int](w * h))
        var j = 0
        while (j < idx.length) { lum(j) = table(idx(j)); j += 1 }
      case _ =>
        // bulk getRGB (one JNI-free array call per frame) instead of w·h
        // individual BufferedImage.getRGB calls
        val rgbs = img.getRGB(0, 0, w, h, null, 0, w)
        var k = 0
        while (k < rgbs.length) { lum(k) = lumOf(rgbs(k)); k += 1 }
    }
    lum
  }

  /** [[perceptualHashes]] over REAL decoded pixels: each payload is
    * decoded with the JDK's `javax.imageio` (the [[ImageIOCodec]] seam's
    * library, here reading the full pixel planes, not just headers),
    * converted to an 8-bit luminance plane row-major (integer BT.601
    * weights — exact for gray pixels, deterministic for color), and the
    * luminance bytes flow through the SAME codegen'd `block_mean_hash`
    * expression the registered m5 ships. Lossless re-encodes of the same
    * pixels (PNG↔BMP) collide exactly; small pixel edits land a few
    * hamming bits away — the property [[mediaNearDupPairs]] retrieves on.
    * Partition-wise decode (per-partition ImageIO init), map-side hash:
    * the m5 cost model is unchanged at any corpus size.
    */
  def pixelPerceptualHashes(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    graft.expressions.BlockMeanHash.register(spark)
    media.mapPartitions { records =>
      javax.imageio.ImageIO.setUseCache(false) // in-memory payloads only
      records.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        require(img != null, "no ImageIO reader recognizes this payload")
        (r.doc_id, luminancePlane(img))
      }
    }.toDF("doc_id", "pixels")
      .select(col("doc_id"),
        length(col("pixels")).cast("long").as("byte_len"),
        expr("block_mean_hash(pixels)").as("phash"))
      .orderBy(col("doc_id"))
  }

  /** m7: audio-style frame-energy profile — every payload's byte stream cut
    * into 256-sample frames by the codegen'd
    * [[graft.expressions.PcmFrameEnergies]] expression, then reduced
    * map-side to the per-document loudness summary (frame count, total
    * energy, peak frame and its energy) an audio curation pass filters on
    * (silence trim, clipping detection, loudness capping). Integer
    * arithmetic end-to-end — the DuckDB twin replays the exact frame sums
    * from the same UTF-8 bytes, so the query is hash-checked, not
    * rows-only. Shuffle-free except the presentation sort: one expression
    * + array reductions per row, the same per-row cost at any corpus size.
    * Peak tie-break: `array_position` returns the FIRST maximal frame,
    * matching DuckDB's `list_position` — earliest peak wins on both
    * engines. Empty payloads report zero frames and NULL peaks on both.
    */
  def audioEnergyProfile(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.PcmFrameEnergies.register(spark)
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"), expr("pcm_frame_energies(payload)").as("en"))
      .select(
        col("doc_id"),
        size(col("en")).cast("long").as("n_frames"),
        coalesce(aggregate(col("en"), lit(0L), (a, x) => a + x), lit(0L))
          .as("total_energy"),
        when(size(col("en")) > 0,
          (array_position(col("en"), array_max(col("en"))) - 1).cast("long"))
          .as("peak_frame"),
        when(size(col("en")) > 0, array_max(col("en"))).as("peak_energy"))
      .orderBy(col("doc_id"))
  }

  /** Keyframes kept per media payload by [[keyframes]] — interpolated into
    * the DuckDB twin.
    */
  val KeyframesPerDoc = 3

  /** m8: scene-change keyframe selection — per payload, the `k` frames
    * with the largest energy DELTA against their predecessor (frame 0's
    * delta is its own energy: the cut from silence/black). The frame-diff
    * heuristic every video curation pass uses to pick representative
    * frames for captioning/embedding without decoding the full stream —
    * here over the same [[graft.expressions.PcmFrameEnergies]] frames as
    * m7, so the whole chain is integer-exact and the DuckDB twin replays
    * it byte-for-byte (hash-checked, not rows-only).
    *
    * Shape: one codegen'd expression per row, the lag and the rank both
    * inside a PER-DOCUMENT window (frame count is bounded by payload
    * size; documents parallelize freely), presentation sort only at the
    * end. Ties rank earliest-frame-first on both engines.
    */
  def keyframes(spark: SparkSession, dir: String,
                k: Int = KeyframesPerDoc): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.expressions.PcmFrameEnergies.register(spark)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val rankW = Window.partitionBy(col("doc_id"))
      .orderBy(col("diff_energy").desc, col("frame_idx").asc)
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"), expr("pcm_frame_energies(payload)").as("en"))
      .select(col("doc_id"), posexplode(col("en")).as(Seq("fi", "energy")))
      .select(col("doc_id"), col("fi").cast("long").as("frame_idx"), col("energy"))
      .withColumn("diff_energy",
        abs(col("energy") - coalesce(lag(col("energy"), 1).over(byDoc), lit(0L))))
      .withColumn("rnk", row_number().over(rankW).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** m9's loudness threshold: a frame is "loud" when its energy clears
    * frameLen · this — i.e. mean squared deviation > 2048 (RMS ≈ 45 of
    * 128) from the DC midpoint. On the UTF-8 stand-in corpus this lands
    * BETWEEN letter-only frames (~36–961 per sample) and space/digit-mixed
    * frames (space = 9216), so both verdicts genuinely occur.
    * Interpolated into the DuckDB twin.
    */
  val SilenceEnergyPerSample = 2048L

  /** m9: silence trim — per payload, the first and last LOUD frame (energy
    * above [[SilenceEnergyPerSample]]·frameLen) plus loud/total frame
    * counts: the leading/trailing-silence removal pass audio curation runs
    * before any transcription or embedding work. Array-level min/max over
    * m7's integer frame energies — wholly map-side, one expression per
    * row, no shuffle but the presentation sort; all-quiet payloads report
    * NULL trim points and survive (the caller decides whether silence-only
    * media is droppable). Integer end-to-end like m7/m8, so the twin
    * replays it exactly.
    */
  def silenceTrim(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.PcmFrameEnergies.register(spark)
    val thr = SilenceEnergyPerSample *
      graft.expressions.PcmFrameEnergies.FrameLen
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"), expr("pcm_frame_energies(payload)").as("en"))
      .select(col("doc_id"), col("en"),
        filter(transform(col("en"), (e, i) => when(e > thr, i)),
          x => x.isNotNull).as("loud"))
      .select(
        col("doc_id"),
        size(col("en")).cast("long").as("n_frames"),
        size(col("loud")).cast("long").as("n_loud"),
        when(size(col("loud")) > 0, element_at(col("loud"), 1).cast("long"))
          .as("first_loud"),
        when(size(col("loud")) > 0, element_at(col("loud"), -1).cast("long"))
          .as("last_loud"))
      .orderBy(col("doc_id"))
  }

  /** Near-duplicate media pairs over [[perceptualHashes]]' fingerprints —
    * multi-index hashing (Norouzi et al., "Fast Search in Hamming Space
    * with Multi-Index Hashing"): the 52-bit signature splits into
    * `maxHamming + 1` disjoint bands, so by pigeonhole any pair within the
    * radius collides on at least one band UNTOUCHED by the differing bits
    * — recall is EXACT, and the true hamming verify on candidates makes
    * precision exact too. Band boundaries follow ⌊j·52/B⌋ so uneven widths
    * (6/7 bits at B=8) distribute fairly. Works on ANY (doc_id, phash)
    * frame so real image fingerprints ([[pixelPerceptualHashes]]) ride the
    * same operator. Scale note: band COUNT is fixed by the radius (that is
    * the algorithm), so per-band bucket occupancy grows with the corpus —
    * once it outgrows the 52-bit base key space the signature WIDENS:
    * [[mediaDedupClustersAuto]] derives the extra per-chunk key bits from
    * the corpus count ([[graft.operators.Dedup.deriveExtraBandBits]]) and
    * funds them with the block-gradient hash ([[mediaNearDupPairsWide]]).
    * This base form is the derivation's `extra = 0` case — the 52-bit
    * DuckDB-replayable width the oracle contract pins at gate scales.
    */
  def mediaNearDupPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame =
    // verify BEFORE collapsing band multiplicity (r9): at radius 7 the 8
    // bands are only 6–7 bits wide, so the band join's raw collision
    // volume is enormous relative to true pairs (167M rows → 196k pairs
    // at the 10× soak) — the codegen'd bit_count costs ~nothing per row,
    // while `.distinct()` is a full shuffle of whatever it is fed.
    // Filtering first shrinks that shuffle by ~three orders of
    // magnitude; the result is identical (hamming is pair-determined).
    mediaBandCandidates(hashes, maxHamming)
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
      .orderBy(col("id_a"), col("id_b"))

  /** Shared m5/m6 candidate stage: the pigeonhole band self-join over a
    * (doc_id, phash) frame — RAW band matches (multiplicity up to the
    * band count), each carrying both signatures so the Hamming verify
    * needs no join; callers filter first, THEN collapse multiplicity
    * (see [[mediaNearDupPairs]]).
    */
  private[graft] def mediaBandCandidates(hashes: DataFrame,
                                         maxHamming: Int): DataFrame = {
    val bands = mediaBands(hashes, maxHamming)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.phash").as("ha"), col("b.phash").as("hb"))
  }

  /** The m5/m6 band layout alone — `(doc_id, phash, band, bkey)`, one
    * row per (doc, band).
    */
  private[graft] def mediaBands(hashes: DataFrame,
                                maxHamming: Int): DataFrame = {
    val nBits = graft.expressions.BlockMeanHash.Bits
    val nBands = maxHamming + 1
    val bandExprs = (0 until nBands).map { j =>
      val start = j * nBits / nBands
      val width = (j + 1) * nBits / nBands - start
      expr(s"shiftright(phash, $start) & ${(1L << width) - 1}")
    }
    hashes.select(col("doc_id"), col("phash"),
      posexplode(array(bandExprs: _*)).as(Seq("band", "bkey")))
  }

  /** m15: block-GRADIENT perceptual fingerprints — the dHash companion
    * report to m5: the 52-bit [[graft.expressions.BlockGradientHash]] of
    * every payload (bit j = does block j+1's mean exceed block j's, over
    * 53 equal blocks). Registered in its own right for two reasons: it is
    * the second dedup signal an image-curation pass keeps next to the
    * aHash (the two respond to different perturbations — global-level
    * shifts flip aHash bits, local re-shading flips gradient bits), and
    * it pins the m6 wide path's SECOND signature cross-engine: the DuckDB
    * twin replays the 53-block integer cross-multiplication bit-for-bit,
    * so the hash the derived-width banding rides is itself oracle-gated
    * at gate scale. Map-side only, like m5: one codegen'd expression per
    * row, no shuffle except the presentation sort.
    */
  def gradientHashes(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.BlockGradientHash.register(spark)
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("byte_len"),
        expr("block_gradient_hash(payload)").as("ghash"))
      .orderBy(col("doc_id"))
  }

  /** [[perceptualHashes]] plus the block-GRADIENT hash
    * ([[graft.expressions.BlockGradientHash]], the 1-D dHash) of the same
    * payload — the second 52-bit fingerprint that funds the extra
    * band-key bits when the corpus outgrows the base key space. Still
    * map-side only: two codegen'd expressions per row.
    */
  private[graft] def perceptualHashesWide(spark: SparkSession,
                                          dir: String): DataFrame = {
    graft.expressions.BlockMeanHash.register(spark)
    graft.expressions.BlockGradientHash.register(spark)
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        expr("block_mean_hash(payload)").as("phash"),
        expr("block_gradient_hash(payload)").as("ghash"))
  }

  /** The wide m5/m6 band layout: chunk j keeps its base 6–7 aHash bits
    * (the ⌊j·52/B⌋ boundaries of [[mediaBands]]) and gains `extraBits`
    * gradient-hash bits from the SAME slot of `ghash`, packed as
    * `base | (extra << 7)`. The B chunks stay disjoint over the combined
    * 52 + B·extraBits-bit signature, so pigeonhole recall at the radius
    * is exact, unchanged.
    */
  private[graft] def mediaBandsWide(hashes: DataFrame, maxHamming: Int,
                                    extraBits: Int): DataFrame = {
    // past the cap a chunk's gradient slot would overlap its neighbor's,
    // silently voiding the pigeonhole exact-recall guarantee — refuse
    // loudly (deriveExtraBandBits alone can return up to 13)
    require(extraBits >= 1 && extraBits <= MediaExtraBitsCap,
      s"extraBits must be in [1, $MediaExtraBitsCap], got $extraBits")
    val nBits = graft.expressions.BlockMeanHash.Bits
    val nBands = maxHamming + 1
    val bandExprs = (0 until nBands).map { j =>
      val start = j * nBits / nBands
      val width = (j + 1) * nBits / nBands - start
      expr(s"(shiftright(phash, $start) & ${(1L << width) - 1})" +
        s" + (shiftright(ghash, $start) & ${(1L << extraBits) - 1}) * 128")
    }
    hashes.select(col("doc_id"), col("phash"), col("ghash"),
      posexplode(array(bandExprs: _*)).as(Seq("band", "bkey")))
  }

  /** The live gradient-signature bits at (`maxHamming`, `extraBits`) —
    * the low `extraBits` of each chunk's slot; the verify Hamming counts
    * ghash xor under this mask so only signature bits participate.
    */
  private[graft] def gradientMask(maxHamming: Int, extraBits: Int): Long = {
    val nBits = graft.expressions.BlockMeanHash.Bits
    val nBands = maxHamming + 1
    (0 until nBands).map { j =>
      ((1L << extraBits) - 1) << (j * nBits / nBands)
    }.reduce(_ | _)
  }

  /** Wide twin of [[mediaBandCandidates]]: raw band matches carrying both
    * hash pairs for the join-free verify.
    */
  private[graft] def mediaBandCandidatesWide(hashes: DataFrame,
                                             maxHamming: Int,
                                             extraBits: Int): DataFrame = {
    val bands = mediaBandsWide(hashes, maxHamming, extraBits)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.phash").as("ha"), col("b.phash").as("hb"),
        col("a.ghash").as("ga"), col("b.ghash").as("gb"))
  }

  /** Wide twin of [[mediaNearDupPairs]]: same filter-first pipeline, with
    * the Hamming verify over the combined 52 + B·extraBits-bit signature
    * (aHash bits + masked gradient bits). The radius stays ABSOLUTE —
    * the [[graft.operators.Dedup.deriveExtraBandBits]] contract: widening
    * separates random band ties without admitting any pair the narrow
    * signature rejected.
    */
  private[graft] def mediaNearDupPairsWide(hashes: DataFrame,
                                           maxHamming: Int,
                                           extraBits: Int): DataFrame = {
    val gmask = gradientMask(maxHamming, extraBits)
    mediaBandCandidatesWide(hashes, maxHamming, extraBits)
      .withColumn("hamming",
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("ga").bitwiseXOR(col("gb")).bitwiseAND(lit(gmask))))
          .cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** m17: block-CURVATURE perceptual fingerprints — the second-difference
    * member of the level/slope/curvature family
    * ([[graft.expressions.BlockCurvatureHash]]): bit j = is the byte-mean
    * profile locally convex at block j+1, over 54 equal blocks. Registered
    * in its own right for the same two reasons m15 was: it is the third
    * dedup signal an image-curation pass keeps (each of the three responds
    * to a different perturbation class), and it pins the m6 wide2 path's
    * third signature cross-engine — the DuckDB twin replays the 54-block
    * triple cross-multiplication bit-for-bit, so the hash that funds the
    * band keys past [[MediaExtraBitsCap]] is itself oracle-gated at gate
    * scale. Map-side only: one codegen'd expression per row.
    */
  def curvatureHashes(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.BlockCurvatureHash.register(spark)
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("byte_len"),
        expr("block_curvature_hash(payload)").as("chash"))
      .orderBy(col("doc_id"))
  }

  /** All three 52-bit fingerprints of the payload — level ([[m5]] aHash),
    * slope (m15 dHash), curvature (m17): the signature stack
    * [[mediaBandsWide2]] rides once the corpus outgrows even the
    * gradient-funded key space. Still map-side only.
    */
  private[graft] def perceptualHashesWide2(spark: SparkSession,
                                           dir: String): DataFrame =
    hashesOfDocs(spark, Tables.documentsParallel(spark, dir))

  /** The full three-fingerprint battery over an arbitrary `(doc_id,
    * text)` frame — factored from [[perceptualHashesWide2]] so streaming
    * micro-batches ([[streamingMediaProbe]]) fingerprint their own rows
    * without a directory-shaped source.
    */
  private[graft] def hashesOfDocs(spark: SparkSession,
                                  docs: DataFrame): DataFrame = {
    graft.expressions.BlockMeanHash.register(spark)
    graft.expressions.BlockGradientHash.register(spark)
    graft.expressions.BlockCurvatureHash.register(spark)
    docs
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        expr("block_mean_hash(payload)").as("phash"),
        expr("block_gradient_hash(payload)").as("ghash"),
        expr("block_curvature_hash(payload)").as("chash"))
  }

  /** The THIRD-hash-funded m5/m6 band layout, for derived widths past
    * [[MediaExtraBitsCap]]: chunk j keeps its base 6–7 aHash bits, the
    * FULL 6 gradient bits of its slot, and gains `extraBits − 6`
    * curvature bits from the same slot of `chash`, packed as
    * `base | (grad << 7) | (curv << 13)`. The B chunks stay disjoint over
    * the combined 52 + B·extraBits-bit signature, so pigeonhole recall at
    * the absolute radius is exact, unchanged — the
    * [[graft.operators.Dedup.deriveExtraBandBits]] contract one dial
    * deeper. Capped at [[MediaExtraBitsCap2]] (both funding slots
    * exhausted); a fourth hash (third difference) would extend the
    * pattern if a media corpus ever outgrows 2^25 docs per chunk-key
    * space.
    */
  private[graft] def mediaBandsWide2(hashes: DataFrame, maxHamming: Int,
                                     extraBits: Int): DataFrame = {
    require(extraBits > MediaExtraBitsCap && extraBits <= MediaExtraBitsCap2,
      s"extraBits must be in (${MediaExtraBitsCap}, $MediaExtraBitsCap2] " +
        s"for the curvature-funded layout, got $extraBits")
    val nBits = graft.expressions.BlockMeanHash.Bits
    val nBands = maxHamming + 1
    val curvBits = extraBits - MediaExtraBitsCap
    val bandExprs = (0 until nBands).map { j =>
      val start = j * nBits / nBands
      val width = (j + 1) * nBits / nBands - start
      expr(s"(shiftright(phash, $start) & ${(1L << width) - 1})" +
        s" + (shiftright(ghash, $start) & ${(1L << MediaExtraBitsCap) - 1}) * 128" +
        s" + (shiftright(chash, $start) & ${(1L << curvBits) - 1}) * 8192")
    }
    hashes.select(col("doc_id"), col("phash"), col("ghash"), col("chash"),
      posexplode(array(bandExprs: _*)).as(Seq("band", "bkey")))
  }

  /** Wide2 twin of [[mediaBandCandidates]]: raw band matches carrying all
    * three hash pairs for the join-free verify.
    */
  private[graft] def mediaBandCandidatesWide2(hashes: DataFrame,
                                              maxHamming: Int,
                                              extraBits: Int): DataFrame = {
    val bands = mediaBandsWide2(hashes, maxHamming, extraBits)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.phash").as("ha"), col("b.phash").as("hb"),
        col("a.ghash").as("ga"), col("b.ghash").as("gb"),
        col("a.chash").as("ca"), col("b.chash").as("cb"))
  }

  /** Wide2 twin of [[mediaNearDupPairs]]: filter-first, with the Hamming
    * verify over the combined 52 + B·extraBits-bit signature (aHash bits
    * + 6 masked gradient bits + `extraBits − 6` masked curvature bits per
    * chunk). The radius stays ABSOLUTE — widening separates random band
    * ties without admitting any pair a narrower signature rejected.
    */
  private[graft] def mediaNearDupPairsWide2(hashes: DataFrame,
                                            maxHamming: Int,
                                            extraBits: Int): DataFrame = {
    val gmask = gradientMask(maxHamming, MediaExtraBitsCap)
    val cmask = gradientMask(maxHamming, extraBits - MediaExtraBitsCap)
    mediaBandCandidatesWide2(hashes, maxHamming, extraBits)
      .withColumn("hamming",
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("ga").bitwiseXOR(col("gb")).bitwiseAND(lit(gmask))) +
          bit_count(col("ca").bitwiseXOR(col("cb")).bitwiseAND(lit(cmask))))
          .cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** m6: media dedup clusters — [[mediaNearDupPairs]] at radius 7 (~13% of
    * the signature, the conventional pHash near-dup threshold) fed into
    * the SAME connected-components machinery d6 uses for text
    * ([[graft.operators.Dedup.connectedComponents]]): re-encodes, crops
    * and small edits of one image chain into a single cluster keyed by its
    * least doc_id, the unit at which an image corpus dedups. One banded
    * equi-join + O(diameter) label-propagation rounds; no corpus-wide
    * scan anywhere.
    */
  def mediaDedupClusters(spark: SparkSession, dir: String,
                         maxHamming: Int = 7): DataFrame = {
    val pairs = mediaNearDupPairs(perceptualHashes(spark, dir), maxHamming)
      .select(col("id_a"), col("id_b")).cache()
    val result = graft.operators.Dedup.connectedComponents(pairs)
      .withColumnRenamed("node", "doc_id")
      .withColumnRenamed("root", "cluster_root")
      .orderBy(col("doc_id"))
    graft.operators.Dedup.materializeAndRelease(result, pairs)
  }

  /** The gradient hash's funding limit on
    * [[graft.operators.Dedup.deriveExtraBandBits]]: it contributes at
    * most the MINIMUM chunk slot width (⌊52/8⌋ = 6 bits at radius 7) so
    * every chunk's extra bits stay inside its own disjoint slot. Since
    * r11 this is a HANDOFF point, not a hard boundary: derivations past
    * it draw their 7th–12th bits from the curvature hash
    * ([[mediaBandsWide2]], capped at [[MediaExtraBitsCap2]]).
    */
  val MediaExtraBitsCap = 6

  /** The combined gradient+curvature funding limit: 6 bits from each of
    * the two difference hashes — binding only past 2^25 docs (per the
    * [[graft.operators.Dedup.deriveExtraBandBits]] boundary arithmetic),
    * where a third difference hash would extend the pattern.
    */
  val MediaExtraBitsCap2 = 12

  /** m6's REGISTERED form: [[mediaDedupClusters]] with the band width
    * derived from the corpus count — the same
    * [[graft.operators.Dedup.deriveExtraBandBits]] constant d9 rides
    * (one shared derivation for both signature-banded operators), capped
    * at [[MediaExtraBitsCap2]]. `extra = 0` at every corpus up to 8192
    * docs (the gate and the sf0.1 off-gate sweep) keeps the 52-bit aHash
    * pipeline and its static DuckDB oracle bit-for-bit; at the 500k-doc
    * 100× soak `extra = 6` widens each 6–7-bit chunk key to 12–13 bits —
    * a 2⁶ = 64× cut in expected random band collisions against the
    * measured 21.6B-row saturation — funded by the gradient hash; past
    * 2^19 docs the 7th–12th bits come from the curvature hash
    * ([[mediaBandsWide2]], r11). Wide-form correctness is property-tested
    * against the brute-force combined-signature joins in Round10Spec
    * (gradient) and Round11Spec (gradient+curvature).
    */
  def mediaDedupClustersAuto(spark: SparkSession, dir: String,
                             maxHamming: Int = 7): DataFrame = {
    val e = math.min(MediaExtraBitsCap2,
      graft.operators.Dedup.deriveExtraBandBits(
        Tables.documentsParallel(spark, dir).count().max(1L)))
    if (e == 0) mediaDedupClusters(spark, dir, maxHamming)
    else {
      val pairs =
        (if (e <= MediaExtraBitsCap)
           mediaNearDupPairsWide(perceptualHashesWide(spark, dir),
             maxHamming, e)
         else
           mediaNearDupPairsWide2(perceptualHashesWide2(spark, dir),
             maxHamming, e))
          .select(col("id_a"), col("id_b")).cache()
      val result = graft.operators.Dedup.connectedComponents(pairs)
        .withColumnRenamed("node", "doc_id")
        .withColumnRenamed("root", "cluster_root")
        .orderBy(col("doc_id"))
      graft.operators.Dedup.materializeAndRelease(result, pairs)
    }
  }

  /** m16: media band-occupancy audit — d29's observability face applied
    * to m6's pigeonhole chunks: per pHash band at the DERIVED width under
    * m6's OWN layout escalation ([[graft.operators.Dedup.deriveExtraBandBits]]
    * ∧ [[MediaExtraBitsCap2]], gradient-funded to 6, curvature-funded
    * past it — the [[mediaDedupClustersAuto]] branch mirrored), the
    * occupied-bucket count, the largest bucket, and the closed-form
    * band-join collision volume Σ per-bucket C(s,2) — exactly the row
    * count the band equi-join m6 runs at that scale emits (the 21.6B-row
    * term the r9 sf10 soak measured before the width derivation), priced
    * at O(n) without materializing the join.
    * The media bands needed their own audit because their geometry
    * differs from d9's everywhere it matters: 8 chunks of 6–7 bits (not
    * 4 × 13), radius 7 (not 3), and a 6-bit cap on the widening — so a
    * media corpus saturates at ~2^6-× smaller scales and the cap binds
    * where d9's never does. At gate scales the derivation is 0 and the
    * DuckDB twin replays the 52-bit 8-chunk layout bit-for-bit;
    * equality with the real join's volume is asserted in Round11Spec.
    */
  def mediaBandOccupancyAudit(spark: SparkSession, dir: String,
                              maxHamming: Int = 7): DataFrame = {
    // the SAME width + layout escalation the registered m6 runs
    // (mediaDedupClustersAuto): gradient-funded wide up to
    // MediaExtraBitsCap, curvature-funded wide2 past it — so
    // collision_rows prices the band join m6 actually executes at every
    // scale, not the gradient-capped layout (r11 ADVICE: the audit
    // previously capped at 6 while m6 escalated to 12 past 2^19 docs)
    val e = math.min(MediaExtraBitsCap2,
      graft.operators.Dedup.deriveExtraBandBits(
        Tables.documentsParallel(spark, dir).count().max(1L)))
    val bands =
      if (e == 0) mediaBands(perceptualHashes(spark, dir), maxHamming)
      else if (e <= MediaExtraBitsCap)
        mediaBandsWide(perceptualHashesWide(spark, dir), maxHamming, e)
      else mediaBandsWide2(perceptualHashesWide2(spark, dir), maxHamming, e)
    bandOccupancyOf(bands)
  }

  /** The m16 aggregation over any band layout `(band, bkey)` — factored
    * so the audit's closed-form Σ C(s,2) can be pinned equal to the real
    * band join's row count at FORCED widths in tests (the narrow layout
    * in Round11Spec, the wide2 escalation in Round12Spec), not only at
    * the corpus-derived width.
    */
  private[graft] def bandOccupancyOf(bands: DataFrame): DataFrame =
    bands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("band"))
      .agg(count(lit(1)).cast("long").as("n_buckets"),
        max(col("c")).cast("long").as("max_occupancy"),
        // integer DIV, not double `/`: c*(c-1) is even so the value is
        // identical below 2^53, but a skewed hot bucket past ~9.5e7
        // rows would silently lose low bits under double division while
        // the DuckDB twin's `// 2` stays exact (r13 ADVICE)
        sum(expr("c * (c - 1) DIV 2")).cast("long")
          .as("collision_rows"))
      .select(col("band").cast("long").as("band"), col("n_buckets"),
        col("max_occupancy"), col("collision_rows"))
      .orderBy(col("band"))

  /** m10's flag level: a payload whose clip fraction exceeds this is
    * marked clipped — interpolated into the DuckDB twin.
    */
  val ClipFlagFraction = 0.16

  /** m11's flag level in BITS: payloads whose byte entropy falls below
    * this are constant/padded-suspect. Interpolated into the twin.
    */
  val LowEntropyBits = 3.0

  /** m11: byte-entropy profile — per payload, the Shannon entropy of its
    * byte histogram in bits ([[graft.expressions.ByteEntropy]], /ln 2)
    * and the low-entropy verdict at [[LowEntropyBits]]. The
    * compressibility screen of a media ingest pass: ~0 bits = constant
    * padding or black frames (drop before decode), ~8 bits =
    * already-compressed or encrypted payloads (route around the decoder).
    * One codegen'd histogram fold per row, shuffle-free; the verdict
    * binds on the 6dp+nudge-rounded value so the boundary is pinned
    * across engines.
    */
  def byteEntropyProfile(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.ByteEntropy.register(spark)
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        round(expr("byte_entropy(payload)") / math.log(2.0) + 1e-9, 6)
          .as("entropy_bits"))
      .withColumn("low_entropy", col("entropy_bits") < LowEntropyBits)
      .orderBy(col("doc_id"))
  }

  /** m10: audio clipping audit — per payload, how many samples sit at the
    * rails ([[graft.expressions.PcmClipCount]], |x − 128| ≥ threshold),
    * the clip fraction, and the too-hot verdict at [[ClipFlagFraction]].
    * The capture-quality gate an audio curation pass runs before any
    * feature extraction: clipping is unrecoverable distortion, so flagged
    * payloads are dropped or re-gained at ingest. Like m7/m8/m9 the
    * arithmetic is integer until the final fraction, one codegen'd
    * expression per row, shuffle-free — per-row cost at any corpus size;
    * the 6dp+nudge round pins the fraction (and therefore the boundary
    * verdict) across engines.
    */
  /** m14's flag level: a payload whose level-crossing RATE (crossings per
    * consecutive-sample pair) exceeds this is high-frequency-suspect —
    * noise/fricative-dominated in real audio, staccato punctuation-dense
    * text in the stand-in corpus. Splits the fixture distribution
    * (measured min 0.35 / median 0.49) so both verdicts occur.
    * Interpolated into the twin.
    */
  val HighFreqRate = 0.48

  /** m14: level-crossing (zero-crossing-class) audio screen — per
    * payload, the [[graft.expressions.PcmLevelCrossings]] count at the
    * registered reference level, the rate per consecutive-sample pair,
    * and the high-frequency verdict at [[HighFreqRate]]. The cheapest
    * spectral proxy in audio curation (speech low, noise high) — routes
    * payloads before any FFT is paid, next to m7's energy profile and
    * m10's clipping audit.
    *
    * Scale shape: one codegen'd integer fold per row, shuffle-free; the
    * 6dp+nudge round pins the rate (and so the boundary verdict) across
    * engines.
    */
  def audioLevelCrossings(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.PcmLevelCrossings.register(spark)
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("n_samples"),
        expr("pcm_level_crossings(payload)").cast("long").as("n_crossings"))
      .select(col("doc_id"), col("n_samples"), col("n_crossings"),
        round(col("n_crossings").cast("double") /
          greatest(col("n_samples") - 1, lit(1L)) + 1e-9, 6)
          .as("crossing_rate"))
      .withColumn("high_freq", col("crossing_rate") > HighFreqRate)
      .orderBy(col("doc_id"))
  }

  def audioClipping(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.PcmClipCount.register(spark)
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("n_samples"),
        expr("pcm_clip_count(payload)").cast("long").as("n_clipped"))
      .select(col("doc_id"), col("n_samples"), col("n_clipped"),
        round(col("n_clipped").cast("double") /
          greatest(col("n_samples"), lit(1L)) + 1e-9, 6).as("clip_fraction"))
      .withColumn("clipped", col("clip_fraction") > ClipFlagFraction)
      .orderBy(col("doc_id"))
  }

  // ================= persisted media band index (m18/m19, r13) =========

  /** The UNIFIED band layout: one function spanning all three escalation
    * tiers ([[mediaBands]] at `extraBits = 0`, [[mediaBandsWide]] at
    * 1..[[MediaExtraBitsCap]], [[mediaBandsWide2]] past it — bkey-equality
    * at each tier is pinned in MediaIndexSpec), carrying ALL THREE
    * fingerprints on every row. The persisted index stores THIS frame:
    * with the full signature stack on board, a rebuild at a different
    * derived width re-bands stored longs and never touches a payload —
    * at 100 TB of media the decode+hash pass dwarfs every other lifecycle
    * cost, so "rebuild without re-decoding" is the property that makes a
    * rotation policy affordable at all. 8 band rows × 3 longs per doc is
    * the price, ~2% of a 10 KB payload.
    */
  private[graft] def mediaBandsAll(hashes: DataFrame, maxHamming: Int,
                                   extraBits: Int): DataFrame = {
    require(extraBits >= 0 && extraBits <= MediaExtraBitsCap2,
      s"extraBits must be in [0, $MediaExtraBitsCap2], got $extraBits")
    val nBits = graft.expressions.BlockMeanHash.Bits
    val nBands = maxHamming + 1
    val gradBits = math.min(extraBits, MediaExtraBitsCap)
    val curvBits = extraBits - gradBits
    val bandExprs = (0 until nBands).map { j =>
      val start = j * nBits / nBands
      val width = (j + 1) * nBits / nBands - start
      val base = s"(shiftright(phash, $start) & ${(1L << width) - 1})"
      val grad = if (gradBits == 0) "" else
        s" + (shiftright(ghash, $start) & ${(1L << gradBits) - 1}) * 128"
      val curv = if (curvBits == 0) "" else
        s" + (shiftright(chash, $start) & ${(1L << curvBits) - 1}) * 8192"
      expr(base + grad + curv)
    }
    hashes.select(col("doc_id"), col("phash"), col("ghash"), col("chash"),
      posexplode(array(bandExprs: _*)).as(Seq("band", "bkey")))
  }

  /** The combined-signature Hamming verify at width `extraBits` — aHash
    * bits plus the masked gradient/curvature signature bits, over the
    * `(ha,hb,ga,gb,ca,cb)` candidate frame. The `extraBits = 0` case is
    * bit-identical to [[mediaNearDupPairs]]' verify; the wide tiers match
    * [[mediaNearDupPairsWide]]/[[mediaNearDupPairsWide2]].
    */
  private[graft] def combinedHammingAt(maxHamming: Int,
                                       extraBits: Int): org.apache.spark.sql.Column = {
    val gradBits = math.min(extraBits, MediaExtraBitsCap)
    val curvBits = extraBits - gradBits
    val base = bit_count(col("ha").bitwiseXOR(col("hb")))
    val grad = if (gradBits == 0) lit(0) else
      bit_count(col("ga").bitwiseXOR(col("gb"))
        .bitwiseAND(lit(gradientMask(maxHamming, gradBits))))
    val curv = if (curvBits == 0) lit(0) else
      bit_count(col("ca").bitwiseXOR(col("cb"))
        .bitwiseAND(lit(gradientMask(maxHamming, curvBits))))
    (base + grad + curv).cast("long")
  }

  /** Drop + physically delete the media index tables under `prefix`. */
  private[graft] def dropMediaIndexTables(spark: SparkSession,
                                          prefix: String): Unit =
    Seq(s"${prefix}_mcfg", s"${prefix}_mband").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(loc, true)
    }

  /** Build the persisted media band index: the corpus fingerprinted ONCE
    * (all three hashes — level, slope, curvature), banded at the width
    * the corpus count derives TODAY, and stored as `_mband` bucketed by
    * the band join's own key so every probe reads it exchange-free.
    * `_mcfg` (1 row: built_docs, extra_bits, max_hamming, buckets)
    * freezes the layout — appended docs must band at the SAME width or pigeonhole
    * recall silently breaks (a pair banded at two different widths shares
    * no chunk key), the exact analog of the containment index's frozen df
    * order and the IVF index's frozen centroids. `_mcfg` is immutable
    * after build; appends touch only `_mband`, so the append is a
    * single-table Spark job commit with no crash window at all (the
    * [[graft.operators.Similarity.appendToIvfIndex]] discipline, not the
    * containment index's two-table marker protocol).
    */
  def persistMediaIndex(spark: SparkSession, dir: String,
                        prefix: String = "media_index",
                        buckets: Int = 32,
                        corpusFilter: org.apache.spark.sql.Column =
                          col("doc_id") % 2 === 0,
                        maxHamming: Int = 7,
                        forceExtraBits: Option[Int] = None): Unit = {
    import spark.implicits._
    dropMediaIndexTables(spark, prefix)
    val hashes = perceptualHashesWide2(spark, dir).filter(corpusFilter).cache()
    val n = hashes.count()
    val e = forceExtraBits.getOrElse(math.min(MediaExtraBitsCap2,
      graft.operators.Dedup.deriveExtraBandBits(n.max(1L))))
    // buckets is part of the frozen layout: append/retract/rebuild read
    // it from here rather than trusting a caller parameter — a rewrite
    // at a different bucket count would silently void the exchange-free
    // probe property the index exists for (r13 ADVICE)
    Seq((n, e.toLong, maxHamming.toLong, buckets.toLong))
      .toDF("built_docs", "extra_bits", "max_hamming", "buckets")
      .write.mode("overwrite").saveAsTable(s"${prefix}_mcfg")
    graft.operators.Dedup.bucketAligned(
        mediaBandsAll(hashes, maxHamming, e), buckets, "band", "bkey")
      .write.bucketBy(buckets, "band", "bkey").sortBy("band", "bkey")
      .mode("overwrite").saveAsTable(s"${prefix}_mband")
    hashes.unpersist()
    ()
  }

  /** The frozen layout row. `buckets` joined `_mcfg` in r14 — indexes
    * persisted by earlier builds carry the 3-column schema, and a probe
    * (or append/retract/rotate) of one must keep working rather than
    * throw an unresolved-column error with no migration path (r14
    * ADVICE): absent the column, fall back to the 32 every pre-r14
    * build actually used ([[persistMediaIndex]]'s default was the only
    * spelling then).
    */
  private def mediaCfgOf(spark: SparkSession,
                         prefix: String): (Int, Int, Int) = {
    val t = spark.table(s"${prefix}_mcfg")
    val hasBuckets = t.columns.contains("buckets")
    val cfg = t.collect()(0)
    (cfg.getAs[Long]("extra_bits").toInt, cfg.getAs[Long]("max_hamming").toInt,
      if (hasBuckets) cfg.getAs[Long]("buckets").toInt else 32)
  }

  /** The m18 probe core over an arbitrary batch-hash frame (all three
    * fingerprints): band the batch at the index's FROZEN width, equi-join
    * `_mband` on (band, bkey) — the stored rows carry the corpus-side
    * signatures, so the Hamming verify is join-free — filter-first, then
    * collapse band multiplicity. Cross pairs only (a batch self-join is
    * batch-sized and independent of the index; callers that want it run
    * [[mediaNearDupPairs]] on the batch alone). Unordered: the registered
    * wrapper adds the presentation sort.
    */
  private[graft] def mediaProbeOf(spark: SparkSession, prefix: String,
                                  batchHashes: DataFrame): DataFrame = {
    val (e, mh, _) = mediaCfgOf(spark, prefix)
    spark.table(s"${prefix}_mband").as("c")
      .join(mediaBandsAll(batchHashes, mh, e).as("b"),
        col("c.band") === col("b.band") && col("c.bkey") === col("b.bkey") &&
          col("c.doc_id") =!= col("b.doc_id"))
      .select(col("b.doc_id").as("batch_id"), col("c.doc_id").as("corpus_id"),
        col("b.phash").as("ha"), col("c.phash").as("hb"),
        col("b.ghash").as("ga"), col("c.ghash").as("gb"),
        col("b.chash").as("ca"), col("c.chash").as("cb"))
      .withColumn("hamming", combinedHammingAt(mh, e))
      .filter(col("hamming") <= mh)
      .select(col("batch_id"), col("corpus_id"), col("hamming"))
      .distinct()
  }

  /** m18's probe against a persisted index: batch docs fingerprint fresh
    * (map-side, three codegen'd expressions), the corpus side is the
    * stored `_mband` — no corpus re-hash, no corpus-side exchange.
    * When the index holds the complement of the batch, output is
    * IDENTICAL to fingerprinting both sides fresh at the same width
    * (pigeonhole recall is exact at any width, and the verify radius is
    * absolute over the combined signature AT the frozen width — m6's own
    * semantic, where widening refines precision without re-admitting
    * anything). At gate scales the derived width is 0, so the registered
    * m18 gets the plain 52-bit cross-pair DuckDB oracle, exactly as m6
    * gets its 52-bit CC oracle.
    *
    * BREAK-EVEN — when NOT to build this index (the d28 convention): on
    * the soak fixture the probe and the fresh recompute measure
    * near-parity walls at every scale (`soakdiag_r13_m18.log` at bec8540: 2.5 vs
    * 2.2 s / 5.2 vs 6.7 / 5.1 vs 5.5), because the three hash folds a
    * probe skips are ~free over small UTF-8 payloads — so for a corpus
    * of THIS shape, batch-probed once, the index lifecycle buys nothing
    * and [[incrementalMediaFresh]]'s one-pass form is the right call.
    * What moves the break-even decisively in production is payload
    * weight: the fresh pass must RE-READ (and for real media, re-decode)
    * every corpus payload per batch, while a probe's corpus-side input
    * is 6 longs per stored row — at 100 TB of images that is the
    * difference between a full-corpus decode pass per batch and a
    * ~0.2%-of-corpus-bytes columnar scan. Deploy rule: build the index
    * when corpus-payload bytes × batches between rebuilds dwarfs the
    * band-table scan (true for any long-lived media corpus probed
    * repeatedly); skip it for one-shot pair queries or corpora whose
    * payloads are trivial to re-hash.
    */
  def incrementalMediaFromIndex(spark: SparkSession, dir: String,
                                prefix: String = "media_index",
                                batchFilter: org.apache.spark.sql.Column =
                                  col("doc_id") % 2 =!= 0): DataFrame =
    mediaProbeOf(spark, prefix,
      perceptualHashesWide2(spark, dir).filter(batchFilter))
      .orderBy(col("batch_id"), col("corpus_id"))

  /** Build the (tag, dir) index once per session via the shared
    * [[graft.operators.IndexMemo]] (full-dir key, failure unwind,
    * session-unique counter prefix — see its scaladoc for the collision
    * history) — returns the prefix probes should read. Shared by m18
    * and m20.
    */
  private def ensureMediaIndex(spark: SparkSession, dir: String, tag: String,
                               corpusFilter: org.apache.spark.sql.Column)
      : String =
    graft.operators.IndexMemo.ensure(
      spark.sparkContext.applicationId, tag, dir)(
      persistMediaIndex(spark, dir, _, corpusFilter = corpusFilter))

  /** m18: the production-shape spelling of the media pair retrieval — the
    * d28/s16/s18 convention on the media family: corpus fingerprinted and
    * banded once per session into the bucketed index, every probe paying
    * batch-side cost only. The registered fixture probes the full corpus
    * against its OWN index (each doc lists its radius-7 neighbors, both
    * orientations — m5/m6's pair query in index shape), because radius-7
    * media twins are genuinely rare in the gate corpus: an odd/even split
    * strands the few pairs on one side and the gate would verify an empty
    * frame, whereas the self-probe exercises real rows at every scale.
    * The incremental batch-vs-corpus form is the same core
    * ([[incrementalMediaFromIndex]]'s odd/even default), pinned against
    * the fresh twin and the brute-force cross join in MediaIndexSpec.
    */
  def incrementalMediaIndexed(spark: SparkSession, dir: String): DataFrame = {
    val prefix = ensureMediaIndex(spark, dir, "m18", lit(true))
    incrementalMediaFromIndex(spark, dir, prefix, batchFilter = lit(true))
  }

  /** The fresh-recompute twin the index amortizes against (unregistered;
    * MediaIndexSpec checks the probe against it): both sides
    * fingerprinted in this pass, banded at the width the CORPUS side's
    * count derives, cross pairs only. Same output as the index probe.
    */
  private[graft] def incrementalMediaFresh(spark: SparkSession, dir: String,
                                           maxHamming: Int = 7,
                                           batchFilter: org.apache.spark.sql.Column =
                                             col("doc_id") % 2 =!= 0): DataFrame = {
    val hashes = perceptualHashesWide2(spark, dir).cache()
    val corpus = hashes.filter(!batchFilter)
    val e = math.min(MediaExtraBitsCap2,
      graft.operators.Dedup.deriveExtraBandBits(corpus.count().max(1L)))
    val result = mediaBandsAll(corpus, maxHamming, e).as("c")
      .join(mediaBandsAll(hashes.filter(batchFilter), maxHamming, e).as("b"),
        col("c.band") === col("b.band") && col("c.bkey") === col("b.bkey") &&
          col("c.doc_id") =!= col("b.doc_id"))
      .select(col("b.doc_id").as("batch_id"), col("c.doc_id").as("corpus_id"),
        col("b.phash").as("ha"), col("c.phash").as("hb"),
        col("b.ghash").as("ga"), col("c.ghash").as("gb"),
        col("b.chash").as("ca"), col("c.chash").as("cb"))
      .withColumn("hamming", combinedHammingAt(maxHamming, e))
      .filter(col("hamming") <= maxHamming)
      .select(col("batch_id"), col("corpus_id"), col("hamming"))
      .distinct()
      .orderBy(col("batch_id"), col("corpus_id"))
    graft.operators.Dedup.materializeAndRelease(result, hashes)
  }

  /** The doc-id offset m20 re-keys its planted batch under — far above
    * any corpus id at every tested scale (the 100× soak tops out near
    * 5·10⁷), so planted ids never collide with real ones. Interpolated
    * into the m20 oracle SQL so operator and twin cannot desync.
    */
  val MediaPlantOffset = 100000000L

  /** m20: the INCREMENTAL batch-vs-corpus probe as a registered,
    * oracle-gated query — the production probe shape of the media index
    * (the m-family d28/s16/s18: a batch DISJOINT from the indexed corpus
    * probed against the stored `_mband`), closing the r13 asymmetry
    * where m18's registered form self-probes while the other three
    * families gate their incremental form. Radius-7 media twins are
    * genuinely rare across the driver corpus's odd/even split (the
    * reason m18 self-probes), so the batch PLANTS them: the even half is
    * indexed as the corpus, and the probe batch is the odd half UNION
    * the even half re-keyed to `doc_id + ` [[MediaPlantOffset]] — every
    * even doc's re-keyed twin retrieves its original at hamming 0
    * (identical payload, identical fingerprints, distinct ids), so the
    * gate verifies a non-empty frame whose probe and corpus id sets are
    * fully disjoint AT EVERY SCALE, while any genuine odd-vs-even pairs
    * ride along. Pair semantics per [[mediaProbeOf]]: banded at the
    * index's frozen width (0 at gate scales — the d26 coupling pin, so
    * the DuckDB twin replays the plain 52-bit cross join), corpus side
    * read exchange-free from the stored bucketed band rows, batch side
    * fingerprinted fresh map-side.
    */
  def incrementalMediaPlanted(spark: SparkSession, dir: String): DataFrame = {
    val prefix = ensureMediaIndex(spark, dir, "m20", col("doc_id") % 2 === 0)
    val hashes = perceptualHashesWide2(spark, dir).cache()
    val batch = hashes.filter(col("doc_id") % 2 =!= 0)
      .unionByName(hashes.filter(col("doc_id") % 2 === 0)
        .withColumn("doc_id", col("doc_id") + lit(MediaPlantOffset)))
    val result = mediaProbeOf(spark, prefix, batch)
      .orderBy(col("batch_id"), col("corpus_id"))
    graft.operators.Dedup.materializeAndRelease(result, hashes)
  }

  /** Fold accepted docs into the index UNDER THE FROZEN WIDTH (`_mcfg`'s
    * extra_bits, never re-derived — the one-consistent-layout argument:
    * every stored pair still shares a chunk key because every doc banded
    * at one width). Single-table job commit, no crash window ([[persistMediaIndex]]
    * scaladoc); re-appending an indexed doc_id would duplicate every pair
    * it is part of — refused up front on the index's own band-0 rows (one
    * row per doc by construction).
    */
  def appendToMediaIndex(spark: SparkSession, dir: String,
                         appendFilter: org.apache.spark.sql.Column,
                         prefix: String = "media_index"): Unit = {
    // width AND bucket count come from the frozen layout, never a caller
    val (e, mh, buckets) = mediaCfgOf(spark, prefix)
    val add = perceptualHashesWide2(spark, dir).filter(appendFilter)
    val dup = add.select(col("doc_id"))
      .join(spark.table(s"${prefix}_mband").filter(col("band") === 0)
        .select(col("doc_id")), "doc_id")
      .limit(1).collect()
    require(dup.isEmpty,
      s"doc_id ${dup.head.getLong(0)} is already indexed in ${prefix}_mband")
    graft.operators.Dedup.bucketAligned(
        mediaBandsAll(add, mh, e), buckets, "band", "bkey")
      .write.bucketBy(buckets, "band", "bkey").sortBy("band", "bkey")
      .mode("append").saveAsTable(s"${prefix}_mband")
  }

  /** Retract documents from the persisted media index — the
    * [[graft.operators.Similarity.retractFromIvfIndex]] staged-rewrite
    * on `_mband` (all 8 band rows of each id go together; the anti-join
    * is on the id, not the key). `_mcfg` is untouched: the frozen width
    * is the layout definition, and every surviving row's chunk keys are
    * already correct under it — post-retract probes equal probes against
    * an index holding exactly the survivors at the same width, no
    * re-banding (asserted in Round13Spec). The next [[rotateMediaIndex]]
    * re-derives the width from the surviving doc count.
    */
  def retractFromMediaIndex(spark: SparkSession, ids: Seq[Long],
                            prefix: String = "media_index"): Unit = {
    require(ids.nonEmpty, "retraction requires at least one doc_id")
    // the rewrite must keep the build's bucket layout (frozen in _mcfg) —
    // a different count would silently re-bucket _mband and void the
    // exchange-free probe property (r13 ADVICE)
    val (_, _, buckets) = mediaCfgOf(spark, prefix)
    val idsDf = spark.createDataset(ids)(org.apache.spark.sql.Encoders.scalaLong)
      .toDF("doc_id")
    graft.operators.Dedup.stagedRewriteMinusIds(spark, idsDf,
      s"${prefix}_mband",
      df => graft.operators.Dedup.bucketAligned(df, buckets, "band", "bkey")
        .write.bucketBy(buckets, "band", "bkey").sortBy("band", "bkey"))
  }

  /** m19's rebuild threshold: recommend once the frozen width's band-join
    * collision volume reaches 2× a fresh rebuild's. Width derives from
    * ⌈log₂ n⌉ ([[graft.operators.Dedup.deriveExtraBandBits]]), so drift
    * arrives in whole bits; on a RANDOM-collision-dominated corpus each
    * bit the fresh derivation gains splits every frozen bucket roughly
    * in two, landing the ratio at ~2 per boundary crossed (the
    * MediaIndexSpec planted corpus measures exactly this regime and the
    * verdict flips); below a boundary the layouts coincide and the ratio
    * is exactly 1. The threshold is deliberately blind to collisions a
    * rebuild CANNOT remove: true near-dup pairs agree on the extra
    * signature bits too, so on a dup-heavy corpus the ratio saturates at
    * (true + random_frozen)/(true + random_fresh) — the r13 soak's
    * replica-tail corpus measures 1.43–1.48 at a one-bit-stale width at
    * all three scales (`soakdiag_r13_m18.log` at bec8540) and correctly KEEPs,
    * because most of its probe cost is unavoidable verify work on
    * genuine twins. Payback when it does fire: at ratio 2 half of every
    * probe's candidate work is removable, and the rebuild re-bands
    * STORED signatures only (no payload re-decode, no re-hash — the
    * [[mediaBandsAll]] design), so it amortizes within a handful of
    * probes. Interpolated into the registered m19 oracle SQL, so the
    * Scala constant and the DuckDB twin cannot desync.
    */
  val MediaDriftRebuildRatio = 2.0

  /** Total band-join collision volume Σ per-bucket C(s,2) over a band
    * layout — the m16 integrand folded to one row (empty corpus floors to
    * 0, never an error).
    */
  private def collisionVolumeOf(bands: DataFrame): DataFrame =
    bands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("c"))
      // integer DIV (exact at any occupancy), matching the twin's `// 2`
      .agg(coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L)).cast("long")
        .as("collision_rows"))

  /** Fold frozen/fresh volume rows into the m19 policy row (the
    * d30/s17/s19 shape; empty corpus floors to ratio 1.0, no rebuild).
    */
  private def mediaPolicyRow(frozen: DataFrame, fresh: DataFrame): DataFrame =
    frozen.select(col("collision_rows").as("frozen_collision_rows"))
      .crossJoin(fresh.select(col("collision_rows").as("fresh_collision_rows")))
      .withColumn("drift_ratio",
        graft.operators.Dedup.driftRatioOf(col("frozen_collision_rows"),
          col("fresh_collision_rows"), MediaDriftRebuildRatio))
      .withColumn("rebuild_recommended",
        (col("drift_ratio") >= MediaDriftRebuildRatio).cast("long"))

  /** m19: the media index's rebuild-cadence signal — the d30/s17/s19
    * drift-audit convention on the fourth index family, with the m16
    * closed form as its integrand. The frozen side is the build-time
    * hypothesis (band width derived from `buildFilter`'s doc count)
    * applied to the CURRENT corpus: Σ C(s,2) collision volume, exactly
    * the candidate rows a frozen-width index makes every probe verify
    * today. The fresh side is the width the full corpus derives. Unlike
    * the IVF/PQ audits this is a latency policy, not a recall one —
    * pigeonhole recall at the served radius is exact at every width
    * (what widening moves besides cost is the verify's combined-signature
    * refinement, m6's own width semantic) — the containment-family
    * argument with the m16 integrand. Both volumes
    * are exact integer counts; the DuckDB twin replays the row
    * bit-for-bit (at gate scale both sides derive the extra = 0 layout —
    * the same d26 coupling pin m6 rides — so one replayed volume feeds
    * both columns and the formula, floor, and threshold still replay).
    */
  def mediaIndexDriftAudit(spark: SparkSession, dir: String,
                           buildFilter: org.apache.spark.sql.Column =
                             col("doc_id") % 2 === 0,
                           maxHamming: Int = 7): DataFrame = {
    val hashes = perceptualHashesWide2(spark, dir).cache()
    val eFrozen = math.min(MediaExtraBitsCap2,
      graft.operators.Dedup.deriveExtraBandBits(
        hashes.filter(buildFilter).count().max(1L)))
    val eFresh = math.min(MediaExtraBitsCap2,
      graft.operators.Dedup.deriveExtraBandBits(hashes.count().max(1L)))
    val result = mediaPolicyRow(
      collisionVolumeOf(mediaBandsAll(hashes, maxHamming, eFrozen)),
      collisionVolumeOf(mediaBandsAll(hashes, maxHamming, eFresh)))
    graft.operators.Dedup.materializeAndRelease(result, hashes)
  }

  /** The m19 policy against a LIVE persisted index: the frozen side is
    * priced straight off the STORED band keys — exactly the collision
    * volume probes pay today, appended rows included, no re-banding; the
    * fresh side re-derives the width from the index's own doc count and
    * re-bands the STORED signatures (self-contained — the
    * containment/IVF/PQ live-audit discipline; never touches the source
    * corpus, never re-hashes a payload). Pinned equal to the registered
    * closed form in MediaIndexSpec.
    */
  def mediaIndexDriftAuditLive(spark: SparkSession,
                               prefix: String = "media_index"): DataFrame = {
    val mband = spark.table(s"${prefix}_mband")
    val sigs = mband.filter(col("band") === 0)
      .select(col("doc_id"), col("phash"), col("ghash"), col("chash"))
    val (_, mh, _) = mediaCfgOf(spark, prefix)
    val eFresh = math.min(MediaExtraBitsCap2,
      graft.operators.Dedup.deriveExtraBandBits(sigs.count().max(1L)))
    mediaPolicyRow(
      collisionVolumeOf(mband.select(col("band"), col("bkey"))),
      collisionVolumeOf(mediaBandsAll(sigs, mh, eFresh)))
  }

  /** Rebuild the media index under a NEW prefix from the live index's own
    * stored signatures — blue/green like the other three families
    * (`fromPrefix` never mutated, nothing reads `toPrefix` until the
    * pointer flips): an in-place rebuild opens a window where old-width
    * and new-width band rows coexist in one table, and a pair banded at
    * two widths shares no chunk key — silently lost pairs, the failure
    * class the lifecycle must never admit. No payload re-decode, no
    * re-hash: the stored `(phash, ghash, chash)` re-band at the width the
    * stored doc count derives today.
    */
  def rebuildMediaIndexTo(spark: SparkSession, fromPrefix: String,
                          toPrefix: String): Unit = {
    import spark.implicits._
    require(toPrefix != fromPrefix,
      "blue/green rebuild requires a distinct target prefix")
    dropMediaIndexTables(spark, toPrefix)
    // width re-derives from today's doc count; the bucket count carries
    // over from the live layout (it sizes the exchange-free probe, not
    // the recall geometry)
    val (_, mh, buckets) = mediaCfgOf(spark, fromPrefix)
    val sigs = spark.table(s"${fromPrefix}_mband").filter(col("band") === 0)
      .select(col("doc_id"), col("phash"), col("ghash"), col("chash")).cache()
    val n = sigs.count()
    val e = math.min(MediaExtraBitsCap2,
      graft.operators.Dedup.deriveExtraBandBits(n.max(1L)))
    Seq((n, e.toLong, mh.toLong, buckets.toLong))
      .toDF("built_docs", "extra_bits", "max_hamming", "buckets")
      .write.mode("overwrite").saveAsTable(s"${toPrefix}_mcfg")
    graft.operators.Dedup.bucketAligned(
        mediaBandsAll(sigs, mh, e), buckets, "band", "bkey")
      .write.bucketBy(buckets, "band", "bkey").sortBy("band", "bkey")
      .mode("overwrite").saveAsTable(s"${toPrefix}_mband")
    sigs.unpersist()
    ()
  }

  /** Atomically point `alias` at `toPrefix`
    * ([[graft.operators.LiveIndexPointer.flip]]).
    */
  def flipMediaIndex(spark: SparkSession, toPrefix: String,
                     alias: String = "media_index_live"): Unit =
    graft.operators.LiveIndexPointer.flip(spark, toPrefix, alias)

  /** [[incrementalMediaFromIndex]] against whatever index `alias`
    * currently points at — resolved exactly once per probe.
    */
  def incrementalMediaLive(spark: SparkSession, dir: String,
                           alias: String = "media_index_live",
                           batchFilter: org.apache.spark.sql.Column =
                             col("doc_id") % 2 =!= 0): DataFrame = {
    val prefix = graft.operators.LiveIndexPointer.current(spark, alias)
      .getOrElse(throw new IllegalStateException(
        s"no live media index: pointer '$alias' has never been flipped — " +
          "build one (persistMediaIndex) and flip to it"))
    incrementalMediaFromIndex(spark, dir, prefix, batchFilter)
  }

  /** Media near-dup serving under index rotation: a stream of documents
    * probes whatever media index `alias` currently points at — the
    * [[graft.operators.Similarity.streamingAnnTopK]] /
    * [[graft.operators.Dedup.streamingIncrementalDedup]] live-pointer
    * discipline on the FOURTH index family, so every persisted index now
    * has a streaming serving path. The pointer resolves ONCE per
    * micro-batch inside foreachBatch: a blue/green cutover
    * ([[flipMediaIndex]] / [[rotateMediaIndex]]) landing between batches
    * is picked up by the next batch with NO stream restart, and within
    * one batch every `_mband`/`_mcfg` read sees one consistent prefix
    * even if a flip lands mid-batch (the retired color's tables must
    * outlive that batch — the drain note transfers verbatim). Each
    * batch's cross pairs land as `serve_batch=<id>`; batch rows
    * fingerprint map-side ([[hashesOfDocs]]) and band at the index's
    * frozen width, so per-batch cost is batch-sized plus the
    * exchange-free band-table join. Per-pair independence means a
    * batch's output equals the pinned-index [[mediaProbeOf]] of exactly
    * its documents — the StreamingSpec pin.
    */
  def streamingMediaProbe(spark: SparkSession, dir: String,
                          sinkPath: String, checkpointPath: String,
                          alias: String = "media_index_live",
                          sourcePath: Option[String] = None,
                          maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = Tables.documents(spark, dir).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader
      .parquet(sourcePath.getOrElse(s"$dir/documents*.parquet"))
    stream.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val prefix = graft.operators.LiveIndexPointer.current(spark, alias)
          .getOrElse(throw new IllegalStateException(
            s"no live media index: pointer '$alias' has never been " +
              "flipped — build one (persistMediaIndex) and flip to it"))
        mediaProbeOf(spark, prefix,
          hashesOfDocs(spark, batch.select(col("doc_id"), col("text"))))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$sinkPath/serve_batch=$batchId")
        ()
      }
      .start()
  }

  /** The m19 policy consumed to cutover — the shared
    * [[graft.operators.IndexRotation.rotate]] skeleton (see its scaladoc
    * for the crash-forward analysis; the pointer rename is the single
    * commit point) with the media family's drop/audit/rebuild plugged in.
    * What a rotation changes: probe COST (the drift ratio's whole point)
    * and, when the width actually moves, the verify's combined-signature
    * refinement — m6's own width semantic, never a recall loss at the
    * served radius (pigeonhole recall is exact at every width;
    * MediaIndexSpec pins the post-rotate probe equal to the fresh twin at
    * the new width).
    */
  def rotateMediaIndex(spark: SparkSession,
                       alias: String = "media_index_live",
                       rebuildRatio: Double = MediaDriftRebuildRatio): Boolean =
    graft.operators.IndexRotation.rotate(spark, alias, rebuildRatio,
      drop = dropMediaIndexTables(spark, _),
      auditRatio = from => mediaIndexDriftAuditLive(spark, from)
        .collect()(0).getAs[Double]("drift_ratio"),
      rebuild = rebuildMediaIndexTo(spark, _, _))

  /** Delete `alias`'s pointer file
    * ([[graft.operators.LiveIndexPointer.unlink]]).
    */
  def unlinkMediaPointer(spark: SparkSession,
                         alias: String = "media_index_live"): Unit =
    graft.operators.LiveIndexPointer.unlink(spark, alias)
}
