package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.ByteBuffer

import javax.imageio.ImageIO
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media payloads ride through the engine
  * as opaque `binary` columns with typed metadata; decode/feature
  * extraction runs batched per partition so codec/library init
  * amortizes per task, not per row.
  *
  * Every modality is a REAL codec path (pure JDK, headless):
  *  - image: actual PNG files decoded with `javax.imageio`
  *  - audio: actual RIFF/WAVE (PCM 16-bit) files decoded with
  *    `javax.sound.sampled` — sample rate / channels / frame count /
  *    first sample all read from the parsed container
  *  - video: a length-prefixed container of real PNG frames
  *    ([[VideoPack]]); decode walks the frame index and parses frame 0
  *    with `javax.imageio`
  * Payloads are synthesized deterministically per document (the
  * "object store" landing step) so the DuckDB oracle can reproduce the
  * decoded features arithmetically — the features row proves the bytes
  * really round-tripped through the codec.
  *
  * The dedup operators ([[imageDedupPhash]], [[imageDedup]],
  * [[videoDedup]]) `localCheckpoint` their decoded (doc_id, phash)
  * rows per call, so the decode pass runs once per query. Those blocks
  * live only in executor storage: losing an executor fails the query,
  * so these operators are unsafe under dynamic allocation. They are
  * not session memos either — [[Dedup.releaseAllCaches]] does not
  * free them; they go when the returned frame is garbage-collected.
  */
object Multimodal {

  /** A media record as it would land from an object store. */
  case class MediaFile(doc_id: Long, media_type: String, payload: Array[Byte],
      n_chars: Long)

  /** Extracted features. Per modality:
    *  - image: decoded width/height, top-left pixel, frames=1
    *  - audio: width=sample rate, height=channels, pixel_rgb=first
    *    PCM sample (signed), frames=frame count
    *  - video: frame-0 width/height/top-left pixel, frames=frame count
    */
  case class MediaMeta(doc_id: Long, media_type: String, width: Long,
      height: Long, pixel_rgb: Long, frames: Long)

  /** Real PNG codec over `javax.imageio`. Encoding is the test-corpus
    * synthesis step; decoding is the production-shaped path: parse the
    * binary payload, read dimensions and pixels from the decoded
    * raster.
    *
    * Every ImageIO call in [[Multimodal]] goes through [[read]] and
    * [[write]], which wrap the bytes in in-memory image streams.
    * ImageIO's default stream cache backs each encode/decode with a
    * temp file, pure overhead for byte-array payloads and a file-churn
    * contention point across parallel codec tasks; the in-memory
    * streams give byte-identical output without changing the
    * JVM-wide `ImageIO.setUseCache` default.
    */
  object PngCodec {
    def read(payload: Array[Byte]): BufferedImage =
      ImageIO.read(new MemoryCacheImageInputStream(
        new ByteArrayInputStream(payload))) // closes the stream

    def write(img: BufferedImage): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new MemoryCacheImageOutputStream(bos)
      try ImageIO.write(img, "png", out) finally out.close() // flushes
      bos.toByteArray
    }

    def encode(width: Int, height: Int, rgb: Int): Array[Byte] = {
      val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      write(img)
    }

    /** (width, height, top-left RGB) read from the decoded image. */
    def decode(payload: Array[Byte]): (Int, Int, Int) = {
      val img = read(payload)
      (img.getWidth, img.getHeight, img.getRGB(0, 0) & 0xffffff)
    }
  }

  /** Real RIFF/WAVE codec over `javax.sound.sampled` (PCM_SIGNED
    * 16-bit little-endian). The decoder reads the container header for
    * format and length and the PCM body for the first sample.
    */
  object WavCodec {
    def encode(sampleRate: Int, channels: Int, nFrames: Int,
        firstSample: Int): Array[Byte] = {
      val fmt = new AudioFormat(sampleRate.toFloat, 16, channels,
        true, false)
      val samples = nFrames * channels
      val pcm = new Array[Byte](samples * 2)
      var i = 0
      while (i < samples) {
        // frame 0 / channel 0 carries the marker sample; the rest is a
        // deterministic ramp (content irrelevant to the features)
        val s = if (i == 0) firstSample else (firstSample + i * 31) & 0xffff
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt,
        nFrames.toLong)
      val bos = new ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** (sample rate, channels, frame count, first sample — signed)
      * read from the parsed WAVE container.
      */
    def decode(payload: Array[Byte]): (Int, Int, Long, Int) = {
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      try {
        val fmt = ais.getFormat
        // AudioInputStream only allows whole-frame reads
        val frame = new Array[Byte](fmt.getFrameSize)
        require(ais.read(frame) == frame.length, "empty PCM body")
        val first = (((frame(1) & 0xff) << 8) | (frame(0) & 0xff)).toShort.toInt
        (fmt.getSampleRate.toInt, fmt.getChannels, ais.getFrameLength, first)
      } finally ais.close()
    }
  }

  /** Video as a length-prefixed container of real PNG frames:
    * `"GVID" | frameCount:int32 | (len:int32 | pngBytes)*` (big-endian).
    * Decode walks every frame record (the returned count is parsed,
    * not trusted from the header) and fully decodes frame 0.
    */
  object VideoPack {
    private val Magic = Array[Byte]('G', 'V', 'I', 'D')

    def encode(frames: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      bos.write(Magic)
      bos.write(ByteBuffer.allocate(4).putInt(frames.length).array())
      frames.foreach { f =>
        bos.write(ByteBuffer.allocate(4).putInt(f.length).array())
        bos.write(f)
      }
      bos.toByteArray
    }

    /** Every frame record's PNG bytes, in container order; the magic
      * and the header's frame count are checked against the walk.
      */
    private[graft] def frames(payload: Array[Byte]): IndexedSeq[Array[Byte]] = {
      val buf = ByteBuffer.wrap(payload)
      val magic = new Array[Byte](4); buf.get(magic)
      require(magic.sameElements(Magic), "not a GVID container")
      val declared = buf.getInt()
      val out = IndexedSeq.newBuilder[Array[Byte]]
      while (buf.remaining() > 4) {
        val frame = new Array[Byte](buf.getInt()); buf.get(frame)
        out += frame
      }
      val walked = out.result()
      require(walked.size == declared,
        s"frame count ${walked.size} != header $declared")
      walked
    }

    /** (parsed frame count, frame-0 width, height, top-left RGB). */
    def decode(payload: Array[Byte]): (Int, Int, Int, Int) = {
      val fs = frames(payload)
      val (w, h, rgb) = PngCodec.decode(fs.head)
      (fs.size, w, h, rgb)
    }
  }

  /** Deterministic image parameters per document — the synthesis rule
    * the DuckDB oracle reproduces arithmetically (the decoded values
    * must round-trip to exactly these).
    */
  def imageParams(docId: Long): (Int, Int, Int) = (
    (docId % 64 + 1).toInt,
    (docId % 48 + 1).toInt,
    ((docId * 2654435761L) % 16777216L).toInt)

  private val SampleRates = Array(8000, 11025, 16000, 22050)

  /** (sample rate, channels, frames, first sample) per document. */
  def audioParams(docId: Long): (Int, Int, Int, Int) = (
    SampleRates((docId % 4).toInt),
    (docId % 2 + 1).toInt,
    (docId % 400 + 50).toInt,
    (((docId * 2654435761L) % 65536L) - 32768L).toInt)

  /** (frame count, width, height, rgb) per document; every frame of a
    * doc's video shares the dims/pixel rule.
    */
  def videoParams(docId: Long): (Int, Int, Int, Int) = (
    (docId % 8 + 2).toInt,
    (docId % 32 + 1).toInt,
    (docId % 24 + 1).toInt,
    ((docId * 2654435761L) % 16777216L).toInt)

  /** documents → binary media table (real PNG/WAV/GVID payloads) →
    * batched decode → features. media_type cycles by source id
    * (image/audio/video) — the documents table stands in for a
    * mixed-modality corpus.
    */
  def features(spark: SparkSession, docs: DataFrame,
      only: Option[String] = None): Dataset[MediaMeta] = {
    import spark.implicits._
    val media = landed(spark, docs, only)
    // Batched decode: one codec "session" per partition (a real
    // decoder inits its native library once per task, not per row).
    media.mapPartitions { batch =>
      batch.map { f =>
        f.media_type match {
          case "image" =>
            val (w, h, rgb) = PngCodec.decode(f.payload)
            MediaMeta(f.doc_id, f.media_type, w, h, rgb, frames = 1L)
          case "audio" =>
            val (rate, ch, frames, first) = WavCodec.decode(f.payload)
            MediaMeta(f.doc_id, f.media_type, rate, ch, first, frames)
          case _ =>
            val (frames, w, h, rgb) = VideoPack.decode(f.payload)
            MediaMeta(f.doc_id, f.media_type, w, h, rgb, frames)
        }
      }
    }
  }

  /** Resize the image rows: decode the PNG, scale the raster to
    * max(1, w/factor) × max(1, h/factor) through a real Graphics2D
    * draw, RE-ENCODE to PNG (the artifact a thumbnail pipeline ships),
    * then decode the new payload for the emitted features — so the
    * output row proves the resized bytes parse, exactly like
    * [[features]] proves the originals do.
    */
  def resized(spark: SparkSession, docs: DataFrame,
      factor: Int = 2): Dataset[MediaMeta] = {
    import spark.implicits._
    landed(spark, docs, Some("image"))
      .mapPartitions { batch =>
        batch.map { f =>
          val img = PngCodec.read(f.payload)
          val nw = math.max(1, img.getWidth / factor)
          val nh = math.max(1, img.getHeight / factor)
          val out = new BufferedImage(nw, nh, BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          g.drawImage(img, 0, 0, nw, nh, null)
          g.dispose()
          val (w, h, rgb) = PngCodec.decode(PngCodec.write(out))
          MediaMeta(f.doc_id, f.media_type, w, h, rgb, frames = 1L)
        }
      }
  }

  /** Resample the audio rows to `1/factor` of the original rate by
    * frame decimation: parse the WAVE container, keep every
    * `factor`-th PCM frame (all channels), RE-ENCODE a new RIFF/WAVE
    * at `rate/factor` (the artifact an audio-downsampling pipeline
    * ships), then decode the new payload for the emitted features —
    * the output row proves the resampled bytes parse, exactly like
    * [[resized]] does for images. Kept frames: indices 0, factor,
    * 2·factor, … → `ceil(frames/factor)` frames, frame 0 (and its
    * first sample) always retained.
    */
  def resampledAudio(spark: SparkSession, docs: DataFrame,
      factor: Int = 2): Dataset[MediaMeta] = {
    import spark.implicits._
    landed(spark, docs, Some("audio"))
      .mapPartitions { batch =>
        batch.map { f =>
          val ais = AudioSystem.getAudioInputStream(
            new ByteArrayInputStream(f.payload))
          val (fmt, pcm) = try {
            val fmt0 = ais.getFormat
            val body = new Array[Byte](
              fmt0.getFrameSize * ais.getFrameLength.toInt)
            var off = 0
            while (off < body.length) {
              val n = ais.read(body, off, body.length - off)
              require(n > 0, "truncated PCM body")
              off += n
            }
            (fmt0, body)
          } finally ais.close()
          val fs = fmt.getFrameSize
          val nFrames = pcm.length / fs
          val kept = (nFrames + factor - 1) / factor
          val out = new Array[Byte](kept * fs)
          var i = 0
          while (i < kept) {
            System.arraycopy(pcm, i * factor * fs, out, i * fs, fs)
            i += 1
          }
          val newFmt = new AudioFormat(
            (fmt.getSampleRate.toInt / factor).toFloat,
            fmt.getSampleSizeInBits, fmt.getChannels, true, false)
          val bos = new ByteArrayOutputStream()
          AudioSystem.write(
            new AudioInputStream(new ByteArrayInputStream(out), newFmt,
              kept.toLong),
            AudioFileFormat.Type.WAVE, bos)
          val (rate, ch, frames, first) = WavCodec.decode(bos.toByteArray)
          MediaMeta(f.doc_id, f.media_type, rate, ch, first, frames)
        }
      }
  }

  /** Sample every `stride`-th frame of the video rows, fully decoding
    * each sampled frame (not just frame 0): one output row per
    * sampled frame with its decoded dims/pixel.
    */
  def frameSamples(spark: SparkSession, docs: DataFrame,
      stride: Int = 2): DataFrame = {
    import spark.implicits._
    landed(spark, docs, Some("video"))
      .mapPartitions { batch =>
        batch.flatMap { f =>
          val fs = VideoPack.frames(f.payload)
          (fs.indices by stride).map { idx =>
            val (w, h, rgb) = PngCodec.decode(fs(idx))
            (f.doc_id, idx.toLong, w.toLong, h.toLong, rgb.toLong)
          }
        }
      }
      .toDF("doc_id", "frame_idx", "width", "height", "pixel_rgb")
  }

  /** The media table as it lands: every payload is a REAL container
    * (PNG / RIFF WAVE / GVID frame pack) synthesized per doc in a
    * batched pass.
    *
    * `only` prunes to one modality BEFORE the synthesis/codec
    * `mapPartitions`: media_type derives relationally from `source`,
    * but a `.filter` placed after the opaque object pass cannot be
    * pushed through it by Catalyst, so the single-modality consumers
    * (resize, audio resample, frame sampling, image/video dedup) were
    * synthesizing all three modalities and discarding two thirds —
    * including the costly PNG/frame-pack encodes (guide §2.3/§4:
    * filter before the opaque operator, not after).
    */
  def landed(spark: SparkSession, docs: DataFrame,
      only: Option[String] = None): Dataset[MediaFile] = {
    import spark.implicits._
    val typed = docs.select(
        col("doc_id"),
        element_at(split(col("source"), "src"), 2).cast("int").as("src_num"),
        col("n_chars"))
      .withColumn("media_type",
        element_at(lit(Array("image", "audio", "video")), col("src_num") % 3 + 1))
      .select(col("doc_id"), col("media_type"), col("n_chars"))
    val base = only.fold(typed)(mt => typed.filter(col("media_type") === mt))
    // The synthesis/codec pass is CPU-bound per ROW (ms-scale codec
    // work), but scan splitting is BYTE-based (openCostInBytes floors
    // the split size at 4 MB), so a small metadata file plans a
    // near-SERIAL codec pass no matter how many cores exist. When the
    // scan under-splits, [[Dedup.cpuBalanced]] re-balances the METADATA
    // rows — doc_id, media_type, n_chars; the payload is born inside
    // the pass, so no heavy bytes ever move (guide §8: decide placement
    // on small rows) — across the core count.
    //
    // ONLY the ImageIO-backed modalities re-balance: javax.sound's
    // provider registry serializes concurrent container probing
    // (JDK13Services.getProviders is synchronized, and every
    // AudioSystem.getAudioInputStream/write takes it), so a parallel
    // audio pass trades serial compute for a lock convoy — measured
    // 1.7x SLOWER at 32 tasks (bench/ab_r21_audio_probe.json), while
    // ImageIO's plugin registry is per-thread and the image/video
    // rows measured 0.5-0.8x. Audio (and the mixed-modality pass,
    // which is one-third audio) keeps the scan's layout.
    val balanced =
      if (only.exists(mt => mt == "image" || mt == "video")) Dedup.cpuBalanced(base)
      else base
    balanced
      .as[(Long, String, Long)]
      .mapPartitions { batch =>
        batch.map { case (id, mt, nChars) =>
          val payload = mt match {
            case "image" =>
              val (w, h, rgb) = imageParams(id)
              PngCodec.encode(w, h, rgb)
            case "audio" =>
              val (rate, ch, frames, first) = audioParams(id)
              WavCodec.encode(rate, ch, frames, first)
            case _ =>
              val (frames, w, h, rgb) = videoParams(id)
              val png = PngCodec.encode(w, h, rgb)
              // frames share dims/pixel → encode once, reference n times
              VideoPack.encode(Seq.fill(frames)(png))
          }
          MediaFile(id, mt, payload, nChars)
        }
      }
  }

  // ---- real DCT perceptual hash (pHash) --------------------------
  //
  // The standard public algorithm (pHash.org / Zauner 2010): grayscale
  // at 32×32 → 2-D DCT-II → keep the top-left 8×8 coefficient block →
  // threshold each AC coefficient against the block median → 63 bits.
  // Re-encodes and mild quantization drift perturb high-frequency
  // content the 8×8 low-pass block never sees, so their hashes land
  // within a small Hamming distance; distinct images differ in many
  // bits. All arithmetic is FIXED-POINT integer (the cosine table is
  // scaled by 2^14 and embedded as literals in BOTH engines — shared
  // table, not shared trig, so a 1-ulp libm difference can never flip
  // a threshold bit cross-engine).

  /** Fixed-point scale for the DCT cosine table. */
  val PhashScale = 16384L

  /** `round(cos(π(2x+1)u/64) · 2^14)` for u ∈ [0,8), x ∈ [0,32) —
    * generated once here and interpolated into the DuckDB oracle as
    * the same literals (the shared-SQL-text discipline).
    */
  lazy val phashCosTable: Array[Long] = {
    val t = new Array[Long](8 * 32)
    var u = 0
    while (u < 8) {
      var x = 0
      while (x < 32) {
        t(u * 32 + x) =
          math.round(math.cos(math.Pi * (2 * x + 1) * u / 64.0) * PhashScale)
        x += 1
      }
      u += 1
    }
    t
  }

  /** 63-bit DCT pHash of a 32×32 row-major grayscale raster: separable
    * integer DCT (rows then columns through [[phashCosTable]]), the
    * 8×8 block minus DC, bit j = coefficient (u,v) with j = 8u+v−1 set
    * iff it exceeds the block's lower median (32nd smallest of 63 —
    * exact integer order statistic, no float median). 63 bits keep the
    * hash strictly positive in an i64, so band extraction and XOR
    * never touch the sign bit in either engine.
    */
  def phash63(gray: Array[Int]): Long = {
    require(gray.length == 1024, s"phash63 expects 32*32, got ${gray.length}")
    val ct = phashCosTable
    val r = new Array[Long](8 * 32) // r(u*32+y) = Σ_x gray(y,x)·ct(u,x)
    var u = 0
    while (u < 8) {
      var y = 0
      while (y < 32) {
        var s = 0L; var x = 0
        while (x < 32) { s += gray(y * 32 + x) * ct(u * 32 + x); x += 1 }
        r(u * 32 + y) = s; y += 1
      }
      u += 1
    }
    val coeffs = new Array[Long](63)
    var j = 1
    while (j < 64) {
      val cu = j / 8; val cv = j % 8
      var s = 0L; var y = 0
      while (y < 32) { s += r(cu * 32 + y) * ct(cv * 32 + y); y += 1 }
      coeffs(j - 1) = s; j += 1
    }
    val sorted = coeffs.clone()
    java.util.Arrays.sort(sorted)
    val med = sorted(31)
    var h = 0L; var i = 0
    while (i < 63) { if (coeffs(i) > med) h |= (1L << i); i += 1 }
    h
  }

  /** Synthetic photo raster for the pHash corpus: a seeded textured
    * gradient (linear + bilinear term through a mod-256 sawtooth — not
    * solid color, so the DCT block carries real structure), with odd
    * doc ids acting as RE-ENCODES of their even twin's raster
    * (seed = doc_id/2): +1 quantization drift on a hash-elected half
    * of the pixels, saturating at 255 — the pixel-level noise a
    * quality-shifted recompression leaves behind. Every term is
    * integer arithmetic the oracle replays verbatim.
    */
  def photoGray(docId: Long): Array[Int] = {
    val seed = docId / 2
    val noisy = docId % 2 == 1
    val a = 1 + seed % 7; val b = 1 + seed % 5
    val c = 1 + seed % 3; val d = seed % 251
    val out = new Array[Int](1024)
    var i = 0
    while (i < 1024) {
      val x = i % 32; val y = i / 32
      // gradient + a seed-hashed 8×8 BLOCK pattern: block-constant
      // offsets are low-frequency content the 8×8 DCT window really
      // sees, so distinct seeds land many bits apart (a smooth
      // gradient alone leaves near-seeds within the Hamming radius)
      val blk = (seed * 2654435761L + (x / 8) * 97L + (y / 8) * 193L) % 128L
      val base =
        ((a * x + b * y + c * ((x * y) / 4) + d + blk) % 256).toInt
      out(i) =
        if (noisy)
          math.min(base + ((docId * 73856093L + x * 19349663L
            + y * 83492791L) % 2L).toInt, 255)
        else base
      i += 1
    }
    out
  }

  /** The pHash test corpus as it lands: one real PNG per document
    * (gray raster in all three channels), odd/even twins sharing a
    * raster modulo re-encode drift; the twins are additionally written
    * through DIFFERENT raster types (3-byte BGR vs packed int RGB), so
    * twin payload BYTES genuinely differ even where the drift is zero
    * — exact byte/hash dedup can never shortcut this corpus.
    */
  def landedPhotos(spark: SparkSession, docs: DataFrame): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    // same core-count balance as [[landed]]: the synthesis + ImageIO
    // work is ms-per-row CPU, the input is one id column
    Dedup.cpuBalanced(docs.select(col("doc_id"))).as[Long].mapPartitions { batch =>
      batch.map { id =>
        val gray = photoGray(id)
        val typ = if (id % 2 == 1) BufferedImage.TYPE_3BYTE_BGR
          else BufferedImage.TYPE_INT_RGB
        val img = new BufferedImage(32, 32, typ)
        var i = 0
        while (i < 1024) {
          val g = gray(i)
          img.setRGB(i % 32, i / 32, (g << 16) | (g << 8) | g)
          i += 1
        }
        (id, PngCodec.write(img))
      }
    }
  }

  /** X5 at real perceptual-hash strength: dedup a photo corpus on the
    * Hamming-banded 63-bit DCT pHash of the genuinely DECODED rasters.
    * The 12-bit quantized-mean key ([[imageDedup]]) misses re-encodes
    * with small drift and collides distinct images at scale; the DCT
    * hash separates structure from re-encode noise — a quality-
    * shifted recompression lands within `tau` bits, a different image
    * lands far away.
    *
    * Candidate generation is LSH-style banding (8 bands × 8 bits —
    * hash-equal band → candidate, the minhash discipline: never an
    * all-pairs Hamming join); candidates are verified by exact
    * `bit_count(xor) ≤ tau`, and each doc's keeper is the least id in
    * its verified neighborhood (direct-neighbor election, like D2's
    * candidate stage — D7's connected components composes on top when
    * transitive clusters are wanted).
    *
    * Scale: decode + hash is the batched per-partition codec pass;
    * banding explodes to 8 rows/doc; the band self-join is an
    * equi-join (AQE-skew-splittable) whose verify step reads two
    * longs; keeper election is one partial-agg groupBy. No all-pairs
    * stage anywhere.
    */
  def imageDedupPhash(spark: SparkSession, docs: DataFrame,
      tau: Int = 10): DataFrame = {
    import spark.implicits._
    graft.core.Validation.validate("image-dedup-phash",
      graft.core.Validation.knob("tau", tau.toLong, minV = 0L, maxV = 63L))
    // Decode + hash ONCE, then materialize: the hash table is consumed
    // by the x side of the band join, the y side, and the final keeper
    // join-back, and Spark has no subtree reuse for MapPartitions, so
    // the un-materialized form ran the ImageIO decode pass FIVE times
    // per query (the r20 plans show five MapPartitions decode legs).
    // localCheckpoint pins (doc_id, phash) — 16 bytes/doc, O(docs)
    // executor storage, negligible next to one decode pass — so every
    // consumer reads the materialized rows (guide §8: decide with
    // small rows; never re-derive them from the heavy payloads).
    val hashed = landedPhotos(spark, docs).mapPartitions { batch =>
      batch.map { case (id, payload) =>
        val img = PngCodec.read(payload)
        require(img.getWidth == 32 && img.getHeight == 32,
          s"photo $id: unexpected dims ${img.getWidth}x${img.getHeight}")
        val gray = new Array[Int](1024)
        var i = 0
        while (i < 1024) {
          gray(i) = img.getRGB(i % 32, i / 32) & 0xff; i += 1
        }
        (id, phash63(gray))
      }
    }.toDF("doc_id", "phash").localCheckpoint()
    val bands = hashed.select(col("doc_id"), col("phash"),
        explode(expr("sequence(0, 7)")).as("band_id"))
      .withColumn("band_key",
        expr("shiftright(phash, 8 * band_id) % 256"))
    val xs = bands.as("x"); val ys = bands.as("y")
    // Hamming verify before the dedup exchange. (Honesty note: r20
    // claimed moving the filter below the distinct cut shuffle bytes,
    // but the committed plans show Catalyst already produced the
    // identical plan from the distinct-then-filter form — the filter
    // pushes through the aggregate on its grouping columns either way.
    // The form is kept because it states the executed plan directly.)
    val pairs = xs.join(ys,
        col("x.band_id") === col("y.band_id")
          && col("x.band_key") === col("y.band_key")
          && col("x.doc_id") < col("y.doc_id"))
      .filter(expr(s"bit_count(x.phash ^ y.phash) <= $tau"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct() // a pair can collide in several bands
    // Symmetrize with ONE pass: unionByName(pairs, pairs.swapped)
    // re-evaluated the whole band join + distinct per union arm (no
    // subtree reuse); exploding each verified pair into its two
    // directions keeps the join + distinct in the plan exactly once.
    val nbr = pairs.select(explode(array(
        struct(col("a").as("doc_id"), col("b").as("nbr")),
        struct(col("b").as("doc_id"), col("a").as("nbr")))).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.nbr").as("nbr"))
      .groupBy("doc_id")
      .agg(min("nbr").as("min_nbr"), count(lit(1)).as("n_near"))
    hashed.join(nbr, Seq("doc_id"), "left")
      .select(col("doc_id"), col("phash"),
        least(col("doc_id"), coalesce(col("min_nbr"), col("doc_id")))
          .as("keeper_id"),
        (coalesce(col("n_near"), lit(0L)) + 1L).as("n_near"))
  }

  /** Image dedup over DECODED content — the cheap member of the
    * pHash family: decode each PNG (really, via the [[features]]
    * codec pass), then quantize what a perceptual hash would measure —
    * the raster's mean color to its top 6 bits and the dims to /8
    * buckets — into a 12-bit perceptual key; each key bucket keeps its
    * min-doc_id member. Near-identical renders (small color shifts,
    * off-by-a-few-pixels dims) collide into one bucket, exact
    * re-encodes always do. The synthetic rasters are solid-color, so
    * mean color IS the decoded pixel and the oracle reproduces the key
    * arithmetically from the synthesis params — equality proves the
    * dedup ran over truly decoded bytes.
    *
    * Scale: decode is the batched per-partition codec pass (no
    * Catalyst codec expression exists); the grouping is one
    * partial-aggregating `groupBy` on the 12-bit key, and the keeper
    * map (≤4096 rows by construction) joins back as a broadcast.
    */
  def imageDedup(spark: SparkSession, docs: DataFrame): DataFrame =
    bucketKeeper(spark, docs, "image",
      "(pixel_rgb div 262144) * 64 + ((width - 1) div 8) * 8 + ((height - 1) div 8)")

  /** Video dedup over really-decoded frame packs — the video twin of
    * [[imageDedup]], keyed COARSER because video similarity is more
    * forgiving than stills: the decoded frame-0 mean color quantized
    * to 4 bits, dims to /8 buckets, and the decoded frame COUNT to /4
    * buckets (re-encodes commonly gain or lose a few frames). The
    * synthesis makes frame 0 representative (all frames share the
    * pixel rule), so the key reads only decoded values — equality with
    * the synthesis-param oracle proves the dedup ran over bytes that
    * really round-tripped the container + PNG codec.
    *
    * Scale: identical shape to [[imageDedup]] — batched codec pass,
    * partial-agg `groupBy` on a ≤384-value key, broadcast keeper map.
    */
  def videoDedup(spark: SparkSession, docs: DataFrame): DataFrame =
    bucketKeeper(spark, docs, "video",
      "(pixel_rgb div 1048576) * 64 + ((width - 1) div 8) * 16 " +
        "+ ((height - 1) div 8) * 2 + ((frames - 2) div 4)")

  /** The shared plan of [[imageDedup]] and [[videoDedup]]: decode the
    * `modality` rows through [[features]], key each by the SQL `key`
    * over its decoded features, and keep the min doc_id per key.
    * The decoded keys are materialized once: they feed both the bucket
    * aggregate and the probe side of the join, and without the
    * checkpoint each consumer re-ran the whole decode pass (MapPartitions
    * subtrees are never reused). (doc_id, phash) is 16 bytes/doc.
    */
  private def bucketKeeper(spark: SparkSession, docs: DataFrame,
      modality: String, key: String): DataFrame = {
    val keyed = features(spark, docs, Some(modality)).toDF()
      .withColumn("phash", expr(key))
      .select("doc_id", "phash")
      .localCheckpoint()
    val buckets = keyed.groupBy("phash")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_bucket"))
    keyed.join(broadcast(buckets), Seq("phash"))
      .withColumn("keep", (col("doc_id") === col("keeper_id")).cast("int"))
      .select("doc_id", "phash", "keeper_id", "n_bucket", "keep")
  }
}
