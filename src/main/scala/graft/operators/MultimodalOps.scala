package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column operators: media payloads ride as opaque `binary`
  * columns with typed metadata; decode / feature-extraction runs as a
  * typed Dataset mapPartitions (the shape a real codec-backed decoder
  * takes — one partition = one batch of media, decoded executor-side,
  * never collected to the driver).
  *
  * Two decoders share the seam: [[decodeImages]] is a clearly-marked
  * DETERMINISTIC FAKE ("brightness" = byte-sum mod 256, phash = md5 of
  * the payload) whose output a DuckDB oracle can reproduce — the gated
  * queries use it; [[decodeImagesReal]] is the production path, backed
  * by the JDK's `javax.imageio` codec (PNG/JPEG/GIF, offline), verified
  * on real encoded bytes by ImageioDecodeSpec. The Spark-side plumbing —
  * schema, encoders, partition-batch decode, frame sampling — is
  * identical for both; audio/video codecs would slot in the same way.
  *
  * Scale posture (100 TB): media bytes stay in executor memory one
  * partition at a time; metadata-only queries prune the binary column at
  * the parquet scan (column pruning — verify ReadSchema excludes `data`);
  * frame sampling is generate+explode, no shuffle.
  */
object MultimodalOps {

  /** A media payload with typed metadata. */
  final case class ImageRow(
      image_id: Long, data: Array[Byte],
      width: Int, height: Int, format: String)

  /** Features extracted by the (stub) decoder. */
  final case class DecodedImage(
      image_id: Long, width: Int, height: Int, format: String,
      n_bytes: Long, brightness: Long, phash: String)

  /** Deterministic fixture: wrap each document's text bytes as an image
    * payload with metadata derived from stable columns. Par.fan'd (here
    * and in the other payload builders below): every consumer runs a
    * per-row codec pass, and the one-file fixture scan would otherwise
    * run it single-task (guide §2.5; identity at real scan widths). */
  def imagesFromDocuments(docs: DataFrame): DataFrame =
    Par.fan(docs).select(
      col("doc_id").as("image_id"),
      col("text").cast("binary").as("data"),
      (col("n_chars") % 32 + 1).cast("int").as("width"),
      (col("doc_id") % 24 + 1).cast("int").as("height"),
      when(col("doc_id") % 3 === 0, "png")
        .when(col("doc_id") % 3 === 1, "jpg")
        .otherwise("webp").as("format"))

  /** STUB DECODER — stands in for a codec call; everything around it
    * (typed encoder, per-partition batch decode) is the real plumbing. */
  private def fakeDecode(r: ImageRow): DecodedImage = {
    var s = 0L
    var i = 0
    while (i < r.data.length) { s += (r.data(i) & 0xff); i += 1 }
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(r.data).map(b => f"$b%02x").mkString
    DecodedImage(r.image_id, r.width, r.height, r.format,
      r.data.length.toLong, s % 256, hex)
  }

  /** Decode/feature-extract as a typed per-partition pass. */
  def decodeImages(spark: SparkSession, images: DataFrame): Dataset[DecodedImage] = {
    import spark.implicits._
    images.as[ImageRow].mapPartitions(_.map(fakeDecode))
  }

  /** REAL codec behind the SAME seam: `javax.imageio` (JDK-bundled,
    * offline) decodes PNG/JPEG/GIF payloads executor-side. Features are
    * the honest versions of the stub's: width/height come from the
    * CODEC (never trusted from metadata), brightness is mean luma
    * (ITU-R BT.601 integer weights) over the decoded pixels, and phash
    * is the 64-bit average-hash — 8×8 area-averaged luma thresholded at
    * its mean, row-major MSB-first, 16 hex chars.
    *
    * The gated queries keep [[decodeImages]] (the deterministic stub has
    * a DuckDB-expressible oracle; codec output does not) — this path is
    * the production decoder, spec-verified on real encoded bytes
    * (ImageioDecodeSpec). Undecodable payloads fail loudly rather than
    * minting fake features. */
  def imageioDecode(r: ImageRow): DecodedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.data))
    require(img != null, s"payload of image ${r.image_id} is not a decodable image")
    val w = img.getWidth
    val h = img.getHeight
    // one pass: total luma for brightness + 8x8 cell sums for the aHash
    val cellSum = Array.ofDim[Long](64)
    val cellN = Array.ofDim[Long](64)
    var total = 0L
    var y = 0
    while (y < h) {
      val cy = math.min(y * 8 / h, 7)
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val luma = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
          114 * (rgb & 0xff)) / 1000
        total += luma
        val c = cy * 8 + math.min(x * 8 / w, 7)
        cellSum(c) += luma
        cellN(c) += 1
        x += 1
      }
      y += 1
    }
    val cells = Array.tabulate(64)(i => if (cellN(i) == 0) 0.0
      else cellSum(i).toDouble / cellN(i))
    val mean = cells.sum / 64.0
    var bits = 0L
    var i = 0
    while (i < 64) { if (cells(i) >= mean) bits |= (1L << (63 - i)); i += 1 }
    DecodedImage(r.image_id, w, h, r.format, r.data.length.toLong,
      total / math.max(1L, w.toLong * h), f"$bits%016x")
  }

  /** [[decodeImages]] with the real codec — identical plumbing, real
    * bytes in, codec-derived features out. */
  def decodeImagesReal(spark: SparkSession, images: DataFrame): Dataset[DecodedImage] = {
    import spark.implicits._
    images.as[ImageRow].mapPartitions(_.map(imageioDecode))
  }

  /** An audio payload riding as opaque bytes. */
  final case class AudioRow(audio_id: Long, data: Array[Byte])

  /** Codec-derived audio features: format metadata read from the
    * CODEC (never trusted from elsewhere), plus the per-frame energy
    * vector — the honest version of mm03's stub contract (there:
    * 16-byte text frames, Σ byte²; here: 16-sample PCM frames,
    * Σ mono-sample² — same shape, real samples). */
  final case class DecodedAudio(
      audio_id: Long, sample_rate: Int, n_channels: Int,
      bits_per_sample: Int, n_samples: Long,
      frame_energies: Array[Long])

  /** Samples per energy frame — mirrors the stub's 16-byte frames. */
  val audioFrameLen: Int = 16

  /** REAL audio codec behind the SAME seam as [[imageioDecode]]: the
    * JDK's `javax.sound.sampled` (offline, no external libs) parses
    * the WAV container and hands back PCM. Supports the canonical WAV
    * encodings — 16-bit signed (either endianness, per the format
    * header) and 8-bit unsigned — at any channel count; channels are
    * mixed to mono by integer average (truncating, deterministic)
    * before framing, so a stereo clip's energy profile matches its
    * mono downmix. Undecodable or non-PCM payloads fail loudly rather
    * than minting fake features (the imageioDecode rule).
    *
    * The gated queries keep the stub (its features have a
    * DuckDB-expressible oracle; codec output does not) — this is the
    * production decoder, spec-verified on REAL WAV bytes generated
    * through the same JDK encoder (WavDecodeSpec). Video has the same
    * treatment via [[aviMjpegDecode]] (MJPEG-in-AVI, pure JVM). */
  def wavDecode(r: AudioRow): DecodedAudio = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(r.data))
    try {
      val fmt = in.getFormat
      val enc = fmt.getEncoding
      val bits = fmt.getSampleSizeInBits
      val ok =
        (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED && bits == 16) ||
        (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED && bits == 8)
      require(ok, s"audio ${r.audio_id}: unsupported encoding $enc/$bits-bit " +
        "(canonical WAV is 16-bit signed or 8-bit unsigned PCM)")
      val bytes = in.readAllBytes()
      val ch = fmt.getChannels
      val bytesPerSample = bits / 8
      val frameBytes = ch * bytesPerSample
      val nSamples = bytes.length / frameBytes // per-channel sample count
      val energies = scala.collection.mutable.ArrayBuffer.empty[Long]
      var acc = 0L
      var inFrame = 0
      var i = 0
      while (i < nSamples) {
        // integer mono mix across channels (truncating division)
        var sum = 0L
        var c = 0
        while (c < ch) {
          val off = i * frameBytes + c * bytesPerSample
          val s =
            if (bits == 16) {
              val lo = bytes(off) & 0xff
              val hi = bytes(off + 1) & 0xff
              val raw = if (fmt.isBigEndian) (lo << 8) | hi else (hi << 8) | lo
              raw.toShort.toInt
            } else bytes(off) & 0xff // 8-bit WAV is unsigned, midpoint 128
          sum += s
          c += 1
        }
        val mono = sum / ch
        acc += mono * mono
        inFrame += 1
        if (inFrame == audioFrameLen) {
          energies += acc; acc = 0L; inFrame = 0
        }
        i += 1
      }
      if (inFrame > 0) energies += acc // short tail frame, like the stub
      DecodedAudio(r.audio_id, fmt.getSampleRate.toInt, ch, bits,
        nSamples.toLong, energies.toArray)
    } finally in.close()
  }

  /** [[wavDecode]] as a typed per-partition pass — identical plumbing
    * to [[decodeImagesReal]]: media bytes stay executor-side one
    * partition at a time, never collected to the driver. */
  def decodeAudioReal(spark: SparkSession, audio: DataFrame): Dataset[DecodedAudio] = {
    import spark.implicits._
    audio.as[AudioRow].mapPartitions(_.map(wavDecode))
  }

  /** A video payload riding as opaque bytes. */
  final case class VideoRow(video_id: Long, data: Array[Byte])

  /** Codec-derived video features — the honest version of the
    * text-frame stub contract (there: 16-byte frames, Σ byte²; here:
    * decoded frames, Σ luma² per frame — same shape, real pixels).
    * Dims come from the CODEC (first decoded frame), never trusted
    * from container metadata. */
  final case class DecodedVideo(
      video_id: Long, width: Int, height: Int, n_frames: Long,
      frame_energies: Array[Long])

  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "US-ASCII")

  private def u32le(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  /** REAL video codec behind the SAME seam as [[imageioDecode]] /
    * [[wavDecode]], closing the last stub codec: MJPEG-in-AVI is
    * decodable in pure JVM — a RIFF chunk walk (AVI is 'RIFF' size
    * 'AVI ' of nested LIST chunks; frames are '##dc'/'##db' chunks
    * inside LIST 'movi', chunk bodies padded to even offsets) plus
    * per-frame JPEG decode through the JDK's `javax.imageio`. Features
    * per frame: Σ luma² (ITU-R BT.601 integer weights) — the honest
    * version of the stub's per-frame text energies, and the input
    * shape mm11's shot-bound delta logic runs on. Malformed
    * containers, zero frames, undecodable frames, or mid-stream
    * dimension changes fail loudly rather than minting fake features
    * (the imageioDecode rule). The gated queries keep the stub (its
    * features have a DuckDB-expressible oracle; codec output does
    * not) — this is the production decoder, spec-verified on REAL
    * AVIs assembled from JDK-encoded JPEG frames (AviDecodeSpec). */
  def aviMjpegDecode(r: VideoRow): DecodedVideo = {
    val b = r.data
    require(b.length >= 12 && fourcc(b, 0) == "RIFF" &&
      fourcc(b, 8) == "AVI ",
      s"payload of video ${r.video_id} is not a RIFF/AVI container")
    val riffEnd = math.min(b.length.toLong, 8L + u32le(b, 4)).toInt
    val energies = scala.collection.mutable.ArrayBuffer.empty[Long]
    var w = -1
    var h = -1
    // walk a chunk range; recurse into LISTs so movi is found at any
    // nesting (RIFF allows LIST 'rec ' groups inside movi)
    def walk(from: Int, to: Int): Unit = {
      var off = from
      while (off + 8 <= to) {
        val id = fourcc(b, off)
        val size = u32le(b, off + 4).toInt
        val body = off + 8
        val end = math.min(body + size, to)
        if (id == "RIFF" || id == "LIST") {
          walk(body + 4, end) // skip the 4-byte list type, walk inside
        } else if (id.length == 4 &&
            (id.endsWith("dc") || id.endsWith("db")) &&
            id.take(2).forall(_.isDigit) && size > 0) {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(b, body, end - body))
          require(img != null,
            s"video ${r.video_id}: frame ${energies.length} does not decode")
          if (w < 0) { w = img.getWidth; h = img.getHeight }
          require(img.getWidth == w && img.getHeight == h,
            s"video ${r.video_id}: frame ${energies.length} is " +
              s"${img.getWidth}x${img.getHeight}, stream is ${w}x$h")
          var e = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val luma = (299 * ((rgb >> 16) & 0xff) +
                587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
              e += luma.toLong * luma
              x += 1
            }
            y += 1
          }
          energies += e
        }
        off = body + size + (size & 1) // chunk bodies pad to even
      }
    }
    walk(12, riffEnd)
    require(energies.nonEmpty, s"video ${r.video_id}: no MJPEG frames found")
    DecodedVideo(r.video_id, w, h, energies.length.toLong, energies.toArray)
  }

  /** Frame sampling over a "video" payload: fixed-size frames, keep every
    * `stride`-th, capped at `maxFrames` per clip. Pure generate+explode —
    * no shuffle, no driver loop. The cap is the sample BUDGET (a real
    * frame sampler bounds per-clip output so one long video can't
    * dominate a partition) and doubles as the explode bound the gated
    * oracles encode as generate_series(0, maxFrames-1) — without it a
    * payload longer than maxFrames·frameLen would silently diverge
    * from the oracle (advisor-caught, round 7). */
  def sampleFrames(media: DataFrame, idCol: String, payloadStrCol: String,
      frameLen: Int, stride: Int, maxFrames: Int = 32): DataFrame =
    media
      // empty payload → zero frames: sequence(0, -1) would count DOWN
      // to [0, -1] and mint phantom frames the oracle doesn't have
      .filter(length(col(payloadStrCol)) > 0)
      .withColumn("frame_idx", explode(sequence(lit(0L), least(
        ceil(length(col(payloadStrCol)) / frameLen.toDouble).cast("long") - 1,
        lit(maxFrames.toLong - 1)))))
      .filter(col("frame_idx") % stride === 0)
      .withColumn("frame",
        col(payloadStrCol).substr(
          (col("frame_idx") * frameLen + 1).cast("int"), lit(frameLen)))
      .select(col(idCol), col("frame_idx"),
        md5(col("frame")).as("frame_md5"),
        length(col("frame")).cast("long").as("frame_bytes"))

  /** (format name, magic-byte prefix) — the real file signatures. */
  private val magics: Seq[(String, Array[Byte])] = Seq(
    "png" -> Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte),
    "jpeg" -> Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte),
    "gif" -> "GIF89a".getBytes("US-ASCII"),
    "riff" -> "RIFF".getBytes("US-ASCII"),
    "unknown" -> Array.empty[Byte])

  /** Mixed-modality payloads: doc_id%5 selects a format whose real
    * magic bytes are prepended to the text bytes (stub payloads; the
    * real plumbing — binary concat, array<binary> literal dispatch —
    * is what scales). */
  def mixedPayloads(docs: DataFrame): DataFrame =
    Par.fan(docs).select(col("doc_id"),
      concat(
        element_at(typedLit(magics.map(_._2)),
          (pmod(col("doc_id"), lit(5)) + 1).cast("int")),
        col("text").cast("binary")).as("payload"))

  /** Sniff the modality from the payload's leading bytes — the ingest
    * router for a mixed media stream (never trusts metadata). One
    * codegen'd projection; binary prefix compare via hex. A raw
    * payload that genuinely LEADS with a signature is classified as
    * that format — that's the router's contract (it has only bytes). */
  def sniffModality(payload: Column): Column =
    magics.filter(_._2.nonEmpty).foldRight(lit("unknown"): Column) {
      case ((name, magic), rest) =>
        val hexSig = magic.map(b => f"$b%02X").mkString
        when(hex(substring(payload, 1, magic.length)) === hexSig, name)
          .otherwise(rest)
    }

  /** Big-endian u32 as 4 binary bytes (PNG chunk encoding). */
  private def u32be(c: Column): Column =
    unhex(lpad(hex(c.cast("long")), 8, "0"))

  /** Payloads carrying a SPEC-CORRECT PNG prefix — 8-byte magic, then
    * an IHDR chunk (length 13, tag, big-endian width/height, depth 8,
    * color type 2, interlace 0) with dims derived from doc_id — over
    * the doc's text bytes as stand-in body. The header is byte-exact
    * (ImageioDecodeSpec proves [[pngWidth]] reads REAL encoder output
    * identically); the body is the stub boundary, as everywhere in
    * this file. */
  def pngHeaderPayloads(docs: DataFrame): DataFrame =
    pngHeaderPayloadsScaled(docs, 1, 1)

  /** [[pngHeaderPayloads]] with dim multipliers: w = 16 + (id·wMul) %
    * 1000, h = 16 + (id·hMul) % 777. The default (1, 1) formula makes
    * w == h for every doc_id < 777 — fine for mm09's parse gate,
    * degenerate for anything that BUCKETS by aspect (every sf0.01 doc
    * would land in one bucket); mm10 uses (7, 3) so all aspect classes
    * are populated at every fixture scale. */
  def pngHeaderPayloadsScaled(docs: DataFrame, wMul: Int, hMul: Int)
      : DataFrame = {
    val w = lit(16) + pmod(col("doc_id") * wMul, lit(1000))
    val h = lit(16) + pmod(col("doc_id") * hMul, lit(777))
    Par.fan(docs).select(col("doc_id"), concat(
      typedLit(magics.head._2),                  // \x89PNG\r\n\x1a\n
      u32be(lit(13)),
      typedLit("IHDR".getBytes("US-ASCII")),
      u32be(w), u32be(h),
      // depth, color type, compression, filter, interlace — the IHDR
      // data is 13 bytes by spec (4+4+5)
      typedLit(Array[Byte](8, 2, 0, 0, 0)),
      col("text").cast("binary")).as("payload"))
  }

  /** PNG prefix length produced by [[pngHeaderPayloads]]: magic(8) +
    * len(4) + tag(4) + IHDR data(13). */
  val pngHeaderLen: Int = 29

  /** Scan-level metadata extraction with NO decode: width/height read
    * straight out of the IHDR bytes (u32 big-endian at offsets 17/21,
    * 1-based), guarded on the magic — a non-PNG payload yields null.
    * PNG mandates IHDR first, so the fixed offsets are spec-true for
    * any real file, not just the synthesized ones. Pure codegen'd
    * expressions: at 100 TB this runs inside the scan's projection and
    * the payload column itself can be pruned when only dims are read. */
  def pngU32(payload: Column, off: Int): Column = {
    val magicHex = magics.head._2.map(b => f"$b%02X").mkString
    when(hex(substring(payload, 1, 8)) === magicHex,
      conv(hex(substring(payload, off, 4)), 16, 10).cast("long"))
  }
  def pngWidth(payload: Column): Column = pngU32(payload, 17)
  def pngHeight(payload: Column): Column = pngU32(payload, 21)
}
