package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets

/** Multimodal column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata structs; decode / feature-extract
  * / resize / frame-sample run per-partition in batches.
  *
  * Every stage is REAL on in-JDK machinery or public container specs —
  * no external dependency:
  *  - images: [[decodeImage]] header-only metadata via `javax.imageio`
  *    (PNG/JPEG/GIF/BMP) + hand-parsed WebP headers; [[resizeImage]]
  *    full decode + AWT aspect-fit rescale; [[imageChannelSums]] exact
  *    per-channel pixel sums;
  *  - audio: [[decodeAudio]] header-only via `javax.sound.sampled`
  *    (WAV/AIFF/AU);
  *  - video: [[decodeVideo]] ISO-BMFF (MP4) box metadata and
  *    [[mp4SampleFrames]] encoded-sample extraction via the sample
  *    table. Only the pixel decode of those samples needs a codec this
  *    container doesn't ship.
  * [[decodeImageStub]] persists solely for synthetic test payloads,
  * gated behind an explicit 'STUB' magic.
  */
object Multimodal {

  /** Metadata contract for a decoded image payload. `channels` is NULL
    * when the payload went through the stub path (fake header carries no
    * channel count). */
  val imageMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, true),
    StructField("width", IntegerType, true),
    StructField("height", IntegerType, true),
    StructField("channels", IntegerType, true),
    StructField("n_bytes", LongType, false),
    StructField("ok", BooleanType, false)))

  /** Magic-byte sniff for the formats the JDK ships readers for — a
    * corpus pass must not pay ImageIO's stream + plugin-registry setup
    * (~1 ms/row, measured as q24 0.2 s → 4.2 s at sf0.1) on payloads
    * that are obviously not images. */
  private def looksLikeImage(b: Array[Byte]): Boolean =
    (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
    (b(0) == 0xff.toByte && b(1) == 0xd8.toByte && b(2) == 0xff.toByte) ||
    (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
    (b(0) == 'B' && b(1) == 'M')

  private def isWebp(b: Array[Byte]): Boolean =
    b.length >= 16 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P'

  /** Does the runtime classpath register a WebP ImageIO plugin? The
    * stock JDK ships none (ImageIO.read returns null for WebP), but a
    * deployment may add one (e.g. a TwelveMonkeys reader) — probed
    * ONCE against the plugin registry so the pixel paths admit WebP
    * exactly when decoding it can succeed, and skip the ~1 ms/row
    * stream+registry setup when it can't. */
  private lazy val webpReaderRegistered: Boolean =
    try javax.imageio.ImageIO.getImageReadersByMIMEType("image/webp")
      .hasNext
    catch { case _: Exception => false }

  /** Pixel-decode admission: the JDK-native magic bytes, plus WebP iff
    * a WebP reader is actually registered. */
  private def pixelDecodable(b: Array[Byte]): Boolean =
    looksLikeImage(b) || (webpReaderRegistered && isWebp(b))

  /** WebP has no in-JDK codec, but its header is a public spec — the
    * dimensions/alpha live in the first chunk, so a metadata pass can
    * still be real for webp: VP8 (lossy) start-code + 14-bit dims,
    * VP8L (lossless) 0x2f byte + bit-packed dims + alpha flag, VP8X
    * (extended) flags + 24-bit canvas dims. */
  private def decodeWebp(b: Array[Byte])
      : Option[(String, Int, Int, Option[Int])] = {
    if (b.length < 25) return None
    new String(b, 12, 4, java.nio.charset.StandardCharsets.US_ASCII) match {
      case "VP8 " => // lossy: 3-byte frame tag, 9D 01 2A, w16le, h16le
        if (b.length >= 30 && (b(23) & 0xff) == 0x9d &&
            (b(24) & 0xff) == 0x01 && (b(25) & 0xff) == 0x2a) {
          val w = (b(26) & 0xff) | ((b(27) & 0x3f) << 8)
          val h = (b(28) & 0xff) | ((b(29) & 0x3f) << 8)
          if (w > 0 && h > 0) Some(("webp", w, h, Some(3))) else None
        } else None
      case "VP8L" => // lossless: 0x2f, then 14+14 bit dims + alpha bit
        if ((b(20) & 0xff) == 0x2f) {
          val b1 = b(21) & 0xff; val b2 = b(22) & 0xff
          val b3 = b(23) & 0xff; val b4 = b(24) & 0xff
          val w = 1 + (((b2 & 0x3f) << 8) | b1)
          val h = 1 + (((b4 & 0x0f) << 10) | (b3 << 2) | (b2 >> 6))
          val ch = if (((b4 >> 4) & 1) == 1) 4 else 3
          Some(("webp", w, h, Some(ch)))
        } else None
      case "VP8X" => // extended: flag byte (0x10 = alpha), 24-bit dims
        if (b.length >= 30) {
          val w = 1 + ((b(24) & 0xff) | ((b(25) & 0xff) << 8) |
            ((b(26) & 0xff) << 16))
          val h = 1 + ((b(27) & 0xff) | ((b(28) & 0xff) << 8) |
            ((b(29) & 0xff) << 16))
          val ch = if ((b(20) & 0x10) != 0) 4 else 3
          Some(("webp", w, h, Some(ch)))
        } else None
      case _ => None
    }
  }

  /** Real image header decode: hand-parsed WebP headers plus the JDK's
    * ImageIO plugin registry (PNG/JPEG/GIF/BMP). Width/height come from
    * the header (no pixel decode — O(header) per payload, which is what
    * a 100 TB metadata pass must be); channels from the reader's raw
    * image type. Returns None when no decoder claims the bytes or the
    * header is corrupt. */
  def decodeImage(bytes: Array[Byte])
      : Option[(String, Int, Int, Option[Int])] = {
    if (bytes == null || bytes.length < 8) return None
    if (isWebp(bytes)) return decodeWebp(bytes)
    if (!looksLikeImage(bytes)) return None
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val r = readers.next()
        try {
          r.setInput(iis, true, true)
          val w = r.getWidth(0)
          val h = r.getHeight(0)
          val fmt = r.getFormatName.toLowerCase
          val ch = {
            val raw = r.getRawImageType(0)
            val spec =
              if (raw != null) raw
              else {
                val it = r.getImageTypes(0)
                if (it.hasNext) it.next() else null
              }
            if (spec == null) None
            else Some(spec.getNumComponents)
          }
          if (w <= 0 || h <= 0) None else Some((fmt, w, h, ch))
        } finally r.dispose()
      } finally if (iis != null) iis.close()
    } catch { case _: Exception => None } // truncated/corrupt header
  }

  /** STUB decoder for synthetic test payloads: reads a fake 10-byte
    * header `['S','T','U','B', fmt, w16, h16, pad]`. The explicit magic
    * means arbitrary corpus binary is NEVER claimed by the stub — a
    * payload no real decoder recognizes reports ok=false instead of
    * fabricated metadata. Returns (format, width, height) or None. */
  def decodeImageStub(bytes: Array[Byte]): Option[(String, Int, Int)] = {
    if (bytes == null || bytes.length < 10) return None
    if (!(bytes(0) == 'S' && bytes(1) == 'T' && bytes(2) == 'U' &&
          bytes(3) == 'B')) return None
    val fmt = bytes(4) match {
      case 1 => "png"
      case 2 => "jpeg"
      case 3 => "webp"
      case _ => return None
    }
    val w = ((bytes(5) & 0xff) << 8) | (bytes(6) & 0xff)
    val h = ((bytes(7) & 0xff) << 8) | (bytes(8) & 0xff)
    if (w == 0 || h == 0) None else Some((fmt, w, h))
  }

  /** Encode a fake payload (test/data-gen helper, the inverse stub). */
  def encodeImageStub(fmt: String, w: Int, h: Int,
                      payloadLen: Int): Array[Byte] = {
    val id: Byte = fmt match {
      case "png" => 1; case "jpeg" => 2; case "webp" => 3; case _ => 0
    }
    "STUB".getBytes(StandardCharsets.US_ASCII) ++
      Array[Byte](id, ((w >> 8) & 0xff).toByte, (w & 0xff).toByte,
        ((h >> 8) & 0xff).toByte, (h & 0xff).toByte, 0) ++
      Array.fill[Byte](payloadLen)(0x5a)
  }

  /** The one payload-attach path every `with*` operator runs: append
    * the nullable column `outCol` of `dataType`, computed per row by
    * `f` from the `binCol` payload bytes (NULL payloads included),
    * partition-batched. `f` returns the column's external value (a
    * `Row` for a struct, a `Seq` for an array, NULL for none). An input
    * already carrying `outCol` fails loudly instead of growing a
    * second column of the same name. */
  private def attach(df: DataFrame, binCol: String, outCol: String,
                     dataType: DataType)(f: Array[Byte] => Any)
      : DataFrame = {
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists in the input")
    val outSchema = StructType(df.schema.fields :+
      StructField(outCol, dataType, true))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { it =>
      it.map(row =>
        Row.fromSeq(row.toSeq :+ f(row.getAs[Array[Byte]](binIdx))))
    }(enc)
  }

  /** Attach decoded metadata to a binary column, partition-batched.
    * Output = input columns + `meta` struct. Real ImageIO decode first;
    * unclaimed payloads fall back to the stub header. Corrupt rows get
    * meta.ok=false instead of failing the job. */
  def withImageMeta(df: DataFrame, binCol: String): DataFrame =
    attach(df, binCol, "meta", imageMetaSchema) { bytes =>
      val n = if (bytes == null) 0L else bytes.length.toLong
      decodeImage(bytes) match {
        case Some((f, w, h, ch)) => Row(f, w, h, ch.orNull, n, true)
        case None => decodeImageStub(bytes) match {
          case Some((f, w, h)) => Row(f, w, h, null, n, true)
          case None            => Row(null, null, null, null, n, false)
        }
      }
    }

  /** Deterministic REAL image generator (test/data-gen helper): encodes
    * a small PNG or JPEG through the same in-JDK ImageIO codecs
    * [[decodeImage]] reads. Layout is analytic in `i` so an engine-
    * independent oracle can state the expected metadata:
    *   - i % 7 == 0 → corrupt payload (garbage bytes, ok=false)
    *   - i % 3 == 0 → grayscale (1 channel); 1 → RGB (3); 2 → ARGB (4)
    *   - ARGB is always PNG (JPEG has no alpha); otherwise PNG for even
    *     i, JPEG for odd
    *   - width = (8 + i % 9)·dimScale, height = (5 + (i*3) % 11)·dimScale
    *
    * `dimScale` (default 1, the oracled thumbnail corpus) multiplies
    * both dimensions — at 1 the images are ≤16×15 px, so a 16×16-grid
    * wide hash maps ≲1 pixel per cell and DISTINCT images collide
    * within a few bits (the r19 thumbnail-collision floor:
    * wide-signature precision was measured at the corpus's floor, not
    * the operator's). The replicated-corpus measurement ran dimScale
    * 16 (128–256 × 80–240 px; SCALE.md "MediaScaleBench above the
    * thumbnail floor") so each grid cell averages ≥40 pixels and the
    * precision reading is the signature family's own. */
  def encodeTestImage(i: Long, dimScale: Int = 1): Array[Byte] = {
    require(dimScale >= 1 && dimScale <= 64,
      s"dimScale=$dimScale out of [1,64]")
    if (i % 7 == 0) return Array[Byte](0x42, 0x41, 0x44, 0x21)
    val w = (8 + i % 9).toInt * dimScale
    val h = (5 + (i * 3) % 11).toInt * dimScale
    import java.awt.image.BufferedImage
    val (imgType, fmt) = (i % 3) match {
      case 0 => (BufferedImage.TYPE_BYTE_GRAY,
        if (i % 2 == 0) "png" else "jpg")
      case 1 => (BufferedImage.TYPE_3BYTE_BGR,
        if (i % 2 == 0) "png" else "jpg")
      case _ => (BufferedImage.TYPE_INT_ARGB, "png")
    }
    val img = new BufferedImage(w, h, imgType)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((i * 2654435761L + x * 31 + y) & 0xffffff).toInt)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  /** Aspect-preserving fit of (w, h) into a box×box square — pure
    * integer math (floor division) so any engine can state the expected
    * output dims exactly. Never upscales. */
  def fitDims(w: Int, h: Int, box: Int): (Int, Int) =
    if (w <= box && h <= box) (w, h)
    else if (w >= h) (box, math.max(1, h * box / w))
    else (math.max(1, w * box / h), box)

  /** REAL image resize through the in-JDK AWT pipeline: decode (any
    * ImageIO format), scale into a box×box aspect-preserving fit
    * ([[fitDims]]), re-encode PNG (alpha preserved). Returns None for
    * payloads no decoder claims. This is the thumbnail/normalize step
    * of a multimodal training pipeline — the decode is necessarily a
    * full pixel decode here, unlike the metadata pass. */
  def resizeImage(bytes: Array[Byte], box: Int): Option[Array[Byte]] =
    withPixels(bytes) { img =>
      val (tw, th) = fitDims(img.getWidth, img.getHeight, box)
      val typ =
        if (img.getColorModel.hasAlpha)
          java.awt.image.BufferedImage.TYPE_INT_ARGB
        else java.awt.image.BufferedImage.TYPE_INT_RGB
      val out = new java.awt.image.BufferedImage(tw, th, typ)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, tw, th, null)
      } finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      bos.toByteArray
    }

  /** Attach a resized payload column (`resized`, PNG bytes, NULL when
    * the input doesn't decode), partition-batched. */
  def withResizedImage(df: DataFrame, binCol: String,
                       box: Int): DataFrame =
    attach(df, binCol, "resized", BinaryType)(resizeImage(_, box).orNull)

  /** Metadata contract for a decoded audio payload. */
  val audioMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, true),
    StructField("sample_rate", IntegerType, true),
    StructField("channels", IntegerType, true),
    StructField("bits", IntegerType, true),
    StructField("frames", LongType, true),
    StructField("n_bytes", LongType, false),
    StructField("ok", BooleanType, false)))

  /** Real audio header decode via the JDK's javax.sound.sampled
    * (WAV/AIFF/AU readers ship with the JDK — zero new dependencies).
    * Header-only: sample rate, channels, bit depth, frame count — no
    * sample data is decoded. Magic-byte sniffed (RIFF/FORM/.snd) so
    * non-audio payloads skip the reader registry. */
  def decodeAudio(bytes: Array[Byte])
      : Option[(String, Int, Int, Int, Option[Long])] = {
    if (bytes == null || bytes.length < 16) return None
    val riff = bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
      bytes(3) == 'F'
    val form = bytes(0) == 'F' && bytes(1) == 'O' && bytes(2) == 'R' &&
      bytes(3) == 'M'
    val snd = bytes(0) == '.' && bytes(1) == 's' && bytes(2) == 'n' &&
      bytes(3) == 'd'
    if (!riff && !form && !snd) return None
    try {
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(bytes))
      val f = aff.getFormat
      // AudioSystem.NOT_SPECIFIED (-1) is the legal "unknown length"
      // marker (e.g. AU with 0xffffffff data size) — surface as None,
      // not a negative frame count
      val frames = aff.getFrameLength
      Some((aff.getType.getExtension, f.getSampleRate.toInt,
        f.getChannels, f.getSampleSizeInBits,
        if (frames < 0) None else Some(frames.toLong)))
    } catch { case _: Exception => None }
  }

  /** Attach decoded audio metadata, partition-batched — the audio
    * sibling of [[withImageMeta]]. */
  def withAudioMeta(df: DataFrame, binCol: String): DataFrame =
    attach(df, binCol, "meta", audioMetaSchema) { bytes =>
      val n = if (bytes == null) 0L else bytes.length.toLong
      decodeAudio(bytes) match {
        case Some((f, sr, ch, bits, fr)) =>
          Row(f, sr, ch, bits, fr.orNull, n, true)
        case None => Row(null, null, null, null, null, n, false)
      }
    }

  /** Deterministic REAL audio generator: 16-bit signed PCM through the
    * same in-JDK codecs [[decodeAudio]] reads, rotating through ALL
    * THREE container types the decoder claims (WAV little-endian,
    * AIFF/AU big-endian — each container's native byte order), analytic
    * in `i` for an engine-independent oracle:
    *   - i % 7 == 0 → corrupt payload (ok=false)
    *   - container = (i/3) % 3: 0 → wav, 1 → aif, 2 → au
    *   - sample_rate = 8000 << (i % 3)  (8/16/32 kHz)
    *   - channels = 1 + (i % 2), bits = 16
    *   - frames = 50 + (i % 20)
    */
  def encodeTestAudio(i: Long): Array[Byte] = {
    if (i % 7 == 0) return Array[Byte](0x4e, 0x4f, 0x50, 0x45)
    val sampleRate = 8000 << (i % 3).toInt
    val channels = 1 + (i % 2).toInt
    val frames = 50 + (i % 20).toInt
    val (typ, bigEndian) = ((i / 3) % 3) match {
      case 0 => (javax.sound.sampled.AudioFileFormat.Type.WAVE, false)
      case 1 => (javax.sound.sampled.AudioFileFormat.Type.AIFF, true)
      case _ => (javax.sound.sampled.AudioFileFormat.Type.AU, true)
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, channels, true, bigEndian)
    val data = Array.tabulate(frames * channels * 2)(b =>
      ((i * 31 + b * 7) & 0xff).toByte)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, typ, bos)
    bos.toByteArray
  }

  /** Metadata contract for a decoded video payload. */
  val videoMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, true),
    StructField("duration_ms", LongType, true),
    StructField("width", IntegerType, true),
    StructField("height", IntegerType, true),
    StructField("n_tracks", IntegerType, true),
    StructField("n_bytes", LongType, false),
    StructField("ok", BooleanType, false)))

  private def u32be(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  /** Recursion bound for ISO-BMFF box walks. Real files nest
    * moov/trak/mdia/minf/stbl = depth 5; 16 leaves slack for edit
    * lists etc. while keeping a crafted chain of 8-byte container
    * boxes from overflowing the stack. */
  private val MaxBoxDepth = 16

  /** Real video container metadata from the ISO-BMFF (MP4) box
    * structure — a public spec, parseable without any codec: `ftyp`
    * gives the brand, `moov/mvhd` the timescale + duration,
    * `moov/trak/tkhd` the track count and presentation dims (16.16
    * fixed point). Header-only — sample data (`mdat`) is never touched,
    * so a corpus metadata pass reads O(moov) bytes per payload.
    * Encoded-sample extraction is [[mp4SampleFrames]]; the pixel
    * decode of those samples needs a codec this container doesn't
    * ship. */
  def decodeVideo(bytes: Array[Byte])
      : Option[(String, Option[Long], Option[Int], Option[Int], Int)] = {
    if (bytes == null || bytes.length < 16) return None
    if (!(bytes(4) == 'f' && bytes(5) == 't' && bytes(6) == 'y' &&
          bytes(7) == 'p')) return None
    try {
      var brand: String = null
      var durMs: Option[Long] = None
      var w: Option[Int] = None
      var h: Option[Int] = None
      var tracks = 0

      def walk(from: Long, to: Long, depth: Int): Unit = {
        // depth is UNTRUSTED: a payload of nested 8-byte container
        // boxes recurses once per 8 bytes, and the resulting
        // StackOverflowError is an Error the Exception handler below
        // can't catch. Legitimate metadata sits at depth <= 3 here.
        if (depth > MaxBoxDepth) return
        var p = from
        while (p + 8 <= to) {
          val size = u32be(bytes, p.toInt)
          val typ = new String(bytes, p.toInt + 4, 4,
            StandardCharsets.US_ASCII)
          if (size < 8 || p + size > to) return // malformed: stop level
          val body = p + 8
          // field reads are bounded by the BOX's own end, not the
          // enclosing container's — a truncated mvhd/tkhd must leave
          // its fields NULL instead of reading the sibling box's bytes
          val boxEnd = p + size
          typ match {
            case "ftyp" if depth == 0 =>
              if (body + 4 <= boxEnd)
                brand = new String(bytes, body.toInt, 4,
                  StandardCharsets.US_ASCII).trim
            case "moov" => walk(body, p + size, depth + 1)
            case "trak" => tracks += 1; walk(body, p + size, depth + 1)
            case "mvhd" if body + 4 <= boxEnd =>
              val ver = bytes(body.toInt) & 0xff
              if (ver == 0 && body + 20 <= boxEnd) {
                val timescale = u32be(bytes, body.toInt + 12)
                val duration = u32be(bytes, body.toInt + 16)
                if (timescale > 0)
                  durMs = Some(duration * 1000L / timescale)
              } else if (ver == 1 && body + 32 <= boxEnd) {
                val timescale = u32be(bytes, body.toInt + 20)
                val duration = (u32be(bytes, body.toInt + 24) << 32) |
                  u32be(bytes, body.toInt + 28)
                if (timescale > 0)
                  durMs = Some(duration * 1000L / timescale)
              }
            case "tkhd" if body + 4 <= boxEnd =>
              // v0: ver/flags 4 + times 8 + id 4 + res 4 + dur 4 +
              // res 8 + layer/group/vol/res 8 + matrix 36 = offset 76
              val ver = bytes(body.toInt) & 0xff
              val dimOff = body + (if (ver == 1) 88 else 76)
              if (dimOff + 8 <= boxEnd) {
                val tw = (u32be(bytes, dimOff.toInt) >> 16).toInt
                val th = (u32be(bytes, dimOff.toInt + 4) >> 16).toInt
                if (tw > 0 && th > 0 && w.isEmpty) {
                  w = Some(tw); h = Some(th)
                }
              }
            case _ => // skip leaf boxes
          }
          p += size
        }
      }
      walk(0L, bytes.length.toLong, 0)
      if (brand == null) None
      else Some((brand, durMs, w, h, tracks))
    } catch { case _: Exception => None }
  }

  /** Attach decoded video metadata, partition-batched. */
  def withVideoMeta(df: DataFrame, binCol: String): DataFrame =
    attach(df, binCol, "meta", videoMetaSchema) { bytes =>
      val n = if (bytes == null) 0L else bytes.length.toLong
      decodeVideo(bytes) match {
        case Some((f, d, w, h, t)) =>
          Row(f, d.orNull, w.orNull, h.orNull, t, n, true)
        case None => Row(null, null, null, null, null, n, false)
      }
    }

  /** REAL frame sampling from an MP4 container: parse the sample table
    * (moov/trak/mdia/minf/stbl — stsz sizes, stco chunk offsets, stsc
    * chunk mapping) and slice every `stride`-th ENCODED sample payload
    * out of mdat. This is what a training-data pipeline stores ahead of
    * GPU decode — the pixel decode of those payloads is the only part
    * that genuinely needs a codec. Supports the common single-trak
    * layout; multi-entry stsc chunk maps are walked per entry. Returns
    * None when the payload is not ISO-BMFF or has no sample table. */
  def mp4SampleFrames(bytes: Array[Byte],
                      stride: Int): Option[Seq[Array[Byte]]] = {
    require(stride > 0)
    samplePositions(bytes).map { st =>
      st.positions.zipWithIndex.collect {
        case ((off, len), k) if k % stride == 0 =>
          java.util.Arrays.copyOfRange(bytes, off.toInt, (off + len).toInt)
      }
    }
  }

  /** Every sample's (absolute offset, length) plus the track's timing
    * info when present (stts deltas in mdhd-timescale units). */
  private final case class SampleIndex(
      positions: Vector[(Long, Long)],
      stts: Array[(Long, Long)],
      timescale: Long)

  private def samplePositions(bytes: Array[Byte]): Option[SampleIndex] = {
    if (bytes == null || bytes.length < 16) return None
    if (!(bytes(4) == 'f' && bytes(5) == 't' && bytes(6) == 'y' &&
          bytes(7) == 'p')) return None
    try {
      var sizes: Array[Long] = null
      var chunkOffsets: Array[Long] = null
      // stsc entries: (firstChunk, samplesPerChunk)
      var chunkMap: Array[(Long, Long)] = null
      // stts entries: (sampleCount, sampleDelta)
      var stts: Array[(Long, Long)] = null
      var timescale = 0L

      def walk(from: Long, to: Long, depth: Int): Unit = {
        // cap recursion: nested 8-byte container boxes would otherwise
        // recurse payload_len/8 deep → StackOverflowError (an Error,
        // uncatchable below). The stbl path is depth 5.
        if (depth > MaxBoxDepth) return
        var p = from
        while (p + 8 <= to) {
          val size = u32be(bytes, p.toInt)
          val typ = new String(bytes, p.toInt + 4, 4,
            StandardCharsets.US_ASCII)
          if (size < 8 || p + size > to) return
          val body = (p + 8).toInt
          val boxEnd = (p + size).toInt
          // entry counts are UNTRUSTED payload data: bound them by what
          // the box's own declared size can hold — a corrupt count would
          // otherwise drive a multi-GB allocation (OutOfMemoryError, an
          // Error the Exception handler can't catch) or silently read
          // sibling boxes' bytes as table entries. The version/fixed/
          // count header fields themselves must also fit inside the
          // box's declared size, or an 8-11-byte box reads its SIBLING
          // box's in-bounds bytes as the header.
          typ match {
            case "moov" | "trak" | "mdia" | "minf" | "stbl" =>
              walk(body, p + size, depth + 1)
            case "stsz" if sizes == null && body + 12 <= boxEnd =>
              val fixed = u32be(bytes, body + 4)
              val n = u32be(bytes, body + 8).toInt
              if (fixed != 0) {
                // constant-size table: n must at least be addressable
                // within the payload (n * fixed bytes of mdat)
                if (n >= 0 && fixed > 0 &&
                    n <= bytes.length / fixed)
                  sizes = Array.fill(n)(fixed)
              } else if (n >= 0 && body + 12 + n.toLong * 4 <= boxEnd) {
                sizes =
                  Array.tabulate(n)(k => u32be(bytes, body + 12 + k * 4))
              }
            case "stco" if chunkOffsets == null && body + 8 <= boxEnd =>
              val n = u32be(bytes, body + 4).toInt
              if (n >= 0 && body + 8 + n.toLong * 4 <= boxEnd)
                chunkOffsets =
                  Array.tabulate(n)(k => u32be(bytes, body + 8 + k * 4))
            case "co64" if chunkOffsets == null && body + 8 <= boxEnd =>
              // 64-bit chunk offsets (ISO-BMFF §8.7.5) — what real
              // >4 GiB MP4s carry instead of stco
              val n = u32be(bytes, body + 4).toInt
              if (n >= 0 && body + 8 + n.toLong * 8 <= boxEnd)
                chunkOffsets = Array.tabulate(n) { k =>
                  (u32be(bytes, body + 8 + k * 8) << 32) |
                    u32be(bytes, body + 12 + k * 8)
                }
            case "stsc" if chunkMap == null && body + 8 <= boxEnd =>
              val n = u32be(bytes, body + 4).toInt
              if (n >= 0 && body + 8 + n.toLong * 12 <= boxEnd)
                chunkMap = Array.tabulate(n)(k =>
                  (u32be(bytes, body + 8 + k * 12),
                    u32be(bytes, body + 12 + k * 12)))
            case "stts" if stts == null && body + 8 <= boxEnd =>
              // time-to-sample (§8.6.1.2): run-length (count, delta)
              val n = u32be(bytes, body + 4).toInt
              if (n >= 0 && body + 8 + n.toLong * 8 <= boxEnd)
                stts = Array.tabulate(n)(k =>
                  (u32be(bytes, body + 8 + k * 8),
                    u32be(bytes, body + 12 + k * 8)))
            case "mdhd" if timescale == 0 && body + 4 <= boxEnd =>
              val ver = bytes(body) & 0xff
              if (ver == 0 && body + 16 <= boxEnd)
                timescale = u32be(bytes, body + 12)
              else if (ver == 1 && body + 24 <= boxEnd)
                timescale = u32be(bytes, body + 20)
            case _ =>
          }
          p += size
        }
      }
      walk(0L, bytes.length.toLong, 0)
      if (sizes == null || chunkOffsets == null || chunkMap == null ||
          sizes.isEmpty || chunkOffsets.isEmpty || chunkMap.isEmpty)
        return None
      // expand the chunk map into a per-sample absolute offset list;
      // stsc entries are sorted by firstChunk, so a monotone index
      // keeps the walk O(chunks + entries) instead of rescanning the
      // map per chunk
      val out = Vector.newBuilder[(Long, Long)]
      var sample = 0
      var ci = 0
      var mi = 0
      while (sample < sizes.length && ci < chunkOffsets.length) {
        // samples-per-chunk for chunk ci+1 = the last stsc entry whose
        // firstChunk <= ci+1
        while (mi + 1 < chunkMap.length && chunkMap(mi + 1)._1 <= ci + 1)
          mi += 1
        val spc = chunkMap(mi)._2.toInt
        var off = chunkOffsets(ci)
        var k = 0
        while (k < spc && sample < sizes.length) {
          val len = sizes(sample)
          if (off < 0 || off + len > bytes.length) return None // malformed
          out += ((off, len))
          off += len
          sample += 1
          k += 1
        }
        ci += 1
      }
      Some(SampleIndex(out.result(), stts, timescale))
    } catch { case _: Exception => None }
  }

  /** Time-based frame sampling: the first ENCODED sample of each
    * `everyMs` presentation-time bucket (start times from the stts
    * run-length table at the mdhd timescale) — "one frame every N ms",
    * the stride a training pipeline actually wants, independent of the
    * track's (usually variable) frame rate. None when the payload has
    * no sample table or no timing info (stts/mdhd). */
  def mp4SampleFramesByTime(bytes: Array[Byte],
                            everyMs: Long): Option[Seq[Array[Byte]]] = {
    require(everyMs > 0)
    samplePositions(bytes).flatMap { st =>
      if (st.stts == null || st.stts.isEmpty || st.timescale <= 0) None
      else {
        val out = Vector.newBuilder[Array[Byte]]
        var sample = 0
        var t = 0L // start time in timescale units
        var lastBucket = -1L
        var e = 0
        var inRun = 0L
        var overflow = false
        while (!overflow && sample < st.positions.length &&
            e < st.stts.length) {
          val (runCount, delta) = st.stts(e)
          if (inRun < runCount) {
            // cumulative start time can reach samples × 2^32 timescale
            // units on adversarial tables: reject before t*1000 wraps
            // Long (a negative bucket would silently skip frames,
            // inconsistent with the reject-malformed posture here)
            if (t > Long.MaxValue / 1000) overflow = true
            else {
              val tMs = t * 1000 / st.timescale
              val bucket = tMs / everyMs
              if (bucket > lastBucket) {
                val (off, len) = st.positions(sample)
                out += java.util.Arrays.copyOfRange(bytes, off.toInt,
                  (off + len).toInt)
                lastBucket = bucket
              }
              t += delta
              inRun += 1
              sample += 1
            }
          } else { e += 1; inRun = 0 }
        }
        // an stts that doesn't cover every sample is malformed — reject
        // rather than silently sampling a prefix
        if (overflow || sample < st.positions.length) None
        else Some(out.result())
      }
    }
  }

  /** Attach sampled encoded frames (`frames` array<binary>, NULL when
    * not parseable), partition-batched. */
  def withSampledFrames(df: DataFrame, binCol: String,
                        stride: Int): DataFrame =
    attach(df, binCol, "frames", ArrayType(BinaryType, false))(
      mp4SampleFrames(_, stride).orNull)

  /** Attach time-sampled encoded frames (`frames` array<binary>, NULL
    * when not parseable or untimed), partition-batched. */
  def withTimeSampledFrames(df: DataFrame, binCol: String,
                            everyMs: Long): DataFrame =
    attach(df, binCol, "frames", ArrayType(BinaryType, false))(
      mp4SampleFramesByTime(_, everyMs).orNull)

  /** Video sample-stream signature — the container-level member of
    * the fingerprint family ([[imageAHash]], [[audioFingerprint]]):
    * walk the MP4 sample table (stride 1 = every sample), byte-sum
    * each ENCODED sample as its "energy", one bit per sample slice vs
    * the stream mean (≤ 64 slices; same exact rational compare). Two
    * payloads signature-equal iff their encoded sample streams carry
    * the same energy profile — which catches the re-mux / re-tag /
    * metadata-strip duplicate class (same encoded stream, different
    * container bytes) WITHOUT decoding a codec this container doesn't
    * ship. Honest limit, stated: a re-ENCODE changes the encoded
    * bytes and therefore the signature — visual-level video dedup
    * needs a pixel decoder; this is the dedup available at container
    * level, and it composes with the same [[Dedup.hammingPairs]]
    * join. */
  def videoSampleSignature(bytes: Array[Byte],
                           buckets: Int = 64): Option[Long] = {
    require(buckets >= 1 && buckets <= 64,
      s"buckets=$buckets out of [1,8·8] (signature must fit 64 bits)")
    mp4SampleFrames(bytes, 1).flatMap { frames =>
      val n = frames.length
      if (n == 0) None
      else {
        val energy = frames.map(f => f.foldLeft(0L)((a, b) =>
          a + (b & 0xff)))
        val bSum = Array.ofDim[Long](buckets)
        val bN = Array.ofDim[Long](buckets)
        var tot = 0L
        var s = 0
        while (s < n) {
          val k = (s.toLong * buckets / n).toInt
          bSum(k) += energy(s)
          bN(k) += 1
          tot += energy(s)
          s += 1
        }
        // energies are byte sums (≤ 255·frameLen); cap the exact-long
        // path conservatively
        Some(meanBits(bSum, bN, tot, n.toLong,
          big = tot > (1L << 31) || n > (1 << 20)))
      }
    }
  }

  /** Attach the 64-bit video sample-stream signature (`vsig`, NULL
    * when the sample table is unparseable), partition-batched. */
  def withVideoSignature(df: DataFrame, binCol: String,
                         buckets: Int = 64): DataFrame =
    attach(df, binCol, "vsig", LongType)(
      videoSampleSignature(_, buckets).map(Long.box).orNull)

  /** Deterministic REAL MP4 generator: hand-assembled ISO-BMFF boxes
    * (ftyp + moov(mvhd + trak(tkhd)...)), analytic in `i`:
    *   - i % 7 == 0 → corrupt payload (ok=false)
    *   - duration = 1000 + i*100 ms at timescale 1000
    *   - width = 320 + (i % 4) * 160, height = 240 + (i % 4) * 120
    *   - n_tracks = 1 + (i % 2)
    */
  // shared ISO-BMFF building blocks for the two MP4 generators (the
  // spec builds its adversarial layouts independently on purpose)
  private def beU32(v: Long): Array[Byte] =
    Array[Byte](((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def bmffBox(typ: String, body: Array[Byte]): Array[Byte] =
    beU32(body.length + 8L) ++
      typ.getBytes(StandardCharsets.US_ASCII) ++ body
  private def ftypBox(brand: String): Array[Byte] =
    bmffBox("ftyp", brand.getBytes(StandardCharsets.US_ASCII) ++
      beU32(512L) ++ brand.getBytes(StandardCharsets.US_ASCII))
  private def mvhdBox(timescale: Long, duration: Long): Array[Byte] =
    bmffBox("mvhd", beU32(0L) ++ beU32(0L) ++ beU32(0L) ++
      beU32(timescale) ++ beU32(duration) ++ Array.fill[Byte](80)(0))
  private def tkhdBox(w: Int, h: Int): Array[Byte] =
    bmffBox("tkhd", beU32(0L) ++ Array.fill[Byte](72)(0) ++
      beU32(w.toLong << 16) ++ beU32(h.toLong << 16))

  def encodeTestVideo(i: Long): Array[Byte] = {
    if (i % 7 == 0) return Array[Byte](0, 0, 0, 1)
    val w = 320 + (i % 4).toInt * 160
    val h = 240 + (i % 4).toInt * 120
    val trakV = bmffBox("trak", tkhdBox(w, h))
    val traks =
      if (i % 2 == 1) trakV ++ bmffBox("trak", tkhdBox(0, 0)) // audio
      else trakV
    ftypBox("isom") ++
      bmffBox("moov", mvhdBox(1000L, 1000L + i * 100) ++ traks)
  }

  /** REAL feature extraction over decoded pixels: per-channel integer
    * sums (exact — no float accumulation), the first stage of any
    * mean/variance normalization pass. Full pixel decode via ImageIO;
    * None when no reader claims the payload. For LOSSLESS formats the
    * result is bit-exact and engine-checkable (q67 replays the
    * generator's pixel formula in DuckDB); lossy formats decode to
    * codec-defined pixels and are spec-only. */
  def imageChannelSums(bytes: Array[Byte])
      : Option[(Int, Int, Long, Long, Long)] =
    withPixels(bytes) { img =>
      var sr = 0L; var sg = 0L; var sb = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val v = img.getRGB(x, y)
          sr += (v >> 16) & 0xff
          sg += (v >> 8) & 0xff
          sb += v & 0xff
          x += 1
        }
        y += 1
      }
      (img.getWidth, img.getHeight, sr, sg, sb)
    }

  /** One bit per bucket — bucket mean strictly above the global mean,
    * compared as EXACT rationals: bit(k) = bSum(k)·n > tot·bN(k).
    * `big` routes the products through BigInteger where long·long
    * could overflow (each fingerprint states its own threshold). The
    * subtle compare lives in exactly one place for all three
    * fingerprint families (image/audio/video). */
  private def meanBits(bSum: Array[Long], bN: Array[Long], tot: Long,
                       n: Long, big: Boolean): Long = {
    var hash = 0L
    var k = 0
    while (k < bSum.length) {
      val above =
        if (big)
          java.math.BigInteger.valueOf(bSum(k))
            .multiply(java.math.BigInteger.valueOf(n))
            .compareTo(java.math.BigInteger.valueOf(tot)
              .multiply(java.math.BigInteger.valueOf(bN(k)))) > 0
        else bSum(k) * n > tot * bN(k)
      if (above) hash |= 1L << k
      k += 1
    }
    hash
  }

  /** The one pixel-decode preamble: payloads that pass the magic-byte
    * admission ([[pixelDecodable]] — the stock JDK has no WebP codec,
    * so WebP is admitted iff a registered plugin can decode it, probed
    * once) are decoded by ImageIO and handed to `f`; anything that
    * fails to decode, or throws inside `f`, is None. */
  private def withPixels[T](bytes: Array[Byte])(
      f: java.awt.image.BufferedImage => T): Option[T] = {
    if (bytes == null || bytes.length < 8 || !pixelDecodable(bytes))
      return None
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null) None else Some(f(img))
    } catch { case _: Exception => None }
  }

  /** The one cell-luma loop behind [[imageAHash]], [[imageAHashWide]]
    * and [[imageLumaGrid]]: luma = r + g + b per pixel, pixel (x, y)
    * in cell c = (y·grid/h)·grid + x·grid/w (floor). Returns
    * (cellSum, cellN, tot, n): per-cell luma sums and pixel counts,
    * the image's luma total and pixel count. */
  private def cellLuma(bytes: Array[Byte], grid: Int)
      : Option[(Array[Long], Array[Long], Long, Long)] =
    withPixels(bytes) { img =>
      val w = img.getWidth; val h = img.getHeight
      val cellSum = Array.ofDim[Long](grid * grid)
      val cellN = Array.ofDim[Long](grid * grid)
      var tot = 0L
      var y = 0
      while (y < h) {
        val v0 = y * grid / h
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          val luma = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
          val c = v0 * grid + x * grid / w
          cellSum(c) += luma
          cellN(c) += 1
          tot += luma
          x += 1
        }
        y += 1
      }
      (cellSum, cellN, tot, w.toLong * h)
    }

  /** Perceptual average-hash (aHash) of a decoded image — the standard
    * cheap near-duplicate fingerprint for image corpora (same family
    * pHash/dHash belong to): luma per pixel, box-average down to a
    * grid×grid thumbnail, one bit per cell = "cell brighter than the
    * image mean". Near-duplicate images (recompressions, small edits,
    * minor crops) land within a few Hamming bits; the banded pair join
    * ([[Dedup.hammingPairs]]) finds them without an all-pairs pass —
    * image dedup at corpus scale, the visual analog of SimHash text
    * dedup.
    *
    * Integer-exact by construction so an oracle can replay it:
    *  - luma = r + g + b (the exact SUM — dividing by 3 loses nothing
    *    for comparisons and would round engine-dependently);
    *  - pixel (x, y) belongs to cell (x·grid/w, y·grid/h) (floor);
    *  - bit(cell) = 1 iff cellSum·totN > totSum·cellN — the exact
    *    rational mean comparison, no floating point anywhere (products
    *    promoted to BigInteger past 2^24 pixels, where long² could
    *    overflow);
    *  - bit index = v·grid + u; empty cells (w or h < grid) hash 0.
    * Default grid 8 → a 64-bit signature. */
  def imageAHash(bytes: Array[Byte], grid: Int = 8): Option[Long] = {
    require(grid >= 1 && grid * grid <= 64,
      s"grid=$grid out of [1,8] (signature must fit 64 bits)")
    // past 2^24 pixels luma·n² could overflow long
    cellLuma(bytes, grid).map { case (cellSum, cellN, tot, n) =>
      meanBits(cellSum, cellN, tot, n, big = n > (1L << 24))
    }
  }

  /** Attach the 64-bit aHash (`ahash`, NULL for undecodable payloads),
    * partition-batched like every decode pass here. */
  def withAHash(df: DataFrame, binCol: String,
                grid: Int = 8): DataFrame =
    attach(df, binCol, "ahash", LongType)(
      imageAHash(_, grid).map(Long.box).orNull)

  /** WIDE perceptual average-hash — [[imageAHash]]'s exact arithmetic
    * on a finer grid, emitting ceil(grid²/64) packed 64-bit words
    * (grid 16 → a 256-bit signature as 4 longs; cell c = cv·grid+cu
    * sets bit c%64 of word c/64). Why it exists, measured
    * (SCALE.md "Wide (256-bit) signature family"): 64-bit aHashes are
    * LOW-ENTROPY on
    * structured corpora — whole band values repeat across genuinely
    * different images, so at corpus scale the banded join's buckets
    * saturate and near-dup matching over-merges (precision collapse)
    * while the skew cap erodes recall. 4× the bits raises per-band
    * entropy (the [[graft.operators.Dedup.hammingPairs]] bands
    * are ~37 bits at maxDist 6 instead of ~9) and separates
    * near-identical-LOOKING images a 64-bit cell grid cannot.
    * Integer-exact like the narrow form (same rational mean compare),
    * so a DuckDB oracle replays every word from the pixel formula. */
  def imageAHashWide(bytes: Array[Byte],
                     grid: Int = 16): Option[Array[Long]] = {
    require(grid >= 1 && grid <= 32,
      s"grid=$grid out of [1,32]")
    cellLuma(bytes, grid).map { case (cellSum, cellN, tot, n) =>
      // word j holds cells 64j until 64j+64, cell c at bit c%64
      Array.tabulate((grid * grid + 63) / 64)(j =>
        meanBits(cellSum.slice(64 * j, 64 * j + 64),
          cellN.slice(64 * j, 64 * j + 64), tot, n, big = n > (1L << 24)))
    }
  }

  /** Quantized cell-luma grid — the VERIFY-stage feature for media
    * candidate pairs: grid² values of floor(256·cellLumaSum/cellCount)
    * (0 for cells the image doesn't cover), row-major (cell c =
    * cv·grid+cu). Where the aHash keeps one BIT per cell (above/below
    * the image mean — scale/offset invariant, collision-possible),
    * this keeps the quantized mean itself, so a pair of genuinely
    * different images that near-collides in hash space separates by
    * actual luma distance. Exact integer arithmetic (positive floor
    * division), so a DuckDB oracle replays every value. NULL for
    * undecodable payloads. */
  def imageLumaGrid(bytes: Array[Byte],
                    grid: Int = 16): Option[Array[Long]] = {
    require(grid >= 1 && grid <= 32, s"grid=$grid out of [1,32]")
    cellLuma(bytes, grid).map { case (cellSum, cellN, _, _) =>
      Array.tabulate(grid * grid)(c =>
        if (cellN(c) == 0) 0L else 256L * cellSum(c) / cellN(c))
    }
  }

  /** Attach the quantized cell-luma grid (`lgrid` array<long>, NULL
    * for undecodable payloads), partition-batched. */
  def withLumaGrid(df: DataFrame, binCol: String,
                   grid: Int = 16): DataFrame =
    attach(df, binCol, "lgrid", ArrayType(LongType, false))(
      imageLumaGrid(_, grid).map(_.toSeq).orNull)

  /** PIXEL-LEVEL verify for media candidate pairs — the
    * candidates→verify split every text-dedup family here already
    * uses (jaccardVerify after LSH), built because SCALE.md r20
    * MEASURED the need: on an 18K-image corpus the 256-bit hash
    * near-collides on genuinely different images at ~10⁻⁵ per pair,
    * and a quadratic pair budget × a fixed collision rate ×
    * CC transitivity costs ~8% of survivors. Keeps the pairs whose
    * MEAN absolute quantized cell-luma difference is ≤ `maxAvgDiff`
    * (per-cell scale 0..765; exact dups score 0, distinct generator
    * images score ≥≈100): Σ_cells |ga−gb| ≤ maxAvgDiff·grid².
    * Undecodable payloads (NULL grid) fail verification — a pair you
    * cannot confirm is not a duplicate you may delete.
    *
    * Scale shape: the feature is computed ONLY for ids that appear in
    * a candidate pair (left-semi prune of the corpus — candidates are
    * band-bounded, so this is the same cost class as the verify scan
    * of [[graft.operators.Dedup.jaccardVerify]]); the L1 distance is
    * one codegen'd zip_with/aggregate per pair, no shuffle beyond the
    * two feature joins. Output: the input pair rows (all columns)
    * that pass, plus `l1` (the summed distance). */
  def verifyPairsByLumaGrid(pairs: DataFrame, aCol: String,
                            bCol: String, imgs: DataFrame,
                            idCol: String, binCol: String,
                            maxAvgDiff: Long,
                            grid: Int = 16): DataFrame = {
    require(maxAvgDiff >= 0, s"maxAvgDiff=$maxAvgDiff out of [0,∞)")
    val ids = pairs.select(col(aCol).as("__vid"))
      .union(pairs.select(col(bCol).as("__vid"))).distinct()
    val feats = withLumaGrid(
        imgs.join(ids, col(idCol) === col("__vid"), "left_semi")
          .select(col(idCol), col(binCol)),
        binCol, grid)
      .select(col(idCol).as("__fid"), col("lgrid"))
    val l1 = aggregate(
      zip_with(col("__ga"), col("__gb"), (x, y) => abs(x - y)),
      lit(0L), (acc, v) => acc + v)
    pairs
      .join(feats.select(col("__fid"), col("lgrid").as("__ga")),
        col(aCol) === col("__fid"))
      .drop("__fid")
      .join(feats.select(col("__fid"), col("lgrid").as("__gb")),
        col(bCol) === col("__fid"))
      .drop("__fid")
      .where(col("__ga").isNotNull && col("__gb").isNotNull)
      .withColumn("l1", l1)
      .filter(col("l1") <= maxAvgDiff * grid * grid)
      .drop("__ga", "__gb")
  }

  /** Attach the wide aHash (`ahash_w` array<long>, NULL for
    * undecodable payloads), partition-batched. */
  def withAHashWide(df: DataFrame, binCol: String,
                    grid: Int = 16): DataFrame =
    attach(df, binCol, "ahash_w", ArrayType(LongType, false))(
      imageAHashWide(_, grid).map(_.toSeq).orNull)

  /** The COMPOSED perceptual media-dedup pipeline, parameterized by
    * signature width: hash the payloads, build the
    * connectivity-equivalent Hamming edge set
    * ([[graft.operators.Dedup.hammingEdges]]), star-contraction
    * connected components, keep each duplicate cluster's smallest id
    * (plus everything never paired). Returns the surviving rows of
    * `imgs` unchanged — compose reshard / downstream curation on top.
    *
    * `bits` picks the signature: 64 → the 8×8 aHash ([[withAHash]]),
    * 256 → the 16×16 wide aHash ([[withAHashWide]]). 256 is the SCALE
    * DEFAULT: the replicated-corpus runs (SCALE.md "Wide (256-bit)
    * signature family") measured the 64-bit band space saturating at
    * O(10³) structured images — low-entropy near-matches percolate
    * through the CC closure and over-merge (4,101 survivors vs 10,286
    * planted truth at 18K images), while the 256-bit ~37-bit bands
    * stay sparse at equal wall time. 64 remains for thumbnail-scale
    * corpora and for callers pinned to the narrow hash's artifacts.
    * `maxDist` is the Hamming budget — 256 bits spend ~4× the bits, so
    * a narrow d≤6 corresponds to roughly wide d≤24 on pure bit-rate,
    * but the measured precision ladder (SCALE.md) favors TIGHTER wide
    * budgets (d≤3): the extra entropy exists to separate
    * near-identical-looking images, not to re-admit them.
    *
    * `verifyMaxAvgDiff` adds the pixel-level VERIFY stage
    * ([[verifyPairsByLumaGrid]]). SCALE.md r20 measured why a growing
    * corpus needs it: the signature near-collides on genuinely
    * different images at a fixed ~10⁻⁵/pair rate, the pair budget is
    * quadratic in corpus size, and CC transitivity amplifies every
    * collision. The verified composition is structurally DIFFERENT
    * from the unverified one — measured in-round (SCALE.md "The verify
    * stage (q147)", first cut): naively filtering the hammingEdges output
    * under-merges, because the edge set is a spanning structure whose
    * connectivity equals all-pairs only if no edge is removed (a
    * byte-identical pair connected THROUGH a pixel-different
    * same-signature representative loses both its star edges to the
    * verify). So with verify on, the pipeline (1) star-contracts
    * byte-identical payloads FIRST by digest — exact duplicates are
    * duplicates by definition, no pixel pass, recall structural
    * (exactly the text side's exactByDigest-before-near-dup shape) —
    * then (2) runs the ALL-PAIRS-equivalent banded pair set
    * ([[graft.operators.Dedup.hammingPairs]])
    * over the digest representatives and verifies each pair. Every
    * surviving edge is either byte-identity or a pixel-confirmed
    * near-match; connectivity over them equals the verified all-pairs
    * closure (a verified pair's digest reps share its signature AND
    * its luma grid, so the rep pair verifies whenever the member pair
    * does). */
  def perceptualDedup(imgs: DataFrame, idCol: String, binCol: String,
                      maxDist: Int,
                      maxBucket: Option[Long] = None,
                      bits: Int = 256,
                      verifyMaxAvgDiff: Option[Long] = None)
      : DataFrame = {
    require(bits == 64 || bits == 256,
      s"bits=$bits: perceptualDedup hashes 64 (8×8 aHash) or 256 " +
        "(16×16 wide aHash) bits")
    def withSig(df: DataFrame) =
      if (bits == 64) withAHash(df, binCol) else withAHashWide(df, binCol)
    val sigCol = if (bits == 64) "ahash" else "ahash_w"
    val e = verifyMaxAvgDiff match {
      case None =>
        Dedup.hammingEdges(withSig(imgs), idCol, sigCol, bits, maxDist,
          maxBucket)
      case Some(budget) =>
        // byte-identical star contraction (digest = md5 of the raw
        // payload; the narrow (id, digest) projection feeds the rep
        // aggregation AND the star join — materialize once, the
        // hammingEdges materialization rationale)
        val slim = imgs
          .select(col(idCol), md5(col(binCol)).as("__dg"))
          .localCheckpoint()
        val reps = slim.groupBy(col("__dg"))
          .agg(min(col(idCol)).as("__rep"))
        val stars = slim.join(reps, "__dg")
          .where(col(idCol) =!= col("__rep"))
          .select(col("__rep").as("a"), col(idCol).as("b"),
            lit(0L).as("dist"))
        val repImgs = imgs.join(
          reps.select(col("__rep")),
          col(idCol) === col("__rep"), "left_semi")
        val verified = verifyPairsByLumaGrid(
            Dedup.hammingPairs(withSig(repImgs), idCol, sigCol, bits,
              maxDist, maxBucket),
            "a", "b", repImgs, idCol, binCol, budget)
          .select(col("a"), col("b"), col("dist"))
        stars.unionByName(verified)
    }
    ConnectedComponents.resolve(imgs, idCol, e, "a", "b")
  }

  /** Audio fingerprint — [[imageAHash]]'s design applied to sound:
    * decode the PCM sample stream (real `javax.sound` decode, any
    * container it reads — WAV/AIFF/AU, either endianness), cut it
    * into `buckets` equal time slices, one bit per slice = "slice
    * louder than the clip mean" (amplitude = Σ|sample|, the exact
    * integer energy surrogate). Same exact rational mean compare, so
    * an oracle replays it from sample arithmetic alone; same 64-bit
    * signature contract, so [[graft.operators.Dedup.hammingPairs]]
    * finds near-duplicate clips (re-encodes, level-preserving trims)
    * without an all-pairs join. 16-bit PCM only (this corpus's
    * contract); undecodable/other payloads → None. */
  def audioFingerprint(bytes: Array[Byte],
                       buckets: Int = 64): Option[Long] = {
    require(buckets >= 1 && buckets <= 64,
      s"buckets=$buckets out of [1,64] (signature must fit 64 bits)")
    if (bytes == null || bytes.length < 8) return None
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16 ||
        fmt.getEncoding !=
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
        return None
      val raw = ais.readAllBytes()
      val n = raw.length / 2
      if (n == 0) return None
      val be = fmt.isBigEndian
      val bSum = Array.ofDim[Long](buckets)
      val bN = Array.ofDim[Long](buckets)
      var tot = 0L
      var s = 0
      while (s < n) {
        val b0 = raw(2 * s) & 0xff
        val b1 = raw(2 * s + 1) & 0xff
        val u = if (be) (b0 << 8) | b1 else (b1 << 8) | b0
        val amp = math.abs(if (u >= 32768) u - 65536 else u).toLong
        val k = (s.toLong * buckets / n).toInt
        bSum(k) += amp
        bN(k) += 1
        tot += amp
        s += 1
      }
      // past 2^24 samples (≈ 6 min of stereo 48 kHz) amp·n² could
      // overflow long
      Some(meanBits(bSum, bN, tot, n.toLong, big = n > (1 << 24)))
    } catch { case _: Exception => None }
  }

  /** Attach the 64-bit audio fingerprint (`afp`, NULL for undecodable
    * payloads), partition-batched. */
  def withAudioFingerprint(df: DataFrame, binCol: String,
                           buckets: Int = 64): DataFrame =
    attach(df, binCol, "afp", LongType)(
      audioFingerprint(_, buckets).map(Long.box).orNull)

  /** Attach per-channel pixel sums, partition-batched. */
  def withChannelSums(df: DataFrame, binCol: String): DataFrame =
    attach(df, binCol, "stats", StructType(Seq(
        StructField("width", IntegerType, true),
        StructField("height", IntegerType, true),
        StructField("sum_r", LongType, true),
        StructField("sum_g", LongType, true),
        StructField("sum_b", LongType, true),
        StructField("ok", BooleanType, false)))) { bytes =>
      imageChannelSums(bytes) match {
        case Some((w, h, r, g, b)) => Row(w, h, r, g, b, true)
        case None => Row(null, null, null, null, null, false)
      }
    }

  /** Deterministic MP4 generator WITH a sample table: n = 5 + i%4
    * samples of 8 bytes each, sample k filled with byte value
    * (i*31 + k*7) % 256, one chunk, stco carrying the real absolute
    * mdat payload offset. Every 7th payload corrupt. */
  def encodeTestVideoSamples(i: Long): Array[Byte] = {
    if (i % 7 == 0) return Array[Byte](0, 0, 0, 1)
    val n = (5 + i % 4).toInt
    val payload = Array.tabulate(n * 8)(b =>
      ((i * 31 + (b / 8) * 7) % 256).toByte)
    def head(mdatOff: Long): Array[Byte] = {
      val stsz = bmffBox("stsz",
        beU32(0L) ++ beU32(0L) ++ beU32(n.toLong) ++
          Array.tabulate(n)(_ => beU32(8L)).flatten)
      val stsc = bmffBox("stsc", beU32(0L) ++ beU32(1L) ++
        beU32(1L) ++ beU32(n.toLong) ++ beU32(1L))
      val stco = bmffBox("stco", beU32(0L) ++ beU32(1L) ++ beU32(mdatOff))
      val stbl = bmffBox("stbl", stsz ++ stsc ++ stco)
      val trak = bmffBox("trak",
        tkhdBox(320, 240) ++ bmffBox("mdia", bmffBox("minf", stbl)))
      ftypBox("isom") ++ bmffBox("moov", mvhdBox(1000L, 1000L) ++ trak)
    }
    // stco stores an absolute file offset; the header length doesn't
    // depend on the offset VALUE (fixed-width u32), so build twice
    val h0 = head(0L)
    head(h0.length + 8L) ++ bmffBox("mdat", payload)
  }

  /** Like [[encodeTestVideoSamples]] but with the large-file/timed
    * layout real production MP4s carry: a `co64` 64-bit chunk-offset
    * table instead of stco, an `stts` time-to-sample table (first 3
    * samples at 100 ms, the rest at 250 ms), and an `mdhd` declaring
    * timescale 1000 — so sample k starts at
    * `min(k,3)*100 + max(k-3,0)*250` ms. Same sample payloads as the
    * stco generator; every 7th payload corrupt. */
  def encodeTestVideoSamplesTimed(i: Long): Array[Byte] = {
    if (i % 7 == 0) return Array[Byte](0, 0, 0, 1)
    val n = (5 + i % 4).toInt
    val payload = Array.tabulate(n * 8)(b =>
      ((i * 31 + (b / 8) * 7) % 256).toByte)
    def head(mdatOff: Long): Array[Byte] = {
      val stsz = bmffBox("stsz",
        beU32(0L) ++ beU32(0L) ++ beU32(n.toLong) ++
          Array.tabulate(n)(_ => beU32(8L)).flatten)
      val stsc = bmffBox("stsc", beU32(0L) ++ beU32(1L) ++
        beU32(1L) ++ beU32(n.toLong) ++ beU32(1L))
      val co64 = bmffBox("co64", beU32(0L) ++ beU32(1L) ++
        beU32(mdatOff >>> 32) ++ beU32(mdatOff & 0xffffffffL))
      val stts = bmffBox("stts", beU32(0L) ++ beU32(2L) ++
        beU32(3L) ++ beU32(100L) ++ beU32(n - 3L) ++ beU32(250L))
      val mdhd = bmffBox("mdhd", beU32(0L) ++ beU32(0L) ++ beU32(0L) ++
        beU32(1000L) ++ beU32(2000L) ++ beU32(0L))
      val stbl = bmffBox("stbl", stsz ++ stts ++ stsc ++ co64)
      val trak = bmffBox("trak",
        tkhdBox(320, 240) ++ bmffBox("mdia", mdhd ++ bmffBox("minf",
          stbl)))
      ftypBox("isom") ++ bmffBox("moov", mvhdBox(1000L, 2000L) ++ trak)
    }
    val h0 = head(0L)
    head(h0.length + 8L) ++ bmffBox("mdat", payload)
  }
}
