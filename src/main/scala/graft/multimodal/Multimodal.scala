package graft.multimodal

import java.awt.color.ColorSpace
import java.awt.image.IndexColorModel
import java.security.MessageDigest
import javax.imageio.{ImageIO, ImageReader}
import javax.imageio.event.IIOReadWarningListener
import javax.imageio.spi.ImageReaderSpi
import javax.imageio.stream.ImageInputStream

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: images/audio/video travel as opaque `binary`
  * columns with typed metadata extracted by a per-partition decode pass.
  *
  * Still images (PNG, JPEG, GIF) decode to pixels through the JDK's
  * `javax.imageio` readers ([[decodeImage]]); WAV/PCM, the AVI container
  * and the PNG/JPEG/AVI header probes are parsed here. A payload nothing
  * decodes gets [[decodeStub]]'s deterministic md5-derived metadata, so
  * a poison payload never fails the batch and every output stays
  * oracle-reproducible. The Spark-side plumbing is the part that matters
  * at 100 TB:
  *  - payloads stay in `binary` columns end-to-end (no stringification);
  *  - decode runs via `mapPartitions` over a typed Dataset;
  *  - output is a typed case class → clean columnar schema for downstream
  *    relational ops.
  */
object Multimodal {

  /** A media row: id + opaque payload + declared kind. */
  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

  /** Typed decode result — what a real image/audio prober would emit. */
  final case class MediaMeta(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      format: String)

  private val Formats = Array("jpeg", "png", "webp")

  /** REAL pure-JVM image header probe — no codec dependency: PNG IHDR
    * (PNG spec / RFC 2083 §11.2.2: 8-byte signature, IHDR width/height
    * big-endian at offsets 16/20) and JPEG SOF (ITU T.81 §B.2.2: walk the
    * marker segments to the first start-of-frame; height at +5, width at
    * +7). Returns `(format, width, height)`, or None for anything
    * truncated, corrupt, or not an image — callers fall back to the
    * deterministic stub, so a poison payload can never fail the pipeline.
    *
    * Deliberately LIMITED to formats whose magic bytes cannot occur in
    * text (PNG's 0x89 prefix and JPEG's 0xFF D8 are invalid UTF-8 text
    * starts): an ASCII-magic format like GIF ("GIF89a...") is
    * indistinguishable from a document DISCUSSING that format, and a
    * false positive here would silently replace stub metadata with
    * text-derived garbage. Extend per-format only for columns known to
    * carry trusted binary payloads.
    */
  def probeImage(p: Array[Byte]): Option[(String, Int, Int)] = {
    def u8(i: Int) = p(i) & 0xff
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int) =
      (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    val PngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    if (p.length >= 24 && PngSig.indices.forall(i => u8(i) == PngSig(i)) &&
        p(12) == 'I' && p(13) == 'H' && p(14) == 'D' && p(15) == 'R') {
      val (w, h) = (be32(16), be32(20))
      if (w > 0 && h > 0) Some(("png", w, h)) else None
    } else if (p.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      // walk JPEG marker segments to the first SOFn (C0–CF minus the
      // non-frame C4/C8/CC); bail on anything malformed
      var i = 2
      while (i + 1 < p.length) {
        if (u8(i) != 0xff) return None
        val m = u8(i + 1)
        if (m == 0xff) i += 1 // fill byte
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i += 2 // standalone
        else if (i + 3 >= p.length) return None
        else {
          val segLen = be16(i + 2)
          if (segLen < 2) return None
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
            if (i + 8 >= p.length) return None
            val (h, w) = (be16(i + 5), be16(i + 7))
            return if (w > 0 && h > 0) Some(("jpeg", w, h)) else None
          }
          i += 2 + segLen
        }
      }
      None
    } else None
  }

  /** Minimal well-formed-enough PNG/JPEG headers for planting known
    * dimensions in tests and oracle queries (the payloads carry a real
    * header + junk body — [[probeImage]] only reads the header, exactly
    * like a production prober that avoids a full decode).
    */
  private[graft] def pngBytes(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(33)
    b.put(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte))
    b.putInt(13).put("IHDR".getBytes("US-ASCII"))
    b.putInt(w).putInt(h)
    b.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    b.array()
  }

  private[graft] def jpegBytes(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(2 + 6 + 10)
    b.put(0xff.toByte).put(0xd8.toByte)               // SOI
    b.put(0xff.toByte).put(0xdb.toByte).putShort(4)   // DQT segment to skip
    b.putShort(0.toShort)
    b.put(0xff.toByte).put(0xc0.toByte).putShort(17)  // SOF0
    b.put(8.toByte).putShort(h.toShort).putShort(w.toShort).put(3.toByte)
    b.array()
  }

  /** The largest image [[decodeImage]] allocates a raster for: 2^24
    * pixels (a 64 MiB RGBA raster), checked against the header's
    * `width·height` before any pixel buffer exists. Real deployments size
    * it to the largest legitimate asset.
    */
  private val MaxDecodePixels: Long = 1L << 24

  /** The JDK readers [[decodeImage]] may use, by format name. Only these
    * three: the full `ImageIO.getImageReaders` probe would also accept
    * BMP, TIFF and WBMP, and WBMP has no magic bytes, so arbitrary binary
    * could false-positive (the risk [[probeImage]] guards against).
    * Cache-file streams are switched off once, before the first decode.
    */
  private lazy val Readers: Map[String, ImageReaderSpi] = {
    ImageIO.setUseCache(false)
    Seq("png", "jpeg", "gif").map { f =>
      f -> ImageIO.getImageReadersByFormatName(f).next().getOriginatingProvider
    }.toMap
  }

  /** Still-image PIXEL decode through the JDK's `javax.imageio` reader
    * for the first of `formats` whose magic bytes match. Returns
    * `(width, height, channels, pixels, frames)` with pixels row-major
    * channel-interleaved: 8-bit grayscale (1 ch, read from the raster —
    * `getRGB` would apply a gray colour-space conversion), RGB (3 ch),
    * RGBA (4 ch), or palette images expanded to RGB (3 ch); GIFs decode
    * their first frame and count every frame. None for anything else —
    * never an exception, so a poison payload cannot fail the batch —
    * and on top of what the readers check themselves:
    *  - the header declares more than [[MaxDecodePixels]];
    *  - the reader raised any warning (a JPEG missing its EOI, an
    *    out-of-sequence restart marker — libjpeg resyncs past both);
    *  - a PNG raster index reaches past the file's PLTE entries (ImageIO
    *    pads a short palette, so it would decode to a made-up colour);
    *  - a GIF not ending in its `0x3B` trailer, or whose first frame does
    *    not cover the logical screen.
    */
  private[multimodal] def decodeImage(p: Array[Byte], formats: String*)
      : Option[(Int, Int, Int, Array[Byte], Int)] = {
    val spis = formats.map(f => f -> Readers(f))
    val in =
      ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(p))
    try spis.find(_._2.canDecodeInput(in)).flatMap { case (f, spi) =>
      val reader = spi.createReaderInstance()
      try readImage(reader, in, p, gif = f == "gif")
      finally reader.dispose()
    } catch { case NonFatal(_) => None }
    finally in.close()
  }

  private def readImage(reader: ImageReader, in: ImageInputStream,
      p: Array[Byte],
      gif: Boolean): Option[(Int, Int, Int, Array[Byte], Int)] = {
    var warned = false
    reader.addIIOReadWarningListener(new IIOReadWarningListener {
      def warningOccurred(r: ImageReader, warning: String): Unit =
        warned = true
    })
    reader.setInput(in, false, false)
    if (reader.getWidth(0).toLong * reader.getHeight(0) > MaxDecodePixels)
      return None
    val img = reader.read(0)
    val (w, h) = (img.getWidth, img.getHeight)
    def le16(i: Int) = (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8)
    if (gif && (p.last != 0x3b || le16(6) != w || le16(8) != h)) return None
    val frames = if (gif) reader.getNumImages(true) else 1
    if (warned) return None
    val raster = img.getRaster
    (raster.getDataElements(0, 0, w, h, null), img.getColorModel) match {
      case (idx: Array[Byte], icm: IndexColorModel) =>
        val n = if (gif) icm.getMapSize
          else math.min(icm.getMapSize, plteEntries(p))
        val rgb = new Array[Byte](idx.length * 3)
        var k = 0
        while (k < idx.length) {
          val c = idx(k) & 0xff
          if (c >= n) return None
          rgb(3 * k) = icm.getRed(c).toByte
          rgb(3 * k + 1) = icm.getGreen(c).toByte
          rgb(3 * k + 2) = icm.getBlue(c).toByte
          k += 1
        }
        Some((w, h, 3, rgb, frames))
      case (px: Array[Byte], cm) =>
        val bands = raster.getNumBands
        val space = cm.getColorSpace.getType
        if ((bands == 1 || bands == 3 || bands == 4) &&
            raster.getSampleModel.getSampleSize.forall(_ == 8) &&
            (space == ColorSpace.TYPE_GRAY || space == ColorSpace.TYPE_RGB))
          Some((w, h, bands, px, frames))
        else None
      case _ => None // 16-bit samples
    }
  }

  /** Entries of a PNG's PLTE chunk, read from the file: ImageIO pads the
    * palette to 2, 4, 16 or 256 entries in its colour model and in its
    * metadata alike, so neither tells 3 colours from 4.
    */
  private def plteEntries(p: Array[Byte]): Int = {
    val b = java.nio.ByteBuffer.wrap(p)
    var i = 8
    while (i + 8 <= p.length) {
      val len = b.getInt(i)
      if (b.getInt(i + 4) == 0x504c5445) return len / 3 // "PLTE"
      if (len < 0 || len > p.length) return 0
      i += 12 + len
    }
    0
  }

  /** PNG pixel decode ([[decodeImage]] restricted to PNG): every filter
    * type and both interlace layouts; grayscale (1 ch), truecolor (3 ch),
    * palette (expanded to 3 ch) and truecolor+alpha (4 ch) at 8 bits per
    * sample. None for 16-bit, truncated or corrupt files.
    */
  def decodePixels(p: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] =
    decodeImage(p, "png").map { case (w, h, c, px, _) => (w, h, c, px) }

  /** Full well-formed PNG with KNOWN pixel content for planting in tests
    * and oracle queries: 8-bit truecolor, deflated IDAT, correct CRCs,
    * and the scanline filter CYCLING through all five types (None on row
    * 0, then Sub/Up/Average/Paeth by row) so a decode exercises every
    * unfilter path — the payload is what a real encoder could emit.
    */
  private[graft] def pngPixelBytes(w: Int, h: Int,
      px: (Int, Int) => (Int, Int, Int),
      interlaced: Boolean = false): Array[Byte] = {
    val channels = 3
    def paeth(a: Int, b: Int, c: Int): Int = {
      val est = a + b - c
      val (pa, pb, pc) =
        (math.abs(est - a), math.abs(est - b), math.abs(est - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val out = new java.io.ByteArrayOutputStream()
    // write one independently-filtered sub-image whose pixel (c, r) is
    // the full-image pixel (x0 + c·dx, y0 + r·dy); the non-interlaced
    // stream is the single identity pass
    def writePass(x0: Int, y0: Int, dx: Int, dy: Int): Unit = {
      val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
      val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
      if (pw == 0 || ph == 0) return
      val st = pw * channels
      val prev = new Array[Int](st)
      val cur = new Array[Int](st)
      for (r <- 0 until ph) {
        for (c <- 0 until pw) {
          val (pr, pg, pb) = px(x0 + c * dx, y0 + r * dy)
          cur(c * 3) = pr & 0xff; cur(c * 3 + 1) = pg & 0xff
          cur(c * 3 + 2) = pb & 0xff
        }
        val ft = if (r == 0) 0 else 1 + ((r - 1) % 4) // Sub/Up/Avg/Paeth
        out.write(ft)
        for (j <- 0 until st) {
          val left = if (j >= channels) cur(j - channels) else 0
          val up = if (r > 0) prev(j) else 0
          val ul = if (r > 0 && j >= channels) prev(j - channels) else 0
          val v = ft match {
            case 0 => cur(j)
            case 1 => cur(j) - left
            case 2 => cur(j) - up
            case 3 => cur(j) - (left + up) / 2
            case 4 => cur(j) - paeth(left, up, ul)
          }
          out.write(v & 0xff)
        }
        Array.copy(cur, 0, prev, 0, st)
      }
    }
    if (!interlaced) writePass(0, 0, 1, 1)
    else for ((x0, y0, dx, dy) <- Seq((0, 0, 8, 8), (4, 0, 8, 8),
        (0, 4, 4, 8), (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
        (0, 1, 1, 2)))
      writePass(x0, y0, dx, dy)
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      pngChunk("IHDR", pngIhdr(w, h, colorType = 2,
        interlace = if (interlaced) 1 else 0)) ++
      pngChunk("IDAT", deflateBytes(out.toByteArray)) ++
      pngChunk("IEND", Array.emptyByteArray)
  }

  private def pngIhdr(w: Int, h: Int, colorType: Int,
      interlace: Int = 0): Array[Byte] =
    java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(interlace.toByte).array()

  private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val tb = typ.getBytes("US-ASCII")
    val bb = java.nio.ByteBuffer.allocate(12 + data.length)
    bb.putInt(data.length).put(tb).put(data)
    val crc = new java.util.zip.CRC32()
    crc.update(tb); crc.update(data)
    bb.putInt(crc.getValue.toInt)
    bb.array()
  }

  private def deflateBytes(raw: Array[Byte]): Array[Byte] = {
    val defl = new java.util.zip.Deflater()
    val bos = new java.io.ByteArrayOutputStream()
    try {
      defl.setInput(raw); defl.finish()
      val buf = new Array[Byte](8192)
      while (!defl.finished()) bos.write(buf, 0, defl.deflate(buf))
    } finally defl.end()
    bos.toByteArray
  }

  /** Indexed-palette PNG (color type 3) with known content for tests:
    * scanlines of palette indices (filter cycle None/Sub/Up), PLTE from
    * the given colors.
    */
  private[graft] def pngPaletteBytes(w: Int, h: Int,
      palette: Array[Byte], idx: (Int, Int) => Int): Array[Byte] = {
    require(palette.length % 3 == 0 && palette.nonEmpty)
    val raw = new Array[Byte](h * (1 + w))
    var o = 0
    for (y <- 0 until h) {
      val ft = y % 3
      raw(o) = ft.toByte; o += 1
      // filters work over the RECONSTRUCTED neighbours, which for index
      // samples are just the generator's values
      for (x <- 0 until w) {
        val v = idx(x, y) & 0xff
        val enc = ft match {
          case 0 => v
          case 1 => v - (if (x > 0) idx(x - 1, y) & 0xff else 0)
          case 2 => v - (if (y > 0) idx(x, y - 1) & 0xff else 0)
        }
        raw(o) = (enc & 0xff).toByte; o += 1
      }
    }
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      pngChunk("IHDR", pngIhdr(w, h, colorType = 3)) ++
      pngChunk("PLTE", palette) ++
      pngChunk("IDAT", deflateBytes(raw)) ++
      pngChunk("IEND", Array.emptyByteArray)
  }

  /** STUB decoder: deterministic fake metadata from the payload bytes.
    * A real deployment swaps this body for the codec call; the signature
    * (bytes in, typed meta out) and the partition-wise driver below are the
    * production shape.
    */
  def decodeStub(id: Long, kind: String, payload: Array[Byte]): MediaMeta = {
    val md = MessageDigest.getInstance("MD5")
    val hex = md.digest(payload).map("%02x".format(_)).mkString
    val w = 16 + (java.lang.Long.parseLong(hex.substring(0, 7), 16) % 1024L)
    val h = 16 + (java.lang.Long.parseLong(hex.substring(8, 15), 16) % 1024L)
    val f = Formats(Integer.parseInt(hex.substring(31, 32), 16) % Formats.length)
    MediaMeta(id, kind, payload.length.toLong, w.toInt, h.toInt,
      1 + (payload.length % 30), f)
  }

  /** REAL-first decode: parse the actual media header when the payload is
    * a recognizable PNG/JPEG (still image → n_frames = 1) or AVI (frame
    * count from the avih header), fall back to the deterministic stub
    * otherwise — corrupt or unknown payloads degrade to fake-but-stable
    * metadata instead of failing the batch.
    */
  def decodeMeta(id: Long, kind: String, payload: Array[Byte]): MediaMeta =
    probeImage(payload) match {
      case Some((fmt, w, h)) =>
        MediaMeta(id, kind, payload.length.toLong, w, h, 1, fmt)
      case None => probeAvi(payload) match {
        case Some((w, h, frames)) =>
          MediaMeta(id, kind, payload.length.toLong, w, h, frames, "avi")
        case None => decodeGif(payload) match {
          // full decode, not a header probe — the LZW stream must parse,
          // so the ASCII magic cannot false-positive on text (the reason
          // probeImage excludes GIF)
          case Some((w, h, frames, _)) =>
            MediaMeta(id, kind, payload.length.toLong, w, h, frames, "gif")
          case None => decodeStub(id, kind, payload)
        }
      }
    }

  /** Decode a media Dataset partition-wise. One decoder per partition: the
    * MessageDigest here stands in for a codec context that is expensive to
    * open and must not be per-row.
    */
  def decode(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder init goes here (header probe needs none)
      rows.map(r => decodeMeta(r.media_id, r.kind, r.payload))
    }
  }

  /** Full feature row: decode metadata + derived transforms, all from one
    * pass over the payload (decode once, derive everything — the shape a
    * real codec pipeline wants, since opening the media is the expensive
    * part).
    */
  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      width: Int,
      height: Int,
      out_w: Int,        // resize-to-fit-256 stub
      out_h: Int,
      n_frames: Int,
      frame_ids: String, // 4 evenly-spaced sampled frame indices, csv
      feature: Array[Double]) // 8-dim embedding: content stats when the
                              // payload pixel-decodes, md5 stub otherwise

  /** 8-dim CONTENT-derived feature from decoded pixels: per-channel
    * mean and std (grayscale replicated across RGB, alpha ignored), an
    * aspect-ratio dim, and the bright-pixel fraction. Cheap, deterministic
    * and genuinely content-based — the slot a learned-encoder call takes
    * in a real deployment.
    */
  private def pixelFeature(w: Int, h: Int, channels: Int,
      px: Array[Byte]): Array[Double] = {
    val n = w * h
    val sum = new Array[Long](3)
    val sumSq = new Array[Long](3)
    var bright = 0L
    var i = 0
    while (i < n) {
      var lum = 0
      var c = 0
      while (c < 3) {
        val v = px(i * channels + math.min(c, channels - 1)) & 0xff
        sum(c) += v; sumSq(c) += v.toLong * v; lum += v
        c += 1
      }
      if (lum > 3 * 128) bright += 1
      i += 1
    }
    val out = new Array[Double](8)
    var c = 0
    while (c < 3) {
      val mean = sum(c).toDouble / n
      out(c) = mean / 128.0 - 1.0
      out(3 + c) = math.sqrt(math.max(0.0,
        sumSq(c).toDouble / n - mean * mean)) / 128.0
      c += 1
    }
    out(6) = 2.0 * w / (w + h) - 1.0
    out(7) = bright.toDouble / n
    out
  }

  /** 8-dim CONTENT-derived feature from decoded PCM samples — the audio
    * analogue of [[pixelFeature]]: amplitude mean, std and mean-abs
    * (int16-range normalized), min, max, strict zero-crossing fraction
    * (consecutive-sample products < 0), a channel-count dim, and the
    * clip duration squashed to (0,1) as n/(n + rate) = dur/(dur + 1 s).
    * Every dim is exact closed-form arithmetic over the samples, so a
    * SQL oracle can reproduce it from a planted sample rule.
    */
  private def audioFeature(rate: Int, channels: Int,
      samples: Array[Short]): Array[Double] = {
    val out = new Array[Double](8)
    val n = samples.length
    out(6) = channels / 8.0 // decodeWav caps channels at 8
    out(7) = n.toDouble / (n + rate)
    if (n == 0) return out
    var sum = 0L; var sumSq = 0L; var sumAbs = 0L
    var mn = Int.MaxValue; var mx = Int.MinValue
    var crossings = 0L
    var i = 0
    while (i < n) {
      val v: Int = samples(i)
      sum += v; sumSq += v.toLong * v; sumAbs += math.abs(v)
      if (v < mn) mn = v
      if (v > mx) mx = v
      if (i > 0 && samples(i - 1).toLong * v < 0) crossings += 1
      i += 1
    }
    val mean = sum.toDouble / n
    out(0) = mean / 32768.0
    out(1) = math.sqrt(math.max(0.0,
      sumSq.toDouble / n - mean * mean)) / 32768.0
    out(2) = sumAbs.toDouble / n / 32768.0
    out(3) = mn / 32768.0
    out(4) = mx / 32768.0
    out(5) = if (n < 2) 0.0 else crossings.toDouble / (n - 1)
    out
  }

  /** Decode any still-image payload class the repo handles to
    * `(width, height, channels, pixels)`: one [[decodeImage]] over the
    * PNG, JPEG (baseline or progressive; grayscale comes back 1-channel)
    * and GIF (first frame, palette-expanded RGB) readers. None for
    * anything else.
    */
  def decodeAnyPixels(
      payload: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] =
    decodeImage(payload, "png", "jpeg", "gif")
      .map { case (w, h, c, px, _) => (w, h, c, px) }

  /** Feature extraction: resize dims, frame sampling, and an 8-dim
    * embedding — CONTENT-derived for every payload class the repo can
    * decode (PNG, JPEG and GIF first-frame pixels via [[decodeAnyPixels]],
    * WAV/PCM samples via [[decodeWav]] → [[audioFeature]], MJPEG-in-AVI
    * sampled frames via [[aviJpegFrames]] → [[videoFeature]]); the
    * md5-arithmetic stub remains ONLY for genuinely undecodable bytes, so
    * every payload gets a deterministic oracle-reproducible feature and a
    * real learned encoder has exactly one seam to fill.
    */
  def extractStub(id: Long, kind: String, payload: Array[Byte]): MediaFeatures = {
    val meta = decodeMeta(id, kind, payload)
    val scale = 256.0 / math.max(meta.width, meta.height)
    val outW = math.max(1, math.floor(meta.width * scale).toInt)
    val outH = math.max(1, math.floor(meta.height * scale).toInt)
    val frames = (0 until 4).map(j => (j * meta.n_frames) / 4).distinct
    val feature = decodeAnyPixels(payload)
      .map { case (w, h, channels, px) => pixelFeature(w, h, channels, px) }
      .orElse(decodeWav(payload).map { case (rate, channels, samples) =>
        audioFeature(rate, channels, samples)
      })
      .orElse(videoFeature(payload))
      .getOrElse {
        val md = MessageDigest.getInstance("MD5")
        val hex = md.digest(payload).map("%02x".format(_)).mkString
        Array.tabulate(8) { d =>
          java.lang.Long.parseLong(hex.substring(4 * d, 4 * d + 4), 16)
            .toDouble / 65536.0 * 2.0 - 1.0
        }
      }
    MediaFeatures(id, kind, meta.width, meta.height, outW, outH,
      meta.n_frames, frames.mkString(","), feature)
  }

  /** Partition-wise feature extraction (same batching rationale as
    * [[decode]]).
    */
  def extract(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map(r => extractStub(r.media_id, r.kind, r.payload))
    }
  }

  def mediaFeatures(spark: SparkSession, docs: DataFrame): DataFrame =
    extract(syntheticMedia(spark, docs)).toDF()

  /** Build a synthetic media table from the documents table: the UTF-8
    * bytes of the text as payload (a stand-in for image bytes), kind
    * round-robins over media types. Keeps everything deterministic.
    */
  def syntheticMedia(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        col("text").cast("binary").as("payload"))
      .as[MediaRow]
  }

  /** End-to-end: documents → synthetic binary payloads → partition-wise
    * stub decode → typed metadata frame.
    */
  def mediaMetadata(spark: SparkSession, docs: DataFrame): DataFrame =
    decode(syntheticMedia(spark, docs)).toDF()

  /** [[syntheticMedia]] with REAL image headers planted on a deterministic
    * subset: media_id % 4 == 0 gets a PNG, % 4 == 1 a JPEG, each with
    * dimensions derived from the id (so an oracle can assert the probe
    * recovered them without parsing anything itself); the rest keep the
    * text payload and exercise the stub fallback.
    */
  def plantedMedia(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    syntheticMedia(spark, docs).map { r =>
      (r.media_id % 4) match {
        case 0 => r.copy(payload = pngBytes(
          16 + (r.media_id % 1024).toInt, 16 + ((7 * r.media_id) % 1024).toInt))
        case 1 => r.copy(payload = jpegBytes(
          16 + ((3 * r.media_id) % 2048).toInt,
          16 + ((5 * r.media_id) % 2048).toInt))
        case _ => r
      }
    }
  }

  /** Per-image channel statistics from a REAL pixel decode — rows only
    * for payloads [[decodePixels]] accepts with ≥3 channels. Sums are
    * exact longs and means are exact sums/n, so the output hash-compares
    * stably against a closed-form SQL oracle.
    */
  final case class PixelStats(
      media_id: Long,
      width: Int,
      height: Int,
      mean_r: Double,
      mean_g: Double,
      mean_b: Double,
      min_r: Int,
      max_r: Int)

  private def rgbStats(id: Long, w: Int, h: Int, channels: Int,
      px: Array[Byte]): PixelStats = {
    val n = w * h
    var sr = 0L; var sg = 0L; var sb = 0L
    var mn = 255; var mx = 0
    var i = 0
    while (i < n) {
      val r0 = px(i * channels) & 0xff
      sr += r0
      sg += px(i * channels + 1) & 0xff
      sb += px(i * channels + 2) & 0xff
      if (r0 < mn) mn = r0
      if (r0 > mx) mx = r0
      i += 1
    }
    PixelStats(id, w, h, sr.toDouble / n, sg.toDouble / n,
      sb.toDouble / n, mn, mx)
  }

  def pixelStats(media: Dataset[MediaRow]): Dataset[PixelStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        decodePixels(r.payload).collect {
          case (w, h, channels, px) if channels >= 3 =>
            rgbStats(r.media_id, w, h, channels, px)
        }
      }
    }
  }

  /** RGB channel stats from a COLOR JPEG decode
    * ([[Jpeg.decode]]: YCbCr converted to RGB).
    */
  def jpegColorStats(media: Dataset[MediaRow]): Dataset[PixelStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        Jpeg.decode(r.payload).collect {
          case (w, h, 3, px) => rgbStats(r.media_id, w, h, 3, px)
        }
      }
    }
  }

  /** [[plantedJpegMedia]]'s COLOR sibling: interleaved YCbCr 4:4:4 with
    * the same per-block luma ladder and NEUTRAL chroma (Cb = Cr = 128 →
    * the JFIF matrix reduces to R = G = B = Y exactly, so the closed
    * form survives the color conversion while the full 3-component MCU
    * path is exercised).
    */
  def plantedColorJpegMedia(spark: SparkSession,
      docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      val base = (id % 100).toInt
      MediaRow(id, "image", Jpeg.encodeBaseline(32, 8, quant = 8, 3,
        (comp, bx, _) => {
          val c = new Array[Int](64)
          // luma carries the ladder; chroma planes sit at 128 (DC 0)
          if (comp == 0) c(0) = 8 * (base + 10 * bx - 100)
          c
        }))
    }
  }

  /** REAL pure-JVM WAV/PCM decode — RIFF chunk walk to the `fmt ` and
    * `data` chunks, 16-bit integer PCM only (the overwhelmingly common
    * case), little-endian samples returned channel-interleaved. Returns
    * `(sampleRate, channels, samples)` or None for anything else
    * (float/24-bit/compressed WAV, truncated, not RIFF).
    *
    * Unlike the header probes ([[probeImage]] deliberately excludes
    * ASCII magics), accepting RIFF's ASCII magic is safe HERE because the
    * decode is fully structural: a text document mentioning "RIFF" would
    * also need a well-formed fmt chunk (PCM format code, consistent
    * block-align) and an in-bounds data chunk to be misread, at which
    * point it IS a WAV file.
    */
  def decodeWav(p: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    def u8(i: Int) = p(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def ascii(i: Int, s: String) =
      s.indices.forall(k => u8(i + k) == s.charAt(k))
    if (p.length < 44 || !ascii(0, "RIFF") || !ascii(8, "WAVE")) return None
    var i = 12
    var rate = 0; var channels = 0; var blockAlign = 0
    var fmtOk = false
    var samples: Array[Short] = null
    while (samples == null && i + 8 <= p.length) {
      val sz = le32(i + 4)
      if (sz < 0 || i + 8 + sz > p.length) return None
      if (ascii(i, "fmt ")) {
        if (sz < 16) return None
        val audioFormat = le16(i + 8)
        channels = le16(i + 10)
        rate = le32(i + 12)
        blockAlign = le16(i + 20)
        val bits = le16(i + 22)
        if (audioFormat != 1 || bits != 16 || channels < 1 ||
            channels > 8 || rate <= 0 || blockAlign != 2 * channels)
          return None
        fmtOk = true
      } else if (ascii(i, "data")) {
        if (!fmtOk) return None // fmt must precede data (spec ordering)
        if (sz > (1 << 26) || sz % 2 != 0) return None
        val n = sz / 2
        val out = new Array[Short](n)
        var k = 0
        while (k < n) {
          out(k) = le16(i + 8 + 2 * k).toShort
          k += 1
        }
        samples = out
      }
      i += 8 + sz + (sz & 1) // RIFF chunks are word-aligned (pad byte)
    }
    if (samples == null) None else Some((rate, channels, samples))
  }

  /** GIF decode ([[decodeImage]] restricted to GIF): the first frame's
    * pixels expanded through its colour table to interleaved RGB, plus the
    * file's frame count. Returns `(width, height, nFrames, firstFrameRGB)`.
    *
    * GIF's ASCII magic ("GIF89a") is exactly the false-positive class
    * [[probeImage]] excludes for header-only probing — here the LZW
    * stream must DECODE and the file must end in its trailer, so a text
    * document discussing GIFs cannot pass. Callers fall back to the stub.
    */
  def decodeGif(p: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] =
    decodeImage(p, "gif").map { case (w, h, _, px, n) => (w, h, n, px) }

  /** Real GIF with KNOWN pixel content for planting: genuine LZW
    * compression (dictionary strings, KwKwK cases included), with a
    * CLEAR emitted whenever the dictionary would force a code-width
    * increase — valid GIF (clears are legal anywhere) that sidesteps the
    * encoder/decoder width-transition off-by-one zone entirely; the
    * decoder's width-growth path is exercised separately by a
    * hand-packed stream in the spec. `nFrames` image descriptors share
    * the frame data (the animated-GIF shape without per-frame GCE
    * timing).
    */
  private[graft] def gifBytes(w: Int, h: Int, palette: Array[Byte],
      idx: (Int, Int) => Int, nFrames: Int = 1,
      interlaced: Boolean = false): Array[Byte] = {
    val nColors = palette.length / 3
    require(palette.length % 3 == 0 && nColors >= 2 && nColors <= 256 &&
      (nColors & (nColors - 1)) == 0, "palette must be a power of two")
    val sizeBits = 31 - Integer.numberOfLeadingZeros(nColors) // log2
    val minCode = math.max(2, sizeBits)
    val clear = 1 << minCode
    val eoi = clear + 1
    val rowOrder =
      if (!interlaced) 0 until h
      else (0 until h by 8) ++ (4 until h by 8) ++
        (2 until h by 4) ++ (1 until h by 2)
    val pix = new Array[Int](w * h)
    for ((y, row) <- rowOrder.zipWithIndex; x <- 0 until w) {
      val c = idx(x, y)
      require(c >= 0 && c < nColors, s"index $c out of palette")
      pix(row * w + x) = c
    }
    // LZW encode (LSB-first bit packing)
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nBits = 0
    val codeSize = minCode + 1 // constant: we clear before it would grow
    def emit(code: Int): Unit = {
      acc |= code.toLong << nBits; nBits += codeSize
      while (nBits >= 8) {
        bits.write((acc & 0xff).toInt); acc >>= 8; nBits -= 8
      }
    }
    val dict = new java.util.HashMap[Integer, Integer]()
    var nextCode = eoi + 1
    emit(clear)
    var cur = pix(0)
    var k = 1
    while (k < pix.length) {
      val px = pix(k)
      val key = (cur << 8) | px
      val hit = dict.get(key)
      if (hit != null) cur = hit.intValue()
      else {
        emit(cur)
        dict.put(key, nextCode); nextCode += 1
        if (nextCode == (1 << codeSize)) { // next add would widen: reset
          emit(clear); dict.clear(); nextCode = eoi + 1
        }
        cur = px
      }
      k += 1
    }
    emit(cur); emit(eoi)
    if (nBits > 0) bits.write((acc & 0xff).toInt)
    val lzw = bits.toByteArray
    // assemble the file
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    le16(w); le16(h)
    out.write(0x80 | ((sizeBits - 1) & 7) << 4 | ((sizeBits - 1) & 7)) // GCT
    out.write(0); out.write(0) // background, aspect
    out.write(palette, 0, palette.length)
    for (_ <- 0 until nFrames) {
      out.write(0x2c); le16(0); le16(0); le16(w); le16(h)
      out.write(if (interlaced) 0x40 else 0)
      out.write(minCode)
      var off = 0
      while (off < lzw.length) {
        val bl = math.min(255, lzw.length - off)
        out.write(bl); out.write(lzw, off, bl)
        off += bl
      }
      out.write(0) // block terminator
    }
    out.write(0x3b)
    out.toByteArray
  }

  /** First-frame channel stats + REAL frame count from a GIF decode —
    * same exactness contract as [[PixelStats]].
    */
  final case class GifStats(
      media_id: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      mean_r: Double,
      min_r: Int,
      max_r: Int)

  def gifStats(media: Dataset[MediaRow]): Dataset[GifStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        decodeGif(r.payload).map { case (w, h, frames, px) =>
          val n = w * h
          var sum = 0L; var mn = 255; var mx = 0
          var i = 0
          while (i < n) {
            val v = px(i * 3) & 0xff
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            i += 1
          }
          GifStats(r.media_id, w, h, frames, sum.toDouble / n, mn, mx)
        }
      }
    }
  }

  /** REAL AVI video-header probe — RIFF form `AVI ` → `LIST hdrl` →
    * `avih` main header (OpenDML/VfW layout: dwMicroSecPerFrame at +0,
    * dwTotalFrames at +16, dwWidth/dwHeight at +32/+36). Returns
    * `(width, height, totalFrames)`, or None unless the full structure
    * parses with sane values — the same structural-validation argument as
    * [[decodeWav]] makes the ASCII magic safe.
    */
  def probeAvi(p: Array[Byte]): Option[(Int, Int, Int)] = {
    def u8(i: Int) = p(i) & 0xff
    def le32(i: Int) =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def ascii(i: Int, s: String) =
      s.indices.forall(k => u8(i + k) == s.charAt(k))
    if (p.length < 12 + 12 + 8 + 56 || !ascii(0, "RIFF") ||
        !ascii(8, "AVI ")) return None
    var i = 12
    while (i + 8 <= p.length) {
      val sz = le32(i + 4)
      if (sz < 0 || i + 8 + sz > p.length) return None
      if (ascii(i, "LIST") && sz >= 4 + 8 + 56 && ascii(i + 8, "hdrl")) {
        // walk the list body for the avih chunk
        var j = i + 12
        val end = i + 8 + sz
        while (j + 8 <= end) {
          val csz = le32(j + 4)
          if (csz < 0 || j + 8 + csz > end) return None
          if (ascii(j, "avih")) {
            if (csz < 56) return None
            val frames = le32(j + 8 + 16)
            val (w, h) = (le32(j + 8 + 32), le32(j + 8 + 36))
            return if (w > 0 && h > 0 && frames > 0) Some((w, h, frames))
            else None
          }
          j += 8 + csz + (csz & 1)
        }
        return None
      }
      i += 8 + sz + (sz & 1)
    }
    None
  }

  /** REAL AVI frame extraction — walk the top-level RIFF chunks to the
    * `LIST movi` body and collect every video chunk payload (fourCC
    * `##dc`/`##db`, compressed/uncompressed video per the VfW chunk-id
    * convention; reference handles video objects opaquely —
    * BucketToBigQuery.js:233 treats any matched object as bytes). Same
    * structural validation as [[probeAvi]]: every declared size must fit,
    * or the whole payload is rejected — a truncated container can never
    * yield a half-read frame.
    */
  def aviJpegFrames(p: Array[Byte]): Option[Vector[Array[Byte]]] = {
    def u8(i: Int) = p(i) & 0xff
    def le32(i: Int) =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def ascii(i: Int, s: String) =
      s.indices.forall(k => u8(i + k) == s.charAt(k))
    if (p.length < 12 || !ascii(0, "RIFF") || !ascii(8, "AVI ")) return None
    var i = 12
    while (i + 8 <= p.length) {
      val sz = le32(i + 4)
      if (sz < 0 || i + 8 + sz > p.length) return None
      if (ascii(i, "LIST") && sz >= 4 && ascii(i + 8, "movi")) {
        var j = i + 12
        val end = i + 8 + sz
        val frames = Vector.newBuilder[Array[Byte]]
        while (j + 8 <= end) {
          val csz = le32(j + 4)
          if (csz < 0 || j + 8 + csz > end) return None
          // video chunk: two stream-id digits then dc (compressed) or
          // db (uncompressed)
          if (u8(j) >= '0' && u8(j) <= '9' && u8(j + 1) >= '0' &&
              u8(j + 1) <= '9' && u8(j + 2) == 'd' &&
              (u8(j + 3) == 'c' || u8(j + 3) == 'b'))
            frames += java.util.Arrays.copyOfRange(p, j + 8, j + 8 + csz)
          j += 8 + csz + (csz & 1)
        }
        val out = frames.result()
        return if (out.nonEmpty) Some(out) else None
      }
      i += 8 + sz + (sz & 1)
    }
    None
  }

  /** CONTENT-derived video feature: sample 4 evenly-spaced frames from
    * the `movi` list (the same `(j·n)/4` rule as [[extractStub]]'s
    * frame_ids), pixel-decode each through [[decodeAnyPixels]] (MJPEG
    * frames decode as JPEG), and average the per-frame
    * [[pixelFeature]]s — frame 0 plus every k-th, never the whole clip,
    * so cost is bounded by the sample count regardless of video length.
    * None unless at least one sampled frame pixel-decodes; a garbage
    * frame among decodable ones is skipped, not fatal.
    */
  private def videoFeature(p: Array[Byte]): Option[Array[Double]] =
    aviJpegFrames(p).flatMap { frames =>
      val n = frames.length
      val feats = (0 until 4).map(j => (j * n) / 4).distinct
        .flatMap(idx => decodeAnyPixels(frames(idx)).map {
          case (w, h, channels, px) => pixelFeature(w, h, channels, px)
        })
      if (feats.isEmpty) None
      else Some(Array.tabulate(8)(d => feats.map(_(d)).sum / feats.size))
    }

  /** Minimal well-formed AVI header (RIFF `AVI ` + `LIST hdrl` + `avih`)
    * for planting known video metadata — header-only, like [[pngBytes]]:
    * [[probeAvi]] reads exactly what a production prober would without
    * decoding frames.
    */
  private[graft] def aviBytes(w: Int, h: Int, nFrames: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(12 + 12 + 8 + 56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(12 + 8 + 56 + 4)
    b.put("AVI ".getBytes("US-ASCII"))
    b.put("LIST".getBytes("US-ASCII")).putInt(4 + 8 + 56)
    b.put("hdrl".getBytes("US-ASCII"))
    b.put("avih".getBytes("US-ASCII")).putInt(56)
    b.putInt(33367)        // dwMicroSecPerFrame (~29.97 fps)
    b.putInt(0).putInt(0).putInt(0)
    b.putInt(nFrames)      // dwTotalFrames
    b.putInt(0).putInt(1).putInt(0)
    b.putInt(w).putInt(h)  // dwWidth, dwHeight
    b.putInt(0).putInt(0).putInt(0).putInt(0)
    b.array()
  }

  /** Full MJPEG-in-AVI container: [[aviBytes]]'s `hdrl` followed by a
    * `LIST movi` whose `00dc` chunks each wrap one complete JPEG — the
    * layout a real MJPEG camera/encoder emits, with correct RIFF sizes
    * throughout so [[probeAvi]] AND [[aviJpegFrames]] both validate.
    * When `audio` chunks are given they interleave as stream-1 `01wb`
    * (audio) chunks after each frame, the usual camera mux order —
    * [[aviJpegFrames]] must skip them by chunk id.
    */
  private[graft] def mjpegAviBytes(w: Int, h: Int,
      frames: Seq[Array[Byte]],
      audio: Seq[Array[Byte]] = Nil): Array[Byte] = {
    val chunks: Seq[(String, Array[Byte])] =
      frames.zipWithIndex.flatMap { case (f, i) =>
        ("00dc" -> f) +: audio.lift(i).map("01wb" -> _).toSeq
      }
    val moviBody = 4 + chunks.map { case (_, c) =>
      8 + c.length + (c.length & 1)
    }.sum
    val riffBody = 4 + (8 + 4 + 8 + 56) + (8 + moviBody)
    val b = java.nio.ByteBuffer.allocate(8 + riffBody)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(riffBody)
    b.put("AVI ".getBytes("US-ASCII"))
    b.put("LIST".getBytes("US-ASCII")).putInt(4 + 8 + 56)
    b.put("hdrl".getBytes("US-ASCII"))
    b.put("avih".getBytes("US-ASCII")).putInt(56)
    b.putInt(33367)            // dwMicroSecPerFrame (~29.97 fps)
    b.putInt(0).putInt(0).putInt(0)
    b.putInt(frames.length)    // dwTotalFrames
    b.putInt(0).putInt(1).putInt(0)
    b.putInt(w).putInt(h)
    b.putInt(0).putInt(0).putInt(0).putInt(0)
    b.put("LIST".getBytes("US-ASCII")).putInt(moviBody)
    b.put("movi".getBytes("US-ASCII"))
    chunks.foreach { case (id, c) =>
      b.put(id.getBytes("US-ASCII")).putInt(c.length).put(c)
      if ((c.length & 1) == 1) b.put(0.toByte) // RIFF word alignment
    }
    b.array()
  }

  /** Well-formed 16-bit PCM WAV with KNOWN samples for planting (correct
    * RIFF/fmt/data sizes — a real encoder's output for the same samples).
    */
  private[graft] def wavBytes(sampleRate: Int, channels: Int,
      samples: Array[Short]): Array[Byte] = {
    val dataSz = samples.length * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataSz)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSz)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1.toShort)                       // PCM
    b.putShort(channels.toShort)
    b.putInt(sampleRate)
    b.putInt(sampleRate * channels * 2)         // byte rate
    b.putShort((channels * 2).toShort)          // block align
    b.putShort(16.toShort)                      // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(dataSz)
    samples.foreach(s => b.putShort(s))
    b.array()
  }

  /** [[syntheticMedia]] where EVERY doc gets a full real PNG (8×8 RGB,
    * deflated, filter types cycling over all five per scanline) whose
    * pixel values are the closed form `channelBase + x + 2·y` with
    * per-channel bases derived from the id — bases are < 97 so no value
    * wraps past 255 and a SQL oracle can assert the decoded stats
    * (mean = base + 10.5 over the 8×8 grid, min = base, max = base + 21)
    * without parsing a single byte.
    */
  def plantedPixelMedia(spark: SparkSession,
      docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      val br = (id % 97).toInt
      val bg = ((3 * id) % 89).toInt
      val bb = ((7 * id) % 83).toInt
      MediaRow(id, "image", pngPixelBytes(8, 8,
        (x, y) => (br + x + 2 * y, bg + x + 2 * y, bb + x + 2 * y)))
    }
  }

  /** [[plantedPixelMedia]] re-encoded ADAM7 INTERLACED: byte-distinct
    * files carrying the identical pixel rule, so matching q78's closed
    * form against THIS planting proves the seven-pass de-interlace
    * scatters every pixel to its exact grid position (an 8x8 image
    * populates all seven passes: 1+1+2+4+8+16+32 = 64 pixels).
    */
  def plantedInterlacedPixelMedia(spark: SparkSession,
      docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      val br = (id % 97).toInt
      val bg = ((3 * id) % 89).toInt
      val bb = ((7 * id) % 83).toInt
      MediaRow(id, "image", pngPixelBytes(8, 8,
        (x, y) => (br + x + 2 * y, bg + x + 2 * y, bb + x + 2 * y),
        interlaced = true))
    }
  }

  /** Per-clip PCM statistics from a REAL WAV decode — the audio analogue
    * of [[PixelStats]]. Sums are exact longs over int16 samples; mean is
    * sum/n, so the output hash-compares stably against a closed-form SQL
    * oracle.
    */
  final case class AudioStats(
      media_id: Long,
      sample_rate: Int,
      n_channels: Int,
      n_samples: Long,
      mean_amp: Double,
      min_amp: Int,
      max_amp: Int,
      sum_sq: Long)

  def audioStats(media: Dataset[MediaRow]): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        decodeWav(r.payload).map { case (rate, channels, samples) =>
          var sum = 0L; var sumSq = 0L
          var mn = Int.MaxValue; var mx = Int.MinValue
          var i = 0
          while (i < samples.length) {
            val v: Int = samples(i)
            sum += v; sumSq += v.toLong * v
            if (v < mn) mn = v
            if (v > mx) mx = v
            i += 1
          }
          val n = samples.length
          AudioStats(r.media_id, rate, channels, n.toLong,
            if (n == 0) 0.0 else sum.toDouble / n,
            if (n == 0) 0 else mn, if (n == 0) 0 else mx, sumSq)
        }
      }
    }
  }

  /** [[syntheticMedia]] where EVERY doc gets a real 16-bit PCM WAV
    * (8 kHz mono, 170 samples) whose sample values are the closed form
    * `base + (i mod 17)` with `base = id mod 1000` — 170 is a multiple of
    * 17, so over the clip mean = base + 8, min = base, max = base + 16,
    * and Σs² = 170·base² + 2720·base + 14960 exactly, all expressible in
    * a SQL oracle.
    */
  def plantedAudioMedia(spark: SparkSession,
      docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      val base = (id % 1000).toInt
      val samples = Array.tabulate(170)(i => (base + i % 17).toShort)
      MediaRow(id, "audio", wavBytes(8000, 1, samples))
    }
  }

  /** REAL box-filter downsample over decoded pixels — the actual
    * implementation behind the resize-to-fit transform the feature row
    * models ([[MediaFeatures.out_w]]/`out_h`): every output pixel is the
    * exact mean of its covering input box (boxes from integer floor
    * mapping, so they tile the input exactly). Output stays Double to
    * keep the means exact — the shape a model-input normalizer consumes
    * anyway.
    */
  def resizeBox(w: Int, h: Int, channels: Int, px: Array[Byte],
      outW: Int, outH: Int): Array[Double] = {
    require(outW > 0 && outH > 0 && outW <= w && outH <= h,
      "resizeBox downsamples only")
    val out = new Array[Double](outW * outH * channels)
    var j = 0
    while (j < outH) {
      val y0 = j * h / outH; val y1 = (j + 1) * h / outH
      var i = 0
      while (i < outW) {
        val x0 = i * w / outW; val x1 = (i + 1) * w / outW
        var c = 0
        while (c < channels) {
          var sum = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              sum += px((y * w + x) * channels + c) & 0xff
              x += 1
            }
            y += 1
          }
          out((j * outW + i) * channels + c) =
            sum.toDouble / ((y1 - y0) * (x1 - x0))
          c += 1
        }
        i += 1
      }
      j += 1
    }
    out
  }

  /** Channel statistics of the REAL thumbnail ([[decodePixels]] →
    * [[resizeBox]]) — resized min/max differ from the full-resolution
    * stats, so an oracle on these asserts the box filter itself.
    */
  final case class ThumbStats(
      media_id: Long,
      out_w: Int,
      out_h: Int,
      mean_r: Double,
      mean_g: Double,
      mean_b: Double,
      min_r: Double,
      max_r: Double)

  def thumbnailStats(media: Dataset[MediaRow], outW: Int,
      outH: Int): Dataset[ThumbStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        decodePixels(r.payload).collect {
          case (w, h, channels, px)
              if channels >= 3 && outW <= w && outH <= h =>
            val t = resizeBox(w, h, channels, px, outW, outH)
            val n = outW * outH
            var sr = 0.0; var sg = 0.0; var sb = 0.0
            var mn = Double.MaxValue; var mx = Double.MinValue
            var i = 0
            while (i < n) {
              val r0 = t(i * channels)
              sr += r0; sg += t(i * channels + 1); sb += t(i * channels + 2)
              if (r0 < mn) mn = r0
              if (r0 > mx) mx = r0
              i += 1
            }
            ThumbStats(r.media_id, outW, outH, sr / n, sg / n, sb / n,
              mn, mx)
        }
      }
    }
  }

  /** Grayscale stats from a REAL JPEG decode ([[Jpeg.decodeGray]]); same
    * exactness contract as [[PixelStats]] (planted coefficients are
    * quant multiples, so the IDCT output is exact integers).
    */
  final case class JpegStats(
      media_id: Long,
      width: Int,
      height: Int,
      mean_g: Double,
      min_g: Int,
      max_g: Int)

  def jpegStats(media: Dataset[MediaRow]): Dataset[JpegStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        Jpeg.decodeGray(r.payload).map { case (w, h, px) =>
          var sum = 0L; var mn = 255; var mx = 0
          var i = 0
          while (i < px.length) {
            val v = px(i) & 0xff
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            i += 1
          }
          JpegStats(r.media_id, w, h, sum.toDouble / px.length, mn, mx)
        }
      }
    }
  }

  /** [[syntheticMedia]] where EVERY doc gets a real baseline JPEG
    * (grayscale 32×8 = four 8×8 MCUs, flat quant 8): block b is flat at
    * `base + 28 + 10·b` with `base = id mod 100` (planted via DC
    * coefficients `8·(base + 10·b − 100)`, all quant multiples and all
    * within the un-clamped range, so the decode is exact and the DC
    * prediction chain is exercised across blocks) → mean = base + 43,
    * min = base + 28, max = base + 58.
    */
  def plantedJpegMedia(spark: SparkSession,
      docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      val base = (id % 100).toInt
      MediaRow(id, "image", Jpeg.encodeGray(32, 8, quant = 8,
        (bx, _) => {
          val c = new Array[Int](64)
          c(0) = 8 * (base + 10 * bx - 100)
          c
        }))
    }
  }

  /** [[plantedColorJpegMedia]]'s 4:2:0 sibling — the dominant real-world
    * JPEG layout (luma 2x2 + chroma 1x1 per MCU): a 32×16 image is two
    * 16×16 MCUs of four luma blocks each, planted at
    * `base + 20 + 4·bx + 8·by` with neutral subsampled chroma (flat
    * chroma upsamples exactly, so R = G = B = Y survives end to end) →
    * mean = base + 30, min = base + 20, max = base + 40.
    */
  def planted420JpegMedia(spark: SparkSession,
      docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      val base = (id % 100).toInt
      MediaRow(id, "image", Jpeg.encodeBaseline(32, 16, quant = 8, 3,
        (comp, bx, by) => {
          val c = new Array[Int](64)
          if (comp == 0) c(0) = 8 * (base + 20 + 4 * bx + 8 * by - 128)
          c
        }, subsample420 = true))
    }
  }

  /** [[syntheticMedia]] where EVERY doc gets a real LZW-compressed GIF:
    * 4-color palette `(base + 5c)` per channel with `base = id mod 200`,
    * index rule `(x + y) mod 4` over 8×8 (each color exactly 16 times →
    * first-frame mean_r = base + 7.5, min = base, max = base + 15), and
    * `1 + id mod 4` frames — all closed-form for the oracle.
    */
  def plantedGifMedia(spark: SparkSession,
      docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      val base = (id % 200).toInt
      val palette = Array.tabulate(12)(i => (base + 5 * (i / 3)).toByte)
      MediaRow(id, "image", gifBytes(8, 8, palette,
        (x, y) => (x + y) % 4, nFrames = 1 + (id % 4).toInt))
    }
  }

  /** [[plantedColorJpegMedia]]'s PROGRESSIVE sibling: the exact same
    * 32×8 color content (luma ladder base + 28 + 10·b, neutral chroma)
    * re-encoded as a multi-scan SOF2 file — DC first pass at Al = 1,
    * DC refinement bits, and per-component AC scans whose EOB runs span
    * all four blocks — so an oracle asserting q84's closed form against
    * THIS planting proves the full Annex-G successive-approximation
    * decode, not the baseline path.
    */
  def plantedProgressiveJpegMedia(spark: SparkSession,
      docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      val base = (id % 100).toInt
      MediaRow(id, "image", Jpeg.encodeProgressive(32, 8, quant = 8, 3,
        (comp, bx, _) => {
          val c = new Array[Int](64)
          if (comp == 0) c(0) = 8 * (base + 10 * bx - 100)
          c
        }))
    }
  }

  /** VISUALLY-IDENTICAL, BYTE-DISTINCT media pairs — the image near-dup
    * fixture: for each doc_id < 100, the SAME 32×8 grayscale content
    * (left half at 28 + 2·id, right half at 228) encoded TWICE, as a
    * truecolor PNG (media_id = 2·id) and as a baseline JPEG
    * (media_id = 2·id + 1). The byte payloads share no structure — an
    * exact/byte-hash dedup cannot pair them — but both decode to
    * identical pixels, so the content-derived [[extractStub]] features
    * are exactly equal and a cosine threshold of 1.0 pairs precisely the
    * two encodings of each doc. Cross-doc features stay separated: mean
    * rises with id while std falls, so adjacent ids sit ≥ ~1e-4 apart in
    * cosine — far outside the 6-decimal rounding edge. Bounded to 100
    * docs ON PURPOSE: the pair geometry is the fixture; the operator
    * under test ([[graft.operators.Similarity.nearDupPairs]]) carries
    * the scale story (stress-tested at 40k vectors).
    */
  def plantedDualEncodingMedia(spark: SparkSession,
      docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).filter(col("doc_id") < 100)
      .as[Long].flatMap { id =>
        val v1 = 28 + 2 * id.toInt
        val v2 = 228
        val png = pngPixelBytes(32, 8, (x, _) => {
          val v = if (x < 16) v1 else v2; (v, v, v)
        })
        val jpg = Jpeg.encodeBaseline(32, 8, quant = 8, 1,
          (_, bx, _) => {
            val c = new Array[Int](64)
            c(0) = 8 * ((if (bx < 2) v1 else v2) - 128)
            c
          })
        Seq(MediaRow(2 * id, "image", png),
          MediaRow(2 * id + 1, "image", jpg))
      }
  }

  /** 64-bit DIFFERENCE HASH (dHash) — the standard perceptual image hash
    * production image-dedup pipelines key on (robust to re-encoding,
    * resizing and small pixel noise, unlike any byte hash): grayscale
    * box-downsample to a 9×8 grid, bit `y·8 + x` set iff box (x+1, y) is
    * brighter than box (x, y). All arithmetic is exact integers so a SQL
    * oracle can replay it: luma is the truncated (r+g+b)/3 (identity on
    * grayscale), boxes tile `[x·w/9, (x+1)·w/9)` like [[resizeBox]], and
    * brightness compares cross-multiplied box SUMS (`s₁·n₀ > s₀·n₁`) so
    * uneven boxes never need fractional means. Downsample-only: images
    * smaller than 9×8 return None.
    *
    * VIDEO payloads (MJPEG-in-AVI) hash their FIRST movi frame — a
    * re-encoded copy of a clip (different quant tables / byte stream,
    * same content) pairs at hamming 0 exactly like a re-encoded still.
    * First-frame identity is the bounded-cost default; a cut-robust
    * variant would hash every k-th sampled frame into a hash SET, at k×
    * the index size.
    */
  def dhash64(payload: Array[Byte]): Option[Long] =
    decodeAnyPixels(payload)
      .orElse(aviJpegFrames(payload).flatMap(fs => decodeAnyPixels(fs(0))))
      .flatMap { case (w, h, channels, px) =>
      if (w < 9 || h < 8) None
      else {
        val sums = Array.ofDim[Long](8, 9)
        val counts = Array.ofDim[Long](8, 9)
        var y = 0
        while (y < 8) {
          val y0 = y * h / 8; val y1 = (y + 1) * h / 8
          var x = 0
          while (x < 9) {
            val x0 = x * w / 9; val x1 = (x + 1) * w / 9
            var s = 0L
            var yy = y0
            while (yy < y1) {
              var xx = x0
              while (xx < x1) {
                val i = (yy * w + xx) * channels
                val lum =
                  if (channels < 3) px(i) & 0xff
                  else ((px(i) & 0xff) + (px(i + 1) & 0xff) +
                    (px(i + 2) & 0xff)) / 3
                s += lum
                xx += 1
              }
              yy += 1
            }
            sums(y)(x) = s
            counts(y)(x) = (y1 - y0).toLong * (x1 - x0)
            x += 1
          }
          y += 1
        }
        var hash = 0L
        var k = 0
        while (k < 64) {
          val yy = k / 8; val xx = k % 8
          if (sums(yy)(xx + 1) * counts(yy)(xx) >
              sums(yy)(xx) * counts(yy)(xx + 1))
            hash |= 1L << k
          k += 1
        }
        Some(hash)
      }
    }

  /** Partition-wise dHash over a media table → `(media_id, dhash)`;
    * undecodable or too-small payloads get a null hash.
    */
  def dhashMedia(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map(r => (r.media_id, dhash64(r.payload)))
    }.toDF("media_id", "dhash")
  }

  /** dHash fixture over EVERY doc: an 18×16 truecolor PNG whose 9×8 box
    * means follow a ±6 difference chain planted from the doc id — bit k
    * of the resulting dHash is bit `k mod 7` of `doc_id` (the 7-bit id
    * code repeated across 9 positions; bit 63 stays 0), so the oracle is
    * `Σ_p ((doc_id >> p) & 1) · (M₀ << p)` with M₀ = Σ_c 2^{7c} =
    * 72624976668147841. The 7-bit repetition code also gives pairwise
    * hamming ≥ 9 between distinct low-7-bit ids — the separation the
    * near-dup fixture ([[plantedDhashPairMedia]]) relies on.
    */
  def plantedDhashMedia(spark: SparkSession,
      docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      MediaRow(id, "image", dhashPlantPng(id, Set.empty))
    }
  }

  /** [[plantedDhashMedia]]'s NEAR-DUP sibling, bounded to doc_id < 100:
    * per doc, payload A (media 2·id) carries the doc's dHash code and
    * payload B (media 2·id + 1) the same code with bits 0 and 31 flipped
    * — visually near-identical, byte-distinct, hamming exactly 2. Cross
    * pairings stay ≥ 7 (code distance 9 minus the 2 flips), so a
    * hamming ≤ 4 pairing returns exactly the planting rule.
    */
  def plantedDhashPairMedia(spark: SparkSession,
      docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).filter(col("doc_id") < 100)
      .as[Long].flatMap { id =>
        Seq(MediaRow(2 * id, "image", dhashPlantPng(id, Set.empty)),
          MediaRow(2 * id + 1, "image", dhashPlantPng(id, Set(0, 31))))
      }
  }

  /** [[plantedDhashPairMedia]]'s VIDEO sibling, same bound and code:
    * per doc (< 100), media 2·id is a TWO-frame MJPEG AVI whose 72×64
    * frames carry the doc's dHash code as flat 8×8 JPEG blocks (block
    * grid = dHash box grid exactly) at quant 8; media 2·id + 1 is the
    * SAME content RE-ENCODED at quant 4 with code bits 0 and 31 flipped
    * — different quant table, different Huffman bytes, different file
    * size, visually near-identical frame 0 → first-frame dHash hamming
    * exactly 2. DC values `8·(m − 128)` are multiples of both quants, so
    * both encodings decode to exact integers and the hash is planted,
    * not approximated.
    */
  def plantedMjpegPairMedia(spark: SparkSession,
      docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).filter(col("doc_id") < 100)
      .as[Long].flatMap { id =>
        Seq(MediaRow(2 * id, "video", mjpegPlantAvi(id, Set.empty, 8)),
          MediaRow(2 * id + 1, "video", mjpegPlantAvi(id, Set(0, 31), 4)))
      }
  }

  /** The video planting: [[dhashPlantPng]]'s box walk rendered as flat
    * 8×8 JPEG blocks over a 9×8 block grid (72×64 px), wrapped twice
    * into an MJPEG AVI ([[mjpegAviBytes]]).
    */
  private def mjpegPlantAvi(id: Long, flip: Set[Int],
      quant: Int): Array[Byte] = {
    def bit(k: Int): Boolean = {
      val base = k < 63 && ((id >> (k % 7)) & 1) == 1
      if (flip.contains(k)) !base else base
    }
    val m = Array.ofDim[Int](8, 9)
    for (y <- 0 until 8) {
      m(y)(0) = 128
      for (x <- 0 until 8)
        m(y)(x + 1) = m(y)(x) + (if (bit(y * 8 + x)) 6 else -6)
    }
    val frame = Jpeg.encodeGray(72, 64, quant, (bx, by) => {
      val c = new Array[Int](64)
      c(0) = 8 * (m(by)(bx) - 128) // multiple of both quants (±48·k)
      c
    })
    mjpegAviBytes(72, 64, Seq(frame, frame))
  }

  /** The 18×16 planting both dHash fixtures share: box (x, y) is a flat
    * 2×2 pixel block at `m(x, y)`, built left-to-right per row as
    * `m(0) = 128`, `m(x+1) = m(x) ± 6` by the planted bit `y·8 + x`
    * (bit = id's bit `k mod 7` for k ≤ 62, 0 at k = 63, XOR-flipped at
    * the given positions). Values stay within [80, 176].
    */
  private def dhashPlantPng(id: Long, flip: Set[Int]): Array[Byte] = {
    def bit(k: Int): Boolean = {
      val base = k < 63 && ((id >> (k % 7)) & 1) == 1
      if (flip.contains(k)) !base else base
    }
    val m = Array.ofDim[Int](8, 9)
    for (y <- 0 until 8) {
      m(y)(0) = 128
      for (x <- 0 until 8)
        m(y)(x + 1) = m(y)(x) + (if (bit(y * 8 + x)) 6 else -6)
    }
    pngPixelBytes(18, 16, (px, py) => {
      val v = m(py / 2)(px / 2); (v, v, v)
    })
  }

  /** [[syntheticMedia]] with a MIXED planting that exercises every real
    * decoder behind the feature seam ([[extractStub]]), by `media_id % 4`:
    *
    *   - 0 → color baseline JPEG ([[plantedColorJpegMedia]]'s 32×8 form:
    *     R = G = B ∈ {base+28+10·b} with base = id mod 100),
    *   - 1 → LZW GIF ([[plantedGifMedia]]'s 8×8 form: R = G = B ∈
    *     {base+5·c} with base = id mod 200, 1 + id mod 4 frames),
    *   - 2 → 16-bit PCM WAV ([[plantedAudioMedia]]'s 8 kHz mono clip:
    *     samples base + (i mod 17), base = id mod 1000),
    *   - 3 → the raw text bytes (undecodable → md5 stub fallback),
    *
    * so a SQL oracle can assert the CONTENT-derived feature of every
    * class from the id formulas alone.
    */
  def plantedContentMedia(spark: SparkSession,
      docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].map { case (id, text) =>
        (id % 4) match {
          case 0 =>
            val base = (id % 100).toInt
            MediaRow(id, "image", Jpeg.encodeBaseline(32, 8, quant = 8, 3,
              (comp, bx, _) => {
                val c = new Array[Int](64)
                if (comp == 0) c(0) = 8 * (base + 10 * bx - 100)
                c
              }))
          case 1 =>
            val base = (id % 200).toInt
            val palette = Array.tabulate(12)(i => (base + 5 * (i / 3)).toByte)
            MediaRow(id, "image", gifBytes(8, 8, palette,
              (x, y) => (x + y) % 4, nFrames = 1 + (id % 4).toInt))
          case 2 =>
            val base = (id % 1000).toInt
            val samples = Array.tabulate(170)(i => (base + i % 17).toShort)
            MediaRow(id, "audio", wavBytes(8000, 1, samples))
          case _ =>
            MediaRow(id, "image", text.getBytes("UTF-8"))
        }
      }
  }

  /** [[syntheticMedia]] where EVERY doc gets a real AVI header whose
    * dimensions and frame count are closed-form functions of the id —
    * the video analogue of [[plantedMedia]]'s planted image headers.
    */
  def plantedVideoMedia(spark: SparkSession,
      docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      MediaRow(id, "video", aviBytes(
        160 + ((11 * id) % 1280).toInt,
        120 + ((13 * id) % 720).toInt,
        1 + (id % 3000).toInt))
    }
  }

  /** [[syntheticMedia]] where EVERY doc gets a full MJPEG AVI —
    * `1 + id mod 4` frames, frame f a real baseline-JPEG 8×8 block flat
    * at `base + 20 + 10·f` with `base = id mod 100` (planted as DC
    * coefficient `8·(v − 128)`, a quant multiple, so each frame decodes
    * exactly). [[extractStub]]'s sampled-frame average is then
    * closed-form: mean luma `base + 20 + 5·(n−1)` over the distinct
    * `(j·n)/4` sample, per-frame std 0, bright fraction a CASE over
    * which sampled frames exceed 128.
    */
  def plantedMjpegMedia(spark: SparkSession,
      docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      val base = (id % 100).toInt
      val n = 1 + (id % 4).toInt
      val frames = (0 until n).map { f =>
        Jpeg.encodeGray(8, 8, quant = 8, (_, _) => {
          val c = new Array[Int](64)
          c(0) = 8 * (base + 20 + 10 * f - 128)
          c
        })
      }
      MediaRow(id, "video", mjpegAviBytes(8, 8, frames))
    }
  }
}
