package graft

import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {

  import spark.implicits._

  test("decodeStub is deterministic and byte-derived") {
    val a = Multimodal.decodeStub(1L, "image", "hello".getBytes("UTF-8"))
    val b = Multimodal.decodeStub(1L, "image", "hello".getBytes("UTF-8"))
    assert(a == b)
    assert(a.n_bytes == 5)
    assert(a.width >= 16 && a.width < 16 + 1024)
    assert(a.height >= 16 && a.height < 16 + 1024)
    assert(Seq("jpeg", "png", "webp").contains(a.format))
    val c = Multimodal.decodeStub(1L, "image", "other".getBytes("UTF-8"))
    assert((a.width, a.height) != (c.width, c.height))
  }

  test("partition-wise decode keeps ids aligned and schema typed") {
    val docs = Seq((0L, "aaa"), (1L, "bbbb"), (2L, "c"))
      .toDF("doc_id", "text")
    val meta = Multimodal.mediaMetadata(spark, docs)
    assert(meta.schema.fieldNames.toSeq == Seq(
      "media_id", "kind", "n_bytes", "width", "height", "n_frames", "format"))
    val rows = meta.orderBy("media_id")
      .select("media_id", "kind", "n_bytes")
      .as[(Long, String, Long)].collect()
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(rows.map(_._2).toSeq == Seq("image", "audio", "video"))
    assert(rows.map(_._3).toSeq == Seq(3L, 4L, 1L))
  }

  test("probeImage parses real PNG/JPEG/GIF headers and rejects garbage") {
    assert(Multimodal.probeImage(Multimodal.pngBytes(640, 480))
      .contains(("png", 640, 480)))
    assert(Multimodal.probeImage(Multimodal.jpegBytes(1920, 1080))
      .contains(("jpeg", 1920, 1080)))
    // ASCII-magic formats are deliberately NOT probed: a text doc that
    // merely starts with a GIF header string must hit the stub, never be
    // misread as an image (the false-positive class the probe excludes)
    val gifText = "GIF89a is an image format from 1989".getBytes("UTF-8")
    assert(Multimodal.probeImage(gifText).isEmpty)
    // rejects: truncated PNG (cut before IHDR dims), JPEG with no SOF,
    // zero-dim PNG, plain text, empty
    assert(Multimodal.probeImage(Multimodal.pngBytes(640, 480).take(20)).isEmpty)
    assert(Multimodal.probeImage(Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xdb.toByte, 0x00, 0x04, 0x00, 0x00)).isEmpty)
    assert(Multimodal.probeImage(Multimodal.pngBytes(0, 480)).isEmpty)
    assert(Multimodal.probeImage("just some text".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.probeImage(Array.empty[Byte]).isEmpty)
    // a JPEG whose SOF is cut off mid-segment is rejected, not misread
    assert(Multimodal.probeImage(Multimodal.jpegBytes(1920, 1080).take(13)).isEmpty)
  }

  test("decodeMeta: real header wins, corrupt/unknown falls back to stub") {
    val real = Multimodal.decodeMeta(7L, "image", Multimodal.pngBytes(99, 77))
    assert((real.format, real.width, real.height, real.n_frames) ==
      (("png", 99, 77, 1)))
    // fallback must be EXACTLY the stub (oracle reproducibility)
    val junk = "not an image at all".getBytes("UTF-8")
    assert(Multimodal.decodeMeta(7L, "image", junk) ==
      Multimodal.decodeStub(7L, "image", junk))
    val truncated = Multimodal.pngBytes(99, 77).take(12)
    assert(Multimodal.decodeMeta(7L, "image", truncated) ==
      Multimodal.decodeStub(7L, "image", truncated))
    // planted end-to-end through the partition-wise decode
    val docs = Seq((0L, "px"), (1L, "jy"), (2L, "tz"), (3L, "tw"))
      .toDF("doc_id", "text")
    val got = Multimodal.decode(Multimodal.plantedMedia(spark, docs)).toDF()
      .select("media_id", "format", "width", "height")
      .as[(Long, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(got(0L) == ((0L, "png", 16, 16)))       // id 0: w=16+0, h=16+0
    assert(got(1L) == ((1L, "jpeg", 19, 21)))      // id 1: w=16+3, h=16+5
    assert(Seq("jpeg", "png", "webp").contains(got(2L)._2)) // stub fallback
  }

  test("decodePixels: full deflate round-trip recovers every pixel " +
      "through all five scanline filters; junk degrades to None") {
    // 16 rows: filter cycle None,Sub,Up,Average,Paeth runs 4 times
    val w = 11; val h = 16 // non-multiple-of-anything width
    def rule(x: Int, y: Int): (Int, Int, Int) =
      ((x * 31 + y * 7) % 256, (x * 13 + y * 101) % 256, (x + y * 3) % 256)
    val png = Multimodal.pngPixelBytes(w, h, rule)
    val Some((dw, dh, channels, px)) = Multimodal.decodePixels(png)
    assert((dw, dh, channels) == ((w, h, 3)))
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = rule(x, y)
      assert((px((y * w + x) * 3) & 0xff) == r, s"r at ($x,$y) filter ${
        if (y == 0) 0 else 1 + ((y - 1) % 4)}")
      assert((px((y * w + x) * 3 + 1) & 0xff) == g)
      assert((px((y * w + x) * 3 + 2) & 0xff) == b)
    }
    // the header probe agrees with the pixel decode
    assert(Multimodal.probeImage(png).contains(("png", w, h)))
    // rejects: header-only PNG (no IDAT), truncated IDAT, text, empty
    assert(Multimodal.decodePixels(Multimodal.pngBytes(8, 8)).isEmpty)
    assert(Multimodal.decodePixels(png.dropRight(30)).isEmpty)
    assert(Multimodal.decodePixels("plain text".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodePixels(Array.empty[Byte]).isEmpty)
  }

  test("decodePixels: Adam7 interlaced PNGs de-interlace to the exact " +
      "pixel grid across image shapes; truncated interlaced data rejects") {
    def rule(x: Int, y: Int): (Int, Int, Int) =
      ((x * 31 + y * 7) % 256, (x * 13 + y * 101) % 256, (x + y * 3) % 256)
    // shapes chosen so passes go empty (1x1: only pass 1; 5x3: passes 2
    // and 4 empty in x or populated partially) and so every pass has
    // multi-row sub-images (16x16, 11x16)
    for ((w, h) <- Seq((1, 1), (2, 2), (5, 3), (8, 8), (11, 16),
        (16, 16), (9, 10))) {
      val inter = Multimodal.pngPixelBytes(w, h, rule, interlaced = true)
      val plain = Multimodal.pngPixelBytes(w, h, rule)
      assert(!java.util.Arrays.equals(inter, plain),
        s"interlaced encoding must be byte-distinct at ${w}x$h")
      val Some((dw, dh, ch, px)) = Multimodal.decodePixels(inter)
      assert((dw, dh, ch) == ((w, h, 3)), s"dims at ${w}x$h")
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = rule(x, y)
        assert((px((y * w + x) * 3) & 0xff) == r, s"r at ($x,$y) ${w}x$h")
        assert((px((y * w + x) * 3 + 1) & 0xff) == g)
        assert((px((y * w + x) * 3 + 2) & 0xff) == b)
      }
    }
    val big = Multimodal.pngPixelBytes(16, 16, rule, interlaced = true)
    assert(Multimodal.decodePixels(big.dropRight(40)).isEmpty)
    // interlace byte > 1 is not a legal layout
    val bad = big.clone()
    // IHDR interlace flag lives at fixed offset 8(sig)+8(len+type)+12
    bad(8 + 8 + 12) = 2
    assert(Multimodal.decodePixels(bad).isEmpty)
  }

  test("decodePixels: indexed-palette PNGs expand through PLTE to RGB; " +
      "out-of-range indices are rejected") {
    // 4-color palette, 6x5 image, index = (x + y) % 4
    val palette = Array[Byte](
      10, 20, 30,   40, 50, 60,   70, 80, 90,   100, 110, 120)
    val png = Multimodal.pngPaletteBytes(6, 5, palette,
      (x, y) => (x + y) % 4)
    val Some((w, h, ch, px)) = Multimodal.decodePixels(png)
    assert((w, h, ch) == ((6, 5, 3)))
    for (y <- 0 until 5; x <- 0 until 6) {
      val c = (x + y) % 4
      assert(px((y * 6 + x) * 3) == palette(c * 3))
      assert(px((y * 6 + x) * 3 + 1) == palette(c * 3 + 1))
      assert(px((y * 6 + x) * 3 + 2) == palette(c * 3 + 2))
    }
    // pixelStats consumes the expanded RGB like any truecolor image
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(1L, "image", png)).toDS()
    val s = Multimodal.pixelStats(media).collect().head
    assert((s.width, s.height) == ((6, 5)))
    // a file whose indices exceed its palette is corrupt → None, and
    // decodeMeta still resolves the header (probe) rather than failing
    val bad = Multimodal.pngPaletteBytes(4, 4, palette.take(6), // 2 colors
      (x, y) => (x + y) % 4)                                    // idx up to 3
    assert(Multimodal.decodePixels(bad).isEmpty)
    assert(Multimodal.probeImage(bad).contains(("png", 4, 4)))
  }

  test("pixelStats + content-based feature: decoded stats match the " +
      "planted closed form; undecodable payloads keep the md5 feature") {
    val docs = Seq((5L, "a"), (12L, "b"), (193L, "c"))
      .toDF("doc_id", "text")
    val stats = Multimodal
      .pixelStats(Multimodal.plantedPixelMedia(spark, docs))
      .collect().map(s => s.media_id -> s).toMap
    assert(stats.size == 3)
    for (id <- Seq(5L, 12L, 193L)) {
      val s = stats(id)
      assert((s.width, s.height) == ((8, 8)))
      assert(s.mean_r == (id % 97) + 10.5)
      assert(s.mean_g == ((3 * id) % 89) + 10.5)
      assert(s.mean_b == ((7 * id) % 83) + 10.5)
      assert(s.min_r == (id % 97).toInt)
      assert(s.max_r == (id % 97).toInt + 21)
    }
    // content-based feature: flat mid-gray image → means ≈ 0 after the
    // /128-1 normalization, stds 0, bright fraction 0 (lum == 384 is not
    // > 384)
    val flat = Multimodal.pngPixelBytes(4, 4, (_, _) => (128, 128, 128))
    val f = Multimodal.extractStub(1L, "image", flat).feature
    assert(f.take(3).forall(_ == 0.0) && f.slice(3, 6).forall(_ == 0.0))
    assert(f(6) == 0.0 && f(7) == 0.0)
    // undecodable payload → exactly the md5 stub feature (oracle
    // reproducibility for q41's text payloads is unchanged)
    val junk = "not an image".getBytes("UTF-8")
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(junk).map("%02x".format(_)).mkString
    val expected = Array.tabulate(8) { d =>
      java.lang.Long.parseLong(hex.substring(4 * d, 4 * d + 4), 16)
        .toDouble / 65536.0 * 2.0 - 1.0
    }
    assert(Multimodal.extractStub(2L, "image", junk).feature
      .sameElements(expected))
  }

  test("decodeWav: RIFF round-trip recovers samples (mono + stereo, " +
      "negative amplitudes, odd-size pad chunks); junk degrades to None") {
    val mono = Array.tabulate(340)(i => ((i % 17) - 8).toShort)
    val wav = Multimodal.wavBytes(8000, 1, mono)
    val Some((rate, ch, got)) = Multimodal.decodeWav(wav)
    assert((rate, ch) == ((8000, 1)))
    assert(got.sameElements(mono))
    // stereo, interleaved
    val stereo = Array.tabulate(64)(i =>
      (if (i % 2 == 0) 1000 + i else -1000 - i).toShort)
    val Some((_, ch2, got2)) = Multimodal.decodeWav(
      Multimodal.wavBytes(44100, 2, stereo))
    assert(ch2 == 2 && got2.sameElements(stereo))
    // an unknown odd-sized chunk before data must be skipped with its pad
    // byte (RIFF word alignment)
    val base = Multimodal.wavBytes(8000, 1, mono)
    val extra = java.nio.ByteBuffer
      .allocate(base.length + 10).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    extra.put(base, 0, 36)                    // RIFF..fmt chunk
    extra.put("LIST".getBytes("US-ASCII")).putInt(1).put(7.toByte)
      .put(0.toByte)                          // odd chunk + pad
    extra.put(base, 36, base.length - 36)     // data chunk
    // fix the RIFF size field for the inserted 10 bytes
    extra.putInt(4, base.length - 8 + 10)
    val Some((_, _, got3)) = Multimodal.decodeWav(extra.array())
    assert(got3.sameElements(mono))
    // rejects: text, truncated data, float WAV (format code 3), empty
    assert(Multimodal.decodeWav(
      "RIFF is a container format from 1991".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeWav(wav.dropRight(10)).isEmpty)
    val floatWav = Multimodal.wavBytes(8000, 1, mono)
    floatWav(20) = 3 // audioFormat = IEEE float
    assert(Multimodal.decodeWav(floatWav).isEmpty)
    assert(Multimodal.decodeWav(Array.empty[Byte]).isEmpty)
  }

  test("resizeBox + thumbnailStats: exact box means, uneven boxes tile, " +
      "downsample-only guard") {
    // 8x8 gradient v = x + 2y → 4x4 thumb value = 2i + 4j + 1.5 exactly
    val png = Multimodal.pngPixelBytes(8, 8,
      (x, y) => (x + 2 * y, x + 2 * y, x + 2 * y))
    val Some((w, h, ch, px)) = Multimodal.decodePixels(png)
    val t = Multimodal.resizeBox(w, h, ch, px, 4, 4)
    for (j <- 0 until 4; i <- 0 until 4)
      assert(t((j * 4 + i) * 3) == 2 * i + 4 * j + 1.5)
    // uneven ratio (8 → 3): boxes 0..2,2..5,5..8 tile the input exactly
    val t3 = Multimodal.resizeBox(w, h, ch, px, 3, 1)
    assert(t3.length == 9)
    assert(t3(0) == (for (y <- 0 until 8; x <- 0 until 2)
      yield x + 2 * y).sum / 16.0)
    // guard: upsampling is not this operator
    intercept[IllegalArgumentException] {
      Multimodal.resizeBox(w, h, ch, px, 16, 16)
    }
    // dataset path matches the q81 closed form
    import spark.implicits._
    val docs = Seq((7L, "a"), (42L, "b")).toDF("doc_id", "text")
    val stats = Multimodal.thumbnailStats(
      Multimodal.plantedPixelMedia(spark, docs), 4, 4)
      .collect().map(s => s.media_id -> s).toMap
    for (id <- Seq(7L, 42L)) {
      val s = stats(id)
      val b = (id % 97).toInt
      assert(s.mean_r == b + 10.5)
      assert(s.min_r == b + 1.5 && s.max_r == b + 19.5)
    }
  }

  test("probeAvi: real header parses through LIST hdrl to avih; " +
      "structural junk and text degrade to the stub in decodeMeta") {
    assert(Multimodal.probeAvi(Multimodal.aviBytes(640, 480, 2997))
      .contains((640, 480, 2997)))
    // decodeMeta routes an AVI payload to the real probe
    val meta = Multimodal.decodeMeta(4L, "video",
      Multimodal.aviBytes(1280, 720, 120))
    assert((meta.format, meta.width, meta.height, meta.n_frames) ==
      (("avi", 1280, 720, 120)))
    // a WAV is RIFF but not an AVI form — rejected here, decoded there
    val wav = Multimodal.wavBytes(8000, 1, Array.tabulate(17)(_.toShort))
    assert(Multimodal.probeAvi(wav).isEmpty)
    // text mentioning RIFF, truncated header, zero-dim video → stub
    val riffText = "RIFF AVI files were common in the 1990s".getBytes("UTF-8")
    assert(Multimodal.probeAvi(riffText).isEmpty)
    assert(Multimodal.decodeMeta(5L, "video", riffText) ==
      Multimodal.decodeStub(5L, "video", riffText))
    assert(Multimodal.probeAvi(
      Multimodal.aviBytes(640, 480, 2997).dropRight(20)).isEmpty)
    assert(Multimodal.probeAvi(Multimodal.aviBytes(0, 480, 10)).isEmpty)
  }

  test("aviJpegFrames/videoFeature: MJPEG movi frames decode through " +
      "Jpeg.decode; truncation and garbage frames degrade, never throw") {
    import graft.multimodal.Jpeg
    def flatFrame(v: Int) = Jpeg.encodeGray(8, 8, quant = 8, (_, _) => {
      val c = new Array[Int](64)
      c(0) = 8 * (v - 128)
      c
    })
    val frames = Seq(60, 70, 80).map(flatFrame)
    val avi = Multimodal.mjpegAviBytes(8, 8, frames)
    // container round-trip: probe reads the header, the walk finds all 3
    assert(Multimodal.probeAvi(avi).contains((8, 8, 3)))
    val Some(got) = Multimodal.aviJpegFrames(avi)
    assert(got.length == 3)
    assert(got.zip(frames).forall { case (a, b) => a.sameElements(b) })
    // sampled frames: n=3 → distinct((j*3)/4) = 0,1,2 → all three;
    // average of flat lumas 60,70,80 → mean 70, std 0, bright 0
    val feat = Multimodal.extractStub(1L, "video", avi).feature
    assert(math.abs(feat(0) - (70.0 / 128.0 - 1.0)) < 1e-12)
    assert(feat(3) == 0.0 && feat(6) == 0.0 && feat(7) == 0.0)
    // a bright frame (v=200 > 128) raises the bright fraction to 1/3
    val bright = Multimodal.mjpegAviBytes(8, 8,
      Seq(flatFrame(60), flatFrame(70), flatFrame(200)))
    assert(math.abs(Multimodal.extractStub(2L, "video", bright)
      .feature(7) - 1.0 / 3.0) < 1e-12)
    // truncated container: structural validation rejects the whole clip
    // and the feature falls all the way through to the exact md5 stub
    assert(Multimodal.aviJpegFrames(avi.dropRight(10)).isEmpty)
    val truncBytes = avi.dropRight(10)
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(truncBytes).map("%02x".format(_)).mkString
    val stubFeat = Array.tabulate(8)(d =>
      java.lang.Long.parseLong(hex.substring(4 * d, 4 * d + 4), 16)
        .toDouble / 65536.0 * 2.0 - 1.0)
    assert(Multimodal.extractStub(3L, "video", truncBytes)
      .feature.sameElements(stubFeat))
    // garbage frame among decodable ones is skipped, not fatal
    val mixed = Multimodal.mjpegAviBytes(8, 8,
      Seq(flatFrame(60), "not a jpeg at all".getBytes("UTF-8")))
    val mixedFeat = Multimodal.extractStub(4L, "video", mixed).feature
    assert(math.abs(mixedFeat(0) - (60.0 / 128.0 - 1.0)) < 1e-12)
    // movi with ONLY garbage frames → md5 stub fallback, no throw
    val junk = Multimodal.mjpegAviBytes(8, 8,
      Seq("junk".getBytes("UTF-8")))
    assert(Multimodal.extractStub(5L, "video", junk).feature.length == 8)
    // interleaved 01wb audio chunks (the real camera mux order) are
    // skipped by chunk id — same frames, same feature, odd-length audio
    // exercises the RIFF pad-byte walk
    val muxed = Multimodal.mjpegAviBytes(8, 8, frames,
      audio = Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5), Array[Byte](6)))
    val Some(gotMux) = Multimodal.aviJpegFrames(muxed)
    assert(gotMux.length == 3)
    assert(gotMux.zip(frames).forall { case (a, b) => a.sameElements(b) })
    assert(Multimodal.extractStub(6L, "video", muxed).feature
      .sameElements(feat))
  }

  test("dhash64 on video: first-frame perceptual identity — re-encoded " +
      "quant/byte-distinct MJPEG copies collide, distinct content doesn't") {
    import graft.multimodal.Jpeg
    // gradient content (left-to-right ramp per 8x8 block column) as a
    // 72x64 MJPEG frame: block (bx, by) flat at 100 + 8*bx
    def clip(quant: Int, shift: Int) = Multimodal.mjpegAviBytes(72, 64,
      Seq(Jpeg.encodeGray(72, 64, quant, (bx, _) => {
        val c = new Array[Int](64)
        c(0) = 8 * (100 + 8 * bx + shift - 128) // multiple of both quants
        c
      })))
    val a = clip(8, 0)
    val b = clip(4, 0)  // same content, different quant -> different bytes
    assert(!a.sameElements(b) && a.length != b.length)
    val (ha, hb) = (Multimodal.dhash64(a), Multimodal.dhash64(b))
    assert(ha.nonEmpty && ha == hb, "re-encoded copy must collide")
    // same-structure still PNG hashes identically: one perceptual space
    // across modalities (block grid = box grid, flat values match)
    val png = Multimodal.pngPixelBytes(72, 64, (x, _) => {
      val v = 100 + 8 * (x / 8); (v, v, v)
    })
    assert(Multimodal.dhash64(png) == ha)
    // reversed gradient = different content -> different hash
    val rev = Multimodal.mjpegAviBytes(72, 64,
      Seq(Jpeg.encodeGray(72, 64, 8, (bx, _) => {
        val c = new Array[Int](64)
        c(0) = 8 * (100 + 8 * (8 - bx) - 128)
        c
      })))
    assert(Multimodal.dhash64(rev) != ha)
    // truncated container hashes null (curation lets it survive)
    assert(Multimodal.dhash64(a.dropRight(10)).isEmpty)
  }

  test("decodeGif: LZW round-trip (dictionary strings, KwKwK, clears), " +
      "hand-packed width-growth stream, frame counting, junk rejection") {
    // round-trip through the real encoder: varied pattern forces clears
    val pal = Array.tabulate(12)(i => (10 * (i / 3) + i % 3 + 1).toByte)
    val gif = Multimodal.gifBytes(8, 8, pal, (x, y) => (x + y) % 4)
    val Some((w, h, frames, px)) = Multimodal.decodeGif(gif)
    assert((w, h, frames) == ((8, 8, 1)))
    for (y <- 0 until 8; x <- 0 until 8; c <- 0 until 3)
      assert(px((y * 8 + x) * 3 + c) == pal(((x + y) % 4) * 3 + c))
    // uniform image: encoder emits just-created codes → decoder KwKwK
    val uni = Multimodal.gifBytes(8, 8, pal, (_, _) => 2)
    val Some((_, _, _, upx)) = Multimodal.decodeGif(uni)
    assert(upx.grouped(3).forall(p =>
      p(0) == pal(6) && p(1) == pal(7) && p(2) == pal(8)))
    // multi-frame: descriptors counted, first frame decoded
    val anim = Multimodal.gifBytes(8, 8, pal, (x, y) => (x + y) % 4,
      nFrames = 3)
    assert(Multimodal.decodeGif(anim).map(_._3).contains(3))
    // HAND-PACKED stream exercising the width transition the encoder
    // avoids: codes (0,1,2,3,0 | EOI) with minCode=2 — after reading
    // code 3 the dict holds 8 entries == 1<<3, so codes 4 and 5 read at
    // width 4 (spec convention). LSB-first packing of
    // (0,3b)(1,3b)(2,3b)(3,4b)(0,4b)(EOI=5,4b) = 0x88 0x06 0x0A.
    val g = new java.io.ByteArrayOutputStream()
    g.write("GIF89a".getBytes("US-ASCII"))
    g.write(Array[Byte](5, 0, 1, 0))          // 5x1 screen
    g.write(0x91); g.write(0); g.write(0)     // GCT, 4 entries
    g.write(Array.tabulate(12)(i => (10 * (i / 3) + i % 3).toByte))
    g.write(0x2c)
    g.write(Array[Byte](0, 0, 0, 0, 5, 0, 1, 0, 0)) // descriptor
    g.write(2)                                 // min LZW code size
    g.write(3); g.write(Array[Byte](0x88.toByte, 0x06, 0x0a))
    g.write(0); g.write(0x3b)
    val Some((hw, hh, hf, hpx)) = Multimodal.decodeGif(g.toByteArray)
    assert((hw, hh, hf) == ((5, 1, 1)))
    val wantIdx = Seq(0, 1, 2, 3, 0)
    for (k <- 0 until 5; c <- 0 until 3)
      assert(hpx(k * 3 + c) == (10 * wantIdx(k) + c).toByte)
    // INTERLACED frame: rows stored in the four GIF passes come back in
    // display order through the de-interlace map (h=10 exercises all
    // four pass strides with a non-multiple height)
    val il = Multimodal.gifBytes(7, 10, pal, (x, y) => (x * 3 + y) % 4,
      interlaced = true)
    val Some((iw, ih, _, ipx)) = Multimodal.decodeGif(il)
    assert((iw, ih) == ((7, 10)))
    for (y <- 0 until 10; x <- 0 until 7; c <- 0 until 3)
      assert(ipx((y * 7 + x) * 3 + c) == pal(((x * 3 + y) % 4) * 3 + c),
        s"deinterlaced pixel ($x,$y)")
    // decodeMeta: a real GIF resolves with its true frame count; TEXT
    // starting with the GIF magic structurally fails the LZW decode and
    // falls back to the stub — the false-positive class is closed by the
    // full decode, not by excluding the format
    val meta = Multimodal.decodeMeta(9L, "image", anim)
    assert((meta.format, meta.width, meta.n_frames) == (("gif", 8, 3)))
    val gifText = "GIF89a is an image format from 1989".getBytes("UTF-8")
    assert(Multimodal.decodeMeta(9L, "image", gifText) ==
      Multimodal.decodeStub(9L, "image", gifText))
    // rejects: truncated stream, missing trailer, empty
    assert(Multimodal.decodeGif(gif.dropRight(4)).isEmpty)
    assert(Multimodal.decodeGif(Array.empty[Byte]).isEmpty)
  }

  test("Jpeg.decodeGray: DC prediction across MCUs is exact, an AC " +
      "coefficient IDCTs correctly, unsupported/broken files reject") {
    import graft.multimodal.Jpeg
    // 32x8, 4 flat blocks at 40,50,60,70 via the DC chain
    val jpg = Jpeg.encodeGray(32, 8, quant = 8, (bx, _) => {
      val c = new Array[Int](64); c(0) = 8 * (10 * bx - 88); c
    })
    val Some((w, h, px)) = Jpeg.decodeGray(jpg)
    assert((w, h) == ((32, 8)))
    for (y <- 0 until 8; x <- 0 until 32)
      assert((px(y * 32 + x) & 0xff) == 40 + 10 * (x / 8),
        s"block pixel at ($x,$y)")
    // one AC coefficient (natural position 1 = F(v=0,u=1), value 8):
    // f(x,y) = (1/4)·C(0)·C(1)·8·cos((2x+1)π/16) — assert against the
    // spec formula directly
    val acJpg = Jpeg.encodeGray(8, 8, quant = 8, (_, _) => {
      val c = new Array[Int](64); c(0) = 0; c(1) = 8; c
    })
    val Some((_, _, apx)) = Jpeg.decodeGray(acJpg)
    for (y <- 0 until 8; x <- 0 until 8) {
      val expect = math.round(
        0.7071067811865476 * 8 * math.cos((2 * x + 1) * math.Pi / 16) / 4
      ).toInt + 128
      assert((apx(y * 8 + x) & 0xff) == expect, s"AC pixel ($x,$y)")
    }
    // rejects: the 3-component header-probe fixture (color: out of the
    // grayscale decode scope — probeImage still reads its dims), text,
    // truncated scan, empty
    assert(Jpeg.decodeGray(Multimodal.jpegBytes(64, 32)).isEmpty)
    assert(Multimodal.probeImage(Multimodal.jpegBytes(64, 32))
      .contains(("jpeg", 64, 32)))
    assert(Jpeg.decodeGray("not a jpeg".getBytes("UTF-8")).isEmpty)
    assert(Jpeg.decodeGray(jpg.dropRight(6)).isEmpty)
    assert(Jpeg.decodeGray(Array.empty[Byte]).isEmpty)
    // HEADER truncation (not just scan-tail): a SOF0 whose declared
    // segment length leaves no room for the frame header must reject,
    // not throw — the poison-payload contract is None, never an
    // exception (the segment bytes after the length simply don't exist)
    assert(Jpeg.decode(Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xc0.toByte, 0x00, 0x02)).isEmpty)
    // SOF0 length covers the fixed header but not the per-component
    // bytes it declares
    assert(Jpeg.decode(Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xc0.toByte, 0x00, 0x08,
      8, 0, 8, 0, 8, 1)).isEmpty)
    // SOS whose declared length can't hold its component selectors +
    // spectral-selection bytes
    val sosTrunc = {
      // keep everything up to the SOS marker, then a length-3 SOS that
      // holds only the component count
      val at = jpg.sliding(2).indexWhere(p =>
        (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xda)
      assert(at > 0)
      jpg.take(at + 2) ++ Array[Byte](0x00, 0x03, 0x01)
    }
    assert(Jpeg.decode(sosTrunc).isEmpty)
    // table SELECTORS are 4-bit on the wire but the slot arrays hold 4
    // entries: a file claiming quant table 4 or DC/AC table 4 must
    // reject at parse, not AIOOBE at qt(compQ)/dcT(scanDc) lookup
    def marker(b: Array[Byte], m: Int): Int = {
      val at = b.sliding(2).indexWhere(p =>
        (p(0) & 0xff) == 0xff && (p(1) & 0xff) == m)
      assert(at > 0); at
    }
    def patched(b: Array[Byte], idx: Int, v: Int): Array[Byte] = {
      val c = b.clone(); c(idx) = v.toByte; c
    }
    // SOF0: FFC0 len(2) prec h(2) w(2) ncomp id HV Tq → Tq at sof+12
    assert(Jpeg.decode(patched(jpg, marker(jpg, 0xc0) + 12, 4)).isEmpty)
    // SOS: FFDA len(2) ns sel TdTa → TdTa at sos+6; 0x40 = DC table 4
    assert(Jpeg.decode(patched(jpg, marker(jpg, 0xda) + 6, 0x40)).isEmpty)
    val prog = Jpeg.encodeProgressive(8, 8, quant = 8, 1,
      (_, _, _) => { val c = new Array[Int](64); c(0) = 8; c })
    assert(Jpeg.decode(patched(prog, marker(prog, 0xc2) + 12, 4)).isEmpty)
    assert(Jpeg.decode(patched(prog, marker(prog, 0xda) + 6, 0x40)).isEmpty)
    // content-based feature path: a decodable JPEG no longer gets the
    // md5 stub feature (flat gray at 128-ish → near-zero mean dims)
    val flat = Jpeg.encodeGray(8, 8, quant = 8, (_, _) => new Array[Int](64))
    val f = Multimodal.extractStub(3L, "image", flat).feature
    assert(f.take(3).forall(_ == 0.0) && f.slice(3, 6).forall(_ == 0.0))
  }

  test("Jpeg.decode color: interleaved 4:4:4 MCUs, per-component DC " +
      "chains, JFIF conversion — neutral chroma gives R=G=B=Y exactly") {
    import graft.multimodal.Jpeg
    // neutral chroma: gray ladder survives the color matrix untouched
    val neutral = Jpeg.encodeBaseline(32, 8, quant = 8, 3,
      (comp, bx, _) => {
        val c = new Array[Int](64)
        if (comp == 0) c(0) = 8 * (10 * bx - 88) // Y = 40,50,60,70
        c
      })
    val Some((w, h, ch, px)) = Jpeg.decode(neutral)
    assert((w, h, ch) == ((32, 8, 3)))
    for (y <- 0 until 8; x <- 0 until 32; c <- 0 until 3)
      assert((px((y * 32 + x) * 3 + c) & 0xff) == 40 + 10 * (x / 8),
        s"channel $c at ($x,$y)")
    // non-neutral chroma: assert against the JFIF matrix directly
    // (flat Y=128, Cb=128+16, Cr=128-8 over one block)
    val tinted = Jpeg.encodeBaseline(8, 8, quant = 8, 3,
      (comp, _, _) => {
        val c = new Array[Int](64)
        c(0) = comp match { case 0 => 0; case 1 => 8 * 16; case 2 => -8 * 8 }
        c
      })
    val Some((_, _, _, tpx)) = Jpeg.decode(tinted)
    val er = math.round(128 + 1.402 * -8).toInt
    val eg = math.round(128 - 0.344136 * 16 - 0.714136 * -8).toInt
    val eb = math.round(128 + 1.772 * 16).toInt
    for (k <- 0 until 64) {
      assert((tpx(k * 3) & 0xff) == er)
      assert((tpx(k * 3 + 1) & 0xff) == eg)
      assert((tpx(k * 3 + 2) & 0xff) == eb)
    }
    // the gray path still routes through the same machinery
    assert(Jpeg.decode(Jpeg.encodeGray(8, 8, 8,
      (_, _) => new Array[Int](64))).exists(_._3 == 1))
  }

  test("Jpeg.decode 4:2:0: subsampled MCU geometry, chroma replication, " +
      "non-multiple-of-8 dims clip correctly") {
    import graft.multimodal.Jpeg
    // 32x16 = two 16x16 MCUs; luma ladder per block, neutral chroma
    val j420 = Jpeg.encodeBaseline(32, 16, quant = 8, 3,
      (comp, bx, by) => {
        val c = new Array[Int](64)
        if (comp == 0) c(0) = 8 * (40 + 4 * bx + 8 * by - 128)
        c
      }, subsample420 = true)
    val Some((w, h, ch, px)) = Jpeg.decode(j420)
    assert((w, h, ch) == ((32, 16, 3)))
    for (y <- 0 until 16; x <- 0 until 32; c <- 0 until 3)
      assert((px((y * 32 + x) * 3 + c) & 0xff) == 40 + 4 * (x / 8) + 8 * (y / 8),
        s"channel $c at ($x,$y)")
    // tinted flat subsampled chroma replicates through the upsample
    val tinted = Jpeg.encodeBaseline(16, 16, quant = 8, 3,
      (comp, _, _) => {
        val c = new Array[Int](64)
        c(0) = comp match { case 0 => 0; case 1 => 8 * 16; case 2 => -8 * 8 }
        c
      }, subsample420 = true)
    val Some((_, _, _, tpx)) = Jpeg.decode(tinted)
    val er = math.round(128 + 1.402 * -8).toInt
    val eb = math.round(128 + 1.772 * 16).toInt
    for (k <- 0 until 256) {
      assert((tpx(k * 3) & 0xff) == er)
      assert((tpx(k * 3 + 2) & 0xff) == eb)
    }
    // gray 12x10: 2x2 blocks, right/bottom blocks clipped to the image
    val clipped = Jpeg.encodeGray(12, 10, quant = 8, (bx, by) => {
      val c = new Array[Int](64)
      c(0) = 8 * (10 * (bx + 2 * by) - 60) // blocks at 68,78,88,98
      c
    })
    val Some((cw, chh, cpx)) = Jpeg.decodeGray(clipped)
    assert((cw, chh) == ((12, 10)))
    for (y <- 0 until 10; x <- 0 until 12)
      assert((cpx(y * 12 + x) & 0xff) == 68 + 10 * (x / 8 + 2 * (y / 8)))
  }

  test("Jpeg restart intervals: DRI + RSTn resets the DC chain per " +
      "interval, wrong marker sequence rejects") {
    import graft.multimodal.Jpeg
    // gray 32x8 = 4 MCUs, restart after every MCU: 3 RST markers, DC
    // predictor reset at each — values must still round-trip exactly
    val jpg = Jpeg.encodeBaseline(32, 8, quant = 8, 1,
      (_, bx, _) => {
        val c = new Array[Int](64); c(0) = 8 * (10 * bx - 88); c
      }, restartInterval = 1)
    assert(jpg.sliding(2).count(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) >= 0xd0 &&
        (p(1) & 0xff) <= 0xd7) == 3)
    val Some((w, h, px)) = Jpeg.decodeGray(jpg)
    assert((w, h) == ((32, 8)))
    for (y <- 0 until 8; x <- 0 until 32)
      assert((px(y * 32 + x) & 0xff) == 40 + 10 * (x / 8))
    // 4:2:0 color with restarts composes with the subsampled MCU loop
    val j420 = Jpeg.encodeBaseline(32, 16, quant = 8, 3,
      (comp, bx, by) => {
        val c = new Array[Int](64)
        if (comp == 0) c(0) = 8 * (40 + 4 * bx + 8 * by - 128)
        c
      }, subsample420 = true, restartInterval = 1)
    val Some((_, _, _, cpx)) = Jpeg.decode(j420)
    for (y <- 0 until 16; x <- 0 until 32)
      assert((cpx((y * 32 + x) * 3) & 0xff) == 40 + 4 * (x / 8) + 8 * (y / 8))
    // a restart marker out of sequence is structural corruption
    val broken = jpg.clone()
    val at = broken.sliding(2).indexWhere(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd0)
    assert(at > 0)
    broken(at + 1) = 0xd5.toByte
    assert(Jpeg.decodeGray(broken).isEmpty)
  }

  test("Jpeg progressive: multi-scan successive approximation recovers " +
      "exact pixels — odd DC values need the refinement bit, AC " +
      "coefficients arrive shifted + corrected, EOB runs span blocks") {
    import graft.multimodal.Jpeg
    // gray 32x8 with ODD quantized DC values (-87,-77,-67,-57): the
    // Al=1 first pass alone would be off by one — pixels are exact only
    // if the DC refinement scan lands
    val odd = Jpeg.encodeProgressive(32, 8, quant = 8, 1,
      (_, bx, _) => {
        val c = new Array[Int](64); c(0) = 8 * (10 * bx - 87); c
      })
    val Some((w, h, ch, px)) = Jpeg.decode(odd)
    assert((w, h, ch) == ((32, 8, 1)))
    for (y <- 0 until 8; x <- 0 until 32)
      assert((px(y * 32 + x) & 0xff) == 41 + 10 * (x / 8),
        s"progressive pixel ($x,$y)")
    // progressive == baseline on identical planted content (color)
    def blocks(comp: Int, bx: Int, by: Int): Array[Int] = {
      val c = new Array[Int](64)
      if (comp == 0) c(0) = 8 * (10 * bx - 88)
      if (comp == 2) c(0) = 8 * 16
      c
    }
    val prog = Jpeg.decode(Jpeg.encodeProgressive(32, 8, 8, 3, blocks))
    val base = Jpeg.decode(Jpeg.encodeBaseline(32, 8, 8, 3, blocks))
    assert(prog.isDefined && base.isDefined)
    assert(prog.get._4.sameElements(base.get._4))
    // a nonzero AC coefficient (±2·quant) travels through the Al=1
    // first scan + correction-bit refinement run; assert against the
    // IDCT formula directly (DC=0, AC at natural position 1 = 16)
    val acProg = Jpeg.encodeProgressive(8, 8, 8, 1,
      (_, _, _) => { val c = new Array[Int](64); c(1) = 16; c })
    val Some((_, _, _, apx)) = Jpeg.decode(acProg)
    for (y <- 0 until 8; x <- 0 until 8) {
      val expect = math.round(
        0.7071067811865476 * 16 * math.cos((2 * x + 1) * math.Pi / 16) / 4
      ).toInt + 128
      assert((apx(y * 8 + x) & 0xff) == expect, s"prog AC pixel ($x,$y)")
    }
    // mixed: AC only in block 2 of 4 — splits the EOB run on both sides
    val mixed = Jpeg.encodeProgressive(32, 8, 8, 1,
      (_, bx, _) => {
        val c = new Array[Int](64)
        c(0) = 8 * (10 * bx - 88)
        if (bx == 2) c(1) = -16
        c
      })
    val Some((_, _, _, mpx)) = Jpeg.decode(mixed)
    for (y <- 0 until 8; x <- 0 until 32) {
      val dc = 40 + 10 * (x / 8)
      val ac = if (x / 8 == 2)
        math.round(0.7071067811865476 * -16 *
          math.cos((2 * (x % 8) + 1) * math.Pi / 16) / 4).toInt
      else 0
      assert((mpx(y * 32 + x) & 0xff) == dc + ac, s"mixed pixel ($x,$y)")
    }
    // restart intervals inside progressive scans: markers cycle per
    // scan, DC predictors and EOB runs reset
    val rst = Jpeg.encodeProgressive(32, 8, 8, 1,
      (_, bx, _) => {
        val c = new Array[Int](64); c(0) = 8 * (10 * bx - 87); c
      }, restartInterval = 1)
    val Some((_, _, _, rpx)) = Jpeg.decode(rst)
    for (y <- 0 until 8; x <- 0 until 32)
      assert((rpx(y * 32 + x) & 0xff) == 41 + 10 * (x / 8))
    // rejects: truncated mid-scan, missing EOI, empty band edge cases
    assert(Jpeg.decode(odd.dropRight(6)).isEmpty)
    assert(Jpeg.decode(odd.dropRight(2)).isEmpty) // EOI cut off
    // the feature seam now derives content features from progressive
    // payloads too (flat mid-gray → zero mean/std dims)
    val flat = Jpeg.encodeProgressive(8, 8, 8, 1,
      (_, _, _) => new Array[Int](64))
    val f = Multimodal.extractStub(11L, "image", flat).feature
    assert(f.take(6).forall(_ == 0.0))
  }

  test("dhash64 + hammingDupPairs: box-exact difference hash, re-encoding " +
      "invariance, pigeonhole pairing at the planted distances") {
    import graft.multimodal.{Jpeg, Multimodal}
    import graft.operators.Dedup
    // hand-computable 9x8 fixture: 18x16 PNG, box (x,y) flat at
    // 100 + 10x for every row -> every left-to-right compare rises ->
    // all 64 bits set
    val rising = Multimodal.pngPixelBytes(18, 16,
      (x, _) => { val v = 100 + 10 * (x / 2); (v, v, v) })
    assert(Multimodal.dhash64(rising).contains(-1L))
    // falling boxes -> no bits
    val falling = Multimodal.pngPixelBytes(18, 16,
      (x, _) => { val v = 180 - 10 * (x / 2); (v, v, v) })
    assert(Multimodal.dhash64(falling).contains(0L))
    // RE-ENCODING INVARIANCE — the property a perceptual hash exists
    // for: the same box content as a byte-distinct baseline JPEG (36x8:
    // 4-px boxes spanning block boundaries, uneven right box) hashes
    // close to the PNG planting of identical pixels
    val jpgRising = Jpeg.encodeBaseline(40, 8, quant = 8, 1,
      (_, bx, _) => {
        val c = new Array[Int](64); c(0) = 8 * (100 + 20 * bx - 128); c
      })
    val pngSame = Multimodal.pngPixelBytes(40, 8,
      (x, _) => { val v = 100 + 20 * (x / 8); (v, v, v) })
    assert(Multimodal.dhash64(jpgRising) == Multimodal.dhash64(pngSame),
      "same pixels, different encodings, same dHash")
    // too small to downsample -> None; undecodable -> None
    assert(Multimodal.dhash64(
      Multimodal.pngPixelBytes(8, 8, (_, _) => (1, 1, 1))).isEmpty)
    assert(Multimodal.dhash64("not an image".getBytes("UTF-8")).isEmpty)
    // pairing: planted hashes at hamming 0 (dup), 2 (near-dup), and the
    // 7-bit-code floor (>= 9, never paired at maxHamming 4); a null hash
    // row (undecodable payload) must drop out silently
    import spark.implicits._
    val hashed = Seq(
      (1L, Some(0x0123456789abcdefL)),
      (2L, Some(0x0123456789abcdefL)), // hamming 0 vs 1
      (3L, Some(0x0123456789abcdefL ^ (1L << 63) ^ 1L)), // hamming 2,
      // incl. the sign bit: the bitwiseAND block mask must keep the
      // high block's key identical across the sign flip
      (4L, Some(0x76543210fedcba98L)), // far from everything
      (5L, None)
    ).toDF("media_id", "dhash")
    val pairs = Dedup.hammingDupPairs(hashed, maxHamming = 4,
      idCol = "media_id", hashCol = "dhash")
      .orderBy("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0), (1L, 3L, 2), (2L, 3L, 2)))
    // maxHamming 0 exercises the single-block fast path
    val exact = Dedup.hammingDupPairs(hashed, maxHamming = 0,
      idCol = "media_id", hashCol = "dhash").collect()
    assert(exact.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L)))
  }

  test("fuzz: corrupted media payloads never throw — every decoder " +
      "returns None or a decoded value under random mutation") {
    import graft.multimodal.{Jpeg, Multimodal}
    val rnd = new scala.util.Random(42)
    // seed payloads: one of each class the decoders accept
    val seeds: Seq[Array[Byte]] = Seq(
      Multimodal.pngPixelBytes(18, 16, (x, y) => (x * 7, y * 9, 128)),
      Jpeg.encodeBaseline(32, 8, quant = 8, 1, (_, bx, _) => {
        val c = new Array[Int](64); c(0) = 8 * (10 * bx - 88); c
      }),
      Jpeg.encodeBaseline(32, 16, quant = 8, 3, (comp, bx, by) => {
        val c = new Array[Int](64)
        if (comp == 0) c(0) = 8 * (4 * bx + 8 * by - 60); c
      }, subsample420 = true, restartInterval = 1),
      Jpeg.encodeProgressive(32, 8, quant = 8, 1, (_, bx, _) => {
        val c = new Array[Int](64); c(0) = 8 * (10 * bx - 87); c
      }),
      Multimodal.gifBytes(8, 8,
        Array.tabulate(12)(i => (i * 20).toByte), (x, y) => (x + y) % 4,
        nFrames = 2),
      Multimodal.wavBytes(8000, 1, Array.tabulate(100)(_.toShort)))
    def mutate(p: Array[Byte]): Array[Byte] = rnd.nextInt(4) match {
      case 0 => // flip 1-4 random bytes
        val c = p.clone()
        (0 until 1 + rnd.nextInt(4)).foreach { _ =>
          c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte
        }
        c
      case 1 => p.take(rnd.nextInt(p.length)) // truncate anywhere
      case 2 => // splice two payloads
        val o = seeds(rnd.nextInt(seeds.length))
        p.take(rnd.nextInt(p.length)) ++ o.drop(rnd.nextInt(o.length))
      case 3 => // random garbage with a real magic prefix
        p.take(rnd.nextInt(16)) ++
          Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte)
    }
    (0 until 500).foreach { i =>
      val m = mutate(seeds(i % seeds.length))
      // must not throw — None or a decoded value are both acceptable
      Multimodal.decodeAnyPixels(m)
      Multimodal.decodeWav(m)
      Multimodal.probeAvi(m)
      Multimodal.probeImage(m)
      Multimodal.dhash64(m)
      Multimodal.extractStub(i.toLong, "image", m)
    }
  }

  test("jpegStats: planted baseline JPEGs match the closed form") {
    import spark.implicits._
    val docs = Seq((4L, "a"), (55L, "b"), (199L, "c"))
      .toDF("doc_id", "text")
    val stats = Multimodal
      .jpegStats(Multimodal.plantedJpegMedia(spark, docs))
      .collect().map(s => s.media_id -> s).toMap
    for (id <- Seq(4L, 55L, 199L)) {
      val s = stats(id)
      val b = (id % 100).toInt
      assert((s.width, s.height) == ((32, 8)))
      assert(s.mean_g == b + 43.0)
      assert(s.min_g == b + 28 && s.max_g == b + 58)
    }
  }

  test("gifStats: planted LZW GIFs match the closed form incl. frames") {
    import spark.implicits._
    val docs = Seq((6L, "a"), (123L, "b"), (999L, "c"))
      .toDF("doc_id", "text")
    val stats = Multimodal
      .gifStats(Multimodal.plantedGifMedia(spark, docs))
      .collect().map(s => s.media_id -> s).toMap
    for (id <- Seq(6L, 123L, 999L)) {
      val s = stats(id)
      val b = (id % 200).toInt
      assert((s.width, s.height) == ((8, 8)))
      assert(s.n_frames == 1 + (id % 4).toInt)
      assert(s.mean_r == b + 7.5)
      assert(s.min_r == b && s.max_r == b + 15)
    }
  }

  test("extractStub feature seam: every decodable class gets a CONTENT-" +
      "derived embedding; the md5 stub survives only on undecodable bytes") {
    import graft.multimodal.Jpeg
    import spark.implicits._
    // end-to-end through the mixed planting: ids 8/5/6/7 hit the four
    // arms (jpeg/gif/wav/text)
    val docs = Seq((8L, "jpeg arm"), (5L, "gif arm"), (6L, "wav arm"),
      (7L, "text arm")).toDF("doc_id", "text")
    val feats = Multimodal.extract(Multimodal.plantedContentMedia(spark, docs))
      .collect().map(f => f.media_id -> f.feature).toMap
    // color JPEG (base 8): R=G=B in {36,46,56,66}, each 64 of 256 px
    val j = feats(8L)
    assert(j.take(3).forall(_ == (8 + 43.0) / 128.0 - 1.0))
    assert(j.slice(3, 6).forall(_ == math.sqrt(125.0) / 128.0))
    assert(j(6) == 2.0 * 32 / 40 - 1.0) // aspect dim (not exactly 0.6!)
    assert(j(7) == 0.0) // max pixel 66 <= 128: none bright
    // GIF (base 5): R=G=B in {5,10,15,20}, each 16 of 64 px
    val g = feats(5L)
    assert(g.take(3).forall(_ == (5 + 7.5) / 128.0 - 1.0))
    assert(g.slice(3, 6).forall(_ == math.sqrt(31.25) / 128.0))
    assert(g(6) == 0.0 && g(7) == 0.0)
    // WAV (base 6): samples 6..22, each value 10 of 170
    val a = feats(6L)
    assert(a(0) == 14.0 / 32768.0 && a(2) == 14.0 / 32768.0)
    assert(a(1) == math.sqrt(24.0) / 32768.0)
    assert(a(3) == 6.0 / 32768.0 && a(4) == 22.0 / 32768.0)
    assert(a(5) == 0.0) // all non-negative: no strict sign change
    assert(a(6) == 0.125 && a(7) == 170.0 / 8170.0)
    // text arm: exactly the md5 stub
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("text arm".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(feats(7L).sameElements(Array.tabulate(8) { d =>
      java.lang.Long.parseLong(hex.substring(4 * d, 4 * d + 4), 16)
        .toDouble / 65536.0 * 2.0 - 1.0
    }))
    // zero-crossing dim: an alternating-sign stereo clip crosses at
    // every step → f5 = 1.0, mean 0 within rounding of the pair sums
    val alt = Array.tabulate(64)(i =>
      (if (i % 2 == 0) 500 else -500).toShort)
    val f = Multimodal.extractStub(9L, "audio",
      Multimodal.wavBytes(44100, 2, alt)).feature
    assert(f(0) == 0.0 && f(5) == 1.0)
    assert(f(3) == -500.0 / 32768.0 && f(4) == 500.0 / 32768.0)
    assert(f(6) == 0.25 && f(7) == 64.0 / (64 + 44100))
    // a gray JPEG still routes through the (now unified) Jpeg.decode arm
    val flat = Jpeg.encodeGray(8, 8, 8, (_, _) => new Array[Int](64))
    val gray = Multimodal.extractStub(10L, "image", flat).feature
    assert(gray.take(6).forall(_ == 0.0))
  }

  test("audioStats: decoded PCM stats match the planted closed form") {
    import spark.implicits._
    val docs = Seq((3L, "a"), (999L, "b"), (1001L, "c"))
      .toDF("doc_id", "text")
    val stats = Multimodal
      .audioStats(Multimodal.plantedAudioMedia(spark, docs))
      .collect().map(s => s.media_id -> s).toMap
    assert(stats.size == 3)
    for (id <- Seq(3L, 999L, 1001L)) {
      val s = stats(id)
      val b = (id % 1000).toInt
      assert((s.sample_rate, s.n_channels, s.n_samples) == ((8000, 1, 170L)))
      assert(s.mean_amp == b + 8.0)
      assert(s.min_amp == b && s.max_amp == b + 16)
      assert(s.sum_sq == 170L * b * b + 2720L * b + 14960L)
    }
  }

  test("dhash64 cross-encoding parity sweep: the SAME pixels hash " +
      "identically through every encoding the routing table claims — " +
      "PNG plain/interlaced, JPEG baseline gray/progressive/4:2:0 " +
      "color, GIF plain/interlaced, MJPEG first frame") {
    import graft.multimodal.Jpeg
    // the shared planting: 72x64, flat 8x8 boxes on the dHash 9x8 grid,
    // walked left-to-right per row as m(0)=128, m(x+1)=m(x)+-6 by bit
    // y*8+x = id's bit (k mod 7) for k<63, 0 at 63 — so the expected
    // hash is derivable from the id alone and every encoding must agree
    def grid(id: Long): Array[Array[Int]] = {
      def bit(k: Int): Boolean = k < 63 && ((id >> (k % 7)) & 1) == 1
      val m = Array.ofDim[Int](8, 9)
      for (y <- 0 until 8) {
        m(y)(0) = 128
        for (x <- 0 until 8)
          m(y)(x + 1) = m(y)(x) + (if (bit(y * 8 + x)) 6 else -6)
      }
      m
    }
    def expected(id: Long): Long = {
      var h = 0L
      for (k <- 0 until 63 if ((id >> (k % 7)) & 1) == 1) h |= 1L << k
      h
    }
    // grayscale values the walk can reach: 128 +- 6t, t in [-8, 8] —
    // 17 values, padded to a 32-entry GIF palette
    val vals = (-8 to 8).map(t => 128 + 6 * t)
    val palette = (vals.map { v =>
      Array(v.toByte, v.toByte, v.toByte)
    } ++ Seq.fill(32 - vals.length)(Array[Byte](0, 0, 0)))
      .flatten.toArray
    (0L until 128L).foreach { id =>
      val m = grid(id)
      def gray(x: Int, y: Int): Int = m(y / 8)(x / 8)
      def jblocks(comp: Int, bx: Int, by: Int): Array[Int] = {
        val c = new Array[Int](64)
        // 4:2:0 pads the luma grid to 16x16 MCUs — padding blocks past
        // the 9x8 image grid stay flat 128 (invisible, cropped on decode)
        if (comp == 0 && bx < 9 && by < 8)
          c(0) = 8 * (m(by)(bx) - 128) // multiple of quant
        c
      }
      val jpegGray = Jpeg.encodeGray(72, 64, quant = 8,
        (bx, by) => jblocks(0, bx, by))
      val encodings: Seq[(String, Array[Byte])] = Seq(
        "png" -> Multimodal.pngPixelBytes(72, 64,
          (x, y) => { val v = gray(x, y); (v, v, v) }),
        "png_interlaced" -> Multimodal.pngPixelBytes(72, 64,
          (x, y) => { val v = gray(x, y); (v, v, v) },
          interlaced = true),
        "jpeg_gray" -> jpegGray,
        "jpeg_progressive" -> Jpeg.encodeProgressive(72, 64, quant = 8,
          ncomp = 1, jblocks),
        "jpeg_420_color" -> Jpeg.encodeBaseline(72, 64, quant = 8,
          ncomp = 3, jblocks, subsample420 = true),
        "gif" -> Multimodal.gifBytes(72, 64, palette,
          (x, y) => vals.indexOf(gray(x, y))),
        "gif_interlaced" -> Multimodal.gifBytes(72, 64, palette,
          (x, y) => vals.indexOf(gray(x, y)), interlaced = true),
        "mjpeg_first_frame" -> Multimodal.mjpegAviBytes(72, 64,
          Seq(jpegGray, jpegGray)))
      val want = expected(id)
      encodings.foreach { case (name, payload) =>
        val got = Multimodal.dhash64(payload)
        assert(got.contains(want),
          s"id=$id $name: got $got, want Some($want)")
      }
    }
  }

  /** Bytes the current thread allocated while `f` ran. */
  private def allocatedBy[A](f: => A): (A, Long) = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val before = mx.getCurrentThreadAllocatedBytes
    val out = f
    (out, mx.getCurrentThreadAllocatedBytes - before)
  }

  private def markerAt(b: Array[Byte], m: Int): Int = {
    val at = b.sliding(2).indexWhere(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) == m)
    assert(at > 0); at
  }

  test("decode bound: a header declaring more than 2^24 pixels returns " +
      "None before any pixel buffer is allocated — PNG IHDR, baseline " +
      "and progressive JPEG SOF, GIF screen + image descriptor") {
    import graft.multimodal.Jpeg
    def be16(b: Array[Byte], i: Int, v: Int): Unit = {
      b(i) = (v >> 8).toByte; b(i + 1) = v.toByte
    }
    def le16(b: Array[Byte], i: Int, v: Int): Unit = {
      b(i) = v.toByte; b(i + 1) = (v >> 8).toByte
    }
    def block(dc: Int) = (_: Int, _: Int, _: Int) => {
      val c = new Array[Int](64); c(0) = dc; c
    }
    // tiny bodies: each is a real 8x8 file whose header is patched
    def oversized(dim: Int): Seq[(String, Array[Byte])] = {
      val png = Multimodal.pngPixelBytes(8, 8, (x, y) => (x, y, 0))
      java.nio.ByteBuffer.wrap(png).putInt(16, dim).putInt(20, dim)
      val jpg = Jpeg.encodeBaseline(8, 8, 8, 1, block(8))
      val sof = markerAt(jpg, 0xc0)
      be16(jpg, sof + 5, dim); be16(jpg, sof + 7, dim)
      val prog = Jpeg.encodeProgressive(8, 8, 8, 3, block(16))
      val sof2 = markerAt(prog, 0xc2)
      be16(prog, sof2 + 5, dim); be16(prog, sof2 + 7, dim)
      val gif = Multimodal.gifBytes(8, 8,
        Array.tabulate(12)(i => (i * 20).toByte), (x, y) => (x + y) % 4)
      le16(gif, 6, dim); le16(gif, 8, dim)        // logical screen
      le16(gif, 13 + 12 + 5, dim); le16(gif, 13 + 12 + 7, dim) // frame
      Seq("png" -> png, "jpeg" -> jpg, "progressive" -> prog, "gif" -> gif)
    }
    // warm the readers so class initialization is not measured
    assert(Multimodal.decodeAnyPixels(
      Multimodal.pngPixelBytes(2, 2, (_, _) => (1, 2, 3))).isDefined)
    // 4097² is the first square past 2^24: without the bound the
    // readers allocate 17–72 MB here before the tiny body runs out
    for (dim <- Seq(4097, 65535); (name, p) <- oversized(dim)) {
      val (got, bytes) = allocatedBy(Multimodal.decodeAnyPixels(p))
      assert(got.isEmpty, s"$name ${dim}x$dim")
      assert(bytes < (4L << 20), s"$name ${dim}x$dim allocated $bytes B")
      assert(Multimodal.dhash64(p).isEmpty)
    }
  }

  test("decode rejects what the platform readers forgive: any reader " +
      "warning (a baseline JPEG without EOI, like progressive), a " +
      "palette index past the PLTE entry count, a GIF without its " +
      "trailer or whose frame does not cover the screen") {
    import graft.multimodal.Jpeg
    // JPEG: one rule for both modes — the cut file raises a reader
    // warning ("missing EOI"), which rejects even though every scan is
    // present
    val blocks = (_: Int, bx: Int, _: Int) => {
      val c = new Array[Int](64); c(0) = 8 * (10 * bx - 87); c
    }
    for (jpg <- Seq(Jpeg.encodeBaseline(32, 8, 8, 1, blocks),
        Jpeg.encodeProgressive(32, 8, 8, 1, blocks))) {
      assert(Jpeg.decode(jpg).isDefined)
      assert(Jpeg.decode(jpg.dropRight(2)).isEmpty)
      assert(Multimodal.decodeAnyPixels(jpg.dropRight(2)).isEmpty)
    }
    // PNG palettes: ImageIO pads a short PLTE to 2^depth entries, so the
    // entry count comes from the file — 3 colours, indices 0..2 decode,
    // an index of 3 rejects
    val pal3 = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90)
    val ok = Multimodal.pngPaletteBytes(3, 3, pal3, (x, _) => x)
    val Some((_, _, 3, px)) = Multimodal.decodePixels(ok)
    assert(px.take(9).toSeq == pal3.toSeq)
    assert(Multimodal.decodePixels(
      Multimodal.pngPaletteBytes(4, 4, pal3, (x, _) => x)).isEmpty)
    // GIF: the frame count is the file's, every frame walked
    val pal = Array.tabulate(12)(i => (i * 20).toByte)
    def gif(n: Int) = Multimodal.gifBytes(8, 8, pal, (x, y) => (x + y) % 4,
      nFrames = n)
    for (n <- 1 to 4)
      assert(Multimodal.decodeGif(gif(n)).map(_._3).contains(n))
    // a 3-frame GIF cut anywhere inside frame 3 (or just its trailer)
    // rejects, and decodeMeta falls back to the stub
    val three = gif(3)
    for (cut <- Seq(1, 2, 5, 10, 20)) {
      val c = three.dropRight(cut)
      assert(Multimodal.decodeGif(c).isEmpty, s"cut $cut")
      assert(Multimodal.decodeMeta(1L, "image", c) ==
        Multimodal.decodeStub(1L, "image", c))
    }
    // a first frame smaller than the logical screen has no flat RGB
    // layout at the screen's size
    val wide = gif(1).clone()
    wide(6) = 9 // screen width 9, frame still 8
    assert(Multimodal.decodeGif(wide).isEmpty)
  }

  test("poison payloads: every decoder view returns None and never " +
      "throws — truncated, garbage, text, empty, table selector out of " +
      "range, oversized header, trailer-less GIF, out-of-palette PNG") {
    import graft.multimodal.Jpeg
    val png = Multimodal.pngPixelBytes(11, 16, (x, y) => (x, y, x + y))
    val jpg = Jpeg.encodeGray(32, 8, 8, (bx, _) => {
      val c = new Array[Int](64); c(0) = 8 * (10 * bx - 88); c
    })
    val gif = Multimodal.gifBytes(8, 8,
      Array.tabulate(12)(i => (i * 20).toByte), (x, y) => (x + y) % 4)
    def patched(b: Array[Byte], i: Int, v: Int) = {
      val c = b.clone(); c(i) = v.toByte; c
    }
    val bigPng = png.clone()
    java.nio.ByteBuffer.wrap(bigPng).putInt(16, 65535).putInt(20, 65535)
    val poison = Seq(
      "png truncated" -> png.dropRight(30),
      "png header only" -> Multimodal.pngBytes(8, 8),
      "png garbage" -> (png.take(16) ++ Array.fill(40)(7.toByte)),
      "png oversized" -> bigPng,
      "png out of palette" -> Multimodal.pngPaletteBytes(4, 4,
        Array[Byte](1, 2, 3, 4, 5, 6), (x, y) => (x + y) % 4),
      "jpeg truncated" -> jpg.dropRight(6),
      "jpeg header only" -> Multimodal.jpegBytes(64, 32),
      "jpeg garbage" -> (jpg.take(2) ++ Array.fill(40)(0x55.toByte)),
      "jpeg quant table 4" -> patched(jpg, markerAt(jpg, 0xc0) + 12, 4),
      "jpeg huffman table 4" -> patched(jpg, markerAt(jpg, 0xda) + 6, 0x40),
      "gif without trailer" -> gif.dropRight(1),
      "gif truncated" -> gif.dropRight(9),
      "gif text" -> "GIF89a is an image format from 1989".getBytes("UTF-8"),
      "text" -> "plain text".getBytes("UTF-8"),
      "empty" -> Array.emptyByteArray)
    for ((name, p) <- poison) {
      assert(Multimodal.decodeAnyPixels(p).isEmpty, name)
      assert(Multimodal.decodePixels(p).isEmpty, name)
      assert(Jpeg.decode(p).isEmpty && Jpeg.decodeGray(p).isEmpty, name)
      assert(Multimodal.decodeGif(p).isEmpty, name)
      assert(Multimodal.dhash64(p).isEmpty, name)
    }
  }
}
