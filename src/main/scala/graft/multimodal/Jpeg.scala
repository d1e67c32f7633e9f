package graft.multimodal

/** JPEG (ITU T.81) planting encoder: baseline sequential (SOF0) and
  * progressive (SOF2) files with KNOWN pixel content for tests and oracle
  * queries — 8-bit grayscale or interleaved YCbCr (4:4:4, or 4:2:0 for
  * baseline), optional DRI/RSTn restart intervals, canonical Huffman
  * tables, differential DC, and for progressive files the Annex-G DC
  * first/refinement and AC first/refinement scans with EOB runs. Planted
  * coefficients are quant multiples, so a conforming decoder reproduces
  * the planted pixels exactly. Decoding goes through the JDK's reader
  * ([[Multimodal.decodeImage]]).
  */
object Jpeg {

  /** zigzag index -> natural (row-major) position, T.81 Figure A.6. */
  private val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** Decode a grayscale JPEG to `(width, height, pixels)`. */
  def decodeGray(p: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    decode(p).collect { case (w, h, 1, px) => (w, h, px) }

  /** Decode a baseline or progressive JPEG ([[Multimodal.decodeImage]]
    * restricted to JPEG) to `(width, height, channels, pixels)` —
    * grayscale (1 ch) or YCbCr converted to RGB (3 ch).
    */
  def decode(p: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] =
    Multimodal.decodeImage(p, "jpeg")
      .map { case (w, h, c, px, _) => (w, h, c, px) }

  // ---- encoder (for planting known content in tests/oracles) -----------

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var nBits = 0
    def put(code: Int, length: Int): Unit = {
      var l = length - 1
      while (l >= 0) {
        acc = (acc << 1) | ((code >> l) & 1); nBits += 1
        if (nBits == 8) {
          out.write(acc & 0xff)
          if ((acc & 0xff) == 0xff) out.write(0x00) // stuffing
          acc = 0; nBits = 0
        }
        l -= 1
      }
    }
    def flushWithOnes(): Unit =
      if (nBits > 0) { put(0x7f, 8 - nBits) } // pad bits (1s per spec)
    def restart(m: Int): Unit = {
      flushWithOnes(); out.write(0xff); out.write(0xd0 + m)
    }
  }

  // simple valid custom tables: DC = 12 categories as 4-bit codes;
  // AC = {EOB, 0x01, 0x11, 0xF0} as 3-bit codes
  private val DcCounts =
    Array(0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val DcSyms = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  private val AcCounts =
    Array(0, 0, 4, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val AcSyms = Array(0x00, 0x01, 0x11, 0xf0)

  // progressive AC table: the size-1 coefficient symbol plus every EOBn
  // (r = 0..14), all as 5-bit codes (16 codes of length 5 is canonical)
  private val ProgAcCounts =
    Array(0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val ProgAcSyms = Array(0x00, 0x01, 0x10, 0x20, 0x30, 0x40,
    0x50, 0x60, 0x70, 0x80, 0x90, 0xa0, 0xb0, 0xc0, 0xd0, 0xe0)

  private def huffCodes(counts: Array[Int],
      syms: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0; var k = 0
    val m = scala.collection.mutable.Map[Int, (Int, Int)]()
    for (l <- 1 to 16) {
      for (_ <- 0 until counts(l - 1)) {
        m(syms(k)) = (code, l); k += 1; code += 1
      }
      code <<= 1
    }
    m.toMap
  }

  private def category(v: Int): Int = {
    var a = math.abs(v); var s = 0
    while (a != 0) { a >>= 1; s += 1 }
    s
  }

  /** Encode an 8-bit grayscale image as a real baseline JPEG (see
    * [[encodeBaseline]]).
    */
  private[graft] def encodeGray(w: Int, h: Int, quant: Int,
      blocks: (Int, Int) => Array[Int]): Array[Byte] =
    encodeBaseline(w, h, quant, 1, (_, bx, by) => blocks(bx, by))

  /** Encode a real baseline JPEG with `ncomp` components (1 = grayscale,
    * 3 = interleaved YCbCr 4:4:4). `blocks(comp, bx, by)` supplies each
    * 8x8 block's coefficient array in NATURAL order, PRE-quantization
    * (the encoder divides by the quant table, so planted values should
    * be multiples of it for exactness). The quant table is flat `quant`
    * everywhere; all components share the same Huffman tables (legal,
    * and what the simple planting needs).
    */
  private[graft] def encodeBaseline(w: Int, h: Int, quant: Int,
      ncomp: Int, blocks: (Int, Int, Int) => Array[Int],
      subsample420: Boolean = false,
      restartInterval: Int = 0): Array[Byte] = {
    require(ncomp == 1 || ncomp == 3, "1 or 3 components")
    require(!subsample420 || ncomp == 3, "4:2:0 needs color")
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    marker(0xd8) // SOI
    marker(0xdb); be16(2 + 65); out.write(0) // DQT, table 0
    for (_ <- 0 until 64) out.write(quant)
    marker(0xc0); be16(8 + 3 * ncomp); out.write(8) // SOF0
    be16(h); be16(w); out.write(ncomp)
    for (c <- 1 to ncomp) {
      out.write(c)
      out.write(if (subsample420 && c == 1) 0x22 else 0x11)
      out.write(0) // qtable 0
    }
    def dht(tc: Int, counts: Array[Int], syms: Array[Int]): Unit = {
      marker(0xc4); be16(2 + 17 + syms.length); out.write(tc << 4)
      counts.foreach(out.write); syms.foreach(out.write)
    }
    dht(0, DcCounts, DcSyms)
    dht(1, AcCounts, AcSyms)
    if (restartInterval > 0) { // DRI
      marker(0xdd); be16(4); be16(restartInterval)
    }
    marker(0xda); be16(6 + 2 * ncomp); out.write(ncomp) // SOS
    for (c <- 1 to ncomp) { out.write(c); out.write(0x00) }
    out.write(0); out.write(63); out.write(0) // spectral selection
    val dcCodes = huffCodes(DcCounts, DcSyms)
    val acCodes = huffCodes(AcCounts, AcSyms)
    val bits = new BitWriter(out)
    // one MCU = one block per comp (4:4:4) or 4 luma + 2 chroma (4:2:0);
    // the flat list below enumerates (comp, plane-bx, plane-by) in the
    // exact interleave order the decoder consumes
    val mcuSpan = if (subsample420) 16 else 8
    val mw = (w + mcuSpan - 1) / mcuSpan
    val mh = (h + mcuSpan - 1) / mcuSpan
    val mcus: Seq[Seq[(Int, Int, Int)]] = for {
      my <- 0 until mh
      mx <- 0 until mw
    } yield for {
      comp <- 0 until ncomp
      v <- 0 until (if (subsample420 && comp == 0) 2 else 1)
      u <- 0 until (if (subsample420 && comp == 0) 2 else 1)
    } yield {
      if (subsample420 && comp == 0) (comp, mx * 2 + u, my * 2 + v)
      else (comp, mx, my)
    }
    val pred = new Array[Int](ncomp)
    val flatOrder = mcus.zipWithIndex.flatMap { case (mcu, m) =>
      // restart boundary marker interleaved as a pseudo-block
      if (restartInterval > 0 && m > 0 && m % restartInterval == 0)
        Seq((-1, (m / restartInterval - 1) % 8, 0)) ++ mcu
      else mcu
    }
    for ((comp, bx, by) <- flatOrder) {
      if (comp == -1) {
        bits.restart(bx)
        java.util.Arrays.fill(pred, 0)
      } else {
      val c = blocks(comp, bx, by)
      require(c.length == 64, "64 natural-order coefficients per block")
      val dcQ = {
        require(c(0) % quant == 0, "plant DC as a multiple of quant")
        c(0) / quant
      }
      val diff = dcQ - pred(comp)
      pred(comp) = dcQ
      val s = category(diff)
      require(s <= 11, "DC category out of range")
      val (code, len) = dcCodes(s)
      bits.put(code, len)
      if (s > 0)
        bits.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
      // AC: only the patterns our table can express — zigzag index 1
      // (symbol 0x01) or nothing; everything else must be 0
      var k = 1
      if (c(ZigZag(1)) != 0) {
        require(c(ZigZag(1)) % quant == 0, "plant AC as quant multiple")
        val v = c(ZigZag(1)) / quant
        val sa = category(v)
        require(sa == 1, "encoder AC table covers size-1 coefficients")
        val (ac1, al1) = acCodes(0x01)
        bits.put(ac1, al1)
        bits.put(if (v < 0) v + (1 << sa) - 1 else v, sa)
        k = 2
      }
      var j = k
      while (j < 64) {
        require(c(ZigZag(j)) == 0,
          "planting encoder only expresses DC + first zigzag AC")
        j += 1
      }
      val (eob, el) = acCodes(0x00)
      bits.put(eob, el)
      }
    }
    bits.flushWithOnes()
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Encode a real PROGRESSIVE JPEG (SOF2, 4:4:4 / grayscale) for
    * planting known content: a DC first scan at Al = 1 (point-transformed
    * differentials), a DC refinement scan (one magnitude bit per block),
    * then per component an AC first scan over the full 1..63 band at
    * Al = 1 and an AC refinement scan at Al = 0 — EOB runs span blocks
    * in both, and the refinement run carries one correction bit per
    * nonzero-history coefficient, so a decoder must implement the full
    * Annex-G successive-approximation machinery to reproduce the planted
    * pixels. Planting contract as [[encodeBaseline]] (DC + optionally
    * the first zigzag AC), except a nonzero AC must be ±2·quant: the
    * Al = 1 first pass sends ±1 and its refinement bit is 0, keeping
    * the planted value exact.
    */
  private[graft] def encodeProgressive(w: Int, h: Int, quant: Int,
      ncomp: Int, blocks: (Int, Int, Int) => Array[Int],
      restartInterval: Int = 0): Array[Byte] = {
    require(ncomp == 1 || ncomp == 3, "1 or 3 components")
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    marker(0xd8) // SOI
    marker(0xdb); be16(2 + 65); out.write(0) // DQT, table 0
    for (_ <- 0 until 64) out.write(quant)
    marker(0xc2); be16(8 + 3 * ncomp); out.write(8) // SOF2
    be16(h); be16(w); out.write(ncomp)
    for (c <- 1 to ncomp) { out.write(c); out.write(0x11); out.write(0) }
    def dht(tc: Int, counts: Array[Int], syms: Array[Int]): Unit = {
      marker(0xc4); be16(2 + 17 + syms.length); out.write(tc << 4)
      counts.foreach(out.write); syms.foreach(out.write)
    }
    dht(0, DcCounts, DcSyms)
    dht(1, ProgAcCounts, ProgAcSyms)
    if (restartInterval > 0) { marker(0xdd); be16(4); be16(restartInterval) }
    val dcCodes = huffCodes(DcCounts, DcSyms)
    val acCodes = huffCodes(ProgAcCounts, ProgAcSyms)
    val mw = (w + 7) / 8; val mh = (h + 7) / 8
    def dcQ(comp: Int, bx: Int, by: Int): Int = {
      val c = blocks(comp, bx, by)
      require(c.length == 64 && c(0) % quant == 0,
        "plant DC as a multiple of quant")
      c(0) / quant
    }
    def acQ(comp: Int, bx: Int, by: Int): Int = {
      val c = blocks(comp, bx, by)
      val v = c(ZigZag(1))
      require(v % quant == 0, "plant AC as a multiple of quant")
      var j = 2
      while (j < 64) {
        require(c(ZigZag(j)) == 0,
          "planting encoder only expresses DC + first zigzag AC")
        j += 1
      }
      val q = v / quant
      require(q == 0 || q == 2 || q == -2,
        "progressive planting AC must be 0 or ±2·quant")
      q
    }
    def sos(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): Unit = {
      marker(0xda); be16(6 + 2 * comps.length); out.write(comps.length)
      for (c <- comps) { out.write(c + 1); out.write(0x00) }
      out.write(ss); out.write(se); out.write((ah << 4) | al)
    }
    // ---- scan 1: DC first pass, interleaved, Al = 1 --------------------
    sos(0 until ncomp, 0, 0, 0, 1)
    locally {
      val bits = new BitWriter(out)
      val pred = new Array[Int](ncomp)
      var done = 0
      for (by <- 0 until mh; bx <- 0 until mw) {
        if (restartInterval > 0 && done > 0 && done % restartInterval == 0) {
          bits.restart((done / restartInterval - 1) % 8)
          java.util.Arrays.fill(pred, 0)
        }
        for (c <- 0 until ncomp) {
          val v = dcQ(c, bx, by) >> 1 // arithmetic: G.1.2.1 point transform
          val diff = v - pred(c); pred(c) = v
          val s = category(diff)
          require(s <= 11, "DC category out of range")
          val (code, clen) = dcCodes(s)
          bits.put(code, clen)
          if (s > 0) bits.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
        }
        done += 1
      }
      bits.flushWithOnes()
    }
    // ---- scan 2: DC refinement, one magnitude bit per block ------------
    sos(0 until ncomp, 0, 0, 1, 0)
    locally {
      val bits = new BitWriter(out)
      var done = 0
      for (by <- 0 until mh; bx <- 0 until mw) {
        if (restartInterval > 0 && done > 0 && done % restartInterval == 0)
          bits.restart((done / restartInterval - 1) % 8)
        for (c <- 0 until ncomp) bits.put(dcQ(c, bx, by) & 1, 1)
        done += 1
      }
      bits.flushWithOnes()
    }
    // ---- per component: AC first (Al = 1) + AC refinement (Al = 0) -----
    for (c <- 0 until ncomp) {
      def emitEobChunk(bits: BitWriter, chunk: Int): Unit = {
        var rb = 0
        while ((2 << rb) <= chunk) rb += 1
        val (code, clen) = acCodes(rb << 4)
        bits.put(code, clen)
        if (rb > 0) bits.put(chunk - (1 << rb), rb)
      }
      sos(Seq(c), 1, 63, 0, 1)
      locally {
        val bits = new BitWriter(out)
        var eob = 0
        def flushEob(): Unit = {
          while (eob > 0) {
            val chunk = math.min(eob, 32767)
            emitEobChunk(bits, chunk)
            eob -= chunk
          }
        }
        var done = 0
        for (by <- 0 until mh; bx <- 0 until mw) {
          if (restartInterval > 0 && done > 0 &&
              done % restartInterval == 0) {
            flushEob()
            bits.restart((done / restartInterval - 1) % 8)
          }
          val q = acQ(c, bx, by)
          if (q != 0) {
            flushEob()
            val v1 = q >> 1 // ±1 after the point transform
            val (code, clen) = acCodes(0x01)
            bits.put(code, clen)
            bits.put(if (v1 < 0) 0 else 1, 1)
            eob += 1 // the remainder of this block is one EOB event
          } else eob += 1
          done += 1
        }
        flushEob()
        bits.flushWithOnes()
      }
      sos(Seq(c), 1, 63, 1, 0)
      locally {
        val bits = new BitWriter(out)
        // pending EOB run: one entry per block, carrying that block's
        // correction bits (read by the decoder as it walks the run)
        val pending = scala.collection.mutable.ArrayBuffer[Seq[Int]]()
        def flushEob(): Unit = {
          while (pending.nonEmpty) {
            val chunk = math.min(pending.length, 32767)
            emitEobChunk(bits, chunk)
            for (blockBits <- pending.take(chunk); b <- blockBits)
              bits.put(b, 1)
            pending.remove(0, chunk)
          }
        }
        var done = 0
        for (by <- 0 until mh; bx <- 0 until mw) {
          if (restartInterval > 0 && done > 0 &&
              done % restartInterval == 0) {
            flushEob()
            bits.restart((done / restartInterval - 1) % 8)
          }
          // planted AC is ±2 = ±(1 << 1): its Al=0 bit is 0, emitted as
          // this block's correction bit inside the EOB run
          pending += (if (acQ(c, bx, by) != 0) Seq(0) else Seq.empty)
          done += 1
        }
        flushEob()
        bits.flushWithOnes()
      }
    }
    marker(0xd9) // EOI
    out.toByteArray
  }
}
