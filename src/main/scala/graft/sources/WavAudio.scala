package graft.sources

/** Pure-JVM WAV (RIFF/WAVE) audio codec — the audio analog of
  * [[PdfText]]: the multimodal family's decode step implemented for
  * real where the environment allows it (PCM needs no external codec
  * library; image/video stay behind the documented stub). Implements
  * the public RIFF container format: chunk walk (`fmt ` + `data`,
  * unknown chunks skipped by their declared size, word-aligned), PCM
  * integer samples — 16-bit signed little-endian, 8-bit unsigned and
  * 24-bit signed (round 16) — plus IEEE-float samples (format tag 3,
  * 32-bit, round 16: the two largest formerly-quarantined real-corpus
  * classes), the G.711 companded formats (tags 6 A-law / 7 μ-law,
  * round 17: closed-form 8-bit integer expansion — the telephony
  * corpus formats) and BOTH common ADPCM families
  * (round 18): IMA/DVI (tag 0x11 — block-structured 4-bit coding over
  * the public IMA step tables) and Microsoft ADPCM (tag 2 —
  * predictor-coefficient blocks over the fmt chunk's own coefficient
  * table, high-nibble-first codes). No javax.sound codec exists for
  * either, so correctness rides the fixture ladder: hand-derived
  * table fixtures (mono + stereo), encoder-mirror round-trips,
  * drift-free constant-block apertures for the DuckDB oracles
  * (q173/q174), and mutation fuzz — with strict validation (truncated container, missing
  * chunks, unsupported format tags and widths, non-finite float
  * samples all throw with the offending field named, never return
  * garbage samples).
  *
  * Scale shape: decode is per-row imperative byte work inside the
  * task — the one place a UDF is the right tool (there is no builtin
  * to prefer; the PdfText ladder) — and media bytes never shuffle.
  */
object WavAudio {

  /** Decoded audio: interleaved samples, one Int per sample per
    * channel. For the integer formats (tag 1: 8/16/24-bit) these are
    * sign-normalized sample VALUES (8-bit input re-centered to
    * signed). For IEEE float (tag 3, bits = 32) each Int holds the
    * sample's RAW FLOAT BITS — exactness-preserving in the same array
    * shape — and [[Wav.floatSample]] is the typed accessor. For the
    * G.711 companded formats (tag 6 A-law, tag 7 μ-law — round 17)
    * each Int holds the EXPANDED linear value (13/14-bit range): the
    * expansion is an exact integer table, so downstream stats are
    * oracle-replayable from the code bytes. */
  final case class Wav(sampleRate: Int, channels: Int, bits: Int,
      samples: Array[Int], format: Int = 1) {
    def nFrames: Int = samples.length / math.max(channels, 1)
    /** Sample as float (format tag 3 only). */
    def floatSample(i: Int): Float = {
      require(format == 3, s"floatSample on format-$format audio")
      java.lang.Float.intBitsToFloat(samples(i))
    }
  }

  private def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
  private def tag(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "US-ASCII")

  /** Parse a RIFF/WAVE byte array. Throws IllegalArgumentException on
    * malformed input — a corrupt media file must surface as a row
    * error, not as silently wrong features. */
  def parse(bytes: Array[Byte]): Wav = {
    require(bytes.length >= 12, s"not a RIFF file: ${bytes.length} bytes")
    require(tag(bytes, 0) == "RIFF", s"bad magic '${tag(bytes, 0)}'")
    require(tag(bytes, 8) == "WAVE", s"bad form type '${tag(bytes, 8)}'")
    // honor the DECLARED RIFF size (review find): the chunk walk stops
    // at the RIFF boundary, so spec-legal trailing data (tagger junk
    // appended past the container) is ignored instead of misparsed as a
    // chunk header, and a declared size overrunning the file is the
    // named error it claims to be
    val riffSize = u32(bytes, 4)
    require(riffSize >= 4 && 8 + riffSize <= bytes.length,
      s"declared RIFF size $riffSize vs file ${bytes.length} bytes")
    val end = (8 + riffSize).toInt
    var off = 12
    var fmt: Option[(Int, Int, Int, Int)] = None // (format, ch, rate, bits)
    var blockAlign = 0
    var samplesPerBlock = -1 // ADPCM extension field (cbSize >= 2)
    var msCoefs: Seq[(Int, Int)] = Nil // MS-ADPCM predictor pairs
    var data: Option[(Int, Int)] = None // (offset, size)
    while (off + 8 <= end) {
      val id = tag(bytes, off)
      val size = u32(bytes, off + 4)
      require(size >= 0 && off + 8 + size <= end,
        s"chunk '$id' size $size overruns the RIFF chunk ($end bytes)")
      id match {
        case "fmt " =>
          // duplicate chunks are rejected, not last-win: two fmt
          // chunks mean the container is ambiguous about its own
          // sample layout, and silently honoring the later one would
          // decode the data against a format the first header
          // contradicts (advisor r12 find)
          require(fmt.isEmpty, "duplicate fmt chunk")
          require(size >= 16, s"fmt chunk too small: $size")
          fmt = Some((u16(bytes, off + 8), u16(bytes, off + 10),
            u32(bytes, off + 12).toInt, u16(bytes, off + 22)))
          blockAlign = u16(bytes, off + 20)
          if (size >= 20) samplesPerBlock = u16(bytes, off + 26)
          if (size >= 22) { // MS-ADPCM extension: wNumCoef + coef pairs
            val nCoef = u16(bytes, off + 28)
            if (size >= 22 + 4 * nCoef && nCoef <= 16)
              msCoefs = (0 until nCoef).map { k =>
                (u16(bytes, off + 30 + 4 * k).toShort.toInt,
                  u16(bytes, off + 32 + 4 * k).toShort.toInt)
              }
          }
        case "data" =>
          require(data.isEmpty, "duplicate data chunk")
          data = Some((off + 8, size.toInt))
        case _ => // LIST/fact/cue/…: skip by declared size
      }
      off += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
    }
    val (format, ch, rate, bits) = fmt.getOrElse(
      throw new IllegalArgumentException("missing fmt chunk"))
    val (dOff, dSize) = data.getOrElse(
      throw new IllegalArgumentException("missing data chunk"))
    require(format == 1 || format == 2 || format == 3 || format == 6 ||
      format == 7 || format == 17,
      s"unsupported format tag $format " +
        "(only 1=PCM, 2=MS ADPCM, 3=IEEE float, 6=A-law, 7=mu-law, " +
        "17=IMA ADPCM)")
    require(ch >= 1, s"bad channel count $ch")
    require(rate > 0, s"bad sample rate $rate")
    // data size must be FRAME-aligned (bits/8 × channels), not merely
    // sample-aligned: a truncated stereo PCM16 file with dSize % 4 == 2
    // passed the old % 2 check and decoded silently with a partial
    // trailing frame that nFrames floored away — at odds with the
    // strict-validation posture (advisor r12 find)
    def frameAligned(what: String): Unit = {
      val frameBytes = (bits / 8) * ch
      require(dSize % frameBytes == 0,
        s"data chunk size $dSize not a multiple of the $what " +
          s"frame size $frameBytes ($ch channel(s) × ${bits / 8} bytes)")
    }
    val samples = (format, bits) match {
      case (1, 16) =>
        frameAligned("PCM16")
        val a = new Array[Int](dSize / 2)
        var i = 0
        while (i < a.length) {
          a(i) = u16(bytes, dOff + 2 * i).toShort.toInt; i += 1
        }
        a
      case (1, 8) =>
        frameAligned("PCM8")
        val a = new Array[Int](dSize)
        var i = 0
        while (i < a.length) { a(i) = (bytes(dOff + i) & 0xff) - 128; i += 1 }
        a
      case (1, 24) =>
        frameAligned("PCM24")
        val a = new Array[Int](dSize / 3)
        var i = 0
        while (i < a.length) {
          val o = dOff + 3 * i
          val v = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
            ((bytes(o + 2) & 0xff) << 16)
          a(i) = (v << 8) >> 8 // sign-extend from 24 bits
          i += 1
        }
        a
      case (3, 32) =>
        frameAligned("FLOAT32")
        val a = new Array[Int](dSize / 4)
        var i = 0
        while (i < a.length) {
          val v = u32(bytes, dOff + 4 * i).toInt
          // a NaN/Inf sample is never legitimate audio; at corpus
          // scale it silently poisons every downstream aggregate —
          // strict-reject like every other garbage-sample path
          require(java.lang.Float.isFinite(
            java.lang.Float.intBitsToFloat(v)),
            s"non-finite float sample at frame ${i / ch}")
          a(i) = v // raw float bits (see Wav doc)
          i += 1
        }
        a
      case (3, w) =>
        throw new IllegalArgumentException(
          s"IEEE-float format (tag 3) with bit width $w (must be 32)")
      case (6, 8) =>
        frameAligned("ALAW")
        Array.tabulate(dSize)(i => alawExpand(bytes(dOff + i) & 0xff))
      case (7, 8) =>
        frameAligned("ULAW")
        Array.tabulate(dSize)(i => ulawExpand(bytes(dOff + i) & 0xff))
      case (6 | 7, w) =>
        throw new IllegalArgumentException(
          s"G.711 format (tag $format) with bit width $w (must be 8)")
      case (17, 4) =>
        require(ch <= 2, s"IMA ADPCM with $ch channels (only mono/stereo)")
        require(blockAlign >= 4 * ch + 4 * ch &&
          blockAlign % (4 * ch) == 0,
          s"IMA ADPCM block align $blockAlign invalid for $ch channel(s)")
        val spbWant = (blockAlign / ch - 4) * 2 + 1
        require(samplesPerBlock == spbWant,
          s"IMA ADPCM declares $samplesPerBlock samples/block, " +
            s"block align $blockAlign implies $spbWant")
        require(dSize % blockAlign == 0,
          s"data chunk size $dSize not a multiple of block align " +
            s"$blockAlign (truncated final ADPCM block)")
        imaDecodeBlocks(bytes, dOff, dSize, ch, blockAlign)
      case (17, w) =>
        throw new IllegalArgumentException(
          s"IMA ADPCM format (tag 17) with bit width $w (must be 4)")
      case (2, 4) =>
        require(ch <= 2, s"MS ADPCM with $ch channels (only mono/stereo)")
        require(msCoefs.nonEmpty,
          "MS ADPCM fmt chunk missing its coefficient table")
        require(blockAlign > 7 * ch && (blockAlign - 7 * ch) % ch == 0,
          s"MS ADPCM block align $blockAlign invalid for $ch channel(s)")
        val spbWant = (blockAlign - 7 * ch) * 2 / ch + 2
        require(samplesPerBlock == spbWant,
          s"MS ADPCM declares $samplesPerBlock samples/block, " +
            s"block align $blockAlign implies $spbWant")
        require(dSize % blockAlign == 0,
          s"data chunk size $dSize not a multiple of block align " +
            s"$blockAlign (truncated final ADPCM block)")
        msDecodeBlocks(bytes, dOff, dSize, ch, blockAlign, msCoefs)
      case (2, w) =>
        throw new IllegalArgumentException(
          s"MS ADPCM format (tag 2) with bit width $w (must be 4)")
      case (_, w) =>
        throw new IllegalArgumentException(s"unsupported bit width $w")
    }
    Wav(rate, ch, bits, samples, format)
  }

  // -------------------------------------------------- G.711 companding

  /** μ-law code byte → linear value (ITU-T G.711, exact integer form:
    * magnitude = ((mantissa·8 + 132) << exponent) − 132, sign from the
    * inverted code's top bit). Codes 0x7f and 0xff both expand to 0 —
    * μ-law's positive and negative zero. */
  private[graft] def ulawExpand(code: Int): Int = {
    val u = ~code & 0xff
    val e = (u >> 4) & 7
    val m = u & 0x0f
    val mag = (((m << 3) + 0x84) << e) - 0x84
    if ((u & 0x80) != 0) -mag else mag
  }

  /** A-law code byte → linear value (ITU-T G.711: even bits inverted
    * by the 0x55 mask, 7 chord segments, minimum magnitude 8 — A-law
    * has no zero sample). Sign bit SET means positive. */
  private[graft] def alawExpand(code: Int): Int = {
    val a = code ^ 0x55
    val seg = (a >> 4) & 7
    val m = a & 0x0f
    val mag = seg match {
      case 0 => (m << 4) + 8
      case 1 => (m << 4) + 0x108
      case s => ((m << 4) + 0x108) << (s - 1)
    }
    if ((a & 0x80) != 0) mag else -mag
  }

  /** Linear → μ-law code byte (BIAS 0x84, clip 32635). Pinned by the
    * identity compress(expand(c)) == c over every code except 0x7f
    * (negative zero folds onto 0xff) in WavAudioSpec. */
  private[graft] def ulawCompress(pcm: Int): Int = {
    var s = pcm
    val sign = if (s < 0) { s = -s; 0x80 } else 0
    if (s > 32635) s = 32635
    s += 0x84
    var e = 7
    while (e > 0 && (s & (0x80 << e)) == 0) e -= 1
    val m = (s >> (e + 3)) & 0x0f
    ~(sign | (e << 4) | m) & 0xff
  }

  /** Linear → A-law code byte. Identity-pinned over all 256 codes. */
  private[graft] def alawCompress(pcm: Int): Int = {
    var s = pcm
    val sign = if (s >= 0) 0x80 else { s = -s; 0 }
    if (s > 32767) s = 32767
    val (seg, m) =
      if (s < 256) (0, s >> 4)
      else {
        var sg = 1
        var t = s
        while (t >= 512 && sg < 7) { t >>= 1; sg += 1 }
        (sg, (t - 256) >> 4)
      }
    (sign | (seg << 4) | m) ^ 0x55
  }


  // ------------------------------------------------ IMA/DVI ADPCM

  /** IMA ADPCM step-size table (89 entries) — the public DVI/IMA
    * table; indexed by the clamped step index. */
  private[graft] val imaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  /** Index adjustment per nibble (sign bit ignored by the table). */
  private[graft] val imaIndexTable: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  /** One IMA decode step: (predictor, index, nibble) → (sample,
    * index'). The reconstruction uses the shift form (step>>3 +
    * bit-gated step, step>>1, step>>2) — the exact arithmetic the
    * encoder mirrors, pinned by hand fixtures in WavAudioSpec. */
  private[graft] def imaStep(pred: Int, index: Int, nibble: Int): (Int, Int) = {
    val step = imaStepTable(index)
    var diff = step >> 3
    if ((nibble & 1) != 0) diff += step >> 2
    if ((nibble & 2) != 0) diff += step >> 1
    if ((nibble & 4) != 0) diff += step
    val s = if ((nibble & 8) != 0) pred - diff else pred + diff
    val clamped = math.max(-32768, math.min(32767, s))
    val idx = math.max(0, math.min(88, index + imaIndexTable(nibble)))
    (clamped, idx)
  }

  /** Decode the data chunk's IMA blocks to interleaved PCM16. Each
    * block: one 4-byte header PER CHANNEL (int16 predictor, uint8 step
    * index, zero pad — all validated), then nibble data in 4-byte
    * per-channel groups (stereo interleaves groups); low nibble first
    * within a byte. The header sample is the block's first output
    * frame (predictor state resets per block — a corrupt block cannot
    * poison its successors). */
  private def imaDecodeBlocks(bytes: Array[Byte], dOff: Int, dSize: Int,
      ch: Int, blockAlign: Int): Array[Int] = {
    val spb = (blockAlign / ch - 4) * 2 + 1
    val nBlocks = dSize / blockAlign
    val out = new Array[Int](nBlocks * spb * ch)
    var b = 0
    while (b < nBlocks) {
      val base = dOff + b * blockAlign
      val pred = new Array[Int](ch)
      val idx = new Array[Int](ch)
      var c = 0
      while (c < ch) {
        val o = base + 4 * c
        pred(c) = ((bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8))
          .toShort.toInt
        idx(c) = bytes(o + 2) & 0xff
        require(idx(c) <= 88,
          s"IMA ADPCM block $b channel $c step index ${idx(c)} > 88")
        require(bytes(o + 3) == 0,
          s"IMA ADPCM block $b channel $c header pad byte nonzero")
        out((b * spb) * ch + c) = pred(c)
        c += 1
      }
      // nibble area: groups of 4 bytes per channel, channels rotating
      val dataBytes = blockAlign - 4 * ch
      val groups = dataBytes / (4 * ch)
      var g = 0
      var emitted = 1 // frames emitted so far in this block
      while (g < groups) {
        var c2 = 0
        while (c2 < ch) {
          val go = base + 4 * ch + g * 4 * ch + 4 * c2
          var k = 0
          while (k < 8) {
            val byt = bytes(go + (k >> 1)) & 0xff
            val nib = if ((k & 1) == 0) byt & 0x0f else byt >> 4
            val (s, ni) = imaStep(pred(c2), idx(c2), nib)
            pred(c2) = s; idx(c2) = ni
            val frame = emitted + k
            out((b * spb + frame) * ch + c2) = s
            k += 1
          }
          c2 += 1
        }
        emitted += 8
        g += 1
      }
      b += 1
    }
    out
  }

  // ------------------------------------------------ Microsoft ADPCM

  /** The standard MS-ADPCM predictor coefficient pairs (the 7 pairs
    * every conforming fmt chunk carries first) and the delta
    * adaptation table — public WAVE_FORMAT_ADPCM constants. */
  private[graft] val msAdpcmCoefs: Seq[(Int, Int)] =
    Seq((256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
      (460, -208), (392, -232))
  private[graft] val msAdaptTable: Array[Int] = Array(
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230)

  /** One MS-ADPCM decode step: (s1, s2, delta, coefs, 4-bit code) →
    * (sample, delta'). Predictor arithmetic is C-style truncating
    * division by 256 (the public reference implementations'); delta
    * floors at 16. */
  private[graft] def msStep(s1: Int, s2: Int, delta: Int,
      c1: Int, c2: Int, code: Int): (Int, Int) = {
    val signed = (code << 28) >> 28 // sign-extend the 4-bit code
    val pred = (s1 * c1 + s2 * c2) / 256 + signed * delta
    val sample = math.max(-32768, math.min(32767, pred))
    val nd = math.max(16, (msAdaptTable(code & 0x0f) * delta) / 256)
    (sample, nd)
  }

  /** Decode the data chunk's MS-ADPCM blocks to interleaved PCM16.
    * Block header (fields grouped by channel): predictor index byte
    * per channel (validated against the fmt coefficient table), int16
    * initial delta, int16 sample1 (the block's SECOND sample), int16
    * sample2 (the FIRST); then 4-bit codes, HIGH nibble first (the
    * opposite of IMA), channels alternating per nibble. Per-block
    * header reset keeps a corrupt block from poisoning successors. */
  private def msDecodeBlocks(bytes: Array[Byte], dOff: Int, dSize: Int,
      ch: Int, blockAlign: Int, coefs: Seq[(Int, Int)]): Array[Int] = {
    val spb = (blockAlign - 7 * ch) * 2 / ch + 2
    val nBlocks = dSize / blockAlign
    val out = new Array[Int](nBlocks * spb * ch)
    var b = 0
    while (b < nBlocks) {
      val base = dOff + b * blockAlign
      val c1 = new Array[Int](ch); val c2 = new Array[Int](ch)
      val delta = new Array[Int](ch)
      val s1 = new Array[Int](ch); val s2 = new Array[Int](ch)
      var c = 0
      while (c < ch) {
        val pidx = bytes(base + c) & 0xff
        require(pidx < coefs.length,
          s"MS ADPCM block $b channel $c predictor index $pidx " +
            s"outside the ${coefs.length}-entry coefficient table")
        c1(c) = coefs(pidx)._1; c2(c) = coefs(pidx)._2
        delta(c) = ((bytes(base + ch + 2 * c) & 0xff) |
          ((bytes(base + ch + 2 * c + 1) & 0xff) << 8)).toShort.toInt
        require(delta(c) > 0,
          s"MS ADPCM block $b channel $c initial delta ${delta(c)} <= 0")
        s1(c) = ((bytes(base + 3 * ch + 2 * c) & 0xff) |
          ((bytes(base + 3 * ch + 2 * c + 1) & 0xff) << 8)).toShort.toInt
        s2(c) = ((bytes(base + 5 * ch + 2 * c) & 0xff) |
          ((bytes(base + 5 * ch + 2 * c + 1) & 0xff) << 8)).toShort.toInt
        out((b * spb) * ch + c) = s2(c) // first output frame
        out((b * spb + 1) * ch + c) = s1(c) // second
        c += 1
      }
      val dataBytes = blockAlign - 7 * ch
      var k = 0 // nibble index across the block's data area
      while (k < dataBytes * 2) {
        val byt = bytes(base + 7 * ch + (k >> 1)) & 0xff
        val code = if ((k & 1) == 0) byt >> 4 else byt & 0x0f
        val cc = k % ch
        val (sample, nd) = msStep(s1(cc), s2(cc), delta(cc),
          c1(cc), c2(cc), code)
        s2(cc) = s1(cc); s1(cc) = sample; delta(cc) = nd
        val frame = 2 + k / ch
        out((b * spb + frame) * ch + cc) = sample
        k += 1
      }
      b += 1
    }
    out
  }

  /** Encode mono PCM16 as MS ADPCM (tag 2) — the writer half. Each
    * block tries all 7 standard predictors and keeps the first with
    * minimal total quantization error (constant blocks therefore
    * encode EXACTLY: predictor 0 reproduces them with all-zero codes —
    * the q174 aperture); initial delta is 16. Returns the container
    * bytes AND the exact reconstruction the decoder must reproduce
    * (the IMA mirror discipline). `samplesPerBlock` must be even and
    * ≥ 4; input fills whole blocks. */
  def encodeMsAdpcmMono(sampleRate: Int, samples: Array[Int],
      samplesPerBlock: Int): (Array[Byte], Array[Int]) = {
    require(samplesPerBlock >= 4 && samplesPerBlock % 2 == 0,
      s"samples/block $samplesPerBlock (need even, >= 4)")
    require(samples.nonEmpty && samples.length % samplesPerBlock == 0,
      s"sample count ${samples.length} not whole blocks of $samplesPerBlock")
    samples.foreach(s => require(s >= Short.MinValue && s <= Short.MaxValue,
      s"sample $s"))
    val blockAlign = 7 + (samplesPerBlock - 2) / 2
    val nBlocks = samples.length / samplesPerBlock
    val data = new Array[Byte](nBlocks * blockAlign)
    val recon = new Array[Int](samples.length)
    def encodeBlock(b: Int, pidx: Int, out: Array[Byte], off: Int,
        rec: Array[Int]): Long = {
      val (c1v, c2v) = msAdpcmCoefs(pidx)
      var s2 = samples(b * samplesPerBlock)
      var s1 = samples(b * samplesPerBlock + 1)
      var delta = 16
      out(off) = pidx.toByte
      out(off + 1) = (delta & 0xff).toByte
      out(off + 2) = ((delta >> 8) & 0xff).toByte
      out(off + 3) = (s1 & 0xff).toByte
      out(off + 4) = ((s1 >> 8) & 0xff).toByte
      out(off + 5) = (s2 & 0xff).toByte
      out(off + 6) = ((s2 >> 8) & 0xff).toByte
      rec(0) = s2; rec(1) = s1
      var err = 0L
      var k = 2
      while (k < samplesPerBlock) {
        val target = samples(b * samplesPerBlock + k)
        val pred = (s1 * c1v + s2 * c2v) / 256
        val diff = target - pred
        val bias = if (diff >= 0) delta / 2 else -(delta / 2)
        val code = math.max(-8, math.min(7, (diff + bias) / delta))
        val (sample, nd) = msStep(s1, s2, delta, c1v, c2v, code & 0x0f)
        s2 = s1; s1 = sample; delta = nd
        rec(k) = sample
        err += (sample - target).toLong * (sample - target)
        val o = off + 7 + (k - 2) / 2
        if ((k - 2) % 2 == 0) out(o) = ((code & 0x0f) << 4).toByte
        else out(o) = (out(o) | (code & 0x0f)).toByte
        k += 1
      }
      err
    }
    var b = 0
    while (b < nBlocks) {
      var best = -1
      var bestErr = Long.MaxValue
      val bestBlock = new Array[Byte](blockAlign)
      val bestRec = new Array[Int](samplesPerBlock)
      var p = 0
      while (p < msAdpcmCoefs.length) {
        val trial = new Array[Byte](blockAlign)
        val rec = new Array[Int](samplesPerBlock)
        val err = encodeBlock(b, p, trial, 0, rec)
        if (err < bestErr) {
          bestErr = err; best = p
          System.arraycopy(trial, 0, bestBlock, 0, blockAlign)
          System.arraycopy(rec, 0, bestRec, 0, samplesPerBlock)
        }
        p += 1
      }
      require(best >= 0, "no predictor")
      System.arraycopy(bestBlock, 0, data, b * blockAlign, blockAlign)
      System.arraycopy(bestRec, 0, recon, b * samplesPerBlock,
        samplesPerBlock)
      b += 1
    }
    val dataSize = data.length
    val nCoef = msAdpcmCoefs.length
    val fmtSize = 16 + 2 + 2 + 2 + 4 * nCoef
    val riffSize = 4 + (8 + fmtSize) + (8 + 4) + (8 + dataSize) +
      (dataSize & 1)
    val out = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(fmtSize)
      .putShort(2).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * blockAlign / samplesPerBlock)
      .putShort(blockAlign.toShort).putShort(4)
      .putShort((fmtSize - 18).toShort) // cbSize
      .putShort(samplesPerBlock.toShort)
      .putShort(nCoef.toShort)
    msAdpcmCoefs.foreach { case (a, c) =>
      out.putShort(a.toShort).putShort(c.toShort)
    }
    out.put("fact".getBytes("US-ASCII")).putInt(4).putInt(samples.length)
    out.put("data".getBytes("US-ASCII")).putInt(dataSize)
    out.put(data)
    if ((dataSize & 1) == 1) out.put(0.toByte)
    (out.array(), recon)
  }

  /** Encode mono PCM16 as IMA ADPCM (tag 0x11) — the writer half.
    * `samplesPerBlock` must be 8k+1 (block align 4+4k). Each block
    * header carries the block's FIRST SAMPLE as predictor and the
    * running step index; remaining samples quantize through the
    * encoder mirror of [[imaStep]]. Returns the container bytes AND
    * the exact reconstruction the decoder must reproduce (ADPCM is
    * lossy; the mirror property decode(encode(x)) == reconstruction is
    * what the spec pins, plus a per-sample step-bounded error).
    * Input length must fill whole blocks. */
  def encodeImaAdpcmMono(sampleRate: Int, samples: Array[Int],
      samplesPerBlock: Int): (Array[Byte], Array[Int]) = {
    require(samplesPerBlock >= 9 && (samplesPerBlock - 1) % 8 == 0,
      s"samples/block $samplesPerBlock (need 8k+1)")
    require(samples.nonEmpty && samples.length % samplesPerBlock == 0,
      s"sample count ${samples.length} not whole blocks of $samplesPerBlock")
    samples.foreach(s => require(s >= Short.MinValue && s <= Short.MaxValue,
      s"sample $s"))
    val blockAlign = 4 + (samplesPerBlock - 1) / 2
    val nBlocks = samples.length / samplesPerBlock
    val data = new Array[Byte](nBlocks * blockAlign)
    val recon = new Array[Int](samples.length)
    var index = 0
    var b = 0
    while (b < nBlocks) {
      val base = b * blockAlign
      var pred = samples(b * samplesPerBlock)
      data(base) = (pred & 0xff).toByte
      data(base + 1) = ((pred >> 8) & 0xff).toByte
      data(base + 2) = index.toByte
      data(base + 3) = 0
      recon(b * samplesPerBlock) = pred
      var k = 1
      while (k < samplesPerBlock) {
        val target = samples(b * samplesPerBlock + k)
        val step = imaStepTable(index)
        var diff = target - pred
        var nib = 0
        if (diff < 0) { nib = 8; diff = -diff }
        if (diff >= step) { nib |= 4; diff -= step }
        if (diff >= (step >> 1)) { nib |= 2; diff -= step >> 1 }
        if (diff >= (step >> 2)) { nib |= 1 }
        val (s, ni) = imaStep(pred, index, nib)
        pred = s; index = ni
        recon(b * samplesPerBlock + k) = s
        val o = base + 4 + (k - 1) / 2
        if ((k - 1) % 2 == 0) data(o) = (nib & 0x0f).toByte
        else data(o) = (data(o) | (nib << 4)).toByte
        k += 1
      }
      b += 1
    }
    val dataSize = data.length
    val nFrames = samples.length
    val riffSize = 4 + (8 + 20) + (8 + 4) + (8 + dataSize) + (dataSize & 1)
    val out = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(20)
      .putShort(17).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * blockAlign / samplesPerBlock)
      .putShort(blockAlign.toShort).putShort(4)
      .putShort(2) // cbSize
      .putShort(samplesPerBlock.toShort)
    out.put("fact".getBytes("US-ASCII")).putInt(4).putInt(nFrames)
    out.put("data".getBytes("US-ASCII")).putInt(dataSize)
    out.put(data)
    if ((dataSize & 1) == 1) out.put(0.toByte)
    (out.array(), recon)
  }

  /** Encode mono PCM16 — the writer half (test vectors, fixture
    * synthesis, and the binary-sink path). Emits a junk LIST chunk
    * before `data` so every parse exercises the skip-unknown-chunks
    * path. */
  def encodePcm16Mono(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
    val dataSize = samples.length * 2
    val listPayload = "graf".getBytes("US-ASCII")
    val riffSize = 4 + (8 + 16) + (8 + listPayload.length) + (8 + dataSize)
    val out = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * 2).putShort(2).putShort(16)
    out.put("LIST".getBytes("US-ASCII")).putInt(listPayload.length)
      .put(listPayload)
    out.put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach { s =>
      require(s >= Short.MinValue && s <= Short.MaxValue, s"sample $s")
      out.putShort(s.toShort)
    }
    out.array()
  }

  /** Encode mono 24-bit PCM — the writer half for the PCM24 decode
    * path (samples in ±2²³). Same junk-LIST discipline. */
  def encodePcm24Mono(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
    val dataSize = samples.length * 3
    val listPayload = "graf".getBytes("US-ASCII")
    val riffSize = 4 + (8 + 16) + (8 + listPayload.length) +
      (8 + dataSize) + (dataSize & 1)
    val out = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * 3).putShort(3).putShort(24)
    out.put("LIST".getBytes("US-ASCII")).putInt(listPayload.length)
      .put(listPayload)
    out.put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach { s =>
      require(s >= -(1 << 23) && s < (1 << 23), s"24-bit sample $s")
      out.put((s & 0xff).toByte).put(((s >> 8) & 0xff).toByte)
        .put(((s >> 16) & 0xff).toByte)
    }
    if ((dataSize & 1) == 1) out.put(0.toByte) // word-align the chunk
    out.array()
  }

  /** Encode mono IEEE-float WAV (format tag 3) — the writer half for
    * the float decode path. Emits the `fact` chunk the non-PCM formats
    * carry (frame count) and an 18-byte fmt (cbSize = 0), both shapes
    * real float writers emit, so every parse exercises them. */
  def encodeFloat32Mono(sampleRate: Int, samples: Array[Float]):
      Array[Byte] = {
    val dataSize = samples.length * 4
    val riffSize = 4 + (8 + 18) + (8 + 4) + (8 + dataSize)
    val out = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(18)
      .putShort(3).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * 4).putShort(4).putShort(32)
      .putShort(0) // cbSize
    out.put("fact".getBytes("US-ASCII")).putInt(4).putInt(samples.length)
    out.put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach { s =>
      require(java.lang.Float.isFinite(s), s"non-finite sample $s")
      out.putFloat(s)
    }
    out.array()
  }

  /** Encode a mono G.711 stream from raw CODE bytes (`law` 6 = A-law,
    * 7 = μ-law) — the writer half for the companded decode paths. Same
    * non-PCM container shape as the float writer (18-byte fmt with
    * cbSize 0 + a fact chunk), byte rate = sample rate (one code byte
    * per frame), word-aligned data chunk. */
  def encodeG711Mono(law: Int, sampleRate: Int,
      codes: Array[Int]): Array[Byte] = {
    require(law == 6 || law == 7, s"law $law (6=A-law, 7=mu-law)")
    val dataSize = codes.length
    val riffSize = 4 + (8 + 18) + (8 + 4) + (8 + dataSize) + (dataSize & 1)
    val out = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(18)
      .putShort(law.toShort).putShort(1).putInt(sampleRate)
      .putInt(sampleRate).putShort(1).putShort(8)
      .putShort(0) // cbSize
    out.put("fact".getBytes("US-ASCII")).putInt(4).putInt(codes.length)
    out.put("data".getBytes("US-ASCII")).putInt(dataSize)
    codes.foreach { c =>
      require(c >= 0 && c <= 255, s"code byte $c")
      out.put(c.toByte)
    }
    if ((dataSize & 1) == 1) out.put(0.toByte) // word-align the chunk
    out.array()
  }
}
