package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing: image/audio/video payloads travel as opaque
 * `binary` columns with typed metadata, processed in partition-sized
 * batches (the Scala analogue of mapInPandas batching). Decode is REAL and
 * pure-JDK: `javax.imageio.ImageIO` handles PNG/JPEG/GIF/BMP pixels and a
 * manual RIFF parse extracts WAV PCM samples — no external codec libraries.
 * Payloads ImageIO cannot read (exotic formats, raw blobs, truncated
 * containers) fall back to a deterministic byte-hash stub so the pipeline
 * shape stays total: every row yields a feature vector, never a throw.
 */
object Multimodal {

  case class MediaRecord(id: Long, payload: Array[Byte])
  case class MediaFeatures(
      id: Long, n_bytes: Long, format: String, features: Array[Float])
  /** Full decode output: `real_decode` is true when pixels/samples were
   * actually decoded (ImageIO or PCM parse), false on the stub fallback.
   * Images: features = per-channel mean then std (interleaved layout
   * documented at decodeImage); audio: normalized sample stats. */
  case class MediaDecoded(
      id: Long, n_bytes: Long, format: String, real_decode: Boolean,
      width: Int, height: Int, channels: Int, sample_rate: Int,
      n_samples: Long, features: Array[Float])
  /** Typed metadata sniffed from the container headers (REAL parsing, no
   * codec needed): -1 marks fields a format does not carry. */
  case class MediaMeta(
      id: Long, n_bytes: Long, format: String,
      width: Int, height: Int, channels: Int, sample_rate: Int)

  /**
   * Parse real container headers from the leading bytes — pure JVM, no
   * codec libraries: PNG IHDR, JPEG SOF marker scan, GIF/BMP fixed
   * headers, RIFF/WAVE fmt-chunk scan. Only the PIXEL/SAMPLE decode is
   * stubbed in this container; dimensions, channel counts, and sample
   * rates are genuinely extracted, so schema inference and
   * partition-pruning pipelines over media tables are fully real.
   * Malformed/truncated payloads degrade to ("raw", -1, ...) — never throw.
   */
  private[ops] def sniffMeta(p: Array[Byte]): (String, Int, Int, Int, Int) = {
    @inline def u8(i: Int): Int = p(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Int =
      (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Int =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def ascii(i: Int, n: Int): String =
      if (i + n <= p.length) new String(p, i, n, "US-ASCII") else ""
    try {
      if (p.length >= 26 && u8(0) == 0x89 && ascii(1, 3) == "PNG") {
        // IHDR is always first: width/height BE at 16/20, color type at 25
        val channels = u8(25) match {
          case 0 => 1 // greyscale
          case 2 => 3 // truecolor
          case 3 => 1 // palette
          case 4 => 2 // grey + alpha
          case 6 => 4 // truecolor + alpha
          case _ => -1
        }
        ("png", be32(16), be32(20), channels, -1)
      } else if (p.length >= 2 && u8(0) == 0xff && u8(1) == 0xd8) {
        // JPEG: walk the marker stream to the first SOFn frame header
        var i = 2
        var out: (String, Int, Int, Int, Int) = ("jpeg", -1, -1, -1, -1)
        var done = false
        while (!done && i + 9 < p.length) {
          if (u8(i) != 0xff) { done = true }
          else {
            val m = u8(i + 1)
            val isSof = (m >= 0xc0 && m <= 0xcf) &&
              m != 0xc4 && m != 0xc8 && m != 0xcc
            if (isSof) {
              out = ("jpeg", be16(i + 7), be16(i + 5), u8(i + 9), -1)
              done = true
            } else if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
              i += 2 // standalone marker, no length
            } else i += 2 + be16(i + 2)
          }
        }
        out
      } else if (p.length >= 10 && (ascii(0, 6) == "GIF87a" || ascii(0, 6) == "GIF89a")) {
        ("gif", le16(6), le16(8), 3, -1)
      } else if (p.length >= 26 && ascii(0, 2) == "BM") {
        // biHeight is signed: top-down BMPs store a negative height. Report
        // the magnitude so -1 stays strictly the absent-field sentinel
        // (guarding Int.MinValue, whose abs overflows back to itself).
        val rawH = le32(22)
        val h = if (rawH == Int.MinValue) -1 else math.abs(rawH)
        ("bmp", le32(18), h, 3, -1)
      } else if (p.length >= 12 && ascii(0, 4) == "RIFF" && ascii(8, 4) == "WAVE") {
        // chunk scan for "fmt ": channels LE16 at +10, rate LE32 at +12.
        // Malformed (negative/zero-advance) chunk sizes abort the scan —
        // a corrupt blob must degrade, never hang the task or throw.
        var i = 12
        var out: (String, Int, Int, Int, Int) = ("wav", -1, -1, -1, -1)
        var done = false
        while (!done && i + 16 <= p.length) {
          val id = ascii(i, 4)
          val sz = le32(i + 4)
          if (id == "fmt ") {
            out = ("wav", -1, -1, le16(i + 10), le32(i + 12))
            done = true
          } else if (sz < 0) done = true
          else i += 8 + sz + (sz & 1)
        }
        out
      } else ("raw", -1, -1, -1, -1)
    } catch {
      // covers ArrayIndexOutOfBounds AND StringIndexOutOfBounds from
      // adversarial offsets
      case _: IndexOutOfBoundsException => ("raw", -1, -1, -1, -1)
    }
  }

  /** Batched metadata extraction: one narrow mapPartitions pass parsing
   * real container headers (see sniffMeta). NO FanOut: header sniffing
   * reads a few dozen leading bytes per row — trivial CPU — so a
   * round-robin exchange of the RAW PAYLOADS costs more than the
   * parallelism buys at any scale where the exchange would fire
   * (r18 measured the FanOut form at 3.4x the floor; never shuffle
   * media bytes to parallelize cheap work). */
  def extractMetadata(
      df: DataFrame, idCol: String, binaryCol: String): Dataset[MediaMeta] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("id"), col(binaryCol).as("payload"))
      .as[MediaRecord]
      .mapPartitions { it =>
        it.map { r =>
          val payload = if (r.payload == null) Array.empty[Byte] else r.payload
          val (fmt, w, h, ch, rate) = sniffMeta(payload)
          MediaMeta(r.id, payload.length.toLong, fmt, w, h, ch, rate)
        }
      }
  }

  /** FALLBACK decode for payloads no JDK codec reads (raw blobs, exotic
   * formats, truncated containers): a deterministic feature vector from a
   * rolling hash of the payload. Keeps the pipeline total — every row
   * yields features of the requested dim, never a throw. */
  private[ops] def decodeStub(payload: Array[Byte], dim: Int): (String, Array[Float]) =
    (sniffMeta(payload)._1, stubFeatures(payload, dim))

  /** Rolling-hash feature body of the stub, format-sniff-free so callers
   * that already sniffed don't parse headers twice. */
  private def stubFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
    val feats = new Array[Float](dim)
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) {
      h = 31 * h + payload(i)
      feats(i % dim) += (h % 1000L) / 1000.0f
      i += 1
    }
    feats
  }

  /** Max pixels sampled per image for channel statistics: bounds per-row
   * CPU on pathologically large images via stride sampling (stride 1 —
   * i.e. exact stats — for anything up to 256x256). */
  private val MaxSampledPixels = 65536L

  /** REAL pixel decode via the stock JDK's `javax.imageio.ImageIO`
   * (PNG/JPEG/GIF/BMP readers ship in every JDK). Returns (width, height,
   * channels, feats) where channels = the color model's component count
   * (grey 1, RGB 3, RGBA 4; palette GIFs report their palette's 3/4) and
   * feats = [mean(R), mean(G), mean(B), mean(A), std(R), std(G), std(B),
   * std(A)] over sampled pixels in sRGB space (getRGB), so palette and
   * greyscale images yield colors, not raw indices. None when ImageIO has
   * no reader for the bytes or the container is corrupt — callers fall
   * back to decodeStub. */
  private[ops] def decodeImage(payload: Array[Byte]): Option[(Int, Int, Int, Array[Float])] = {
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val channels = img.getColorModel.getNumComponents
        if (w <= 0 || h <= 0 || channels <= 0) None
        else {
          val sum = new Array[Double](4)
          val sumSq = new Array[Double](4)
          val total = w.toLong * h
          // stride must be coprime to the width or the linear index only
          // ever visits a few columns (stride 512 on a 256-wide strip
          // samples column 0 forever); bumping to gcd(stride, w) == 1
          // makes the scan cycle through every residue class
          var stride = math.max(1L, total / MaxSampledPixels)
          @annotation.tailrec
          def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
          while (stride > 1 && gcd(stride, w.toLong) != 1L) stride += 1
          var idx = 0L
          var n = 0L
          while (idx < total) {
            val argb = img.getRGB((idx % w).toInt, (idx / w).toInt)
            var b = 0
            while (b < 4) {
              // slots 0..3 = R,G,B,A
              val v = (if (b == 3) (argb >>> 24) else (argb >>> (16 - 8 * b)) & 0xff).toDouble
              sum(b) += v
              sumSq(b) += v * v
              b += 1
            }
            n += 1
            idx += stride
          }
          val feats = new Array[Float](8)
          var b = 0
          while (b < 4) {
            val mean = sum(b) / n
            feats(b) = mean.toFloat
            feats(4 + b) = math.sqrt(math.max(0.0, sumSq(b) / n - mean * mean)).toFloat
            b += 1
          }
          Some((w, h, channels, feats))
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** REAL WAV PCM sample decode — a manual RIFF parse, no audio library.
   * Supports integer PCM (format tag 1) at 8-bit unsigned and 16-bit
   * signed little-endian. Returns (channels, sampleRate, nSamples, feats)
   * with feats = [mean, std, min, max, rms, zeroCrossingRate, 0, 0] over
   * all samples normalized to [-1, 1]; nSamples counts per-channel frames.
   * None for non-PCM encodings or malformed chunks. */
  private[ops] def decodeWav(p: Array[Byte]): Option[(Int, Int, Long, Array[Float])] = {
    @inline def u8(i: Int): Int = p(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def ascii(i: Int, n: Int): String =
      if (i + n <= p.length) new String(p, i, n, "US-ASCII") else ""
    try {
      if (p.length < 44 || ascii(0, 4) != "RIFF" || ascii(8, 4) != "WAVE") None
      else {
        var fmtTag = -1; var channels = -1; var rate = -1; var bits = -1
        var dataOff = -1; var dataLen = -1
        var i = 12
        var stop = false
        while (!stop && i + 8 <= p.length) {
          val id = ascii(i, 4)
          val sz = le32(i + 4)
          if (sz < 0) stop = true
          else {
            if (id == "fmt " && i + 24 <= p.length) {
              fmtTag = le16(i + 8); channels = le16(i + 10)
              rate = le32(i + 12); bits = le16(i + 22)
            } else if (id == "data") {
              // strict: a data chunk whose declared size runs past the
              // buffer means a truncated payload -> degrade to the stub
              if (i + 8L + sz <= p.length) { dataOff = i + 8; dataLen = sz }
              else stop = true
            }
            i += 8 + sz + (sz & 1)
          }
        }
        if (fmtTag != 1 || channels <= 0 || rate <= 0 || dataOff < 0 || dataLen <= 0 ||
            (bits != 8 && bits != 16)) None
        else {
          val bytesPer = bits / 8
          val nVals = dataLen / bytesPer
          if (nVals == 0) None
          else {
            var sum = 0.0; var sumSq = 0.0
            var mn = Double.MaxValue; var mx = Double.MinValue
            var crossings = 0L; var prevNonNeg = true
            var k = 0
            while (k < nVals) {
              val v =
                if (bits == 8) (u8(dataOff + k) - 128) / 128.0
                else le16(dataOff + 2 * k).toShort / 32768.0
              sum += v; sumSq += v * v
              if (v < mn) mn = v
              if (v > mx) mx = v
              val nonNeg = v >= 0.0
              if (k > 0 && nonNeg != prevNonNeg) crossings += 1
              prevNonNeg = nonNeg
              k += 1
            }
            val mean = sum / nVals
            val std = math.sqrt(math.max(0.0, sumSq / nVals - mean * mean))
            val rms = math.sqrt(sumSq / nVals)
            val zcr = if (nVals > 1) crossings.toDouble / (nVals - 1) else 0.0
            val feats = Array(mean.toFloat, std.toFloat, mn.toFloat, mx.toFloat,
              rms.toFloat, zcr.toFloat, 0f, 0f)
            Some((channels, rate, (nVals / channels).toLong, feats))
          }
        }
      }
    } catch { case _: IndexOutOfBoundsException => None }
  }

  /** Per-row real decode with stub fallback; shared by decodeMedia and
   * extractFeatures. `stubDim` sizes the fallback feature vector so
   * callers needing a different dim don't re-hash the payload. The
   * format is sniffed ONCE here (decodeStub takes it pre-sniffed). */
  private def decodeOne(
      id: Long, payloadOrNull: Array[Byte], stubDim: Int = 8): MediaDecoded = {
    val payload = if (payloadOrNull == null) Array.empty[Byte] else payloadOrNull
    val fmt = sniffMeta(payload)._1
    val real = fmt match {
      case "png" | "jpeg" | "gif" | "bmp" =>
        decodeImage(payload).map { case (w, h, ch, feats) =>
          MediaDecoded(id, payload.length.toLong, fmt, real_decode = true,
            w, h, ch, -1, w.toLong * h, feats)
        }
      case "wav" =>
        decodeWav(payload).map { case (ch, rate, nSamples, feats) =>
          MediaDecoded(id, payload.length.toLong, fmt, real_decode = true,
            -1, -1, ch, rate, nSamples, feats)
        }
      case _ => None
    }
    real.getOrElse {
      MediaDecoded(id, payload.length.toLong, fmt, real_decode = false,
        -1, -1, -1, -1, -1L, stubFeatures(payload, stubDim))
    }
  }

  /** Full media decode over a binary column: REAL pixel statistics via
   * ImageIO (png/jpeg/gif/bmp) and REAL PCM sample statistics via the
   * manual WAV parse, stub fallback for everything else. One narrow
   * mapPartitions pass — partition-batched like an Arrow pandas UDF, no
   * shuffle, no driver involvement. */
  def decodeMedia(
      df: DataFrame, idCol: String, binaryCol: String): Dataset[MediaDecoded] = {
    import df.sparkSession.implicits._
    // No FanOut on any Multimodal payload path (r19): a round-robin
    // exchange of raw media bytes costs more than the decode parallelism
    // it buys whenever the exchange would fire (small inputs), and is a
    // no-op at scale (the scan is already wide). r18's FanOut forms
    // measured 1.5-3.4x the pre-FanOut floors across the mm gates.
    df.select(col(idCol).cast("long").as("id"), col(binaryCol).as("payload"))
      .as[MediaRecord]
      .mapPartitions(it => it.map(r => decodeOne(r.id, r.payload)))
  }

  /** Batched feature extraction over a binary column. Routes through the
   * REAL decoders (ImageIO pixels / WAV PCM) and falls back to the
   * deterministic byte-hash stub for undecodable payloads; real-decode
   * stats are padded or truncated to `dim`. One narrow mapPartitions pass. */
  def extractFeatures(
      df: DataFrame, idCol: String, binaryCol: String, dim: Int = 16): Dataset[MediaFeatures] = {
    import df.sparkSession.implicits._
    // No FanOut: see decodeMedia — never shuffle media bytes for parallelism.
    df.select(col(idCol).cast("long").as("id"), col(binaryCol).as("payload"))
      .as[MediaRecord]
      .mapPartitions { it =>
        it.map { r =>
          val d = decodeOne(r.id, r.payload, stubDim = dim)
          val feats =
            if (d.real_decode) java.util.Arrays.copyOf(d.features, dim)
            else d.features // stub already produced at the requested dim
          MediaFeatures(r.id, d.n_bytes, d.format, feats)
        }
      }
  }

  /**
   * 64-bit audio fingerprint — the energy-envelope dHash: the decoded
   * PCM stream (the decodeWav RIFF walk, same strictness rules) splits
   * into 65 equal time windows, RMS energy per window, bit i set when
   * window i is louder than window i+1. Duration-normalized by
   * construction (windows are fractions of the clip), amplitude-scale
   * invariant (uniform gain preserves every energy comparison), robust
   * to resampling — the cheap pre-filter before any expensive acoustic
   * match. None for non-PCM / malformed payloads.
   */
  private[ops] def audioHash(p: Array[Byte]): Option[Long] = {
    @inline def u8(i: Int): Int = p(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def ascii(i: Int, n: Int): String =
      if (i + n <= p.length) new String(p, i, n, "US-ASCII") else ""
    try {
      if (p.length < 44 || ascii(0, 4) != "RIFF" || ascii(8, 4) != "WAVE")
        return None
      var fmtTag = -1; var bits = -1
      var dataOff = -1; var dataLen = -1
      var i = 12
      var stop = false
      while (!stop && i + 8 <= p.length) {
        val id = ascii(i, 4)
        val sz = le32(i + 4)
        if (sz < 0) stop = true
        else {
          if (id == "fmt " && i + 24 <= p.length) {
            fmtTag = le16(i + 8); bits = le16(i + 22)
          } else if (id == "data") {
            if (i + 8L + sz <= p.length) { dataOff = i + 8; dataLen = sz }
            else stop = true
          }
          i += 8 + sz + (sz & 1)
        }
      }
      if (fmtTag != 1 || dataOff < 0 || dataLen <= 0 ||
          (bits != 8 && bits != 16)) return None
      val bytesPer = bits / 8
      val nVals = dataLen / bytesPer
      if (nVals < 65) return None // too short for a 65-window envelope
      val windows = 65
      val energy = new Array[Double](windows)
      var k = 0
      while (k < nVals) {
        val v =
          if (bits == 8) (u8(dataOff + k) - 128) / 128.0
          else le16(dataOff + 2 * k).toShort / 32768.0
        energy(((k.toLong * windows) / nVals).toInt) += v * v
        k += 1
      }
      var hash = 0L
      var w = 0
      while (w < windows - 1) {
        if (energy(w) > energy(w + 1)) hash |= (1L << w)
        w += 1
      }
      Some(hash)
    } catch { case _: IndexOutOfBoundsException => None }
  }

  /**
   * 64-bit difference hash (dHash, the Krawetz perceptual hash): the
   * REAL decoded pixels area-average to a 9×8 grayscale grid and bit
   * (r, c) is set when cell (r, c) is brighter than its right
   * neighbor. Resilient to rescaling, recompression, and brightness
   * shifts — the things that defeat byte-level dedup on crawled
   * images — while near-duplicates differ in a few bits of Hamming
   * distance. None when ImageIO cannot decode.
   *
   * Decode cost at crawl scale: the hash only ever reads a 9×8 grid, so
   * decoding a megapixel image at full resolution buys nothing — the
   * reader is asked to SOURCE-SUBSAMPLE down to ≥ 8 px per grid cell
   * (`setSourceSubsampling`, honored inside the stock JDK codecs, so the
   * full-res pixel buffer is never allocated and JPEG skips most of its
   * IDCT work; a 4K frame decodes ~50× smaller). Images already at or
   * below the 72×64 target (the fixture corpus) decode unsubsampled —
   * bit-identical hashes to the ImageIO.read path. The stream is an
   * explicit MemoryCacheImageInputStream: the ImageIO.read convenience
   * path wraps byte streams in a FileCacheImageInputStream by default,
   * which writes every payload to a temp file before decoding — a
   * per-row disk round-trip the hot hash loop must never pay.
   */
  private[ops] def dHash(payload: Array[Byte]): Option[Long] = {
    try {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          reader.setInput(iis, true, true)
          val fullW = reader.getWidth(0)
          val fullH = reader.getHeight(0)
          if (fullW <= 0 || fullH <= 0) return None
          // >= 8 px per 9x8 grid cell after subsampling
          val sub = math.max(1, math.min(fullW / 72, fullH / 64))
          val param = reader.getDefaultReadParam
          if (sub > 1) param.setSourceSubsampling(sub, sub, 0, 0)
          val img = reader.read(0, param)
          if (img == null) None else gridBits(img)
        } finally reader.dispose()
      } finally iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The 9×8 area-average difference grid of a decoded image (the dHash
   * bit pattern; split from the decode so the subsampled and plain
   * paths share one definition). Pixels come from bulk getRGB — the
   * per-pixel getRGB(x, y) form routes every sample through ColorModel
   * dispatch (~4.6k virtual calls per frame in the near-dup hot loop);
   * the bulk form converts row-runs in the raster's native layout and
   * returns the identical ARGB ints, so the hash is bit-for-bit
   * unchanged. Normally that is ONE whole-image call (the subsampled
   * decode is ≤ ~143×128 ints), but the subsampling factor
   * `min(W/72, H/64)` floors to 1 whenever EITHER source dimension is
   * small (a 70×100000 strip decodes full size), so past a 64Ki-pixel
   * decode the fetch switches to ONE full scanline per y into a reused
   * w-int buffer, and all 9 cells of the grid row index that line —
   * identical ints, and per cell the identical pixel-addition order
   * (y outer, x inner; hash bit-for-bit unchanged, spec-pinned),
   * scratch bounded by one scanline (w ints) with one getRGB dispatch
   * per y instead of 9. */
  private def gridBits(img: java.awt.image.BufferedImage): Option[Long] = {
    if (img.getWidth <= 0 || img.getHeight <= 0) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val gw = 9
        val gh = 8
        val oneCall = w.toLong * h <= 65536L
        val px = if (oneCall) img.getRGB(0, 0, w, h, null, 0, w) else null
        val rowBuf = if (oneCall) null else new Array[Int](w)
        val cells = new Array[Double](gw * gh)
        var r = 0
        while (r < gh) {
          val y0 = (r.toLong * h / gh).toInt
          val y1 = math.max(y0 + 1, ((r + 1).toLong * h / gh).toInt)
          // pixels accumulate straight into cells(idx) one at a time, so
          // each cell's FP addition sequence is exactly the per-cell
          // loop's (y outer, x inner) — the hash cannot move
          var y = y0
          while (y < y1) {
            val run =
              if (oneCall) px
              else img.getRGB(0, y, w, 1, rowBuf, 0, w)
            val rowBase = if (oneCall) y * w else 0
            var c = 0
            while (c < gw) {
              val x0 = (c.toLong * w / gw).toInt
              val x1 = math.max(x0 + 1, ((c + 1).toLong * w / gw).toInt)
              val idx = r * gw + c
              var x = x0
              while (x < x1) {
                val argb = run(rowBase + x)
                cells(idx) += 0.299 * ((argb >>> 16) & 0xff) +
                  0.587 * ((argb >>> 8) & 0xff) + 0.114 * (argb & 0xff)
                x += 1
              }
              c += 1
            }
            y += 1
          }
          var c = 0
          while (c < gw) {
            val x0 = (c.toLong * w / gw).toInt
            val x1 = math.max(x0 + 1, ((c + 1).toLong * w / gw).toInt)
            cells(r * gw + c) /= ((y1 - y0).toLong * (x1 - x0))
            c += 1
          }
          r += 1
        }
        var bits = 0L
        var i = 0
        r = 0
        while (r < gh) {
          var c = 0
          while (c < gw - 1) {
            if (cells(r * gw + c) > cells(r * gw + c + 1)) bits |= (1L << i)
            i += 1
            c += 1
          }
          r += 1
        }
        Some(bits)
      }
  }

  case class MediaHash(id: Long, n_bytes: Long, format: String,
      real_decode: Boolean, dhash: Long)

  /** Perceptual dHash over a binary image column — REAL ImageIO decode;
   * undecodable payloads fall back to a deterministic byte-hash (flagged
   * `real_decode = false`) so the pipeline stays total. One narrow
   * mapPartitions pass, no shuffle. */
  def imageHashes(df: DataFrame, idCol: String,
      binaryCol: String): Dataset[MediaHash] = {
    import df.sparkSession.implicits._
    // No FanOut: see decodeMedia — never shuffle media bytes for parallelism.
    df.select(col(idCol).cast("long").as("id"), col(binaryCol).as("payload"))
      .as[MediaRecord]
      .mapPartitions(it => it.map { r =>
        val payload = if (r.payload == null) Array.empty[Byte] else r.payload
        val fmt = sniffMeta(payload)._1
        dHash(payload) match {
          case Some(bits) =>
            MediaHash(r.id, payload.length.toLong, fmt, real_decode = true, bits)
          case None => stubHash(r.id, payload, fmt)
        }
      })
  }

  /**
   * Image near-duplicate pairs by perceptual hash: [[imageHashes]] then
   * the SimHash pigeonhole — split the 64-bit hash into `bands` equal
   * bit-bands and equi-join on (band index, band value): any pair
   * within `maxHamming` < bands Hamming bits MUST agree on at least
   * one whole band (pigeonhole — the candidate set provably contains
   * every true pair), then the exact `bit_count(xor)` verify keeps
   * pairs at distance <= maxHamming, each once (id_a < id_b). The same
   * banded join as Dedup.simhashCandidatePairs: candidate generation is
   * an equi-join shuffle, never an all-pairs product. The call pins the
   * (id, dhash) frame in the pair operators' cache scope; release it with
   * `Dedup.unpersistAll(spark)` once the pairs are consumed.
   */
  def imageNearDupPairs(df: DataFrame, idCol: String, binaryCol: String,
      maxHamming: Int = 3, bands: Int = 4): DataFrame =
    hammingPairs(imageHashes(df, idCol, binaryCol).toDF(), maxHamming, bands)

  /** Audio sibling of [[imageNearDupPairs]]: [[audioHash]] envelope
   * fingerprints under the same pigeonhole banding + exact verify. Its
   * (id, dhash) pin is released by `Dedup.unpersistAll(spark)`. */
  def audioNearDupPairs(df: DataFrame, idCol: String, binaryCol: String,
      maxHamming: Int = 3, bands: Int = 4): DataFrame =
    hammingPairs(audioHashes(df, idCol, binaryCol).toDF(), maxHamming, bands)

  /** Envelope fingerprints over a binary WAV column; non-PCM payloads
   * fall back to the byte-hash stub flagged `real_decode = false`. */
  def audioHashes(df: DataFrame, idCol: String,
      binaryCol: String): Dataset[MediaHash] = {
    import df.sparkSession.implicits._
    // No FanOut: the envelope hash is ONE linear PCM pass per clip —
    // cheaper than round-robin-shuffling the clip bytes (r19 measured
    // the FanOut form 0.84 s vs 0.63 s without; the payload exchange
    // costs more than the decode parallelism buys).
    df.select(col(idCol).cast("long").as("id"), col(binaryCol).as("payload"))
      .as[MediaRecord]
      .mapPartitions(it => it.map { r =>
        val payload = if (r.payload == null) Array.empty[Byte] else r.payload
        val fmt = sniffMeta(payload)._1
        audioHash(payload) match {
          case Some(bits) =>
            MediaHash(r.id, payload.length.toLong, fmt, real_decode = true, bits)
          case None => stubHash(r.id, payload, fmt)
        }
      })
  }

  private def stubHash(id: Long, payload: Array[Byte], fmt: String): MediaHash = {
    val f = stubFeatures(payload, 4)
    val bits = f.zipWithIndex.foldLeft(0L) { case (acc, (v, i)) =>
      acc | ((java.lang.Float.floatToIntBits(v).toLong & 0xffffL) << (16 * i))
    }
    MediaHash(id, payload.length.toLong, fmt, real_decode = false, bits)
  }

  /** Banded Hamming pairs over a (id, dhash, real_decode) hash frame —
   * the SimHash pigeonhole: maxHamming < bands guarantees a matching whole
   * band ([[Dedup.pigeonholeBands]]), so candidates provably contain every
   * true pair; exact bit_count(xor) verifies. The candidate join is
   * [[Dedup.bandPairs]], the one every Dedup band operator uses, without
   * a hot-bucket cap (`Int.MaxValue`). Stub hashes (identity-only, not
   * perceptual) are excluded. */
  private def hammingPairs(hashFrame: DataFrame, maxHamming: Int,
      bands: Int): DataFrame = {
    require(bands >= 1 && 64 % bands == 0,
      s"bands must divide 64, got $bands")
    require(maxHamming >= 0 && maxHamming < bands,
      s"pigeonhole needs maxHamming < bands, got $maxHamming vs $bands")
    // Pin the (id, dhash) frame: the banded candidate join is a SELF-join,
    // so without a pin each side re-evaluates the upstream decode
    // mapPartitions — every image/clip/video decoded TWICE. The pinned
    // frame is 16 bytes/row (ids + hashes, payloads projected away), so
    // the cache is negligible while the decode CPU halves. Tracked under
    // CacheScope.Ops like the Dedup pair operators' signature pins, and
    // released by the same owner, `Dedup.unpersistAll(spark)`.
    val hashes = CacheScope.track(hashFrame.filter(col("real_decode"))
      .select(col("id"), col("dhash")))
    Dedup.bandPairs(hashes, Seq("dhash"), Int.MaxValue, "hammingPairs",
        bandsOf = Dedup.withBands(_, Dedup.pigeonholeBands(col("dhash"), bands)))
      .select(col("id_a"), col("id_b"),
        bit_count(col("dhash_a").bitwiseXOR(col("dhash_b"))).cast("long").as("hamming"))
      .distinct() // a close pair can agree on several bands
      .filter(col("hamming") <= maxHamming)
  }

  /** Byte offsets of every PNG signature (89 50 4E 47 0D 0A 1A 0A) in a
   * concatenated-PNG frame stream — the pure-JVM stand-in for a video
   * container (real mp4/h264 demux is not pure-JVM; the SPARK side —
   * schema, narrow per-row split, per-frame decode, banded pair join —
   * is identical either way and is what this tier exercises). */
  private[ops] def pngFrameOffsets(p: Array[Byte]): Array[Int] = {
    val sig = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a,
      0x1a, 0x0a)
    val out = scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    while (i <= p.length - sig.length) {
      var j = 0
      while (j < sig.length && p(i + j) == sig(j)) j += 1
      if (j == sig.length) { out += i; i += sig.length } else i += 1
    }
    out.toArray
  }

  case class VideoHash(id: Long, n_bytes: Long, n_frames: Int,
      n_sampled: Int, n_decoded: Int, real_decode: Boolean, dhash: Long)

  /**
   * Per-video perceptual fingerprint: split the concatenated-PNG stream
   * into frames ([[pngFrameOffsets]]), SAMPLE every `everyNth` frame
   * (the standard video-dedup economy — neighboring frames are
   * near-identical, decoding all of them buys nothing), dHash each
   * sampled frame with the REAL ImageIO decode, then majority-vote the
   * 64 bit positions across frames into one video-level signature (the
   * SimHash aggregation: bit b is set iff at least half the sampled
   * frames set it — deterministic, order-free, robust to a minority of
   * divergent frames). Videos where NO frame decodes fall back to the
   * deterministic byte-hash stub flagged `real_decode = false`, which
   * [[videoNearDupPairs]] excludes from pairing (identity-only, not
   * perceptual). One narrow map per row — frames never shuffle; the
   * only cross-row traffic downstream is the 64-bit signature frame.
   */
  def videoHashes(df: DataFrame, idCol: String, binaryCol: String,
      everyNth: Int = 2): Dataset[VideoHash] = {
    require(everyNth >= 1, s"everyNth must be >= 1: $everyNth")
    import df.sparkSession.implicits._
    // No FanOut: see decodeMedia — never shuffle media bytes for parallelism.
    df.select(col(idCol).cast("long").as("id"), col(binaryCol).as("payload"))
      .as[MediaRecord]
      .mapPartitions(it => it.map { r =>
        val payload = if (r.payload == null) Array.empty[Byte] else r.payload
        val offs = pngFrameOffsets(payload)
        val sampled = offs.indices.by(everyNth).toArray
        val counts = new Array[Int](64)
        var decoded = 0
        sampled.foreach { fi =>
          val from = offs(fi)
          val until = if (fi + 1 < offs.length) offs(fi + 1) else payload.length
          dHash(java.util.Arrays.copyOfRange(payload, from, until)) match {
            case Some(bits) =>
              decoded += 1
              var b = 0
              while (b < 64) {
                if (((bits >>> b) & 1L) == 1L) counts(b) += 1
                b += 1
              }
            case None => ()
          }
        }
        if (decoded == 0) {
          val stub = stubHash(r.id, payload, "png-stream")
          VideoHash(r.id, payload.length.toLong, offs.length, sampled.length,
            0, real_decode = false, stub.dhash)
        } else {
          var bits = 0L
          var b = 0
          while (b < 64) {
            if (2 * counts(b) >= decoded) bits |= (1L << b)
            b += 1
          }
          VideoHash(r.id, payload.length.toLong, offs.length, sampled.length,
            decoded, real_decode = true, bits)
        }
      })
  }

  /** Video sibling of [[imageNearDupPairs]]: majority-vote frame-dHash
   * signatures ([[videoHashes]]) under the same pigeonhole banding +
   * exact bit_count verify — candidates from an equi-join on
   * (band, band-bits), never an all-pairs product. Its (id, dhash) pin
   * is released by `Dedup.unpersistAll(spark)`. */
  def videoNearDupPairs(df: DataFrame, idCol: String, binaryCol: String,
      maxHamming: Int = 3, bands: Int = 4, everyNth: Int = 2): DataFrame =
    hammingPairs(videoHashes(df, idCol, binaryCol, everyNth).toDF()
      .select(col("id"), col("real_decode"), col("dhash")),
      maxHamming, bands)

  /** Frame-sampling plumbing for "video": split a payload into fixed-size
   * chunks (stand-in for frames), explode to one row per sampled frame. */
  def sampleFrames(
      df: DataFrame, idCol: String, binaryCol: String,
      frameBytes: Int = 256, everyNth: Int = 4): DataFrame = {
    import df.sparkSession.implicits._
    // No FanOut: see decodeMedia — never shuffle media bytes for parallelism.
    df.select(col(idCol).cast("long").as("id"), col(binaryCol).as("payload"))
      .as[MediaRecord]
      .flatMap { r =>
        val payload = if (r.payload == null) Array.empty[Byte] else r.payload
        val nFrames = math.max(1, payload.length / frameBytes)
        (0 until nFrames by everyNth).map { f =>
          val from = f * frameBytes
          val until = math.min(payload.length, from + frameBytes)
          (r.id, f, java.util.Arrays.copyOfRange(payload, from, until))
        }
      }
      .toDF(idCol, "frame_idx", "frame_payload")
  }
}
