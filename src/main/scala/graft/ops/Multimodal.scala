package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, decoded/feature-extracted in one
  * partition pass.
  *
  * The Spark-side machinery — schema, partition sizing, the streaming
  * decode pass (the Scala analog of `mapInPandas`), typed Datasets —
  * is real and tested. IMAGE decode is REAL (JDK
  * `javax.imageio`: PNG/JPEG/BMP/GIF, zero external deps) — dimensions
  * plus a downsampled-luminance grid embedding. AUDIO decode is REAL
  * (JDK `javax.sound.sampled`: WAV/AIFF/AU PCM containers, µ-law/a-law
  * via the JDK transcoder) — sample rate, duration, and a classical
  * mel-filterbank MFCC over Hann-windowed FFT frames. VIDEO frame
  * extraction is REAL for MJPEG-in-AVI (a hand-rolled RIFF container
  * parse + per-frame `javax.imageio` JPEG decode — the one mainstream
  * video format expressible in the pure JDK). Payloads in codecs the
  * JDK cannot decode, and null payloads, are skipped, never
  * fabricated: swapping in ffmpeg bindings changes only the decode
  * functions, not the pipeline.
  */
object Multimodal {

  // ImageIO's default decode path spools through a disk-backed
  // ImageInputStream cache — per-row temp-file churn on executors.
  // Payloads are already in memory; keep decode in memory too.
  javax.imageio.ImageIO.setUseCache(false)

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRow(
      media_id: Long,
      mime: String,
      content: Array[Byte])

  final case class ImageFeatures(
      media_id: Long,
      width: Int,
      height: Int,
      embedding: Array[Float])

  final case class AudioFeatures(
      media_id: Long,
      sampleRate: Int,
      durationMs: Long,
      mfcc: Array[Float])

  final case class VideoFrameSample(
      media_id: Long,
      frameIndex: Int,
      frameHash: Long)

  /** The one decode pass behind every media operator: repartition when
    * `repartitionTo` asks (it caps rows per task so a partition of
    * large blobs fits in executor memory — the knob you size from
    * payload stats), then stream each payload through `f` in a single
    * `mapPartitions`: no shuffle, one payload live at a time. */
  private def decodePass[T: Encoder](ds: Dataset[MediaRow],
      repartitionTo: Option[Int] = None)(f: MediaRow => IterableOnce[T]): Dataset[T] =
    repartitionTo.map(ds.repartition(_)).getOrElse(ds).mapPartitions(_.flatMap(f))

  /** Sets bit (row·8 + col) of a 64-bit hash for every cell of an 8×8
    * grid where `rises(row, col)` — the sign-of-delta packer behind
    * [[dHash64]], [[audioFingerprint64]] and the grid generators'
    * replays. */
  private def deltaBits(rises: (Int, Int) => Boolean): Long = {
    var h = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (rises(r, c)) h |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    h
  }

  // ==== IMAGE DECODE (real, JDK javax.imageio) ======================

  /** Decode an image payload (PNG/JPEG/BMP/GIF — whatever the JVM's
    * registered ImageReaders cover) into (width, height, embedding).
    * The embedding is a g×g mean-luminance grid (g = ceil(sqrt(dim)),
    * first `dim` cells, ITU-R BT.601 luma, normalized to [0,1]) — the
    * cheap classical stand-in for a model embedding; a real deployment
    * swaps the grid for a model forward pass in the same decode pass.
    * Returns None when the bytes are not a decodable image.
    */
  def decodeImage(content: Array[Byte], dim: Int = 16): Option[(Int, Int, Array[Float])] =
    if (content == null) None else decodeImage(content, 0, content.length, dim)

  /** Slice variant — decodes `content(off until off+len)` without
    * copying (frame payloads inside a video container). */
  private[graft] def decodeImage(content: Array[Byte], off: Int, len: Int,
      dim: Int): Option[(Int, Int, Array[Float])] =
    readImage(content, off, len).map { img =>
      val g = math.ceil(math.sqrt(dim.toDouble)).toInt
      val grid = lumaGrid(img, g, g)
      val emb = Array.tabulate(dim) { j =>
        if (j < g * g) (grid(j) / 255.0).toFloat else 0f
      }
      (img.getWidth, img.getHeight, emb)
    }

  /** Read `content(off until off+len)` with the JVM's registered
    * ImageReaders, without copying — the one ImageIO entry point of
    * every image and video-frame decoder. None when the bytes are not
    * a decodable image. */
  private def readImage(content: Array[Byte], off: Int, len: Int)
      : Option[java.awt.image.BufferedImage] =
    (try Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(content, off, len)))
    catch { case _: Exception => None })
      .filter(img => img.getWidth > 0 && img.getHeight > 0)

  /** Encode an image with ImageIO's default writer for `format` — the
    * shared tail of [[resizeImage]] and the synthetic generators. */
  private def encode(img: java.awt.image.RenderedImage, format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  /** Area-averaged BT.601 luma grid (gw×gh cells, values 0..255) of a
    * decoded image — the shared pixel pass behind [[decodeImage]]'s
    * embedding and [[dHash64]]. Reads pixels one BULK row at a time
    * (`getRGB(0, y, w, 1, ...)`): per-pixel getRGB pays a ColorModel
    * conversion call per pixel, ~an order of magnitude slower on
    * megapixel corpus images, while a full-frame buffer would cost
    * w×h×4 bytes; one row bounds memory at O(w). Cells no pixel maps
    * to (images narrower than the grid) stay 0. */
  private def lumaGrid(img: java.awt.image.BufferedImage, gw: Int, gh: Int): Array[Double] = {
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Double](gw * gh)
    val counts = new Array[Long](gw * gh)
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      val cy = y * gh / h
      var x = 0
      while (x < w) {
        val rgb = row(x)
        val luma = 0.299 * ((rgb >> 16) & 0xff) +
          0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
        val c = cy * gw + (x * gw / w)
        sums(c) += luma
        counts(c) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(gw * gh)(i => if (counts(i) > 0) sums(i) / counts(i) else 0.0)
  }

  /** 64-bit difference hash (dHash) of an image payload: decode,
    * area-average the luma into a 9×8 grid, set bit (y·8 + x) when the
    * right-hand neighbor cell is brighter. The classic perceptual
    * near-dup key for image corpora — stable across re-encoding
    * (PNG↔JPEG), mild compression, and uniform rescaling, because the
    * grid averages away everything but the coarse gradient structure.
    * Pair it with [[Dedup.hammingPairs64]] for corpus-scale image
    * dedup. None when the bytes are not a decodable image. */
  def dHash64(content: Array[Byte]): Option[Long] =
    if (content == null) None else dHash64(content, 0, content.length)

  /** Slice variant — hashes a frame payload inside a video container
    * without copying it out. */
  private def dHash64(content: Array[Byte], off: Int, len: Int): Option[Long] =
    readImage(content, off, len).map { img =>
      val g = lumaGrid(img, 9, 8)
      deltaBits((y, x) => g(y * 9 + x + 1) > g(y * 9 + x))
    }

  /** Deterministic area-average resize of an image payload to
    * `outW`×`outH`, re-encoded as PNG (lossless, so chained transforms
    * don't compound codec error). Pure pixel math per RGB channel —
    * NOT Graphics2D interpolation, whose rendering-pipeline output is
    * not pinned across JVM versions — so the same input produces
    * bit-identical output on every executor. None when the bytes are
    * not a decodable image. */
  def resizeImage(content: Array[Byte], outW: Int, outH: Int): Option[Array[Byte]] = {
    require(outW > 0 && outH > 0, "target dimensions must be positive")
    // fail fast on the driver: outW*outH cells must index an Int array
    // (and the per-axis bound keeps every x*outW / i*w product inside
    // Long trivially; 2^26 cells = a 64-megapixel target, far beyond
    // any model input resolution)
    require(outW.toLong * outH <= (1L << 26),
      s"target $outW x $outH exceeds the 2^26-pixel resize bound")
    Option(content).flatMap(c => readImage(c, 0, c.length)).map { img =>
      val w = img.getWidth
      val h = img.getHeight
      val n = outW * outH
      val rs = new Array[Double](n)
      val gs = new Array[Double](n)
      val bs = new Array[Double](n)
      val counts = new Array[Long](n)
      val row = new Array[Int](w)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, row, 0, w)
        // long intermediates: y*outH and x*outW overflow Int for
        // megapixel sources at large targets
        val cy = (y.toLong * outH / h).toInt
        var x = 0
        while (x < w) {
          val rgb = row(x)
          val c = cy * outW + (x.toLong * outW / w).toInt
          rs(c) += (rgb >> 16) & 0xff
          gs(c) += (rgb >> 8) & 0xff
          bs(c) += rgb & 0xff
          counts(c) += 1
          x += 1
        }
        y += 1
      }
      val out = new java.awt.image.BufferedImage(
        outW, outH, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var i = 0
      while (i < n) {
        // upscales leave cells no source pixel maps to: fill from the
        // nearest source pixel (same integer cell mapping, inverted)
        val (r, g, b) =
          if (counts(i) > 0)
            (math.round(rs(i) / counts(i)).toInt,
              math.round(gs(i) / counts(i)).toInt,
              math.round(bs(i) / counts(i)).toInt)
          else {
            val sx = math.min(w - 1, ((i % outW).toLong * w / outW).toInt)
            val sy = math.min(h - 1, ((i / outW).toLong * h / outH).toInt)
            val rgb = img.getRGB(sx, sy)
            ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
          }
        out.setRGB(i % outW, i / outW, r << 16 | g << 8 | b)
        i += 1
      }
      encode(out, "png")
    }
  }

  /** Resize every decodable image in a media frame to `w`×`h` in the
    * standard decode pass — the preprocessing step a
    * vision-model training pipeline runs before feature extraction.
    * Non-image payloads (audio, video, corrupt bytes) pass through
    * UNCHANGED: a resize stage must not drop or fabricate media. */
  def resizeImages(ds: Dataset[MediaRow], w: Int, h: Int,
      repartitionTo: Option[Int] = None): Dataset[MediaRow] = {
    // validate on the DRIVER at call time: inside the lazy partition
    // pass the same requires would fire per-task after upstream stages
    // already ran
    require(w > 0 && h > 0, "target dimensions must be positive")
    require(w.toLong * h <= (1L << 26),
      s"target $w x $h exceeds the 2^26-pixel resize bound")
    import ds.sparkSession.implicits._
    decodePass(ds, repartitionTo)(m => Some(resizeImage(m.content, w, h) match {
      case Some(resized) => m.copy(mime = "image/png", content = resized)
      case None          => m
    }))
  }

  // ==== AUDIO DECODE (real, JDK javax.sound.sampled) ================

  /** FFT frame length for MFCC analysis (power of two). */
  private val FftSize = 1024
  private val HopSize = FftSize / 2
  /** Triangular mel filters in the MFCC filterbank. */
  private val NMelFilters = 26
  /** Mono samples analyzed per clip — bounds per-row CPU/memory no
    * matter how long the payload claims to be (duration still comes
    * from the container header, not from this capped read). */
  private val MaxAnalysisSamples = 65536

  /** Upper bound on the channel count accepted from an audio header.
    * The read buffer is sized from this field, so an unclamped value
    * lets a crafted 44-byte WAV claiming 65535 channels allocate
    * ~134 MB per row — and the resulting OutOfMemoryError is an Error,
    * which the decoders' `catch Exception => None` contract does not
    * cover. Real multichannel masters top out well under this. */
  private val MaxAudioChannels = 64

  /** Decode an audio payload (WAV/AIFF/AU — whatever the JVM's
    * registered AudioFileReaders cover; µ-law/a-law and 8-bit PCM are
    * transcoded to 16-bit signed via the JDK converter) into
    * (sampleRate, durationMs, mfcc). The mfcc is a REAL classical
    * MFCC: Hann-windowed [[FftSize]]-point FFT frames (hop
    * [[HopSize]]) over the first [[MaxAnalysisSamples]] channel-mixed
    * mono samples, power spectra averaged across frames,
    * [[NMelFilters]] triangular mel filters, log energies, DCT-II,
    * first `coeffs` coefficients — the cheap classical stand-in for a
    * model embedding; a real deployment swaps the filterbank for a
    * model forward pass in the same decode pass. Returns None when the
    * bytes are not decodable audio.
    */
  def decodeAudio(content: Array[Byte], coeffs: Int = 13): Option[(Int, Long, Array[Float])] =
    decodePcmMono(content).map { case (sr, durationMs, mono, n) =>
      (sr, durationMs, melCepstrum(mono, n, sr, coeffs))
    }

  /** The shared audio decode: (sampleRate, durationMs, channel-mixed
    * mono samples, sample count) — feeds both [[decodeAudio]]'s MFCC
    * and [[audioFingerprint64]]. None when not decodable audio. */
  private def decodePcmMono(content: Array[Byte])
      : Option[(Int, Long, Array[Double], Int)] =
    try {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val ais = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(content))
      try {
        val fmt = ais.getFormat
        val sr = math.round(fmt.getSampleRate)
        val durationMs =
          if (ais.getFrameLength >= 0 && fmt.getFrameRate > 0)
            math.round(ais.getFrameLength * 1000.0 / fmt.getFrameRate)
          else 0L
        // normalize to signed 16-bit little-endian PCM; the JDK
        // converter handles encodings, NOT channel mixing, so keep the
        // channel count and mix to mono ourselves below
        val pcm =
          if (fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED &&
            fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian) ais
          else AudioSystem.getAudioInputStream(
            new AudioFormat(fmt.getSampleRate, 16, fmt.getChannels, true, false), ais)
        val ch = pcm.getFormat.getChannels
        // the read buffer is sized from the header-claimed channel
        // count — reject implausible claims before allocating
        if (ch < 1 || ch > MaxAudioChannels) None
        else {
          val frameBytes = 2 * ch
          // size the sample buffer from the container's frame count (PCM
          // transcoding preserves it) — a fixed 64Ki doubles would waste
          // 512KB of garbage per 100ms clip in the decode pass
          val cap = {
            val fl = ais.getFrameLength
            if (fl >= 0 && fl < MaxAnalysisSamples) fl.toInt else MaxAnalysisSamples
          }
          val mono = new Array[Double](cap)
          val buf = new Array[Byte](frameBytes * 1024)
          var n = 0
          var read = pcm.read(buf)
          while (read > 0 && n < cap) {
            var off = 0
            while (off + frameBytes <= read && n < cap) {
              var s = 0.0
              var c = 0
              while (c < ch) {
                // little-endian signed 16-bit: high byte carries the sign
                s += ((buf(off + 2 * c + 1).toInt << 8) | (buf(off + 2 * c) & 0xff)) / 32768.0
                c += 1
              }
              mono(n) = s / ch
              n += 1
              off += frameBytes
            }
            read = if (n < cap) pcm.read(buf) else -1
          }
          Some((sr, durationMs, mono, n))
        }
      } finally ais.close()
    } catch { case _: Exception => None }

  /** MFCC of `samples(0 until n)`: averaged FFT power spectrum → mel
    * filterbank → log → DCT-II → first `coeffs` coefficients. */
  private def melCepstrum(samples: Array[Double], n: Int, sampleRate: Int,
      coeffs: Int): Array[Float] = {
    val logE = melBandEnergies(samples, 0, n, sampleRate, NMelFilters)
    Array.tabulate(coeffs) { j =>
      var s = 0.0
      var k = 0
      while (k < NMelFilters) {
        s += logE(k) * math.cos(math.Pi * j * (k + 0.5) / NMelFilters)
        k += 1
      }
      s.toFloat
    }
  }

  /** Log mel-band energies of `samples(from until until)`:
    * Hann-windowed [[FftSize]]-point FFT frames over the span (one
    * zero-padded frame when it is shorter than a window), power
    * spectra averaged, `nBands` triangular mel filters, log. The
    * shared spectral core of [[melCepstrum]] (full-clip, 26 bands →
    * DCT) and [[audioFingerprint64]] (per-segment, 8 bands →
    * sign-of-delta bits). */
  private def melBandEnergies(samples: Array[Double], from: Int, until: Int,
      sampleRate: Int, nBands: Int): Array[Double] = {
    val nBins = FftSize / 2 + 1
    val hann = Array.tabulate(FftSize)(i =>
      0.5 - 0.5 * math.cos(2 * math.Pi * i / (FftSize - 1)))
    val power = new Array[Double](nBins)
    val re = new Array[Double](FftSize)
    val im = new Array[Double](FftSize)
    var frames = 0
    var start = from
    // at least one (zero-padded) frame even for spans shorter than a
    // window; thereafter only full windows
    while (frames == 0 || start + FftSize <= until) {
      var i = 0
      while (i < FftSize) {
        re(i) = if (start + i < until) samples(start + i) * hann(i) else 0.0
        im(i) = 0.0
        i += 1
      }
      fft(re, im)
      i = 0
      while (i < nBins) {
        power(i) += (re(i) * re(i) + im(i) * im(i)) / FftSize
        i += 1
      }
      frames += 1
      start += HopSize
    }
    val melMax = mel(sampleRate / 2.0)
    // filter m spans bin(m)..bin(m+2), triangular peak at bin(m+1)
    val binOf = Array.tabulate(nBands + 2)(i =>
      math.min(nBins - 1,
        math.round(imel(melMax * i / (nBands + 1)) * FftSize / sampleRate).toInt))
    Array.tabulate(nBands) { m =>
      val lo = binOf(m); val cm = binOf(m + 1); val hi = binOf(m + 2)
      var e = 0.0
      var b = lo
      while (b <= hi) {
        val w =
          if (b < cm) { if (cm > lo) (b - lo).toDouble / (cm - lo) else 1.0 }
          else { if (hi > cm) (hi - b).toDouble / (hi - cm) else 1.0 }
        e += w * power(b)
        b += 1
      }
      math.log(math.max(e / math.max(frames, 1), 1e-12))
    }
  }

  /** Hz to mel and back (the HTK formula) — the scale of
    * [[melBandEnergies]]' filters and of [[syntheticGridWav]]'s tones. */
  private def mel(f: Double) = 2595.0 * math.log10(1.0 + f / 700.0)
  private def imel(m: Double) = 700.0 * (math.pow(10.0, m / 2595.0) - 1.0)

  /** 64-bit temporal-spectral audio fingerprint (the audio sibling of
    * [[dHash64]]): the clip's first [[MaxAnalysisSamples]] mono
    * samples split into 9 equal time segments, 8 triangular mel-band
    * log energies per segment, bit (t·8 + m) set when band m RISES
    * from segment t to t+1. Sign-of-delta over LOG energies is exactly
    * invariant to uniform gain (a constant log shift cancels in every
    * delta) and to lossless re-encoding (same PCM → same bits), while
    * different spectral-temporal structure flips many bits — pair with
    * [[Dedup.hammingPairs64]] for corpus-scale audio near-dup dedup.
    * None when the bytes are not decodable audio. */
  def audioFingerprint64(content: Array[Byte]): Option[Long] =
    decodePcmMono(content).map { case (sr, _, mono, n) =>
      // empty segments (clips shorter than 9 samples, or empty audio)
      // fall through to the zero-padded single frame -> floor energies
      val e = Array.tabulate(9) { t =>
        val from = (t.toLong * n / 9).toInt
        val until = ((t + 1).toLong * n / 9).toInt
        melBandEnergies(mono, from, math.max(until, from), sr, 8)
      }
      deltaBits((t, m) => e(t + 1)(m) > e(t)(m))
    }

  /** In-place iterative radix-2 FFT (lengths must be a power of two —
    * only ever called with [[FftSize]]). */
  private def fft(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    var i = 1
    var j = 0
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = -2.0 * math.Pi / len
      val wr = math.cos(ang)
      val wi = math.sin(ang)
      var s = 0
      while (s < n) {
        var cr = 1.0
        var ci = 0.0
        var k = 0
        val half = len >> 1
        while (k < half) {
          val ur = re(s + k); val ui = im(s + k)
          val xr = re(s + k + half); val xi = im(s + k + half)
          val vr = xr * cr - xi * ci
          val vi = xr * ci + xi * cr
          re(s + k) = ur + vr; im(s + k) = ui + vi
          re(s + k + half) = ur - vr; im(s + k + half) = ui - vi
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr
          cr = ncr
          k += 1
        }
        s += len
      }
      len <<= 1
    }
  }

  // ==== VIDEO DECODE (real for MJPEG-in-AVI, pure JDK) ==============

  /** Per-frame features of a really-decoded video frame. */
  final case class VideoFrameFeatures(
      media_id: Long,
      frameIndex: Int,
      width: Int,
      height: Int,
      embedding: Array[Float])

  private def fourcc(b: Array[Byte], off: Int): String =
    if (off + 4 <= b.length)
      new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    else ""

  private def le32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  /** Parse an AVI (RIFF) container and return the (offset, length) of
    * each video frame chunk payload — `##dc`/`##db` chunks inside the
    * `movi` LIST (including nested `rec ` LISTs) — WITHOUT decoding
    * them. None when the bytes are not an AVI. For MJPEG files each
    * slice is a standalone JPEG that [[decodeImage]] can decode. */
  private[graft] def aviFrameChunks(content: Array[Byte]): Option[Vector[(Int, Int)]] = {
    if (content == null || content.length < 12 || fourcc(content, 0) != "RIFF" ||
      fourcc(content, 8) != "AVI ") return None
    val frames = Vector.newBuilder[(Int, Int)]
    def isFrameId(id: String): Boolean =
      id.length == 4 && id(0).isDigit && id(1).isDigit &&
        (id.endsWith("db") || id.endsWith("dc"))
    // walk chunk runs with an EXPLICIT stack, collecting frames inside
    // the movi LIST (frame chunks only ever live there or in its rec
    // sublists). Explicit because recursion depth would otherwise be
    // attacker-controlled: a payload of nested 12-byte LIST headers
    // drives a recursive walk thousands of frames deep, and the
    // resulting StackOverflowError is an Error no decoder-contract
    // caller catches. (pos, until, inMovi) per pending run.
    var stack = List((12, content.length, false))
    while (stack.nonEmpty) {
      val (p, until, inMovi) = stack.head
      stack = stack.tail
      if (p + 8 <= until) {
        val id = fourcc(content, p)
        val size = le32(content, p + 4)
        if (size >= 0 && size <= until - p - 8) { // corrupt size: drop run
          val sz = size.toInt
          // rest of this run resumes after the current chunk
          stack = (p + 8 + sz + (sz & 1), until, inMovi) :: stack
          if (id == "LIST" && sz >= 4) {
            val listType = fourcc(content, p + 8)
            stack = (p + 12, p + 8 + sz,
              inMovi || listType == "movi" || listType == "rec ") :: stack
          } else if (inMovi && isFrameId(id) && sz > 0) {
            frames += ((p + 8, sz))
          }
        }
      }
    }
    Some(frames.result())
  }

  /** (frame index, offset, length) of every `stride`-th frame chunk
    * among the first `limit` of an AVI payload — the frame sampling of
    * [[videoFrameFeatures]], [[sampleFrames]] and the min-frame hash.
    * Empty when the bytes are not an AVI. */
  private def frameSlices(content: Array[Byte], stride: Int,
      limit: Int = Int.MaxValue): IndexedSeq[(Int, Int, Int)] =
    aviFrameChunks(content).toIndexedSeq.flatMap { chunks =>
      (0 until math.min(limit, chunks.length) by stride).map { i =>
        val (off, len) = chunks(i)
        (i, off, len)
      }
    }

  /** Decode + feature-extract every `stride`-th video frame in the
    * decode pass: REAL for MJPEG-in-AVI payloads (RIFF parse +
    * ImageIO JPEG decode per sampled frame — undecodable or missing
    * frames are skipped, never fabricated); non-AVI payloads emit
    * nothing. Frame features are the same luminance-grid embedding as
    * [[imageFeatures]], so image and video frames land in one
    * comparable feature space (the classical precursor to a shared
    * multimodal model embedding). */
  def videoFrameFeatures(ds: Dataset[MediaRow], stride: Int = 1,
      maxFrames: Int = Int.MaxValue, dim: Int = 16,
      repartitionTo: Option[Int] = None): Dataset[VideoFrameFeatures] = {
    require(stride >= 1, s"frame stride must be >= 1 (got $stride)")
    import ds.sparkSession.implicits._
    decodePass(ds, repartitionTo)(m =>
      frameSlices(m.content, stride).take(maxFrames).flatMap { case (i, off, len) =>
        decodeImage(m.content, off, len, dim).map { case (w, h, emb) =>
          VideoFrameFeatures(m.media_id, i, w, h, emb) }
      })
  }

  // ==== pipeline operators ==========================================

  /** Decode + feature-extract images in the decode pass. Payloads
    * [[decodeImage]] cannot parse (corrupt files, formats without a
    * registered reader) are skipped, never fabricated. `repartitionTo`
    * caps rows per task so a partition of large blobs fits in executor
    * memory (at 100 TB of media this matters more than anything else
    * here). */
  def imageFeatures(ds: Dataset[MediaRow], dim: Int = 16,
      repartitionTo: Option[Int] = None): Dataset[ImageFeatures] = {
    import ds.sparkSession.implicits._
    decodePass(ds, repartitionTo)(m =>
      decodeImage(m.content, dim).map { case (w, h, emb) =>
        ImageFeatures(m.media_id, w, h, emb) })
  }

  /** Decode + feature-extract audio in the decode pass: real JDK
    * decode ([[decodeAudio]]); undecodable payloads (corrupt files,
    * compressed codecs without a registered reader) are skipped, as in
    * [[imageFeatures]]. */
  def audioFeatures(ds: Dataset[MediaRow], coeffs: Int = 13,
      repartitionTo: Option[Int] = None): Dataset[AudioFeatures] = {
    import ds.sparkSession.implicits._
    decodePass(ds, repartitionTo)(m =>
      decodeAudio(m.content, coeffs).map { case (sr, dur, mfcc) =>
        AudioFeatures(m.media_id, sr, dur, mfcc) })
  }

  /** Sample every `stride`-th frame among the first `frames` as a
    * compact dedup hash: REAL for MJPEG-in-AVI payloads (frame hash =
    * FNV-style hash of the DECODED pixel data, so re-encoded
    * byte-identical frames collide exactly); non-AVI payloads and
    * undecodable frames emit nothing. [[videoFrameFeatures]] is the
    * full-feature variant. */
  def sampleFrames(ds: Dataset[MediaRow], frames: Int, stride: Int): Dataset[VideoFrameSample] = {
    require(stride >= 1, s"frame stride must be >= 1 (got $stride)")
    import ds.sparkSession.implicits._
    decodePass(ds)(m =>
      frameSlices(m.content, stride, frames).flatMap { case (i, off, len) =>
        decodedPixelHash(m.content, off, len)
          .map(h => VideoFrameSample(m.media_id, i, h))
      })
  }

  /** FNV-style hash over a frame's decoded ARGB pixels (row-major) —
    * a content hash of what the codec produced, not of the container
    * bytes. None when the bytes are not a decodable image. */
  private def decodedPixelHash(imageBytes: Array[Byte], off: Int, len: Int): Option[Long] =
    readImage(imageBytes, off, len).map { img =>
      val w = img.getWidth
      // bulk row reads, like lumaGrid: per-pixel getRGB pays a
      // ColorModel conversion call per pixel
      val row = new Array[Int](w)
      var h = 1469598103934665603L
      var y = 0
      while (y < img.getHeight) {
        img.getRGB(0, y, w, 1, row, 0, w)
        var x = 0
        while (x < w) {
          h = (h ^ row(x)) * 1099511628211L
          x += 1
        }
        y += 1
      }
      h
    }

  /** Read a directory of binary media files with Spark's binaryFile
    * source (path/modificationTime/length/content schema), mapped into
    * [[MediaRow]]. Pushdown: `pathGlobFilter` prunes at listing time. */
  def readBinaryDir(spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(path)
      .select(
        xxhash64(col("path")).as("media_id"),
        regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1).as("ext"),
        col("length"),
        col("content"))

  /** Bridge a [[readBinaryDir]] frame into typed [[MediaRow]]s — the
    * mime is derived from the file extension scan-side (no UDF), so
    * `readBinaryDir |> asMediaRows |> *Features` is the whole
    * files-on-disk ingestion pipeline. */
  def asMediaRows(df: DataFrame): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    val e = lower(col("ext"))
    df.select(
      col("media_id"),
      when(e.isin("png", "jpg", "jpeg", "bmp", "gif"), concat(lit("image/"), e))
        .when(e.isin("wav", "aiff", "au"), concat(lit("audio/"), e))
        .when(e === "avi", lit("video/avi"))
        .otherwise(concat(lit("application/"), e)).as("mime"),
      col("content")).as[MediaRow]
  }

  // ==== 64-bit MEDIA HASHES (near-dup keys) =========================

  /** The media kinds with a 64-bit perceptual hash: each names its
    * per-payload extractor and its output column. One table behind
    * [[mediaHashes]] (the decode pass), [[mediaHashCol]] (the UDF
    * bridge) and [[dedupMedia]]; every hash pairs with
    * [[Dedup.hammingPairs64]] for corpus-scale near-dup dedup. */
  sealed abstract class MediaHash(val column: String,
      extract: Array[Byte] => Option[Long]) extends Product with Serializable {
    /** The payload's hash; None when it is null or does not decode — a
      * fabricated hash would pollute the near-dup graph downstream. */
    def apply(content: Array[Byte]): Option[Long] = extract(content)
  }

  object MediaHash {
    /** [[dHash64]] of an image payload. */
    case object Image extends MediaHash("dhash", dHash64(_))
    /** [[audioFingerprint64]] of an audio payload. */
    case object Audio extends MediaHash("afp", audioFingerprint64)
    /** [[keyframeDHash64]] of an MJPEG AVI: the cheap video identity
      * key — re-encodes, container rewrites and quality changes of one
      * clip agree on it. */
    case object VideoKeyframe extends MediaHash("vhash", keyframeDHash64)
    /** The signed-long MINIMUM of every frame's [[dHash64]]: the
      * cut/trim-robust video key — invariant to frame REORDERING and
      * surviving the loss of any frame that is not the argmin, where
      * the keyframe hash dies with any edit of frame 0. A video's
      * frames live in one payload, so the min folds inside the decode
      * pass: no aggregation shuffle. */
    case object VideoMinFrame extends MediaHash("vhash", c =>
      frameSlices(c, 1).flatMap { case (_, off, len) => dHash64(c, off, len) }.minOption)

    val all: Seq[MediaHash] = Seq(Image, Audio, VideoKeyframe, VideoMinFrame)
  }

  /** Keyframe dHash of a raw AVI payload (RIFF parse -> first frame
    * chunk -> JPEG decode -> [[dHash64]]); None when not an AVI or the
    * keyframe is undecodable. */
  def keyframeDHash64(content: Array[Byte]): Option[Long] =
    frameSlices(content, 1, 1).headOption.flatMap { case (_, off, len) =>
      dHash64(content, off, len) }

  /** (media_id, `kind.column`) for every payload `kind` can hash, in
    * the decode pass; undecodable payloads emit nothing. */
  def mediaHashes(ds: Dataset[MediaRow], kind: MediaHash): DataFrame = {
    import ds.sparkSession.implicits._
    decodePass(ds)(m => kind(m.content).map(h => (m.media_id, h)))
      .toDF("media_id", kind.column)
  }

  /** `kind`'s hash as a nullable-long column over a binary column — the
    * untyped-DataFrame bridge into [[graft.ops.Curation.ImageDupConfig]]
    * (which accepts ANY 64-bit locality hash column; `curate
    * --image-col/--audio-col/--video-col`). Undecodable/null payloads
    * yield null and pass the dedup stage untouched. A Scala UDF, not a
    * codegen expression: the decoders cannot be generated code, and
    * the decode itself dwarfs the UDF bridge cost. For typed media
    * frames prefer the [[mediaHashes]] pass. */
  def mediaHashCol(bytes: Column, kind: MediaHash): Column =
    udf((b: Array[Byte]) => kind(b)).apply(bytes)

  /** Near-dup dedup of a media frame: [[mediaHashes]] →
    * [[Dedup.hammingPairs64]] pigeonhole banding (recall-complete for
    * `maxHamming` below its 4 bands, never all-pairs) →
    * [[Dedup.dedupByPairs]]. Keeps the minimum media_id of each
    * near-duplicate component (re-encodes, recompressions, rescales or
    * gain changes of one item) plus every unpaired row; payloads
    * `kind` cannot hash never pair and pass through. */
  def dedupMedia(ds: Dataset[MediaRow], kind: MediaHash,
      maxHamming: Int = 2): DataFrame =
    Dedup.dedupByPairs(ds.toDF(), "media_id",
      Dedup.hammingPairs64(mediaHashes(ds, kind), "media_id", kind.column, maxHamming))

  // ==== SYNTHETIC MEDIA (deterministic, real-decodable) ==============

  /** Deterministic tiny PNG: (8 + (seed%9)) × (8 + (seed/3%7)) pixels,
    * gradient + seed-hashed pattern. Real, ImageIO-decodable bytes. */
  def syntheticPng(seed: Long): Array[Byte] = {
    val w = 8 + (math.abs(seed) % 9).toInt
    val h = 8 + (math.abs(seed) / 3 % 7).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (seed * 131 + y.toLong * w + x) * 2654435761L
        img.setRGB(x, y, (((v >>> 16) & 0xffffffL) | (x * 255 / w) << 16).toInt)
        x += 1
      }
      y += 1
    }
    encode(img, "png")
  }

  /** Deterministic tiny WAV: 16-bit PCM mono at 8 kHz, a pure sine at
    * 200 + (seed % 1800) Hz lasting 800 + (seed % 1600) frames
    * (100–300 ms). Real, AudioSystem-decodable bytes. */
  def syntheticWav(seed: Long): Array[Byte] = {
    val sr = 8000
    val freq = 200 + (math.abs(seed) % 1800).toInt
    wav16(sr, 800 + (math.abs(seed) % 1600).toInt)(i =>
      (math.sin(2 * math.Pi * freq * i / sr) * 12000).toInt)
  }

  /** A 16-bit signed little-endian mono PCM WAV of `n` samples at `sr`
    * Hz, sample i = `sample(i)` — the shared encode tail of the
    * synthetic WAV generators. */
  private def wav16(sr: Int, n: Int)(sample: Int => Int): Array[Byte] = {
    val pcmBytes = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = sample(i)
      pcmBytes(2 * i) = (v & 0xff).toByte
      pcmBytes(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcmBytes), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Deterministic tiny MJPEG AVI: 4 + (seed % 5) ImageIO-encoded
    * JPEG frames of (16 + (seed % 7)·2) × (12 + ((seed / 5) % 5)·2)
    * pixels in a REAL hand-assembled RIFF container (hdrl with honest
    * avih/strh/strf headers + movi with `00dc` chunks) — parseable by
    * [[aviFrameChunks]] or any AVI reader. Frame pixel content repeats
    * with period 3 (frame 0 == frame 3 byte-for-byte), so decoded-
    * pixel-hash dedup has planted collisions to find. */
  def syntheticMjpegAvi(seed: Long): Array[Byte] = {
    val nFrames = 4 + (math.abs(seed) % 5).toInt
    val w = 16 + (math.abs(seed) % 7).toInt * 2
    val h = 12 + (math.abs(seed) / 5 % 5).toInt * 2
    val jpegs = Array.tabulate(nFrames) { f =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y,
            (x * 255 / w) << 16 | (y * 255 / h) << 8 | ((f % 3) * 80 + (seed % 96)).toInt)
          x += 1
        }
        y += 1
      }
      encode(img, "jpg")
    }
    assembleMjpegAvi(jpegs, w, h)
  }

  /** Assemble ImageIO-encoded JPEG frames into a REAL RIFF/AVI
    * container (honest avih/strh/strf headers + movi `00dc` chunks) —
    * shared by [[syntheticMjpegAvi]] and [[syntheticGridMjpegAvi]]. */
  private def assembleMjpegAvi(jpegs: Array[Array[Byte]], w: Int, h: Int)
      : Array[Byte] = {
    val nFrames = jpegs.length
    def le(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)
    def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def cc(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      cc(id) ++ le(data.length) ++ data ++
        (if (data.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)
    def list(typ: String, data: Array[Byte]): Array[Byte] = chunk("LIST", cc(typ) ++ data)
    val avih = le(100000) ++ le(0) ++ le(0) ++ le(0x10) ++ le(nFrames) ++
      le(0) ++ le(1) ++ le(0) ++ le(w) ++ le(h) ++ le(0) ++ le(0) ++ le(0) ++ le(0)
    val strh = cc("vids") ++ cc("MJPG") ++ le(0) ++ le(0) ++ le(0) ++
      le(1) ++ le(10) ++ le(0) ++ le(nFrames) ++ le(0) ++ le(10000) ++ le(0) ++
      le16(0) ++ le16(0) ++ le16(w) ++ le16(h)
    val strf = le(40) ++ le(w) ++ le(h) ++ le16(1) ++ le16(24) ++ cc("MJPG") ++
      le(w * h * 3) ++ le(0) ++ le(0) ++ le(0) ++ le(0)
    val hdrl = list("hdrl",
      chunk("avih", avih) ++ list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi", jpegs.flatMap(j => chunk("00dc", j)))
    val body = cc("AVI ") ++ hdrl ++ movi
    cc("RIFF") ++ le(body.length) ++ body
  }

  /** Eight reflecting walks of nine levels each — the level schedules
    * behind the grid generators: walk r starts at `start`; step s goes
    * up when bit 0 of md5Top60(key(r, s)) is set (XOR the perturbation
    * at s = 7 for the walks in `flipped`), forced up at 0 and down at
    * `top`. Flipping the LAST step never cascades through a
    * reflection, so a perturbed twin differs in at most |flipped|
    * moves. */
  private def reflectingWalks(start: Int, top: Int, flipped: Set[Int])(
      key: (Int, Int) => String): Array[Array[Int]] =
    Array.tabulate(8) { r =>
      val l = new Array[Int](9)
      l(0) = start
      var s = 0
      while (s < 8) {
        val d = (md5Top60(key(r, s)) % 2 == 1) ^ (s == 7 && flipped(r))
        val up = l(s) == 0 || (d && l(s) < top)
        l(s + 1) = l(s) + (if (up) 1 else -1)
        s += 1
      }
      l
    }

  /** Deterministic WAV whose [[audioFingerprint64]] BITS are a pure
    * md5-integer function of the seed — the audio analog of
    * [[syntheticGridPng]], built so the whole near-dup pipeline
    * (decode → FFT → mel energies → sign-of-delta bits → banding →
    * components) replays bit-exactly in a SQL oracle while the Spark
    * side runs the REAL javax.sound + FFT path.
    *
    * Construction: 9 segments of exactly [[FftSize]]·2 samples (the
    * fingerprint's segment split lands on these boundaries, and
    * [[melBandEnergies]]'s Hann windows never straddle them). Each of
    * the 8 mel bands carries one sine at the exact PEAK FFT bin of its
    * triangular filter — an exact-bin sine under a 1024-point Hann has
    * (near-)exact 3-bin support, so bands are spectrally orthogonal up
    * to a ~-22 dB edge-bin overlap term. Per-band amplitude follows a
    * REFLECTING WALK over 4 levels (~4 dB energy apart): direction
    * d(t,m) = md5("afp:seed:t:m") bit, forced up at level 0 / down at
    * level 3. Consecutive segments therefore NEVER tie — every
    * fingerprint bit is the walk's actual move, with a >=4 dB margin
    * that the cross-band edge term (<= -22 dB, bounded by the 3-level
    * max gap at ~12 dB => worst ~-10 dB relative) cannot flip.
    * `perturb` flips the t=7 direction INPUT of bands 2 and 5 — the
    * last transition, so no reflection cascade: the twin's fingerprint
    * differs in at most those 2 bits (fewer when a flip is
    * boundary-forced), planting Hamming<=2 near-dup pairs. */
  def syntheticGridWav(seed: Long, perturb: Boolean = false): Array[Byte] = {
    val sr = 8000
    val bands = 8
    val segLen = 2 * FftSize
    // peak bins of melBandEnergies' triangular filters (same formula,
    // nBands = 8): peakBin(m) = binOf(m + 1)
    val melMax = mel(sr / 2.0)
    val peakBin = Array.tabulate(bands)(m =>
      math.min(FftSize / 2,
        math.round(imel(melMax * (m + 1) / (bands + 1)) * FftSize / sr).toInt))
    val levels = gridWavLevels(seed, perturb)
    // ~4 dB energy (sqrt(2.5) amplitude) per level; worst-case sum of
    // 8 bands at the top level stays inside 16-bit PCM
    val amp = Array.tabulate(4)(l => 900.0 * math.pow(2.5, l * 0.5))
    wav16(sr, 9 * segLen) { i =>
      val t = i / segLen
      var s = 0.0
      var m = 0
      while (m < bands) {
        // f_m = peakBin(m) * sr / FftSize => phase = 2*pi*bin*i/FftSize
        s += amp(levels(m)(t)) * math.sin(2 * math.Pi * peakBin(m) * i / FftSize)
        m += 1
      }
      math.max(-32767, math.min(32767, math.round(s))).toInt
    }
  }

  /** The reflecting-walk level schedule behind [[syntheticGridWav]]:
    * levels(m)(t) in {0..3}, l(0) = 1, direction bit
    * md5("afp:seed:t:m") % 2 (XOR the perturbation at t = 7 for bands
    * 2 and 5), forced up at 0 / down at 3. */
  private def gridWavLevels(seed: Long, perturb: Boolean): Array[Array[Int]] =
    reflectingWalks(1, 3, if (perturb) Set(2, 5) else Set.empty)((m, t) =>
      s"afp:$seed:$t:$m")

  /** The fingerprint [[syntheticGridWav]] is CONSTRUCTED to decode to
    * — the pure md5-walk replay (what the SQL oracle computes). Spec
    * contract: audioFingerprint64(syntheticGridWav(s, p)) ==
    * gridWavFingerprint(s, p) for every seed. */
  def gridWavFingerprint(seed: Long, perturb: Boolean = false): Long = {
    val levels = gridWavLevels(seed, perturb)
    deltaBits((t, m) => levels(m)(t + 1) > levels(m)(t))
  }

  /** Synthesize the grid-WAV media frame for the audio near-dup oracle
    * — same planted-twin scheme as [[syntheticGridMedia]]: id i%5==1
    * repeats id i-1's seed, and i%10==6 additionally carries the
    * perturbed (Hamming<=2) twin; every other id is a distinct
    * random-walk clip. */
  def syntheticGridAudio(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n.toLong).map { i =>
      val eff: Long = if (i % 5 == 1) i - 1 else i
      MediaRow(i, "audio/wav", syntheticGridWav(eff, perturb = i % 10 == 6))
    }
  }

  /** Synthesize deterministic MJPEG AVI videos for tests/benches. */
  def syntheticVideos(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n.toLong).map(i => MediaRow(i, "video/avi", syntheticMjpegAvi(i)))
  }

  /** A 90×80 RGB image laid out as 9×8 constant-gray 10×10 cells, cell
    * (cx, cy) valued `gray(cx, cy)` — one cell per [[dHash64]] grid
    * cell, so the area-averaged luma recovers every cell value. The
    * pixel layout of [[syntheticGridPng]] and [[syntheticGridMjpegAvi]]. */
  private def grayGrid(gray: (Int, Int) => Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      90, 80, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 9) {
        val v = gray(cx, cy)
        val rgb = (v << 16) | (v << 8) | v
        var y = cy * 10
        while (y < cy * 10 + 10) {
          var x = cx * 10
          while (x < cx * 10 + 10) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        cx += 1
      }
      cy += 1
    }
    img
  }

  /** Deterministic MJPEG AVI whose KEYFRAME dHash bits are a pure
    * md5-integer function of the seed — the video analog of
    * [[syntheticGridPng]]/[[syntheticGridWav]]. JPEG is LOSSY, so the
    * PNG grid's direct md5-valued cells would tie (equal neighbors
    * decode to noise-perturbed near-ties whose strict compare is
    * unpredictable); instead each dHash grid row walks its brightness:
    * cell (y, x+1) = cell (y, x) ± 24 gray levels, direction
    * md5("vid:seed:y:x") bit under a REFLECTING walk over 9 levels
    * (20..212). Consecutive cells never tie and the 24-level step
    * dwarfs JPEG round-trip error on a 10×10-pixel flat cell (|err| <
    * 3 at the qualities used), so bit (y·8+x) of the REAL
    * RIFF-parse → JPEG-decode → lumaGrid → dHash pipeline equals the
    * walk's actual move. `quality` varies the JPEG encoder setting —
    * two encodes of one seed at different qualities are genuine
    * re-encoded twins with byte-different payloads and equal hashes.
    * `perturb` flips the x=7 direction INPUT of rows 3 and 6 (the last
    * step — no reflection cascade): Hamming <= 2 twins; it perturbs
    * the KEYFRAME only. Frames 1..2 carry their own independent walks
    * (namespace "vidf:seed:f"), so the per-frame hash set holds three
    * distinct md5-replayable values — [[gridVideoDHash]](seed, frame)
    * replays any of them. */
  def syntheticGridMjpegAvi(seed: Long, perturb: Boolean = false,
      quality: Float = 0.85f): Array[Byte] = {
    val jpegs = Array.tabulate(3) { f =>
      val levels = gridVideoLevels(seed, perturb, f)
      val img = grayGrid((cx, cy) => 20 + 24 * levels(cy)(cx))
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(quality)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
      writer.dispose()
      ios.close()
      bos.toByteArray
    }
    assembleMjpegAvi(jpegs, 90, 80)
  }

  /** The reflecting-walk brightness-level schedule behind frame `frame`
    * of [[syntheticGridMjpegAvi]]: levels(y)(x) in {0..8}, level(y)(0)
    * = 4, forced up at 0 / down at 8. The keyframe (frame 0) walks
    * direction bits md5("vid:seed:y:x") % 2 (XOR the perturbation at
    * x = 7 for rows 3 and 6); frames 1..2 carry their OWN walks
    * (namespace "vidf:seed:f", never perturbed) so per-frame hashes are
    * three DISTINCT md5-replayable values — the min-frame-hash oracle
    * takes a real min, not a min over copies. */
  private def gridVideoLevels(seed: Long, perturb: Boolean,
      frame: Int): Array[Array[Int]] =
    if (frame == 0)
      reflectingWalks(4, 8, if (perturb) Set(3, 6) else Set.empty)((y, x) =>
        s"vid:$seed:$y:$x")
    else reflectingWalks(4, 8, Set.empty)((y, x) => s"vidf:$seed:$frame:$y:$x")

  /** The dHash of frame `frame` (the keyframe by default) that
    * [[syntheticGridMjpegAvi]] is CONSTRUCTED to decode to — the pure
    * md5-walk replay (what the SQL oracle computes). Spec contract:
    * the VideoKeyframe [[mediaHashes]] over the grid AVIs equals
    * gridVideoDHash(seed, perturb) at every quality used. */
  def gridVideoDHash(seed: Long, perturb: Boolean = false,
      frame: Int = 0): Long = {
    val levels = gridVideoLevels(seed, perturb, frame)
    deltaBits((y, x) => levels(y)(x + 1) > levels(y)(x))
  }

  /** Synthesize the grid-AVI media frame for the video near-dup oracle
    * — the planted-twin scheme of [[syntheticGridMedia]], with the
    * twin (id i%5==1, repeating id i-1's pixels) RE-ENCODED at a lower
    * JPEG quality so collapsing it exercises real re-encode
    * invariance, and i%10==6 additionally perturbed (Hamming<=2). */
  def syntheticGridVideos(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n.toLong).map { i =>
      val eff: Long = if (i % 5 == 1) i - 1 else i
      val q = if (i % 5 == 1) 0.7f else 0.85f
      MediaRow(i, "video/avi", syntheticGridMjpegAvi(eff, perturb = i % 10 == 6, q))
    }
  }

  /** Synthesize a deterministic media frame for tests/benches. Even
    * ids carry REAL tiny PNGs (exercise the ImageIO path); odd ids
    * carry REAL tiny WAVs (exercise the javax.sound path). */
  def syntheticMedia(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n.toLong).map { i =>
      if (i % 2 == 0) MediaRow(i, "image/png", syntheticPng(i))
      else MediaRow(i, "audio/wav", syntheticWav(i))
    }
  }

  /** Top 60 bits of md5 of `s` (the portable-oracle hash discipline —
    * `('0x'||substr(md5(s),1,15))::BIGINT` in DuckDB). */
  private def md5Top60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xffL) >>> 4)
  }

  /** Deterministic 90×80 gray GRID png: a 9×8 layout of 10×10
    * constant-gray cells, cell (cx, cy) valued
    * `md5Top60("img:<seed>:<cx>:<cy>") % 256`. Because each dHash grid
    * cell maps to exactly one constant block, [[dHash64]]'s
    * area-averaged luma recovers every cell value EXACTLY and the full
    * 64-bit signature is a pure function of the seed — replayable in
    * DuckDB SQL (md5 + integer compares), which is what gives the
    * image near-dup operator a bit-exact oracle over REAL ImageIO
    * decodes. `perturb` bumps cell (4,3) by +128 (mod 256): at most
    * the two comparisons touching that cell flip, so the perturbed
    * twin sits within Hamming distance 2 of the original. */
  def syntheticGridPng(seed: Long, perturb: Boolean = false): Array[Byte] =
    encode(grayGrid { (cx, cy) =>
      val base = (md5Top60(s"img:$seed:$cx:$cy") % 256L).toInt
      if (perturb && cx == 4 && cy == 3) (base + 128) % 256 else base
    }, "png")

  /** Near-identical-image corpus for the oracle row and tests:
    * id % 5 == 1 duplicates id-1 — byte-identical when id % 10 == 1,
    * the perturbed (Hamming ≤ 2) twin when id % 10 == 6; every other
    * id is a distinct random-grid image. */
  def syntheticGridMedia(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n.toLong).map { i =>
      val eff: Long = if (i % 5 == 1) i - 1 else i
      MediaRow(i, "image/png", syntheticGridPng(eff, perturb = i % 10 == 6))
    }
  }
}
