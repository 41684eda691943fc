package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, decoded/feature-extracted in batched
  * partition passes.
  *
  * The Spark-side machinery — schema, partition sizing, batched
  * iteration shape (the Scala analog of `mapInPandas` batches), typed
  * Datasets — is real and tested. IMAGE decode is REAL (JDK
  * `javax.imageio`: PNG/JPEG/BMP/GIF, zero external deps) — dimensions
  * plus a downsampled-luminance grid embedding. AUDIO decode is REAL
  * (JDK `javax.sound.sampled`: WAV/AIFF/AU PCM containers, µ-law/a-law
  * via the JDK transcoder) — sample rate, duration, and a classical
  * mel-filterbank MFCC over Hann-windowed FFT frames. VIDEO frame
  * extraction is REAL for MJPEG-in-AVI (a hand-rolled RIFF container
  * parse + per-frame `javax.imageio` JPEG decode — the one mainstream
  * video format expressible in the pure JDK). Payloads in codecs the
  * JDK cannot decode are skipped, never fabricated: swapping in ffmpeg
  * bindings changes only the decode functions, not the pipeline.
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

  /** Rows decoded per batch inside a partition — bounds peak memory
    * exactly like `mapInPandas` batch size does. */
  val BatchSize = 64

  // ==== IMAGE DECODE (real, JDK javax.imageio) ======================

  /** Decode an image payload (PNG/JPEG/BMP/GIF — whatever the JVM's
    * registered ImageReaders cover) into (width, height, embedding).
    * The embedding is a g×g mean-luminance grid (g = ceil(sqrt(dim)),
    * first `dim` cells, ITU-R BT.601 luma, normalized to [0,1]) — the
    * cheap classical stand-in for a model embedding; a real deployment
    * swaps the grid for a model forward pass at the same batch
    * boundary. Returns None when the bytes are not a decodable image.
    */
  def decodeImage(content: Array[Byte], dim: Int = 16): Option[(Int, Int, Array[Float])] =
    decodeImage(content, 0, content.length, dim)

  /** Slice variant — decodes `content(off until off+len)` without
    * copying (frame payloads inside a video container). */
  private[graft] def decodeImage(content: Array[Byte], off: Int, len: Int,
      dim: Int): Option[(Int, Int, Array[Float])] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content, off, len))
      catch { case _: Exception => null }
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
    else {
      val g = math.ceil(math.sqrt(dim.toDouble)).toInt
      val grid = lumaGrid(img, g, g)
      val emb = Array.tabulate(dim) { j =>
        if (j < g * g) (grid(j) / 255.0).toFloat else 0f
      }
      Some((img.getWidth, img.getHeight, emb))
    }
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
  def dHash64(content: Array[Byte]): Option[Long] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
      catch { case _: Exception => null }
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
    else {
      val gw = 9
      val gh = 8
      val g = lumaGrid(img, gw, gh)
      var hash = 0L
      var yy = 0
      while (yy < gh) {
        var xx = 0
        while (xx < gw - 1) {
          if (g(yy * gw + xx + 1) > g(yy * gw + xx)) hash |= 1L << (yy * 8 + xx)
          xx += 1
        }
        yy += 1
      }
      Some(hash)
    }
  }

  /** Shared batched 64-bit fingerprint pass: (media_id, hash) for
    * every payload `extract` can decode; undecodable payloads emit
    * nothing — a fabricated hash would pollute the near-dup graph
    * downstream. The mapPartitions/grouped shape bounds peak decode
    * memory at [[BatchSize]] payloads exactly like the feature
    * extractors. */
  private def fingerprints64(ds: Dataset[MediaRow], outCol: String,
      repartitionTo: Option[Int])(extract: Array[Byte] => Option[Long])
      : DataFrame = {
    import ds.sparkSession.implicits._
    val base = repartitionTo.map(ds.repartition(_)).getOrElse(ds)
    base.mapPartitions(_.grouped(BatchSize).flatMap(_.iterator.flatMap(m =>
      extract(m.content).map(h => (m.media_id, h)))))
      .toDF("media_id", outCol)
  }

  /** A 64-bit extractor as a nullable-long column over a binary column
    * — the untyped-DataFrame bridge behind [[dHashCol]] /
    * [[audioFingerprintCol]]. A Scala UDF, not a codegen expression:
    * the decoders cannot be generated code, and the decode itself
    * dwarfs the UDF bridge cost. */
  private def fingerprintCol(bytes: Column)(
      extract: Array[Byte] => Option[Long]): Column = {
    val f = udf((b: Array[Byte]) => if (b == null) None else extract(b))
    f(bytes)
  }

  /** Perceptual hashes for a media frame's decodable images, in the
    * same batched partition pass as the other extractors: (media_id,
    * dhash). */
  def imageDHashes(ds: Dataset[MediaRow],
      repartitionTo: Option[Int] = None): DataFrame =
    fingerprints64(ds, "dhash", repartitionTo)(dHash64)

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
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
      catch { case _: Exception => null }
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
    else {
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
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      Some(bos.toByteArray)
    }
  }

  /** Resize every decodable image in a media frame to `w`×`h` in the
    * standard batched partition pass — the preprocessing step a
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
    val base = repartitionTo.map(ds.repartition(_)).getOrElse(ds)
    base.mapPartitions(_.grouped(BatchSize).flatMap(_.iterator.map { m =>
      resizeImage(m.content, w, h) match {
        case Some(resized) => m.copy(mime = "image/png", content = resized)
        case None          => m
      }
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
    * model forward pass at the same batch boundary. Returns None when
    * the bytes are not decodable audio.
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
          // 512KB of garbage per 100ms clip in the batched partition pass
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
    def mel(f: Double) = 2595.0 * math.log10(1.0 + f / 700.0)
    def imel(m: Double) = 700.0 * (math.pow(10.0, m / 2595.0) - 1.0)
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
      val segs = 9
      val bands = 8
      // empty segments (clips shorter than 9 samples, or empty audio)
      // fall through to the zero-padded single frame -> floor energies
      val e = Array.tabulate(segs) { t =>
        val from = (t.toLong * n / segs).toInt
        val until = ((t + 1).toLong * n / segs).toInt
        melBandEnergies(mono, from, math.max(until, from), sr, bands)
      }
      var h = 0L
      var t = 0
      while (t < segs - 1) {
        var m = 0
        while (m < bands) {
          if (e(t + 1)(m) > e(t)(m)) h |= 1L << (t * bands + m)
          m += 1
        }
        t += 1
      }
      h
    }

  /** 64-bit audio fingerprints for a media frame's decodable audio
    * payloads, in the same batched partition pass as the other
    * extractors: (media_id, afp). Non-audio payloads emit nothing. */
  def audioFingerprints(ds: Dataset[MediaRow],
      repartitionTo: Option[Int] = None): DataFrame =
    fingerprints64(ds, "afp", repartitionTo)(audioFingerprint64)

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
    if (content.length < 12 || fourcc(content, 0) != "RIFF" ||
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

  /** Decode + feature-extract every `stride`-th video frame in batched
    * partition passes: REAL for MJPEG-in-AVI payloads (RIFF parse +
    * ImageIO JPEG decode per sampled frame — undecodable or missing
    * frames are skipped, never fabricated); non-AVI payloads emit
    * nothing. Frame features are the same luminance-grid embedding as
    * [[imageFeatures]], so image and video frames land in one
    * comparable feature space (the classical precursor to a shared
    * multimodal model embedding). */
  def videoFrameFeatures(ds: Dataset[MediaRow], stride: Int = 1,
      maxFrames: Int = Int.MaxValue, dim: Int = 16,
      repartitionTo: Option[Int] = None): Dataset[VideoFrameFeatures] = {
    import ds.sparkSession.implicits._
    val base = repartitionTo.map(ds.repartition(_)).getOrElse(ds)
    base.mapPartitions(_.grouped(BatchSize).flatMap(_.iterator.flatMap { m =>
      aviFrameChunks(m.content).toSeq.flatMap { chunks =>
        (0 until chunks.length by math.max(1, stride)).take(maxFrames).flatMap { i =>
          val (off, len) = chunks(i)
          decodeImage(m.content, off, len, dim).map { case (w, h, emb) =>
            VideoFrameFeatures(m.media_id, i, w, h, emb) }
        }
      }
    }))
  }

  // ==== pipeline operators ==========================================

  /** Decode + feature-extract images in batched partition passes.
    * Payloads [[decodeImage]] cannot parse (corrupt files, formats
    * without a registered reader) are skipped, never fabricated.
    * `repartitionTo` caps rows per task so a partition of large blobs
    * fits in executor memory (the knob you size from payload stats —
    * at 100 TB of media this matters more than anything else here). */
  def imageFeatures(ds: Dataset[MediaRow], dim: Int = 16,
      repartitionTo: Option[Int] = None): Dataset[ImageFeatures] = {
    import ds.sparkSession.implicits._
    val base = repartitionTo.map(ds.repartition(_)).getOrElse(ds)
    base.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        // batch boundary = the amortization point for a real decoder
        // (model session init, JNI handle, GPU transfer, ...)
        batch.iterator.flatMap { m =>
          decodeImage(m.content, dim).map { case (w, h, emb) =>
            ImageFeatures(m.media_id, w, h, emb) }
        }
      }
    }
  }

  /** Decode + feature-extract audio in batched partition passes: real
    * JDK decode ([[decodeAudio]]); undecodable payloads (corrupt files,
    * compressed codecs without a registered reader) are skipped, as in
    * [[imageFeatures]]. */
  def audioFeatures(ds: Dataset[MediaRow], coeffs: Int = 13,
      repartitionTo: Option[Int] = None): Dataset[AudioFeatures] = {
    import ds.sparkSession.implicits._
    val base = repartitionTo.map(ds.repartition(_)).getOrElse(ds)
    base.mapPartitions(_.grouped(BatchSize).flatMap(_.iterator.flatMap { m =>
      decodeAudio(m.content, coeffs).map { case (sr, dur, mfcc) =>
        AudioFeatures(m.media_id, sr, dur, mfcc) }
    }))
  }

  /** Sample every `stride`-th frame as a compact dedup hash: REAL for
    * MJPEG-in-AVI payloads (frame hash = xxhash-style hash of the
    * DECODED pixel data, so re-encoded byte-identical frames collide
    * exactly); non-AVI payloads and undecodable frames emit nothing.
    * [[videoFrameFeatures]] is the full-feature variant. */
  def sampleFrames(ds: Dataset[MediaRow], frames: Int, stride: Int): Dataset[VideoFrameSample] = {
    import ds.sparkSession.implicits._
    ds.flatMap { m =>
      aviFrameChunks(m.content).toSeq.flatMap { chunks =>
        (0 until math.min(frames, chunks.length) by stride).flatMap { i =>
          val (off, len) = chunks(i)
          decodedPixelHash(m.content, off, len)
            .map(h => VideoFrameSample(m.media_id, i, h))
        }
      }
    }
  }

  /** FNV-style hash over a frame's decoded ARGB pixels (row-major) —
    * a content hash of what the codec produced, not of the container
    * bytes. None when the bytes are not a decodable image. */
  private def decodedPixelHash(imageBytes: Array[Byte], off: Int, len: Int): Option[Long] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(imageBytes, off, len))
      catch { case _: Exception => null }
    if (img == null) None
    else {
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
      Some(h)
    }
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
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic tiny WAV: 16-bit PCM mono at 8 kHz, a pure sine at
    * 200 + (seed % 1800) Hz lasting 800 + (seed % 1600) frames
    * (100–300 ms). Real, AudioSystem-decodable bytes. */
  def syntheticWav(seed: Long): Array[Byte] = {
    val sr = 8000
    val freq = 200 + (math.abs(seed) % 1800).toInt
    val frames = 800 + (math.abs(seed) % 1600).toInt
    val pcmBytes = new Array[Byte](frames * 2)
    var i = 0
    while (i < frames) {
      val v = (math.sin(2 * math.Pi * freq * i / sr) * 12000).toInt
      pcmBytes(2 * i) = (v & 0xff).toByte
      pcmBytes(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcmBytes), fmt, frames.toLong)
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
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
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
    val segs = 9
    val bands = 8
    val segLen = 2 * FftSize
    val n = segs * segLen
    // peak bins of melBandEnergies' triangular filters (same formula,
    // nBands = 8): peakBin(m) = binOf(m + 1)
    def mel(f: Double) = 2595.0 * math.log10(1.0 + f / 700.0)
    def imel(m: Double) = 700.0 * (math.pow(10.0, m / 2595.0) - 1.0)
    val melMax = mel(sr / 2.0)
    val peakBin = Array.tabulate(bands)(m =>
      math.min(FftSize / 2,
        math.round(imel(melMax * (m + 1) / (bands + 1)) * FftSize / sr).toInt))
    val levels = gridWavLevels(seed, perturb, segs, bands)
    // ~4 dB energy (sqrt(2.5) amplitude) per level; worst-case sum of
    // 8 bands at the top level stays inside 16-bit PCM
    val amp = Array.tabulate(4)(l => 900.0 * math.pow(2.5, l * 0.5))
    val pcmBytes = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val t = i / segLen
      var s = 0.0
      var m = 0
      while (m < bands) {
        // f_m = peakBin(m) * sr / FftSize => phase = 2*pi*bin*i/FftSize
        s += amp(levels(m)(t)) * math.sin(2 * math.Pi * peakBin(m) * i / FftSize)
        m += 1
      }
      val v = math.max(-32767, math.min(32767, math.round(s))).toInt
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

  /** The reflecting-walk level schedule behind [[syntheticGridWav]]:
    * levels(m)(t) in {0..3}, l(0) = 1, direction bit
    * md5("afp:seed:t:m") % 2 (XOR the perturbation at t = 7 for bands
    * 2 and 5), forced up at 0 / down at 3. */
  private def gridWavLevels(seed: Long, perturb: Boolean, segs: Int,
      bands: Int): Array[Array[Int]] =
    Array.tabulate(bands) { m =>
      val l = new Array[Int](segs)
      l(0) = 1
      var t = 0
      while (t < segs - 1) {
        val d = (md5Top60(s"afp:$seed:$t:$m") % 2 == 1) ^
          (perturb && t == segs - 2 && (m == 2 || m == 5))
        val up = l(t) == 0 || (d && l(t) < 3)
        l(t + 1) = l(t) + (if (up) 1 else -1)
        t += 1
      }
      l
    }

  /** The fingerprint [[syntheticGridWav]] is CONSTRUCTED to decode to
    * — the pure md5-walk replay (what the SQL oracle computes). Spec
    * contract: audioFingerprint64(syntheticGridWav(s, p)) ==
    * gridWavFingerprint(s, p) for every seed. */
  def gridWavFingerprint(seed: Long, perturb: Boolean = false): Long = {
    val levels = gridWavLevels(seed, perturb, 9, 8)
    var h = 0L
    var t = 0
    while (t < 8) {
      var m = 0
      while (m < 8) {
        if (levels(m)(t + 1) > levels(m)(t)) h |= 1L << (t * 8 + m)
        m += 1
      }
      t += 1
    }
    h
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
      // frame 0 is the keyframe walk; frames 1..2 carry their OWN
      // walks (namespace "vidf:seed:f") so per-frame hashes are three
      // DISTINCT md5-replayable values — the min-frame-hash signature
      // oracle takes a real min, not a min over copies
      val levels =
        if (f == 0) gridVideoLevels(seed, perturb)
        else gridVideoLevels(seed, perturb = false, ns = s"vidf:$seed:$f")
      val img = new java.awt.image.BufferedImage(
        90, 80, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var cy = 0
      while (cy < 8) {
        var cx = 0
        while (cx < 9) {
          val v = 20 + 24 * levels(cy)(cx)
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

  /** The reflecting-walk brightness-level schedule behind
    * [[syntheticGridMjpegAvi]]'s keyframe: levels(y)(x) in {0..8},
    * level(y)(0) = 4, direction bit md5("vid:seed:y:x") % 2 (XOR the
    * perturbation at x = 7 for rows 3 and 6), forced up at 0 / down
    * at 8. */
  private def gridVideoLevels(seed: Long, perturb: Boolean,
      ns: String = null): Array[Array[Int]] =
    Array.tabulate(8) { y =>
      val prefix = if (ns == null) s"vid:$seed" else ns
      val k = new Array[Int](9)
      k(0) = 4
      var x = 0
      while (x < 8) {
        val d = (md5Top60(s"$prefix:$y:$x") % 2 == 1) ^
          (perturb && x == 7 && (y == 3 || y == 6))
        val up = k(x) == 0 || (d && k(x) < 8)
        k(x + 1) = k(x) + (if (up) 1 else -1)
        x += 1
      }
      k
    }

  /** The keyframe dHash [[syntheticGridMjpegAvi]] is CONSTRUCTED to
    * decode to — the pure md5-walk replay (what the SQL oracle
    * computes). Spec contract: videoKeyframeDHashes over the grid AVIs
    * equals gridVideoDHash(seed, perturb) at every quality used. */
  def gridVideoDHash(seed: Long, perturb: Boolean = false,
      frame: Int = 0): Long = {
    val levels =
      if (frame == 0) gridVideoLevels(seed, perturb)
      else gridVideoLevels(seed, perturb = false, ns = s"vidf:$seed:$frame")
    var h = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (levels(y)(x + 1) > levels(y)(x)) h |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    h
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

  /** 64-bit dHash of each video's KEYFRAME (first frame chunk) in a
    * batched partition pass: RIFF parse ([[aviFrameChunks]]) → real
    * JPEG decode → [[dHash64]]. Returns (media_id, vhash); non-AVI or
    * frameless payloads emit nothing. The keyframe hash is the cheap
    * video identity key — re-encodes, container rewrites and
    * quality changes of one clip agree on it; for cut/trim robustness
    * compose per-frame [[dHash64]] over [[videoFrameFeatures]]'
    * sampled frames instead (min-hash of the frame-hash set). */
  def videoKeyframeDHashes(ds: Dataset[MediaRow],
      repartitionTo: Option[Int] = None): DataFrame = {
    import ds.sparkSession.implicits._
    val base = repartitionTo.map(ds.repartition(_)).getOrElse(ds)
    base.mapPartitions(_.grouped(BatchSize).flatMap(_.iterator.flatMap { m =>
      keyframeDHash64(m.content).map(h => (m.media_id, h))
    })).toDF("media_id", "vhash")
  }

  /** Keyframe dHash of a raw AVI payload (RIFF parse -> first frame
    * chunk -> JPEG decode -> [[dHash64]]); None when not an AVI or the
    * keyframe is undecodable. */
  def keyframeDHash64(content: Array[Byte]): Option[Long] =
    aviFrameChunks(content).flatMap(_.headOption).flatMap {
      case (off, len) =>
        dHash64(java.util.Arrays.copyOfRange(content, off, off + len))
    }

  /** [[keyframeDHash64]] as a nullable-long column over a binary video
    * column — the untyped-DataFrame convenience mirroring [[dHashCol]]
    * / [[audioFingerprintCol]]; wire it into
    * [[graft.ops.Curation.ImageDupConfig]] (which accepts ANY 64-bit
    * locality hash column) for video-level dedup of a multimodal
    * corpus (`curate --video-col`). Undecodable/null payloads yield
    * null and pass the dedup stage untouched. */
  def videoKeyframeDHashCol(bytes: Column): Column =
    fingerprintCol(bytes)(keyframeDHash64)

  /** Per-frame dHashes of every `stride`-th frame: (media_id,
    * frame_index, fhash) in the same batched partition pass as
    * [[videoFrameFeatures]]; undecodable frames emit nothing. */
  def videoFrameDHashes(ds: Dataset[MediaRow], stride: Int = 1,
      repartitionTo: Option[Int] = None): DataFrame = {
    import ds.sparkSession.implicits._
    val base = repartitionTo.map(ds.repartition(_)).getOrElse(ds)
    base.mapPartitions(_.grouped(BatchSize).flatMap(_.iterator.flatMap { m =>
      aviFrameChunks(m.content).toSeq.flatMap { chunks =>
        (0 until chunks.length by math.max(1, stride)).flatMap { i =>
          val (off, len) = chunks(i)
          dHash64(java.util.Arrays.copyOfRange(m.content, off, off + len))
            .map(h => (m.media_id, i, h))
        }
      }
    })).toDF("media_id", "frame_index", "fhash")
  }

  /** Min-frame-hash video signature: (media_id, vhash) where vhash =
    * the (signed-long) MINIMUM of the sampled frames' dHashes — the
    * cut/trim-robust alternative to [[videoKeyframeDHashes]]: the min
    * is invariant to frame REORDERING and survives dropping any frame
    * that is not the argmin, where the keyframe hash dies with any
    * edit of frame 0. Computed inside the decode pass (a video's
    * frames live in one payload), so there is NO aggregation shuffle
    * — one scan, one row out per decodable video. Feed it to
    * [[Dedup.hammingPairs64]] like any 64-bit signature. */
  def videoMinFrameDHashes(ds: Dataset[MediaRow], stride: Int = 1,
      repartitionTo: Option[Int] = None): DataFrame = {
    import ds.sparkSession.implicits._
    val base = repartitionTo.map(ds.repartition(_)).getOrElse(ds)
    base.mapPartitions(_.grouped(BatchSize).flatMap(_.iterator.flatMap { m =>
      aviFrameChunks(m.content).flatMap { chunks =>
        val hs = (0 until chunks.length by math.max(1, stride)).flatMap { i =>
          val (off, len) = chunks(i)
          dHash64(java.util.Arrays.copyOfRange(m.content, off, off + len))
        }
        if (hs.isEmpty) None else Some((m.media_id, hs.min))
      }
    })).toDF("media_id", "vhash")
  }

  /** Video near-dup candidate pairs over a media frame: keyframe
    * dHash → [[Dedup.hammingPairs64]] pigeonhole banding
    * (recall-complete for `maxHamming < bands`, never all-pairs).
    * Returns (a, b, hamming) over media ids. */
  def videoNearDupPairs(ds: Dataset[MediaRow], maxHamming: Int = 2,
      bands: Int = 4, maxBucket: Int = 100000): DataFrame =
    Dedup.hammingPairs64(videoKeyframeDHashes(ds), "media_id", "vhash",
      maxHamming, bands, maxBucket)

  /** Video near-dup dedup: keep the minimum media_id of each
    * near-duplicate component (re-encodes and quality changes of one
    * clip) plus every unpaired video — the video leg of multimodal
    * corpus curation, same shape as [[dedupImagesByDHash]] /
    * [[dedupAudioByFingerprint]]. */
  def dedupVideosByKeyframe(ds: Dataset[MediaRow], maxHamming: Int = 2,
      bands: Int = 4, maxBucket: Int = 100000): DataFrame =
    Dedup.dedupByPairs(ds.toDF(), "media_id",
      videoNearDupPairs(ds, maxHamming, bands, maxBucket))

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

  // ---- image near-dup dedup (dHash + pigeonhole banding) --------------

  /** dHash near-dup candidate pairs over a media frame: batched REAL
    * decode → 64-bit [[dHash64]] → [[Dedup.hammingPairs64]] pigeonhole
    * banding (recall-complete for `maxHamming < bands`, never
    * all-pairs). Returns (a, b, hamming) over media ids. Undecodable
    * payloads (audio, corrupt bytes) emit no hash and never pair. */
  def imageNearDupPairs(ds: Dataset[MediaRow], maxHamming: Int = 2,
      bands: Int = 4, maxBucket: Int = 100000): DataFrame =
    Dedup.hammingPairs64(imageDHashes(ds), "media_id", "dhash",
      maxHamming, bands, maxBucket)

  /** [[dHash64]] as a nullable-long column over a binary image column
    * — the untyped-DataFrame convenience for wiring a raw image column
    * straight into [[graft.ops.Curation.ImageDupConfig]]
    * (`df.withColumn("img_hash", Multimodal.dHashCol(col("image")))`).
    * Scala UDF, not a codegen expression: ImageIO decoding cannot be
    * generated code, and the decode itself dwarfs the UDF bridge cost.
    * Undecodable/null payloads yield null (imageless rows pass the
    * dedup stage untouched). For typed media frames prefer the batched
    * [[imageDHashes]] partition pass. */
  def dHashCol(bytes: Column): Column = fingerprintCol(bytes)(dHash64)

  /** Image near-dup dedup: keep the minimum media_id of each
    * near-duplicate component (re-encodes, mild recompression and
    * rescales of one image hash within `maxHamming` bits) plus every
    * unpaired frame — [[imageNearDupPairs]] + [[Dedup.dedupByPairs]],
    * the image-level first step of multimodal corpus curation. */
  def dedupImagesByDHash(ds: Dataset[MediaRow], maxHamming: Int = 2,
      bands: Int = 4, maxBucket: Int = 100000): DataFrame =
    Dedup.dedupByPairs(ds.toDF(), "media_id",
      imageNearDupPairs(ds, maxHamming, bands, maxBucket))

  /** [[audioFingerprint64]] as a nullable-long column over a binary
    * audio column — the untyped-DataFrame convenience mirroring
    * [[dHashCol]]; wire it into [[graft.ops.Curation.ImageDupConfig]]
    * (which accepts ANY 64-bit locality hash column) for audio-level
    * dedup of a multimodal corpus. Undecodable/null payloads yield
    * null and pass the dedup stage untouched. */
  def audioFingerprintCol(bytes: Column): Column =
    fingerprintCol(bytes)(audioFingerprint64)

  /** Audio near-dup candidate pairs over a media frame: batched REAL
    * decode → [[audioFingerprint64]] → [[Dedup.hammingPairs64]]
    * pigeonhole banding (recall-complete for `maxHamming < bands`,
    * never all-pairs). Returns (a, b, hamming) over media ids. */
  def audioNearDupPairs(ds: Dataset[MediaRow], maxHamming: Int = 3,
      bands: Int = 4, maxBucket: Int = 100000): DataFrame =
    Dedup.hammingPairs64(audioFingerprints(ds), "media_id", "afp",
      maxHamming, bands, maxBucket)

  /** Audio near-dup dedup: keep the minimum media_id of each
    * near-duplicate component (re-encodes and gain-changed copies of
    * one clip) plus every unpaired frame — the audio leg of multimodal
    * corpus curation, same shape as [[dedupImagesByDHash]]. */
  def dedupAudioByFingerprint(ds: Dataset[MediaRow], maxHamming: Int = 3,
      bands: Int = 4, maxBucket: Int = 100000): DataFrame =
    Dedup.dedupByPairs(ds.toDF(), "media_id",
      audioNearDupPairs(ds, maxHamming, bands, maxBucket))

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
  def syntheticGridPng(seed: Long, perturb: Boolean = false): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      90, 80, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 9) {
        val base = (md5Top60(s"img:$seed:$cx:$cy") % 256L).toInt
        val v = if (perturb && cx == 4 && cy == 3) (base + 128) % 256 else base
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
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

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
