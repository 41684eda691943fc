package graft

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Audit, Build, BuildOptions}
import graft.model._
import graft.operators.AsOfJoin
import graft.ops.Dedup

/** Property tests of THE invariant (reference `tests/test_property.py`):
  * for arbitrary feature/label timestamps, any embargo 0-168h, both
  * join modes and both strategies, every output row satisfies
  * `feature_time < label_time - embargo` (strict) or `<=` (inclusive);
  * and every build passes its own audit.
  */
class PropertySpec extends AnyFunSuite {

  private def check(prop: Prop, minSuccessful: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful), prop)
    assert(res.passed, res.status.toString)
  }

  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private val genCase = for {
    nFeat <- Gen.choose(1, 20)
    nLbl <- Gen.choose(1, 20)
    featOffsets <- Gen.listOfN(nFeat, Gen.choose(0L, 400L))
    lblOffsets <- Gen.listOfN(nLbl, Gen.choose(60L, 460L))
    featKeys <- Gen.listOfN(nFeat, Gen.choose(1, 5))
    lblKeys <- Gen.listOfN(nLbl, Gen.choose(1, 5))
    embargoH <- Gen.choose(0, 168)
    inclusive <- Gen.oneOf(true, false)
    union <- Gen.oneOf(true, false)
  } yield (featOffsets.zip(featKeys), lblOffsets.zip(lblKeys), embargoH, inclusive, union)

  test("as-of join output always satisfies the temporal invariant") {
    check(Prop.forAllNoShrink(genCase) { case (feats, lbls, embargoH, inclusive, union) =>
      val featDf = feats.zipWithIndex.map { case ((off, k), i) =>
        (k.toLong, new Timestamp(base + off * 3600 * 1000), i.toDouble)
      }.toDF("user_id", "ft", "v")
      val lblDf = lbls.zipWithIndex.map { case ((off, k), i) =>
        (i.toLong, k.toLong, new Timestamp(base + off * 3600 * 1000))
      }.toDF(AsOfJoin.RowIdCol, "user_id", "lt")
      val spec = AsOfJoin.Spec(
        Seq("user_id"), "lt",
        inclusive = inclusive,
        maxLookback = Some(Duration.ofDays(365)))
      // exercise all three strategies: embargoH parity picks between
      // union and segmented so the fuzz covers the skew path too
      val strat =
        if (!union) AsOfJoin.Strategy.RowNumber
        else if (embargoH % 2 == 0) AsOfJoin.Strategy.UnionAsOf
        else AsOfJoin.Strategy.UnionAsOfSegmented(Duration.ofHours(48))
      val out = AsOfJoin.join(lblDf,
        Seq(AsOfJoin.Right(featDf, Seq("user_id"), "ft", Seq("v"),
          embargo = Duration.ofHours(embargoH.toLong))), spec, strat).collect()

      val allLabelsKept = out.length == lbls.size
      val invariantHolds = out.forall { r =>
        val ft = r.getAs[Timestamp]("feature_time")
        if (ft == null) true
        else {
          val lt = r.getAs[Timestamp]("lt")
          val bound = lt.getTime - embargoH * 3600L * 1000L
          if (inclusive) ft.getTime <= bound else ft.getTime < bound
        }
      }
      // and: the chosen row is the LATEST eligible one
      val latestChosen = out.forall { r =>
        val ft = r.getAs[Timestamp]("feature_time")
        val lt = r.getAs[Timestamp]("lt").getTime
        val key = r.getAs[Long]("user_id")
        val bound = lt - embargoH * 3600L * 1000L
        val eligible = feats.collect {
          case (off, k) if k.toLong == key =>
            base + off * 3600 * 1000
        }.filter(t => if (inclusive) t <= bound else t < bound)
          .filter(t => t >= lt - 365L * 86400 * 1000)
        if (eligible.isEmpty) ft == null
        else ft != null && ft.getTime == eligible.max
      }
      allLabelsKept && invariantHolds && latestChosen
    }, 40)
  }

  test("build -> audit roundtrip: every build passes its own audit") {
    check(Prop.forAllNoShrink(genCase) { case (feats, lbls, embargoH, inclusive, _) =>
      val featDf = feats.zipWithIndex.map { case ((off, k), i) =>
        (k.toLong, new Timestamp(base + off * 3600 * 1000), i.toDouble)
      }.toDF("user_id", "ft", "v")
      val lblDf = lbls.zipWithIndex.map { case ((off, k), i) =>
        (k.toLong, new Timestamp(base + off * 3600 * 1000), i % 2 == 0)
      }.toDF("user_id", "label_time", "y")
      val f = Feature("f",
        Source.frame("s", featDf, Seq("user_id"), "ft"),
        ColumnsMode(Map("v" -> "v")),
        embargo = Duration.ofHours(embargoH.toLong))
      val r = Build(spark,
        Labels.frame(lblDf, Seq("user_id"), "label_time", Seq("y")),
        Seq(f),
        BuildOptions(join = if (inclusive) "inclusive" else "strict",
          checkDuplicates = false, sortResult = false))
      r.auditPassed && r.rows == lbls.size
    }, 20)
  }

  private val genMultiCase = for {
    nRights <- Gen.choose(1, 3)
    rights <- Gen.listOfN(nRights, for {
      n <- Gen.choose(1, 40)
      offs <- Gen.listOfN(n, Gen.choose(0L, 400L))
      // biased toward one hot key: the segmented carry exists for skew
      keys <- Gen.listOfN(n, Gen.frequency(7 -> Gen.const(1), 3 -> Gen.choose(2, 5)))
    } yield offs.zip(keys))
    nLbl <- Gen.choose(1, 30)
    lblOffs <- Gen.listOfN(nLbl, Gen.choose(60L, 460L))
    lblKeys <- Gen.listOfN(nLbl, Gen.frequency(6 -> Gen.const(1), 4 -> Gen.choose(2, 6)))
    embargoH <- Gen.choose(0, 72)
    inclusive <- Gen.oneOf(true, false)
    staleDays <- Gen.oneOf(Option.empty[Long], Some(2L), Some(7L))
    bucketH <- Gen.oneOf(1L, 12L, 48L, 24L * 365)
  } yield (rights, lblOffs.zip(lblKeys), embargoH, inclusive, staleDays, bucketH)

  test("segmented fused multi carry is equivalent to the plain multi carry") {
    // the three-stage segmented carry + per-slot max_by is the subtlest
    // code in the repo: fuzz it against the plain single-window carry
    // across right-side counts, skewed keys, bounds, and bucket widths.
    // Values are a pure function of (key, time, slot) so feature_time
    // ties — whose winner is deliberately arbitrary in BOTH paths —
    // carry indistinguishable payloads and cannot flake the comparison.
    check(Prop.forAllNoShrink(genMultiCase) {
      case (rightRows, lbls, embargoH, inclusive, staleDays, bucketH) =>
        val rights = rightRows.zipWithIndex.map { case (rows, ri) =>
          val df = rows.map { case (off, k) =>
            (k.toLong, new Timestamp(base + off * 3600 * 1000),
              (k * 1000 + off).toDouble + ri)
          }.toDF("user_id", s"t$ri", s"v$ri")
          AsOfJoin.Right(df, Seq("user_id"), s"t$ri", Seq(s"v$ri"), Seq(s"ft$ri"),
            embargo = Duration.ofHours(embargoH.toLong),
            maxStaleness = staleDays.map(Duration.ofDays))
        }
        val lblDf = lbls.zipWithIndex.map { case ((off, k), i) =>
          (i.toLong, k.toLong, new Timestamp(base + off * 3600 * 1000))
        }.toDF(AsOfJoin.RowIdCol, "user_id", "lt")
        val spec = AsOfJoin.Spec(
          Seq("user_id"), "lt",
          inclusive = inclusive,
          maxLookback = Some(Duration.ofDays(365)))
        val plain = AsOfJoin.join(lblDf, rights, spec, AsOfJoin.Strategy.UnionAsOf)
          .collect().map(_.toString).sorted.toSeq
        val seg = AsOfJoin.join(lblDf, rights, spec,
          AsOfJoin.Strategy.UnionAsOfSegmented(Duration.ofHours(bucketH)))
          .collect().map(_.toString).sorted.toSeq
        plain.length == lbls.size && plain == seg
    }, 15)
  }

  test("media decoders never throw on arbitrary bytes") {
    // a decoder that crashes on a malformed payload kills the whole
    // task (and its retry) at 100 TB scale — every byte-level parser
    // must degrade to None/fallback, never throw. Includes
    // adversarial prefixes that enter the real parse paths.
    val genBytes = Gen.oneOf(
      Gen.choose(0, 512).flatMap(n => Gen.listOfN(n, Gen.choose(-128, 127))),
      Gen.choose(0, 512).flatMap(n => Gen.listOfN(n, Gen.choose(-128, 127)))
        .map(t => "RIFF".getBytes.toList.map(_.toInt) ::: t),
      Gen.choose(0, 512).flatMap(n => Gen.listOfN(n, Gen.choose(-128, 127)))
        .map(t => ("RIFF    AVI LIST".getBytes.toList.map(_.toInt) ::: t))
    ).map(_.map(_.toByte).toArray)
    // every 64-bit media hash (the slice-based frame dHash included)
    // and the resizer must answer None/Some, never throw
    def hashesAndResize(bytes: Array[Byte]): Boolean = {
      graft.ops.Multimodal.MediaHash.all.foreach(kind => kind(bytes))
      graft.ops.Multimodal.resizeImage(bytes, 4, 4)
      true
    }
    check(Prop.forAllNoShrink(genBytes) { bytes =>
      val inBounds = graft.ops.Multimodal.aviFrameChunks(bytes).forall(_.forall {
        case (off, len) => off >= 0 && len > 0 && off + len <= bytes.length })
      graft.ops.Multimodal.decodeImage(bytes)
      graft.ops.Multimodal.decodeAudio(bytes)
      inBounds && hashesAndResize(bytes)
    }, 300)
    // a null payload (a missing binary cell) is undecodable, not a crash
    assert(hashesAndResize(null))
    assert(graft.ops.Multimodal.decodeImage(null).isEmpty &&
      graft.ops.Multimodal.decodeAudio(null).isEmpty &&
      graft.ops.Multimodal.aviFrameChunks(null).isEmpty)
    // attacker-controlled LIST nesting must not overflow the stack:
    // 100k nested 12-byte LIST headers would drive a recursive walk
    // 100k frames deep (StackOverflowError is not an Exception — no
    // decoder-contract caller catches it)
    locally {
      val depth = 100000
      val buf = new Array[Byte](12 + 12 * depth)
      def put4(off: Int, s: String): Unit = { s.getBytes.copyToArray(buf, off); () }
      def putLe(off: Int, v: Int): Unit = {
        buf(off) = (v & 0xff).toByte; buf(off + 1) = ((v >> 8) & 0xff).toByte
        buf(off + 2) = ((v >> 16) & 0xff).toByte; buf(off + 3) = ((v >>> 24) & 0xff).toByte
      }
      put4(0, "RIFF"); putLe(4, 4 + 12 * depth); put4(8, "AVI ")
      (0 until depth).foreach { i =>
        val off = 12 + 12 * i
        put4(off, "LIST"); putLe(off + 4, 4 + 12 * (depth - 1 - i)); put4(off + 8, "movi")
      }
      assert(graft.ops.Multimodal.aviFrameChunks(buf).exists(_.isEmpty))
    }
    // truncation fuzz over REAL media: every prefix of a valid
    // container must still parse-or-None, and any frame slices
    // returned must stay in bounds
    val avi = graft.ops.Multimodal.syntheticMjpegAvi(3)
    val wav = graft.ops.Multimodal.syntheticWav(3)
    val png = graft.ops.Multimodal.syntheticPng(3)
    check(Prop.forAllNoShrink(Gen.choose(0, avi.length)) { cut =>
      val t = avi.take(cut)
      graft.ops.Multimodal.aviFrameChunks(t).forall(_.forall {
        case (off, len) => off >= 0 && len > 0 && off + len <= t.length }) &&
        hashesAndResize(t)
    }, 200)
    check(Prop.forAllNoShrink(Gen.choose(0, math.max(wav.length, png.length))) { cut =>
      graft.ops.Multimodal.decodeAudio(wav.take(math.min(cut, wav.length)))
      graft.ops.Multimodal.decodeImage(png.take(math.min(cut, png.length)))
      hashesAndResize(wav.take(math.min(cut, wav.length))) &&
        hashesAndResize(png.take(math.min(cut, png.length)))
    }, 200)
  }

  test("lossless encodings are feature-invariant: png and bmp agree exactly") {
    // decodeImage and dHash64 must be functions of the DECODED PIXELS,
    // not the container bytes: the same random image encoded through
    // two lossless formats has to produce identical dims, embedding,
    // and perceptual hash. Catches any accidental dependence on
    // payload bytes (e.g. a fallback-stub path silently engaging).
    val genImg = for {
      w <- Gen.choose(1, 40)
      h <- Gen.choose(1, 40)
      seed <- Gen.choose(Long.MinValue, Long.MaxValue)
    } yield {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y, (((seed + y.toLong * w + x) * 2654435761L) >>> 16).toInt & 0xffffff)
          x += 1
        }
        y += 1
      }
      img
    }
    def enc(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    check(Prop.forAllNoShrink(genImg) { img =>
      val png = enc(img, "png")
      val bmp = enc(img, "bmp")
      val dp = graft.ops.Multimodal.decodeImage(png, dim = 16).get
      val db = graft.ops.Multimodal.decodeImage(bmp, dim = 16).get
      dp._1 == db._1 && dp._2 == db._2 && dp._3.toSeq == db._3.toSeq &&
        graft.ops.Multimodal.dHash64(png) == graft.ops.Multimodal.dHash64(bmp)
    }, 100)
  }

  test("normalization kernel is total and idempotent on arbitrary unicode") {
    // corpus text is untrusted bytes: the kernel must never throw
    // (including on lone surrogates and unassigned code points) and
    // normalization must be a projection — applying it twice equals
    // once (UAX #15 guarantees it; this pins our wrapper preserves it)
    import org.apache.spark.unsafe.types.UTF8String
    import java.text.Normalizer.Form
    val genStr = Gen.listOf(Gen.frequency(
      5 -> Gen.alphaNumChar,
      2 -> Gen.choose(0x00c0.toChar, 0x024f.toChar),   // latin w/ diacritics
      1 -> Gen.choose(0x0300.toChar, 0x036f.toChar),   // combining marks
      1 -> Gen.choose(0xfb00.toChar, 0xfb06.toChar),   // ligatures
      1 -> Gen.choose(0xff00.toChar, 0xffef.toChar)    // full/half width
    )).map(_.mkString)
    Seq(Form.NFC, Form.NFKC).foreach { form =>
      check(Prop.forAllNoShrink(genStr) { s =>
        val n1 = graft.functions.Normalize.compute(UTF8String.fromString(s), form)
        val n2 = graft.functions.Normalize.compute(n1, form)
        n1.equals(n2)
      }, 500)
    }
    // RAW malformed UTF-8 must reach the kernel (String-level surrogate
    // generators get sanitized by fromString before compute ever runs):
    // arbitrary byte sequences — truncated multibyte heads, stray
    // continuation bytes, overlong forms — must not throw, must be
    // idempotent, and canonically-equivalent text sharing an invalid
    // byte tail must normalize to IDENTICAL bytes on both the fast
    // (already-normalized) and slow path
    val genBytes = Gen.choose(0, 64).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-128, 127))).map(_.map(_.toByte).toArray)
    check(Prop.forAllNoShrink(genBytes) { bytes =>
      val composed = "caf\u00e9".getBytes("UTF-8") ++ bytes
      val decomposed = "cafe\u0301".getBytes("UTF-8") ++ bytes
      val n1 = graft.functions.Normalize.compute(
        UTF8String.fromBytes(bytes), Form.NFKC)
      val n2 = graft.functions.Normalize.compute(n1, Form.NFKC)
      n1.equals(n2) &&
        graft.functions.Normalize.compute(UTF8String.fromBytes(composed), Form.NFC)
          .equals(graft.functions.Normalize.compute(
            UTF8String.fromBytes(decomposed), Form.NFC))
    }, 500)
  }

  test("hygiene verdict kernel equals the Column predicates on arbitrary text") {
    // the kernel re-implements five stages' worth of Column semantics
    // in one pass; this generative sweep hunts the edges the curated
    // OpsSpec corpus misses (adversarial separators, unicode,
    // stage-threshold boundaries). Batched: one Spark job per 120
    // generated documents, not per document.
    import graft.ops.QualityFilters
    val word = Gen.frequency(
      4 -> Gen.oneOf("the", "and", "of", "to", "that", "have", "with", "fox",
        "dog", "der", "und", "ist", "le", "la", "el", "que", "data", "value"),
      1 -> Gen.oneOf("lorem", "ipsum", "#", "...", "…", "{", "-item",
        "supercalifragilisticexpialidocious", "café", "naïve",
        "İstanbul", "12345", "a,,,", "zzz,,,"),
      1 -> Gen.listOfN(3, Gen.alphaChar).map(_.mkString))
    val sep = Gen.frequency(10 -> Gen.const(" "), 2 -> Gen.const(".\n"),
      2 -> Gen.const(". "), 1 -> Gen.const("\n"), 1 -> Gen.const("  "),
      1 -> Gen.const("\t"), 1 -> Gen.const("!\n"), 1 -> Gen.const(" "))
    val text = for {
      n <- Gen.choose(0, 150)
      ws <- Gen.listOfN(n, Gen.zip(word, sep))
    } yield ws.map { case (w, s) => w + s }.mkString
    val c4 = Some((3, 5))
    val gcfg = QualityFilters.GopherConfig()
    val rcfg = QualityFilters.RepetitionConfig()
    val clean = QualityFilters.c4Text(col("text"), 5)
    val preds: Seq[(Int, org.apache.spark.sql.Column)] = Seq(
      1 -> QualityFilters.c4Keep(col("text"), 3, 5),
      2 -> QualityFilters.gopherKeep(clean, gcfg),
      3 -> QualityFilters.repetitionKeep(clean, rcfg),
      4 -> (graft.ops.TextAnalysis.qualityScore(clean) >= 0.3),
      5 -> graft.ops.TextAnalysis.langId(clean).isin("en"))
    val ref = preds.foldRight(lit(0)) { case ((i, p), acc) =>
      when(!p, i).otherwise(acc)
    }
    val kernel = QualityFilters.hygieneVerdict(col("text"), c4, Some(gcfg),
      Some(rcfg), 0.3, Seq("en"))
    check(Prop.forAllNoShrink(Gen.listOfN(120, text)) { ts =>
      val rows = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select(col("doc_id"), kernel.as("k"), ref.as("r"), col("text"))
        .collect()
      val bad = rows.filter(r => r.getInt(1) != r.getInt(2))
      if (bad.nonEmpty) println("[hygieneprop] mismatch: " + bad.take(3).map(r =>
        s"(k=${r.getInt(1)} r=${r.getInt(2)} <${r.getString(3).take(100)}>)").mkString("; "))
      bad.isEmpty
    }, 4)
  }

  test("hash sampling is nested and boundary-exact for arbitrary rates") {
    // threshold sampling's defining property: for r1 <= r2 the r1
    // sample is a SUBSET of the r2 sample (growing a sampling rate
    // only adds rows — critical for reproducible corpus scaling).
    // rate 0 keeps nothing, rate 1 keeps everything.
    val ids = (1L to 400L).toDF("id")
    check(Prop.forAll(
      Gen.chooseNum(0.0, 1.0), Gen.chooseNum(0.0, 1.0),
      Gen.chooseNum(Int.MinValue, Int.MaxValue)) { (a, b, seed) =>
      val (r1, r2) = (math.min(a, b), math.max(a, b))
      val s1 = graft.ops.Sampling.hashSample(ids, "id", r1, seed)
        .as[Long].collect().toSet
      val s2 = graft.ops.Sampling.hashSample(ids, "id", r2, seed)
        .as[Long].collect().toSet
      s1.subsetOf(s2)
    }, 15)
    assert(graft.ops.Sampling.hashSample(ids, "id", 0.0).count() == 0L)
    assert(graft.ops.Sampling.hashSample(ids, "id", 1.0).count() == 400L)
  }

  test("line-dedup kernel matches the independent HOF formulation on arbitrary line soups") {
    // small alphabet forces duplicate lines; space-only and
    // trailing-space variants pin the blank rule (space-only = blank,
    // trailing space = a DIFFERENT line). The reference path is the
    // array_position higher-order formulation the kernel replaced —
    // fully independent evaluation machinery inside Spark.
    val genDoc = for {
      n <- Gen.choose(0, 12)
      lines <- Gen.listOfN(n,
        Gen.oneOf("a", "b", "a b", "", " ", "  ", "a ", " a", "xyz"))
    } yield lines.mkString("\n")
    check(Prop.forAllNoShrink(Gen.listOfN(30, genDoc)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val rows = df.withColumn("__lines", split(col("text"), "\n"))
        .select(col("id"),
          graft.functions.LineDedup.of(col("text")).as("k"),
          array_join(filter(col("__lines"), (l, i) =>
            (length(trim(l)) === 0) ||
              (array_position(col("__lines"), l) === (i + 1).cast("long"))),
            "\n").as("r"))
        .collect()
      rows.forall(r => r.getString(1) == r.getString(2))
    }, 8)
  }

  test("chunkPackedIds tiles every pack exactly for arbitrary shapes") {
    // independent reference model: per pack, order documents by
    // (pack_offset, doc_id), concatenate their id arrays, slice into
    // seqLen chunks. The operator must agree on pack keys, chunk
    // contiguity, full-chunk lengths, and the concatenated content —
    // for ANY doc lengths (incl. zero), seqLen, budget and group count.
    val genChunkCase = for {
      nDocs <- Gen.choose(1, 40)
      lens <- Gen.listOfN(nDocs, Gen.choose(0, 50))
      seqLen <- Gen.choose(1, 17)
      budget <- Gen.choose(1L, 64L)
      groups <- Gen.choose(1, 4)
    } yield (lens, seqLen, budget, groups)
    check(Prop.forAllNoShrink(genChunkCase) { case (lens, seqLen, budget, groups) =>
      val docs = lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, (0 until n).map(j => i * 1000 + j).toArray, "t")
      }.toDF("doc_id", "token_ids", "text")
      val assigned = graft.ops.Sampling.packSequences(docs, "doc_id", "text",
        tokenBudget = budget, groups = groups, seed = 1,
        tokenCount = Some(size(col("token_ids"))))
      val got = graft.ops.Sampling.chunkPackedIds(
          assigned, "doc_id", "token_ids", seqLen)
        .select("pack_group", "pack_id", "seq_idx", "n_tokens", "token_ids")
        .collect()
        .map(r => ((r.getInt(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3), r.getSeq[Int](4))))
        .groupBy(_._1).map { case (k, rows) =>
          k -> rows.map(_._2).sortBy(_._1).toSeq
        }
      val ref = assigned
        .select("pack_group", "pack_id", "pack_offset", "doc_id", "token_ids")
        .collect()
        .map(r => ((r.getInt(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3), r.getSeq[Int](4))))
        .groupBy(_._1).map { case (k, rows) =>
          k -> rows.map(_._2).sortBy(t => (t._1, t._2)).flatMap(_._3).toSeq
        }.filter(_._2.nonEmpty)
      val keysOk = got.keySet == ref.keySet
      val tileOk = keysOk && ref.forall { case (k, all) =>
        val chunks = got(k)
        chunks.map(_._1) == chunks.indices.map(_.toLong) &&
        chunks.dropRight(1).forall(_._3.size == seqLen) &&
        chunks.forall(c => c._2 == c._3.size.toLong) &&
        chunks.flatMap(_._3) == all
      }
      Prop(keysOk) :| "pack keys" && Prop(tileOk) :| "tiling"
    }, 25)
  }

  private val genHammingCase = for {
    nBase <- Gen.choose(1, 4)
    bases <- Gen.listOfN(nBase, Gen.choose(Long.MinValue, Long.MaxValue))
    n <- Gen.choose(2, 25)
    sigs <- Gen.listOfN(n, for {
      b <- Gen.choose(0, nBase - 1)
      nFlips <- Gen.choose(0, 5)
      flips <- Gen.listOfN(nFlips, Gen.choose(0, 63))
    } yield flips.foldLeft(bases(b))((s, i) => s ^ (1L << i)))
    bands <- Gen.oneOf(2, 4, 8)
    maxHam <- Gen.choose(0, 3).map(h => math.min(h, bands - 1))
  } yield (sigs, bands, maxHam)

  test("hammingPairs64 equals brute-force popcount pairs (pigeonhole recall completeness)") {
    import spark.implicits._
    // clustered signatures (bases with 0-5 flipped bits) exercise real
    // near pairs, exact dups and cross-cluster negatives; the banded
    // path must return EXACTLY the brute-force pair set for every
    // maxHamming < bands
    check(Prop.forAllNoShrink(genHammingCase) { case (sigs, bands, maxHam) =>
      val df = sigs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "sig")
      val got = graft.ops.Dedup.hammingPairs64(df, "id", "sig", maxHam, bands)
        .select(col("a"), col("b"), col("hamming").cast("long"))
        .as[(Long, Long, Long)].collect().toSet
      val want = (for {
        i <- sigs.indices
        j <- sigs.indices if i < j
        h = java.lang.Long.bitCount(sigs(i) ^ sigs(j)) if h <= maxHam
      } yield (i.toLong, j.toLong, h.toLong)).toSet
      Prop(got == want) :| s"banded $got != brute $want"
    }, 25)
  }

  test("mojibake repair inverts corruption for separated targets, shrinks, never throws") {
    import graft.functions.Mojibake
    // pure-Scala reference of the Column fold: Pairs applied in order,
    // all occurrences each (String.replace == StringReplace semantics);
    // OpsSpec ties the Column version to expected outputs on fixtures
    def fixPure(s: String): String =
      Mojibake.Pairs.foldLeft(s) { case (a, (art, tgt)) => a.replace(art, tgt) }
    def corrupt(s: String): String = new String(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8), "windows-1252")
    val targets = Mojibake.Pairs.map(_._2.charAt(0))
    // originals with NO adjacent non-ASCII chars: each target char is
    // followed by an ASCII letter, so corrupt -> fix is an exact
    // inverse (adjacent targets are genuinely ambiguous: the CHARS
    // 'A-tilde' + ellipsis are byte-identical to mis-decoded 'A-ring'
    // -- the known limit of any CP1252 repair heuristic)
    val genSeparated = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      1 -> Gen.const(" "),
      3 -> Gen.oneOf(targets).flatMap(t =>
        Gen.alphaChar.map(a => s"$t$a"))
    )).map(_.mkString)
    check(Prop.forAllNoShrink(genSeparated) { s =>
      val fixed = fixPure(corrupt(s))
      Prop(fixed == s) :| s"fix(corrupt('$s')) = '$fixed'"
    }, 500)
    // totality on arbitrary unicode soup (including artifact-shaped
    // and half-artifact sequences): never throws, never grows
    val genSoup = Gen.listOf(Gen.frequency(
      3 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(targets),
      2 -> Gen.oneOf(Mojibake.Pairs.flatMap(_._1.toSeq)),
      1 -> Gen.choose(0x20.toChar, 0x2fff.toChar)
    )).map(_.mkString)
    check(Prop.forAllNoShrink(genSoup) { s =>
      val f1 = fixPure(s)
      Prop(f1.length <= s.length) :| s"grew: '$s' -> '$f1'"
    }, 500)
  }

  test("Tok.splitWs equals Pattern.split(\"\\\\s+\", -1) on arbitrary strings") {
    // the r16 fast path replaces the regex engine in every text
    // kernel's tokenization; this fuzz pins it to the regex itself,
    // including the limit=-1 quirks (leading/trailing empties, [""]
    // for "", all-whitespace inputs) and every \s member
    val ws = java.util.regex.Pattern.compile("\\s+")
    val piece = Gen.frequency(
      5 -> Gen.listOfN(3, Gen.alphaNumChar).map(_.mkString),
      3 -> Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r"),
      1 -> Gen.oneOf("", "  ", " \t ", "\r\n", "café", "…", " ", "一二"),
      1 -> Gen.choose(0x20.toChar, 0x2fff.toChar).map(_.toString))
    val gen = Gen.listOf(piece).map(_.mkString)
    check(Prop.forAllNoShrink(gen) { s =>
      val fast = graft.functions.Tok.splitWs(s).toSeq
      val ref = ws.split(s, -1).toSeq
      Prop(fast == ref) :| s"'$s': $fast vs $ref"
    }, 2000)
  }

  test("WsTokens kernels equal their HOF/split Column formulations") {
    // ws_tokens / ws_tokens(lower) / ws_token_count replace the
    // CodegenFallback filter(split(...)) tokenizations in ExactSubstr,
    // chunking, DSIR, TF-IDF and token-drift — pinned here against the
    // original Column expressions over whitespace-adversarial soups
    import graft.functions.WsTokens
    val piece = Gen.frequency(
      5 -> Gen.listOfN(3, Gen.alphaNumChar).map(_.mkString),
      3 -> Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r"),
      1 -> Gen.oneOf("", "  ", " \t ", "\r\n", "Café", "…", " ", "一二"))
    val gen = Gen.listOf(piece).map(_.mkString)
    check(Prop.forAllNoShrink(Gen.listOfN(200, gen)) { ts =>
      val rows = (null.asInstanceOf[String] :: ts).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
        .select(
          WsTokens.of(col("text")).as("k1"),
          filter(split(trim(col("text")), "\\s+"), t => length(t) > 0).as("r1"),
          WsTokens.lowerOf(col("text")).as("k2"),
          filter(split(lower(trim(col("text"))), "\\s+"), t => length(t) > 0).as("r2"),
          WsTokens.countOf(col("text")).as("k3"),
          when(length(trim(col("text"))) === 0, 0)
            .otherwise(size(split(trim(col("text")), "\\s+"))).as("r3"))
        .collect()
      rows.forall { r =>
        r.getAs[Seq[String]]("k1") == r.getAs[Seq[String]]("r1") &&
          r.getAs[Seq[String]]("k2") == r.getAs[Seq[String]]("r2") &&
          r.getAs[Any]("k3") == r.getAs[Any]("r3")
      }
    }, 10)
  }

  test("rolling-hash ngram repetition equals an independent string-gram count") {
    // the r16 rolling-hash family loop must count exactly like a naive
    // joined-string HashMap per n — top fraction (max count, ties to
    // the longer gram) and dup fraction both, over arbitrary token
    // soups with planted repetition
    import graft.functions.NgramRepetition
    import org.apache.spark.unsafe.types.UTF8String
    val word = Gen.frequency(
      5 -> Gen.oneOf("a", "b", "cc", "ddd", "the", "of", "spam"),
      1 -> Gen.listOfN(2, Gen.alphaChar).map(_.mkString),
      1 -> Gen.oneOf("café", "…x"))
    val doc = for {
      n <- Gen.choose(0, 60)
      toks <- Gen.listOfN(n, word)
      rep <- Gen.choose(0, 3) // plant a repeated run to exercise dups
    } yield (toks ++ List.fill(rep)(toks.take(6)).flatten).mkString(" ")
    val topNs = Array(2, 3, 4)
    val dupNs = Array(5, 6, 7, 8, 9, 10)
    def naive(text: String): Seq[Double] = {
      val toks = text.trim.split("\\s+", -1).toSeq.filter(_ => true)
      val norm = toks.mkString(" ").codePointCount(0, toks.mkString(" ").length)
      def fracs(n: Int, top: Boolean): Double = {
        if (text.trim.isEmpty || toks.length < n || norm == 0) 0.0
        else {
          val grams = toks.sliding(n).map(_.mkString(" ")).toSeq
          val cnt = grams.groupBy(identity).view.mapValues(_.size.toLong).toMap
          if (top) {
            val (bc, bl) = cnt.foldLeft((0L, 0L)) { case ((c0, l0), (g, c)) =>
              val l = g.codePointCount(0, g.length).toLong
              if (c > c0 || (c == c0 && l > l0)) (c, l) else (c0, l0)
            }
            math.min(1.0, (bc * bl).toDouble / norm)
          } else {
            val dup = cnt.collect { case (g, c) if c > 1 =>
              c * g.codePointCount(0, g.length).toLong }.sum
            math.min(1.0, dup.toDouble / norm)
          }
        }
      }
      topNs.map(fracs(_, top = true)).toSeq ++ dupNs.map(fracs(_, top = false))
    }
    check(Prop.forAllNoShrink(doc) { text =>
      val r = NgramRepetition.compute(UTF8String.fromString(text), topNs, dupNs)
      val got = (0 until 9).map(r.getDouble)
      val want = naive(text.toLowerCase)
      Prop(got == want) :| s"'${text.take(80)}': $got vs $want"
    }, 300)
  }

  test("connected components equal a local union-find on arbitrary graphs") {
    import spark.implicits._
    // disjoint chains, stars and cliques under scrambled ids, plus
    // duplicate, reversed and self pairs, spread over 1-8 partitions
    val shape = for {
      kind <- Gen.oneOf(0, 1, 2)
      n <- Gen.choose(1, Seq(80, 20, 8)(kind))
    } yield (kind, n)
    val genCase = for {
      shapes <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, shape))
      extra <- Gen.listOf(Gen.zip(Gen.choose(0, 2), Gen.choose(0, 200)))
      parts <- Gen.choose(1, 8)
      seed <- Gen.choose(0L, Long.MaxValue)
      strings <- Gen.oneOf(false, true)
    } yield (shapes, extra, parts, seed, strings)
    check(Prop.forAllNoShrink(genCase) { case (shapes, extra, parts, seed, strings) =>
      val (nodes, base) = shapes.foldLeft((0, Vector.empty[(Int, Int)])) {
        case ((off, acc), (kind, n)) =>
          val e = kind match {
            case 0 => (0 until n - 1).map(i => (off + i, off + i + 1))
            case 1 => (1 until n).map(i => (off, off + i))
            case _ => for (i <- 0 until n; j <- i + 1 until n) yield (off + i, off + j)
          }
          (off + n, acc ++ e)
      }
      // duplicate, reversed or self pair (a self pair may name a fresh node)
      val noise = extra.flatMap { case (k, i) =>
        if (k == 2) Seq((i, i))
        else if (base.isEmpty) Nil
        else { val (a, b) = base(i % base.size); Seq(if (k == 0) (a, b) else (b, a)) }
      }
      val rnd = new scala.util.Random(seed)
      val perm = rnd.shuffle((0 to math.max(nodes, 201)).toVector)
      val pairs = rnd.shuffle(base ++ noise).map { case (a, b) => (perm(a), perm(b)) }
      // string ids order as text ("n10" < "n9"), long ids as numbers
      val key: Int => Any = if (strings) i => s"n$i" else i => i.toLong
      val ord: Ordering[Any] =
        if (strings) Ordering.String.on(_.toString) else Ordering.Long.on(_.asInstanceOf[Long])
      val parent = scala.collection.mutable.Map[Any, Any]()
      def find(x: Any): Any = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(key(a)), find(key(b)))
        if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
      }
      val want = parent.keys.toVector.map(x => x -> find(x)).toMap
      val rdd = spark.sparkContext.parallelize(pairs, parts)
      val df = if (strings) rdd.map { case (a, b) => (s"n$a", s"n$b") }.toDF("a", "b")
        else rdd.map { case (a, b) => (a.toLong, b.toLong) }.toDF("a", "b")
      val got = Dedup.connectedComponents(df).collect().map(r => r.get(0) -> r.get(1)).toMap
      // untouched documents sit past every paired id
      val untouched = (1000 to 1003).map(key)
      val docIds = want.keys.toSeq ++ untouched
      val docs = if (strings) docIds.map(_.asInstanceOf[String]).toDF("doc_id")
        else docIds.map(_.asInstanceOf[Long]).toDF("doc_id")
      val kept = Dedup.dedupByPairs(docs, "doc_id", df).collect().map(_.get(0)).toSet
      val keepWant = want.values.toSet ++ untouched
      Prop(got == want && kept == keepWant) :|
        s"components $got != $want or kept $kept != $keepWant"
    }, 300)
  }
}
