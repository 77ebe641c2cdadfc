package graft

import graft.operators.Multimodal
import graft.streaming.EventsStream
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

object MultimodalSpec {
  /** The queries that decode one media row per document in media_id
    * order: q37's stub pipeline and the lanes built by
    * `Multimodal.decodeLane` / `decodeFanOut`. */
  val decodeLanes: Seq[String] = Seq("q37_multimodal_pipeline",
    "q129_audio_decode", "q135_image_decode", "q139_png_decode",
    "q142_png_gray_decode", "q143_png_palette_decode",
    "q145_png_interlaced_decode", "q146_png_16bit_decode",
    "q147_gif_decode", "q150_gif_animation_report", "q151_jpeg_decode",
    "q155_jpeg_progressive_decode", "q156_wav_wide_decode",
    "q158_png_sub8_decode", "q160_jpeg_exif_normalize",
    "q162_bmp_palette_decode", "q163_gif_frame_sample",
    "q164_tiff_decode", "q167_oriented_dispatch_decode",
    "q169_g711_decode", "q170_tiff_multipage", "q172_ccitt_decode",
    "q173_adpcm_decode", "q174_ms_adpcm_decode",
    "q175_jpeg_tiff_decode")
}

/** Multimodal plumbing specs + the stream-stream interval join. */
class MultimodalSpec extends SparkSuite {

  test("decode lanes return rows in their sort key order") {
    // the lanes sort their ids before decoding and never sort again;
    // both oracle checkers sort rows before comparing, so only this
    // case sees a lost order. The lanes read only `documents`, here
    // stored in DESCENDING doc_id order, so a lane that lost its sort
    // returns its rows backwards instead of passing by file order.
    val dir = java.nio.file.Files.createTempDirectory("graft_order_").toString
    Tables.documents(spark, sfDir).orderBy(desc("doc_id")).coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    val frameKey = Map(
      "q37_multimodal_pipeline" -> "frame_no",
      "q163_gif_frame_sample" -> "frame_idx",
      "q170_tiff_multipage" -> "page")
    val unordered = MultimodalSpec.decodeLanes.filter { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val key = "media_id" +: frameKey.get(name).toSeq
      val idx = key.map(df.schema.fieldIndex)
      val rows = df.collect().toSeq.map(r =>
        idx.map(i => r.get(i).asInstanceOf[Number].longValue))
      assert(rows.nonEmpty, name)
      rows.zip(rows.tail).exists { case (a, b) =>
        a.zip(b).find { case (x, y) => x != y }.exists { case (x, y) => x > y }
      }
    }
    assert(unordered.isEmpty, unordered.mkString(", "))
  }

  test("resizeMeta preserves aspect and caps the long side") {
    import spark.implicits._
    val media = Multimodal.mediaFromDocuments(spark, sfDir)
    val out = Multimodal.resizeMeta(media, maxSide = 100)
      .select($"out_width", $"out_height", $"meta.width", $"meta.height")
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getInt(0) <= 100 && r.getInt(1) <= 100)
      if (r.getInt(2) <= 100 && r.getInt(3) <= 100) {
        assert(r.getInt(0) == r.getInt(2) && r.getInt(1) == r.getInt(3))
      }
    }
  }

  test("stream-stream interval join equals the batch interval join") {
    val q = EventsStream.purchaseErrorJoin(
        EventsStream.readEvents(spark, sfDir),
        EventsStream.readEvents(spark, sfDir))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("pe_join")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ssj_ckpt_").toString)
      .start()
    q.awaitTermination()
    val streamed = spark.table("pe_join")
      .orderBy("p_id", "e_id").collect().toSeq
    val batchEvents = Tables.events(spark, sfDir)
    val batch = EventsStream.purchaseErrorJoin(batchEvents, batchEvents)
      .orderBy("p_id", "e_id").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("q136 perceptual-hash dedup finds every planted identical image pair") {
    import spark.implicits._
    val out = graft.operators.Multimodal
      .q136ImagePhashDedup(spark, sfDir).collect().toSeq
    assert(out.nonEmpty)
    // planted structure: docs 4b and 4b+1 carry pixel-IDENTICAL images
    // stored in OPPOSITE orientations (even = bottom-up, odd =
    // top-down); every such pair in the fixture must surface at
    // Hamming 0 — banding cannot miss distance-0 (all four bands
    // collide), and any orientation mishandling would desynchronize
    // the two decodes
    val maxId = Tables.documents(spark, sfDir)
      .agg(org.apache.spark.sql.functions.max($"doc_id")).head().getLong(0)
    val planted = (0L to maxId).filter(id => id % 4 == 0 && id + 1 <= maxId)
      .map(id => (id, id + 1))
    val at0 = out.filter(_.getAs[Long]("hamming") == 0L)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    planted.foreach { p =>
      assert(at0.contains(p), s"planted identical pair $p not at Hamming 0")
    }
    // discrimination: same-base candidates must be closer on average
    // than cross-base band-collision noise
    val (same, cross) = out.partition(_.getAs[Boolean]("same_base"))
    assert(same.nonEmpty)
    def meanHam(rs: Seq[org.apache.spark.sql.Row]): Double =
      rs.map(_.getAs[Long]("hamming").toDouble).sum / math.max(1, rs.size)
    if (cross.nonEmpty)
      assert(meanHam(same) < meanHam(cross),
        s"planted near-dups (${meanHam(same)}) not closer than " +
          s"cross-base noise (${meanHam(cross)})")
  }

  test("q138 sensitivity meter: identical control exact, drift monotone") {
    val rows = graft.operators.Multimodal
      .q138PhashSensitivity(spark, sfDir).collect().toSeq
    assert(rows.map(_.getAs[Long]("v")) == Seq(1L, 2L, 3L))
    val byV = rows.map(r => r.getAs[Long]("v") -> r).toMap
    // v=1 is the identical-image control: every pair at Hamming 0,
    // every pair band-detected — a nonzero value here is a codec or
    // hash bug, not a tuning result
    val c = byV(1L)
    assert(c.getAs[Long]("n_detected") == c.getAs[Long]("n_pairs"))
    assert(c.getAs[Double]("avg_hamming") == 0.0)
    assert(c.getAs[Long]("max_hamming") == 0L)
    // drift grows and detection shrinks with perturbation strength —
    // the meter must order the levels it exists to distinguish
    val avg = Seq(1L, 2L, 3L).map(byV(_).getAs[Double]("avg_hamming"))
    assert(avg == avg.sorted, s"avg_hamming not monotone: $avg")
    val det = Seq(1L, 2L, 3L).map(v =>
      byV(v).getAs[Long]("n_detected").toDouble /
        byV(v).getAs[Long]("n_pairs"))
    assert(det == det.sorted.reverse, s"detection not monotone: $det")
  }

  test("q161 fixture: upright hashes SEPARATE canons (oracle pins collapse)") {
    // the analytic oracle can only state the collapse half (8 oriented
    // re-uploads -> 1 hash per canon); separation — different canons
    // hashing differently — is a property of the mix-keyed fixture,
    // asserted here over the first 40 canon groups
    val hashes = (0L until 40L).map(c =>
      graft.operators.Multimodal.q161OrientedHash(c * 8))
    assert(hashes.distinct.size == hashes.size,
      "cross-canon hash collision in the q161 fixture")
  }

  test("q166 fixture: re-encodes collapse, canons and frames separate") {
    import graft.operators.Multimodal
    // collapse half (also stated by the oracle): every re-encode
    // variant of a canon composites to the SAME frame-hash sequence —
    // disposal/interlace/delay/decoy-transparency must not move a
    // single composited pixel
    for (canon <- 0L until 30L) {
      val sigs = (0 until 4).map(v => Multimodal
        .q166AnimHashes(canon * 4 + v).toSeq)
      assert(sigs.distinct.size == 1, s"canon $canon variants split: $sigs")
      // intra-animation frame hashes distinct (the oracle's n_common
      // claim rides on it)
      assert(sigs.head.distinct.size == sigs.head.size,
        s"canon $canon has colliding frame hashes")
    }
    // separation half: different canons share NO frame hash (so even
    // one banded candidate between canons cannot reach the 0.8 bar) —
    // sampled across the LOW and the 100×-probe-scale HIGH canon
    // ranges: the first fixture cut (multiplicative mix) was clean at
    // low canons and collided 5% of HIGH canons into structured
    // patterns, found only by the scale probe's pair-count canary
    val sample = ((0L until 30L) ++ (100000L until 100030L) ++
      (0L until 125000L by 997L)).distinct
    val all = sample.flatMap(c => Multimodal.q166AnimHashes(c * 4))
    assert(all.distinct.size == all.size,
      "cross-canon frame-hash collision in the q166 fixture")
  }

  test("q171 fixture: re-encodes collapse, documents and pages separate") {
    import graft.operators.Multimodal
    // collapse half (also stated by the oracle): every re-encode of a
    // document — byte order, per-page compression/predictor, strips vs
    // tiles, stored orientation — decodes to the SAME page-hash
    // sequence through the chain walk + upright normalization
    for (canon <- 0L until 30L) {
      val sigs = (0 until 4).map(v => Multimodal
        .q171DocHashes(canon * 4 + v).toSeq)
      assert(sigs.distinct.size == 1, s"canon $canon variants split: $sigs")
      // intra-document page hashes distinct (the oracle's n_common
      // claim rides on it)
      assert(sigs.head.distinct.size == sigs.head.size,
        s"canon $canon has colliding page hashes")
    }
    // separation half: different documents share NO page hash (so even
    // one banded candidate between canons cannot reach the 0.8 bar) —
    // sampled across the LOW and the 100×-probe-scale HIGH canon
    // ranges (the q166 entropy-collapse lesson)
    val sample = ((0L until 30L) ++ (100000L until 100030L) ++
      (0L until 125000L by 997L)).distinct
    val all = sample.flatMap(c => Multimodal.q171DocHashes(c * 4))
    assert(all.distinct.size == all.size,
      "cross-canon page-hash collision in the q171 fixture")
  }

  test("q176 fixture: PDF re-encodes collapse, documents and pages separate") {
    import graft.operators.Multimodal
    // collapse half (also stated by the oracle): every PDF re-encode of
    // a document — filter arm, array vs name form, BlackIs1 convention —
    // extracts to the SAME page-hash sequence
    for (canon <- 0L until 30L) {
      val sigs = (0 until 4).map(v => Multimodal
        .q176PdfHashes(canon * 4 + v).toSeq)
      assert(sigs.distinct.size == 1, s"canon $canon variants split: $sigs")
      assert(sigs.head.distinct.size == sigs.head.size,
        s"canon $canon has colliding page hashes")
    }
    // separation half: different documents share NO page hash — sampled
    // across the LOW and the 100×-probe-scale HIGH canon ranges
    val sample = ((0L until 30L) ++ (100000L until 100030L) ++
      (0L until 125000L by 997L)).distinct
    val all = sample.flatMap(c => Multimodal.q176PdfHashes(c * 4))
    assert(all.distinct.size == all.size,
      "cross-canon page-hash collision in the q176 fixture")
  }

  test("q176 fixture coverage: every filter arm and container knob occurs") {
    import graft.operators.Multimodal
    val knobs = for (v <- 0 to 3; p <- 0 to 3; cb <- Seq(false, true))
      yield Multimodal.q176PageKnobs(v, p, cb)
    assert(knobs.map(_._1).toSet == (0 to 24).toSet,
      "all TWENTY-FIVE filter arms (round 20: JBIG2 symbol/text, " +
        "JBIG2 MMR, JBIG2 refinement, TIFF/PNG-predictor Flate, " +
        "inline BI/ID/EI, 4:2:2 DCT, LZW, RunLength, ASCII85+Flate " +
        "and ASCIIHex+CCITT chains joined)")
    assert(knobs.map(_._2).toSet == Set(false, true), "array form")
    assert(knobs.map(_._3).toSet == Set(false, true), "BlackIs1")
    // BlackIs1 only binds on CCITT arms — both values must occur THERE
    // (via the canon bit: each arm sits on ~1 grid cell now)
    for (arm <- Seq(4, 5, 6)) {
      val b1s = knobs.filter(_._1 == arm).map(_._3).toSet
      assert(b1s == Set(false, true), s"CCITT arm $arm BlackIs1 coverage")
    }
    // the /Rotate axis: every right angle occurs, on several arms
    assert(knobs.map(_._4).toSet == Set(0, 90, 180, 270), "rotations")
    for (r <- Seq(90, 180, 270))
      assert(knobs.filter(_._4 == r).map(_._1).toSet.size >= 3,
        s"rotation $r locked to too few arms")
  }

  test("q179 fixture: TIFF and PDF re-encodes collapse ACROSS containers") {
    import graft.operators.Multimodal
    // collapse half (also stated by the oracle): the same canonical
    // document re-published as multi-page TIFF (v=0,2) and as PDF
    // (v=1,3) extracts to ONE page-hash sequence — the cross-container
    // claim, graded at the hash level
    for (canon <- 0L until 30L) {
      val sigs = (0 until 4).map(v => Multimodal
        .q179Hashes(canon * 4 + v).toSeq)
      assert(sigs.distinct.size == 1, s"canon $canon containers split")
      assert(sigs.head.distinct.size == sigs.head.size,
        s"canon $canon has colliding page hashes")
    }
    // separation half across the 100x probe id range
    val sample = ((0L until 30L) ++ (100000L until 100030L) ++
      (0L until 125000L by 997L)).distinct
    val all = sample.flatMap(c => Multimodal.q179Hashes(c * 4))
    assert(all.distinct.size == all.size,
      "cross-canon page-hash collision in the q179 fixture")
  }

  test("q177 fixture: audio re-encodes collapse, documents and windows separate") {
    import graft.operators.Multimodal
    // collapse half (also stated by the oracle): every re-encode of a
    // recording — PCM16, mu-law, A-law, IMA ADPCM, MS ADPCM, any rate
    // tag — decodes to the SAME window-hash sequence (the run-constant
    // intersection aperture; the hash core REQUIREs sample equality,
    // so a dented aperture throws rather than silently splitting)
    for (canon <- 0L until 30L) {
      val sigs = (0 until 4).map(v => Multimodal
        .q177AudioHashes(canon * 4 + v).toSeq)
      assert(sigs.distinct.size == 1, s"canon $canon variants split")
      assert(sigs.head.distinct.size == sigs.head.size,
        s"canon $canon has colliding window hashes")
    }
    // separation half, sampled into the 100x-probe canon range
    val sample = ((0L until 30L) ++ (100000L until 100030L) ++
      (0L until 125000L by 997L)).distinct
    val all = sample.flatMap(c => Multimodal.q177AudioHashes(c * 4))
    assert(all.distinct.size == all.size,
      "cross-canon window-hash collision in the q177 fixture")
  }

  test("q177 fixture coverage: every codec family and rate occurs") {
    import graft.operators.Multimodal
    val knobs = for (v <- 0 to 3; c <- 0L to 9L)
      yield Multimodal.q177Knobs(v, c)
    assert(knobs.map(_._1).toSet == (0 to 4).toSet, "codec families")
    assert(knobs.map(_._2).toSet.size == 4, "rate axis")
    // every family must occur at more than one rate (family and rate
    // must not be locked together — the q164/q171 drift class)
    for (f <- 0 to 4)
      assert(knobs.filter(_._1 == f).map(_._2).toSet.size >= 2,
        s"family $f locked to one rate")
  }

  test("q164 fixture coverage: every class meets every layout arm and axis") {
    import graft.operators.Multimodal
    val knobs = (0L until 2000L).map(Multimodal.q164Knobs)
    // the round-19 find: lay derived from id%6 was DETERMINED by
    // m = id%3, locking each content class to two of the six layout
    // arms — every (class, arm) pair must occur
    val pairs = knobs.map(k => (k._1, k._2)).toSet
    assert(pairs == (for (m <- 0 to 2; l <- 0 to 5) yield (m, l)).toSet,
      s"missing (class, layout) pairs: ${pairs.size}/18")
    // each axis takes both values where it can bind
    assert(knobs.exists(_._3) && knobs.exists(k => k._1 != 2 && !k._3),
      "16-bit axis")
    assert(knobs.exists(_._4), "CMYK slice")
    assert(knobs.exists(k => k._1 == 1 && k._5) &&
      knobs.exists(k => k._1 == 1 && !k._5), "planar axis within RGB")
    // planar must meet the CMYK slice and every layout arm
    assert(knobs.exists(k => k._4 && k._5), "planar CMYK")
    assert(knobs.filter(_._5).map(_._2).toSet == (0 to 5).toSet,
      "planar must rotate through all six layout arms")
    assert(knobs.exists(k => k._5 && k._3), "planar 16-bit")
    // native YCbCr (round 19): occurs, rotates all six layout arms,
    // and meets every subsampling value
    assert(knobs.exists(k => k._1 == 0 && k._6) &&
      knobs.exists(k => k._1 == 0 && !k._6), "ycc axis within gray")
    assert(knobs.filter(_._6).map(_._2).toSet == (0 to 5).toSet,
      "ycc must rotate through all six layout arms")
    assert(knobs.filter(_._6).map(_._7).toSet ==
      Set((1, 1), (2, 1), (2, 2)), "ycc subsampling coverage")
    // planar native YCbCr (round 20): the cross occurs, spans all four
    // STRIP arms (2/5 are tiled — a named reject for planar ycc) and
    // every subsampling value
    val planYcc = knobs.filter(k => k._6 && k._5)
    assert(planYcc.nonEmpty, "planar-ycc cross absent")
    assert(planYcc.map(_._2).toSet == Set(0, 1, 3, 4),
      s"planar-ycc strip arms: ${planYcc.map(_._2).toSet}")
    assert(planYcc.map(_._7).toSet == Set((1, 1), (2, 1), (2, 2)),
      "planar-ycc subsampling coverage")
  }

  test("q171 fixture coverage: every encoding knob value occurs") {
    import graft.operators.Multimodal
    // the advisor r18 class: a knob whose derivation is parity-coupled
    // to another knob can silently never take one of its values, and
    // the lane's coverage claim drifts. Enumerate the full (v, p) grid
    // the fixture can reach (v 0..3, p 0..3) and assert every value of
    // every knob appears, including the (comp=5, predictor=2) pair.
    val knobs = for (v <- 0 to 3; p <- 0 to 3)
      yield Multimodal.q171PageKnobs(v, p)
    assert(knobs.map(_._1).toSet == Set(1, 5, 8, 32773), "compressions")
    assert(knobs.map(_._2).toSet == Set(1, 2), "predictors")
    assert(knobs.map(_._3).toSet == Set(false, true), "strips vs tiles")
    assert(knobs.exists(k => k._1 == 5 && k._2 == 2),
      "the LZW+predictor-2 arm must be reachable")
  }
}
