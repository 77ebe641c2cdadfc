package graft.operators

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{PdfImages, Tables}

/** Multimodal (image/audio/video) column plumbing (north-star surface).
  *
  * Media are opaque `binary` columns with a typed metadata struct — the
  * same shape the reference uses for its PDF corpus (binary stage +
  * metadata sidecar, `epa_ingestion.py:235-249,534-549`). The Spark-side
  * plumbing — schema, batch shape, partition-parallel decode, frame
  * fan-out — is real and tested; the codec itself is STUBBED with a
  * deterministic digest-based fake (this environment ships no image/audio
  * libraries), injected as a function so a real decoder drops in without
  * touching the plan shape.
  *
  * Two builders carry the codec lanes: [[decodeLane]] (one stats row, or
  * a fan-out of frame/page rows, per document, in media_id order) and
  * [[quarantineReport]] (a per-reason triage count over mutated
  * containers, with its oracle generated from the same class table).
  */
object Multimodal {

  /** The narrow id frame `(media_id, carry…)` of `docs`, sorted by
    * media_id: the input [[decodeLane]] projects its decoder over. */
  private[graft] def sortedIds(docs: DataFrame, carry: String*): DataFrame =
    docs.select(col("doc_id").as("media_id") +: carry.map(col): _*)
      .orderBy(col("media_id"))

  /** A decode lane: `(media_id, stats…)` rows in media_id order, one per
    * document of `docs`, the stats being `f(doc_id)`. The columns are
    * named by `names`, or by the fields of `T` when `names` is empty.
    *
    * Shape: the ids are sorted first and the decoder runs once per row
    * after the exchange. A global sort's RangePartitioner samples its
    * child by computing the whole child, so a decoder projected BELOW the
    * sort ran twice per row — once for the sampling job, once in the map
    * stage. Sorting the narrow id frame and projecting the decoder above
    * it leaves the sampler reading ids only; the decoder runs once per
    * row, one JVM call, no driver round-trip, and the stats projection
    * stays a separate Project over its struct (a non-cheap UDF is never
    * inlined into several consumers). Project and Generate keep the
    * sorted order, so no lane sorts its output again. The range exchange
    * stays AQE-sized: one result file per query. Decoded media never
    * shuffle. PlanQualitySpec fences the shape (no UDF below a range
    * exchange, one ScalaUDF per lane) and MultimodalSpec pins each lane's
    * output order. */
  private[graft] def decodeLane[T: TypeTag](docs: DataFrame, names: String*)(
      f: Long => T): DataFrame =
    laneOf(sortedIds(docs), udf(f).apply(col("media_id")), names)

  /** [[decodeLane]] for a decoder that fans one document out to several
    * (frame, page) rows; the explode keeps the media_id order. */
  private[graft] def decodeFanOut[T: TypeTag](docs: DataFrame,
      names: String*)(f: Long => Seq[T]): DataFrame =
    laneOf(sortedIds(docs), explode(udf(f).apply(col("media_id"))), names)

  private def laneOf(ids: DataFrame, decoded: Column,
      names: Seq[String]): DataFrame = {
    val out = ids.select(col("media_id"), decoded.as("st"))
      .select(col("media_id"), col("st.*"))
    if (names.isEmpty) out else out.toDF("media_id" +: names: _*)
  }

  /** One row of a quarantine lane's class table: documents with
    * `doc_id % k` = the row's index get `bytes(doc_id)`; a parse that
    * rejects them with a message containing one of `says` is reported
    * under `reason`. `expect` gives the class's expected quantities as
    * DuckDB expressions over doc_id (missing ones are 0); a decodable
    * class declares reason "decoded" and no `says`. */
  private case class QClass(reason: String, expect: Seq[String],
      says: String*)(val bytes: Long => Array[Byte])

  /** A quarantine report: per document, the class's bytes go through
    * `decode`, which returns the decoded quantities and the parser's
    * reject message, if any (an IllegalArgumentException counts as a
    * reject with zero quantities). The reason comes from that message —
    * the first class whose `says` it contains, else "other" — never from
    * the class index, so the generated [[quarantineSql]] oracle grades
    * the parser rather than itself. Output: (reason, n_files,
    * quantities…) in reason order. Task-local synth+mutate+parse per row;
    * only the 8-byte ids and the short verdict move. */
  private def quarantineReport(docs: DataFrame, classes: Seq[QClass],
      quantities: String*)(
      decode: Array[Byte] => (Seq[Long], Option[String])): DataFrame = {
    val triage = udf { (id: Long) =>
      val c = classes((id % classes.size).toInt)
      val (q, rejected) =
        try decode(c.bytes(id))
        catch {
          case e: IllegalArgumentException =>
            (quantities.map(_ => 0L), Some(e.getMessage))
        }
      (rejected.fold("decoded")(m =>
        classes.find(_.says.exists(m.contains)).fold("other")(_.reason)), q)
    }
    // ids spread over every core before the triage UDF, at an explicit
    // width (the frameSetHashFrame reasoning): the one-partition scan of
    // a small documents file would otherwise run every synth+mutate+
    // parse serially in one task. The report sums longs, so partitioning
    // cannot change a cell.
    docs.select(col("doc_id"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(triage(col("doc_id")).as("t"))
      .groupBy(col("t._1").as("reason"))
      .agg(count(lit(1)).as("n_files"), quantities.zipWithIndex.map {
        case (n, i) => sum(element_at(col("t._2"), i + 1)).as(n)
      }: _*)
      .orderBy(col("reason"))
  }

  /** The analytic oracle of a [[quarantineReport]]: each class's reason
    * and expected quantities, keyed by `doc_id % k`. */
  private def quarantineSql(classes: Seq[QClass],
      quantities: String*): String = {
    def byClass(f: QClass => String) = classes.zipWithIndex
      .map { case (c, i) => s"WHEN $i THEN ${f(c)}" }
      .mkString(s"CASE doc_id % ${classes.size} ", " ", " END")
    val qs = quantities.indices.map(j =>
      s"${byClass(_.expect.lift(j).getOrElse("0"))} AS q$j")
    val sums = quantities.zipWithIndex.map { case (n, j) =>
      s"CAST(sum(q$j) AS BIGINT) AS $n" }
    s"""WITH d AS (SELECT ${byClass(c => s"'${c.reason}'")} AS reason,
       |  ${qs.mkString(",\n  ")}
       |  FROM documents)
       |SELECT reason, CAST(count(*) AS BIGINT) AS n_files,
       |  ${sums.mkString(",\n  ")}
       |FROM d GROUP BY reason ORDER BY reason""".stripMargin
  }

  /** The splitmix64 finalizer: full avalanche, so consecutive inputs
    * give unrelated outputs (the fixtures' per-index randomness). */
  private[graft] def splitmix64(m: Long): Long = {
    var z = m * 0x9E3779B97F4A7C15L
    z ^= (z >>> 29); z *= 0xBF58476D1CE4E5B9L
    z ^ (z >>> 32)
  }

  /** Media-table schema: id, kind, bytes, meta(width, height, duration). */
  def mediaFromDocuments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(
      $"doc_id".as("media_id"),
      // deterministic kind from id — stand-in for a real modality column
      element_at(array(lit("image"), lit("audio"), lit("video")),
        ($"doc_id" % 3 + 1).cast("int")).as("kind"),
      $"text".cast("binary").as("content"),
      struct(
        (length($"text") % 640).cast("int").as("width"),
        (length($"text") % 480).cast("int").as("height"),
        ($"n_chars" / 10.0).as("duration_s")).as("meta"))
  }

  /** STUB decoder: 8 pseudo-features derived from the md5 digest of the
    * bytes — deterministic, schema-faithful (`array<double>`), swap for a
    * real `bytes => features` model/codec at deployment. */
  val decodeFeaturesStub: Array[Byte] => Array[Double] = { bytes =>
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    (0 until 8).map { i =>
      val v = ((d(2 * i) & 0xff) << 8) | (d(2 * i + 1) & 0xff)
      v / 65535.0
    }.toArray
  }

  /** Decode/feature-extract over the binary column: partition-parallel,
    * batched through the codegen boundary once per row. */
  def withFeatures(media: DataFrame): DataFrame = {
    val dec = udf(decodeFeaturesStub)
    media.withColumn("features", dec(col("content")))
  }

  /** Frame sampling: video rows fan out to ceil(duration / `everyS`)
    * frame rows (frame_no, frame_ts_s); non-video rows keep one row with
    * frame_no 0. The Generate runs task-local — no shuffle. */
  def sampleFrames(media: DataFrame, everyS: Double = 10.0): DataFrame =
    media.withColumn("frame_no",
        explode(when(col("kind") === "video",
          sequence(lit(0),
            greatest(lit(0),
              ceil(col("meta.duration_s") / everyS).cast("int") - 1)))
          .otherwise(array(lit(0)))))
      .withColumn("frame_ts_s", col("frame_no") * everyS)

  /** "Resize": projection over meta producing target dimensions with
    * aspect preserved — metadata-only, the real pixel op lives behind the
    * decoder stub. */
  def resizeMeta(media: DataFrame, maxSide: Int): DataFrame =
    media.withColumn("scale",
        when(greatest(col("meta.width"), col("meta.height")) > maxSide,
          lit(maxSide) / greatest(col("meta.width"), col("meta.height"))
            .cast("double"))
          .otherwise(lit(1.0)))
      .withColumn("out_width", floor(col("meta.width") * col("scale")).cast("int"))
      .withColumn("out_height", floor(col("meta.height") * col("scale")).cast("int"))

  /** q37 — the multimodal pipeline end-to-end: binary media table →
    * decode-stub features → frame sampling → per-kind rollup. Oracle:
    * DuckDB reproduces the md5-derived features on the text (same bytes —
    * UTF-8 — so digests agree), proving the binary plumbing didn't mangle
    * content. */
  def q37MultimodalPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = withFeatures(mediaFromDocuments(s, dir).orderBy($"media_id"))
    val frames = sampleFrames(media)
    frames.select($"media_id", $"kind", $"frame_no",
        round($"frame_ts_s", 2).as("frame_ts_s"),
        length($"content").as("n_bytes"),
        round(element_at($"features", 1), 6).as("f0"),
        round(element_at($"features", 2), 6).as("f1"))
  }

  val q37Oracle: String =
    """WITH media AS (
      |  SELECT doc_id AS media_id,
      |         ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
      |         text, n_chars / 10.0 AS duration_s,
      |         md5(text) AS h
      |  FROM documents),
      |frames AS (
      |  SELECT m.*, f.frame_no FROM media m,
      |    LATERAL (SELECT unnest(CASE WHEN kind = 'video'
      |      THEN generate_series(0, greatest(0,
      |             CAST(ceil(duration_s / 10.0) AS INT) - 1))
      |      ELSE [0] END) AS frame_no) f)
      |SELECT media_id, kind, frame_no,
      |       round(frame_no * CAST(10.0 AS DOUBLE), 2) AS frame_ts_s,
      |       octet_length(encode(text)) AS n_bytes,
      |       round((CAST(('0x' || substr(h, 1, 2))::INT AS BIGINT) * 256
      |              + ('0x' || substr(h, 3, 2))::INT) / 65535.0, 6) AS f0,
      |       round((CAST(('0x' || substr(h, 5, 2))::INT AS BIGINT) * 256
      |              + ('0x' || substr(h, 7, 2))::INT) / 65535.0, 6) AS f1
      |FROM frames
      |ORDER BY media_id, frame_no""".stripMargin

  /** q129 — REAL audio decode (the half of the codec stub this
    * environment CAN close): per document, a PCM16 WAV is synthesized
    * from fixture columns (integer square wave: period 2 + doc_id % 29,
    * amplitude 1000 + (doc_id·37) % 31000, n = clamp(16, 4000,
    * n_chars·8) samples at 8 kHz), then round-tripped through
    * [[graft.sources.WavAudio]] — the RIFF chunk walk, the junk-LIST
    * skip path and the PCM16 sample decode all under test — and the
    * DECODED samples yield the reported stats. The oracle computes the
    * same stats ANALYTICALLY from (doc_id, n_chars) — square waves make
    * every one closed-form integer (rms = amplitude exactly; zero
    * crossings = ⌊(n−1)/p⌋; duration = ⌊1000n/8000⌋) — so a parser that
    * mis-reads any header field or sample byte hash-mismatches. All
    * int64: m·A² ≤ 4·10¹² (exact in double), A² a perfect square, so
    * sqrt-then-round is exact on both sides of the fence. The decoder
    * also reads `n_chars`, so the lane carries it through the sort
    * ([[decodeLane]]'s shape with one extra input column). */
  def q129AudioDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val synthDecode = udf { (id: Long, nChars: Long) =>
      val n = math.max(16L, math.min(4000L, nChars * 8L)).toInt
      val p = (2L + id % 29L).toInt
      val a = (1000L + (id * 37L) % 31000L).toInt
      val pcm = new Array[Int](n)
      var i = 0
      while (i < n) { pcm(i) = if ((i / p) % 2 == 0) a else -a; i += 1 }
      val w = graft.sources.WavAudio.parse(
        graft.sources.WavAudio.encodePcm16Mono(8000, pcm))
      val ss = w.samples
      val m = ss.length
      // zero crossings, sum of squares and peak in one pass
      var crossings = 0L; var sumSq = 0L; var peak = 0L
      i = 0
      while (i < m) {
        val x = ss(i)
        if (i > 0 && (x >= 0) != (ss(i - 1) >= 0)) crossings += 1
        sumSq += x.toLong * x
        peak = math.max(peak, math.abs(x).toLong)
        i += 1
      }
      val rms = math.round(math.sqrt(sumSq.toDouble / m))
      (w.sampleRate.toLong, m.toLong, 1000L * m / w.sampleRate, rms,
        crossings * 1000000L / (m - 1), peak)
    }
    laneOf(sortedIds(Tables.documents(s, dir), "n_chars"),
      synthDecode($"media_id", $"n_chars"), Seq("sample_rate", "n_samples",
        "duration_ms", "rms", "zcr_x1e6", "peak"))
  }

  val q129Oracle: String =
    """WITH p AS (SELECT doc_id AS media_id,
      |             GREATEST(16, LEAST(4000, n_chars * 8)) AS n,
      |             2 + doc_id % 29 AS p,
      |             1000 + (doc_id * 37) % 31000 AS a
      |           FROM documents)
      |SELECT media_id,
      |       CAST(8000 AS BIGINT) AS sample_rate,
      |       CAST(n AS BIGINT) AS n_samples,
      |       CAST((1000 * n) // 8000 AS BIGINT) AS duration_ms,
      |       CAST(a AS BIGINT) AS rms,
      |       CAST((((n - 1) // p) * 1000000) // (n - 1) AS BIGINT)
      |         AS zcr_x1e6,
      |       CAST(a AS BIGINT) AS peak
      |FROM p ORDER BY media_id""".stripMargin

  /** q135 — REAL image decode (q129's pattern applied to the image
    * half): per document, a 24-bit BI_RGB BMP is synthesized from
    * fixture columns (w = 4 + doc_id % 13 — every row-padding residue
    * 0..3 exercised — h = 3 + doc_id % 7, channel values are integer
    * polynomials of (doc_id, x, y) mod 256), written BOTTOM-UP for even
    * doc_ids and TOP-DOWN (negative biHeight) for odd ones, then
    * round-tripped through [[graft.sources.BmpImage]] and reduced to
    * pixel stats from the DECODED array. `wsum` weights each row sum by
    * (y+1) and `first_px` reads decoded pixel (0,0), so a parser that
    * flips row order, mixes the two storage orientations, swaps
    * BGR↔RGB, or mis-skips padding hash-mismatches — channel sums alone
    * would forgive all of those. The oracle recomputes every stat
    * ANALYTICALLY from doc_id (pure integer arithmetic both sides). BMP
    * has no alpha, so the lane reports [[faceStats]] without sum_alpha. */
  def q135ImageDecode(s: SparkSession, dir: String): DataFrame =
    decodeLane(Tables.documents(s, dir)) { id =>
      val w = (4 + id % 13).toInt
      val h = (3 + id % 7).toInt
      val px = Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        val r = ((id * 7 + x * 3 + y * 5) % 256).toInt
        val g = ((id + x * 11 + y) % 256).toInt
        val b = ((id * 3 + x + y * 13) % 256).toInt
        (r << 16) | (g << 8) | b
      }
      val bmp = graft.sources.BmpImage.parse(
        graft.sources.BmpImage.encode24(w, h, px, topDown = id % 2 == 1))
      faceStats(bmp.width, bmp.height, bmp.pixels)
    }.drop("sum_alpha")

  val q135Oracle: String = faceStatsSql(
    """p AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
      |           FROM documents),
      |px AS (SELECT doc_id, w, h, x, y,
      |         (doc_id * 7 + x * 3 + y * 5) % 256 AS r,
      |         (doc_id + x * 11 + y) % 256 AS g,
      |         (doc_id * 3 + x + y * 13) % 256 AS b
      |       FROM p,
      |         LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) xs,
      |         LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ys)""",
    alpha = false)

  /** q136 — image near-dup by perceptual hash: the multimodal member of
    * the dedup family (q26 exact / q28 MinHash / q120 SimHash for text
    * → THIS for images). Per document a BMP is synthesized with PLANTED
    * duplicate structure — four variants per base image (doc_id div 4):
    * v ∈ {0,1} pixel-identical (but stored in OPPOSITE orientations —
    * the decode normalization is load-bearing), v=2 lightly perturbed
    * (~1/13 of pixels channel-shifted), v=3 heavily (~3/13) — decoded
    * through [[graft.sources.BmpImage]], and reduced to a 64-bit aHash:
    * 8×8 nearest-neighbor luminance samples, bit k = (64·lum_k >
    * Σlum) — pure integer, so both engines derive identical hashes.
    * Near-dup candidates come from the SimHash-Hamming pigeonhole
    * (q120's discipline): the hash splits into 4×16-bit bands, docs
    * sharing a band bucket become candidates (any pair within Hamming
    * ≤ 3 is guaranteed caught; ≤ 8 kept when banding surfaces it),
    * buckets above [[Dedup.MaxShingleDf]] are dropped as stop-buckets.
    * Output: candidate pairs with exact Hamming distance and the
    * planted-truth flag.
    *
    * Scale shape: synth+decode+hash is task-local per row (media bytes
    * never shuffle — only 16 bytes of hash per image cross the wire);
    * the candidate join is the bucketed band equi-join, never all
    * pairs; the bucket cap bounds any degenerate bucket's quadratic
    * fan-out. The oracle replays hash, banding, cap and distance
    * analytically from doc_id. */
  /** The q136 synth→encode→decode→aHash derivation as a frame core:
    * (doc_id) → (doc_id, lo, hi) — shared with the incremental index
    * ([[graft.streaming.PhashIndexStream]]) so stream hashing ≡ batch
    * hashing by construction (the classifierScoresOf pattern).
    *
    * `container` picks the round-trip codec: "bmp" (uncompressed,
    * [[graft.sources.BmpImage]]) or "png" (compressed,
    * [[graft.sources.PngImage]], per-row filters cycling all five
    * types, RGBA for id % 3 == 0, multi-IDAT for even ids). The hash is
    * container-INDEPENDENT by construction — same pixels in, same 64
    * bits out — and PngImageSpec asserts that equality corpus-wide, so
    * q136/q138 carry a compressed-container path without a second
    * oracle. */
  private[graft] def imageHashesOf(docs: DataFrame,
      container: String = "bmp"): DataFrame = {
    require(container == "bmp" || container == "png" || container == "gif",
      s"unknown container $container")
    val ahash = udf { (id: Long) =>
      val base = id / 4
      val v = (id % 4).toInt
      val pert = Array(0, 0, 1, 3)(v)
      val w = (8 + base % 9).toInt
      val h = (8 + base % 5).toInt
      // multiplicative-hash channel mixing (Knuth constant, HIGH bits
      // taken): linear-polynomial channels produced near-identical
      // above/below-mean bit patterns across DIFFERENT bases (834
      // cross-base hash collisions on the first cut — the gradient
      // landscape, not the content, dominated the hash); high-bit
      // mixing makes each base pseudo-random so the planted structure
      // is the only systematic signal. Low bits of m·K are useless:
      // (m·K) mod 256 depends only on m mod 256.
      // m masked to 31 bits BEFORE the multiply: 2^31 · K stays under
      // Long.MaxValue, so no doc_id can overflow — unmasked, ids past
      // ~1.3e8 wrapped negative in Scala while DuckDB raised a BIGINT
      // overflow error on the same row, a silent cross-engine
      // divergence point (review find). Identical mask in the oracle;
      // every realistic id (m < 2^31) is unchanged.
      def mix(m: Long): Long = (((m & 0x7fffffffL) * 2654435761L) / 4096) % 256
      val px = Array.tabulate(w * h) { idx =>
        val x = idx % w; val y = idx / w
        val pp = if ((x * 31 + y * 17 + id) % 13 < pert) 1 else 0
        val m = x + 8L * y + 64L * base
        val r = (mix(m + 1) + 64 * pp) % 256
        val g = (mix(m + 777) + 64 * pp) % 256
        val b = (mix(m + 99999) + 64 * pp) % 256
        ((r.toInt) << 16) | ((g.toInt) << 8) | b.toInt
      }
      val pix: (Int, Int) => Int = container match {
        case "png" =>
          val p = graft.sources.PngImage.parse(graft.sources.PngImage
            .encode(w, h, px, withAlpha = id % 3 == 0,
              filterFor = y => ((y + id) % 5).toInt,
              idatChunkSize = if (id % 2 == 0) 96 else Int.MaxValue))
          p.pixel _
        case "gif" =>
          // exact-palette path: these synth images have <= 192 pixels,
          // so first-occurrence distinct colors always fit GIF's 256 —
          // what a real lossless GIF writer does when no quantization
          // is needed. Interlace and sub-block split vary by id so the
          // container machinery is exercised corpus-wide.
          val order = new java.util.LinkedHashMap[Int, Int]()
          px.foreach(c => order.putIfAbsent(c & 0xffffff, order.size))
          val pal = new Array[Int](order.size)
          order.forEach((c, j) => pal(j) = 0xff000000 | c)
          val idx = px.map(c => order.get(c & 0xffffff).intValue())
          val g = graft.sources.GifImage.parse(graft.sources.GifImage
            .encode(w, h, idx, pal, interlaced = id % 2 == 0,
              subBlockSize = if (id % 5 == 0) 11 else 255))
          g.pixel _
        case _ =>
          val b = graft.sources.BmpImage.parse(
            graft.sources.BmpImage.encode24(w, h, px, topDown = id % 2 == 1))
          b.pixel _
      }
      val lums = new Array[Long](64)
      var sum = 0L
      var k = 0
      while (k < 64) {
        val i = k % 8; val j = k / 8
        val p = pix(i * w / 8, j * h / 8)
        val lum = 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) +
          114L * (p & 0xff)
        lums(k) = lum; sum += lum
        k += 1
      }
      var lo = 0L; var hi = 0L
      k = 0
      while (k < 64) {
        if (64L * lums(k) > sum) {
          if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
        }
        k += 1
      }
      (lo, hi)
    }
    docs
      .select(col("doc_id"), ahash(col("doc_id")).as("hh"))
      .select(col("doc_id"), col("hh._1").as("lo"), col("hh._2").as("hi"))
  }

  /** 4×16-bit band rows over an aHash frame — the Hamming pigeonhole
    * index key (shared by q136 and the incremental index). */
  private[graft] def phashBands(hashes: DataFrame): DataFrame =
    hashes.select(col("doc_id"), posexplode(array(
        expr("lo % 65536"), expr("lo div 65536"),
        expr("hi % 65536"), expr("hi div 65536")))
      .as(Seq("band", "bkey")))

  /** Exact Hamming distance between the a-side and b-side hash halves
    * of a joined pair frame. */
  private[graft] def hammingExpr =
    expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)").cast("long")

  /** q136's presentation face over a (doc_a, doc_b, hamming) pair
    * frame — ONE copy shared with PhashIndexStream.report, so the
    * stream's "reproduces q136 exactly" contract cannot drift when the
    * threshold or columns change (review find: the first cut hardcoded
    * these constants in three places). */
  private[graft] def phashPresentation(pairs: DataFrame): DataFrame =
    pairs.filter(col("hamming") <= 8)
      .withColumn("same_base",
        expr("doc_a div 4") === expr("doc_b div 4"))
      .select(col("doc_a"), col("doc_b"), col("hamming"), col("same_base"))
      .orderBy(col("doc_a"), col("doc_b"))

  def q136ImagePhashDedup(s: SparkSession, dir: String): DataFrame =
    phashDedupVia(s, dir, "bmp")

  /** q141 — the SAME phash near-dup pipeline with the images round-
    * tripped through the COMPRESSED container ([[graft.sources
    * .PngImage]]: per-row filters, RGBA mix, multi-IDAT) instead of
    * BMP. Because the aHash is container-independent by construction
    * (PngPhashParitySpec pins it), q141 is hash-gated by q136's own
    * oracle — which makes the whole PNG codec chain (CRC walk, zlib
    * inflate, all five filter reversals, RGBA stride) part of the
    * graded dedup surface, not just a spec: any decode defect anywhere
    * changes a hash, a band, a candidate pair, and the artifact
    * mismatches. */
  def q141PhashPngContainer(s: SparkSession, dir: String): DataFrame =
    phashDedupVia(s, dir, "png")

  private def phashDedupVia(s: SparkSession, dir: String,
      container: String): DataFrame = {
    import s.implicits._
    val hashes = imageHashesOf(Tables.documents(s, dir), container)
      .cache() // consumed by banding AND both sides of the distance join
    val bands0 = phashBands(hashes)
    phashPresentation(Dedup.cappedBandCandidates(bands0)
      .join(hashes.select($"doc_id".as("doc_a"), $"lo".as("lo_a"),
        $"hi".as("hi_a")), Seq("doc_a"))
      .join(hashes.select($"doc_id".as("doc_b"), $"lo".as("lo_b"),
        $"hi".as("hi_b")), Seq("doc_b"))
      .withColumn("hamming", hammingExpr))
  }

  /** Shared oracle CTE chain: documents → synthesized sampled pixels →
    * aHash halves `hsh(doc_id, lo, hi)` — the analytic replay of
    * [[imageHashesOf]], used by BOTH q136 and q138 so the two oracles
    * can never disagree about what the hash is. */
  private val phashSqlCtes: String =
    s"""d AS (SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v
      |           FROM documents),
      |dim AS (SELECT doc_id, base,
      |          CASE v WHEN 2 THEN 1 WHEN 3 THEN 3 ELSE 0 END AS pert,
      |          8 + base % 9 AS w, 8 + base % 5 AS h FROM d),
      |g AS (SELECT doc_id, base, pert, (i * w) // 8 AS x, (j * h) // 8 AS y,
      |        j * 8 + i AS k
      |      FROM dim,
      |        LATERAL (SELECT unnest(generate_series(0, 7)) AS i) ii,
      |        LATERAL (SELECT unnest(generate_series(0, 7)) AS j) jj),
      |px AS (SELECT doc_id, k,
      |         CASE WHEN (x * 31 + y * 17 + doc_id) % 13 < pert
      |              THEN 1 ELSE 0 END AS pp,
      |         (((x + 8 * y + 64 * base + 1) % 2147483648) * 2654435761) // 4096 % 256 AS r0,
      |         (((x + 8 * y + 64 * base + 777) % 2147483648) * 2654435761) // 4096 % 256 AS g0,
      |         (((x + 8 * y + 64 * base + 99999) % 2147483648) * 2654435761) // 4096 % 256 AS b0
      |       FROM g),
      |l AS (SELECT doc_id, k,
      |        299 * ((r0 + 64 * pp) % 256) + 587 * ((g0 + 64 * pp) % 256)
      |          + 114 * ((b0 + 64 * pp) % 256) AS lum
      |      FROM px),
      |t AS (SELECT doc_id, sum(lum) AS s FROM l GROUP BY 1),
      |bits AS (SELECT l.doc_id, l.k,
      |           CASE WHEN 64 * l.lum > t.s THEN 1 ELSE 0 END AS bit
      |         FROM l JOIN t ON l.doc_id = t.doc_id),
      |hsh AS (SELECT doc_id,
      |          CAST(sum(CASE WHEN k < 32 AND bit = 1
      |                   THEN CAST(1 AS BIGINT) << k ELSE 0 END) AS BIGINT) AS lo,
      |          CAST(sum(CASE WHEN k >= 32 AND bit = 1
      |                   THEN CAST(1 AS BIGINT) << (k - 32) ELSE 0 END) AS BIGINT) AS hi
      |        FROM bits GROUP BY 1)""".stripMargin

  val q136Oracle: String =
    s"""WITH $phashSqlCtes,
      |bands0 AS (SELECT doc_id, band,
      |             CASE band WHEN 0 THEN lo % 65536 WHEN 1 THEN lo // 65536
      |                       WHEN 2 THEN hi % 65536 ELSE hi // 65536 END AS bkey
      |           FROM hsh,
      |             LATERAL (SELECT unnest(generate_series(0, 3)) AS band) bb),
      |bands AS (SELECT doc_id, band, bkey FROM (
      |            SELECT doc_id, band, bkey,
      |                   count(*) OVER (PARTITION BY band, bkey) AS bn
      |            FROM bands0)
      |          WHERE bn <= ${graft.operators.Dedup.MaxShingleDf}),
      |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |          FROM bands x JOIN bands y
      |            ON x.band = y.band AND x.bkey = y.bkey
      |           AND x.doc_id < y.doc_id)
      |SELECT c.doc_a, c.doc_b,
      |       CAST(bit_count(xor(a.lo, b.lo))
      |            + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming,
      |       (c.doc_a // 4) = (c.doc_b // 4) AS same_base
      |FROM cands c
      |JOIN hsh a ON c.doc_a = a.doc_id
      |JOIN hsh b ON c.doc_b = b.doc_id
      |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q138 — aHash sensitivity meter: the error-meter discipline every
    * approximate operator in this engine ships (q108 for LSH banding,
    * q124/q125 for ANN, q126 for MinHash) applied to the q136 family.
    * Against the PLANTED truth — every variant doc (4b+v, v ∈ {1,2,3})
    * pairs with its own base image (4b) — it reports, per perturbation
    * level: how far the 64-bit hash drifts (avg/max Hamming) and
    * whether the 4×16-bit banding would even SURFACE the pair
    * (detection = sharing ≥1 band slice — computed directly from the
    * hash halves, no join: pair (a,b) shares band k iff slice_k(a) =
    * slice_k(b)). v=1 is the identical-image control (must be Hamming
    * 0, detection 1.0); v=2/v=3 measure the recall cost of increasing
    * perturbation — the number that says where the Hamming-≤-8 /
    * 4-band operating point stops finding real near-dups, measured,
    * not guessed.
    *
    * Scale shape: one decode pass (shared kernel), one base-keyed
    * equi-join of two corpus-fraction frames, a 3-row rollup. */
  def q138PhashSensitivity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wk = imageHashesOf(Tables.documents(s, dir))
      .withColumn("base", expr("doc_id div 4"))
      .withColumn("v", $"doc_id" % 4)
    val base0 = wk.filter($"v" === 0)
      .select($"base", $"lo".as("lo_a"), $"hi".as("hi_a"))
    val pairs = wk.filter($"v" =!= 0)
      .select($"base", $"v", $"lo".as("lo_b"), $"hi".as("hi_b"))
      .join(base0, Seq("base"))
      .withColumn("hamming", hammingExpr)
      .withColumn("detected", expr(
        """(lo_a % 65536 = lo_b % 65536) OR
          |(lo_a div 65536 = lo_b div 65536) OR
          |(hi_a % 65536 = hi_b % 65536) OR
          |(hi_a div 65536 = hi_b div 65536)""".stripMargin))
    pairs.groupBy($"v")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"detected", 1L).otherwise(0L)).as("n_detected"),
        round(avg($"hamming"), 6).as("avg_hamming"),
        max($"hamming").as("max_hamming"))
      .orderBy($"v")
  }

  val q138Oracle: String =
    s"""WITH $phashSqlCtes,
      |wk AS (SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v, lo, hi
      |       FROM hsh),
      |p AS (SELECT w.v,
      |        bit_count(xor(b.lo, w.lo)) + bit_count(xor(b.hi, w.hi)) AS hamming,
      |        CASE WHEN (b.lo % 65536 = w.lo % 65536)
      |               OR (b.lo // 65536 = w.lo // 65536)
      |               OR (b.hi % 65536 = w.hi % 65536)
      |               OR (b.hi // 65536 = w.hi // 65536)
      |             THEN 1 ELSE 0 END AS detected
      |      FROM (SELECT base, lo, hi FROM wk WHERE v = 0) b
      |      JOIN (SELECT base, v, lo, hi FROM wk WHERE v <> 0) w
      |        ON b.base = w.base)
      |SELECT v, count(*) AS n_pairs,
      |       CAST(sum(detected) AS BIGINT) AS n_detected,
      |       round(avg(hamming), 6) AS avg_hamming,
      |       CAST(max(hamming) AS BIGINT) AS max_hamming
      |FROM p GROUP BY v ORDER BY v""".stripMargin

  /** q139 — COMPRESSED-container image decode: q135's oracle-gated
    * decode discipline applied to [[graft.sources.PngImage]]. Per
    * document a PNG is synthesized from analytic pixels (q135's channel
    * formulas) and pushed through the FULL codec ladder — per-row
    * filter type cycling all five PNG filters ((y + id) % 5), RGBA for
    * id % 3 == 0 (analytic alpha channel), RGB otherwise, and the
    * compressed stream split across multiple IDAT chunks for even ids
    * — then decoded and reduced to integer stats the DuckDB oracle
    * recomputes ANALYTICALLY from doc_id. Any defect anywhere in the
    * chain (a filter reversed wrong, a Paeth tie broken differently, an
    * IDAT boundary dropped, RGBA stride confused with RGB, zlib
    * mis-seamed) corrupts sum_rgb/wsum/peak_lum/sum_alpha and
    * hash-mismatches; channel sums alone would forgive none of it
    * because wsum weights by row and first_px pins (0,0). */
  def q139PngDecode(s: SparkSession, dir: String): DataFrame =
    decodeLane(Tables.documents(s, dir)) { id =>
      val (w, h, px) = q139Pixels(id)
      val png = graft.sources.PngImage.parse(
        graft.sources.PngImage.encode(w, h, px, withAlpha = id % 3 == 0,
          filterFor = y => ((y + id) % 5).toInt,
          idatChunkSize = if (id % 2 == 0) 64 else Int.MaxValue))
      faceStats(png.width, png.height, png.pixels)
    }

  /** q139's analytic 0xAARRGGBB face (alpha for id % 3 == 0), shared by
    * the PNG lanes its oracle grades (q139, q145). */
  private def q139Pixels(id: Long): (Int, Int, Array[Int]) = {
    val w = (4 + id % 13).toInt
    val h = (3 + id % 7).toInt
    (w, h, Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      val r = ((id * 7 + x * 3 + y * 5) % 256).toInt
      val g = ((id + x * 11 + y) % 256).toInt
      val b = ((id * 3 + x + y * 13) % 256).toInt
      val a = if (id % 3 == 0) ((id + x * 5 + y * 3) % 256).toInt else 0xff
      (a << 24) | (r << 16) | (g << 8) | b
    })
  }

  val q139Oracle: String = faceStatsSql(
    """p AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
      |           FROM documents),
      |px AS (SELECT doc_id, w, h, x, y,
      |         (doc_id * 7 + x * 3 + y * 5) % 256 AS r,
      |         (doc_id + x * 11 + y) % 256 AS g,
      |         (doc_id * 3 + x + y * 13) % 256 AS b,
      |         CASE WHEN doc_id % 3 = 0
      |              THEN (doc_id + x * 5 + y * 3) % 256 ELSE 255 END AS a
      |       FROM p,
      |         LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) xs,
      |         LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ys)""")

  /** The stats every image lane reports over its decoded face. */
  private[graft] case class Face(width: Long, height: Long, n_pixels: Long,
      sum_rgb: Long, wsum: Long, first_px: Long, peak_lum: Long,
      sum_alpha: Long)

  /** The image lanes' stat reduction over a decoded 0xAARRGGBB face, so
    * every container layout grades the same artifact shape. wsum weights
    * each row by y + 1 and first_px pins pixel (0,0), so a flipped row
    * order or a shifted stride changes a stat that channel sums would
    * forgive. */
  private def faceStats(width: Int, height: Int, pixels: Array[Int]): Face = {
    var sumRgb = 0L; var wsum = 0L; var peak = 0L; var sumA = 0L
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val p = pixels(y * width + x) & 0xffffff
        val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff
        val b = p & 0xff
        val s3 = (r + g + b).toLong
        sumRgb += s3
        wsum += (y + 1) * s3
        val lum = 299L * r + 587L * g + 114L * b
        if (lum > peak) peak = lum
        sumA += (pixels(y * width + x) >>> 24) & 0xff
        x += 1
      }
      y += 1
    }
    Face(width.toLong, height.toLong, pixels.length.toLong, sumRgb, wsum,
      (pixels(0) & 0xffffff).toLong, peak, sumA)
  }

  /** The oracle of [[faceStats]]: its reduction over the lane's `px` CTE
    * of (doc_id, w, h, x, y, r, g, b, a) pixel rows — plus a `page` key
    * for a per-page lane, and without sum_alpha for a lane that reports
    * none. Gray lanes emit r = g = b = c. */
  private def faceStatsSql(ctes: String, page: Boolean = false,
      alpha: Boolean = true): String = {
    val key = if (page) ", page" else ""
    val sumAlpha =
      if (alpha) ",\n       CAST(sum(a) AS BIGINT) AS sum_alpha" else ""
    s"""WITH $ctes
      |SELECT doc_id AS media_id$key,
      |       CAST(min(w) AS BIGINT) AS width,
      |       CAST(min(h) AS BIGINT) AS height,
      |       CAST(count(*) AS BIGINT) AS n_pixels,
      |       CAST(sum(r + g + b) AS BIGINT) AS sum_rgb,
      |       CAST(sum((y + 1) * (r + g + b)) AS BIGINT) AS wsum,
      |       CAST(min(CASE WHEN x = 0 AND y = 0
      |                THEN r * 65536 + g * 256 + b END) AS BIGINT) AS first_px,
      |       CAST(max(299 * r + 587 * g + 114 * b) AS BIGINT)
      |         AS peak_lum$sumAlpha
      |FROM px GROUP BY doc_id$key ORDER BY media_id$key""".stripMargin
  }

  /** q142 — grayscale PNG decode (color types 0 and 4): q139's
    * oracle-gated ladder over the OTHER half of the PNG pixel layouts.
    * Per document an 8-bit grayscale PNG is synthesized from analytic
    * gray values — gray+alpha (type 4) for odd ids, plain gray (type 0)
    * for even — with per-row filter cycling and multi-IDAT for ids
    * divisible by 3, decoded, and reduced to integer stats the DuckDB
    * oracle recomputes from doc_id. The UDF additionally asserts the
    * decode invariant R = G = B on every pixel (a stride bug that reads
    * a neighbor's byte breaks it immediately); the gray stats are then
    * [[faceStats]] over one channel (sum_rgb = 3·Σg, peak_lum =
    * 1000·max g). */
  def q142PngGrayDecode(s: SparkSession, dir: String): DataFrame =
    decodeLane(Tables.documents(s, dir), "width", "height", "n_pixels",
        "sum_gray", "wsum", "first_gray", "peak_gray", "sum_alpha") { id =>
      val w = (5 + id % 11).toInt
      val h = (4 + id % 5).toInt
      val gray = Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        ((id * 11 + x * 7 + y * 3) % 256).toInt
      }
      val alpha =
        if (id % 2 == 1) Array.tabulate(w * h) { i =>
          val x = i % w; val y = i / w
          ((id + x + y * 9) % 256).toInt
        } else Array.emptyIntArray
      val png = graft.sources.PngImage.parse(
        graft.sources.PngImage.encodeGray(w, h, gray, alpha,
          filterFor = y => ((y + 2 * id) % 5).toInt,
          idatChunkSize = if (id % 3 == 0) 48 else Int.MaxValue))
      png.pixels.indices.foreach { i =>
        val p = png.pixels(i) & 0xffffff
        require(p == (p & 0xff) * 0x10101,
          s"grayscale decode broke R=G=B at pixel $i: ${p.toHexString}")
      }
      val f = faceStats(png.width, png.height, png.pixels)
      (f.width, f.height, f.n_pixels, f.sum_rgb / 3, f.wsum / 3,
        f.first_px & 0xff, f.peak_lum / 1000, f.sum_alpha)
    }

  val q142Oracle: String =
    """WITH p AS (SELECT doc_id, 5 + doc_id % 11 AS w, 4 + doc_id % 5 AS h
      |           FROM documents),
      |px AS (SELECT doc_id, w, h, x, y,
      |         (doc_id * 11 + x * 7 + y * 3) % 256 AS g,
      |         CASE WHEN doc_id % 2 = 1
      |              THEN (doc_id + x + y * 9) % 256 ELSE 255 END AS a
      |       FROM p,
      |         LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) xs,
      |         LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ys)
      |SELECT doc_id AS media_id,
      |       CAST(min(w) AS BIGINT) AS width,
      |       CAST(min(h) AS BIGINT) AS height,
      |       CAST(count(*) AS BIGINT) AS n_pixels,
      |       CAST(sum(g) AS BIGINT) AS sum_gray,
      |       CAST(sum((y + 1) * g) AS BIGINT) AS wsum,
      |       CAST(min(CASE WHEN x = 0 AND y = 0 THEN g END) AS BIGINT)
      |         AS first_gray,
      |       CAST(max(g) AS BIGINT) AS peak_gray,
      |       CAST(sum(a) AS BIGINT) AS sum_alpha
      |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin

  /** q143 — palette PNG decode (color type 3, PLTE + tRNS): closes the
    * last common-real-corpus PNG layout. Per document an 8-bit indexed
    * PNG is synthesized from an analytic palette (2..256 entries, RGB
    * and — for even ids — a tRNS alpha table over a prefix of entries)
    * and analytic indices, pushed through the full codec ladder
    * (per-row filter cycling, multi-IDAT for ids % 4 == 0), decoded
    * through the PLTE/tRNS lookup into the shared 0xAARRGGBB face, and
    * reduced to integer stats the DuckDB oracle recomputes ANALYTICALLY
    * from doc_id (index → palette-entry formulas, no palette
    * materialization needed). Any defect — a PLTE triple misread, a
    * tRNS entry applied to the wrong index, an opaque default lost, an
    * index filter reversed wrong — corrupts sum_rgb/wsum/sum_alpha and
    * hash-mismatches. */
  def q143PngPaletteDecode(s: SparkSession, dir: String): DataFrame =
    decodeLane(Tables.documents(s, dir)) { id =>
      val w = (4 + id % 9).toInt
      val h = (3 + id % 6).toInt
      val nPal = (2 + id % 255).toInt
      val trnsN = if (id % 2 == 0) (1 + id % nPal).toInt else 0
      val pal = Array.tabulate(nPal) { j =>
        val r = ((id * 5 + j * 7) % 256).toInt
        val g = ((id + j * 13) % 256).toInt
        val b = ((id * 3 + j * 11) % 256).toInt
        val a = if (j < trnsN) ((id + j * 17) % 256).toInt else 0xff
        (a << 24) | (r << 16) | (g << 8) | b
      }
      val idx = Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        ((id + x * 3 + y * 5) % nPal).toInt
      }
      val png = graft.sources.PngImage.parse(
        graft.sources.PngImage.encodePalette(w, h, idx, pal,
          filterFor = y => ((y + 3 * id) % 5).toInt,
          idatChunkSize = if (id % 4 == 0) 40 else Int.MaxValue))
      faceStats(png.width, png.height, png.pixels)
    }

  val q143Oracle: String = faceStatsSql(
    """p AS (SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 6 AS h,
      |             2 + doc_id % 255 AS n_pal,
      |             CASE WHEN doc_id % 2 = 0
      |                  THEN 1 + doc_id % (2 + doc_id % 255)
      |                  ELSE 0 END AS trns_n
      |           FROM documents),
      |ix AS (SELECT doc_id, w, h, n_pal, trns_n, x, y,
      |         (doc_id + x * 3 + y * 5) % n_pal AS j
      |       FROM p,
      |         LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) xs,
      |         LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ys),
      |px AS (SELECT doc_id, w, h, x, y,
      |         (doc_id * 5 + j * 7) % 256 AS r,
      |         (doc_id + j * 13) % 256 AS g,
      |         (doc_id * 3 + j * 11) % 256 AS b,
      |         CASE WHEN j < trns_n THEN (doc_id + j * 17) % 256
      |              ELSE 255 END AS a
      |       FROM ix)""")

  /** q145 — Adam7 INTERLACED PNG decode: q139's exact synthesis and
    * reduction, but every container is encoded with interlace method 1
    * (seven independently filtered sub-image passes, empty passes for
    * sub-8×8 dims carrying zero bytes per spec §8.2) and graded by
    * q139's OWN oracle — the q141 container-independence move: a wrong
    * pass origin/stride leaves holes or double-writes in the face and
    * hash-mismatches an artifact whose expected values are pinned by an
    * already-green query. Filter cycling runs over the OUTPUT scanline
    * index, so every pass sees several filter types. */
  def q145PngInterlacedDecode(s: SparkSession, dir: String): DataFrame =
    decodeLane(Tables.documents(s, dir)) { id =>
      val (w, h, px) = q139Pixels(id)
      val png = graft.sources.PngImage.parse(
        graft.sources.PngImage.encode(w, h, px, withAlpha = id % 3 == 0,
          filterFor = y => ((y + id) % 5).toInt,
          idatChunkSize = if (id % 2 == 0) 64 else Int.MaxValue,
          interlaced = true))
      faceStats(png.width, png.height, png.pixels)
    }

  /** q146 — 16-BIT PNG decode: the high bytes of every 16-bit sample
    * carry q139's analytic channel values and the LOW bytes carry an
    * independent analytic pattern, so the decoded 8-bit face (sample
    * high byte, spec §12.5 rescale) must equal q139's exactly — graded
    * by q139's OWN oracle. The low bytes are the teeth: they flow
    * through the bytewise filter machinery (bpp 6/8, Paeth over
    * big-endian sample pairs) and the doubled expected-size accounting,
    * where any hi/lo mix-up, stride slip or dropped byte shifts every
    * later sample and hash-mismatches. Ids divisible by 5 additionally
    * interlace, composing BOTH new layouts in one container. */
  def q146Png16BitDecode(s: SparkSession, dir: String): DataFrame =
    decodeLane(Tables.documents(s, dir)) { id =>
      val w = (4 + id % 13).toInt
      val h = (3 + id % 7).toInt
      val withAlpha = id % 3 == 0
      val n = w * h
      def ch(hi: (Int, Int) => Int, loSeed: Int): Array[Int] =
        Array.tabulate(n) { i =>
          val x = i % w; val y = i / w
          (hi(x, y) << 8) | ((id * loSeed + x * 17 + y * 29) % 256).toInt
        }
      val r = ch((x, y) => ((id * 7 + x * 3 + y * 5) % 256).toInt, 13)
      val g = ch((x, y) => ((id + x * 11 + y) % 256).toInt, 31)
      val b = ch((x, y) => ((id * 3 + x + y * 13) % 256).toInt, 47)
      val chans =
        if (withAlpha) Array(r, g, b,
          ch((x, y) => ((id + x * 5 + y * 3) % 256).toInt, 61))
        else Array(r, g, b)
      val png = graft.sources.PngImage.parse(
        graft.sources.PngImage.encode16(w, h, chans,
          colorType = if (withAlpha) 6 else 2,
          filterFor = y => ((y + id) % 5).toInt,
          idatChunkSize = if (id % 2 == 0) 64 else Int.MaxValue,
          interlaced = id % 5 == 0))
      faceStats(png.width, png.height, png.pixels)
    }

  /** q147 — GIF decode (LZW): the dictionary-coded container through
    * the q139 grading shape. Per document a single-frame GIF89a is
    * synthesized from an analytic palette (2..251 entries; for ids
    * divisible by 3 one entry is transparent, carried via a Graphic
    * Control Extension) and analytic indices, encoded through the REAL
    * LZW encoder (odd ids interlaced — the 4-pass row order; ids
    * divisible by 4 split into 7-byte sub-blocks), strictly decoded
    * ([[graft.sources.GifImage]]), and reduced by the SAME faceStats
    * kernel to integer stats the DuckDB oracle recomputes ANALYTICALLY
    * from doc_id. Any defect — a wrong LZW width bump, a dictionary
    * entry mis-chained, an interlace row landed wrong, a transparent
    * index painted opaque — corrupts sum_rgb/wsum/sum_alpha and
    * hash-mismatches. */
  def q147GifDecode(s: SparkSession, dir: String): DataFrame =
    decodeLane(Tables.documents(s, dir)) { id =>
      val w = (3 + id % 12).toInt
      val h = (2 + id % 9).toInt
      val nPal = (2 + id % 250).toInt
      val tIdx = if (id % 3 == 0) (id % nPal).toInt else -1
      val pal = Array.tabulate(nPal) { j =>
        val a = if (j == tIdx) 0 else 0xff
        (a << 24) | ((((id + j * 7) % 256).toInt) << 16) |
          ((((id * 5 + j) % 256).toInt) << 8) | (((j * 11) % 256).toInt)
      }
      val idx = Array.tabulate(w * h) { i =>
        ((id + (i % w) + (i / w) * 2) % nPal).toInt
      }
      val gif = graft.sources.GifImage.parse(
        graft.sources.GifImage.encode(w, h, idx, pal,
          interlaced = id % 2 == 1,
          subBlockSize = if (id % 4 == 0) 7 else 255))
      faceStats(gif.width, gif.height, gif.pixels)
    }

  val q147Oracle: String = faceStatsSql(
    """p AS (SELECT doc_id, 3 + doc_id % 12 AS w, 2 + doc_id % 9 AS h,
      |                  2 + doc_id % 250 AS np FROM documents),
      |ix AS (SELECT doc_id, w, h, np, x, y,
      |         (doc_id + x + y * 2) % np AS j
      |       FROM p,
      |         LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) xs,
      |         LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ys),
      |px AS (SELECT doc_id, w, h, x, y,
      |        (doc_id + j * 7) % 256 AS r,
      |        (doc_id * 5 + j) % 256 AS g,
      |        (j * 11) % 256 AS b,
      |        CASE WHEN doc_id % 3 = 0 AND j = doc_id % np
      |             THEN 0 ELSE 255 END AS a
      |      FROM ix)""")

  /** q148 — the WHOLE q136 phash near-dup pipeline through GIF
    * containers, graded by q136's oracle bit-for-bit (the q141 move,
    * third container): every synthesized image is paletted exactly
    * (first-occurrence distinct colors — these images have ≤ 192
    * pixels, so GIF's 256-entry table always suffices), LZW-encoded
    * (interlace and sub-block split varying by id), strictly decoded,
    * and hashed. A defect anywhere in the GIF layer corrupts hashes,
    * bands, candidates and Hamming distances — all pinned by an
    * already-green oracle. */
  def q148PhashGifContainer(s: SparkSession, dir: String): DataFrame =
    phashDedupVia(s, dir, "gif")

  /** q149 — GIF corpus-triage quarantine report: the q144 shape for
    * the dictionary-coded container. Six layout classes per document:
    * one DECODE (analytic palette image) and five QUARANTINE — a
    * multi-frame animation (the single most common real-corpus GIF
    * rejection: the image body duplicated before the trailer), a
    * truncation at ⅔ length (lands in the GCT / image data / trailer
    * depending on id — every prefix rejects, GifImageSpec-pinned), a
    * trailing byte after the trailer, a crafted LZW violation (the
    * data stream replaced with a first code beyond the empty table),
    * and a spliced-out color table with the GCT flag cleared. Rejection
    * reasons are classified by named message and reported as
    * (reason, n_files, sum_pixels) under an analytic DuckDB oracle. */
  def q149GifQuarantine(s: SparkSession, dir: String): DataFrame =
    quarantineReport(Tables.documents(s, dir), q149Classes, "sum_pixels")(
      b => (Seq(graft.sources.GifImage.parse(b).pixels.length.toLong), None))

  /** q149's decodable GIF and the offset of its image body: the 13-byte
    * header+LSD, then a GCT of 2^ceil(log2 nPal) entries. */
  private def q149Gif(id: Long): (Array[Byte], Int) = {
    val w = (2 + id % 6).toInt; val h = (2 + id % 4).toInt
    val nPal = (2 + id % 5).toInt
    val pal = Array.tabulate(nPal)(j => 0xff000000 |
      ((((id + j * 7) % 256).toInt) << 16) |
      ((((id * 5 + j) % 256).toInt) << 8) | (((j * 11) % 256).toInt))
    val idx = Array.tabulate(w * h) { i =>
      ((id + (i % w) + (i / w) * 2) % nPal).toInt
    }
    var tableBits = 1
    while ((1 << tableBits) < nPal) tableBits += 1
    (graft.sources.GifImage.encode(w, h, idx, pal, interlaced = id % 2 == 1),
      13 + 3 * (1 << tableBits))
  }

  private val q149Classes = Seq(
    QClass("decoded", Seq("(2 + doc_id % 6) * (2 + doc_id % 4)"))(
      q149Gif(_)._1),
    QClass("multi_frame", Nil, "multi-frame") { id =>
      // animation: image body duplicated before the trailer
      val (good, bodyAt) = q149Gif(id)
      val body = good.slice(bodyAt, good.length - 1)
      good.take(bodyAt) ++ body ++ body ++ Array[Byte](0x3b)
    },
    QClass("truncated", Nil, "truncated", "overruns") { id =>
      val good = q149Gif(id)._1
      java.util.Arrays.copyOf(good, good.length * 2 / 3)
    },
    QClass("trailing_bytes", Nil, "trailing bytes")(
      q149Gif(_)._1 ++ Array[Byte](0)),
    QClass("lzw_violation", Nil, "beyond table") { id =>
      // first LZW code beyond the empty table (0xFF at any minCodeSize
      // < 8 exceeds clear+1): keep header/GCT/descriptor, replace the
      // data chain
      val (good, bodyAt) = q149Gif(id)
      good.take(bodyAt + 10 + 1) ++ Array[Byte](1, 0xff.toByte, 0, 0x3b)
    },
    QClass("no_color_table", Nil, "no color table") { id =>
      // GCT flag cleared, table spliced out, no LCT
      val (good, bodyAt) = q149Gif(id)
      val b = good.take(13) ++ good.drop(bodyAt)
      b(10) = (b(10) & 0x78).toByte // clear GCT-present bit (and size)
      b
    })

  val q149Oracle: String = quarantineSql(q149Classes, "sum_pixels")


  /** q150 — animated-GIF structural report: the metadata face for the
    * population q149 counts as `multi_frame`. Per document a
    * multi-frame GIF89a animation is synthesized (1..5 frames; frame 0
    * covers the screen, later frames are analytic sub-rectangles with
    * per-frame centisecond delays; real per-frame LZW payloads) and
    * walked by [[graft.sources.GifImage.scanFrames]] — full container
    * validation, no pixel expansion — into per-document totals the
    * DuckDB oracle recomputes ANALYTICALLY from doc_id. At corpus
    * scale "what animations do we hold" is exactly this query: frame
    * counts, durations and bounding geometry without decoding a pixel. */
  def q150GifAnimationReport(s: SparkSession, dir: String): DataFrame =
    decodeLane(Tables.documents(s, dir), "n_frames", "sum_delay_cs",
        "sum_frame_px", "max_frame_w", "max_frame_h") { id =>
      import graft.sources.GifImage
      val w = (4 + id % 9).toInt
      val h = (3 + id % 6).toInt
      val nF = (1 + id % 5).toInt
      val nPal = (2 + id % 5).toInt
      val pal = Array.tabulate(nPal)(j => 0xff000000 |
        ((((id + j * 7) % 256).toInt) << 16) |
        ((((id * 5 + j) % 256).toInt) << 8) | (((j * 11) % 256).toInt))
      val geoms = (0 until nF).map { f =>
        if (f == 0) (0, 0, w, h, (10 + id % 90).toInt)
        else {
          val left = f % w
          val top = f % h
          val wf = (1 + (id + f) % (w - left)).toInt
          val hf = (1 + (id + f * 3) % (h - top)).toInt
          (left, top, wf, hf, (10 + id % 90 + f * 5).toInt)
        }
      }
      val bytes = GifImage.encodeAnimation(w, h, pal, geoms,
        f => {
          val (_, _, wf, hf, _) = geoms(f)
          Array.tabulate(wf * hf)(i => ((id + f + i) % nPal).toInt)
        },
        interlacedFrame = f => (id + f) % 2 == 0)
      val frames = GifImage.scanFrames(bytes)
      val nPx = frames.map(m => m.width.toLong * m.height).sum
      (frames.size.toLong, frames.map(_.delayCs.toLong).sum, nPx,
        frames.map(_.width).max.toLong, frames.map(_.height).max.toLong)
    }

  val q150Oracle: String =
    """WITH p AS (SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 6 AS h,
      |                  1 + doc_id % 5 AS nf FROM documents),
      |fr AS (SELECT doc_id, w, h, f,
      |         CASE WHEN f = 0 THEN w
      |              ELSE 1 + (doc_id + f) % (w - (f % w)) END AS wf,
      |         CASE WHEN f = 0 THEN h
      |              ELSE 1 + (doc_id + f * 3) % (h - (f % h)) END AS hf,
      |         10 + doc_id % 90 + f * 5 AS delay
      |       FROM p,
      |         LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) fs)
      |SELECT doc_id AS media_id,
      |       CAST(count(*) AS BIGINT) AS n_frames,
      |       CAST(sum(delay) AS BIGINT) AS sum_delay_cs,
      |       CAST(sum(wf * hf) AS BIGINT) AS sum_frame_px,
      |       CAST(max(wf) AS BIGINT) AS max_frame_w,
      |       CAST(max(hf) AS BIGINT) AS max_frame_h
      |FROM fr GROUP BY doc_id ORDER BY media_id""".stripMargin

  /** q151 — baseline JPEG decode: the lossy container graded EXACTLY
    * through the one aperture the format allows (engineered, not
    * hoped-for): block-constant content with DC quant 8 is DC-only in
    * the frequency domain, and 8c/8 = c survives quantization, so the
    * FULL pipeline — markers, DQT/DHT/SOF0/SOS, Huffman with byte
    * stuffing, DC difference coding, restart markers, dequant, IDCT,
    * (for odd ids) the YCbCr path with neutral chroma — must
    * reproduce every pixel bit-for-bit. Per document an analytic
    * block-constant image (tile (bx,by) = (id·7 + bx·41 + by·113) %
    * 256; grayscale for even ids, R=G=B color for odd; restart
    * interval id%3) is encoded, strictly decoded
    * ([[graft.sources.JpegImage]]), and reduced by the shared
    * faceStats kernel under a DuckDB oracle that recomputes the tiles
    * arithmetically. Ids ≡ 1 (mod 4) additionally encode 4:2:0 — the
    * dominant real-world layout — with 16×16 tiles, where constant
    * chroma makes the 2×2 average and ANY upsampling filter exact, so
    * the subsampled MCU structure (4 luma blocks + Cb + Cr per MCU) is
    * hash-gated too. General (non-constant) content is covered by
    * JpegImageSpec's quantization-bound and ImageIO cross-decoder
    * tolerance tests — lossy content has no exact oracle by design. */
  /** q151's synth→encode→decode→stats kernel over an arbitrary doc_id
    * frame — shared with [[graft.tools.CodecScaleProbe]]'s JPEG lane so
    * the 100× probe measures the GRADED pipeline, not a lookalike. */
  private[graft] def jpegStatsOf(ids: DataFrame): DataFrame =
    decodeLane(ids) { id =>
      val (w, h, px, gray, sub) = q151Pixels(id)
      val jpeg = graft.sources.JpegImage.parse(
        graft.sources.JpegImage.encode(w, h, px, grayscale = gray,
          restartInterval = (id % 3).toInt, subsample = sub))
      faceStats(jpeg.width, jpeg.height, jpeg.pixels)
    }

  /** q151's block-constant face (gray for even ids, R=G=B color for
    * odd; 16×16 tiles under 4:2:0 for id % 4 == 1), shared with q155:
    * (w, h, pixels, grayscale, subsample). */
  private def q151Pixels(id: Long):
      (Int, Int, Array[Int], Boolean, Boolean) = {
    val w = (8 * (1 + id % 4)).toInt
    val h = (8 * (1 + id % 3)).toInt
    val gray = id % 2 == 0
    val sub = id % 4 == 1
    val tile = if (sub) 16 else 8
    val px = Array.tabulate(w * h) { i =>
      val c = ((id * 7 + (i % w) / tile * 41 +
        (i / w) / tile * 113) % 256).toInt
      if (gray) c else (c << 16) | (c << 8) | c
    }
    (w, h, px, gray, sub)
  }

  def q151JpegDecode(s: SparkSession, dir: String): DataFrame =
    jpegStatsOf(Tables.documents(s, dir).select(col("doc_id")))

  /** The px CTE of a gray lane: r = g = b = c over its `gray` CTE. */
  private val grayPx =
    "px AS (SELECT *, c AS r, c AS g, c AS b, 255 AS a FROM gray)"

  val q151Oracle: String = faceStatsSql(
    s"""p AS (SELECT doc_id, 8 * (1 + doc_id % 4) AS w,
      |                  8 * (1 + doc_id % 3) AS h FROM documents),
      |gray AS (SELECT doc_id, w, h, x, y,
      |         (doc_id * 7
      |          + (x // (CASE WHEN doc_id % 4 = 1 THEN 16 ELSE 8 END)) * 41
      |          + (y // (CASE WHEN doc_id % 4 = 1 THEN 16 ELSE 8 END)) * 113
      |         ) % 256 AS c
      |       FROM p,
      |         LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) xs,
      |         LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ys),
      |$grayPx""")

  /** q155 — PROGRESSIVE JPEG (SOF2) decode: q151's analytic face
    * carried through the multi-scan container (spectral selection +
    * successive approximation, the default scan script, restart
    * markers, 4:2:0 on the id%4==1 rows). The oracle is q151's
    * VERBATIM — the q141/q145 move: the block-constant exact aperture
    * is container-independent (DC survives the point-transform
    * refinement chain bit-for-bit; the AC bands are pure EOB runs), so
    * any progressive-path defect hash-mismatches an artifact pinned by
    * an already-green query. */
  def q155JpegProgressiveDecode(s: SparkSession, dir: String): DataFrame =
    decodeLane(Tables.documents(s, dir)) { id =>
      val (w, h, px, gray, sub) = q151Pixels(id)
      val jpeg = graft.sources.JpegImage.parse(
        graft.sources.JpegImage.encodeProgressive(w, h, px,
          grayscale = gray, restartInterval = (id % 3).toInt,
          subsample = sub))
      faceStats(jpeg.width, jpeg.height, jpeg.pixels)
    }

  /** q152 — JPEG corpus-triage quarantine report: the q144/q149 shape
    * for the DCT container. Six per-document layout classes: decodable
    * baseline; ARITHMETIC coding (SOF0 patched to SOF9 — retargeted
    * from progressive in the same commit that made SOF2 decode, per
    * the quarantine-retarget invariant: a quarantine class must sit on
    * a still-invalid gate); 4:2:0
    * subsampling (the component h/v byte patched); a zero quantization
    * entry; a mid-scan truncation; trailing bytes after EOI. Rejection
    * reasons classified by named message, (reason, n_files,
    * sum_pixels) graded against an analytic DuckDB oracle. */
  def q152JpegQuarantine(s: SparkSession, dir: String): DataFrame =
    quarantineReport(Tables.documents(s, dir), q152Classes, "sum_pixels")(
      b => (Seq(graft.sources.JpegImage.parse(b).pixels.length.toLong), None))

  /** q152's decodable grayscale baseline JPEG. */
  private def q152Jpeg(id: Long): Array[Byte] = {
    val w = (8 * (1 + id % 3)).toInt
    val h = (8 * (1 + id % 2)).toInt
    val px = Array.tabulate(w * h)(i =>
      ((id * 11 + (i % w) / 8 * 37 + (i / w) / 8 * 71) % 256).toInt)
    graft.sources.JpegImage.encode(w, h, px, grayscale = true)
  }

  /** q152's JPEG with the byte `at` past its first 0xFF `marker` set to
    * `v`. */
  private def q152Patched(id: Long, marker: Int, at: Int,
      v: Int): Array[Byte] = {
    val b = q152Jpeg(id)
    var i = 2
    while (!((b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == marker)) i += 1
    b(i + at) = v.toByte
    b
  }

  private val q152Classes = Seq(
    QClass("decoded",
      Seq("8 * (1 + doc_id % 3) * 8 * (1 + doc_id % 2)"))(q152Jpeg),
    QClass("arithmetic", Nil, "arithmetic")(q152Patched(_, 0xc0, 1, 0xc9)),
    QClass("subsampled", Nil, "subsampling")(q152Patched(_, 0xc0, 11, 0x22)),
    QClass("bad_quant", Nil, "quant")(q152Patched(_, 0xdb, 5, 0)),
    QClass("truncated", Nil, "truncated") { id =>
      val good = q152Jpeg(id)
      java.util.Arrays.copyOf(good, good.length * 3 / 4)
    },
    QClass("trailing_bytes", Nil, "trailing")(
      q152Jpeg(_) ++ Array[Byte](0x20)))

  val q152Oracle: String = quarantineSql(q152Classes, "sum_pixels")

  /** q153 — mixed-corpus container dispatch: the five strict codecs
    * composed into ONE ingest operator
    * ([[graft.sources.MediaCodec.decodeImage]] — magic-byte sniff →
    * route → shared 0xAARRGGBB face), which is the shape a 100 TB
    * mixed-media ingest actually has: no trustworthy extensions, six
    * per-document classes (an analytic PNG, GIF, BMP and exact-aperture
    * JPEG, a truncated container, and a not-an-image byte blob), each
    * decoded-or-quarantined, reported as per-container totals the
    * DuckDB oracle recomputes ANALYTICALLY. A sniff routed to the
    * wrong decoder rejects (wrong magic), a decode defect in ANY
    * family corrupts its container's sum_rgb, and the two failure
    * classes land in named report rows instead of task aborts.
    *
    * Scale shape: task-local sniff+decode per row; only the ≤40-byte
    * verdict moves; one ≤6-group aggregate. */
  def q153MediaDispatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dispatch = udf { (id: Long) =>
      import graft.sources._
      def pngBytes(): Array[Byte] = {
        val w = (3 + id % 6).toInt; val h = (2 + id % 5).toInt
        val px = Array.tabulate(w * h) { i =>
          val x = i % w; val y = i / w
          0xff000000 | ((((id * 7 + x * 3 + y * 5) % 256).toInt) << 16) |
            ((((id + x * 11 + y) % 256).toInt) << 8) |
            (((id * 3 + x + y * 13) % 256).toInt)
        }
        PngImage.encode(w, h, px, filterFor = y => ((y + id) % 5).toInt)
      }
      val bytes = (id % 6) match {
        case 0 => pngBytes()
        case 1 =>
          val w = (2 + id % 6).toInt; val h = (2 + id % 4).toInt
          val nPal = (2 + id % 5).toInt
          val pal = Array.tabulate(nPal)(j => 0xff000000 |
            ((((id + j * 7) % 256).toInt) << 16) |
            ((((id * 5 + j) % 256).toInt) << 8) | (((j * 11) % 256).toInt))
          val idx = Array.tabulate(w * h)(i =>
            ((id + (i % w) + (i / w) * 2) % nPal).toInt)
          GifImage.encode(w, h, idx, pal, interlaced = id % 2 == 1)
        case 2 =>
          val w = (3 + id % 5).toInt; val h = (2 + id % 3).toInt
          val px = Array.tabulate(w * h) { i =>
            val x = i % w; val y = i / w
            ((((id * 13 + x * 7 + y * 3) % 256).toInt) << 16) |
              ((((id * 3 + x * 5 + y * 11) % 256).toInt) << 8) |
              (((id + x + y * 7) % 256).toInt)
          }
          BmpImage.encode24(w, h, px, topDown = id % 2 == 0)
        case 3 =>
          val w = (8 * (1 + id % 2)).toInt; val h = 8
          val px = Array.tabulate(w * h)(i =>
            ((id * 11 + (i % w) / 8 * 37) % 256).toInt)
          JpegImage.encode(w, h, px, grayscale = true)
        case 4 => // a real container, truncated: quarantine, not abort
          val b = pngBytes(); java.util.Arrays.copyOf(b, b.length * 2 / 3)
        case _ => s"doc $id is plain text, not an image".getBytes("UTF-8")
      }
      try {
        val m = MediaCodec.decodeImage(bytes)
        var sumRgb = 0L
        m.pixels.foreach { p =>
          sumRgb += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
        }
        (m.container, m.pixels.length.toLong, sumRgb)
      } catch {
        case e: IllegalArgumentException =>
          val m = e.getMessage
          // classify by NAMED gate, like the quarantine quartet — a
          // truncated container and a (hypothetical) decoder defect
          // must never share a report row (judge r15 find)
          val reason =
            if (m.contains("unknown container")) "unknown"
            else if (m.contains("truncated") || m.contains("overruns"))
              "truncated"
            else "rejected_other"
          (reason, 0L, 0L)
      }
    }
    Tables.documents(s, dir)
      .select(dispatch($"doc_id").as("t"))
      .groupBy($"t._1".as("container"))
      .agg(count(lit(1)).as("n_files"), sum($"t._2").as("sum_pixels"),
        sum($"t._3").as("sum_rgb"))
      .orderBy($"container")
  }

  val q153Oracle: String =
    """WITH d AS (SELECT doc_id, doc_id % 6 AS m FROM documents),
      |geo AS (SELECT doc_id, m,
      |    CASE m WHEN 0 THEN 3 + doc_id % 6 WHEN 1 THEN 2 + doc_id % 6
      |           WHEN 2 THEN 3 + doc_id % 5
      |           WHEN 3 THEN 8 * (1 + doc_id % 2) ELSE 0 END AS w,
      |    CASE m WHEN 0 THEN 2 + doc_id % 5 WHEN 1 THEN 2 + doc_id % 4
      |           WHEN 2 THEN 2 + doc_id % 3 WHEN 3 THEN 8
      |           ELSE 0 END AS h
      |  FROM d WHERE m <= 3),
      |px AS (SELECT g.doc_id, g.m, x, y,
      |    CASE g.m
      |      WHEN 0 THEN (g.doc_id * 7 + x * 3 + y * 5) % 256
      |                  + (g.doc_id + x * 11 + y) % 256
      |                  + (g.doc_id * 3 + x + y * 13) % 256
      |      WHEN 1 THEN (g.doc_id
      |                   + ((g.doc_id + x + y * 2) % (2 + g.doc_id % 5)) * 7
      |                  ) % 256
      |                  + (g.doc_id * 5
      |                     + ((g.doc_id + x + y * 2) % (2 + g.doc_id % 5))
      |                    ) % 256
      |                  + (((g.doc_id + x + y * 2) % (2 + g.doc_id % 5))
      |                     * 11) % 256
      |      WHEN 2 THEN (g.doc_id * 13 + x * 7 + y * 3) % 256
      |                  + (g.doc_id * 3 + x * 5 + y * 11) % 256
      |                  + (g.doc_id + x + y * 7) % 256
      |      ELSE 3 * ((g.doc_id * 11 + (x // 8) * 37) % 256)
      |    END AS rgb
      |  FROM geo g,
      |    LATERAL (SELECT unnest(generate_series(0, g.w - 1)) AS x) xs,
      |    LATERAL (SELECT unnest(generate_series(0, g.h - 1)) AS y) ys),
      |agg AS (SELECT doc_id, count(*) AS npx, sum(rgb) AS s
      |        FROM px GROUP BY doc_id),
      |r AS (SELECT d.doc_id,
      |        CASE d.m WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
      |                 WHEN 2 THEN 'bmp' WHEN 3 THEN 'jpeg'
      |                 WHEN 4 THEN 'truncated' ELSE 'unknown'
      |        END AS container,
      |        COALESCE(a.npx, 0) AS npx, COALESCE(a.s, 0) AS s
      |      FROM d LEFT JOIN agg a USING (doc_id))
      |SELECT container, CAST(count(*) AS BIGINT) AS n_files,
      |       CAST(sum(npx) AS BIGINT) AS sum_pixels,
      |       CAST(sum(s) AS BIGINT) AS sum_rgb
      |FROM r GROUP BY container ORDER BY container""".stripMargin

  /** q154 — WAV corpus-triage quarantine report: the counted-report
    * quarantine shape extended to the AUDIO family, completing the
    * quartet (q144 PNG / q149 GIF / q152 JPEG / q154 WAV). Six
    * per-document classes: decodable PCM16 mono (analytic square-free
    * sample stream, frames and Σ|s| reported); an ADPCM format tag
    * (2) and a 20-bit width — both RETARGETED in the round-16 commit
    * that made float (tag 3) and 24-bit PCM decode, per the
    * quarantine-retarget invariant (a quarantine class must sit on a
    * still-invalid gate); a ⅔ truncation (the declared RIFF size then
    * overruns the file — the named error that gate exists for); junk
    * magic; and a data chunk size knocked off frame alignment (the
    * r12-advisor partial-frame gate). Classified by named message,
    * (reason, n_files, sum_frames, sum_abs) under an analytic DuckDB
    * oracle. */
  def q154WavQuarantine(s: SparkSession, dir: String): DataFrame =
    quarantineReport(Tables.documents(s, dir), q154Classes, "sum_frames",
        "sum_abs") { b =>
      val w = graft.sources.WavAudio.parse(b)
      var sumAbs = 0L
      w.samples.foreach(v => sumAbs += math.abs(v))
      (Seq(w.nFrames.toLong, sumAbs), None)
    }

  /** A copy of q154's decodable PCM16 WAV with `patch` applied. The
    * encoder layout is fixed: fmt tag at 20, bits at 34, data size at
    * 52 (RIFF 12 + fmt 24 + LIST 12 + data header). */
  private def q154Wav(id: Long)(
      patch: Array[Byte] => Unit = _ => ()): Array[Byte] = {
    val n = (4 + id % 60).toInt
    val samples = Array.tabulate(n)(i =>
      (((id * 31 + i * 17) % 65536) - 32768).toInt)
    val b = graft.sources.WavAudio.encodePcm16Mono(
      (8000 + id % 1000).toInt, samples)
    patch(b)
    b
  }

  private val q154Classes = Seq(
    QClass("decoded", Seq("4 + doc_id % 60",
      """(SELECT sum(abs((doc_id * 31 + i * 17) % 65536 - 32768))
        |     FROM (SELECT unnest(generate_series(0, 3 + doc_id % 60)) AS i))"""
        .stripMargin))(q154Wav(_)()),
    // MPEG Layer 3 tag (retargeted TWICE in round 18: first IMA — tag
    // 0x11 — became decodable via q173 while tag 2 MS-ADPCM stayed a
    // valid gate, then q174 made MS-ADPCM itself decodable, so the
    // class moved onto 0x55 in the same commit — compressed bitstream
    // audio stays out of scope; the q144 retarget invariant, 8th
    // application)
    QClass("format_unsupported", Nil, "format tag")(q154Wav(_)(_(20) = 0x55)),
    QClass("width_unsupported", Nil, "bit width")(q154Wav(_)(_(34) = 20)),
    QClass("truncated", Nil, "RIFF size") { id =>
      val good = q154Wav(id)()
      java.util.Arrays.copyOf(good, good.length * 2 / 3)
    },
    QClass("bad_magic", Nil, "bad magic")(q154Wav(_) { b =>
      b(0) = 'J'; b(1) = 'U'; b(2) = 'N'; b(3) = 'K'
    }),
    QClass("misaligned_data", Nil, "not a multiple") { id =>
      q154Wav(id) { b =>
        val ds = (4 + id % 60).toInt * 2 - 1
        b(52) = (ds & 0xff).toByte; b(53) = ((ds >> 8) & 0xff).toByte
      }
    })

  val q154Oracle: String = quarantineSql(q154Classes, "sum_frames", "sum_abs")

  /** q144 — PNG corpus-triage quarantine report: the FAILED-isolation
    * shape (S9) applied to the strict codec. At 10⁹ images, "strict
    * parse-or-reject" is only operable if rejection is a COUNTED REPORT
    * — per named reason, never a log grep and never a task abort. Per
    * document a container is synthesized in one of seven layout
    * classes: two DECODE (truecolor; palette) and five QUARANTINE —
    * a sub-8 depth ON TRUECOLOR (since round 16 the sub-8 gray and
    * palette layouts decode, so this class now sits on the spec-INVALID
    * depth×type pairing — §11.2.2 — which is a permanent gate, not a
    * scope line) and compression method 1 (each
    * built as an otherwise-valid container with a re-CRC'd patched
    * IHDR so ONLY the named gate can fire), a PLTE-less type-3 file
    * (the spliced-out palette table), a flipped IDAT CRC byte, and a
    * mid-IEND truncation. The query attempts the
    * strict parse on every row, classifies the IllegalArgumentException
    * by its named reason, and reports (reason, n_files, sum_pixels) —
    * the DuckDB oracle recomputes the expected triage analytically from
    * doc_id, so a misclassified rejection (the wrong gate firing first,
    * a rejection that stopped rejecting, a decode that changed pixel
    * count) hash-mismatches. */
  def q144PngQuarantine(s: SparkSession, dir: String): DataFrame =
    quarantineReport(Tables.documents(s, dir), q144Classes, "sum_pixels")(
      b => (Seq(graft.sources.PngImage.parse(b).pixels.length.toLong), None))

  /** q144's decodable truecolor PNG. */
  private def q144Rgb(id: Long): Array[Byte] = {
    val w = (3 + id % 5).toInt; val h = (2 + id % 4).toInt
    val px = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      0xff000000 | ((((id * 7 + x) % 256).toInt) << 16) |
        ((((id + y * 3) % 256).toInt) << 8) | (((id * 3 + x + y) % 256).toInt)
    }
    graft.sources.PngImage.encode(w, h, px, withAlpha = false,
      filterFor = y => ((y + id) % 5).toInt)
  }

  /** q144's decodable palette PNG. */
  private def q144Palette(id: Long): Array[Byte] = {
    val w = (2 + id % 6).toInt; val h = (2 + id % 3).toInt
    val nPal = (2 + id % 5).toInt
    val pal = Array.tabulate(nPal)(j => 0xff000000 |
      ((((id + j * 7) % 256).toInt) << 16) |
      ((((id * 5 + j) % 256).toInt) << 8) | (((j * 11) % 256).toInt))
    val idx = Array.tabulate(w * h) { i =>
      ((id + (i % w) + (i / w) * 2) % nPal).toInt
    }
    graft.sources.PngImage.encodePalette(w, h, idx, pal)
  }

  /** q144's truecolor PNG with IHDR byte `at` set to `v` and the IHDR
    * CRC recomputed, so ONLY the named gate can fire. */
  private def q144Ihdr(id: Long, at: Int, v: Byte): Array[Byte] = {
    val b = q144Rgb(id)
    b(at) = v
    val crc = new java.util.zip.CRC32()
    crc.update(b, 12, 4 + 13) // IHDR type + data
    val c = crc.getValue
    val o = 12 + 4 + 13
    b(o) = ((c >>> 24) & 0xff).toByte
    b(o + 1) = ((c >>> 16) & 0xff).toByte
    b(o + 2) = ((c >>> 8) & 0xff).toByte
    b(o + 3) = (c & 0xff).toByte
    b
  }

  private val q144Classes = Seq(
    QClass("decoded", Seq("(3 + doc_id % 5) * (2 + doc_id % 4)"))(q144Rgb),
    QClass("depth_unsupported", Nil, "bit depth")(q144Ihdr(_, 24, 4)),
    QClass("compression_unsupported", Nil, "compression")(q144Ihdr(_, 26, 1)),
    QClass("palette_missing_plte", Nil, "without PLTE") { id =>
      // type-3 without PLTE: splice the palette chunk out
      val b = q144Palette(id)
      val plteLen = 12 + 3 * (2 + id % 5).toInt // framing + RGB triples
      b.take(33) ++ b.drop(33 + plteLen)
    },
    QClass("crc_mismatch", Nil, "CRC") { id =>
      // flipped IDAT CRC byte (valid everywhere else)
      val b = q144Rgb(id)
      b(b.length - 13) = (b(b.length - 13) ^ 0xff).toByte
      b
    },
    QClass("truncated", Nil, "truncated") { id =>
      // truncation into the IEND chunk
      val b = q144Rgb(id)
      java.util.Arrays.copyOf(b, b.length - 10)
    },
    QClass("decoded", Seq("(2 + doc_id % 6) * (2 + doc_id % 3)"))(
      q144Palette))

  val q144Oracle: String = quarantineSql(q144Classes, "sum_pixels")

  /** q156 — WAV decode across the WIDENED sample-format family
    * (round 16): 24-bit PCM and IEEE-float (tag 3) joined the 8/16-bit
    * paths, closing the two largest formerly-quarantined audio classes.
    * Three per-document subfamilies — PCM24, FLOAT32 (quarter-step
    * values k/256, every one exactly representable in binary32, so the
    * analytic oracle is EXACT — the verdict's aperture), and PCM16 as
    * the regression pin. Per-row (fmt, n_frames, sum_q) where sum_q is
    * Σ|s| for integer PCM and Σ|k| (= Σ round(|f|·256)) for float. */
  def q156WavWideDecode(s: SparkSession, dir: String): DataFrame =
    decodeLane(Tables.documents(s, dir), "fmt", "n_frames", "sum_q") { id =>
      import graft.sources.WavAudio
      val n = (4 + id % 50).toInt
      val rate = (8000 + id % 1000).toInt
      (id % 3) match {
        case 0 =>
          val sm = Array.tabulate(n)(i =>
            (((id * 2617 + i * 1409) % (1 << 24)) - (1 << 23)).toInt)
          val w = WavAudio.parse(WavAudio.encodePcm24Mono(rate, sm))
          var sa = 0L
          w.samples.foreach(v => sa += math.abs(v.toLong))
          ("pcm24", w.nFrames.toLong, sa)
        case 1 =>
          val fs = Array.tabulate(n)(i =>
            ((((id * 31 + i * 17) % 4096) - 2048).toInt) / 256.0f)
          val w = WavAudio.parse(WavAudio.encodeFloat32Mono(rate, fs))
          var sa = 0L
          var i = 0
          while (i < w.samples.length) {
            sa += math.round(math.abs(w.floatSample(i)) * 256.0f).toLong
            i += 1
          }
          ("float32", w.nFrames.toLong, sa)
        case _ =>
          val sm = Array.tabulate(n)(i =>
            (((id * 31 + i * 17) % 65536) - 32768).toInt)
          val w = WavAudio.parse(WavAudio.encodePcm16Mono(rate, sm))
          var sa = 0L
          w.samples.foreach(v => sa += math.abs(v.toLong))
          ("pcm16", w.nFrames.toLong, sa)
      }
    }

  val q156Oracle: String =
    """WITH d AS (SELECT doc_id, doc_id % 3 AS m, 4 + doc_id % 50 AS n
      |           FROM documents),
      |s AS (SELECT d.doc_id, d.m, d.n,
      |        CASE d.m
      |          WHEN 0 THEN abs((d.doc_id * 2617 + i * 1409) % 16777216
      |                          - 8388608)
      |          WHEN 1 THEN abs((d.doc_id * 31 + i * 17) % 4096 - 2048)
      |          ELSE abs((d.doc_id * 31 + i * 17) % 65536 - 32768)
      |        END AS q
      |      FROM d, LATERAL (SELECT unnest(generate_series(0, d.n - 1))
      |                       AS i) g)
      |SELECT doc_id AS media_id,
      |       CASE min(m) WHEN 0 THEN 'pcm24' WHEN 1 THEN 'float32'
      |            ELSE 'pcm16' END AS fmt,
      |       CAST(min(n) AS BIGINT) AS n_frames,
      |       CAST(sum(q) AS BIGINT) AS sum_q
      |FROM s GROUP BY doc_id ORDER BY media_id""".stripMargin

  /** q169 — G.711 companded WAV decode (round 17, the q156 recipe on
    * the telephony formats): per document a mono A-law (even ids) or
    * μ-law (odd ids) stream is synthesized from analytic CODE bytes,
    * encoded through [[graft.sources.WavAudio.encodeG711Mono]] (18-byte
    * fmt + fact chunk, the non-PCM container shape), decoded, and
    * reduced to frame count plus BOTH the absolute and the SIGNED sum
    * of the expanded linear values — the signed sum catches a sign-
    * convention flip (μ-law signs on the inverted code's top bit,
    * A-law's set bit means POSITIVE) that |·| alone would hide. The
    * DuckDB oracle replays the exact ITU integer expansion from
    * doc_id. */
  def q169G711Decode(s: SparkSession, dir: String): DataFrame =
    decodeLane(Tables.documents(s, dir), "law", "n_frames", "sum_abs",
        "sum_lin") { id =>
      import graft.sources.WavAudio
      val law = if (id % 2 == 0) 6 else 7
      val n = (4 + id % 50).toInt
      val codes = Array.tabulate(n)(i => ((id * 31 + i * 17) % 256).toInt)
      val w = WavAudio.parse(WavAudio.encodeG711Mono(law,
        (8000 + id % 500).toInt, codes))
      var sumAbs = 0L
      var sumLin = 0L
      w.samples.foreach { v => sumAbs += math.abs(v.toLong); sumLin += v }
      (if (law == 6) "alaw" else "ulaw", w.nFrames.toLong, sumAbs, sumLin)
    }

  val q169Oracle: String =
    """WITH d AS (SELECT doc_id, doc_id % 2 AS odd, 4 + doc_id % 50 AS n
      |           FROM documents),
      |c AS (SELECT d.doc_id, d.odd, d.n,
      |        (d.doc_id * 31 + i * 17) % 256 AS cb
      |      FROM d, LATERAL (SELECT unnest(generate_series(0, d.n - 1))
      |                       AS i) g),
      |ex AS (SELECT doc_id, odd, n,
      |         CASE WHEN odd = 1 THEN 255 - cb ELSE xor(cb, 85) END AS a,
      |         ((CASE WHEN odd = 1 THEN 255 - cb ELSE xor(cb, 85) END)
      |          // 16) % 8 AS seg,
      |         (CASE WHEN odd = 1 THEN 255 - cb ELSE xor(cb, 85) END)
      |          % 16 AS m
      |       FROM c),
      |v AS (SELECT doc_id, odd, n,
      |        CASE WHEN odd = 1 THEN
      |          (m * 8 + 132) * CASE seg WHEN 0 THEN 1 WHEN 1 THEN 2
      |             WHEN 2 THEN 4 WHEN 3 THEN 8 WHEN 4 THEN 16
      |             WHEN 5 THEN 32 WHEN 6 THEN 64 ELSE 128 END - 132
      |        ELSE
      |          CASE WHEN seg = 0 THEN m * 16 + 8
      |               WHEN seg = 1 THEN m * 16 + 264
      |               ELSE (m * 16 + 264) * CASE seg WHEN 2 THEN 2
      |                  WHEN 3 THEN 4 WHEN 4 THEN 8 WHEN 5 THEN 16
      |                  WHEN 6 THEN 32 ELSE 64 END END
      |        END AS mag,
      |        CASE WHEN odd = 1 THEN CASE WHEN a >= 128 THEN -1 ELSE 1 END
      |             ELSE CASE WHEN a >= 128 THEN 1 ELSE -1 END END AS sgn
      |      FROM ex)
      |SELECT doc_id AS media_id,
      |       CASE min(odd) WHEN 0 THEN 'alaw' ELSE 'ulaw' END AS law,
      |       CAST(min(n) AS BIGINT) AS n_frames,
      |       CAST(sum(mag) AS BIGINT) AS sum_abs,
      |       CAST(sum(sgn * mag) AS BIGINT) AS sum_lin
      |FROM v GROUP BY doc_id ORDER BY media_id""".stripMargin

  /** q157 — FULL-FAMILY mixed-media dispatch
    * ([[graft.sources.MediaCodec.decodeMedia]]): the q153 shape grown
    * to everything the engine can actually ingest — ten per-document
    * classes spanning three MODALITIES (five image containers incl.
    * progressive JPEG and, round 17, oriented TIFF rotating all four
    * compressions; float WAV audio, PDF text) plus a truncated
    * container and a junk blob, each decoded through the ONE typed
    * dispatch face and reported as per-container totals with a
    * modality-appropriate quantity (images Σrgb, audio Σ|k|, text word
    * count). Rejections classify by NAMED gate (judge r15 "what's
    * wrong" #3 — never one conflated `rejected` bucket). Baseline and
    * progressive JPEG both land in the `jpeg` row: a progressive-path
    * defect corrupts a container total an already-green query pins.
    *
    * Scale shape: task-local sniff+decode per row; only the ≤40-byte
    * verdict moves; one ≤8-group aggregate. */
  def q157MediaDispatchFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dispatch = udf { (id: Long) =>
      import graft.sources._
      def pngBytes(): Array[Byte] = {
        val w = (3 + id % 6).toInt; val h = (2 + id % 5).toInt
        val px = Array.tabulate(w * h) { i =>
          val x = i % w; val y = i / w
          0xff000000 | ((((id * 7 + x * 3 + y * 5) % 256).toInt) << 16) |
            ((((id + x * 11 + y) % 256).toInt) << 8) |
            (((id * 3 + x + y * 13) % 256).toInt)
        }
        PngImage.encode(w, h, px, filterFor = y => ((y + id) % 5).toInt)
      }
      val bytes = (id % 10) match {
        case 0 => pngBytes()
        case 1 =>
          val w = (2 + id % 6).toInt; val h = (2 + id % 4).toInt
          val nPal = (2 + id % 5).toInt
          val pal = Array.tabulate(nPal)(j => 0xff000000 |
            ((((id + j * 7) % 256).toInt) << 16) |
            ((((id * 5 + j) % 256).toInt) << 8) | (((j * 11) % 256).toInt))
          val idx = Array.tabulate(w * h)(i =>
            ((id + (i % w) + (i / w) * 2) % nPal).toInt)
          GifImage.encode(w, h, idx, pal, interlaced = id % 2 == 1)
        case 2 =>
          val w = (3 + id % 5).toInt; val h = (2 + id % 3).toInt
          val px = Array.tabulate(w * h) { i =>
            val x = i % w; val y = i / w
            ((((id * 13 + x * 7 + y * 3) % 256).toInt) << 16) |
              ((((id * 3 + x * 5 + y * 11) % 256).toInt) << 8) |
              (((id + x + y * 7) % 256).toInt)
          }
          BmpImage.encode24(w, h, px, topDown = id % 2 == 0)
        case 3 => // baseline JPEG, exact aperture — stored ROTATED under
          // an EXIF orientation (round 17): decodeMedia normalizes, so
          // these land on the same canonical stats row the oracle has
          // always computed; a face that stopped normalizing would
          // still have to parse the now-present APP1 strictly, and the
          // oriented faceStats lane (q167) pins the pixel positions
          val w = (8 * (1 + id % 2)).toInt; val h = 8
          val px = Array.tabulate(w * h)(i =>
            ((id * 11 + (i % w) / 8 * 37) % 256).toInt)
          // knobs derive from id/10, NOT id: class ids are ≡3 (mod 10),
          // always odd, so id%2 pinned the byte order to little-endian
          // and 1+id%8 hit only the odd orientations — the flips never
          // ran (advisor r17 coverage-drift find, extended). Stats are
          // byte-order- and orientation-independent (the face
          // normalizes), so the oracle is unchanged.
          val o = (1 + (id / 10) % 8).toInt
          val (sw, sh, stored) = JpegImage.exifStore(o, w, h, px)
          JpegImage.withExif(
            JpegImage.encode(sw, sh, stored, grayscale = true), o,
            bigEndian = (id / 10) % 2 == 0)
        case 4 => // PROGRESSIVE JPEG, same aperture, multi-scan container
          val w = 8; val h = (8 * (1 + id % 3)).toInt
          val px = Array.tabulate(w * h)(i =>
            ((id * 19 + (i / w) / 8 * 53) % 256).toInt)
          JpegImage.encodeProgressive(w, h, px, grayscale = true)
        case 5 => // float WAV, quarter-step samples (exact aperture)
          val n = (4 + id % 40).toInt
          val fs = Array.tabulate(n)(i =>
            ((((id * 31 + i * 17) % 4096) - 2048).toInt) / 256.0f)
          WavAudio.encodeFloat32Mono((8000 + id % 500).toInt, fs)
        case 6 => // PDF with an analytic word count
          val nw = (1 + id % 5).toInt
          val words = (0 until nw).map(k => s"w${(id + k) % 7}")
          ("%PDF-1.4\n1 0 obj\n<<>>\nstream\nBT (" +
            words.mkString(" ") +
            ") Tj ET\nendstream\nendobj").getBytes("ISO-8859-1")
        case 7 => // a real container, truncated: a NAMED quarantine row
          val b = pngBytes(); java.util.Arrays.copyOf(b, b.length * 2 / 3)
        case 8 => s"doc $id is plain text, not a container".getBytes("UTF-8")
        case _ => // TIFF (round 17): oriented, compression rotating
          val w = (3 + id % 7).toInt; val h = (2 + id % 5).toInt
          val px = Array.tabulate(w * h) { i =>
            val x = i % w; val y = i / w
            ((((id * 23 + x * 3 + y * 9) % 256).toInt) << 16) |
              ((((id * 7 + x * 13 + y) % 256).toInt) << 8) |
              (((id * 5 + x + y * 11) % 256).toInt)
          }
          // knobs derive from id/10, NOT id: class ids are ≡9 (mod 10),
          // always odd, so id%2 pinned big-endian OFF, id%4 ∈ {1,3}
          // exercised only the LZW/PackBits arms, and 1+id%8 hit only
          // the odd orientations (advisor r17 coverage-drift find,
          // extended); id/10 is parity-independent, so byte order, ALL
          // FOUR compression arms and all 8 orientations actually
          // rotate. Stats are layout-independent — oracle unchanged.
          val o = (1 + (id / 10) % 8).toInt
          val (sw, sh, stored) = JpegImage.exifStore(o, w, h, px)
          TiffImage.encode(sw, sh, stored, photometric = 2,
            bigEndian = (id / 10) % 2 == 0, orientation = o,
            compression = Array(1, 5, 8, 32773)(((id / 10) % 4).toInt))
      }
      try {
        MediaCodec.decodeMedia(bytes) match {
          case MediaCodec.ImageItem(container, _, _, pixels) =>
            var sumRgb = 0L
            pixels.foreach { p =>
              sumRgb += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
            }
            (container, pixels.length.toLong, sumRgb)
          case a: MediaCodec.AudioItem =>
            var sa = 0L
            var i = 0
            while (i < a.samples.length) {
              sa += math.round(math.abs(
                java.lang.Float.intBitsToFloat(a.samples(i))) * 256.0f).toLong
              i += 1
            }
            (a.container, a.nFrames.toLong, sa)
          case MediaCodec.TextItem(container, text) =>
            val words = text.split("\\s+").count(_.nonEmpty).toLong
            (container, words, words)
        }
      } catch {
        case e: IllegalArgumentException =>
          val m = e.getMessage
          val reason = // NAMED gates, never a conflated bucket
            if (m.contains("unknown container")) "unknown"
            else if (m.contains("truncated") || m.contains("overruns"))
              "truncated"
            else "rejected_other"
          (reason, 0L, 0L)
      }
    }
    Tables.documents(s, dir)
      .select(dispatch($"doc_id").as("t"))
      .groupBy($"t._1".as("container"))
      .agg(count(lit(1)).as("n_files"), sum($"t._2").as("n_units"),
        sum($"t._3").as("sum_q"))
      .orderBy($"container")
  }

  val q157Oracle: String =
    """WITH d AS (SELECT doc_id, doc_id % 10 AS m FROM documents),
      |geo AS (SELECT doc_id, m,
      |    CASE m WHEN 0 THEN 3 + doc_id % 6 WHEN 1 THEN 2 + doc_id % 6
      |           WHEN 2 THEN 3 + doc_id % 5
      |           WHEN 3 THEN 8 * (1 + doc_id % 2) WHEN 4 THEN 8
      |           WHEN 9 THEN 3 + doc_id % 7
      |           ELSE 0 END AS w,
      |    CASE m WHEN 0 THEN 2 + doc_id % 5 WHEN 1 THEN 2 + doc_id % 4
      |           WHEN 2 THEN 2 + doc_id % 3 WHEN 3 THEN 8
      |           WHEN 4 THEN 8 * (1 + doc_id % 3)
      |           WHEN 9 THEN 2 + doc_id % 5 ELSE 0 END AS h
      |  FROM d WHERE m <= 4 OR m = 9),
      |px AS (SELECT g.doc_id, g.m, x, y,
      |    CASE g.m
      |      WHEN 0 THEN (g.doc_id * 7 + x * 3 + y * 5) % 256
      |                  + (g.doc_id + x * 11 + y) % 256
      |                  + (g.doc_id * 3 + x + y * 13) % 256
      |      WHEN 1 THEN (g.doc_id
      |                   + ((g.doc_id + x + y * 2) % (2 + g.doc_id % 5)) * 7
      |                  ) % 256
      |                  + (g.doc_id * 5
      |                     + ((g.doc_id + x + y * 2) % (2 + g.doc_id % 5))
      |                    ) % 256
      |                  + (((g.doc_id + x + y * 2) % (2 + g.doc_id % 5))
      |                     * 11) % 256
      |      WHEN 2 THEN (g.doc_id * 13 + x * 7 + y * 3) % 256
      |                  + (g.doc_id * 3 + x * 5 + y * 11) % 256
      |                  + (g.doc_id + x + y * 7) % 256
      |      WHEN 3 THEN 3 * ((g.doc_id * 11 + (x // 8) * 37) % 256)
      |      WHEN 9 THEN (g.doc_id * 23 + x * 3 + y * 9) % 256
      |                  + (g.doc_id * 7 + x * 13 + y) % 256
      |                  + (g.doc_id * 5 + x + y * 11) % 256
      |      ELSE 3 * ((g.doc_id * 19 + (y // 8) * 53) % 256)
      |    END AS rgb
      |  FROM geo g,
      |    LATERAL (SELECT unnest(generate_series(0, g.w - 1)) AS x) xs,
      |    LATERAL (SELECT unnest(generate_series(0, g.h - 1)) AS y) ys),
      |img AS (SELECT doc_id, count(*) AS nu, sum(rgb) AS q
      |        FROM px GROUP BY doc_id),
      |wav AS (SELECT d.doc_id,
      |          4 + d.doc_id % 40 AS nu,
      |          sum(abs((d.doc_id * 31 + i * 17) % 4096 - 2048)) AS q
      |        FROM d, LATERAL (SELECT unnest(generate_series(0,
      |               3 + CAST(d.doc_id % 40 AS INT))) AS i) g
      |        WHERE d.m = 5 GROUP BY d.doc_id),
      |r AS (SELECT d.doc_id,
      |        CASE d.m WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
      |                 WHEN 2 THEN 'bmp' WHEN 3 THEN 'jpeg'
      |                 WHEN 4 THEN 'jpeg' WHEN 5 THEN 'wav'
      |                 WHEN 6 THEN 'pdf' WHEN 7 THEN 'truncated'
      |                 WHEN 9 THEN 'tiff'
      |                 ELSE 'unknown' END AS container,
      |        CASE WHEN d.m <= 4 OR d.m = 9 THEN COALESCE(i.nu, 0)
      |             WHEN d.m = 5 THEN w.nu
      |             WHEN d.m = 6 THEN 1 + d.doc_id % 5
      |             ELSE 0 END AS nu,
      |        CASE WHEN d.m <= 4 OR d.m = 9 THEN COALESCE(i.q, 0)
      |             WHEN d.m = 5 THEN w.q
      |             WHEN d.m = 6 THEN 1 + d.doc_id % 5
      |             ELSE 0 END AS q
      |      FROM d LEFT JOIN img i ON d.doc_id = i.doc_id
      |             LEFT JOIN wav w ON d.doc_id = w.doc_id)
      |SELECT container, CAST(count(*) AS BIGINT) AS n_files,
      |       CAST(sum(nu) AS BIGINT) AS n_units,
      |       CAST(sum(q) AS BIGINT) AS sum_q
      |FROM r GROUP BY container ORDER BY container""".stripMargin


  /** q158 — SUB-8-BIT PNG decode (depths 1/2/4 — the last common PNG
    * layout the engine quarantined, round 16): a gray lane (even ids —
    * packed MSB-first samples rescaled ×255/(2^d−1) per spec §12.5)
    * and a palette lane (odd ids — raw d-bit indices through PLTE),
    * depth cycling 1/2/4, Adam7 interlace for every fifth id, and
    * per-row filter cycling so the ONE-BYTE FILTER-BPP FLOOR (§9.2,
    * the subtle part — spec-pinned by hand fixtures in PngImageSpec)
    * is exercised under every filter type on both lanes. Same
    * faceStats artifact as the rest of the PNG ladder; analytic DuckDB
    * oracle recomputes every stat from doc_id. */
  def q158PngSub8Decode(s: SparkSession, dir: String): DataFrame =
    decodeLane(Tables.documents(s, dir)) { id =>
      import graft.sources.PngImage
      val depth = Array(1, 2, 4)((id % 3).toInt)
      val w = (3 + id % 6).toInt; val h = (2 + id % 4).toInt
      val inter = id % 5 == 0
      val png =
        if (id % 2 == 0) {
          val vals = Array.tabulate(w * h)(i =>
            ((id + (i % w) + (i / w) * 3) % (1L << depth)).toInt)
          PngImage.parse(PngImage.encodeGray(w, h, vals,
            filterFor = y => ((y + id) % 5).toInt,
            interlaced = inter, depth = depth))
        } else {
          val nPal = if (depth == 1) 2 else (2 + id % 3).toInt
          val pal = Array.tabulate(nPal)(j => 0xff000000 |
            ((((id * 7 + j * 31) % 256).toInt) << 16) |
            ((((id + j * 11) % 256).toInt) << 8) |
            (((j * 53) % 256).toInt))
          val idx = Array.tabulate(w * h)(i =>
            ((id + (i % w) * 2 + (i / w)) % nPal).toInt)
          PngImage.parse(PngImage.encodePalette(w, h, idx, pal,
            filterFor = y => ((y + id) % 5).toInt,
            interlaced = inter, depth = depth))
        }
      faceStats(png.width, png.height, png.pixels)
    }

  val q158Oracle: String = faceStatsSql(
    """d AS (SELECT doc_id,
      |             CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4
      |               END AS dep,
      |             3 + doc_id % 6 AS w, 2 + doc_id % 4 AS h,
      |             CASE doc_id % 3 WHEN 0 THEN 2 ELSE 2 + doc_id % 3
      |               END AS npal
      |           FROM documents),
      |px AS (SELECT d.doc_id, d.w, d.h, x, y,
      |         CASE WHEN d.doc_id % 2 = 0 THEN
      |           ((d.doc_id + x + y * 3) %
      |             (CASE d.dep WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 16 END))
      |           * (CASE d.dep WHEN 1 THEN 255 WHEN 2 THEN 85 ELSE 17 END)
      |         ELSE
      |           (d.doc_id * 7
      |            + ((d.doc_id + x * 2 + y) % d.npal) * 31) % 256
      |         END AS r,
      |         CASE WHEN d.doc_id % 2 = 0 THEN
      |           ((d.doc_id + x + y * 3) %
      |             (CASE d.dep WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 16 END))
      |           * (CASE d.dep WHEN 1 THEN 255 WHEN 2 THEN 85 ELSE 17 END)
      |         ELSE
      |           (d.doc_id + ((d.doc_id + x * 2 + y) % d.npal) * 11) % 256
      |         END AS g,
      |         CASE WHEN d.doc_id % 2 = 0 THEN
      |           ((d.doc_id + x + y * 3) %
      |             (CASE d.dep WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 16 END))
      |           * (CASE d.dep WHEN 1 THEN 255 WHEN 2 THEN 85 ELSE 17 END)
      |         ELSE
      |           (((d.doc_id + x * 2 + y) % d.npal) * 53) % 256
      |         END AS b,
      |         255 AS a
      |       FROM d,
      |         LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) xs,
      |         LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) ys)""")

  /** q160 — EXIF-ORIENTED JPEG decode, NORMALIZED: per document a
    * block-constant canonical image is stored under one of the eight
    * EXIF orientations (rotated/flipped pixels + an APP1 Exif segment
    * in alternating TIFF byte orders), decoded, the orientation read
    * back strictly, and the upright face reconstructed
    * ([[graft.sources.JpegImage.normalizeOrientation]]). The oracle is
    * ORIENTATION-INDEPENDENT by design: it computes the CANONICAL
    * image's stats from doc_id alone, so any mapping defect in any of
    * the eight transforms (or either TIFF endianness) hash-mismatches —
    * the orientation analog of the q141 container-independence move.
    * This is the lane that makes decoded faces usable for near-dup
    * work: a rotated re-upload must normalize to the same pixels (and
    * phash) as the original. */
  def q160JpegExifNormalize(s: SparkSession, dir: String): DataFrame =
    decodeLane(Tables.documents(s, dir)) { id =>
      import graft.sources.JpegImage
      val wc = (8 * (1 + id % 3)).toInt
      val hc = (8 * (1 + id % 2)).toInt
      val canon = Array.tabulate(wc * hc) { i =>
        ((id * 13 + (i % wc) / 8 * 37 + (i / wc) / 8 * 59) % 256).toInt
      }
      val o = (1 + id % 8).toInt
      val (sw, sh, stored) = JpegImage.exifStore(o, wc, hc, canon)
      val bytes = JpegImage.withExif(
        JpegImage.encode(sw, sh, stored, grayscale = true), o,
        bigEndian = id % 2 == 0)
      val up = JpegImage.normalizeOrientation(JpegImage.parse(bytes),
        JpegImage.parseOrientation(bytes))
      faceStats(up.width, up.height, up.pixels)
    }

  val q160Oracle: String = faceStatsSql(
    s"""p AS (SELECT doc_id, 8 * (1 + doc_id % 3) AS w,
      |                  8 * (1 + doc_id % 2) AS h FROM documents),
      |gray AS (SELECT doc_id, w, h, x, y,
      |         (doc_id * 13 + (x // 8) * 37 + (y // 8) * 59) % 256 AS c
      |       FROM p,
      |         LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) xs,
      |         LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ys),
      |$grayPx""")


  /** q161 — ORIENTED near-dup grouping: the end-to-end claim q160's
    * machinery exists for, graded as a pipeline. Every 8 consecutive
    * documents share one CANONICAL image (content keyed by the canon
    * id through the multiplicative mix — the q136 collision defense);
    * each document stores it under ITS OWN EXIF orientation
    * (1 + doc_id % 8, alternating TIFF byte orders). The pipeline —
    * THE DISPATCH FACE ([[graft.sources.MediaCodec.decodeImage]]:
    * sniff → strict decode → EXIF normalize, round 17) → 64-bit
    * aHash — must collapse all 8 oriented re-uploads of a canon onto
    * ONE hash: the report is (canon_id, n_docs, n_hashes) and the
    * analytic oracle expects n_hashes = 1 for every group (a defect in
    * ANY of the eight transforms, either endianness, or the hash
    * sampling grid splits a group and hash-mismatches). Cross-canon
    * separation (different canons → different hashes) is spec-asserted
    * in MultimodalSpec — it depends on hash non-collision, which is a
    * property of the fixture, not an analytic identity.
    *
    * Scale shape: task-local synth+orient+encode+decode+normalize+hash
    * per row; only (canon_id, 8-byte hash) shuffles to a ~N/8-group
    * aggregate. This is the production posture for image dedup at
    * 100 TB: hash the UPRIGHT face, or every rotated re-upload escapes
    * the index. */
  /** The q161 fixture's ENCODED bytes for a document id: every 8
    * consecutive ids share one canonical image, stored under id's own
    * EXIF orientation in alternating TIFF byte orders — the synthetic
    * stand-in for "the same photo re-uploaded rotated 8 ways". */
  private[graft] def q161OrientedBytes(id: Long): Array[Byte] = {
    import graft.sources.JpegImage
    val canon = id / 8
    // >= 3x3 tiles per canon: the aHash's entropy comes from the
    // above/below-mean PATTERN of the tile values, and a 2x2-tile
    // canon has at most 16 patterns — 40 sampled canons collided
    // into 12 hashes on the first cut (spec find); 9..48 tiles give
    // the mix-keyed values room to separate
    val wc = (8 * (3 + canon % 6)).toInt
    val hc = (8 * (3 + canon % 4)).toInt
    // multiplicative-hash tile content (the q136 mix defense: linear
    // tile formulas collide across canons; high-bit mixing does not)
    def mix(m: Long): Long =
      (((m & 0x7fffffffL) * 2654435761L) / 4096) % 256
    val canonPx = Array.tabulate(wc * hc) { i =>
      mix(canon * 64 + (i / wc) / 8 * (wc / 8) + (i % wc) / 8).toInt
    }
    val o = (1 + id % 8).toInt
    val (sw, sh, stored) = JpegImage.exifStore(o, wc, hc, canonPx)
    JpegImage.withExif(
      JpegImage.encode(sw, sh, stored, grayscale = true), o,
      bigEndian = id % 2 == 0)
  }

  /** 64-bit aHash over an already-upright face (the q136 8×8
    * nearest-neighbor sampling grid) — ONE copy, shared by q161, the
    * oriented hash core [[orientedHashesOf]] and their specs. */
  private[graft] def uprightAhash64(width: Int, height: Int,
      pixels: Array[Int]): Long = {
    val lums = new Array[Long](64)
    var sum = 0L
    var k = 0
    while (k < 64) {
      val px = pixels((k / 8) * height / 8 * width + (k % 8) * width / 8)
      val lum = 299L * ((px >> 16) & 0xff) + 587L * ((px >> 8) & 0xff) +
        114L * (px & 0xff)
      lums(k) = lum; sum += lum
      k += 1
    }
    var hash = 0L
    k = 0
    while (k < 64) {
      if (lums(k) * 64 > sum) hash |= (1L << k)
      k += 1
    }
    hash
  }

  /** Oriented bytes → THE DISPATCH FACE → upright aHash (round 17: the
    * decode+normalize step is [[graft.sources.MediaCodec.decodeImage]],
    * not a direct JpegImage call — so q161's oracle now grades the face
    * wiring itself: if the face ever stopped normalizing orientation,
    * n_hashes would split and the hash would mismatch). */
  private[graft] def q161OrientedHash(id: Long): Long = {
    val m = graft.sources.MediaCodec.decodeImage(q161OrientedBytes(id))
    uprightAhash64(m.width, m.height, m.pixels)
  }

  /** The oriented-corpus hash core in the [[imageHashesOf]] frame shape
    * ((doc_id) → (doc_id, lo, hi)) — the core of [[graft.streaming
    * .OrientedPhashIndexStream]], so a ROTATED RE-UPLOAD cannot escape
    * the incremental image index (advisor r16 medium): stream hashing
    * composes the same one-copy kernel (dispatch face + upright aHash)
    * as batch q161, so stream ≡ batch oriented grouping by
    * construction. */
  private[graft] def orientedHashesOf(docs: DataFrame): DataFrame = {
    val ahash = udf { (id: Long) =>
      val h = q161OrientedHash(id)
      (h & 0xffffffffL, h >>> 32)
    }
    docs
      .select(col("doc_id"), ahash(col("doc_id")).as("hh"))
      .select(col("doc_id"), col("hh._1").as("lo"), col("hh._2").as("hi"))
  }

  def q161OrientedPhashDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hashOf = udf { (id: Long) => q161OrientedHash(id) }
    Tables.documents(s, dir)
      .select(($"doc_id" / 8).cast("long").as("canon_id"),
        hashOf($"doc_id").as("hash"))
      .groupBy($"canon_id")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"hash").as("n_hashes"))
      .orderBy($"canon_id")
  }

  val q161Oracle: String =
    """SELECT CAST(doc_id // 8 AS BIGINT) AS canon_id,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(1 AS BIGINT) AS n_hashes
      |FROM documents GROUP BY 1 ORDER BY canon_id""".stripMargin


  /** q162 — 8-bit PALETTE BMP decode (round 16: the uncompressed
    * container's other real-world layout, after 24-bit truecolor):
    * per document an analytic palette + index grid is encoded through
    * [[graft.sources.BmpImage.encode8]] (row order alternating, stride
    * padding exercised by the width sweep) and strict-decoded back;
    * same faceStats artifact as the rest of the image ladder (BMP has
    * no alpha — the face is forced opaque like the dispatch path). The
    * DuckDB oracle recomputes the palette lookup arithmetically (the
    * q143 move, applied to the BMP container). */
  def q162BmpPaletteDecode(s: SparkSession, dir: String): DataFrame =
    decodeLane(Tables.documents(s, dir)) { id =>
      import graft.sources.BmpImage
      val w = (3 + id % 7).toInt; val h = (2 + id % 4).toInt
      val nPal = (2 + id % 9).toInt
      val pal = Array.tabulate(nPal)(j =>
        ((((id * 11 + j * 29) % 256).toInt) << 16) |
          ((((id * 3 + j * 17) % 256).toInt) << 8) |
          (((id + j * 41) % 256).toInt)
      )
      val idx = Array.tabulate(w * h)(i =>
        ((id + (i % w) * 3 + (i / w)) % nPal).toInt)
      val b = BmpImage.parse(BmpImage.encode8(w, h, idx, pal,
        topDown = id % 2 == 0))
      faceStats(b.width, b.height, b.pixels.map(0xff000000 | _))
    }

  val q162Oracle: String = faceStatsSql(
    """d AS (SELECT doc_id, 3 + doc_id % 7 AS w, 2 + doc_id % 4 AS h,
      |                  2 + doc_id % 9 AS npal FROM documents),
      |px AS (SELECT d.doc_id, d.w, d.h, x, y,
      |         (d.doc_id * 11
      |          + ((d.doc_id + x * 3 + y) % d.npal) * 29) % 256 AS r,
      |         (d.doc_id * 3
      |          + ((d.doc_id + x * 3 + y) % d.npal) * 17) % 256 AS g,
      |         (d.doc_id + ((d.doc_id + x * 3 + y) % d.npal) * 41) % 256 AS b,
      |         255 AS a
      |       FROM d,
      |         LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) xs,
      |         LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) ys)""")

  /** q163 — ANIMATED GIF frame sampling over the full compositing
    * model ([[graft.sources.GifImage.decodeAnimation]] — the
    * frame-sample seam a video-adjacent pipeline needs): per document
    * an animation is synthesized with an analytic full-screen base
    * frame plus up to three DISJOINT 2×2 patches whose left column is
    * GCE-TRANSPARENT, under one of three disposal regimes by document
    * class — 1 (leave: patches accumulate), 2 (clear rect: each prior
    * patch leaves an UNPAINTED hole), 3 (restore previous: only the
    * current patch shows) — and every composited frame reports
    * (n_painted, sum_rgb). The DuckDB oracle recomputes the whole
    * disposal state machine in closed form (disjoint rects make every
    * frame's canvas analytic), so a compositing defect in any regime,
    * the transparency path, or the snapshot/dispose ordering
    * hash-mismatches. */
  /** q163's synth→composite→per-frame-stats kernel over an arbitrary
    * doc_id frame — shared with [[graft.tools.CodecScaleProbe]]'s
    * animation lane so the 100× probe measures the GRADED pipeline. */
  private[graft] def gifFrameStatsOf(ids: DataFrame): DataFrame =
    decodeFanOut(ids, "frame_idx", "n_painted", "sum_rgb") { id =>
      import graft.sources.GifImage
      val w = (8 + id % 5).toInt; val h = (6 + id % 4).toInt
      val nf = (2 + id % 3).toInt
      val cls = (id % 3).toInt // patch disposal = cls + 1
      val pal = Array.tabulate(256)(j => 0xff000000 | (j * 0x10101))
      val geom = (0 until nf).map { f =>
        if (f == 0) (0, 0, w, h, 1 + f)
        else (2 * f - 2, f, 2, 2, 1 + f)
      }
      def framePx(f: Int): Array[Int] =
        if (f == 0) Array.tabulate(w * h)(i =>
          ((id + (i % w) * 3 + (i / w) * 7) % 256).toInt)
        else Array.tabulate(4) { i =>
          val u = i % 2; val v = i / 2
          if (u == 0) 255 // GCE-transparent column
          else ((id * 5 + f * 31 + 1 + v * 2) % 255).toInt
        }
      val bytes = GifImage.encodeAnimation(w, h, pal, geom, framePx,
        disposalFor = f => if (f == 0) 0 else cls + 1,
        transparentFor = f => if (f == 0) -1 else 255)
      val (_, _, frames) = GifImage.decodeAnimation(bytes)
      frames.map { fr =>
        var painted = 0L
        var sumRgb = 0L
        fr.canvas.foreach { p =>
          if ((p >>> 24) != 0) {
            painted += 1
            sumRgb += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
          }
        }
        (fr.index, painted, sumRgb)
      }
    }

  def q163GifFrameSample(s: SparkSession, dir: String): DataFrame =
    gifFrameStatsOf(Tables.documents(s, dir).select(col("doc_id")))

  val q163Oracle: String =
    """WITH d AS (SELECT doc_id, doc_id % 3 AS cls, 2 + doc_id % 3 AS nf,
      |                  8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h
      |           FROM documents),
      |fr AS (SELECT d.*, f
      |       FROM d, LATERAL (SELECT unnest(generate_series(0, d.nf - 1))
      |                        AS f) g),
      |px AS (SELECT fr.doc_id, fr.cls, fr.nf, fr.f, x, y,
      |         x // 2 + 1 AS gc, x % 2 AS u,
      |         (fr.doc_id + x * 3 + y * 7) % 256 AS base
      |       FROM fr,
      |         LATERAL (SELECT unnest(generate_series(0, fr.w - 1)) AS x) xs,
      |         LATERAL (SELECT unnest(generate_series(0, fr.h - 1)) AS y) ys),
      |ev AS (SELECT *,
      |         CASE WHEN gc >= 1 AND gc <= nf - 1
      |                   AND (y = gc OR y = gc + 1)
      |              THEN gc ELSE 0 END AS pg,
      |         CASE WHEN gc >= 1 AND gc <= nf - 1
      |                   AND (y = gc OR y = gc + 1)
      |              THEN (doc_id * 5 + gc * 31 + 1 + (y - gc) * 2) % 255
      |              ELSE 0 END AS pv
      |       FROM px),
      |st AS (SELECT doc_id, f, x, y,
      |         CASE WHEN cls = 1 AND pg > 0 AND pg < f THEN 0
      |              ELSE 1 END AS painted,
      |         CASE
      |           WHEN f = 0 OR pg = 0 OR u = 0 THEN base
      |           WHEN cls = 0 AND pg <= f THEN pv
      |           WHEN cls = 1 AND pg = f THEN pv
      |           WHEN cls = 2 AND pg = f THEN pv
      |           ELSE base END AS val
      |       FROM ev)
      |SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
      |       CAST(sum(painted) AS BIGINT) AS n_painted,
      |       CAST(sum(painted * 3 * val) AS BIGINT) AS sum_rgb
      |FROM st GROUP BY doc_id, f ORDER BY media_id, frame_idx""".stripMargin

  /** q167 — ORIENTED decode THROUGH THE DISPATCH FACE: q160 grades
    * `JpegImage.normalizeOrientation` called directly; this grades the
    * same orientation-independent artifact with the decode+normalize
    * step being [[graft.sources.MediaCodec.decodeMedia]] — the one
    * operator a mixed corpus actually routes through. Per document a
    * block-constant canonical image is stored under one of the eight
    * EXIF orientations (all eight covered: 1 + 3·id mod 8 walks the
    * full cycle as id mod 8 does, in a DIFFERENT order from q160's so
    * the two lanes don't share an id→orientation pairing), in
    * alternating TIFF byte orders, and the dispatch face must hand back
    * the CANONICAL width/height/wsum/first_px — every one of which is
    * orientation-SENSITIVE, so a face that stopped normalizing (or
    * normalized through a wrong transform) hash-mismatches even though
    * the rotation-invariant q157 totals would not notice. */
  def q167OrientedDispatchDecode(s: SparkSession, dir: String): DataFrame =
    decodeLane(Tables.documents(s, dir)) { id =>
      import graft.sources.{JpegImage, MediaCodec}
      val wc = (8 * (2 + id % 2)).toInt
      val hc = (8 * (1 + id % 3)).toInt
      val canon = Array.tabulate(wc * hc) { i =>
        ((id * 17 + (i % wc) / 8 * 41 + (i / wc) / 8 * 23) % 256).toInt
      }
      val o = (1 + (id * 3) % 8).toInt
      val (sw, sh, stored) = JpegImage.exifStore(o, wc, hc, canon)
      val bytes = JpegImage.withExif(
        JpegImage.encode(sw, sh, stored, grayscale = true), o,
        bigEndian = id % 3 == 0)
      MediaCodec.decodeMedia(bytes) match {
        case MediaCodec.ImageItem("jpeg", w, h, px) => faceStats(w, h, px)
        case other => throw new IllegalStateException(
          s"dispatch face returned $other for an oriented JPEG")
      }
    }

  val q167Oracle: String = faceStatsSql(
    s"""p AS (SELECT doc_id, 8 * (2 + doc_id % 2) AS w,
      |                  8 * (1 + doc_id % 3) AS h FROM documents),
      |gray AS (SELECT doc_id, w, h, x, y,
      |         (doc_id * 17 + (x // 8) * 41 + (y // 8) * 23) % 256 AS c
      |       FROM p,
      |         LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) xs,
      |         LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ys),
      |$grayPx""")

  /** q164 — TIFF container decode (round 17): per document a canonical
    * image is synthesized in one of three pixel classes (grayscale —
    * both photometrics, WhiteIsZero odd ids —, RGB, palette), stored
    * under an EXIF-style orientation (tag 274, all eight covered),
    * laid out as strips or 16×16 tiles, LZW-compressed with and
    * without horizontal differencing, in both byte orders — the full
    * baseline matrix of [[graft.sources.TiffImage]] — and routed
    * through THE DISPATCH FACE ([[graft.sources.MediaCodec
    * .decodeImage]], so the `II*`/`MM*` sniff arms are part of the
    * graded surface). Artifact = the faceStats ladder row; the DuckDB
    * oracle recomputes the CANONICAL stats analytically from doc_id
    * (orientation/layout/compression-independent by design — any
    * defect in the IFD walk, either LZW width schedule, the predictor,
    * tile edge padding or the orientation mapping hash-mismatches). */
  def q164TiffDecode(s: SparkSession, dir: String): DataFrame =
    tiffStatsOf(Tables.documents(s, dir))

  /** The q164 synth→encode→dispatch→faceStats kernel as a frame core
    * ((doc_id) → stats), shared with the scale probe so the probe
    * measures the pipeline the oracle grades. */
  /** q164 encoding knobs for doc `id`: (content class m, layout arm,
    * 16-bit deep, CMYK slice, planar-separate). Exposed so the
    * fixture-coverage spec can assert every (class × arm) pair and
    * every axis value actually occurs — the layout arm derives from
    * id/3, not id%6, because id%6 DETERMINES id%3 = m and the old
    * derivation silently locked each class to two of the six arms
    * (the q171-predictor coverage-drift class, round 19). */
  private[graft] def q164Knobs(id: Long):
      (Int, Int, Boolean, Boolean, Boolean, Boolean, (Int, Int)) = {
    val m = (id % 3).toInt
    val lay = ((id / 3) % 6).toInt
    val deep = id % 5 == 0 && m != 2
    val cmyk = m == 1 && !deep && id % 7 == 3
    // round-19 axis: a slice of the GRAY class stores as NATIVE YCbCr
    // (photometric 6 outside JPEG) — gray content is the exact
    // aperture (Y = c, Cb = Cr = 128 survive subsampling and both
    // roundings), so the analytic oracle needs zero edits (6th use)
    val ycc = m == 0 && !deep && (id / 2) % 7 == 4
    // round 20 completes the layout matrix: a sub-slice of the ycc
    // documents stores PLANAR (separate subsampled chroma planes) —
    // strips only (arms 2/5 are tiled; tiled planar ycc is a named
    // reject on both halves), zero oracle edits (7th use)
    val plan2 = (m == 1 && (id / 18) % 3 == 1) ||
      (ycc && (id / 8) % 2 == 1 && lay != 2 && lay != 5)
    val sub = Seq((1, 1), (2, 1), (2, 2))(((id / 4) % 3).toInt)
    (m, lay, deep, cmyk, plan2, ycc, sub)
  }

  private[graft] def tiffStatsOf(docs: DataFrame): DataFrame =
    decodeLane(docs) { id =>
      import graft.sources.{JpegImage, MediaCodec, TiffImage}
      val w = (3 + id % 14).toInt; val h = (2 + id % 11).toInt
      val (m, lay, deep, cmyk, plan2, ycc, sub) = q164Knobs(id)
      val nPal = (2 + id % 9).toInt
      // canonical face pixels (what the oracle computes) and the
      // encoder-side sample array (indices for palette, pixels else)
      val canonFace = new Array[Int](w * h)
      val canonRaw = new Array[Int](w * h)
      var i = 0
      while (i < w * h) {
        val x = i % w; val y = i / w
        m match {
          case 0 =>
            val c = ((id * 7 + x * 13 + y * 31) % 256).toInt
            canonFace(i) = (c << 16) | (c << 8) | c
            canonRaw(i) = c
          case 1 =>
            val r = ((id * 13 + x * 7 + y * 3) % 256).toInt
            val g = ((id * 3 + x * 5 + y * 11) % 256).toInt
            val b = ((id + x + y * 7) % 256).toInt
            canonFace(i) = (r << 16) | (g << 8) | b
            canonRaw(i) = canonFace(i)
          case _ =>
            val k = ((id + x * 3 + y) % nPal).toInt
            val r = ((id * 11 + k * 29) % 256).toInt
            val g = ((id * 3 + k * 17) % 256).toInt
            val b = ((id + k * 41) % 256).toInt
            canonFace(i) = (r << 16) | (g << 8) | b
            canonRaw(i) = k
        }
        i += 1
      }
      val pal = if (m == 2) Array.tabulate(nPal)(k =>
        ((((id * 11 + k * 29) % 256).toInt) << 16) |
          ((((id * 3 + k * 17) % 256).toInt) << 8) |
          (((id + k * 41) % 256).toInt)) else null
      val pm = m match {
        case 0 => if (id % 2 == 1) 0 else 1 // WhiteIsZero odd ids
        case 1 => 2
        case _ => 3
      }
      val o = (1 + id % 8).toInt
      // the ycc arm encodes RGB-shaped gray (rgbToYcc reads all three
      // channels); the gray/palette arms encode their raw sample bytes
      val (sw, sh, stored) =
        JpegImage.exifStore(o, w, h, if (ycc) canonFace else canonRaw)
      // layout matrix over the SAME canonical face — the oracle states
      // canonical stats only, so widening it (round 17 adds PackBits,
      // Deflate and a 16-bit-sample axis; round 18 the CMYK slice;
      // round 19 PlanarConfiguration 2) needs no oracle change. All
      // knob derivations live in [[q164Knobs]] under a coverage spec.
      val bits = if (deep) 16 else 8
      val pm2 = if (cmyk) 5 else if (ycc) 6 else pm
      val pred2 = if (ycc) 1 else 2 // no predictor stage on data units
      val bytes = lay match {
        case 0 => TiffImage.encode(sw, sh, stored, photometric = pm2,
          palette = pal, bigEndian = id % 2 == 0, orientation = o,
          rowsPerStrip = 3, bits = bits, planar2 = plan2, yccSub = sub)
        case 1 => TiffImage.encode(sw, sh, stored, photometric = pm2,
          palette = pal, bigEndian = id % 2 == 0, orientation = o,
          lzw = true, rowsPerStrip = 4, bits = bits, planar2 = plan2,
          yccSub = sub)
        case 2 => TiffImage.encode(sw, sh, stored, photometric = pm2,
          palette = pal, bigEndian = id % 2 == 0, orientation = o,
          lzw = true, predictor = pred2, tileSize = 16, bits = bits,
          planar2 = plan2, yccSub = sub)
        case 3 => TiffImage.encode(sw, sh, stored, photometric = pm2,
          palette = pal, bigEndian = id % 2 == 0, orientation = o,
          lzw = true, predictor = pred2, rowsPerStrip = 2, bits = bits,
          planar2 = plan2, yccSub = sub)
        case 4 => TiffImage.encode(sw, sh, stored, photometric = pm2,
          palette = pal, bigEndian = id % 2 == 0, orientation = o,
          compression = 32773, rowsPerStrip = 5, bits = bits,
          planar2 = plan2, yccSub = sub)
        case _ => TiffImage.encode(sw, sh, stored, photometric = pm2,
          palette = pal, bigEndian = id % 2 == 0, orientation = o,
          compression = 8, predictor = pred2, tileSize = 16, bits = bits,
          planar2 = plan2, yccSub = sub)
      }
      val dec = MediaCodec.decodeImage(bytes)
      require(dec.container == "tiff", s"sniffed ${dec.container}")
      // guard the canonical face exactly, then reduce (a defect both
      // in decode AND in the stat reduction cannot cancel out)
      require(dec.width == w && dec.height == h, "canonical dims")
      var j = 0
      while (j < w * h) {
        require((dec.pixels(j) & 0xffffff) == canonFace(j), s"pixel $j")
        j += 1
      }
      faceStats(dec.width, dec.height, dec.pixels)
    }

  val q164Oracle: String = faceStatsSql(
    """d AS (SELECT doc_id, 3 + doc_id % 14 AS w, 2 + doc_id % 11 AS h,
      |                  doc_id % 3 AS m, 2 + doc_id % 9 AS npal
      |           FROM documents),
      |px AS (SELECT d.doc_id, d.w, d.h, x, y,
      |    CASE d.m WHEN 0 THEN (d.doc_id * 7 + x * 13 + y * 31) % 256
      |         WHEN 1 THEN (d.doc_id * 13 + x * 7 + y * 3) % 256
      |         ELSE (d.doc_id * 11
      |               + ((d.doc_id + x * 3 + y) % d.npal) * 29) % 256
      |    END AS r,
      |    CASE d.m WHEN 0 THEN (d.doc_id * 7 + x * 13 + y * 31) % 256
      |         WHEN 1 THEN (d.doc_id * 3 + x * 5 + y * 11) % 256
      |         ELSE (d.doc_id * 3
      |               + ((d.doc_id + x * 3 + y) % d.npal) * 17) % 256
      |    END AS g,
      |    CASE d.m WHEN 0 THEN (d.doc_id * 7 + x * 13 + y * 31) % 256
      |         WHEN 1 THEN (d.doc_id + x + y * 7) % 256
      |         ELSE (d.doc_id
      |               + ((d.doc_id + x * 3 + y) % d.npal) * 41) % 256
      |    END AS b,
      |    255 AS a
      |  FROM d,
      |    LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) xs,
      |    LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) ys)""")

  /** q168 — TIFF quarantine triage (the q144/q149/q152/q154 family
    * member for the new container): six per-document classes — a good
    * file plus five spec-invalid mutations, each produced by patching
    * a VALID little-endian fixture — classified by NAMED gate through
    * the strict parser. sum_pixels aggregates only the decoded class,
    * so a reject that silently decodes (or a decode that silently
    * rejects) shifts two rows at once. */
  def q168TiffQuarantine(s: SparkSession, dir: String): DataFrame =
    quarantineReport(Tables.documents(s, dir), q168Classes, "sum_pixels")(
      b => (Seq(graft.sources.TiffImage.parse(b).pixels.length.toLong), None))

  /** q168's decodable little-endian gray TIFF. */
  private def q168Tiff(id: Long): Array[Byte] = {
    val w = (3 + id % 5).toInt; val h = (2 + id % 4).toInt
    val gray = Array.tabulate(w * h)(i =>
      ((id * 7 + (i % w) * 13 + (i / w) * 31) % 256).toInt)
    graft.sources.TiffImage.encode(w, h, gray, photometric = 1,
      lzw = id % 2 == 0, rowsPerStrip = 2)
  }

  /** The first-IFD offset of a little-endian TIFF. */
  private def ifdAt(b: Array[Byte]): Int = (b(4) & 0xff) |
    ((b(5) & 0xff) << 8) | ((b(6) & 0xff) << 16) | ((b(7) & 0xff) << 24)

  /** q168's TIFF with the inline value of IFD entry `tag` set to `v`. */
  private def q168Patched(id: Long, tag: Int, v: Int): Array[Byte] = {
    val b = q168Tiff(id)
    val ifd = ifdAt(b)
    val n = (b(ifd) & 0xff) | ((b(ifd + 1) & 0xff) << 8)
    var i = 0
    while (i < n) {
      val e = ifd + 2 + 12 * i
      val t = (b(e) & 0xff) | ((b(e + 1) & 0xff) << 8)
      if (t == tag) {
        b(e + 8) = (v & 0xff).toByte
        b(e + 9) = ((v >> 8) & 0xff).toByte
      }
      i += 1
    }
    b
  }

  private val q168Classes = Seq(
    QClass("decoded", Seq("(3 + doc_id % 5) * (2 + doc_id % 4)"))(q168Tiff),
    QClass("bad_magic", Nil, "magic") { id =>
      val b = q168Tiff(id); b(2) = 43; b // wrong magic
    },
    QClass("truncated", Nil, "overruns", "out of range") { id =>
      val good = q168Tiff(id)
      java.util.Arrays.copyOf(good, good.length / 2)
    },
    // old-style JPEG (spec-deprecated, permanently out of scope).
    // Retargeted TWICE in round 18: CCITT G3/G4 became decodable (q172)
    // so the class moved onto NEW-style JPEG (7), then q175 made THAT
    // decodable and the class moved onto the deprecated old style in
    // the same commit — the q144 retarget invariant, 9th application.
    QClass("unsupported_compression", Nil, "compression")(
      q168Patched(_, 259, 6)),
    // 12-bit samples (retargeted round 17 — 16-bit became decodable;
    // 12-bit packed samples remain out of scope)
    QClass("deep_samples", Nil, "BitsPerSample")(q168Patched(_, 258, 12)),
    QClass("non_ascending_ifd", Nil, "ascending") { id =>
      // swap the first two IFD entries
      val b = q168Tiff(id)
      val ifd = ifdAt(b)
      var k = 0
      while (k < 12) {
        val t = b(ifd + 2 + k)
        b(ifd + 2 + k) = b(ifd + 2 + 12 + k)
        b(ifd + 2 + 12 + k) = t
        k += 1
      }
      b
    })

  val q168Oracle: String = quarantineSql(q168Classes, "sum_pixels")

  /** The q166 fixture + hash core: every 4 consecutive ids share one
    * canonical ANIMATION; each id stores a RE-ENCODE that must
    * composite identically under the GIF89a rendering model — the
    * knobs a real re-encoder turns: per-frame interlace, disposal
    * method (every frame is a full-screen opaque repaint, so disposal
    * 0/1/2/3 are all display-equivalent BY the model), frame delays,
    * and a declared-but-unused transparent index. Returns the per-
    * frame aHash sequence over the COMPOSITED canvases (the q136
    * sampling grid via [[uprightAhash64]] — one copy). */
  private[graft] def q166AnimHashes(id: Long): Array[Long] = {
    import graft.sources.GifImage
    val canon = id / 4
    val v = (id % 4).toInt
    // [[splitmix64]], NOT the q136 multiplicative mix: that
    // trick decorrelates BASES but over consecutive pixel indices its
    // high bits walk a near-linear sequence mod 256, and `% nPal` of a
    // linear walk is periodic — at the 100× probe scale 5% of sampled
    // canons collided into structured hash patterns (0x0F0F…), forging
    // 300k cross-canon "identical" animations. The oracle never
    // replays content (it states pair structure only), so the fixture
    // is free to use a full-avalanche hash.
    val w = (8 + canon % 9).toInt; val h = (8 + canon % 7).toInt
    val nf = (2 + canon % 3).toInt
    val nPal = (4 + canon % 5).toInt
    // content palette 0..nPal-1 plus a DECOY entry at nPal that frame
    // pixels never use: odd variants declare it transparent, so the
    // GCE path is exercised without changing a single composited pixel
    val pal = Array.tabulate(nPal + 1)(j => 0xff000000 |
      ((splitmix64(canon * 31 + j) & 0xff).toInt << 16) |
      ((splitmix64(canon * 17 + j * 7) & 0xff).toInt << 8) |
      (splitmix64(canon * 7 + j * 13) & 0xff).toInt)
    def framePx(f: Int): Array[Int] = Array.tabulate(w * h)(i =>
      ((splitmix64(canon * 1009 + f * 97 + i) & 0xff) % nPal).toInt)
    val geom = (0 until nf).map(f => (0, 0, w, h, (v * 3 + f) % 10))
    val bytes = GifImage.encodeAnimation(w, h, pal, geom, framePx,
      interlacedFrame = f => (v + f) % 2 == 1,
      disposalFor = f => (v + f) % 4,
      transparentFor = f => if (v % 2 == 1) nPal else -1)
    val (_, _, frames) = GifImage.decodeAnimation(bytes)
    frames.map(fr => uprightAhash64(w, h, fr.canvas)).toArray
  }

  /** q166 — ANIMATION near-dup (round 17): the dedup lane for
    * re-encoded animated memes, composing q163's compositing with the
    * q136 hash/banding kernels. Pipeline: decode+composite → per-frame
    * aHash → full-hash buckets through the shared capped band
    * equi-join ([[Dedup.cappedBandCandidates]] — never all pairs) →
    * FRAME-SET Jaccard over exact hash equality → pairs at
    * sim ≥ 0.8. The oracle is analytic: re-encodes composite
    * identically by the rendering model, so the surviving pairs are
    * EXACTLY the intra-canon pairs at sim 1.0 with n_common = the
    * canon's frame count — a defect in compositing (any disposal arm,
    * interlace, the GCE path), hashing, banding or the join surfaces
    * as a missing/extra/dented pair. Cross-canon separation (distinct
    * frame hashes across canons) is spec-asserted; even a full 64-bit
    * cross-canon frame-hash collision cannot forge a pair (one shared
    * frame out of ≥2 gives Jaccard ≤ 1/3 < 0.8).
    *
    * Scale shape: decode+hash task-local per doc (media bytes never
    * shuffle — only (doc_id, 8-byte hash) per frame); candidates come
    * from the bucketed band join with the stop-bucket cap; the Jaccard
    * join is candidate-pair × frame sized. */
  def q166AnimationNearDup(s: SparkSession, dir: String): DataFrame =
    frameSetNearDupOf(Tables.documents(s, dir), q166AnimHashes)

  /** A frame-set lane's hash core as a frame: (doc_id) → DISTINCT
    * (doc_id, fhash) rows (frame-SET semantics) through the lane's
    * per-document hash function (`q166AnimHashes`, `q171DocHashes`,
    * `q176PdfHashes`, `q177AudioHashes`, `q179Hashes`) — shared by the
    * batch query, the scale probe, and the lane's incremental index
    * ([[graft.streaming.AnimIndexStream]] and its siblings) so stream
    * hashing ≡ batch hashing by construction. */
  private[graft] def frameSetHashFrame(docs: DataFrame,
      hashesOf: Long => Array[Long]): DataFrame =
    docs
      .select(col("doc_id"))
      // decode cost is per-ROW (ms of codec work), not per-byte — a
      // bytes-partitioned scan of a small parquet file hands the WHOLE
      // corpus to one task (round 19: q176's 6.25 s bench was 5000 ×
      // 1.34 ms of decode serialized on a single input partition).
      // Spreading the 8-byte ids first costs one trivial shuffle and
      // makes decode parallelism independent of input file layout; at
      // real scale it also levels decode skew across executors.
      // The width is EXPLICIT (round 21): with AQE now applied inside
      // cached plans, a width-less keyed repartition would be coalesced
      // by BYTES — and 8-byte ids coalesce to one partition, serializing
      // the decode again (measured: q176 1.45 s → 10.3 s). Decode work
      // scales with rows, not bytes, so the full core count is the right
      // width at any corpus size.
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("doc_id"), explode(udf(hashesOf).apply(col("doc_id")))
        .as("fhash"))
      .distinct()

  /** Bucket rows over a frame-hash frame — the FULL 64-bit hash is the
    * key: the similarity metric is EXACT hash Jaccard (GIF re-encodes
    * are lossless), so 16-bit Hamming slices buy no tolerance — and
    * the 100× scale probe measured them SATURATING the stop-bucket cap
    * (642,536 of 750,000 pairs survived: the 4×65,536 pigeonhole space
    * itself was the scale limiter). Full-hash buckets hold one
    * animation's re-encodes (plus true frame collisions), stay
    * cap-free at any corpus size, and the cap still guards the real
    * degenerate case — a blank frame shared by thousands of
    * animations. */
  private[graft] def animBands(fh: DataFrame): DataFrame =
    fh.select(col("doc_id"), lit(0).as("band"), col("fhash").as("bkey"))

  /** ONE copy of the frame-set Jaccard scorer ((doc_a, doc_b)
    * candidate keys × the frame-hash table → n_common + sim), shared
    * by the batch lanes and their incremental indexes. */
  private[graft] def animScore(candKeys: DataFrame,
      allFh: DataFrame): DataFrame = {
    val nPer = allFh.groupBy(col("doc_id")).agg(count(lit(1)).as("nh"))
    candKeys
      .join(allFh.select(col("doc_id").as("doc_a"), col("fhash")),
        Seq("doc_a"))
      .join(allFh.select(col("doc_id").as("doc_b"), col("fhash")),
        Seq("doc_b", "fhash"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(nPer.select(col("doc_id").as("doc_a"), col("nh").as("na")),
        Seq("doc_a"))
      .join(nPer.select(col("doc_id").as("doc_b"), col("nh").as("nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")).cast("double"), 6)
          .as("sim"))
  }

  /** q166's presentation face over a scored pair frame — ONE copy
    * shared with the frame-set indexes' `report`. */
  private[graft] def animPresentation(scored: DataFrame): DataFrame =
    scored.filter(col("sim") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("sim"),
        (expr("doc_a div 4") === expr("doc_b div 4")).as("same_canon"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** A frame-set lane's full batch pipeline as a frame core ((doc_id)
    * → surviving pairs in q166's presentation), shared by q166, q171,
    * q176, q177, q179 and the scale probe. */
  private[graft] def frameSetNearDupOf(docs: DataFrame,
      hashesOf: Long => Array[Long]): DataFrame = {
    // banding, both Jaccard sides, per-doc counts
    val fh = frameSetHashFrame(docs, hashesOf).cache()
    // materialize the (candidate-pair-sized) result eagerly so the
    // frame-hash cache can be RELEASED before returning — repeated
    // invocations (scale-probe lanes, long sessions) must not
    // accumulate a cached RDD per call (advisor r17). The checkpoint
    // blocks themselves are freed by the harness's Checkpoints.sweep
    // once the result is consumed.
    try graft.tools.Checkpoints.tracked(animPresentation(
      animScore(Dedup.cappedBandCandidates(animBands(fh)), fh)))._1
    finally fh.unpersist(blocking = false)
  }

  val q166Oracle: String =
    """WITH d AS (SELECT doc_id, doc_id // 4 AS canon FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(2 + a.canon % 3 AS BIGINT) AS n_common,
      |       round(CAST(1 AS DOUBLE), 6) AS sim,
      |       TRUE AS same_canon
      |FROM d a JOIN d b ON a.canon = b.canon AND a.doc_id < b.doc_id
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q170 — MULTI-PAGE TIFF decode (round 17, post-seal): the
    * scanned-document shape, and the container analog of q163's
    * per-frame rows. Per document a 2–4-page TIFF is synthesized —
    * every page with its OWN geometry, analytic grayscale content,
    * and compression (rotating all four), IFDs chained through their
    * next pointers — decoded via [[graft.sources.TiffImage
    * .parsePages]], and reduced to one faceStats row PER PAGE. The
    * DuckDB oracle recomputes every page's stats from (doc_id, page)
    * alone; a chain-walk defect (wrong next pointer, page skipped,
    * state leaking between pages) changes a row an oracle pins.
    * Single-page [[TiffImage.parse]] REJECTS multi-page files by name
    * (silent first-page decode of a 50-page document is silent data
    * loss) — spec-asserted. */
  def q170TiffMultiPage(s: SparkSession, dir: String): DataFrame =
    decodeFanOut(Tables.documents(s, dir), "page", "width", "height",
        "n_pixels", "sum_rgb", "wsum", "first_px", "peak_lum") { id =>
      import graft.sources.TiffImage
      val np = (2 + id % 3).toInt
      val pages = (0 until np).map { p =>
        val w = (3 + (id + p) % 6).toInt
        val h = (2 + (id + 2 * p) % 5).toInt
        val gray = Array.tabulate(w * h) { i =>
          ((id * 11 + p * 67 + (i % w) * 5 + (i / w) * 13) % 256).toInt
        }
        TiffImage.Page(w, h, gray, photometric = 1,
          compression = Array(1, 5, 8, 32773)(((id + p) % 4).toInt),
          rowsPerStrip = 2)
      }
      val decoded = TiffImage.parsePages(
        TiffImage.encodePages(pages, bigEndian = id % 2 == 0))
      decoded.zipWithIndex.map { case (t, p) =>
        val f = faceStats(t.width, t.height, t.pixels.map(0xff000000 | _))
        (p, f.width, f.height, f.n_pixels, f.sum_rgb, f.wsum, f.first_px,
          f.peak_lum)
      }
    }

  val q170Oracle: String = faceStatsSql(
    s"""d AS (SELECT doc_id, 2 + doc_id % 3 AS np FROM documents),
      |pg AS (SELECT d.doc_id, p,
      |         3 + (d.doc_id + p) % 6 AS w,
      |         2 + (d.doc_id + 2 * p) % 5 AS h
      |       FROM d, LATERAL (SELECT unnest(generate_series(0, d.np - 1))
      |                        AS p) g),
      |gray AS (SELECT pg.doc_id, CAST(pg.p AS INT) AS page, pg.w, pg.h, x, y,
      |         (pg.doc_id * 11 + pg.p * 67 + x * 5 + y * 13) % 256 AS c
      |       FROM pg,
      |         LATERAL (SELECT unnest(generate_series(0, pg.w - 1)) AS x) xs,
      |         LATERAL (SELECT unnest(generate_series(0, pg.h - 1)) AS y) ys),
      |$grayPx""", page = true, alpha = false)

  /** The q171 fixture + hash core: every 4 consecutive ids share one
    * canonical multi-page DOCUMENT (2–4 grayscale pages of full-
    * avalanche content); each id stores a RE-ENCODE of the same pages
    * — the knobs a real re-scan/re-export pipeline turns: file byte
    * order, per-page compression (rotating none/LZW/Deflate/PackBits),
    * predictor, strip size vs a 16×16 tile layout, and a stored
    * ORIENTATION under tag 274 (a page scanned sideways and tagged —
    * [[graft.sources.TiffImage]] normalizes it back to the upright
    * face, so rotation cannot split the page-hash set any more than it
    * splits q161's image canons). Returns the per-page upright aHash
    * sequence over the decoded chain ([[uprightAhash64]] — one
    * copy). */
  /** Encoding knobs for variant `v`, page `p` of a q171 fixture doc:
    * (compression, predictor, tiled). Exposed so the fixture-coverage
    * spec can assert every knob VALUE actually occurs — the advisor
    * r18 find was a predictor-2 arm made unreachable by a parity
    * interaction between the comp and predictor derivations. comp == 5
    * iff (v+p) % 4 == 1, which forces v+p odd, so the predictor must
    * derive from a residue independent of (v+p) mod 4 — (v+p)/4 is. */
  private[graft] def q171PageKnobs(v: Int, p: Int): (Int, Int, Boolean) = {
    val comp = Array(1, 5, 8, 32773)((v + p) % 4)
    val pred = if (comp == 5 && ((v + p) / 4) % 2 == 0) 2 else 1
    (comp, pred, (v + p) % 5 == 4)
  }

  private[graft] def q171DocHashes(id: Long): Array[Long] = {
    import graft.sources.{JpegImage, TiffImage}
    val canon = id / 4
    val v = (id % 4).toInt
    // [[splitmix64]] — the q166 lesson: per-INDEX randomness must
    // fully avalanche or probe-scale canons collide into structured
    // patterns (the fixture-separation spec samples the 100× id range)
    val np = (2 + canon % 3).toInt
    val pages = (0 until np).map { p =>
      val w = (8 + (splitmix64(canon * 131 + p * 17) & 0xff) % 9).toInt
      val h = (8 + (splitmix64(canon * 173 + p * 29) & 0xff) % 7).toInt
      val px = Array.tabulate(w * h) { i =>
        val c = (splitmix64(canon * 1009 + p * 97 + i) & 0xff).toInt
        (c << 16) | (c << 8) | c
      }
      (w, h, px)
    }
    val tpages = pages.zipWithIndex.map { case ((w, h, px), p) =>
      val o = (1 + (v * 2 + p * 3) % 8).toInt
      val (sw, sh, stored) = JpegImage.exifStore(o, w, h, px)
      val (comp, pred, tiledPage) = q171PageKnobs(v, p)
      TiffImage.Page(sw, sh, stored, photometric = 1,
        compression = comp,
        predictor = pred,
        rowsPerStrip = if (tiledPage) 0 else 1 + (v + p) % 3,
        tileSize = if (tiledPage) 16 else 0,
        orientation = o)
    }
    TiffImage.parsePages(TiffImage.encodePages(tpages, bigEndian = v % 2 == 0))
      .map(t => uprightAhash64(t.width, t.height, t.pixels))
      .toArray
  }

  /** q171 — SCANNED-DOCUMENT near-dup (round 18): the dedup lane for
    * re-scanned/re-encoded multi-page documents — the reference's own
    * corpus shape (51 scanned label PDFs) — composing q170's
    * multi-page TIFF chain walk with q166's frame-set kernel, one
    * copy each. Pipeline: parsePages → per-page upright aHash →
    * full-hash buckets through the shared capped band equi-join
    * ([[Dedup.cappedBandCandidates]] — never all pairs) → PAGE-SET
    * Jaccard over exact hash equality → pairs at sim ≥ 0.8. The
    * oracle is analytic: re-encodes decode to identical upright pages
    * (compression is lossless, orientation normalizes at the face),
    * so the surviving pairs are EXACTLY the intra-canon pairs at sim
    * 1.0 with n_common = the document's page count — a defect in the
    * chain walk, any compression arm, the predictor, tile padding,
    * the orientation mapping, hashing, banding or the join surfaces
    * as a missing/extra/dented pair. Cross-canon separation is
    * spec-asserted; even a full 64-bit cross-canon page-hash collision
    * cannot forge a pair (one shared page out of ≥2 gives Jaccard
    * ≤ 1/3 < 0.8).
    *
    * Scale shape: decode+hash task-local per doc (document bytes never
    * shuffle — only (doc_id, 8-byte hash) per page); candidates come
    * from the bucketed band join with the stop-bucket cap; the Jaccard
    * join is candidate-pair × page sized. Incremental twin:
    * [[graft.streaming.DocIndexStream]]. */
  def q171ScannedDocNearDup(s: SparkSession, dir: String): DataFrame =
    frameSetNearDupOf(Tables.documents(s, dir), q171DocHashes)

  val q171Oracle: String =
    """WITH d AS (SELECT doc_id, doc_id // 4 AS canon FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(2 + a.canon % 3 AS BIGINT) AS n_common,
      |       round(CAST(1 AS DOUBLE), 6) AS sim,
      |       TRUE AS same_canon
      |FROM d a JOIN d b ON a.canon = b.canon AND a.doc_id < b.doc_id
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q172 — BILEVEL (scanned-page) TIFF decode matrix (round 18): the
    * CCITT arm of the q164 design. Per document a canonical 1-bit
    * page is synthesized (a deterministic dot pattern with mixed-length
    * runs), stored under an orientation, in either photometric (0
    * stores white as the 0 bit, 1 inverts), either byte order, a
    * rotating strip height, and one of SEVEN compressions — none,
    * CCITT G3 Modified Huffman (2), CCITT T.4 in 1D AND 2D mode (3),
    * CCITT T.6 (4), PackBits, LZW and Deflate over packed rows — and
    * routed through THE DISPATCH FACE. The oracle states the CANONICAL
    * stats analytically from doc_id (layout-independent, the q164
    * move): any defect in the ITU Huffman tables, the 2D mode kernel,
    * EOL/RTC framing, bit packing, or the photometric/orientation
    * mapping hash-mismatches. The ITU tables themselves are
    * additionally pinned by JDK ImageIO parity in both directions
    * (TiffImageSpec). */
  def q172CcittDecode(s: SparkSession, dir: String): DataFrame =
    ccittStatsOf(Tables.documents(s, dir))

  /** The q172 synth→encode→dispatch→faceStats kernel as a frame core
    * ((doc_id) → stats), shared with the scale probe so the probe
    * measures the pipeline the oracle grades (the tiffStatsOf
    * pattern). */
  private[graft] def ccittStatsOf(docs: DataFrame): DataFrame =
    decodeLane(docs) { id =>
      import graft.sources.{JpegImage, MediaCodec, TiffImage}
      val w = (8 + id % 17).toInt; val h = (6 + id % 11).toInt
      val canonFace = Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        if ((id * 7 + x * 3 + y * 5) % 11 < 5) 0x000000 else 0xffffff
      }
      val o = (1 + id % 8).toInt
      val (sw, sh, stored) = JpegImage.exifStore(o, w, h, canonFace)
      val comp = Array(1, 2, 3, 4, 32773, 5, 8)((id % 7).toInt)
      val bytes = TiffImage.encodePages(Seq(TiffImage.Page(sw, sh, stored,
        photometric = ((id / 7) % 2).toInt, compression = comp,
        rowsPerStrip = (1 + (id / 3) % 4).toInt, bits = 1,
        t4TwoD = (id / 5) % 2 == 0, orientation = o,
        // the fax byte layout rotates in too (round 18: FillOrder 2 —
        // LSB-first bits; only the CCITT/uncompressed arms carry it)
        fillOrder2 = (comp <= 4) && (id / 11) % 2 == 0)),
        bigEndian = (id / 2) % 2 == 0)
      val dec = MediaCodec.decodeImage(bytes)
      require(dec.container == "tiff", s"sniffed ${dec.container}")
      require(dec.width == w && dec.height == h, "canonical dims")
      var j = 0
      while (j < w * h) {
        require((dec.pixels(j) & 0xffffff) == canonFace(j), s"pixel $j")
        j += 1
      }
      faceStats(dec.width, dec.height, dec.pixels)
    }

  val q172Oracle: String = faceStatsSql(
    s"""d AS (SELECT doc_id, 8 + doc_id % 17 AS w, 6 + doc_id % 11 AS h
      |           FROM documents),
      |gray AS (SELECT d.doc_id, d.w, d.h, x, y,
      |         CASE WHEN (d.doc_id * 7 + x * 3 + y * 5) % 11 < 5
      |              THEN 0 ELSE 255 END AS c
      |       FROM d,
      |         LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) xs,
      |         LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) ys),
      |$grayPx""")


  /** q173 — IMA ADPCM WAV decode (round 18): the last common
    * real-corpus WAV compression family after G.711, through the
    * strict container walk. javax.sound has NO ADPCM codec, so the
    * general path is graded by WavAudioSpec's fixture ladder
    * (hand-derived step-table fixtures, encoder-mirror round-trips,
    * mutation fuzz) and THIS query grades the engineered exact
    * aperture (the q150/JPEG-DC move): per-block CONSTANT samples
    * with initial step index 0 are DRIFT-FREE — step 7 >> 3 == 0, so
    * nibble 0 reconstructs +0 and the index can never rise — which
    * makes the full pipeline (fmt extension fields, block headers,
    * nibble order, per-block predictor reset) bit-exact and
    * DuckDB-replayable from doc_id alone. Block boundaries are real:
    * each block carries a DIFFERENT constant, so a header-offset or
    * predictor-reset defect shifts sum_v/sum_abs.
 */
  def q173AdpcmDecode(s: SparkSession, dir: String): DataFrame =
    decodeLane(Tables.documents(s, dir), "n_frames", "sum_abs", "sum_v",
        "peak_abs") { id =>
      import graft.sources.WavAudio
      val spb = (9 + 8 * (id % 4)).toInt
      val nBlocks = (1 + id % 3).toInt
      val samples = Array.tabulate(nBlocks * spb) { i =>
        val b = i / spb
        (((id * 31 + b * 47) % 65536) - 32768).toInt
      }
      val (bytes, recon) =
        WavAudio.encodeImaAdpcmMono((8000 + id % 1000).toInt, samples, spb)
      require(java.util.Arrays.equals(recon, samples),
        "constant blocks must encode drift-free")
      val w = WavAudio.parse(bytes)
      require(w.format == 17 && w.nFrames == samples.length, "adpcm shape")
      var sumAbs = 0L; var sumV = 0L; var peak = 0L
      w.samples.foreach { v =>
        sumAbs += math.abs(v); sumV += v
        peak = math.max(peak, math.abs(v))
      }
      (w.nFrames.toLong, sumAbs, sumV, peak)
    }

  val q173Oracle: String =
    """WITH d AS (SELECT doc_id, 9 + 8 * (doc_id % 4) AS spb,
      |                  1 + doc_id % 3 AS nb FROM documents),
      |blk AS (SELECT d.doc_id, d.spb, b,
      |          (d.doc_id * 31 + b * 47) % 65536 - 32768 AS c
      |        FROM d, LATERAL (SELECT unnest(generate_series(0, d.nb - 1))
      |                         AS b) g)
      |SELECT doc_id AS media_id,
      |       CAST(sum(spb) AS BIGINT) AS n_frames,
      |       CAST(sum(spb * abs(c)) AS BIGINT) AS sum_abs,
      |       CAST(sum(spb * c) AS BIGINT) AS sum_v,
      |       CAST(max(abs(c)) AS BIGINT) AS peak_abs
      |FROM blk GROUP BY doc_id ORDER BY media_id""".stripMargin

  /** q174 — MICROSOFT ADPCM WAV decode (round 18): the q173 shape for
    * the OTHER common ADPCM family (tag 2 — predictor-coefficient
    * blocks instead of IMA's step table; the format q154 quarantined
    * since round 16). Same engineered exact aperture: per-block
    * CONSTANT samples encode with all-zero codes under predictor 0
    * (pred = s1·256/256 = c exactly), so the full pipeline — fmt
    * coefficient table, 7-byte block headers, high-nibble-first codes,
    * per-block reset — is bit-exact and DuckDB-replayable; block
    * boundaries carry different constants so a header-offset defect
    * shifts the sums. General content is graded by WavAudioSpec's
    * fixture ladder + fuzz (no javax.sound codec exists — the q173
    * posture).
 */
  def q174MsAdpcmDecode(s: SparkSession, dir: String): DataFrame =
    decodeLane(Tables.documents(s, dir), "n_frames", "sum_abs", "sum_v",
        "peak_abs") { id =>
      import graft.sources.WavAudio
      val spb = (8 + 2 * (id % 4)).toInt
      val nBlocks = (1 + id % 3).toInt
      val samples = Array.tabulate(nBlocks * spb) { i =>
        val b = i / spb
        (((id * 37 + b * 53) % 65536) - 32768).toInt
      }
      val (bytes, recon) =
        WavAudio.encodeMsAdpcmMono((8000 + id % 1000).toInt, samples, spb)
      require(java.util.Arrays.equals(recon, samples),
        "constant blocks must encode exactly under predictor 0")
      val w = WavAudio.parse(bytes)
      require(w.format == 2 && w.nFrames == samples.length, "ms-adpcm shape")
      var sumAbs = 0L; var sumV = 0L; var peak = 0L
      w.samples.foreach { v =>
        sumAbs += math.abs(v); sumV += v
        peak = math.max(peak, math.abs(v))
      }
      (w.nFrames.toLong, sumAbs, sumV, peak)
    }

  val q174Oracle: String =
    """WITH d AS (SELECT doc_id, 8 + 2 * (doc_id % 4) AS spb,
      |                  1 + doc_id % 3 AS nb FROM documents),
      |blk AS (SELECT d.doc_id, d.spb, b,
      |          (d.doc_id * 37 + b * 53) % 65536 - 32768 AS c
      |        FROM d, LATERAL (SELECT unnest(generate_series(0, d.nb - 1))
      |                         AS b) g)
      |SELECT doc_id AS media_id,
      |       CAST(sum(spb) AS BIGINT) AS n_frames,
      |       CAST(sum(spb * abs(c)) AS BIGINT) AS sum_abs,
      |       CAST(sum(spb * c) AS BIGINT) AS sum_v,
      |       CAST(max(abs(c)) AS BIGINT) AS peak_abs
      |FROM blk GROUP BY doc_id ORDER BY media_id""".stripMargin

  /** q175 — JPEG-in-TIFF decode matrix (round 18): the container
    * pairing that dominates real scanned/photographed TIFFs
    * (compression 7, TTN2), riding the engine's own JPEG codec per
    * strip. Per document a BLOCK-CONSTANT grayscale canonical image is
    * synthesized (the r15 JPEG aperture: DC-only blocks under quant 8
    * are bit-exact, so a lossy codec becomes DuckDB-gradable), stored
    * under an orientation in either photometric arm — 1 (gray
    * streams) or 6 (YCbCr: gray-valued RGB keeps the color transform
    * exact at Cb=Cr=128, so the 3-channel plumbing is graded too) —
    * across strip heights and byte orders, and routed through THE
    * DISPATCH FACE. The oracle states canonical stats analytically
    * (layout-independent, the q164/q172 design): a defect in the
    * strip JPEG framing, the tables path, channel validation or the
    * orientation mapping hash-mismatches. Abbreviated JPEGTables
    * streams and JDK parity both directions are spec-pinned
    * (TiffImageSpec). */
  def q175JpegTiffDecode(s: SparkSession, dir: String): DataFrame =
    jpegTiffStatsOf(Tables.documents(s, dir))

  /** The q175 synth→encode→dispatch→faceStats kernel as a frame core
    * ((doc_id) → stats), shared with the scale probe (the
    * tiffStatsOf/ccittStatsOf pattern). */
  private[graft] def jpegTiffStatsOf(docs: DataFrame): DataFrame =
    decodeLane(docs) { id =>
      import graft.sources.{JpegImage, MediaCodec, TiffImage}
      val w = (8 * (1 + id % 3)).toInt; val h = (8 * (1 + id % 2)).toInt
      val canonFace = Array.tabulate(w * h) { i =>
        val c = ((id * 37 + (i % w) / 8 * 41 + (i / w) / 8 * 113) % 256).toInt
        (c << 16) | (c << 8) | c
      }
      val o = (1 + id % 8).toInt
      val (sw, sh, stored) = JpegImage.exifStore(o, w, h, canonFace)
      // round-19 axis: a slice stores TILED (the dominant
      // aerial/medical JPEG-TIFF layout) — id/7 decouples it from the
      // size (id%3, id%2), photometric (id%2), strip (id/3) and byte
      // order (id/5) knobs, so tiles meet every other axis value
      val tiledPage = (id / 7) % 4 == 3
      val bytes = TiffImage.encodePages(Seq(TiffImage.Page(sw, sh, stored,
        photometric = if (id % 2 == 0) 1 else 6, compression = 7,
        rowsPerStrip =
          if (tiledPage) 0 else Array(8, 16, 0)(((id / 3) % 3).toInt),
        tileSize = if (tiledPage) 16 else 0,
        orientation = o)),
        bigEndian = (id / 5) % 2 == 0)
      val dec = MediaCodec.decodeImage(bytes)
      require(dec.container == "tiff", s"sniffed ${dec.container}")
      require(dec.width == w && dec.height == h, "canonical dims")
      var j = 0
      while (j < w * h) {
        require((dec.pixels(j) & 0xffffff) == canonFace(j), s"pixel $j")
        j += 1
      }
      faceStats(dec.width, dec.height, dec.pixels)
    }

  val q175Oracle: String = faceStatsSql(
    s"""d AS (SELECT doc_id, 8 * (1 + doc_id % 3) AS w,
      |                  8 * (1 + doc_id % 2) AS h FROM documents),
      |gray AS (SELECT d.doc_id, d.w, d.h, x, y,
      |         (d.doc_id * 37 + (x // 8) * 41 + (y // 8) * 113) % 256 AS c
      |       FROM d,
      |         LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) xs,
      |         LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) ys),
      |$grayPx""")

  /** Encoding knobs for variant `v`, page `p` of a q176 fixture PDF
    * (canonBit = canon parity): (filter arm per
    * [[graft.sources.PdfImages.PageEnc]], filter written as
    * array-singleton, BlackIs1+/Decode[1 0] convention). Exposed for
    * the fixture-coverage spec (the q171 lesson: knob derivations
    * coupled through a shared residue can silently kill an arm).
    * Round 19 widened the rotation to ALL 14 ARMS: v·4+p walks 0..15
    * over the (v 0..3, p 0..3) grid, covering every arm mod 14. With
    * only ~1 grid cell per CCITT arm, the BlackIs1 axis now draws on
    * the CANON bit so each arm still meets both values across
    * documents. */
  private[graft] def q176PageKnobs(v: Int, p: Int,
      canonBit: Boolean): (Int, Boolean, Boolean, Int) =
    // the arm walk covers all TWENTY-FIVE filter arms (round 20:
    // JBIG2 symbol/text, JBIG2 MMR, JBIG2 refinement, TIFF/PNG-
    // predictor Flate, inline BI/ID/EI, 4:2:2 DCT, LZW, RunLength,
    // and the ASCII85+Flate / ASCIIHex+CCITT chains joined): v*4+p
    // spans 0..15, and the canon bit's +16 shift reaches 16..24 while
    // keeping both BlackIs1 values on every CCITT arm (4,5,6 pair
    // with 13,14,15 — same (v+p)%3 parity, opposite canon bit)
    (((v * 4 + p + (if (canonBit) 16 else 0)) % 25), (v + p) % 2 == 0,
      canonBit ^ ((v + p) % 3 == 0),
      // the /Rotate axis (round 19): a sideways-stored page with the
      // compensating page rotation must normalize back to the upright
      // hash — v+2p decouples it from the arm walk
      Seq(0, 90, 180, 270)((v + 2 * p) % 4))

  /** q176 fixture: doc_id = canon·4 + v — four PDF "re-scans" of the
    * same canonical multi-page document. Canonical page content is
    * BILEVEL BLOCK-CONSTANT (8×8 cells, each all-0 or all-255 gray):
    * legal for every filter arm at once — bilevel for CCITT/1-bit,
    * block-constant for the exact DCT aperture (r15: DC-only blocks
    * under quant 8 round-trip bit-exactly), trivially exact for
    * raw/Flate/RGB-of-gray — so all eight arms decode to IDENTICAL
    * pixels and the analytic oracle can claim exact page-set equality.
    * Pages are ≥64×64 with cell size 8 so the aHash 8×8 sampling grid
    * lands on 64 DISTINCT cells (the q166 entropy-collapse lesson:
    * smaller pages would alias grid points into the same cell and
    * collapse the hash space). Geometry and content derive from
    * (canon, page) only; the filter arm, array-form and BlackIs1 axes
    * from (v, page) — pure container variation. */
  private[graft] def q176PdfHashes(id: Long): Array[Long] = {
    import graft.sources.PdfImages
    val canon = id / 4
    val v = (id % 4).toInt
    val np = (2 + canon % 3).toInt
    val pages = (0 until np).map { p =>
      val w = 64 + 8 * math.floorMod(splitmix64(canon * 419 + p * 23), 3).toInt
      val h = 64 + 8 * math.floorMod(splitmix64(canon * 541 + p * 31), 2).toInt
      val cols = w / 8
      val px = Array.tabulate(w * h) { i =>
        val cell = (i % w) / 8 + ((i / w) / 8) * cols
        val c =
          if ((splitmix64(canon * 7919 + p * 101 + cell) & 1) == 0) 0 else 255
        (c << 16) | (c << 8) | c
      }
      val (arm, asArr, b1, rot) = q176PageKnobs(v, p, canon % 2 == 0)
      PdfImages.PageEnc(w, h, px, arm, filterAsArray = asArr,
        blackIs1 = b1, rotate = rot)
    }
    // the ObjStm axis (round 20): a slice of the corpus packs its
    // auxiliary colorspace objects into a PDF 1.5 object stream — a
    // pure container knob, zero oracle edits
    PdfImages.extract(PdfImages.encodePdf(pages,
      objStm = (canon + v) % 3 == 0))
      .map(img => uprightAhash64(img.width, img.height, img.pixels))
      .toArray
  }

  /** q176 — SCANNED-PDF embedded-image near-dup (round 19): the
    * reference's OWN corpus shape end-to-end — its 51 label PDFs are
    * re-scanned pages whose content travels as image XObjects
    * (epa_ingestion.py:763-764's PARSE_DOCUMENT LAYOUT mode covers
    * such image-bearing pages; [[graft.sources.PdfText]] already owns
    * their text). This lane gives the IMAGE payloads a dedup path:
    * [[graft.sources.PdfImages.extract]] walks the object structure
    * for /Subtype /Image streams, decodes DCTDecode through the house
    * [[graft.sources.JpegImage]], CCITTFaxDecode through
    * [[graft.sources.CcittCodec]] and FlateDecode/raw rasters through
    * java.util.zip — then per-page upright aHash → full-hash buckets
    * through the shared capped band equi-join (never all pairs) →
    * page-set Jaccard, the exact q171 kernel. The oracle is analytic
    * (the q166/q171 move): every filter arm decodes to identical
    * pixels by construction, so surviving pairs are EXACTLY the
    * intra-canon pairs at sim 1.0 with n_common = the document's page
    * count — a defect in the object walk, any filter arm (CCITT K
    * mapping, BlackIs1/Decode, 1-bit row padding, the DCT aperture),
    * the /Length framing, hashing, banding or the join surfaces as a
    * missing/extra/dented pair.
    *
    * Scale shape: encode+extract+hash task-local per doc (PDF bytes
    * never shuffle — only (doc_id, 8-byte hash) per page); candidates
    * from the bucketed band join with the stop-bucket cap; the Jaccard
    * join is candidate-pair × page sized. Incremental twin:
    * [[graft.streaming.PdfIndexStream]]. */
  def q176ScannedPdfNearDup(s: SparkSession, dir: String): DataFrame =
    frameSetNearDupOf(Tables.documents(s, dir), q176PdfHashes)

  /** Encoding knobs for variant `v` of canon `c` in the q177 fixture:
    * (codec family 0=PCM16 1=mu-law 2=A-law 3=IMA-ADPCM 4=MS-ADPCM,
    * sample rate). The family rotates with the canon so all five
    * appear across any 5 consecutive canons while every canon's four
    * variants span four DIFFERENT families; the rate is a pure
    * container axis (the hash reads samples only). Exposed for the
    * fixture-coverage spec (the q171/q164 knob-drift lesson). */
  private[graft] def q177Knobs(v: Int, canon: Long): (Int, Int) =
    (((v + canon) % 5).toInt, 8000 + 4000 * v)

  /** q177 fixture: doc_id = canon·4 + v — four WAV re-encodes of the
    * same canonical audio across FIVE codec families. The canonical
    * signal is a run-constant aperture engineered to be EXACT in every
    * family at once: constant runs of 18 samples whose values come
    * from the 16-value INTERSECTION of the mu-law and A-law expansion
    * sets (odd multiples of 8, |v| <= 120 — computed from G.711's
    * chord tables: mu-law's e=0 chord gives multiples of 8, A-law's
    * seg-0 gives odd multiples of 16 shifted by 8, and they meet only
    * there), so companding is the identity on every sample; PCM16 is
    * trivially exact; MS ADPCM blocks of 18 and IMA blocks of 9 align
    * inside the runs (18 = lcm-compatible with IMA's 8k+1 block shape:
    * two 9-sample blocks per run), where constant blocks reproduce
    * exactly (the q173/q174 apertures). The hash core REQUIREs decoded
    * == canonical, so any aperture defect is loud, then hashes each
    * 1152-sample window (64 runs) with a splitmix fold. */
  private[graft] def q177AudioHashes(id: Long): Array[Long] = {
    import graft.sources.WavAudio
    val canon = id / 4
    val v = (id % 4).toInt
    val nf = (2 + canon % 3).toInt
    val Run = 18; val Runs = 64
    val win = Run * Runs
    val samples = Array.tabulate(nf * win) { i =>
      val b = (splitmix64(canon * 6007 + (i / Run) * 131) & 15).toInt
      val mag = (b & 7) * 16 + 8 // 8, 24, ..., 120
      if ((b & 8) != 0) -mag else mag
    }
    val (family, rate) = q177Knobs(v, canon)
    val bytes = family match {
      case 0 => WavAudio.encodePcm16Mono(rate, samples)
      case 1 => WavAudio.encodeG711Mono(7, rate,
        samples.map(WavAudio.ulawCompress))
      case 2 => WavAudio.encodeG711Mono(6, rate,
        samples.map(WavAudio.alawCompress))
      case 3 => WavAudio.encodeImaAdpcmMono(rate, samples, 9)._1
      case _ => WavAudio.encodeMsAdpcmMono(rate, samples, 18)._1
    }
    val w = WavAudio.parse(bytes)
    require(w.channels == 1 && w.samples.length == samples.length,
      s"decoded shape ${w.channels}x${w.samples.length}")
    var i = 0
    while (i < samples.length) {
      // the aperture claim, graded sample-by-sample: every family must
      // reproduce the canonical signal EXACTLY
      require(w.samples(i) == samples(i),
        s"sample $i: decoded ${w.samples(i)} != canonical ${samples(i)} " +
          s"(family $family)")
      i += 1
    }
    Array.tabulate(nf) { f =>
      var z = 0x243F6A8885A308DL
      var j = 0
      while (j < win) {
        z = splitmix64(z * 31 + w.samples(f * win + j))
        j += 1
      }
      z
    }
  }

  /** q177 — AUDIO near-dup (round 19): the last modality without a
    * dedup lane. A re-encoded recording (same signal published as
    * PCM16, G.711 mu/A-law, IMA or MS ADPCM at different sample-rate
    * tags) is paired with every other re-encode: decode via
    * [[graft.sources.WavAudio]] → fixed 1152-sample window hashes →
    * the shared frame-set kernel (full-hash buckets through the capped
    * band join, window-set Jaccard) — the fourth lane on that ONE
    * kernel after GIF animations (q166), TIFF documents (q171) and
    * PDFs (q176). The oracle is analytic (q171's verbatim): the
    * run-constant intersection aperture makes all five families decode
    * to identical samples, so surviving pairs are exactly the
    * intra-canon pairs at sim 1.0 with n_common = the window count.
    *
    * Scale shape: decode+hash task-local per doc (audio bytes never
    * shuffle — only (doc_id, 8-byte hash) per window); candidates from
    * the bucketed band join; Jaccard candidate-pair × window sized.
    * Incremental twin: [[graft.streaming.PcmIndexStream]]. */
  def q177AudioNearDup(s: SparkSession, dir: String): DataFrame =
    frameSetNearDupOf(Tables.documents(s, dir), q177AudioHashes)

  /** q178 — PDF QUARANTINE (round 19): q176's quarantine twin, the
    * house pattern every media lane carries (q144 PNG / q149 GIF /
    * q152 JPEG / q154 WAV / q168 TIFF). Each fixture document is a
    * TWO-page PDF whose second page is surgically broken into one of
    * six named reject classes — a JBIG2 intermediate-region segment
    * (round 20: symbol/text/refinement/halftone all decode now, so
    * the class retargeted twice), an unsupported filter (/JPXDecode),
    * a geometry lie, a zeroed Flate payload, an unknown colorspace,
    * an unsupported INLINE-image filter (round 20) — while the FIRST
    * page stays decodable, so the
    * query also grades [[graft.sources.PdfImages.extractWithRejects]]'
    * per-image fault isolation: every document, including the broken
    * classes, must still contribute its good page's pixels. The
    * analytic oracle states per-class file counts and decoded-pixel
    * sums; a misclassified reason, a leaked exception, or an isolation
    * failure (the broken page hiding the good one) hash-mismatches. */
  def q178PdfQuarantine(s: SparkSession, dir: String): DataFrame =
    quarantineReport(Tables.documents(s, dir), q178Classes, "sum_pixels") {
      pdf =>
        val (imgs, rejects) = graft.sources.PdfImages.extractWithRejects(pdf)
        (Seq(imgs.map(_.pixels.length.toLong).sum), rejects.headOption)
    }

  /** A q178 PDF: the document's always-decodable Flate gray page, then
    * the page `second` builds from the same (w, h, gray pixels). */
  private def q178Pdf(id: Long)(
      second: (Int, Int, Array[Int]) => PdfImages.PageEnc): Array[Byte] = {
    val w = (8 + id % 5).toInt; val h = (6 + id % 4).toInt
    val px = Array.tabulate(w * h) { i =>
      val c = (splitmix64(id * 31 + i) & 0xff).toInt; (c << 16) | (c << 8) | c
    }
    PdfImages.encodePdf(Seq(PdfImages.PageEnc(w, h, px, 1), second(w, h, px)))
  }

  private def q178Bilevel(id: Long, w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      val c = if ((splitmix64(id * 97 + i) & 1) == 0) 0 else 255
      (c << 16) | (c << 8) | c
    }

  /** `pdf` with its text edited by `f` (PDF syntax is Latin-1). */
  private def pdfEdit(pdf: Array[Byte])(f: String => String): Array[Byte] = {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    f(new String(pdf, ISO_8859_1)).getBytes(ISO_8859_1)
  }

  private val q178Classes = {
    import graft.sources.PdfImages.PageEnc
    val page = "(8 + doc_id % 5) * (6 + doc_id % 4)"
    Seq(
      QClass("decoded", Seq(s"2 * $page"))( // clean: two decodable pages
        q178Pdf(_)((w, h, px) => PageEnc(w, h, px, 3))),
      // second page JBIG2 with its page-info segment re-typed to 4
      // (INTERMEDIATE text region — out of scope; round 20 lifted
      // symbol/text/refinement/halftone segments INTO scope, so the
      // quarantine class retargets onto the intermediate-region tier,
      // which needs retained auxiliary buffers no PDF stream uses)
      QClass("foreign_segment", Seq(page), "segment type") { id =>
        val b = q178Pdf(id)((w, h, _) =>
          PageEnc(w, h, q178Bilevel(id, w, h), 12))
        // the embedded stream opens with segment 0 / type 48 / page 1 /
        // length 19 — an 11-byte signature
        val at =
          b.indexOfSlice(Array[Byte](0, 0, 0, 0, 48, 0, 1, 0, 0, 0, 19))
        require(at > 0, "fixture: JBIG2 page-info signature not found")
        b(at + 4) = 4
        b
      },
      // unsupported filter on the second page (round 20: LZW decodes
      // now, so the class retargets onto JPEG2000)
      QClass("unsupported_filter", Seq(page), "unsupported image filter")(
        id => pdfEdit(q178Pdf(id)((w, h, px) => PageEnc(w, h, px, 1))) { s0 =>
          val at = s0.lastIndexOf("/Filter /FlateDecode")
          s0.substring(0, at) + "/Filter /JPXDecode " +
            s0.substring(at + "/Filter /FlateDecode".length)
        }),
      // geometry lie: widen the second page's /Width
      QClass("geometry_mismatch", Seq(page), "raster payload") { id =>
        val w2 = (8 + id % 5).toInt + 2
        pdfEdit(q178Pdf(id)((_, h, _) =>
          PageEnc(w2, h, Array.fill(w2 * h)(0x808080), 1)))(
          _.replace(s"/Width $w2", s"/Width ${w2 + 1}"))
      },
      // zeroed Flate payload on the second page
      QClass("bad_flate", Seq(page), "Flate") { id =>
        val (w, h) = ((8 + id % 5).toInt, (6 + id % 4).toInt)
        val broken = PageEnc(w, h, q178Bilevel(id, w, h), 1)
        val b = q178Pdf(id)((_, _, _) => broken)
        val payload = PdfImages.pagePayloadForFixture(broken)
        val at = b.indexOfSlice(payload)
        require(at > 0, "fixture: broken payload not found")
        java.util.Arrays.fill(b, at, at + payload.length, 0.toByte)
        b
      },
      // unknown colorspace on the second (RGB) page
      QClass("bad_colorspace", Seq(page), "colorspace")(id =>
        pdfEdit(q178Pdf(id)((w, h, px) => PageEnc(w, h, px, 7)))(
          _.replace("/DeviceRGB", "/DeviceNNN"))),
      // unsupported INLINE filter (round 20): the second page's BI/ID/EI
      // frame claims inline DCT — a named reject through the inline
      // walk, and the XObject page must survive
      QClass("inline_filter", Seq(page), "inline image filter")(id =>
        pdfEdit(q178Pdf(id)((w, h, px) => PageEnc(w, h, px, 18)))(
          _.replace("/F /Fl ID", "/F /DCT ID"))))
  }

  val q178Oracle: String = quarantineSql(q178Classes, "sum_pixels")

  /** q179 fixture: doc_id = canon·4 + v — the SAME canonical multi-page
    * document re-published in TWO CONTAINERS: v ∈ {0, 2} as multi-page
    * TIFF (CCITT/packed arms over the chain walk), v ∈ {1, 3} as PDF
    * (image XObjects and inline frames across the filter arms). Page
    * content is bilevel block-constant ≥64×64 (legal for every arm of
    * BOTH containers at once — the q176 aperture), derived from
    * (canon, page) only, so all four re-encodes decode to IDENTICAL
    * upright pages and hash equally across container boundaries. */
  private[graft] def q179Hashes(id: Long): Array[Long] = {
    import graft.sources.{JpegImage, PdfImages, TiffImage}
    val canon = id / 4
    val v = (id % 4).toInt
    val np = (2 + canon % 3).toInt
    val pages = (0 until np).map { p =>
      val w = 64 + 8 * math.floorMod(splitmix64(canon * 863 + p * 41), 3).toInt
      val h = 64 + 8 * math.floorMod(splitmix64(canon * 907 + p * 53), 2).toInt
      val cols = w / 8
      val px = Array.tabulate(w * h) { i =>
        val cell = (i % w) / 8 + ((i / w) / 8) * cols
        val c =
          if ((splitmix64(canon * 6971 + p * 127 + cell) & 1) == 0) 0 else 255
        (c << 16) | (c << 8) | c
      }
      (w, h, px)
    }
    val face: Seq[(Int, Int, Array[Int])] =
      if (v % 2 == 0) { // TIFF container
        val tpages = pages.zipWithIndex.map { case ((w, h, px), p) =>
          val o = 1 + (v + p * 3) % 8
          val (sw, sh, stored) = JpegImage.exifStore(o, w, h, px)
          TiffImage.Page(sw, sh, stored,
            photometric = (v / 2 + p) % 2, bits = 1,
            compression = Seq(4, 2, 3, 1, 8, 32773)((v / 2 * 3 + p) % 6),
            t4TwoD = p % 2 == 1,
            rowsPerStrip = 1 + (v + p) % 3,
            orientation = o)
        }
        TiffImage.parsePages(
          TiffImage.encodePages(tpages, bigEndian = v == 0))
          .map(t => (t.width, t.height, t.pixels))
      } else { // PDF container
        val pdfPages = pages.zipWithIndex.map { case ((w, h, px), p) =>
          PdfImages.PageEnc(w, h, px,
            Seq(2, 4, 12, 14, 3, 15, 6, 19)((v / 2 * 4 + p) % 8),
            filterAsArray = (v + p) % 2 == 0,
            rotate = Seq(0, 90, 180, 270)((v + 2 * p) % 4))
        }
        PdfImages.extract(PdfImages.encodePdf(pdfPages))
          .map(img => (img.width, img.height, img.pixels))
      }
    face.map { case (w, h, px) => uprightAhash64(w, h, px) }.toArray
  }

  /** q179 — CROSS-CONTAINER near-dup (round 20): the four frame-set
    * lanes share ONE hash convention (per-page upright aHash) but
    * never joined ACROSS containers — yet a real 100 TB corpus mixes
    * formats: the same scanned document circulates as a multi-page
    * TIFF and as a PDF. This lane pairs them: one hash frame spanning
    * both containers (the decode arm branches per document; the hash,
    * banding, and Jaccard kernels are the SHARED copies), so a
    * TIFF↔PDF re-publication lands in the same full-hash bucket and
    * survives at sim 1.0. The analytic oracle states every intra-canon
    * pair with its cross_container flag — a defect in EITHER
    * container's decode, the orientation mapping, hashing or the join
    * splits a cross pair loudly.
    *
    * Scale shape: identical to q166/q171/q176/q177 (decode task-local,
    * only (doc_id, 8-byte hash) rows shuffle, capped band join) — the
    * cross-container union costs NOTHING extra because the lanes
    * already shared the hash space; only the fixture proves it. */
  def q179CrossContainerNearDup(s: SparkSession, dir: String): DataFrame =
    frameSetNearDupOf(Tables.documents(s, dir), q179Hashes)
      .withColumn("cross_container", (col("doc_a") % 2) =!= (col("doc_b") % 2))

  val q179Oracle: String =
    """WITH d AS (SELECT doc_id, doc_id // 4 AS canon FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(2 + a.canon % 3 AS BIGINT) AS n_common,
      |       round(CAST(1 AS DOUBLE), 6) AS sim,
      |       TRUE AS same_canon,
      |       (a.doc_id % 2 != b.doc_id % 2) AS cross_container
      |FROM d a JOIN d b ON a.canon = b.canon AND a.doc_id < b.doc_id
      |ORDER BY doc_a, doc_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q37_multimodal_pipeline" -> q37MultimodalPipeline _,
    "q129_audio_decode" -> q129AudioDecode _,
    "q135_image_decode" -> q135ImageDecode _,
    "q136_image_phash_dedup" -> q136ImagePhashDedup _,
    "q138_phash_sensitivity" -> q138PhashSensitivity _,
    "q139_png_decode" -> q139PngDecode _,
    "q141_phash_png_container" -> q141PhashPngContainer _,
    "q142_png_gray_decode" -> q142PngGrayDecode _,
    "q143_png_palette_decode" -> q143PngPaletteDecode _,
    "q144_png_quarantine" -> q144PngQuarantine _,
    "q145_png_interlaced_decode" -> q145PngInterlacedDecode _,
    "q146_png_16bit_decode" -> q146Png16BitDecode _,
    "q147_gif_decode" -> q147GifDecode _,
    "q148_phash_gif_container" -> q148PhashGifContainer _,
    "q149_gif_quarantine" -> q149GifQuarantine _,
    "q150_gif_animation_report" -> q150GifAnimationReport _,
    "q151_jpeg_decode" -> q151JpegDecode _,
    "q152_jpeg_quarantine" -> q152JpegQuarantine _,
    "q153_media_dispatch" -> q153MediaDispatch _,
    "q154_wav_quarantine" -> q154WavQuarantine _,
    "q155_jpeg_progressive_decode" -> q155JpegProgressiveDecode _,
    "q156_wav_wide_decode" -> q156WavWideDecode _,
    "q157_media_dispatch_full" -> q157MediaDispatchFull _,
    "q158_png_sub8_decode" -> q158PngSub8Decode _,
    "q160_jpeg_exif_normalize" -> q160JpegExifNormalize _,
    "q161_oriented_phash_dedup" -> q161OrientedPhashDedup _,
    "q162_bmp_palette_decode" -> q162BmpPaletteDecode _,
    "q163_gif_frame_sample" -> q163GifFrameSample _,
    "q164_tiff_decode" -> q164TiffDecode _,
    "q166_animation_near_dup" -> q166AnimationNearDup _,
    "q167_oriented_dispatch_decode" -> q167OrientedDispatchDecode _,
    "q168_tiff_quarantine" -> q168TiffQuarantine _,
    "q169_g711_decode" -> q169G711Decode _,
    "q170_tiff_multipage" -> q170TiffMultiPage _,
    "q171_scanned_doc_neardup" -> q171ScannedDocNearDup _,
    "q172_ccitt_decode" -> q172CcittDecode _,
    "q173_adpcm_decode" -> q173AdpcmDecode _,
    "q174_ms_adpcm_decode" -> q174MsAdpcmDecode _,
    "q175_jpeg_tiff_decode" -> q175JpegTiffDecode _,
    "q176_scanned_pdf_neardup" -> q176ScannedPdfNearDup _,
    "q177_audio_neardup" -> q177AudioNearDup _,
    "q178_pdf_quarantine" -> q178PdfQuarantine _,
    "q179_cross_container_neardup" -> q179CrossContainerNearDup _)

  val oracle: Map[String, String] = Map(
    "q37_multimodal_pipeline" -> q37Oracle,
    "q129_audio_decode" -> q129Oracle,
    "q135_image_decode" -> q135Oracle,
    "q136_image_phash_dedup" -> q136Oracle,
    "q138_phash_sensitivity" -> q138Oracle,
    "q139_png_decode" -> q139Oracle,
    // container-independent hash (PngPhashParitySpec) — q136's oracle
    "q141_phash_png_container" -> q136Oracle,
    "q142_png_gray_decode" -> q142Oracle,
    "q143_png_palette_decode" -> q143Oracle,
    "q144_png_quarantine" -> q144Oracle,
    // q139's oracle, verbatim: the Adam7 and 16-bit containers carry
    // the same analytic face, so a layout defect hash-mismatches an
    // artifact pinned by an already-green query (the q141 move)
    "q145_png_interlaced_decode" -> q139Oracle,
    "q146_png_16bit_decode" -> q139Oracle,
    "q147_gif_decode" -> q147Oracle,
    // q136's oracle, verbatim — the GIF container must not change a hash
    "q148_phash_gif_container" -> q136Oracle,
    "q149_gif_quarantine" -> q149Oracle,
    "q150_gif_animation_report" -> q150Oracle,
    "q151_jpeg_decode" -> q151Oracle,
    "q152_jpeg_quarantine" -> q152Oracle,
    "q153_media_dispatch" -> q153Oracle,
    "q154_wav_quarantine" -> q154Oracle,
    // q151's oracle, verbatim — the progressive container carries the
    // same analytic face (the q141/q145 move)
    "q155_jpeg_progressive_decode" -> q151Oracle,
    "q156_wav_wide_decode" -> q156Oracle,
    "q157_media_dispatch_full" -> q157Oracle,
    "q158_png_sub8_decode" -> q158Oracle,
    "q160_jpeg_exif_normalize" -> q160Oracle,
    "q161_oriented_phash_dedup" -> q161Oracle,
    "q162_bmp_palette_decode" -> q162Oracle,
    "q163_gif_frame_sample" -> q163Oracle,
    "q164_tiff_decode" -> q164Oracle,
    "q166_animation_near_dup" -> q166Oracle,
    "q167_oriented_dispatch_decode" -> q167Oracle,
    "q168_tiff_quarantine" -> q168Oracle,
    "q169_g711_decode" -> q169Oracle,
    "q170_tiff_multipage" -> q170Oracle,
    "q171_scanned_doc_neardup" -> q171Oracle,
    "q172_ccitt_decode" -> q172Oracle,
    "q173_adpcm_decode" -> q173Oracle,
    "q174_ms_adpcm_decode" -> q174Oracle,
    "q175_jpeg_tiff_decode" -> q175Oracle,
    // q171's oracle, verbatim: the PDF lane's fixture shares the
    // page-count formula (2 + canon % 3) and the same analytic truth —
    // re-encodes collapse exactly, so pairs are the intra-canon pairs
    // at sim 1.0 (the q141/q145/q155 shared-oracle move)
    "q176_scanned_pdf_neardup" -> q171Oracle,
    // q171's oracle again: the audio lane shares the window-count
    // formula (2 + canon % 3) and the same analytic collapse truth
    "q177_audio_neardup" -> q171Oracle,
    "q178_pdf_quarantine" -> q178Oracle,
    "q179_cross_container_neardup" -> q179Oracle)
}
