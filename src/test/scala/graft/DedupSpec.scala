package graft

import org.apache.spark.sql.DataFrame
import graft.operators.Dedup

/** The stop-shingle (document-frequency) cap in the Jaccard pair kernel —
  * the guard that keeps the in-task i<j pair expansion from going
  * quadratic on a degenerate corpus where one boilerplate shingle
  * appears in (nearly) every document. */
class DedupSpec extends SparkSuite {

  import spark.implicits._

  /** `n` docs all sharing the boilerplate 4-token prefix "B0 B1 B2 B3"
    * (shingles (B0,B1,B2) and (B1,B2,B3) with df = n) plus one unique
    * trailing token (shingle (B2,B3,u_i) with df = 1). */
  private def boilerplateCorpus(n: Int): DataFrame =
    (0 until n).map(i => (i.toLong, s"B0 B1 B2 B3 u$i"))
      .toDF("doc_id", "text")

  test("uncapped, a universal shingle fans out quadratically") {
    // 60 docs, 3 shingles each, 2 shared by all: inter=2, union=4,
    // jaccard=0.5 ≥ 0.2 → every i<j pair survives = 60·59/2.
    val pairs = Dedup.jaccardPairsFrom(boilerplateCorpus(60), par = 4,
      maxDf = Int.MaxValue)
    assert(pairs.count() == 60L * 59 / 2)
  }

  test("the df cap prunes boilerplate pairs to zero") {
    // With maxDf=16 the two df=60 shingles are stop-shingles; each doc's
    // remaining set is its single unique shingle, so the pair stage
    // provably emits nothing (not merely a post-threshold filter: the
    // quadratic expansion itself never runs on the capped groups).
    val pairs = Dedup.jaccardPairsFrom(boilerplateCorpus(60), par = 4,
      maxDf = 16)
    assert(pairs.isEmpty)
  }

  test("true near-dups via low-df shingles survive the cap") {
    // Two docs share a rare 5-token run (3 shingles of df=2) on top of
    // the universal boilerplate; the cap removes only the boilerplate,
    // and the pair still reports with jaccard over the capped sets.
    val near = Seq(
      (1000L, "B0 B1 B2 B3 R0 R1 R2 R3 R4"),
      (1001L, "B0 B1 B2 B3 R0 R1 R2 R3 R4 x"))
      .toDF("doc_id", "text")
    val corpus = boilerplateCorpus(60).unionByName(near)
    val pairs = Dedup.jaccardPairsFrom(corpus, par = 4, maxDf = 16)
      .collect()
    assert(pairs.length == 1)
    val r = pairs.head
    assert(r.getLong(0) == 1000L && r.getLong(1) == 1001L)
    // capped sets: doc 1000 keeps its 5 non-boilerplate-df shingles
    // shared run; jaccard must clear the 0.2 threshold comfortably
    assert(r.getDouble(5) >= 0.2)
  }

  test("fixture results are unchanged by the production cap") {
    // fixture max docs-per-shingle ~25 « 128: the cap is semantics-
    // neutral on real content shingles at this scale, so q27 at the
    // production MaxShingleDf equals the fully uncapped run.
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val capped = Dedup.jaccardPairsFrom(docs, par = 4)
    val uncapped = Dedup.jaccardPairsFrom(docs, par = 4,
      maxDf = Int.MaxValue)
    assert(capped.exceptAll(uncapped).isEmpty &&
      uncapped.exceptAll(capped).isEmpty)
  }

  test("q112 novelty: ownership partitions the shingle space exactly") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.q112NgramNovelty(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    // every distinct shingle has exactly ONE owner, so the novel counts
    // across deciles must sum to the corpus's distinct-shingle count —
    // an exact integer invariant of first-occurrence attribution
    val totalNovel = rows.map(_.getAs[Long]("n_novel")).sum
    val d = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(explode(expr(
        """transform(sequence(1, size(t) - 2),
          |  i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),
          |                 element_at(t, i + 2)))""".stripMargin)).as("s"))
      .agg(countDistinct(col("s"))).head().getLong(0)
    assert(totalNovel == d, s"novel sum $totalNovel != distinct shingles $d")
    // the earliest decile sees the most unseen n-grams
    val nov = rows.sortBy(_.getAs[Int]("decile"))
      .map(_.getAs[Double]("avg_novelty"))
    assert(nov.head == nov.max, s"decile 0 not the novelty peak: ${nov.toSeq}")
    nov.foreach(v => assert(v >= 0.0 && v <= 1.0))
  }

  test("q114 source novelty: owned counts partition the shingle space") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.q114SourceNovelty(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // same attribution rule as q112, rolled up by source instead of
    // arrival decile: every distinct shingle is owned exactly once, so
    // Σ owned across sources = corpus distinct-shingle count
    val totalOwned = rows.map(_.getAs[Long]("owned")).sum
    val d = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(explode(expr(
        """transform(sequence(1, size(t) - 2),
          |  i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),
          |                 element_at(t, i + 2)))""".stripMargin)).as("s"))
      .agg(countDistinct(col("s"))).head().getLong(0)
    assert(totalOwned == d, s"owned sum $totalOwned != distinct shingles $d")
    rows.foreach { r =>
      val owned = r.getAs[Long]("owned")
      val appearing = r.getAs[Long]("appearing")
      // a source can only own shingles it contains
      assert(owned <= appearing, r.toString)
      val ratio = r.getAs[Double]("novelty_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0, r.toString)
    }
  }

  test("q120 banding finds EVERY Hamming<=3 pair when no bucket is hot") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 24 synthetic docs, bucket cap cannot bind (24 < 512): the Manku
    // pigeonhole guarantee is then COMPLETENESS — the banded report
    // must equal a brute-force all-pairs histogram computed from the
    // same signatures with plain driver popcount
    val dir = java.nio.file.Files.createTempDirectory("graft_sim_").toString
    val rnd = new scala.util.Random(11)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val rows = (1 to 24).map { i =>
      val text = Seq.fill(30)(words(rnd.nextInt(words.length))).mkString(" ")
      (i.toLong, text, "en", "s0", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val sims = Dedup.simhash32(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, sa) <- sims; (b, sb) <- sims if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield h.toLong).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val report = Dedup.simhashHammingReport(Dedup.simhash32(d)).collect()
      .map(r => r.getAs[Long]("hamming") -> r.getAs[Long]("n_pairs")).toMap
    assert(report == brute, s"banded $report != brute $brute")
    assert(brute.nonEmpty, "vacuous corpus: no close pairs generated")
  }

  /** q120's kernel as it stood before the cap moved ahead of the
    * collect: every bucket is collected, then over-cap ones filtered. */
  private def simhashReportCollectFirst(sims: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val buckets = sims
      .select($"doc_id", $"sh", explode(expr("sequence(0, 3)")).as("b"))
      .withColumn("bv", expr("(sh div CAST(pow(256, b) AS BIGINT)) % 256"))
      .repartition(4, $"b", $"bv")
      .groupBy($"b", $"bv")
      .agg(sort_array(collect_list(struct($"doc_id", $"sh"))).as("ds"))
      .filter(size($"ds") > 1 && size($"ds") <= Dedup.SimhashBucketCap)
    Dedup.expandPairs(buckets, "ds", "pa", "pb")
      .select($"pa.doc_id".as("doc_a"), $"pb.doc_id".as("doc_b"),
        $"pa.sh".as("sha"), $"pb.sh".as("shb"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(sha ^ shb) AS BIGINT)"))
      .filter($"hamming" <= 3)
      .groupBy($"hamming")
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("""CAST(conv(substr(md5(concat(doc_a, ':', doc_b)), 1, 15),
                   |  16, 10) AS BIGINT) % 1000000000""".stripMargin))
          .as("pair_checksum"))
      .orderBy($"hamming")
  }

  test("q120 drops an over-cap bucket before collecting it, same report") {
    // one band-0 bucket (low byte 0) of SimhashBucketCap + 1 docs whose
    // other bands still pair them (i and i + 256 differ in one bit; the
    // top byte spreads them so band 3 stays under the cap), plus 100
    // seeded random pairs 1-3 bits apart outside that bucket
    val cap = Dedup.SimhashBucketCap
    val hot = (1L to cap + 1L).map(i => (i, (i << 8) | ((i * 37 % 256) << 24)))
    val rnd = new scala.util.Random(120)
    val cold = (0 until 100).flatMap { j =>
      val sh = (rnd.nextLong() & 0xffffff00L) | 0x55L
      val flip = (0 until 1 + rnd.nextInt(3))
        .map(_ => 1L << (8 + rnd.nextInt(24))).reduce(_ ^ _)
      Seq((10000L + 2 * j, sh), (10001L + 2 * j, sh ^ flip))
    }
    val sims = (hot ++ cold).toDF("doc_id", "sh")
    assert(sims.filter($"sh" % 256 === 0).count() == cap + 1)
    val got = Dedup.simhashHammingReport(sims).collect().toSeq
    assert(got == simhashReportCollectFirst(sims).collect().toSeq)
    assert(got.map(_.getAs[Long]("n_pairs")).sum > cap / 2,
      "vacuous fixture: the hot docs should still pair through band 1")
  }

  test("q117 overlap cells respect set algebra and recount exactly") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.q117SourceOverlap(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (inter, un) = (r.getAs[Long]("inter"), r.getAs[Long]("n_union"))
      assert(inter >= 1 && un >= inter, r.toString)
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0, r.toString)
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"), r.toString)
    }
    // recount one pair's intersection with an independent direct query
    val first = rows.head
    val (sa, sb) = (first.getAs[String]("src_a"), first.getAs[String]("src_b"))
    val d = graft.sources.Tables.documents(spark, sfDir)
    def shingleSet(src: String) = d.filter(col("source") === src)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(explode(expr(
        """transform(sequence(1, size(t) - 2),
          |  i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),
          |                 element_at(t, i + 2)))""".stripMargin)).as("s"))
      .distinct()
    val direct = shingleSet(sa).intersect(shingleSet(sb)).count()
    assert(first.getAs[Long]("inter") == direct,
      s"$sa x $sb: ${first.getAs[Long]("inter")} != $direct")
  }

  test("q126 calibration: error algebra holds and totals cover all truth") {
    val rows = Dedup.q126MinhashCalibration(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (me, mt) = (r.getAs[Double]("mean_est"), r.getAs[Double]("mean_true"))
      val (bias, mae, mx) = (r.getAs[Double]("bias"),
        r.getAs[Double]("mae"), r.getAs[Double]("max_abs_err"))
      assert(me >= 0.0 && me <= 1.0, r.toString)
      assert(mt >= 0.0 && mt <= 1.0, r.toString)
      // |E[est−true]| ≤ E|est−true| ≤ max|est−true| (up to 1e-6 rounding)
      assert(math.abs(bias) <= mae + 1e-6, r.toString)
      assert(mae <= mx + 1e-6, r.toString)
      // mean_est − mean_true IS the bias (same pairs, linearity)
      assert(math.abs((me - mt) - bias) <= 2e-6, r.toString)
      val b = r.getAs[Int]("bucket")
      // bucket boundaries really bound the bucket's mean truth
      assert(mt >= b * 0.2 - 1e-6 && mt <= (b + 1) * 0.2 + 1e-6, r.toString)
    }
    // every known-truth pair is calibrated exactly once: bucket counts
    // sum to an independent recount of the ≥0.05 exact-Jaccard pairs
    val total = rows.map(_.getAs[Long]("n_pairs")).sum
    val nTruth = Dedup.jaccardPairsFrom(
      graft.sources.Tables.documents(spark, sfDir), 4,
      minJaccard = 0.05).count()
    assert(total == nTruth, s"$total != $nTruth")
  }
}
