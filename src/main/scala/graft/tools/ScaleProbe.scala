package graft.tools

import org.apache.spark.sql.functions._

/** Empirical scaling probe: replicate the sf0.1 `documents` fixture R×
  * with per-replica-prefixed words (disjoint shingle spaces — each
  * replica keeps the fixture's internal collision structure, replicas
  * share nothing), then time the corpus-scale kernels at 1× and R× and
  * report the measured scaling ratio. A kernel whose ratio tracks R is
  * holding its advertised near-linear shape; a super-linear ratio is a
  * scale bug caught at probe cost instead of cluster cost.
  *
  * Usage: `sbt "runMain graft.tools.ScaleProbe [R]"` (default 10).
  * Writes replicas under /tmp/graft_scaleprobe_{1,R}x; prints one
  * result line per kernel.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val r = args.headOption.map(_.toInt).getOrElse(10)
    val spark = graft.Sessions.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val src = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val n = src.count()
    def buildReplicas(k: Int, out: String): Unit = {
      val reps = (0 until k).map { i =>
        src.select(($"doc_id" + lit(i.toLong * n)).as("doc_id"),
          // per-replica word prefix: shingle spaces are DISJOINT across
          // replicas, so collision structure scales linearly by design
          // and any super-linearity is the kernel's own
          concat_ws(" ", transform(split($"text", " "),
            w => concat(lit(s"r$i"), w))).as("text"),
          $"lang", $"source", $"n_chars")
      }
      reps.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    }
    val srcE = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val nE = srcE.count()
    def buildEmbReplicas(k: Int, out: String): Unit = {
      val reps = (0 until k).map { i =>
        srcE.select(($"vec_id" + lit(i.toLong * nE)).as("vec_id"),
          // deterministic per-replica perturbation: vectors stay
          // distinct (no artificial 50-deep exact-dup buckets) while
          // the bucket/cell occupancy DISTRIBUTION stays fixture-like,
          // so candidate work scales ~R by design
          transform($"embedding", (x, j) =>
            (x + cos(lit(i.toDouble) * (j.cast("double") + lit(1.0)))
              * lit(0.01f)).cast("float")).as("embedding"),
          $"label")
      }
      reps.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite")
        .parquet(s"$out/embeddings.parquet")
    }

    // ANN kernels carry 1-in-50 query / 1-in-40 centroid samples whose
    // boundedBroadcast contract caps at 4096 rows — past ~R=30 the
    // probe would abort BY DESIGN (the fence doing its job), so the
    // embeddings replicas stop at rE
    val rE = math.min(r, 20)
    val dir1 = "/tmp/graft_scaleprobe_1x"
    val dirR = s"/tmp/graft_scaleprobe_${r}x"
    val dirRE = s"/tmp/graft_scaleprobe_emb_${rE}x"
    buildReplicas(1, dir1)
    buildReplicas(r, dirR)
    buildEmbReplicas(1, dir1)
    buildEmbReplicas(rE, dirRE)

    // documents- and embeddings-only corpus-scale kernels with
    // distinct shuffle shapes (no other fixture tables involved);
    // second element = the R× directory that kernel probes against
    val kernels = Seq(
      "q26_dedup_exact" -> dirR, "q28_dedup_minhash_lsh" -> dirR,
      "q27_dedup_ngram_jaccard" -> dirR, "q53_dedup_clusters" -> dirR,
      "q110_quality_classifier" -> dirR, "q95_bpe_merges" -> dirR,
      "q75_dup_block_fraction" -> dirR, "q102_corpus_shuffle" -> dirR,
      "q114_source_novelty" -> dirR, "q101_gopher_repetition" -> dirR,
      "q98_hash_embed" -> dirR, "q100_semdedup" -> dirR,
      "q136_image_phash_dedup" -> dirR,
      "q35_sim_lsh_ann" -> dirRE, "q44_sim_ivf_ann" -> dirRE)
    // GRAFT_ONLY: comma-separated substring filter (the Bench contract)
    // so a targeted re-probe of one kernel family doesn't pay for all 14
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").toSeq)
    println(f"${"kernel"}%-26s ${"t1x(s)"}%8s ${s"tRx(s)"}%9s ratio  " +
      s"(R=$r docs, rE=$rE embeddings)")
    kernels.filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .foreach { case (name, bigDir) =>
      val fn = graft.SparkEntry.queries(name)
      def time(dir: String): Double = {
        // warm-up once, then best-of-2 (the Bench discipline)
        def once(): Double = {
          val t0 = System.nanoTime()
          graft.tools.ConfGuard.withConfSnapshot(spark) {
            fn(spark, dir).count()
          }
          val dt = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          graft.tools.Checkpoints.sweep(spark)
          dt
        }
        once(); math.min(once(), once())
      }
      val t1 = time(dir1)
      val tR = time(bigDir)
      println(f"$name%-26s $t1%8.2f $tR%9.2f ${tR / t1}%5.1fx")
    }
    spark.stop()
  }
}
