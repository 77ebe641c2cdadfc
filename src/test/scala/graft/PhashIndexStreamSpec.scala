package graft

import graft.sources.Tables
import graft.streaming.{OrientedPhashIndexStream, PhashIndexStream}

import java.nio.file.Files

/** Incremental image near-dup index ≡ batch q136 over a sharded
  * replay (cross-shard pairs come from the band-index probe — the
  * planted identical pairs are deliberately SPLIT across shards by the
  * doc_id % 3 sharding, since pair (4b, 4b+1) never shares a residue
  * class with itself), resume no-op, and last-writer-wins re-arrival
  * convergence. */
class PhashIndexStreamSpec extends SparkSuite {

  import spark.implicits._

  test("3-shard replay reproduces batch q136; resume and re-arrival converge") {
    val docs = Tables.documents(spark, sfDir)
    val inDir = Files.createTempDirectory("graft_ph_in_").toString
    // reverse residue order: high doc_ids first — pair discovery must
    // not depend on arrival order
    for (r <- Seq(2, 1, 0))
      docs.filter($"doc_id" % 3 === r).coalesce(1)
        .write.mode("append").parquet(inDir)

    val stateDir = Files.createTempDirectory("graft_ph_state_").toString
    PhashIndexStream.maintain(spark, inDir, stateDir).awaitTermination()

    val batch = graft.operators.Multimodal
      .q136ImagePhashDedup(spark, sfDir).collect().toSeq
    val stream = PhashIndexStream.report(spark, stateDir).collect().toSeq
    assert(batch.nonEmpty)
    assert(stream == batch)
    // the equality only proves the probe if pairs actually CROSS
    // shards: every planted identical pair (4b, 4b+1) has members in
    // different residue classes mod 3 whenever 4b % 3 != (4b+1) % 3 —
    // always true — so all of them were discovered by batch-vs-state
    // probing, never within one trigger
    assert(batch.exists(r => r.getAs[Long]("hamming") == 0L))

    // bounded state: one hash row per distinct doc, 4 band rows each
    val (hashes, bands, _) = PhashIndexStream.readState(spark, stateDir)
    val n = docs.select($"doc_id").distinct().count()
    assert(hashes.count() == n)
    assert(bands.count() == 4 * n)

    // resume with no new files: nothing replays
    PhashIndexStream.maintain(spark, inDir, stateDir).awaitTermination()
    assert(PhashIndexStream.report(spark, stateDir).collect().toSeq == batch)

    // re-arrival under a FRESH batchId (both replay guards bypassed):
    // hashes derive from doc_id, so the re-arriving docs REPLACE their
    // state with identical rows and retract-then-recompute their pairs
    // — the report must converge to the same answer, and state must
    // not grow
    val redo = spark.read.parquet(inDir).filter($"doc_id" % 3 === 1)
    val signal = PhashIndexStream.mergeBatch(redo, stateDir, 97L)
    assert(PhashIndexStream.report(spark, stateDir).collect().toSeq == batch)
    val (h2, b2, _) = PhashIndexStream.readState(spark, stateDir)
    assert(h2.count() == n && b2.count() == 4 * n)

    // rebuild signal: mergeBatch returns the post-merge max population
    // among the buckets THIS batch touched (the only ones that can newly
    // cross the cap), recomputed here independently from the committed
    // band state semi-joined to the redo batch's own band keys — the
    // "reproduces batch q136" contract is monitored, not hoped
    val redoBands = graft.operators.Multimodal.phashBands(
      graft.operators.Multimodal.imageHashesOf(
        redo.select($"doc_id").dropDuplicates("doc_id")))
    val expected = b2
      .join(redoBands.select($"band", $"bkey").distinct(),
        Seq("band", "bkey"), "left_semi")
      .groupBy($"band", $"bkey").count()
      .agg(org.apache.spark.sql.functions.max($"count")).first().getLong(0)
    assert(signal == expected && signal > 0)
    // an already-applied batchId short-circuits with the -1 sentinel
    assert(PhashIndexStream.mergeBatch(redo, stateDir, 97L) == -1L)
  }

  test("oriented hash core: a rotated re-upload cannot escape the incremental index") {
    // 10 canons × 8 orientations, sharded so every canon's re-uploads
    // are SPLIT across triggers (doc_id % 3 never keeps a canon whole)
    val docs = Tables.documents(spark, sfDir).filter($"doc_id" < 80)
    val inDir = Files.createTempDirectory("graft_pho_in_").toString
    for (r <- Seq(2, 0, 1))
      docs.filter($"doc_id" % 3 === r).coalesce(1)
        .write.mode("append").parquet(inDir)
    val stateDir = Files.createTempDirectory("graft_pho_state_").toString
    OrientedPhashIndexStream.maintain(spark, inDir, stateDir)
      .awaitTermination()

    // q161-style oriented grouping over the STREAM's accumulated
    // hashes: all 8 EXIF re-uploads of a canon collapse to ONE hash
    val (hashes, _, _) = PhashIndexStream.readState(spark, stateDir)
    val grouping = hashes
      .groupBy(($"doc_id" / 8).cast("long").as("canon"))
      .agg(org.apache.spark.sql.functions
        .countDistinct($"lo", $"hi").as("n_hashes"))
      .collect()
    assert(grouping.length == 10)
    assert(grouping.forall(_.getAs[Long]("n_hashes") == 1L))

    // every intra-canon pair surfaces in the index at Hamming 0 — the
    // literal "rotated re-upload cannot escape" claim, discovered
    // across triggers by the band probe (no canon arrived whole)
    val report = PhashIndexStream.report(spark, stateDir).collect().toSeq
    val zero = report.filter(_.getAs[Long]("hamming") == 0L)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val wanted = (for {
      c <- 0L until 10L; a <- 0L until 8L; b <- (a + 1) until 8L
    } yield (c * 8 + a, c * 8 + b)).toSet
    assert(wanted.subsetOf(zero))

    // stream ≡ batch: a single-shot oriented rebuild over the same
    // docs reproduces the stream's report exactly
    val rebuiltDir = Files.createTempDirectory("graft_pho_rb_").toString
    OrientedPhashIndexStream.rebuild(docs, rebuiltDir, -1L)
    assert(PhashIndexStream.report(spark, rebuiltDir).collect().toSeq
      == report)
  }
}
