package graft

import graft.sources.Tables
import graft.streaming.PdfIndexStream

import java.nio.file.Files

/** Incremental scanned-PDF near-dup index ≡ batch q176 over a sharded
  * replay: every canon's 4 PDF re-encodes land in DIFFERENT
  * doc_id % 3 residue classes, so every surviving pair is discovered
  * by the batch-vs-state bucket probe across triggers, never within
  * one. Also: resume no-op, re-arrival convergence, multi-row LWW
  * state bounds, rebuild equivalence — the
  * frame-set [[graft.streaming.BandIndex]] contract, asserted on its THIRD
  * instantiation (AnimIndexStreamSpec and DocIndexStreamSpec pin the
  * first two; a kernel defect would have to dodge all three hash
  * cores). */
class PdfIndexStreamSpec extends SparkSuite {

  import spark.implicits._

  test("3-shard replay reproduces batch q176; re-arrival and rebuild converge") {
    val docs = Tables.documents(spark, sfDir).filter($"doc_id" < 120)
    val inDir = Files.createTempDirectory("graft_pdfdup_in_").toString
    for (r <- Seq(1, 2, 0)) // arrival order must not matter
      docs.filter($"doc_id" % 3 === r).coalesce(1)
        .write.mode("append").parquet(inDir)

    val stateDir = Files.createTempDirectory("graft_pdfdup_state_").toString
    PdfIndexStream.maintain(spark, inDir, stateDir).awaitTermination()

    val batch = graft.operators.Multimodal
      .q176ScannedPdfNearDup(spark, sfDir)
      .filter($"doc_a" < 120 && $"doc_b" < 120).collect().toSeq
    val stream = PdfIndexStream.report(spark, stateDir).collect().toSeq
    assert(batch.nonEmpty && stream == batch)

    // bounded multi-row state: one page row per distinct (doc, page
    // hash), one bucket row each — 30 canons x np pages x 4 variants
    val (frames, buckets, _) = PdfIndexStream.readState(spark, stateDir)
    val wantPages = (0L until 30L)
      .map(c => 4 * (2 + c % 3)).sum
    assert(frames.count() == wantPages)
    assert(buckets.count() == wantPages)

    // resume with no new files: nothing replays
    PdfIndexStream.maintain(spark, inDir, stateDir).awaitTermination()
    assert(PdfIndexStream.report(spark, stateDir).collect().toSeq == batch)

    // re-arrival under a fresh batchId: page SETS replace wholesale
    // (the multi-row LWW path) and the report converges unchanged
    val redo = spark.read.parquet(inDir).filter($"doc_id" % 3 === 2)
    val signal = PdfIndexStream.mergeBatch(redo, stateDir, 419L)
    assert(signal > 0) // touched buckets hold the canon's re-encodes
    assert(PdfIndexStream.report(spark, stateDir).collect().toSeq == batch)
    val (f2, b2, _) = PdfIndexStream.readState(spark, stateDir)
    assert(f2.count() == wantPages && b2.count() == wantPages)
    // already-applied batchId short-circuits
    assert(PdfIndexStream.mergeBatch(redo, stateDir, 419L) == -1L)

    // single-shot rebuild under the same pointer reproduces the report
    val rbDir = Files.createTempDirectory("graft_pdfdup_rb_").toString
    PdfIndexStream.rebuild(docs, rbDir, -1L)
    assert(PdfIndexStream.report(spark, rbDir).collect().toSeq == batch)
  }
}
