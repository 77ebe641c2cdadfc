package graft

import graft.sources.Tables
import graft.streaming.DocIndexStream

import java.nio.file.Files

/** Incremental scanned-document near-dup index ≡ batch q171 over a
  * sharded replay: every canon's 4 re-encodes land in DIFFERENT
  * doc_id % 3 residue classes (4c..4c+3 always span ≥ 3 residues), so
  * every surviving pair is discovered by the batch-vs-state bucket
  * probe across triggers, never within one. Also: resume no-op,
  * re-arrival convergence, multi-row LWW state bounds, rebuild
  * equivalence — the frame-set [[graft.streaming.BandIndex]] contract,
  * asserted on its second instantiation (AnimIndexStreamSpec pins the
  * first). */
class DocIndexStreamSpec extends SparkSuite {

  import spark.implicits._

  test("3-shard replay reproduces batch q171; re-arrival and rebuild converge") {
    val docs = Tables.documents(spark, sfDir).filter($"doc_id" < 120)
    val inDir = Files.createTempDirectory("graft_docdup_in_").toString
    for (r <- Seq(1, 2, 0)) // arrival order must not matter
      docs.filter($"doc_id" % 3 === r).coalesce(1)
        .write.mode("append").parquet(inDir)

    val stateDir = Files.createTempDirectory("graft_docdup_state_").toString
    DocIndexStream.maintain(spark, inDir, stateDir).awaitTermination()

    val batch = graft.operators.Multimodal
      .q171ScannedDocNearDup(spark, sfDir)
      .filter($"doc_a" < 120 && $"doc_b" < 120).collect().toSeq
    val stream = DocIndexStream.report(spark, stateDir).collect().toSeq
    assert(batch.nonEmpty && stream == batch)

    // bounded multi-row state: one page row per distinct (doc, page
    // hash), one bucket row each — 30 canons x np pages x 4 variants
    val (frames, buckets, _) = DocIndexStream.readState(spark, stateDir)
    val wantPages = (0L until 30L)
      .map(c => 4 * (2 + c % 3)).sum
    assert(frames.count() == wantPages)
    assert(buckets.count() == wantPages)

    // resume with no new files: nothing replays
    DocIndexStream.maintain(spark, inDir, stateDir).awaitTermination()
    assert(DocIndexStream.report(spark, stateDir).collect().toSeq == batch)

    // re-arrival under a fresh batchId: page SETS replace wholesale
    // (the multi-row LWW path) and the report converges unchanged
    val redo = spark.read.parquet(inDir).filter($"doc_id" % 3 === 2)
    val signal = DocIndexStream.mergeBatch(redo, stateDir, 411L)
    assert(signal > 0) // touched buckets hold the canon's re-encodes
    assert(DocIndexStream.report(spark, stateDir).collect().toSeq == batch)
    val (f2, b2, _) = DocIndexStream.readState(spark, stateDir)
    assert(f2.count() == wantPages && b2.count() == wantPages)
    // already-applied batchId short-circuits
    assert(DocIndexStream.mergeBatch(redo, stateDir, 411L) == -1L)

    // single-shot rebuild under the same pointer reproduces the report
    val rbDir = Files.createTempDirectory("graft_docdup_rb_").toString
    DocIndexStream.rebuild(docs, rbDir, -1L)
    assert(DocIndexStream.report(spark, rbDir).collect().toSeq == batch)
  }
}
