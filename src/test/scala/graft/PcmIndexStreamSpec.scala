package graft

import graft.sources.Tables
import graft.streaming.PcmIndexStream

import java.nio.file.Files

/** Incremental audio near-dup index ≡ batch q177 over a sharded
  * replay: every canon's 4 re-encodes land in DIFFERENT doc_id % 3
  * residue classes, so every surviving pair is discovered by the
  * batch-vs-state bucket probe across triggers, never within one.
  * Also: resume no-op, re-arrival convergence, multi-row LWW state
  * bounds, rebuild equivalence — the
  * frame-set [[graft.streaming.BandIndex]] contract on its FOURTH
  * instantiation (anim/doc/pdf specs pin the first three; with four
  * hash cores over one kernel, a kernel defect has nowhere to
  * hide). */
class PcmIndexStreamSpec extends SparkSuite {

  import spark.implicits._

  test("3-shard replay reproduces batch q177; re-arrival and rebuild converge") {
    val docs = Tables.documents(spark, sfDir).filter($"doc_id" < 120)
    val inDir = Files.createTempDirectory("graft_pcmdup_in_").toString
    for (r <- Seq(1, 2, 0)) // arrival order must not matter
      docs.filter($"doc_id" % 3 === r).coalesce(1)
        .write.mode("append").parquet(inDir)

    val stateDir = Files.createTempDirectory("graft_pcmdup_state_").toString
    PcmIndexStream.maintain(spark, inDir, stateDir).awaitTermination()

    val batch = graft.operators.Multimodal
      .q177AudioNearDup(spark, sfDir)
      .filter($"doc_a" < 120 && $"doc_b" < 120).collect().toSeq
    val stream = PcmIndexStream.report(spark, stateDir).collect().toSeq
    assert(batch.nonEmpty && stream == batch)

    // bounded multi-row state: one window row per distinct (doc,
    // window hash), one bucket row each — 30 canons x nf x 4 variants
    val (frames, buckets, _) = PcmIndexStream.readState(spark, stateDir)
    val wantWindows = (0L until 30L)
      .map(c => 4 * (2 + c % 3)).sum
    assert(frames.count() == wantWindows)
    assert(buckets.count() == wantWindows)

    // resume with no new files: nothing replays
    PcmIndexStream.maintain(spark, inDir, stateDir).awaitTermination()
    assert(PcmIndexStream.report(spark, stateDir).collect().toSeq == batch)

    // re-arrival under a fresh batchId: window SETS replace wholesale
    val redo = spark.read.parquet(inDir).filter($"doc_id" % 3 === 2)
    val signal = PcmIndexStream.mergeBatch(redo, stateDir, 431L)
    assert(signal > 0)
    assert(PcmIndexStream.report(spark, stateDir).collect().toSeq == batch)
    val (f2, b2, _) = PcmIndexStream.readState(spark, stateDir)
    assert(f2.count() == wantWindows && b2.count() == wantWindows)
    assert(PcmIndexStream.mergeBatch(redo, stateDir, 431L) == -1L)

    // single-shot rebuild under the same pointer reproduces the report
    val rbDir = Files.createTempDirectory("graft_pcmdup_rb_").toString
    PcmIndexStream.rebuild(docs, rbDir, -1L)
    assert(PcmIndexStream.report(spark, rbDir).collect().toSeq == batch)
  }
}
