package graft

import graft.operators.Dedup
import graft.streaming.{DedupIndexStream, PhashIndexStream}
import graft.sources.Tables
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Incremental near-dup index ≡ batch MinHash+LSH: replay the documents
  * fixture in 3 micro-batches; the accumulated pair table must equal
  * q28's single-shot candidates over the full corpus, and a resumed run
  * must not re-derive anything. */
class DedupIndexStreamSpec extends SparkSuite {

  test("incrementally discovered pairs equal the batch q28 candidates") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val inDir = Files.createTempDirectory("graft_didx_in_").toString
    for (r <- 0 to 2)
      docs.filter($"doc_id" % 3 === r).coalesce(1)
        .write.mode("append").parquet(inDir)

    val stateDir = Files.createTempDirectory("graft_didx_state_").toString
    DedupIndexStream.maintain(spark, inDir, stateDir).awaitTermination()

    val (sigs, bands, pairs) = DedupIndexStream.readState(spark, stateDir)
    val batch = Dedup.queries("q28_dedup_minhash_lsh")(spark, sfDir)
    assert(sigs.count() == docs.count())
    assert(bands.count() == 4 * docs.count())
    assert(pairs.count() == batch.count())
    assert(pairs.except(batch).isEmpty && batch.except(pairs).isEmpty)

    // resume: no new files → state identical, no double-derivation
    DedupIndexStream.maintain(spark, inDir, stateDir).awaitTermination()
    val (_, _, pairs2) = DedupIndexStream.readState(spark, stateDir)
    assert(pairs2.except(batch).isEmpty && batch.except(pairs2).isEmpty)

    // late arrival: a near-copy of an existing doc lands in a NEW file;
    // only the new doc is signed, and it pairs against history
    val src = docs.orderBy($"doc_id").limit(1).head()
    val newId = 1000000L
    Seq((newId, src.getString(1), src.getString(2), src.getString(3),
        src.getLong(4)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(inDir)
    DedupIndexStream.maintain(spark, inDir, stateDir).awaitTermination()
    val (sigs3, _, pairs3) = DedupIndexStream.readState(spark, stateDir)
    assert(sigs3.count() == docs.count() + 1)
    // the exact copy shares every band with its source → est_sim 1.0
    assert(pairs3.filter($"doc_b" === newId && $"est_sim" === 1.0).count() >= 1)
    // and nothing previously known changed
    assert(pairs3.filter($"doc_b" =!= newId).except(batch).isEmpty)

    // re-arrival with CHANGED text: last writer wins — the stored
    // signature/bands are the new version's, never a mix
    val changedText = src.getString(1) + " wholly new tail content words"
    Seq((newId, changedText, src.getString(2), src.getString(3),
        changedText.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(inDir)
    DedupIndexStream.maintain(spark, inDir, stateDir).awaitTermination()
    val (sigs4, bands4, pairs4) = DedupIndexStream.readState(spark, stateDir)
    assert(sigs4.count() == docs.count() + 1) // replaced, not duplicated
    assert(bands4.filter($"doc_id" === newId).count() == 4)
    val expected = Dedup.minhashWide(
        Seq((newId, changedText)).toDF("doc_id", "text"))
      .collect().head
    val stored = sigs4.filter($"doc_id" === newId)
      .select("doc_id", (0 to 7).map(k => s"mh$k"): _*).collect().head
    assert(stored == expected)

    // …and the PAIRS are last-writer-wins too: every pair touching the
    // re-signed doc must be recomputable from the STORED (current)
    // signatures — band-collision membership and est_sim alike. A stale
    // pair from the exact-copy phase (est_sim 1.0) surviving, or max()
    // preferring the old higher similarity, fails this oracle.
    val sigMap = sigs4.collect()
      .map(r => r.getLong(0) -> (0 to 7).map(k => r.getInt(k + 1)))
      .toMap
    def bandHit(a: IndexedSeq[Int], b: IndexedSeq[Int]): Boolean =
      (0 to 3).exists(k => a(2 * k) == b(2 * k) && a(2 * k + 1) == b(2 * k + 1))
    def slotFrac(a: IndexedSeq[Int], b: IndexedSeq[Int]): Double =
      (0 to 7).count(k => a(k) == b(k)) / 8.0
    val newSig = sigMap(newId)
    val expNewPairs = sigMap.iterator
      .filter { case (id, sig) => id != newId && bandHit(newSig, sig) }
      .map { case (id, sig) =>
        (math.min(id, newId), math.max(id, newId), slotFrac(newSig, sig)) }
      .toSet
    val gotNewPairs = pairs4
      .filter($"doc_a" === newId || $"doc_b" === newId)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotNewPairs == expNewPairs)
    // pairs not touching the re-signed doc are untouched
    assert(pairs4.filter($"doc_a" =!= newId && $"doc_b" =!= newId)
      .except(batch).isEmpty)
  }

  test("a state dir in the legacy per-table layout fails loudly") {
    // `<first table>.current` without the composite CURRENT pointer:
    // starting from empty state would silently drop the history the
    // stable checkpoint will never replay
    for ((index, table) <- Seq(DedupIndexStream -> "sigs",
        PhashIndexStream -> "hashes")) {
      val stateDir = Files.createTempDirectory("graft_legacy_").toString
      Files.write(java.nio.file.Paths.get(s"$stateDir/$table.current"),
        "0".getBytes)
      val e = intercept[IllegalStateException](
        index.readState(spark, stateDir))
      assert(e.getMessage.contains("legacy per-table state"))
    }
  }
}
