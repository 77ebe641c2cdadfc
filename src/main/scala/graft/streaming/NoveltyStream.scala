package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incrementally-maintained per-source novelty ledger — q114's
  * streaming twin: as document batches arrive, each batch is shingled
  * ONCE (Δ work, the corpus is never re-shingled) and merged into three
  * state tables whose margins reproduce the batch report exactly.
  *
  * Merge algebra (the interesting contrast to [[DriftStream]]'s
  * additive sums): every merge here is a MIN or a DISTINCT —
  *  - owners(sh64, owner): owner = min doc_id ever seen with the
  *    shingle. min is associative, commutative AND idempotent;
  *  - members(source, sh64): distinct union — idempotent;
  *  - docs(doc_id, source): first-write-wins key set — idempotent.
  * Idempotent merges mean even the swap-then-crash retry window (where
  * the additive streams must rely on the in-state batchId backstop)
  * converges to the same state if re-applied. The [[VersionedState]]
  * marker discipline is kept anyway for uniformity and to skip the
  * wasted recompute.
  *
  * Order independence: q114 attributes a shingle to its MINIMUM doc_id
  * (the fixture's generation order), not to wall-clock arrival — so the
  * accumulated state equals the batch computation over the union of all
  * batches REGARDLESS of the order batches arrive in (NoveltyStreamSpec
  * replays shards out of id order and still matches q114 exactly).
  *
  * Re-arrival semantics: a doc_id that re-arrives is IGNORED
  * (first-write-wins). Novelty attribution is by definition a
  * first-occurrence property; replacing a document's text would require
  * retracting ownership attributions that other sources' ratios already
  * depend on. Mutable corpora should rebuild from batch q114 (the
  * single-pointer versioned state makes that a drop-in swap, same as
  * DedupIndexStream's rebuild escape hatch).
  *
  * Scale shape per trigger: O(batch shingles) new work (one distinct +
  * one min-reduce over the batch, both map-combinable 8-byte keys),
  * then state-sized rewrites behind [[VersionedState]]'s atomic pointer
  * — the same state-rewrite class as DedupIndexStream; at 100 TB the
  * state tables hash-partition by sh64/source.
  */
object NoveltyStream {

  /** Read current state (empty frames before the first commit). */
  def readState(spark: SparkSession, stateDir: String):
      (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val state = new VersionedState(stateDir)
    (state.read(spark, "docs")
      .getOrElse(Seq.empty[(Long, String)].toDF("doc_id", "source")),
      state.read(spark, "members")
        .getOrElse(Seq.empty[(String, Long)].toDF("source", "sh64")),
      state.read(spark, "owners")
        .getOrElse(Seq.empty[(Long, Long)].toDF("sh64", "owner")))
  }

  /** Current per-source novelty report — the q114 projection over the
    * accumulated margins (same assembly code as the batch query). */
  def report(spark: SparkSession, stateDir: String): DataFrame = {
    val (docs, members, owners) = readState(spark, stateDir)
    Dedup.noveltyAssemble(
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs")),
      members.groupBy(col("source")).agg(count(lit(1)).as("appearing")),
      owners.join(docs, owners("owner") === docs("doc_id"))
        .groupBy(col("source")).agg(count(lit(1)).as("owned")))
  }

  /** Merge one micro-batch of documents. Exactly-once per batchId; the
    * idempotent merge algebra additionally makes even an unmarked
    * re-apply converge. */
  def mergeBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit = {
    val state = new VersionedState(stateDir)
    if (state.isApplied(batchId)) { state.mark(batchId); return }
    val spark = batch.sparkSession
    val (docs0, members0, owners0) = readState(spark, stateDir)
    // first-write-wins: intra-batch duplicates collapse (min source is
    // arbitrary-but-deterministic; fixture ids are unique), then docs
    // already in state are dropped before any shingling happens
    // cached: commit() writes the three state tables as three separate
    // jobs, and without these pins members1/owners1 would re-shingle
    // the batch and all three would re-read the docs0 state — the
    // "shingled ONCE" contract held only per-job, not per-trigger
    // (review find). Released in the finally below.
    val fresh = batch.select(col("doc_id"), col("text"), col("source"))
      .groupBy(col("doc_id"))
      .agg(min(col("source")).as("source"), min(col("text")).as("text"))
      .join(docs0.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .cache()
    val dIsh = Dedup.shingleIdsWithDup(fresh).distinct().cache()
    val docs1 = docs0.unionByName(fresh.select(col("doc_id"), col("source")))
    val members1 = members0.unionByName(
      dIsh.join(fresh.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"), col("sh64")))
      .distinct()
    val owners1 = owners0.unionByName(
      dIsh.groupBy(col("sh64")).agg(min(col("doc_id")).as("owner")))
      .groupBy(col("sh64")).agg(min(col("owner")).as("owner"))
    try
      state.commit(Seq("docs" -> docs1, "members" -> members1,
        "owners" -> owners1), batchId)
    finally {
      dIsh.unpersist(blocking = false)
      fresh.unpersist(blocking = false)
    }
    state.mark(batchId)
  }

  /** Maintain the ledger over a document stream; stable checkpoint
    * under stateDir so repeated invocations resume, not replay. */
  def maintain(spark: SparkSession, inDir: String, stateDir: String):
      StreamingQuery =
    FileStream.maintain(spark, FileStream.Documents, inDir, stateDir)(mergeBatch)
}
