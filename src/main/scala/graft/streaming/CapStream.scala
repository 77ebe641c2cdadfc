package graft.streaming

import graft.operators.Embedding
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incrementally-maintained per-source admission cap — q121's streaming
  * twin, and a THIRD state-algebra class in the streaming family:
  *
  *  - additive (DriftStream/CmsStream/LmModelStream): state grows with
  *    the vocabulary, merges by +, retry safety rests on the batchId
  *    backstop;
  *  - idempotent corpus-keyed (NoveltyStream): merges by min/distinct,
  *    replay-safe by algebra, but state is corpus-sized;
  *  - **bounded** (this): the admission state is top-[[Embedding.DomainCap]]
  *    per source — O(sources × cap) rows FOREVER, independent of how
  *    many documents stream past. top-k-of-union is associative,
  *    commutative and idempotent (doc_id-keyed rows dedup before
  *    ranking), so out-of-order and re-merged batches converge; the
  *    additive totals margin keeps the batchId backstop relevant.
  *
  * Each arriving batch is scored with the SAME frame-based classifier
  * core the batch query uses ([[Embedding.classifierScoresOf]]), so
  * stream admission ≡ batch admission by construction, and the report
  * face reproduces q121's output exactly over the union of arrived
  * batches (CapStreamSpec pins stream ≡ batch, in- and out-of-order).
  *
  * Input contract: doc_ids are unique across the stream (the curation
  * funnel runs exact dedup — q26 — upstream; intra-batch duplicates
  * collapse here, cross-batch replays are stopped by the batchId
  * guard). A violated contract inflates the additive totals (the same
  * failure mode as every additive maintainer), and a cross-batch id
  * collision in the admission margin resolves to ONE deterministic
  * whole row (atomic struct-min — never a field-mixed chimera), which
  * can still displace the colliding sources' legitimate rows. Both are
  * documented rather than defended, because defending would need the
  * corpus-sized key set this class exists to avoid.
  *
  * Scale shape per trigger: one batch-sized scoring pass (map-side
  * hashing, ≤64 rows/doc shuffle), then a rank over state ∪ batch-top
  * rows partitioned by source — both sides cap-bounded — and a
  * source-sized additive rollup, committed behind [[VersionedState]]'s
  * atomic pointer.
  */
object CapStream {

  /** Read current state (empty frames before the first commit). */
  def readState(spark: SparkSession, stateDir: String):
      (DataFrame, DataFrame) = {
    import spark.implicits._
    val state = new VersionedState(stateDir)
    (state.read(spark, "totals")
      .getOrElse(Seq.empty[(String, Long, Long)]
        .toDF("source", "n_docs", "total_chars")),
      state.read(spark, "top")
        .getOrElse(Seq.empty[(String, Long, Long, Long)]
          .toDF("source", "doc_id", "score", "n_chars")))
  }

  /** Current per-source cap report — q121's columns over the
    * accumulated state. */
  def report(spark: SparkSession, stateDir: String): DataFrame = {
    val (totals, top) = readState(spark, stateDir)
    totals
      .join(top.groupBy(col("source")).agg(
        count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("kept_chars"),
        min(col("score")).as("cutoff_score")), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("kept_chars"),
        (col("total_chars") - col("kept_chars")).as("dropped_chars"),
        col("cutoff_score"))
      .orderBy(col("source"))
  }

  /** Merge one micro-batch of documents. Exactly-once per batchId; the
    * top-k margin additionally converges under re-application by
    * algebra (the totals margin does not — that's what the guard is
    * for). */
  def mergeBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit = {
    val state = new VersionedState(stateDir)
    if (state.isApplied(batchId)) { state.mark(batchId); return }
    val spark = batch.sparkSession
    val (totals0, top0) = readState(spark, stateDir)
    // intra-batch duplicate collapse: ONE atomic row per doc_id (min
    // over the whole struct — field-wise mins could stitch a chimera
    // row mixing one duplicate's text with another's n_chars; review
    // find), deterministic by lexicographic struct order. Cached:
    // scoring and the totals rollup both consume it, and commit()
    // writes each state table as its own job
    val fresh = batch.select(col("doc_id"),
        struct(col("source"), col("text"), col("n_chars")).as("r"))
      .groupBy(col("doc_id")).agg(min(col("r")).as("r"))
      .select(col("doc_id"), col("r.source"), col("r.text"),
        col("r.n_chars"))
      .cache()
    // cached: BOTH margins read this join face — the top-k rank below
    // and the totals rollup. Totals deliberately count `scored`, not
    // `fresh`: q121's report is built on the documents ⋈ scores INNER
    // join, so a doc that yields no score row (null text → the
    // tokenizer emits nothing) is absent from its n_docs/total_chars —
    // counting raw `fresh` here would inflate the stream totals over
    // the batch face for exactly those rows (advisor r12 find)
    val scored = fresh
      .join(Embedding.classifierScoresOf(fresh), Seq("doc_id"))
      .select(col("source"), col("doc_id"), col("score"), col("n_chars"))
      .cache()
    // top-k of union: state rows ∪ batch rows, dedup by doc_id (makes
    // the merge idempotent), rank per source, keep the cap
    val rk = row_number().over(Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id").asc))
    val top1 = top0.unionByName(scored)
      .select(col("doc_id"),
        struct(col("source"), col("score"), col("n_chars")).as("r"))
      // atomic per-id dedup (same struct-min rationale as `fresh`): a
      // legit re-merge unions IDENTICAL rows → idempotent; a
      // contract-violating id collision resolves to one deterministic
      // whole row rather than a cross-source chimera
      .groupBy(col("doc_id")).agg(min(col("r")).as("r"))
      .select(col("doc_id"), col("r.source"), col("r.score"),
        col("r.n_chars"))
      .withColumn("rk", rk)
      .filter(col("rk") <= Embedding.DomainCap)
      .select(col("source"), col("doc_id"), col("score"), col("n_chars"))
    val totals1 = totals0.unionByName(
      scored.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars")))
      .groupBy(col("source")).agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("total_chars")).as("total_chars"))
    try
      state.commit(Seq("totals" -> totals1, "top" -> top1), batchId)
    finally {
      scored.unpersist(blocking = false)
      fresh.unpersist(blocking = false)
    }
    state.mark(batchId)
  }

  /** Maintain the cap over a document stream; stable checkpoint under
    * stateDir so repeated invocations resume, not replay. */
  def maintain(spark: SparkSession, inDir: String, stateDir: String):
      StreamingQuery =
    FileStream.maintain(spark, FileStream.Documents, inDir, stateDir)(mergeBatch)
}
