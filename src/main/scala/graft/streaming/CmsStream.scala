package graft.streaming

import graft.operators.Temporal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incrementally-maintained count-min sketch — the streaming member of
  * the mergeable-sketch family (q68 is its batch twin): per micro-batch
  * the batch documents' tokens build a Δ cell grid, and cells merge by
  * per-(j,bucket) SUM into the accumulated sketch. Only the fixed
  * d×w = 4096-cell grid ever re-reads or rewrites — the historical
  * token stream is never touched again, so continuous frequency
  * tracking over a growing 100 TB corpus costs O(batch tokens) per
  * trigger (TemporalSpec proves the merge identity batch-side).
  *
  * The additive merge is NOT naturally idempotent (replaying a batch
  * would double-count) and — unlike SearchIndexStream — has no per-key
  * anti-join to rescue a replay, so exactly-once leans fully on
  * [[VersionedState]]: the batchId is committed atomically WITH the
  * cells, and `isApplied` catches a retry that crashed between the
  * pointer swap and the marker write (the case a marker alone misses). */
object CmsStream {

  /** Read the current accumulated cells (empty before the first commit). */
  def readCells(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    new VersionedState(stateDir).read(spark, "cells")
      .getOrElse(Seq.empty[(Int, Long, Long)].toDF("j", "bucket", "c"))
  }

  /** Merge one micro-batch: Δ cells from the batch's tokens, summed into
    * the accumulated grid. Exactly-once per batchId under crash-retry at
    * ANY instant (marker fast path + in-state batchId backstop). */
  def mergeBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit = {
    val state = new VersionedState(stateDir)
    if (state.isApplied(batchId)) { state.mark(batchId); return }
    val spark = batch.sparkSession
    val cells = readCells(spark, stateDir)
    val delta = Temporal.cmsCells(
      batch.select(explode(split(col("text"), " ")).as("token")))
    val merged = cells.unionByName(delta)
      .groupBy(col("j"), col("bucket")).agg(sum(col("c")).as("c"))
    state.commit(Seq("cells" -> merged), batchId)
    state.mark(batchId)
  }

  /** Maintain the sketch over a document stream; stable checkpoint under
    * stateDir so repeated invocations resume, not replay. */
  def maintain(spark: SparkSession, inDir: String, stateDir: String):
      StreamingQuery =
    FileStream.maintain(spark, FileStream.Documents, inDir, stateDir)(mergeBatch)
}
