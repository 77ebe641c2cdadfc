package graft.streaming

import graft.operators.Embedding
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incrementally-maintained embedding-drift monitor — q105's streaming
  * twin, and the continuous form a production pipeline actually runs:
  * embeddings arrive in batches, and after every trigger the per-label
  * half-corpus centroid cosine is current without ever re-reading
  * history.
  *
  * The state is q105's per-(label, dim) integer sum table
  * (se/ce/so/co) — ADDITIVE, so a micro-batch merges by summation into
  * at most |labels|×64 rows however large the corpus grows; the report
  * face is the same `driftReport` projection the batch query uses, so
  * streaming ≡ batch is testable exactly (DriftStreamSpec). Like
  * CmsStream, the additive merge is not idempotent, so exactly-once
  * leans fully on [[VersionedState]] (batchId committed atomically with
  * the sums; `isApplied` catches the swap-then-crash retry window). */
object DriftStream {

  /** Current accumulated sums (empty before the first commit). */
  def readSums(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    new VersionedState(stateDir).read(spark, "sums")
      .getOrElse(Seq.empty[(Int, Int, Long, Long, Long, Long)]
        .toDF("label", "dim", "se", "ce", "so", "co"))
  }

  /** Current per-label drift report (the q105 projection over state). */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    Embedding.driftReport(readSums(spark, stateDir))

  /** Merge one micro-batch of embedding rows. Exactly-once per batchId
    * under crash-retry at any instant. */
  def mergeBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit = {
    val state = new VersionedState(stateDir)
    if (state.isApplied(batchId)) { state.mark(batchId); return }
    val spark = batch.sparkSession
    val sums = readSums(spark, stateDir)
    val merged = sums.unionByName(Embedding.driftSums(batch))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("se")).as("se"), sum(col("ce")).as("ce"),
        sum(col("so")).as("so"), sum(col("co")).as("co"))
    state.commit(Seq("sums" -> merged), batchId)
    state.mark(batchId)
  }

  /** Maintain the drift state over an embedding stream; stable
    * checkpoint under stateDir so repeated invocations resume. */
  def maintain(spark: SparkSession, inDir: String, stateDir: String):
      StreamingQuery =
    FileStream.maintain(spark, FileStream.Embeddings, inDir, stateDir)(mergeBatch)
}
