package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incrementally-maintained transition model — q130's streaming twin,
  * and the family's first maintainer whose Δ-work needs CROSS-BATCH
  * STITCHING: a user's adjacency pairs span trigger boundaries (their
  * last event of batch k is adjacent to their first event of batch
  * k+1), so per-trigger work is intra-batch pairs PLUS one boundary
  * pair per active user, and the state carries each user's LAST event
  * alongside the additive (from, to) count table (types²-bounded —
  * the additive class meeting CapStream's bounded-state property; the
  * last-event margin is users-sized, the price of stitching).
  *
  * Ordering contract, ENFORCED not assumed: q130's adjacency is
  * (ts, event_id) order, so batches must arrive time-monotonically —
  * every batch's earliest (ts, event_id) must be ≥ the state's latest.
  * A violating batch throws IllegalStateException BEFORE any state
  * write (an event log is append-only by nature; an out-of-order
  * replay would silently count adjacencies that never happened — the
  * one corruption a loud error must prevent; recovery is a rebuild
  * from batch q130, the DedupIndexStream escape hatch).
  *
  * Report face: counts → row-conditional probabilities, EXACTLY q130's
  * projection (MarkovStreamSpec pins stream ≡ batch across 3 sharded
  * replays, boundary pairs included).
  */
object MarkovStream {

  def readState(spark: SparkSession, stateDir: String):
      (DataFrame, DataFrame) = {
    import spark.implicits._
    val state = new VersionedState(stateDir)
    (state.read(spark, "counts")
      .getOrElse(Seq.empty[(String, String, Long)]
        .toDF("from_type", "to_type", "n")),
      state.read(spark, "last")
        .getOrElse(Seq.empty[(Long, java.sql.Timestamp, Long, String)]
          .toDF("user_id", "ts", "event_id", "event_type")))
  }

  /** Current transition matrix — q130's columns over accumulated
    * counts. */
  def report(spark: SparkSession, stateDir: String): DataFrame = {
    val (counts, _) = readState(spark, stateDir)
    val rowTot = counts.groupBy(col("from_type"))
      .agg(sum(col("n")).as("row_n"))
    counts.join(rowTot, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n") / col("row_n").cast("double"), 6).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  def mergeBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit = {
    val state = new VersionedState(stateDir)
    if (state.isApplied(batchId)) { state.mark(batchId); return }
    val spark = batch.sparkSession
    val (counts0, last0raw) = readState(spark, stateDir)
    // cached like ev: the state parquet feeds THREE consumers per
    // trigger (ordering guard, boundary join, last1 merge) — uncached
    // that was three scans of the state table on the hot path
    // (advisor r12 find)
    val last0 = last0raw.cache()
    val ev = batch.select(col("user_id"), col("ts"), col("event_id"),
      col("event_type")).cache()
    try {
      // ---- ordering guard: batch must start at-or-after state's end.
      // Both bounded scalars ride ONE action (a cross of two 1-row
      // aggregates) instead of two blocking driver jobs per trigger
      val guard = last0.agg(max(struct(col("ts"), col("event_id")))
          .as("sm"))
        .crossJoin(ev.agg(min(struct(col("ts"), col("event_id")))
          .as("bm")))
        .head()
      val stateMax = guard.getStruct(0)
      val batchMin = guard.getStruct(1)
      if (stateMax != null && batchMin != null) {
        val sTs = stateMax.getTimestamp(0); val sId = stateMax.getLong(1)
        val bTs = batchMin.getTimestamp(0); val bId = batchMin.getLong(1)
        // STRICT inequality on the id (review find): event_ids are
        // unique, so equality means the state's last already-counted
        // event is being re-delivered — folding it would emit a
        // self-transition that never happened
        val ok = bTs.after(sTs) ||
          (bTs.equals(sTs) && bId > sId)
        if (!ok) throw new IllegalStateException(
          s"out-of-order batch $batchId: starts ($bTs, $bId) before " +
            s"state end ($sTs, $sId) — transition adjacency would be " +
            "corrupted; rebuild from batch q130")
      }
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      // intra-batch adjacency pairs
      val intra = ev.withColumn("next_type",
          lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .select(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
      // boundary pairs: state's last event ⋈ the batch's FIRST event
      // per user
      val firsts = ev.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("to_type"))
      val boundary = last0
        .select(col("user_id"), col("event_type").as("from_type"))
        .join(firsts, Seq("user_id"))
        .select(col("from_type"), col("to_type"))
      val counts1 = counts0.unionByName(
        intra.unionByName(boundary)
          .groupBy(col("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n")))
        .groupBy(col("from_type"), col("to_type"))
        .agg(sum(col("n")).as("n"))
      // new last-event margin: latest (ts, event_id) per user over
      // state ∪ batch — idempotent max merge
      val last1 = last0.unionByName(ev)
        .withColumn("rn", row_number().over(Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("rn") === 1).drop("rn")
      state.commit(Seq("counts" -> counts1, "last" -> last1), batchId)
    } finally {
      ev.unpersist(blocking = false)
      last0.unpersist(blocking = false)
    }
    state.mark(batchId)
  }

  def maintain(spark: SparkSession, inDir: String, stateDir: String):
      StreamingQuery =
    FileStream.maintain(spark, FileStream.Events, inDir, stateDir)(mergeBatch)
}
