package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incrementally-maintained IVF ANN index — the similarity family's
  * member of the incremental-index lifecycle the dedup family already
  * has (the [[BandIndex]] instances DedupIndexStream, PhashIndexStream, …):
  * as new vectors arrive they are assigned to their nearest PINNED
  * centroid's cell (Δ work: one broadcast-centroid pass over the batch,
  * never a corpus re-scan), and the ANN report probes the accumulated
  * cell index exactly like batch q44 — same assignment kernel, same
  * probe/re-rank kernel ([[Similarity.ivfAssign]] /
  * [[Similarity.ivfReport]], ONE copy each), so stream and batch can
  * never rank differently given the same centroid set.
  *
  * The IVF-specific twist vs the band indexes: LSH band keys are
  * CONTENT-DERIVED (a new doc's buckets are fixed by its text), but IVF
  * cells are derived from the CENTROID SET — which batch q44 seeds from
  * the corpus itself (every 40th vector). A growing corpus therefore
  * drifts away from its pinned seeds: newly arrived centroid-ELIGIBLE
  * vectors (vec_id % 40 == 0) that are not in the pinned set are
  * exactly the seeds the batch twin would use but this index does not —
  * the analog of a band bucket crossing the batch cap. [[mergeBatch]]
  * returns that drift count (plus cell occupancy) as the REBUILD
  * SIGNAL, WARN-logs past thresholds, and [[rebuild]] is the tested
  * operation the signal asks for: re-seed centroids from the full
  * arrived corpus, reassign every vector, swap under the same pointer
  * (negative batchId — outside the stream's id space — so the marker
  * can never alias a micro-batch). After a rebuild the index is
  * definitionally ≡ the batch twin again, and a maintainer resumed on
  * the live checkpoint merges new arrivals against the rebuilt
  * snapshot with every exactly-once guarantee intact.
  *
  * Cold-start contract: centroids pin from the FIRST batch that carries
  * any eligible vector; batches arriving before that leave their
  * vectors parked at cell −1 (never probed, never silently dropped),
  * and both the drift signal and a rebuild reclaim them.
  *
  * State tables (one [[VersionedState]] pointer — a crash leaves
  * assignments and centroids fully old or fully new, never new cells
  * over old centroids):
  *  - centroids (c_id, cv, cnrm)        — pinned seed set, 1/40 of corpus
  *  - assign    (vec_id, v, nrm, cell)  — one row per vector, LWW
  *
  * Scale shape: per trigger the work is O(batch × centroids) with the
  * centroid side broadcast under the tiny-broadcast contract
  * ([[Similarity.boundedBroadcast]]); the corpus-sized assign table is
  * only touched by the LWW anti-join and the state rewrite — never by
  * a pairwise product. At 100 TB the assign table is hash-partitioned
  * on cell, which is exactly the probe join's key. */
object IvfIndexStream {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Rebuild signal returned by [[mergeBatch]] (all −1 for an
    * already-applied batch):
    *  - `missingCentroids`: arrived centroid-eligible vectors NOT in
    *    the pinned set — each one is a seed the batch twin would use;
    *    > 0 means the maintained report can diverge from batch q44
    *    until a [[rebuild]];
    *  - `nCentroids`: pinned set size (the divergence denominator);
    *  - `maxTouchedCell`: max population among cells touched by this
    *    batch, post-commit (delta-scoped like [[BandIndex]]'s
    *    signal — only touched cells can newly cross a threshold);
    *  - `nAssigned`: total assigned rows (occupancy denominator). */
  final case class Signal(missingCentroids: Long, nCentroids: Long,
      maxTouchedCell: Long, nAssigned: Long) {
    /** fraction of the batch twin's seed set this index is missing */
    def missingFrac: Double =
      if (missingCentroids <= 0) 0.0
      else missingCentroids.toDouble / (missingCentroids + math.max(nCentroids, 0))
    def applied: Boolean = nCentroids >= 0
  }

  private def emptyCentroids(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Seq[Double], Double)].toDF("c_id", "cv", "cnrm")
  }

  /** Read current state (empty frames before the first commit). */
  def readState(spark: SparkSession, stateDir: String):
      (DataFrame, DataFrame) = {
    import spark.implicits._
    val state = new VersionedState(stateDir)
    (state.read(spark, "centroids").getOrElse(emptyCentroids(spark)),
      state.read(spark, "assign").getOrElse(
        Seq.empty[(Long, Seq[Double], Double, Long)]
          .toDF("vec_id", "v", "nrm", "cell")))
  }

  /** Normalize a raw embeddings batch to the (vec_id, v, nrm) face the
    * shared kernels consume — the same double cast and norm expression
    * as batch q44's `emb`, so cosines are bitwise identical. */
  private def vecs(batch: DataFrame): DataFrame =
    batch.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm",
        sqrt(graft.functions.VectorFunctions.dot_product(col("v"), col("v"))))

  private def seedFrom(vectors: DataFrame): DataFrame =
    vectors.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("cv"),
        col("nrm").as("cnrm"))

  /** Assign `dVecs` against the pinned centroid set; vectors arriving
    * before any centroid exists park at cell −1 (kept, never probed). */
  private def assignDelta(dVecs: DataFrame, cent: DataFrame): DataFrame = {
    if (cent.isEmpty)
      dVecs.select(col("vec_id"), col("v"), col("nrm"),
        lit(-1L).as("cell"))
    else {
      val bCent = Similarity.boundedBroadcast(cent, "ivf index centroid")
      Similarity.ivfAssign(dVecs, bCent)
    }
  }

  /** Merge one micro-batch of new vectors: pin centroids on first
    * eligible arrival, Δ-assign against the pinned set, LWW-replace
    * re-arriving vec_ids, commit both tables under one pointer, and
    * return the drift/occupancy rebuild signal. Idempotent per batchId. */
  def mergeBatch(batch: DataFrame, stateDir: String, batchId: Long): Signal = {
    val state = new VersionedState(stateDir)
    if (state.isApplied(batchId)) {
      state.mark(batchId); return Signal(-1L, -1L, -1L, -1L)
    }
    val spark = batch.sparkSession
    val (cent0, assign0) = readState(spark, stateDir)
    val dVecs = vecs(batch.dropDuplicates("vec_id")).cache()
    try {
      // centroids PIN on the first batch carrying any eligible vector;
      // afterwards they never move (that is what makes the incremental
      // assignment deterministic) — drift is surfaced, not absorbed
      val cent = if (cent0.isEmpty) seedFrom(dVecs) else cent0
      val dAssign = assignDelta(dVecs, cent)
      val dIds = dVecs.select(col("vec_id"))
      val allAssign = dAssign.unionByName(
        assign0.join(dIds, Seq("vec_id"), "left_anti"))
      state.commit(Seq("centroids" -> cent, "assign" -> allAssign), batchId)

      // signal from the WRITTEN state: drift (eligible-but-unpinned
      // vectors — a 1/40 filter + broadcast anti-join, no shuffle) and
      // delta-scoped occupancy (only cells this batch touched)
      val wCent = state.read(spark, "centroids").get
      val wAssign = state.read(spark, "assign").get
      // the centroid side goes through the SAME size-guarded broadcast
      // as every other centroid use in this file — a raw broadcast here
      // would bypass the tiny-broadcast contract the scaladoc claims
      // (advisor find, r15)
      val missing = wAssign.filter(col("vec_id") % 40 === 0)
        .join(Similarity.boundedBroadcast(
            wCent.select(col("c_id").as("vec_id")), "ivf drift centroid"),
          Seq("vec_id"), "left_anti")
        .count()
      val nCent = wCent.count()
      val nAssigned = wAssign.count()
      val maxTouched = {
        // touched cells re-derived from the WRITTEN state via the batch
        // ids (dVecs lineage only — dAssign's lineage reads the
        // PRE-COMMIT centroid version, which commit() just GC'd)
        val touched = wAssign
          .join(broadcast(dVecs.select(col("vec_id"))), Seq("vec_id"),
            "left_semi")
          .select(col("cell")).distinct()
        val r = wAssign.join(broadcast(touched), Seq("cell"), "left_semi")
          .filter(col("cell") >= 0)
          .groupBy(col("cell")).count()
          .agg(max(col("count"))).first()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      state.mark(batchId)
      val sig = Signal(missing, nCent, maxTouched, nAssigned)
      if (sig.missingFrac > 0.25) log.warn(
        s"ivf index '$stateDir': ${sig.missingCentroids} centroid-eligible " +
          s"vectors are not in the ${sig.nCentroids}-seed pinned set " +
          f"(${sig.missingFrac * 100}%.0f%% of the batch twin's seeds) — " +
          "the maintained report can diverge from batch q44; schedule a rebuild")
      val meanCell =
        if (nCent > 0) nAssigned.toDouble / nCent else 0.0
      if (meanCell > 0 && maxTouched > 8 * meanCell) log.warn(
        s"ivf index '$stateDir': cell population $maxTouched exceeds " +
          f"8x the mean $meanCell%.1f — probe cost in that cell is " +
          "degenerate; schedule a rebuild")
      sig
    } finally dVecs.unpersist(blocking = false)
  }

  /** The batch REBUILD the signal asks for: re-seed centroids from the
    * FULL arrived corpus (the assign table's own vectors — exactly
    * batch q44's every-40th rule), reassign everything, swap both
    * tables under the same pointer the incremental merges use.
    * `batchId` must be negative (outside the stream's id space) —
    * ENFORCED: a non-negative id would mark a future stream batch as
    * applied and silently drop it. The committed `_batch` record keeps
    * the MAX stream batchId seen so far (not the rebuild's negative
    * id), so the `appliedBatch >= batchId` crash-window backstop for
    * already-committed stream batches survives the rebuild; the
    * rebuild's own idempotency marker is its `mark` file (advisor
    * find, r15). */
  def rebuild(spark: SparkSession, stateDir: String, batchId: Long): Unit = {
    require(batchId < 0,
      s"rebuild batchId $batchId must be negative (outside the stream id space)")
    val state = new VersionedState(stateDir)
    val preservedBatch = math.max(state.appliedBatch.getOrElse(-1L), batchId)
    val (_, assign0) = readState(spark, stateDir)
    val vectors = assign0.select(col("vec_id"), col("v"), col("nrm"))
    val cent = seedFrom(vectors)
    val reassigned = assignDelta(vectors, cent)
    state.commit(Seq("centroids" -> cent, "assign" -> reassigned),
      preservedBatch)
    state.mark(batchId)
  }

  /** The maintained ANN report — batch q44's probe/re-rank kernel over
    * the accumulated assignment state (parked cell −1 rows excluded:
    * they are unindexed, which the drift signal already reports). */
  def report(spark: SparkSession, stateDir: String): DataFrame = {
    val (cent, assign) = readState(spark, stateDir)
    Similarity.ivfReport(assign.filter(col("cell") >= 0),
      Similarity.boundedBroadcast(cent, "ivf report centroid"))
  }

  /** Maintain the index over an embeddings stream; stable checkpoint
    * under stateDir so repeated invocations resume, not replay. */
  def maintain(spark: SparkSession, inDir: String, stateDir: String):
      StreamingQuery =
    FileStream.maintain(spark, FileStream.Embeddings, inDir, stateDir)(mergeBatch)
}
