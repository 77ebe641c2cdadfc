package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths}

/** The incrementally-maintained near-duplicate index — ONE lifecycle
  * (read, merge, rebuild, maintain, report) for every band index in the
  * engine. Its instances differ only in their cores: text MinHash
  * ([[DedupIndexStream]]), image aHash ([[PhashIndexStream]],
  * [[OrientedPhashIndexStream]]) and the four frame-set lanes
  * ([[AnimIndexStream]], [[DocIndexStream]], [[PdfIndexStream]],
  * [[PcmIndexStream]]). Each core is the SAME one-copy kernel its batch
  * query runs, so stream ≡ batch holds by construction, and a fix to
  * the lifecycle lands in all seven at once.
  *
  * Semantics:
  *  - Δ work: a batch's documents are hashed ONCE (intra-batch duplicate
  *    ids collapse first); the corpus is never re-hashed or re-paired;
  *  - last-writer-wins replacement: a re-arriving doc_id REPLACES its
  *    signature rows and all band rows (anti-join keeps only non-batch
  *    history) — signature and band state can never mix two versions
  *    of one document. Replacement is row-set based, so a multi-row
  *    signature (a frame set) is replaced whole;
  *  - probe: batch bands against the POST-replacement band set — each
  *    new doc meets the whole current-version history through the
  *    bucket equi-join, never a scan; per trigger the work is O(batch
  *    rows + matching buckets), where the batch query is O(corpus);
  *  - pairs are last-writer-wins too: every accumulated pair touching
  *    a batch doc_id is RETRACTED and recomputed from the new
  *    signatures via the probe, so a doc whose new content no longer
  *    collides with its old partners stops being marked their
  *    near-dup. The retained and recomputed sets are disjoint by
  *    construction (every new-pair key touches a batch doc; no
  *    retained key does), so plain union needs no re-aggregation;
  *  - all three tables commit under ONE [[VersionedState]] pointer — a
  *    crash at any instant leaves the composite fully old or fully new,
  *    never new pairs over old signatures; a per-batch marker plus the
  *    in-state batchId make a retried batch a no-op;
  *  - rebuild signal: the incremental form intentionally carries no
  *    stop-bucket cap (a bucket crossing it mid-stream would retract
  *    already-emitted pairs), so "reproduces the batch query exactly"
  *    holds only while no accumulated bucket crosses the batch cap
  *    [[graft.operators.Dedup.MaxShingleDf]]. [[mergeBatch]] therefore
  *    RETURNS the post-commit max population among this batch's touched
  *    buckets (the only ones that can newly cross) and WARN-logs past
  *    the cap; probe work in a degenerate bucket also goes quadratic, so
  *    the signal doubles as the perf tripwire. [[rebuild]] is the
  *    operation it asks for.
  *
  * @param signatures Δ-signature core: rows with distinct doc_ids →
  *        (doc_id, signature columns…), one or more rows per doc
  * @param bands      signature rows → (doc_id, band, bkey)
  * @param score      (candidate keys (doc_a, doc_b), all signature
  *                   rows) → scored pairs (doc_a, doc_b, score…)
  * @param present    the batch query's presentation face over the pairs
  * @param tables     the (signature, band, pair) state tables, each
  *                   name → DDL schema of its empty form
  */
class BandIndex(
    signatures: DataFrame => DataFrame,
    bands: DataFrame => DataFrame,
    score: (DataFrame, DataFrame) => DataFrame,
    present: DataFrame => DataFrame,
    tables: Seq[(String, String)]) {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val Seq(sigTable, bandTable, pairTable) = tables.map(_._1)

  /** Read current state (empty frames before the first commit). The
    * single pointer guarantees the three frames are one consistent
    * snapshot. */
  def readState(spark: SparkSession, stateDir: String):
      (DataFrame, DataFrame, DataFrame) = {
    // fail LOUDLY on a state dir written by the pre-composite layout
    // (per-table `<table>.current` pointer files): silently starting
    // from empty state while the stable checkpoint suppresses replay
    // would discard all accumulated history without an error
    if (Files.exists(Paths.get(s"$stateDir/$sigTable.current")) &&
        !Files.exists(Paths.get(s"$stateDir/CURRENT")))
      throw new IllegalStateException(
        s"$stateDir holds legacy per-table state; migrate or rebuild it")
    val state = new VersionedState(stateDir)
    val Seq(sigs, bandRows, pairs) = tables.map { case (name, ddl) =>
      state.read(spark, name).getOrElse(spark.createDataFrame(
        java.util.Collections.emptyList[Row](), StructType.fromDDL(ddl)))
    }
    (sigs, bandRows, pairs)
  }

  /** The batch query's presentation face over the accumulated pairs. */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    present(readState(spark, stateDir)._3)

  /** Merge one micro-batch of documents. Idempotent per batchId AND
    * under partial-crash retries (the composite commit makes a retry
    * recompute from either the fully-old or fully-new snapshot — both
    * converge).
    * @return the rebuild signal: max population among the band buckets
    *         this batch touched, post-merge (−1 for an already-applied
    *         batch); > [[graft.operators.Dedup.MaxShingleDf]] means the
    *         batch twin's stop-bucket cap would drop a bucket this
    *         index still probes — schedule a [[rebuild]]. */
  def mergeBatch(batch: DataFrame, stateDir: String, batchId: Long): Long = {
    val state = new VersionedState(stateDir)
    if (state.isApplied(batchId)) { state.mark(batchId); return -1L }
    val spark = batch.sparkSession
    val dSigs = signatures(batch.dropDuplicates("doc_id")).cache()
    try {
      val (sigs, bandRows, pairs) = readState(spark, stateDir)
      val dBands = bands(dSigs)
      val dIds = dSigs.select(col("doc_id"))
      val allSigs = dSigs.unionByName(
        sigs.join(dIds, Seq("doc_id"), "left_anti"))
      val allBands = dBands.unionByName(
        bandRows.join(dIds, Seq("doc_id"), "left_anti"))
      val candKeys = dBands.as("x")
        .join(allBands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") =!= col("y.doc_id"))
        .select(
          least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
        .distinct()
      val newPairs = score(candKeys, allSigs)
      val retained = pairs
        .join(dIds.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"),
          "left_anti")
        .join(dIds.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"),
          "left_anti")
        .select(newPairs.columns.toSeq.map(col): _*)
      state.commit(Seq(sigTable -> allSigs, bandTable -> allBands,
        pairTable -> retained.unionByName(newPairs)), batchId)
      // rebuild signal — computed from the WRITTEN band table (rather
      // than the pre-commit lineage, which would recompute the whole
      // anti-join) restricted to the buckets this batch touched: the
      // semi-join filters scan-side against the broadcast delta keys, so
      // the aggregation shuffles O(touched buckets), not O(index)
      val maxBucket = state.read(spark, bandTable).map { b =>
        val r = b.join(
            dBands.select(col("band"), col("bkey")).distinct(),
            Seq("band", "bkey"), "left_semi")
          .groupBy(col("band"), col("bkey")).count()
          .agg(max(col("count"))).first()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }.getOrElse(0L)
      val cap = graft.operators.Dedup.MaxShingleDf
      if (maxBucket > cap) log.warn(
        s"band index '$stateDir': max bucket population $maxBucket " +
          s"exceeds the batch stop-bucket cap $cap — the incremental " +
          "report can now diverge from its batch twin and probe work in " +
          "that bucket is quadratic; schedule a batch rebuild")
      state.mark(batchId)
      maxBucket
    } finally dSigs.unpersist(blocking = false) // released on failure too
  }

  /** The batch REBUILD the rebuild signal asks for: recompute all three
    * tables single-shot from `docs` (candidates = full band self-join,
    * a < b — the batch form of the probe) and commit them under the SAME
    * single pointer the incremental merges use. The streaming checkpoint
    * tracks consumed FILES, not state versions, so a maintainer resumed
    * after a rebuild merges new arrivals against the rebuilt snapshot
    * with every exactly-once guarantee intact.
    *
    * `batchId` must be outside the stream's id space (negative:
    * foreachBatch ids count up from 0) so the rebuild's marker can never
    * make a future micro-batch look applied — ENFORCED; the committed
    * `_batch` record keeps the MAX stream batchId seen so far, so the
    * `appliedBatch >= batchId` crash-window backstop survives. */
  def rebuild(docs: DataFrame, stateDir: String, batchId: Long): Unit = {
    require(batchId < 0,
      s"rebuild batchId $batchId must be negative (outside the stream id space)")
    val state = new VersionedState(stateDir)
    val allSigs = signatures(docs.dropDuplicates("doc_id")).cache()
    try {
      val allBands = bands(allSigs)
      val candKeys = allBands.as("x")
        .join(allBands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      state.commit(Seq(sigTable -> allSigs, bandTable -> allBands,
        pairTable -> score(candKeys, allSigs)),
        math.max(state.appliedBatch.getOrElse(-1L), batchId))
      state.mark(batchId)
    } finally allSigs.unpersist(blocking = false)
  }

  /** Maintain the index over a document stream ([[FileStream]]). */
  def maintain(spark: SparkSession, inDir: String, stateDir: String):
      StreamingQuery =
    FileStream.maintain(spark, FileStream.Documents, inDir, stateDir)(mergeBatch)
}
