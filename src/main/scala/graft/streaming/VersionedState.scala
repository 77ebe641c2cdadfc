package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

/** Composite versioned state behind ONE atomically-replaced CURRENT
  * pointer — the shared exactly-once machinery of the incremental
  * maintainers (search index, near-dup index, CMS). Previously three
  * verbatim copies; one implementation means the crash-window semantics
  * are fixed in one place.
  *
  * Guarantees:
  *  - `commit` writes every table of version N+1, records the batchId
  *    that produced it INSIDE the version directory, then swaps the
  *    pointer: a reader sees fully-old or fully-new state, never a mix.
  *  - `appliedBatch` exposes that in-state batchId, which closes the
  *    crash window BETWEEN the pointer swap and the caller's own
  *    applied-batch marker: a replayed batch whose id is already in the
  *    current state must be a post-swap retry, so the caller skips the
  *    merge instead of double-applying it. (Key-replacing merges are
  *    idempotent anyway; ADDITIVE merges — df counts, CMS cells — are
  *    only exactly-once because of this.)
  *  - superseded versions are deleted only after the swap, and the new
  *    tables are WRITTEN (evaluating any lazy reads of the old version)
  *    before it — no lazy-read-after-delete.
  */
final class VersionedState(stateDir: String) {

  private def currentPointer: Path = Paths.get(s"$stateDir/CURRENT")

  def readVersion: Option[Long] = {
    if (Files.exists(currentPointer))
      Some(new String(Files.readAllBytes(currentPointer),
        StandardCharsets.UTF_8).trim.toLong)
    else None
  }

  /** Read one state table of the current version, if any commit exists. */
  def read(spark: SparkSession, table: String): Option[DataFrame] =
    readVersion.map(v =>
      graft.sources.Tables.parquet(spark, s"$stateDir/v__$v/$table"))

  /** The batchId recorded with the current version (None before the
    * first commit or for versions written by pre-batch-id code). */
  def appliedBatch: Option[Long] = readVersion.flatMap { v =>
    val p = Paths.get(s"$stateDir/v__$v/_batch")
    if (Files.exists(p))
      Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong)
    else None
  }

  /** Write all tables as version N+1 (+ the producing batchId), then
    * atomically repoint CURRENT — one swap commits the composite. */
  def commit(tables: Seq[(String, DataFrame)], batchId: Long): Unit = {
    val next = readVersion.map(_ + 1).getOrElse(0L)
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite")
        .parquet(s"$stateDir/v__$next/$name")
    }
    Files.write(Paths.get(s"$stateDir/v__$next/_batch"),
      batchId.toString.getBytes(StandardCharsets.UTF_8))
    val tmp = Paths.get(s"$stateDir/CURRENT.tmp$next")
    Files.write(tmp, next.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, currentPointer, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    // best-effort GC after the swap: EVERY v__M below the committed
    // version (not just next-1 — a crash between a past swap and its
    // cleanup orphans that version forever otherwise), and applied
    // markers older than the committed batch (they only exist to
    // short-circuit a retry of THEIR batch; once a later batch is
    // committed those retries can no longer arrive)
    gc(next, batchId)
  }

  private def gc(currentVersion: Long, committedBatch: Long): Unit = {
    val root = Paths.get(stateDir)
    if (!Files.isDirectory(root)) return
    val it = Files.list(root)
    try it.forEach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("v__") &&
          name.stripPrefix("v__").toLongOption.exists(_ < currentVersion))
        deleteRecursive(p)
      else if (name.startsWith("_applied_") &&
          name.stripPrefix("_applied_").toLongOption.exists(_ < committedBatch))
        Files.deleteIfExists(p)
    } finally it.close()
  }

  private def deleteRecursive(p: Path): Unit = VersionedState.deleteTree(p)

  // ---- per-batch applied markers (fast path; the in-state batchId is
  // the crash-window backstop) ----

  private def batchMarker(batchId: Long): Path =
    Paths.get(s"$stateDir/_applied_$batchId")

  def isMarked(batchId: Long): Boolean = Files.exists(batchMarker(batchId))

  def mark(batchId: Long): Unit = {
    Files.createDirectories(Paths.get(stateDir))
    Files.write(batchMarker(batchId), Array.emptyByteArray)
  }

  /** True iff this batch is already folded into the state: marker file
    * (fast path) OR the current version records a batch >= it. The `>=`
    * leans on Structured Streaming's contract that foreachBatch ids are
    * monotonically increasing — a batch can only be retried BEFORE any
    * later batch commits, so an id at or below the committed one is
    * already folded in. That is also what lets gc() drop old markers:
    * they are a fast path for the CURRENT batch, never the only record
    * of an older one. */
  def isApplied(batchId: Long): Boolean =
    isMarked(batchId) || appliedBatch.exists(_ >= batchId)
}

object VersionedState {
  /** Recursive delete — the one shared implementation (also used by the
    * write-once stores, e.g. q67's variant store scratch cleanup). */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
}
