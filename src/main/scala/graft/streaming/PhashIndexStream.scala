package graft.streaming

import graft.operators.Multimodal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incrementally-maintained image near-dup index — q136's streaming
  * twin. As new images arrive their 64-bit perceptual hashes are
  * computed from THEIR bytes only ([[Multimodal.imageHashesOf]], the
  * SAME frame core the batch query uses; one decode per image ever),
  * candidates come from probing the accumulated 4×16-bit Hamming band
  * index, and pairs accumulate with exact bit_count distances; [[report]]
  * is q136's own presentation face ([[Multimodal.phashPresentation]]),
  * so it reproduces q136's output exactly over the union of arrived
  * batches (PhashIndexStreamSpec pins it over sharded replays) as long
  * as no band bucket crosses the batch stop-bucket cap. Lifecycle,
  * last-writer-wins and the rebuild signal: [[BandIndex]].
  *
  * State tables (hash-partitionable at scale):
  *  - hashes (doc_id, lo, hi)       — 16 bytes per image, ever
  *  - bands  (doc_id, band, bkey)   — 4 rows per image, the inverted index
  *  - pairs  (doc_a, doc_b, hamming) — accumulated candidates
  */
object PhashIndexStream extends BandIndex(Multimodal.imageHashesOf(_),
  Multimodal.phashBands, ImageHashIndex.score, Multimodal.phashPresentation,
  ImageHashIndex.tables)

/** What the two image indexes share besides q136's kernels. */
private object ImageHashIndex {

  /** The pair scorer: exact Hamming distance from the hash halves. */
  def score(candKeys: DataFrame, allHashes: DataFrame): DataFrame =
    candKeys
      .join(allHashes.select(col("doc_id").as("doc_a"),
        col("lo").as("lo_a"), col("hi").as("hi_a")), Seq("doc_a"))
      .join(allHashes.select(col("doc_id").as("doc_b"),
        col("lo").as("lo_b"), col("hi").as("hi_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        Multimodal.hammingExpr.as("hamming"))

  val tables = Seq(
    "hashes" -> "doc_id LONG NOT NULL, lo LONG NOT NULL, hi LONG NOT NULL",
    "bands" -> "doc_id LONG NOT NULL, band INT NOT NULL, bkey LONG NOT NULL",
    "pairs" -> "doc_a LONG NOT NULL, doc_b LONG NOT NULL, hamming LONG NOT NULL")
}

/** The image index over the EXIF-normalizing hash core
  * ([[Multimodal.orientedHashesOf]], batch q161's dispatch face +
  * upright aHash): a ROTATED RE-UPLOAD hashes identically to its upright
  * original and cannot escape the incremental index
  * (PhashIndexStreamSpec pins stream ≡ batch q161 oriented grouping over
  * sharded replays). Same tables and presentation as
  * [[PhashIndexStream]]. */
object OrientedPhashIndexStream extends BandIndex(
  Multimodal.orientedHashesOf, Multimodal.phashBands, ImageHashIndex.score,
  Multimodal.phashPresentation, ImageHashIndex.tables)
