package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Incrementally-maintained text near-duplicate index — q28's streaming
  * twin and the dedup twin of [[SearchIndexStream]]'s TARGET_LAG
  * semantics: as new documents arrive, their MinHash signatures are
  * computed from THEIR shingles only ([[Dedup.minhashWide]], one shingle
  * pass per distinct batch doc), candidate pairs come from probing the
  * accumulated LSH band index on (band, bkey), and pairs are scored by
  * signature-slot match fraction — est_sim always reflects the CURRENT
  * signatures. Per micro-batch the work is O(batch shingles + matching
  * band buckets), the property that makes continuous dedup of a growing
  * 100 TB corpus feasible where a batch re-run (q28) is O(corpus) every
  * time. Lifecycle, last-writer-wins and the rebuild signal:
  * [[BandIndex]].
  *
  * State tables (all hash-partitionable at scale):
  *  - sigs  (doc_id, mh0..mh7)     — 8 ints (16-bit minhash slots) per doc
  *  - bands (doc_id, band, bkey)   — 4 rows per doc, the inverted index
  *  - pairs (doc_a, doc_b, est_sim) — accumulated candidates
  */
object DedupIndexStream extends BandIndex(
  Dedup.minhashWide,
  Dedup.lshBands(_),
  (candKeys, allSigs) => candKeys
    .join(allSigs.as("a"), col("doc_a") === col("a.doc_id"))
    .join(allSigs.as("b"), col("doc_b") === col("b.doc_id"))
    .select(col("doc_a"), col("doc_b"),
      round(Dedup.signatureMatchFraction, 6).as("est_sim")),
  _.orderBy(col("doc_a"), col("doc_b")),
  Seq(
    "sigs" -> ("doc_id LONG NOT NULL, " +
      (0 to 7).map(k => s"mh$k INT NOT NULL").mkString(", ")),
    "bands" -> "doc_id LONG NOT NULL, band INT NOT NULL, bkey STRING",
    "pairs" -> "doc_a LONG NOT NULL, doc_b LONG NOT NULL, est_sim DOUBLE NOT NULL"))
