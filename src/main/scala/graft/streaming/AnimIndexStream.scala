package graft.streaming

import graft.operators.Multimodal
import graft.operators.Multimodal.{animBands, animPresentation, animScore, frameSetHashFrame}

/** The FRAME-SET lanes' state layout: one document contributes a SET of
  * frame hashes (animation frames, document pages, PDF page images,
  * audio windows), bucketed on the full 64-bit hash and scored by exact
  * frame-set Jaccard with the batch queries' kernels
  * ([[Multimodal.frameSetHashFrame]], [[Multimodal.animBands]],
  * [[Multimodal.animScore]], [[Multimodal.animPresentation]]). Full-hash
  * buckets make a crossing of the rebuild signal's cap the genuine
  * shared-blank-frame degeneracy, not a pigeonhole artifact.
  *
  * State tables (hash-partitionable at scale):
  *  - frames  (doc_id, fhash)        — 8 bytes per FRAME, ever
  *  - buckets (doc_id, band, bkey)   — one row per frame row
  *  - pairs   (doc_a, doc_b, n_common, sim) — accumulated candidates
  */
private object FrameSets {
  val tables = Seq(
    "frames" -> "doc_id LONG NOT NULL, fhash LONG NOT NULL",
    "buckets" -> "doc_id LONG NOT NULL, band INT NOT NULL, bkey LONG NOT NULL",
    "pairs" -> ("doc_a LONG NOT NULL, doc_b LONG NOT NULL, " +
      "n_common LONG NOT NULL, sim DOUBLE NOT NULL"))
}

/** Incrementally-maintained ANIMATION near-dup index — q166's streaming
  * twin: a re-encoded animated meme arriving on the stream is paired
  * with every earlier re-encode without ever re-decoding the corpus.
  * Hashing is [[Multimodal.q166AnimHashes]] (decode + GIF89a
  * compositing + per-frame aHash); AnimIndexStreamSpec pins stream ≡
  * batch over sharded replays where every canon's re-encodes are split
  * across triggers. */
object AnimIndexStream extends BandIndex(
  frameSetHashFrame(_, Multimodal.q166AnimHashes),
  animBands, animScore, animPresentation, FrameSets.tables)

/** Incrementally-maintained SCANNED-DOCUMENT near-dup index — q171's
  * streaming twin: a re-scanned/re-encoded multi-page document
  * (different byte order, per-page compression, strip/tile layout,
  * stored orientation) is paired with every earlier re-encode through
  * the accumulated page-set index. Hashing is
  * [[Multimodal.q171DocHashes]] (multi-page TIFF chain walk + per-page
  * upright aHash); DocIndexStreamSpec pins stream ≡ batch. */
object DocIndexStream extends BandIndex(
  frameSetHashFrame(_, Multimodal.q171DocHashes),
  animBands, animScore, animPresentation, FrameSets.tables)

/** Incrementally-maintained SCANNED-PDF near-dup index — q176's
  * streaming twin: a re-scanned PDF (different image-XObject filter —
  * DCT vs CCITT vs Flate — array vs name filter form, BlackIs1
  * convention) is paired with every earlier re-encode. Hashing is
  * [[Multimodal.q176PdfHashes]] (PDF object walk + per-filter decode +
  * per-page aHash); PdfIndexStreamSpec pins stream ≡ batch. */
object PdfIndexStream extends BandIndex(
  frameSetHashFrame(_, Multimodal.q176PdfHashes),
  animBands, animScore, animPresentation, FrameSets.tables)

/** Incrementally-maintained AUDIO near-dup index — q177's streaming
  * twin: a re-encoded recording (PCM16 / G.711 mu/A-law / IMA / MS
  * ADPCM, any sample-rate tag) is paired with every earlier re-encode
  * through the accumulated window-set index. Hashing is
  * [[Multimodal.q177AudioHashes]] (WAV decode + fixed-window splitmix
  * fold); PcmIndexStreamSpec pins stream ≡ batch. */
object PcmIndexStream extends BandIndex(
  frameSetHashFrame(_, Multimodal.q177AudioHashes),
  animBands, animScore, animPresentation, FrameSets.tables)
