package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Deduplication operators for LLM training-data pipelines (north-star
  * surface, BASELINE.json): exact, n-gram Jaccard, MinHash+LSH banding,
  * SimHash. All run over the `documents` fixture and all are
  * oracle-checked against DuckDB.
  *
  * Design for 100 TB:
  *  - exact dedup is a single hash-partitioned window/groupBy on the text
  *    digest — the digest (16 B) shuffles, never the document body;
  *  - MinHash signatures reduce each document to k=8 fixed-size values
  *    before any join; candidate generation is an equi-join on (band,
  *    band-signature) buckets — never an all-pairs product;
  *  - the shingle→pair join only materializes pairs that share ≥1 shingle
  *    (sparse), and the verify step runs on candidates only.
  *  - hashes are md5-based (not Spark's xxhash) so any engine — including
  *    the DuckDB oracle — derives identical signatures; the min over
  *    lexicographic md5 hex is a valid uniform permutation family.
  */
object Dedup {

  /** Stop-shingle document-frequency cap for the Jaccard/LSH kernels.
    * The in-task i<j pair expansion is quadratic in docs-per-shingle:
    * content 3-grams of real text are rare (fixture max ~25 docs), but
    * one boilerplate shingle — a license header, a nav bar — shared by
    * 10⁶ docs would mean 10¹² pairs in a single group at corpus scale.
    * A shingle present in more than `MaxShingleDf` documents carries no
    * dedup signal (it cannot distinguish its documents) and is dropped
    * from BOTH the intersection and the set sizes, exactly like a
    * stopword in retrieval — the oracle CTEs apply the same df filter,
    * so the cap is part of the operator's semantics, not a lossy
    * approximation bolted on. 128² = 16k pairs bounds any one group's
    * fan-out. (Defined before [[shingleHashSqlCte]]: the oracle CTE
    * interpolates it at val-init time.) */
  private[graft] val MaxShingleDf = 128

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** Word 3-gram shingles, distinct per doc. Element-at based so the
    * DuckDB oracle can mirror it verbatim. */
  private def shingles(df: DataFrame): DataFrame =
    shinglesWithDup(df).distinct()

  /** Same 3-gram stream but with multiplicity (for min-aggregations where
    * distinct is a wasted shuffle). `w` generalizes the shingle width —
    * the production queries pin w=3; the differential fuzz harness
    * (graft.tools.DedupFuzz) randomizes it, oracling each width against
    * a DuckDB recompute. */
  private[graft] def shinglesWithDup(df: DataFrame, w: Int = 3): DataFrame =
    df.select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= w)
      .select(col("doc_id"), expr(
        s"""explode(transform(sequence(1, size(t) - ${w - 1}),
          |  i -> array_join(slice(t, i, $w), ' ')))""".stripMargin)
        .as("shingle"))

  private val shingleSqlCte: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
      |       WHERE len(t) >= 3)""".stripMargin

  /** 64-bit shingle id: the first 15 hex digits (60 bits) of md5, parsed
    * to BIGINT. Derivation is IDENTICAL in both engines (Spark `conv`
    * base-16→10 ≡ DuckDB `CAST('0x…' AS BIGINT)`), so if two shingles
    * ever collided (~2⁻⁶⁰ per pair) both engines would agree on the
    * merged group — parity is structural, not probabilistic. The Jaccard
    * kernel shuffles these 8-byte longs where round 2 shuffled ~30-char
    * shingle strings: group-bys, mins and pair joins all compare longs. */
  private def shingleId(shingle: Column): Column =
    conv(substring(md5(shingle), 1, 15), 16, 10).cast("long")

  /** Same stream as [[shinglesWithDup]] but carrying the 64-bit id.
    * `private[graft]`: NoveltyStream computes Δ-batch shingle ids with
    * exactly this derivation so its state merges stay bit-compatible
    * with batch q114. */
  private[graft] def shingleIdsWithDup(df: DataFrame, w: Int = 3): DataFrame =
    shinglesWithDup(df, w)
      .select(col("doc_id"), shingleId(col("shingle")).as("sh64"))

  /** Oracle twin of [[shingleIdsWithDup]].distinct + the [[MaxShingleDf]]
    * stop-shingle cap — used by the Jaccard family (q27/q53/q63); q28's
    * oracle keeps the raw-string CTE because minhash slices the md5 hex
    * itself (signatures must see every shingle — q28's cap applies to
    * band BUCKETS instead). */
  private val shingleHashSqlCte: String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id,
      |         CAST('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15) AS BIGINT) AS shingle
      |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
      |       WHERE len(t) >= 3),
      |sh AS (SELECT doc_id, shingle FROM (
      |         SELECT doc_id, shingle,
      |                count(*) OVER (PARTITION BY shingle) AS df
      |         FROM sh0)
      |       WHERE df <= $MaxShingleDf)""".stripMargin

  /** q26 — exact dedup: group by content digest; every doc learns its
    * canonical (minimum) doc_id and its copy count. */
  def q26DedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"text_hash")
    docs(s, dir)
      .select($"doc_id", md5($"text").as("text_hash"))
      .withColumn("canonical_id", min($"doc_id").over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .orderBy($"doc_id")
  }

  val q26Oracle: String =
    """SELECT doc_id, md5(text) AS text_hash,
      |       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
      |       count(*) OVER (PARTITION BY md5(text)) AS n_copies
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Thresholded Jaccard near-dup pairs, unsorted — the shared kernel of
    * q27 (which adds presentation ordering) and q53 (which clusters the
    * pairs and needs no global sort of them). `maxDf` is the
    * [[MaxShingleDf]] stop-shingle guard (parameterized for the
    * adversarial DedupSpec case). */
  private[graft] def jaccardPairsFrom(documents: DataFrame, par: Int,
      maxDf: Int = MaxShingleDf, minJaccard: Double = 0.2,
      w: Int = 3): DataFrame =
    jaccardPairsFromIds(shingleIdsWithDup(documents, w), par, maxDf,
      minJaccard)

  /** [[jaccardPairsFrom]] over a pre-hashed md5 shingle stream
    * `(doc_id, h)` — the 64-bit shingle id is sliced from the hex
    * exactly as [[shingleId]] does, so semantics (and the oracle) are
    * unchanged; only the scan is shared. */
  private[graft] def jaccardPairsFromHashes(hashed: DataFrame, par: Int,
      maxDf: Int = MaxShingleDf, minJaccard: Double = 0.2): DataFrame =
    jaccardPairsFromIds(
      hashed.select(col("doc_id"),
        conv(substring(col("h"), 1, 15), 16, 10).cast("long").as("sh64")),
      par, maxDf, minJaccard)

  /** i<j in-task pair expansion over a sorted array column — the ONE
    * copy of the kernel the Jaccard doc-pair stage, q117's source-pair
    * stage and q109's supplier-pair stage all ride (review find: the
    * expansion was once duplicated verbatim modulo field names, so a
    * fix had to be made twice). Round 22: two chained codegen Generates
    * (posexplode + explode(slice)) replace the interpreted
    * flatten(transform(slice(...)))-HOF struct build — same pair
    * multiset, several× less per-pair CPU (no per-pair
    * GenericInternalRow, no nested-array materialization; the slice
    * copies are plain long-array copies inside whole-stage codegen). */
  private[graft] def expandPairs(df: DataFrame, arr: String,
      aField: String, bField: String): DataFrame =
    df.select(col(arr), posexplode(col(arr)).as(Seq("__pi", aField)))
      .select(col(aField),
        explode(slice(col(arr), col("__pi") + lit(2), size(col(arr))))
          .as(bField))

  private def jaccardPairsFromIds(ids: DataFrame, par: Int,
      maxDf: Int, minJaccard: Double): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    // ONE shuffle of the shingle stream replaces distinct + a double
    // re-shuffle through a self-join: group by shingle (collect_set
    // dedupes per doc), then expand i<j doc pairs inside the task. The
    // per-shingle fan-out is quadratic in docs-per-shingle, which stays
    // bounded for content shingles (3-grams of real text are rare —
    // the corpus max is ~25 docs); a stop-shingle cap would guard truly
    // degenerate corpora. Doc sizes come from the same grouped frame,
    // and the group key is the 8-byte shingleId long — the ~30-byte
    // shingle text never leaves the map task.
    // The kernel's work is ~50× its input bytes (explode ×52 shingles/doc,
    // then ×4 pair fan-out), so partition by WORK, not by input size: the
    // single small fixture file would otherwise run the whole map side in
    // one task (fanoutParallelism sizes the map fan-out to the input and
    // saturates the cluster on a real table).
    // Round 22 (guide §2.3/§2.4, per-step decomposition of the pair
    // kernel — the same three findings as q109's kernel):
    //  (a) the shingle stream is shuffled RAW by sh64 via an explicit
    //      REPARTITION_BY_NUM exchange instead of feeding a map-side
    //      partial collect_set: intra-doc duplicate shingles are ~0 in
    //      real text (sf0.1: 260 K raw vs 260 K distinct), so the
    //      partial's per-task object maps reduced nothing, and the
    //      explicit width keeps the grouped stage wide under AQE so the
    //      pair expansion can ride it IN-STAGE (the former round-robin
    //      spread exchange is gone — one less shuffle of the collision
    //      set);
    //  (b) the i<j expansion is two chained codegen Generates
    //      (posexplode + explode(slice)) instead of the interpreted
    //      flatten(transform(slice)) HOF struct build;
    //  (c) pairs are hash-clustered before counting — a colliding
    //      pair's copies are scattered across every expansion task, so
    //      the pre-exchange partial count built near-full per-task hash
    //      maps for little reduction; clustered, partial+final fold
    //      in-stage. `par` (the state-bounding expansionShuffleWidth)
    //      sizes both explicit exchanges.
    // Same grouped sets, same pair multiset, same counts — oracle
    // hashes unchanged (re-proven at sf0.001/0.01/0.1).
    // (No cache: AQE exchange reuse shares the repartitioned shingle
    // stream between the pair and size branches; measured faster than
    // cache+repartition-everything by ~2× at local[32].)
    // the df cap applies BEFORE both branches: a stop-shingle neither
    // expands into pairs nor counts toward any document's set size
    val grouped = ids
      .repartition(par, $"sh64")
      .groupBy($"sh64").agg(array_sort(collect_set($"doc_id")).as("ds"))
      .filter(size($"ds") <= maxDf)
      .select($"ds")
    val sizes = grouped.select(explode($"ds").as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = expandPairs(grouped.filter(size($"ds") > 1),
        "ds", "doc_a", "doc_b")
      .repartition(par, $"doc_a", $"doc_b")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.as("sa"), $"doc_a" === $"sa.doc_id")
      .join(sizes.as("sb"), $"doc_b" === $"sb.doc_id")
      .select($"doc_a", $"doc_b", $"inter", $"sa.n".as("n_a"), $"sb.n".as("n_b"),
        ($"inter" / ($"sa.n" + $"sb.n" - $"inter")).as("jaccard"))
      .filter($"jaccard" >= minJaccard)
  }

  /** In-memory grouped-state bytes per ON-DISK parquet byte for the
    * shingle pair/CC family. Calibrated on the 100× ScaleProbe: 60 MB
    * of replicated parquet expanded to ~26 M collect_set groups ×
    * ~200 B of JVM object overhead ≈ 5–6 GB resident — the GC-stall
    * ceiling SCALE.md's third probe measured — i.e. ~100× expansion,
    * carried here with a 1.3× margin. */
  private[graft] val PairStateExpansion = 128.0

  /** Stat-derived width for the pair/CC kernels' grouped stages, with
    * the ConfGuard sizing contract applied: the session shuffle width
    * is RAISED to match (never lowered), so the collect_set reducers —
    * and every CC iteration shuffling downstream of this call — hold
    * concurrent state within the heap budget instead of GC-thrashing
    * past the measured ~250 k-docs-per-4.6 GB ceiling. At fixture
    * scale the width floors at the core count and the raise is a
    * no-op; the probe's 100× corpus is what moves it. */
  private def sizedPairPar(s: SparkSession, dir: String): Int = {
    val w = Tables.expansionShuffleWidth(s, dir, "documents",
      PairStateExpansion)
    graft.tools.ConfGuard.ensureShuffleWidth(s, w)
    w
  }

  private def jaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val par = Tables.fanoutParallelism(s, dir, "documents")
    jaccardPairsFrom(docs(s, dir).repartition(par), sizedPairPar(s, dir))
  }

  /** q27 — n-gram Jaccard near-dup: candidate pairs share ≥1 shingle
    * (sparse join), Jaccard = |∩| / |∪| over distinct shingle sets,
    * thresholded. The division is exact-int over exact-int so both
    * engines produce bit-identical doubles. */
  def q27NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    jaccardPairs(s, dir)
      .select($"doc_a", $"doc_b", $"inter", $"n_a", $"n_b",
        round($"jaccard", 6).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  val q27Oracle: String =
    s"""WITH $shingleHashSqlCte,
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |          FROM sh a JOIN sh b
      |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_a, doc_b, inter, n_a, n_b, round(jaccard, 6) AS jaccard
      |FROM (SELECT p.doc_a, p.doc_b, p.inter, sa.n AS n_a, sb.n AS n_b,
      |             p.inter / (sa.n + sb.n - p.inter) AS jaccard
      |      FROM pairs p
      |      JOIN sizes sa ON p.doc_a = sa.doc_id
      |      JOIN sizes sb ON p.doc_b = sb.doc_id)
      |WHERE jaccard >= 0.2
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q28 — MinHash + LSH banding: k=8 md5-permutation minhashes per doc,
    * 4 bands × 2 rows; docs sharing a band bucket become candidates;
    * candidates are verified with estimated similarity = matching
    * signature fraction. The all-pairs product never materializes. */
  /** 8-slot MinHash signature per doc, as one wide row. ONE aggregation
    * pass computes all 8 minhashes as columns: the shuffle carries
    * 8×4B per doc, never the shingles; map-side partial min does the
    * heavy lifting. One md5 per shingle; the 8 hash functions are its 8
    * disjoint 4-hex (16-bit) slices — an 8x cheaper valid minhash
    * family (min over independent bit ranges of a uniform digest).
    * Slots are INTs (the slice parsed base-16): equal-width hex strings
    * order exactly like their numeric values, so min/equality semantics
    * are unchanged vs the hex-string form and the oracle needs no edit —
    * but min(int) aggregates in a codegen'd HashAggregate where
    * min(string) fell back to SortAggregate, which SORTED the whole
    * shingle stream by doc_id per partition. Shared by q28 and the
    * incremental index (graft.streaming.DedupIndexStream). */
  def minhashWide(documents: DataFrame): DataFrame =
    // minhash is min over a hash family — duplicates can't change a min,
    // so the shingle stream needs no distinct (one less shuffle)
    minhashWideFromHashes(shinglesWithDup(documents)
      .select(col("doc_id"), md5(col("shingle")).as("h")))

  /** The signature aggregation over a pre-hashed shingle stream
    * `(doc_id, h = md5(shingle))` with multiplicity — split out so q108
    * can feed the SAME cached hashed frame to this (candidate side) and
    * to [[jaccardPairsFromHashes]] (truth side) in one scan. */
  private[graft] def minhashWideFromHashes(hashed: DataFrame): DataFrame = {
    val mhAggs = (0 to 7).map(k =>
      min(conv(substring(col("h"), 4 * k + 1, 4), 16, 10).cast("int"))
        .as(s"mh$k"))
    hashed.groupBy(col("doc_id")).agg(mhAggs.head, mhAggs.tail: _*)
  }

  /** `bands` bands × (8/bands) rows over the wide signature: band key =
    * concat of that band's consecutive signature values. The production
    * operator pins 4×2; the fuzz harness randomizes the band/row split
    * (the precision/recall knob of LSH banding). */
  def lshBands(wide: DataFrame, bands: Int = 4): DataFrame = {
    require(8 % bands == 0, s"bands=$bands must divide the 8 signature slots")
    val rows = 8 / bands
    wide.select(col("doc_id"), posexplode(array(
        (0 until bands).map(b => concat_ws("|",
          (b * rows until (b + 1) * rows).map(k => col(s"mh$k")): _*)): _*))
      .as(Seq("band", "bkey")))
  }

  /** Fraction of matching signature slots for a pair frame carrying
    * a-side and b-side wide signatures. */
  def signatureMatchFraction: Column =
    (0 to 7).map(k =>
      when(col(s"a.mh$k") === col(s"b.mh$k"), 1).otherwise(0))
      .reduce(_ + _) / 8.0

  def q28MinHashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the wide table serves banding AND both sides of the verify join
    // without re-expansion; the scan spreads by input size so the ×52
    // shingle explode + md5 never runs single-task on a small file
    val par = Tables.fanoutParallelism(s, dir, "documents")
    val wide = minhashWide(docs(s, dir).repartition(par)).cache()
    // stop-BUCKET cap (the banding twin of the jaccardPairs stop-shingle
    // guard): the self-join below is quadratic in docs-per-bucket, and a
    // degenerate band bucket (e.g. every empty-ish doc minhashing to the
    // same signature slice) would expand |bucket|² candidates in one
    // task. A bucket larger than MaxShingleDf has no discriminating
    // power; both engines drop it before candidate generation.
    // Implemented as a map-side-combinable groupBy + broadcast ANTI join
    // against the (rare, tiny) oversized-bucket set — NOT a
    // count().over(Window.partitionBy(band, bkey)): the window form
    // sorts the full band table per partition (measured 2.2× on this
    // query), where the aggregate form reduces each bucket to one count
    // before anything shuffles and the anti side is empty-to-tiny by
    // construction (it only holds degenerate buckets).
    val cands = cappedBandCandidates(lshBands(wide))
    cands
      .join(wide.as("a"), $"doc_a" === $"a.doc_id")
      .join(wide.as("b"), $"doc_b" === $"b.doc_id")
      .select($"doc_a", $"doc_b",
        round(signatureMatchFraction, 6).as("est_sim"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** The capped band-bucket candidate pairs — q28's generator, shared
    * with its evaluator q108 so the evaluation can never drift from the
    * operator it measures. See the stop-bucket comment in
    * [[q28MinHashLsh]] for why oversized buckets drop and why the cap is
    * an aggregate + broadcast anti-join rather than a window. */
  private[graft] def cappedBandCandidates(bands0: DataFrame): DataFrame = {
    val bigBuckets = bands0.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") > MaxShingleDf)
      .select(col("band"), col("bkey"))
    val bands = bands0.join(broadcast(bigBuckets), Seq("band", "bkey"),
      "left_anti")
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  val q28Oracle: String =
    s"""WITH $shingleSqlCte,
      |sigs AS (SELECT doc_id, seed,
      |                min(substr(md5(shingle), CAST(4 * seed + 1 AS INT), 4)) AS mh
      |         FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed) sd
      |         GROUP BY doc_id, seed),
      |bands0 AS (SELECT doc_id, CAST(floor(seed / 2) AS INT) AS band,
      |                 string_agg(mh, '|' ORDER BY seed) AS bkey
      |          FROM sigs GROUP BY 1, 2),
      |bands AS (SELECT doc_id, band, bkey FROM (
      |            SELECT doc_id, band, bkey,
      |                   count(*) OVER (PARTITION BY band, bkey) AS bn
      |            FROM bands0)
      |          WHERE bn <= $MaxShingleDf),
      |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |          FROM bands x JOIN bands y
      |            ON x.band = y.band AND x.bkey = y.bkey
      |           AND x.doc_id < y.doc_id)
      |SELECT c.doc_a, c.doc_b,
      |       round(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 8.0, 6) AS est_sim
      |FROM cands c
      |JOIN sigs sa ON c.doc_a = sa.doc_id
      |JOIN sigs sb ON c.doc_b = sb.doc_id AND sa.seed = sb.seed
      |GROUP BY c.doc_a, c.doc_b
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q108 — LSH quality evaluation: precision/recall of q28's REAL
    * candidate generator (bands, stop-bucket cap and all) against the
    * exact Jaccard ground truth, at thresholds 0.1/0.2/0.3/0.5 — the
    * "measure, don't guess" table behind choosing b×r banding
    * parameters before a 100 TB dedup run. recall_t = fraction of truly
    * ≥t pairs that banding surfaces; precision_t = fraction of surfaced
    * candidates that are truly ≥t.
    *
    * Scale shape: both sides are the existing bounded kernels (capped
    * band buckets, capped shingle groups), and both derive from ONE
    * cached hashed-shingle frame `(doc_id, md5(shingle))` — the corpus
    * is scanned, tokenized, exploded and hashed exactly once (the q100
    * single-pass discipline; previously the candidate and truth sides
    * each ran the full shingle pipeline). The eval joins the two sides
    * on the pair key and reduces to 4 rows in one conditional-sum
    * aggregate (stack unpivots). The candidate count rides the final
    * plan as a broadcast 1-row aggregate over the capped candidate set
    * (round 21 — formerly a blocking driver count()). */
  def q108LshEvaluation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val par = Tables.fanoutParallelism(s, dir, "documents")
    // the ONE corpus pass: scan → tokenize → explode ×~52 → md5. Cached
    // (MEMORY_AND_DISK) because the minhash side and the exact-Jaccard
    // side both consume it; the harness sweep releases it post-query.
    val hashed = shinglesWithDup(docs(s, dir).repartition(par))
      .select(col("doc_id"), md5(col("shingle")).as("h"))
      .cache()
    // wide is one 9-int row per doc and the banding self-join consumes it
    // up to 4× (bucket sizing + anti-join + both join sides) — cache the
    // tiny frame so the signature aggregation runs once
    val wide = minhashWideFromHashes(hashed).cache()
    // cached: consumed by the count aggregate AND the truth join below
    val cands = cappedBandCandidates(lshBands(wide)).cache()
    // candidate count as a 1-row aggregate riding the final plan
    // (round 21): the former cands.count() was a separate BLOCKING
    // driver action serializing a whole job before the eval could even
    // plan; as a broadcast 1-row cross join (the q118/q123 bounds
    // pattern) it shares the cands cache and the scheduler overlaps it
    val nCand = cands.agg(count(lit(1)).as("n_candidates"))
    // ground truth below the operating threshold too (0.05 floor), so
    // precision at low t is measured, not assumed
    val truth = jaccardPairsFromHashes(hashed, sizedPairPar(s, dir),
        minJaccard = 0.05)
      .select($"doc_a", $"doc_b", $"jaccard")
    val flagged = truth.join(cands.withColumn("cand", lit(1L)),
      Seq("doc_a", "doc_b"), "left")
    val ts = Seq("0.1" -> 10, "0.2" -> 20, "0.3" -> 30, "0.5" -> 50)
    val sums = ts.flatMap { case (t, pct) => Seq(
      sum(when($"jaccard" >= t.toDouble, 1L)).as(s"truth$pct"),
      sum(when($"jaccard" >= t.toDouble && $"cand".isNotNull, 1L))
        .as(s"hit$pct")) }
    val agg = flagged.agg(sums.head, sums.tail: _*)
    agg.select(expr(
        "stack(4, " + ts.map { case (t, pct) =>
          s"CAST($t AS DOUBLE), truth$pct, hit$pct" }.mkString(", ") +
        ") AS (threshold, n_truth, n_hit)"))
      .crossJoin(broadcast(nCand))
      .select($"threshold",
        coalesce($"n_truth", lit(0L)).as("n_truth"),
        coalesce($"n_hit", lit(0L)).as("n_hit"),
        $"n_candidates",
        round(coalesce($"n_hit", lit(0L)) /
          greatest($"n_truth", lit(1L)).cast("double"), 6).as("recall"),
        round(coalesce($"n_hit", lit(0L)) /
          greatest($"n_candidates", lit(1L)).cast("double"), 6).as("precision"))
      .orderBy($"threshold")
  }

  val q108Oracle: String =
    s"""WITH $shingleHashSqlCte,
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |          FROM sh a JOIN sh b
      |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |truth AS (SELECT doc_a, doc_b,
      |            p.inter / (sa.n + sb.n - p.inter) AS jaccard
      |          FROM pairs p
      |          JOIN sizes sa ON p.doc_a = sa.doc_id
      |          JOIN sizes sb ON p.doc_b = sb.doc_id
      |          WHERE p.inter / (sa.n + sb.n - p.inter) >= 0.05),
      |stoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |ssh AS (SELECT DISTINCT doc_id,
      |          t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      |        FROM stoks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
      |        WHERE len(t) >= 3),
      |sigs AS (SELECT doc_id, seed,
      |                min(substr(md5(shingle), CAST(4 * seed + 1 AS INT), 4)) AS mh
      |         FROM ssh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed) sd
      |         GROUP BY doc_id, seed),
      |bands0 AS (SELECT doc_id, CAST(floor(seed / 2) AS INT) AS band,
      |                 string_agg(mh, '|' ORDER BY seed) AS bkey
      |          FROM sigs GROUP BY 1, 2),
      |bands AS (SELECT doc_id, band, bkey FROM (
      |            SELECT doc_id, band, bkey,
      |                   count(*) OVER (PARTITION BY band, bkey) AS bn
      |            FROM bands0)
      |          WHERE bn <= $MaxShingleDf),
      |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |          FROM bands x JOIN bands y
      |            ON x.band = y.band AND x.bkey = y.bkey
      |           AND x.doc_id < y.doc_id),
      |nc AS (SELECT count(*) AS n_candidates FROM cands),
      |fl AS (SELECT t.jaccard, c.doc_a IS NOT NULL AS hit
      |       FROM truth t LEFT JOIN cands c
      |         ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
      |lv AS (SELECT unnest([0.1, 0.2, 0.3, 0.5]) AS threshold),
      |ag AS (SELECT lv.threshold,
      |         CAST(sum(CASE WHEN fl.jaccard >= lv.threshold
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
      |         CAST(sum(CASE WHEN fl.jaccard >= lv.threshold AND fl.hit
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |       FROM lv CROSS JOIN fl GROUP BY lv.threshold)
      |SELECT CAST(ag.threshold AS DOUBLE) AS threshold, ag.n_truth, ag.n_hit,
      |       CAST(nc.n_candidates AS BIGINT) AS n_candidates,
      |       round(CAST(ag.n_hit AS DOUBLE)
      |             / greatest(ag.n_truth, 1), 6) AS recall,
      |       round(CAST(ag.n_hit AS DOUBLE)
      |             / greatest(nc.n_candidates, 1), 6) AS precision
      |FROM ag CROSS JOIN nc ORDER BY threshold""".stripMargin

  /** q126 — MinHash ESTIMATE calibration: q108 measures whether banding
    * SURFACES the right pairs; this measures whether the 8-slot
    * signature match fraction ESTIMATES Jaccard well once a pair is
    * surfaced — the other half of trusting a minhash pipeline's numbers.
    * With 8 hashes the binomial std-dev is √(j(1−j)/8) ≈ 0.17 at
    * j = 0.5, so downstream thresholds on est_sim are soft; this table
    * reports, per true-Jaccard quintile bucket, the mean estimate vs
    * mean truth, bias, mean absolute error and worst error — the
    * evidence for "how many hashes do we actually need" before a
    * 100 TB run commits to a signature width.
    *
    * The estimate is evaluated over EVERY known-truth pair (Jaccard ≥
    * the 0.05 floor), not just banding candidates — surfacing is q108's
    * axis; a calibration restricted to surfaced pairs would only ever
    * see the near-1 bucket (measured: at the fixture, banding surfaces
    * nothing below ~0.8, so the restricted table had one row).
    *
    * Scale shape: the q108 single-pass discipline (one cached
    * hashed-shingle frame feeds both the signature side and the capped
    * exact-truth side); the calibration join is truth-pair-sized; the
    * aggregate is ≤5 rows. Estimates stay in exact eighths (k/8.0 —
    * identical doubles in both engines); bucket ids are pure integer
    * floor. */
  def q126MinhashCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val par = Tables.fanoutParallelism(s, dir, "documents")
    val hashed = shinglesWithDup(docs(s, dir).repartition(par))
      .select(col("doc_id"), md5(col("shingle")).as("h"))
      .cache() // both sides consume it; harness sweep releases
    val wide = minhashWideFromHashes(hashed)
    val truth = jaccardPairsFromHashes(hashed, sizedPairPar(s, dir),
        minJaccard = 0.05)
      .select($"doc_a", $"doc_b", $"jaccard")
    truth
      .join(wide.as("a"), $"doc_a" === $"a.doc_id")
      .join(wide.as("b"), $"doc_b" === $"b.doc_id")
      .select($"doc_a", $"doc_b", $"jaccard",
        signatureMatchFraction.as("est"))
      .withColumn("bucket", least(floor($"jaccard" * 5).cast("int"), lit(4)))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg($"est"), 6).as("mean_est"),
        round(avg($"jaccard"), 6).as("mean_true"),
        round(avg($"est" - $"jaccard"), 6).as("bias"),
        round(avg(abs($"est" - $"jaccard")), 6).as("mae"),
        round(max(abs($"est" - $"jaccard")), 6).as("max_abs_err"))
      .select($"bucket",
        round($"bucket".cast("double") / 5, 1).as("bucket_lo"),
        $"n_pairs", $"mean_est", $"mean_true", $"bias", $"mae",
        $"max_abs_err")
      .orderBy($"bucket")
  }

  val q126Oracle: String =
    s"""WITH $shingleHashSqlCte,
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |          FROM sh a JOIN sh b
      |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |truth AS (SELECT doc_a, doc_b,
      |            p.inter / (sa.n + sb.n - p.inter) AS jaccard
      |          FROM pairs p
      |          JOIN sizes sa ON p.doc_a = sa.doc_id
      |          JOIN sizes sb ON p.doc_b = sb.doc_id
      |          WHERE p.inter / (sa.n + sb.n - p.inter) >= 0.05),
      |stoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |ssh AS (SELECT DISTINCT doc_id,
      |          t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      |        FROM stoks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
      |        WHERE len(t) >= 3),
      |sigs AS (SELECT doc_id, seed,
      |                min(substr(md5(shingle), CAST(4 * seed + 1 AS INT), 4)) AS mh
      |         FROM ssh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed) sd
      |         GROUP BY doc_id, seed),
      |est AS (SELECT t.doc_a, t.doc_b,
      |          sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 8.0 AS est
      |        FROM truth t
      |        JOIN sigs sa ON t.doc_a = sa.doc_id
      |        JOIN sigs sb ON t.doc_b = sb.doc_id AND sa.seed = sb.seed
      |        GROUP BY 1, 2),
      |j AS (SELECT e.est, t.jaccard,
      |        LEAST(CAST(floor(t.jaccard * 5) AS INT), 4) AS bucket
      |      FROM est e JOIN truth t
      |        ON e.doc_a = t.doc_a AND e.doc_b = t.doc_b)
      |SELECT bucket, round(CAST(bucket AS DOUBLE) / 5, 1) AS bucket_lo,
      |       CAST(count(*) AS BIGINT) AS n_pairs,
      |       round(avg(est), 6) AS mean_est,
      |       round(avg(jaccard), 6) AS mean_true,
      |       round(avg(est - jaccard), 6) AS bias,
      |       round(avg(abs(est - jaccard)), 6) AS mae,
      |       round(max(abs(est - jaccard)), 6) AS max_abs_err
      |FROM j GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  /** q29 — SimHash: 16-bit signature. Bit j of a token = 1 iff hex digit j
    * of md5(token) ≥ 8; per-doc bit = sign of the ±1 sum over token
    * occurrences (multiplicity preserved — classic SimHash weighting). */
  def q29SimHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = docs(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("token"))
      .withColumn("h", md5($"token"))
    // all 16 ±1 bit-sums as COLUMNS of one aggregation (the minhashWide
    // pattern): the token stream is scanned once and never explodes ×16,
    // and the shuffle carries one 16-column row per doc per partition
    // (map-side partials) instead of 16 rows per doc
    val bitAggs = (1 to 16).map { j =>
      sum(when(expr(
        s"substr(h, $j, 1) IN ('8','9','a','b','c','d','e','f')"), 1)
        .otherwise(-1)).as(s"sgn$j")
    }
    val sims = toks.groupBy($"doc_id").agg(bitAggs.head, bitAggs.tail: _*)
      .select($"doc_id",
        (1 to 16).map(j =>
          when(col(s"sgn$j") > 0, lit(1L << (j - 1))).otherwise(0L))
          .reduce(_ + _).as("simhash"))
    val w = Window.partitionBy($"simhash")
    sims.withColumn("n_bucket", count(lit(1)).over(w))
      .orderBy($"doc_id")
  }

  val q29Oracle: String =
    """WITH toks AS (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h
      |              FROM documents),
      |perbit AS (SELECT doc_id, j,
      |             CASE WHEN substr(h, CAST(j AS INT), 1)
      |                    IN ('8','9','a','b','c','d','e','f')
      |                  THEN 1 ELSE -1 END AS contrib
      |           FROM toks, LATERAL (SELECT unnest(generate_series(1, 16)) AS j) g),
      |bits AS (SELECT doc_id, j, sum(contrib) AS sgn FROM perbit GROUP BY 1, 2),
      |sims AS (SELECT doc_id,
      |           CAST(sum(CASE WHEN sgn > 0 THEN CAST(pow(2, j - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      |         FROM bits GROUP BY 1)
      |SELECT doc_id, simhash,
      |       count(*) OVER (PARTITION BY simhash) AS n_bucket
      |FROM sims
      |ORDER BY doc_id""".stripMargin

  /** q40 — embedding-cosine near-dup: rank all candidate pairs by cosine
    * and keep the top-100 (the fixture has no true near-dups — max pair
    * cosine ≈ 0.51 — so a threshold would be vacuous; production use sets
    * `WHERE cos > 0.95`). Norms precomputed per vector; one broadcast side.
    * At 100 TB the all-pairs product is replaced by the LSH-bucketed
    * candidate join of q35 — this is the verify kernel it shares. */
  def q40EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.dot_product
    val e = Tables.load(s, dir, "embeddings")
      // one small fixture file = one partition; spread so the O(N²) dot
      // kernel uses every core (a real table arrives multi-partition).
      // Size-adaptive width (round 21): see Similarity.emb
      .repartition(Tables.fanoutParallelism(s, dir, "embeddings"))
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot_product($"v", $"v")))
    val b = e.select($"vec_id".as("vec_b"), $"v".as("vb"), $"nrm".as("nrmb"))
    // the all-pairs verify kernel is only valid on a corpus slice that
    // fits the tiny-broadcast contract — enforced, not assumed: beyond
    // the cap you want q35's LSH candidates, and this aborts loudly
    e.join(Similarity.boundedBroadcast(b, "q40 candidate"), $"vec_id" < $"vec_b")
      .select($"vec_id".as("vec_a"), $"vec_b",
        round(dot_product($"v", $"vb") / ($"nrm" * $"nrmb"), 6).as("cos"))
      .orderBy($"cos".desc, $"vec_a".asc, $"vec_b".asc)
      .limit(100)
  }

  val q40Oracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v,
      |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
      |pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |            round(list_sum(list_transform(generate_series(1, 64),
      |              i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cos
      |          FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, cos FROM pairs
      |ORDER BY cos DESC, vec_a ASC, vec_b ASC LIMIT 100""".stripMargin

  /** Connected components over an undirected pair set by min-label
    * propagation, with pointer jumping (`label := labels[label]`) engaged
    * from the third round on: shallow components (the common case —
    * near-dup clusters are small) pay nothing extra, while a deep chain
    * converges in O(log diameter) rounds instead of O(diameter). Only
    * nodes with ≥1 edge iterate, so loop state is O(|edges|); lineage is
    * cut per round (localCheckpoint). Deterministic: the unique
    * per-component minimum id wins regardless of join order.
    *
    * @param pairs undirected edges as (doc_a, doc_b), either orientation
    * @return (doc_id, label) for every node appearing in `pairs`
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    import graft.tools.Checkpoints
    val (edges, freeEdges) = Checkpoints.tracked(
      pairs.select(col("doc_a"), col("doc_b"))
        .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
    // `freeLabels` always releases the checkpointed frame backing the
    // CURRENT `labels`; it is called only once the next round's frame is
    // materialized, so peak residency is O(1) frames instead of O(iters)
    // (the BENCH_r10 block-leak fix — see Checkpoints doc)
    var (labels, freeLabels) = Checkpoints.tracked(
      edges.select(col("doc_a").as("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("label")))
    var converged = false
    var iter = 0
    // any exception — including the non-convergence throw below — must
    // release the frames this call pinned, or a failing call leaks
    // |nodes|-sized blocks per invocation in a long-lived non-harness
    // session (review find: the harness sweep is a backstop, not the
    // owner). Success keeps only the final labels frame alive.
    var ok = false
    try {
      while (!converged && iter < maxIters) {
        val neighborMin = edges
          .join(labels, col("doc_b") === col("doc_id"))
          .groupBy(col("doc_a"))
          .agg(min(col("label")).as("nmin"))
        // one checkpointed frame serves BOTH the convergence probe and the
        // next labels — no second labels-join, no recompute over lineage
        val (joined, freeJoined) = Checkpoints.tracked(labels
          .join(neighborMin, col("doc_id") === col("doc_a"), "left")
          .select(col("doc_id"), col("label"),
            coalesce(col("nmin"), col("label")).as("nm")))
        converged = joined.filter(col("nm") < col("label")).isEmpty
        freeLabels() // superseded: `joined` is materialized and independent
        labels = joined.select(col("doc_id"),
          least(col("label"), col("nm")).as("label"))
        freeLabels = freeJoined
        if (!converged && iter >= 2) {
          // pointer jump for deep components: follow label -> labels[label]
          val (jumped, freeJumped) = Checkpoints.tracked(labels.as("l")
            .join(labels.select(col("doc_id").as("j_id"),
              col("label").as("j_label")).as("m"),
              col("l.label") === col("m.j_id"), "left")
            .select(col("l.doc_id"),
              least(col("l.label"), coalesce(col("j_label"), col("l.label")))
                .as("label")))
          freeLabels() // frees `joined`, which only backed the jump input
          labels = jumped
          freeLabels = freeJumped
        }
        iter += 1
      }
      // never return silently-split components: fail loudly past the cap
      // (with jumping, the cap corresponds to components of diameter ~2^47)
      if (!converged) throw new IllegalStateException(
        s"label propagation did not converge in $maxIters iterations")
      ok = true
    } finally if (!ok) { freeEdges(); freeLabels() }
    // the final labels derive solely from the last checkpointed frame;
    // the edge table is no longer reachable from the returned plan
    freeEdges()
    if (sys.env.contains("GRAFT_DEBUG_ITERS"))
      System.err.println(s"[cc] converged after $iter iterations")
    labels
  }

  /** q53 — duplicate clustering: the transitive closure over near-dup
    * pairs (doc A≈B, B≈C ⇒ {A,B,C} one cluster) — the step that turns
    * pairwise detection into keep-one-per-cluster dedup, via
    * [[connectedComponents]] over the q27 pair kernel. */
  def q53DupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Near-dup components are a vanishing fraction of the corpus; every
    // isolated doc is its own cluster and joins the result once, after
    // convergence.
    val labels =
      connectedComponents(jaccardPairs(s, dir).select($"doc_a", $"doc_b"))
    val isolated = docs(s, dir).select($"doc_id")
      .join(labels.select($"doc_id"), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"doc_id".as("label"))
    labels.unionByName(isolated)
      .select($"doc_id", $"label".as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy($"cluster_id")))
      .orderBy($"doc_id")
  }

  /** Shared CTE body: shingles → jaccard pairs → symmetric edges →
    * transitive reach → min-label clusters (the oracle replay of
    * [[connectedComponents]] over [[jaccardPairs]]). */
  private val clusterSqlCtes: String =
    s"""$shingleHashSqlCte,
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |          FROM sh a JOIN sh b
      |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |jacc AS (SELECT doc_a, doc_b
      |         FROM pairs p
      |         JOIN sizes sa ON p.doc_a = sa.doc_id
      |         JOIN sizes sb ON p.doc_b = sb.doc_id
      |         WHERE p.inter / (sa.n + sb.n - p.inter) >= 0.2),
      |edges AS (SELECT doc_a, doc_b FROM jacc
      |          UNION ALL SELECT doc_b, doc_a FROM jacc),
      |reach AS (
      |  SELECT doc_id AS a, doc_id AS b FROM documents
      |  UNION
      |  SELECT r.a, e.doc_b AS b FROM reach r JOIN edges e ON r.b = e.doc_a),
      |labels AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)""".stripMargin

  /** q63 — dedup retention: the end use of clustering — keep one doc per
    * cluster (the minimum id), report per-language corpus shrinkage.
    * Composition of q53's clusters with a keep-one policy and the
    * documents dimension. */
  def q63DedupRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels =
      connectedComponents(jaccardPairs(s, dir).select($"doc_a", $"doc_b"))
    val d = docs(s, dir).select($"doc_id", $"lang")
    d.join(labels, Seq("doc_id"), "left")
      .select($"doc_id", $"lang",
        coalesce($"label", $"doc_id").as("cluster_id"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"doc_id" === $"cluster_id", 1L).otherwise(0L)).as("n_kept"))
      .withColumn("retention",
        round($"n_kept" / $"n_docs".cast("double"), 6))
      .orderBy($"lang")
  }

  val q63Oracle: String =
    s"""WITH RECURSIVE $clusterSqlCtes
      |SELECT d.lang, count(*) AS n_docs,
      |       CAST(sum(CASE WHEN l.cluster_id = d.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       round(sum(CASE WHEN l.cluster_id = d.doc_id THEN 1 ELSE 0 END)
      |             / CAST(count(*) AS DOUBLE), 6) AS retention
      |FROM documents d JOIN labels l ON d.doc_id = l.doc_id
      |GROUP BY d.lang
      |ORDER BY lang""".stripMargin

  val q53Oracle: String =
    s"""WITH RECURSIVE $shingleHashSqlCte,
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |          FROM sh a JOIN sh b
      |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |jacc AS (SELECT doc_a, doc_b
      |         FROM pairs p
      |         JOIN sizes sa ON p.doc_a = sa.doc_id
      |         JOIN sizes sb ON p.doc_b = sb.doc_id
      |         WHERE p.inter / (sa.n + sb.n - p.inter) >= 0.2),
      |edges AS (SELECT doc_a, doc_b FROM jacc
      |          UNION ALL SELECT doc_b, doc_a FROM jacc),
      |reach AS (
      |  SELECT doc_id AS a, doc_id AS b FROM documents
      |  UNION
      |  SELECT r.a, e.doc_b AS b FROM reach r JOIN edges e ON r.b = e.doc_a),
      |labels AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
      |SELECT doc_id, cluster_id,
      |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      |FROM labels
      |ORDER BY doc_id""".stripMargin

  /** q103 — cluster representative selection: what a dedup pipeline
    * actually EMITS. q63's keep-one policy is "minimum id"; production
    * pipelines keep the best-quality member (longest text is the
    * standard heuristic — e.g. RefinedWeb keeps the longest of a dup
    * pair). One row per multi-member near-dup cluster: the
    * representative (max n_chars, ties to the smaller doc_id via a
    * struct-ordered max_by — deterministic), member count, and the
    * character mass dropped by keeping only the representative.
    *
    * Scale shape: the CC labels (O(|docs with an edge|)) join the
    * documents dimension on doc_id and reduce per cluster — one
    * hash-partitioned aggregate, no windows over the corpus. The oracle
    * replays CC with the shared recursive CTE; its labels cover ALL docs
    * (reach seeds from `documents`), so it filters to n_members ≥ 2 —
    * exactly the clusters the edge-seeded Spark labels contain. */
  def q103ClusterRep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels =
      connectedComponents(jaccardPairs(s, dir).select($"doc_a", $"doc_b"))
    // ordering key packed into ONE long (n_chars·2³² − doc_id): max picks
    // the longest member, ties resolve to the smaller doc_id — identical
    // to the former struct(n_chars, -doc_id) ordering, but a primitive
    // buffer keeps the aggregate in a codegen'd HashAggregate where the
    // struct key forced a SortAggregate (r11 tail-variance suspect).
    // The packing is only an ORDER embedding inside [0 ≤ doc_id < 2³²,
    // 0 ≤ n_chars < 2³¹]; outside it the key wraps and SILENTLY elects a
    // wrong representative, so the domain is enforced map-side with
    // raise_error (review find: a comment is not a guard; a >4.3B-doc
    // corpus is exactly the regime this file targets) — zero extra jobs,
    // stays inside codegen.
    labels.join(docs(s, dir).select($"doc_id", $"n_chars"), Seq("doc_id"))
      .groupBy($"label".as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max_by($"doc_id", expr(
          """CASE WHEN doc_id BETWEEN 0 AND 4294967295 AND
            |          n_chars BETWEEN 0 AND 2147483647
            |     THEN CAST(n_chars AS BIGINT) * 4294967296 - doc_id
            |     ELSE CAST(raise_error(concat('q103 packed ordering key ',
            |          'domain exceeded: doc_id=', doc_id, ' n_chars=',
            |          n_chars, ' — use the struct ordering')) AS BIGINT)
            |END""".stripMargin)).as("rep_doc"),
        max($"n_chars").as("rep_chars"),
        sum($"n_chars").as("total_chars"))
      .select($"cluster_id", $"n_members", $"rep_doc", $"rep_chars",
        ($"total_chars" - $"rep_chars").as("chars_dropped"))
      .orderBy($"cluster_id")
  }

  val q103Oracle: String =
    s"""WITH RECURSIVE $clusterSqlCtes,
      |m AS (SELECT l.cluster_id, d.doc_id, d.n_chars,
      |        row_number() OVER (PARTITION BY l.cluster_id
      |          ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
      |        count(*) OVER (PARTITION BY l.cluster_id) AS n_members,
      |        sum(d.n_chars) OVER (PARTITION BY l.cluster_id) AS total_chars
      |      FROM labels l JOIN documents d USING (doc_id))
      |SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
      |       doc_id AS rep_doc, n_chars AS rep_chars,
      |       CAST(total_chars - n_chars AS BIGINT) AS chars_dropped
      |FROM m WHERE rn = 1 AND n_members >= 2
      |ORDER BY cluster_id""".stripMargin

  /** q70 — train/eval NEAR-DUP contamination: an eval doc sharing an LSH
    * band bucket with any train doc is a contamination candidate — the
    * leak that poisons benchmarks, caught BEFORE the eval set ships.
    * The q59 split assigns by doc_id, so content near-duplicates cross
    * split boundaries; exact-digest contamination is the trivial variant
    * (digest semi-join — this fixture has no exact cross-split copies,
    * so the near-dup form is the one that detects anything). At 100 TB
    * the probe is a semi-join of eval band keys against the train band
    * set: bytes ∝ 4 band rows per doc, never text — and the incremental
    * twin is DedupIndexStream's band index probed with the eval Δ. */
  def q70Contamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val bucket = substring(md5(concat(lit("split:"), $"doc_id")), 1, 1)
    val sp = d.select($"doc_id",
      when(bucket.isin("c", "d"), "val")
        .when(bucket.isin("e", "f"), "test")
        .otherwise("train").as("split"))
    val bands = lshBands(minhashWide(
      d.repartition(Tables.fanoutParallelism(s, dir, "documents"))))
      .join(sp, "doc_id")
    val trainBuckets = bands.filter($"split" === "train")
      .select($"band", $"bkey").distinct()
    val hits = bands.filter($"split" =!= "train")
      .join(trainBuckets, Seq("band", "bkey"), "left_semi")
      .select($"doc_id").distinct()
      .withColumn("hit", lit(1L))
    sp.filter($"split" =!= "train")
      .join(hits, Seq("doc_id"), "left")
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce($"hit", lit(0L))).as("n_near_contaminated"))
      .orderBy($"split")
  }

  val q70Oracle: String =
    s"""WITH $shingleSqlCte,
      |sigs AS (SELECT doc_id, seed,
      |                min(substr(md5(shingle), CAST(4 * seed + 1 AS INT), 4)) AS mh
      |         FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed) sd
      |         GROUP BY doc_id, seed),
      |bands AS (SELECT doc_id, CAST(floor(seed / 2) AS INT) AS band,
      |                 string_agg(mh, '|' ORDER BY seed) AS bkey
      |          FROM sigs GROUP BY 1, 2),
      |sp AS (SELECT doc_id,
      |         CASE WHEN substr(md5('split:' || doc_id), 1, 1) IN ('c', 'd') THEN 'val'
      |              WHEN substr(md5('split:' || doc_id), 1, 1) IN ('e', 'f') THEN 'test'
      |              ELSE 'train' END AS split
      |       FROM documents),
      |tb AS (SELECT DISTINCT band, bkey FROM bands JOIN sp USING (doc_id)
      |       WHERE split = 'train'),
      |hits AS (SELECT DISTINCT b.doc_id FROM bands b JOIN sp USING (doc_id)
      |         JOIN tb USING (band, bkey) WHERE sp.split <> 'train')
      |SELECT sp.split, count(*) AS n_docs,
      |       CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_near_contaminated
      |FROM sp LEFT JOIN hits h ON sp.doc_id = h.doc_id
      |WHERE sp.split <> 'train'
      |GROUP BY sp.split
      |ORDER BY sp.split""".stripMargin

  /** q112 — n-gram novelty saturation curve (the "is more data still
    * new?" acquisition question): a shingle's OWNER is the minimum
    * doc_id containing it (arrival-order proxy — the fixture assigns ids
    * in generation order); a document's novelty is the fraction of its
    * distinct shingles it owns. Documents bucket into 10 arrival deciles
    * and the curve of average novelty per decile shows whether late data
    * still contributes unseen n-grams — the relational form of the
    * "fraction of new tokens" curves in dataset-scaling studies (e.g.
    * Lee et al. 2022's duplicate-growth analysis).
    *
    * Decile boundaries derive from min/max doc_id ARITHMETICALLY (a
    * 1-row broadcast aggregate) — no corpus-wide ntile window, the q87
    * lesson. Scale shape: one distinct-shingle shuffle keyed by the
    * 8-byte shingle id, a min-reduction to owners (map-combinable), and
    * a shingle-keyed equi-join the AQE exchange reuse shares with the
    * reduction's shuffle. All counts exact longs until one final
    * rounded division. */
  def q112NgramNovelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // NOT widened beyond the 64 KB/task default (round 22 measured
    // negative result): 16 KB/task (9→32 tasks) read consistently ~10%
    // SLOWER in paired bench runs — the per-task fixed cost on the
    // already-8×-efficient shingle stages outweighed the wall saving.
    val par = Tables.fanoutParallelism(s, dir, "documents")
    val sh = shingleIdsWithDup(docs(s, dir).repartition(par)).distinct()
    val owners = sh.groupBy($"sh64").agg(min($"doc_id").as("owner"))
    val perDoc = sh.join(owners, Seq("sh64"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when($"doc_id" === $"owner", 1L).otherwise(0L)).as("n_new"))
    val bounds = perDoc.agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"))
    perDoc.crossJoin(broadcast(bounds))
      .withColumn("decile", least(lit(9),
        floor(($"doc_id" - $"mn") * 10 / ($"mx" - $"mn" + 1)).cast("int")))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_sh").as("n_shingles"),
        sum($"n_new").as("n_novel"),
        round(avg($"n_new".cast("double") / $"n_sh"), 6).as("avg_novelty"))
      .orderBy($"decile")
  }

  val q112Oracle: String =
    s"""WITH $shingleSqlCte,
      |ish AS (SELECT DISTINCT doc_id,
      |          CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS sh64
      |        FROM sh),
      |owners AS (SELECT sh64, min(doc_id) AS owner FROM ish GROUP BY 1),
      |perdoc AS (SELECT i.doc_id, count(*) AS n_sh,
      |             CAST(sum(CASE WHEN i.doc_id = o.owner THEN 1 ELSE 0 END)
      |               AS BIGINT) AS n_new
      |           FROM ish i JOIN owners o ON i.sh64 = o.sh64
      |           GROUP BY 1),
      |bounds AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM perdoc)
      |SELECT CAST(least(9, floor((doc_id - mn) * 10 / (mx - mn + 1))) AS INT)
      |         AS decile,
      |       count(*) AS n_docs,
      |       CAST(sum(n_sh) AS BIGINT) AS n_shingles,
      |       CAST(sum(n_new) AS BIGINT) AS n_novel,
      |       round(avg(CAST(n_new AS DOUBLE) / n_sh), 6) AS avg_novelty
      |FROM perdoc, bounds
      |GROUP BY 1 ORDER BY decile""".stripMargin

  /** q114 — per-source marginal-novelty attribution (the data-acquisition
    * ledger: which sources still pay for themselves?): a distinct shingle
    * is OWNED by its minimum doc_id (first arrival — q112's attribution
    * rule); a source's novelty ratio is shingles-it-introduced over
    * distinct-shingles-it-contains. A source near 0 is re-crawling what
    * the corpus already has; near 1 it is contributing genuinely new
    * text — the per-source form of q112's arrival-decile curve, and the
    * number a 100 TB pipeline uses to deprioritize a feed.
    *
    * Scale shape: two shingle-id-keyed shuffles (the min-owner reduction
    * and the per-(source, shingle) distinct — both map-combinable over
    * 8-byte longs), one doc_id-keyed equi-join to recover the owner's
    * source, then source-sized rollups. No windows, no driver state; all
    * counts exact longs until one final rounded division. */
  def q114SourceNovelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val par = Tables.fanoutParallelism(s, dir, "documents")
    val d = docs(s, dir)
    val src = d.select($"doc_id", $"source")
    val ish = shingleIdsWithDup(d.repartition(par)).distinct()
    val owned = ish.groupBy($"sh64").agg(min($"doc_id").as("doc_id"))
      .join(src, Seq("doc_id"))
      .groupBy($"source").agg(count(lit(1)).as("owned"))
    val appearing = ish.join(src, Seq("doc_id"))
      .select($"source", $"sh64").distinct()
      .groupBy($"source").agg(count(lit(1)).as("appearing"))
    noveltyAssemble(
      src.groupBy($"source").agg(count(lit(1)).as("n_docs")),
      appearing, owned)
  }

  /** q114's final projection from the three source-keyed margins —
    * shared with the streaming maintainer (NoveltyStream) so the
    * incremental report face IS the batch report, by construction. */
  private[graft] def noveltyAssemble(nd: DataFrame, appearing: DataFrame,
      owned: DataFrame): DataFrame =
    nd.join(appearing, Seq("source"), "left")
      .join(owned, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("appearing"), lit(0L)).as("appearing"),
        coalesce(col("owned"), lit(0L)).as("owned"),
        when(coalesce(col("appearing"), lit(0L)) === 0L, lit(0.0))
          .otherwise(round(coalesce(col("owned"), lit(0L)).cast("double")
            / col("appearing"), 6)).as("novelty_ratio"))
      .orderBy(col("source"))

  val q114Oracle: String =
    s"""WITH $shingleSqlCte,
      |ish AS (SELECT DISTINCT doc_id,
      |          CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS sh64
      |        FROM sh),
      |own AS (SELECT d.source, count(*) AS owned
      |        FROM (SELECT sh64, min(doc_id) AS doc_id FROM ish GROUP BY 1) o
      |        JOIN documents d ON o.doc_id = d.doc_id
      |        GROUP BY 1),
      |app AS (SELECT source, count(*) AS appearing
      |        FROM (SELECT DISTINCT d.source, i.sh64
      |              FROM ish i JOIN documents d ON i.doc_id = d.doc_id)
      |        GROUP BY 1),
      |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
      |SELECT nd.source, nd.n_docs,
      |       COALESCE(app.appearing, 0) AS appearing,
      |       COALESCE(own.owned, 0) AS owned,
      |       CASE WHEN COALESCE(app.appearing, 0) = 0 THEN 0.0
      |            ELSE round(CAST(COALESCE(own.owned, 0) AS DOUBLE)
      |                       / app.appearing, 6) END AS novelty_ratio
      |FROM nd
      |LEFT JOIN app ON nd.source = app.source
      |LEFT JOIN own ON nd.source = own.source
      |ORDER BY nd.source""".stripMargin

  /** q117 — pairwise source-overlap matrix: shingle-set Jaccard between
    * every pair of sources that share at least one 3-gram. The
    * acquisition-dedup question q114 cannot answer: q114 says a source
    * is re-crawling ALREADY-SEEN text, this says WHICH OTHER FEED it
    * mirrors — the evidence for dropping one of two mirrored crawls
    * outright rather than deduping their union forever.
    *
    * Scale shape: the q27 pair-kernel discipline applied to the SOURCE
    * dimension — group the distinct (source, shingle) membership by
    * shingle id, expand i<j source pairs INSIDE the task (fan-out is
    * |sources-per-shingle|² where source is a bounded dimension — a
    * corpus whose "source" is an unbounded URL should bucket to domains
    * first), one (src_a, src_b) count aggregate, then two broadcast
    * joins against the |sources|-row size table. The shingle stream
    * crosses the wire once, as 8-byte longs. */
  def q117SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val par = Tables.fanoutParallelism(s, dir, "documents")
    // same grouped-shingle state shape as the pair kernel (group count
    // = distinct shingles) → same stat-derived reducer sizing; the
    // width also drives the pair-stage repartition below, so the call
    // is load-bearing in the plan, not just a conf side effect
    // (review find: a bare discarded call reads as dead code and would
    // not survive a cleanup pass)
    val pairPar = sizedPairPar(s, dir)
    val d = docs(s, dir)
    val src = d.select($"doc_id", $"source")
    // ONE distinct (round 21): the former per-doc (doc_id, sh64)
    // distinct before the join was subsumed by the (source, sh64)
    // distinct after it — same set out, one less full shuffle of the
    // shingle stream (the multiplicity the join now carries is folded
    // by the surviving distinct's map-side partial dedup).
    // Round 22: the distinct rides an explicit sh64-keyed exchange —
    // HashPartitioning(sh64) satisfies the (source, sh64) clustering
    // the distinct needs (sh64 ⊆ the grouping keys), so dedup, the
    // per-shingle collect_set AND the i<j expansion all run in the ONE
    // post-exchange stage (formerly: distinct exchange + group exchange
    // + round-robin spread exchange). The explicit REPARTITION_BY_NUM
    // width keeps the stage wide under AQE (the q109/jaccard kernel
    // treatment; same set out, oracle hash unchanged).
    val mem = shingleIdsWithDup(d.repartition(par))
      .join(src, Seq("doc_id"))
      .select($"source", $"sh64")
      .repartition(pairPar, $"sh64")
      .distinct()
    val sizes = mem.groupBy($"source").agg(count(lit(1)).as("n"))
    val groupedSrc = mem.groupBy($"sh64")
      .agg(array_sort(collect_set($"source")).as("ss"))
      .filter(size($"ss") > 1)
    val inter = expandPairs(groupedSrc, "ss", "src_a", "src_b")
      .repartition(pairPar, $"src_a", $"src_b")
      .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select($"source".as("src_a"), $"n".as("n_a"))),
        Seq("src_a"))
      .join(broadcast(sizes.select($"source".as("src_b"), $"n".as("n_b"))),
        Seq("src_b"))
      .select($"src_a", $"src_b", $"inter",
        ($"n_a" + $"n_b" - $"inter").as("n_union"),
        round($"inter".cast("double") / ($"n_a" + $"n_b" - $"inter"), 6)
          .as("jaccard"))
      .orderBy($"src_a", $"src_b")
  }

  val q117Oracle: String =
    s"""WITH $shingleSqlCte,
      |ish AS (SELECT DISTINCT doc_id,
      |          CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS sh64
      |        FROM sh),
      |mem AS (SELECT DISTINCT d.source, i.sh64
      |        FROM ish i JOIN documents d ON i.doc_id = d.doc_id),
      |sizes AS (SELECT source, count(*) AS n FROM mem GROUP BY 1),
      |inter AS (SELECT a.source AS src_a, b.source AS src_b,
      |            count(*) AS inter
      |          FROM mem a JOIN mem b
      |            ON a.sh64 = b.sh64 AND a.source < b.source
      |          GROUP BY 1, 2)
      |SELECT i.src_a, i.src_b, CAST(i.inter AS BIGINT) AS inter,
      |       CAST(sa.n + sb.n - i.inter AS BIGINT) AS n_union,
      |       round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6)
      |         AS jaccard
      |FROM inter i
      |JOIN sizes sa ON i.src_a = sa.source
      |JOIN sizes sb ON i.src_b = sb.source
      |ORDER BY 1, 2""".stripMargin

  /** q120 — SimHash Hamming-distance dedup via pigeonhole banding
    * (Manku, Jain & Das Sarma, WWW 2007 — the production web-dedup
    * construction): a 32-bit simhash (every md5 hex digit votes one
    * bit) splits into 4 × 8-bit bands; Hamming distance ≤ 3 ⟹ at least
    * one band matches EXACTLY (4 differing bits would be needed to
    * touch all 4 bands), so candidates come from band-value equi-joins
    * and only candidates pay the bit_count verify. Output is the
    * per-distance pair histogram with an order-independent checksum —
    * corpus-size-independent row count, full kernel exercised.
    *
    * Stop-bucket cap (the q28 discipline, and on THIS fixture a real
    * one: the synthetic docs share one bag-of-words mode, so one band
    * value holds 65% of the corpus): each (band, value) bucket is
    * grouped into one `collect_list` of its (doc_id, simhash) structs,
    * and buckets holding more than [[SimhashBucketCap]] docs are dropped
    * before that collect (a per-bucket count and a broadcast anti-join),
    * making the cap part of the operator's semantics, mirrored in the
    * oracle. No task builds a hot bucket's member list — 65% of the
    * corpus on this fixture; the cap bounds both the grouped row and the
    * pair fan-out. Production uses a 64-bit
    * simhash with 16-bit bands (65 536 values/band) where buckets stay
    * sparse on a deduplicated web corpus; the cap is the guard for the
    * adversarial/degenerate tail either way. */
  def q120SimhashHamming(s: SparkSession, dir: String): DataFrame = {
    val par = Tables.fanoutParallelism(s, dir, "documents")
    simhashHammingReport(simhash32(docs(s, dir).repartition(par)))
  }

  /** 32-bit simhash per document (every md5 hex digit of every token
    * votes one ± bit) — q29's 16-bit construction widened; the
    * minhashWide single-aggregation pattern (32 sum columns, one pass,
    * map-side partials). `private[graft]` so the q120 spec can
    * brute-force all-pairs Hamming from the same signatures. */
  private[graft] def simhash32(documents: DataFrame): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    val toks = documents
      .select($"doc_id", explode(split($"text", " ")).as("token"))
      .withColumn("h", md5($"token"))
    val bitAggs = (1 to 32).map { j =>
      sum(when(expr(
        s"substr(h, $j, 1) IN ('8','9','a','b','c','d','e','f')"), 1)
        .otherwise(-1)).as(s"sgn$j")
    }
    toks.groupBy($"doc_id").agg(bitAggs.head, bitAggs.tail: _*)
      .select($"doc_id",
        (1 to 32).map(j =>
          when(col(s"sgn$j") > 0, lit(1L << (j - 1))).otherwise(0L))
          .reduce(_ + _).as("sh"))
  }

  /** Banding + capped candidate generation + verify + histogram over a
    * (doc_id, sh) signature frame — q120's kernel after signatures.
    *
    * Round 22: the former cold-bucket SELF-JOIN (plus the hot-bucket
    * broadcast anti-join both sides consumed) re-derived the signature
    * pipeline four times in the plan and cost ~18 AQE stages of driver
    * planning; candidates now come from the pair-expansion kernel —
    * group the band rows of the under-cap buckets, and expand i<j
    * (doc, sh) struct pairs IN-TASK ([[expandPairs]]; sort_array on the struct orders by
    * the unique doc_id, so i<j ⟺ doc_a < doc_b). Same candidate set,
    * same distinct, same histogram — oracle hash unchanged. */
  private[graft] def simhashHammingReport(sims: DataFrame): DataFrame = {
    val s = sims.sparkSession
    import s.implicits._
    val par = s.sparkContext.defaultParallelism
    val bands = sims
      .select($"doc_id", $"sh", explode(expr("sequence(0, 3)")).as("b"))
      .withColumn("bv",
        expr("(sh div CAST(pow(256, b) AS BIGINT)) % 256"))
    // over-cap buckets drop BEFORE the collect, as in
    // [[cappedBandCandidates]]: a map-side-combined count per bucket and
    // a broadcast anti-join against the (rare, tiny) hot set, so no task
    // ever builds a hot bucket's member list
    val hot = bands.groupBy($"b", $"bv").count()
      .filter($"count" > SimhashBucketCap)
      .select($"b", $"bv")
    val buckets = bands.join(broadcast(hot), Seq("b", "bv"), "left_anti")
      .repartition(par, $"b", $"bv")
      .groupBy($"b", $"bv")
      .agg(sort_array(collect_list(struct($"doc_id", $"sh"))).as("ds"))
      .filter(size($"ds") > 1)
    val cand = expandPairs(buckets, "ds", "pa", "pb")
      .select($"pa.doc_id".as("doc_a"), $"pb.doc_id".as("doc_b"),
        $"pa.sh".as("sha"), $"pb.sh".as("shb"))
      .repartition(par, $"doc_a", $"doc_b")
      .distinct()
    cand
      .withColumn("hamming", expr("CAST(bit_count(sha ^ shb) AS BIGINT)"))
      .filter($"hamming" <= 3)
      .groupBy($"hamming")
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("""CAST(conv(substr(md5(concat(doc_a, ':', doc_b)), 1, 15),
                   |  16, 10) AS BIGINT) % 1000000000""".stripMargin))
          .as("pair_checksum"))
      .orderBy($"hamming")
  }

  private[graft] val SimhashBucketCap = 512

  val q120Oracle: String =
    s"""WITH toks AS (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h
      |              FROM documents),
      |perbit AS (SELECT doc_id, j,
      |             CASE WHEN substr(h, CAST(j AS INT), 1)
      |                    IN ('8','9','a','b','c','d','e','f')
      |                  THEN 1 ELSE -1 END AS contrib
      |           FROM toks,
      |             LATERAL (SELECT unnest(generate_series(1, 32)) AS j) g),
      |bits AS (SELECT doc_id, j, sum(contrib) AS sgn FROM perbit GROUP BY 1, 2),
      |sims AS (SELECT doc_id,
      |           CAST(sum(CASE WHEN sgn > 0
      |                         THEN CAST(pow(2, j - 1) AS BIGINT)
      |                         ELSE 0 END) AS BIGINT) AS sh
      |         FROM bits GROUP BY 1),
      |bands0 AS (SELECT doc_id, sh, b,
      |             (sh // CAST(pow(256, b) AS BIGINT)) % 256 AS bv
      |           FROM sims,
      |             LATERAL (SELECT unnest(generate_series(0, 3)) AS b) g),
      |bands AS (SELECT doc_id, sh, b, bv FROM (
      |            SELECT *, count(*) OVER (PARTITION BY b, bv) AS df
      |            FROM bands0)
      |          WHERE df <= $SimhashBucketCap),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |           a.sh AS sha, b.sh AS shb
      |         FROM bands a JOIN bands b
      |           ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id),
      |hm AS (SELECT doc_a, doc_b,
      |         CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
      |       FROM cand WHERE bit_count(xor(sha, shb)) <= 3)
      |SELECT hamming, count(*) AS n_pairs,
      |       CAST(sum(CAST('0x' || substr(md5(doc_a || ':' || doc_b), 1, 15)
      |                     AS BIGINT) % 1000000000) AS BIGINT)
      |         AS pair_checksum
      |FROM hm GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q112_ngram_novelty" -> q112NgramNovelty _,
    "q114_source_novelty" -> q114SourceNovelty _,
    "q117_source_overlap" -> q117SourceOverlap _,
    "q120_simhash_hamming" -> q120SimhashHamming _,
    "q70_contamination" -> q70Contamination _,
    "q63_dedup_retention" -> q63DedupRetention _,
    "q53_dedup_clusters" -> q53DupClusters _,
    "q40_dedup_embedding_cosine" -> q40EmbeddingNearDup _,
    "q26_dedup_exact" -> q26DedupExact _,
    "q27_dedup_ngram_jaccard" -> q27NgramJaccard _,
    "q28_dedup_minhash_lsh" -> q28MinHashLsh _,
    "q29_dedup_simhash" -> q29SimHash _,
    "q103_cluster_rep" -> q103ClusterRep _,
    "q108_lsh_evaluation" -> q108LshEvaluation _,
    "q126_minhash_calibration" -> q126MinhashCalibration _)

  val oracle: Map[String, String] = Map(
    "q112_ngram_novelty" -> q112Oracle,
    "q114_source_novelty" -> q114Oracle,
    "q117_source_overlap" -> q117Oracle,
    "q120_simhash_hamming" -> q120Oracle,
    "q70_contamination" -> q70Oracle,
    "q63_dedup_retention" -> q63Oracle,
    "q53_dedup_clusters" -> q53Oracle,
    "q40_dedup_embedding_cosine" -> q40Oracle,
    "q26_dedup_exact" -> q26Oracle,
    "q27_dedup_ngram_jaccard" -> q27Oracle,
    "q28_dedup_minhash_lsh" -> q28Oracle,
    "q29_dedup_simhash" -> q29Oracle,
    "q103_cluster_rep" -> q103Oracle,
    "q108_lsh_evaluation" -> q108Oracle,
    "q126_minhash_calibration" -> q126Oracle)
}
