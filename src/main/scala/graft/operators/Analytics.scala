package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Data-layout and behavioral-analytics operators:
  *
  *  - q87: Z-order (Morton-curve) layout — the multi-dimensional
  *    clustering trick behind Delta OPTIMIZE ZORDER BY / Iceberg sort
  *    orders: interleave the bits of two filter dimensions so a sort on
  *    the single Z value co-locates rows that are close in BOTH
  *    dimensions, making per-file min/max ranges tight enough for scan
  *    pruning on either column.
  *  - q88: funnel analysis (view → click → purchase with strict
  *    temporal ordering), cohorted by the week of the user's first view.
  *  - q89: cohort retention — users bucketed by first-activity week,
  *    counted in each subsequent week they return.
  *
  * Scale shape: q87's presentation ntile is the fixture stand-in for
  * `repartitionByRange($"z")` + per-task file writes — at 100 TB the
  * range exchange samples Z values and writes one file per range, no
  * global window anywhere; min/max-per-file is exactly the parquet
  * footer stats the layout exists to tighten. q88/q89 shuffle once on
  * user_id (every per-user reduction pipelines into the same exchange)
  * and then once more on week keys whose cardinality is the calendar,
  * not the corpus.
  */
object Analytics {

  /** Morton interleave of two 8-bit bucketed ints, built from shift/and
    * primitives that exist verbatim in both engines. (private[graft]:
    * LayoutAnalyticsSpec reuses it to prove the repartitionByRange form
    * keeps the balanced-envelope property.) */
  private[graft] def zExpr(x: String, y: String): String =
    (0 until 8).map { i =>
      s"(shiftleft(shiftright($x, $i) & 1, ${2 * i}) | " +
        s"shiftleft(shiftright($y, $i) & 1, ${2 * i + 1}))"
    }.mkString(" | ")

  // ---------------------------------------------------------------- q87

  /** q87 — Z-order layout quality: bucket lineitem's two join/filter
    * dimensions to 8 bits, interleave into a Morton code, lay rows out
    * in Z order across 16 files, and report each file's (min, max)
    * envelope per dimension. The honest figure of merit — measured, not
    * assumed — is NOT total envelope area (at a coarse 16-file split
    * both layouts tile ~the same total area): it is the WORST-DIMENSION
    * pruning factor. A linear sort is perfect on its sort column and
    * useless on the other (every file spans the full second dimension,
    * so a predicate on it hits all 16 files); the Z layout bounds both,
    * cutting worst-dimension expected-files-hit from ~16 to ~6 at this
    * geometry (LayoutAnalyticsSpec pins the comparison). That balanced
    * bound is why Delta OPTIMIZE ZORDER / Iceberg sort orders exist.
    *
    * Scale shape — NO global window anywhere (the round-7 form ran a
    * single-partition ntile over the whole fact table): the global Z
    * position of a row decomposes as `prefix(z) + rank-within-z`,
    * where rank-within-z is a PARTITIONED window (≤ 2¹⁶ Morton keys)
    * and prefix(z) is a running sum over the z HISTOGRAM — at most
    * 65536 rows regardless of corpus size, i.e. bounded driver model
    * state (the q86-centroid pattern), broadcast back. The file split
    * is equal-width in position: `file = (pos-1)·16 div N + 1` — the
    * same ±1-row balance as ntile, exact in integer arithmetic on both
    * engines. Tiebreak (l_orderkey, l_linenumber, x, l_suppkey) makes
    * the position total ((l_orderkey, l_linenumber) is NOT unique in
    * the fixture); rows still tied are full-payload duplicates,
    * interchangeable for every per-file stat. */
  def q87ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Round 22 (the VERDICT-r21 "re-measure under cached-plan AQE" item):
    // ONE z-keyed explicit-width shuffle, CACHED. The histogram branch
    // and the rank window both need clustering by z; the explicit
    // REPARTITION_BY_NUM width survives the cache (AQE cannot coalesce
    // it), so the window pass reads the cached frame with NO exchange
    // and NO second parquet scan+Morton recompute, and the sort runs at
    // full width instead of the 2 byte-coalesced tasks the probe
    // measured. The cache is |lineitem|×5 narrow ints (MEMORY_AND_DISK —
    // spills, never OOMs, and this layout query materializes the table
    // at scale anyway); released before returning (q127 discipline).
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_suppkey",
        ($"l_partkey" % 256).cast("int").as("x"),
        ($"l_orderkey" % 256).cast("int").as("y"))
      .withColumn("z", expr(zExpr("x", "y")))
      .repartition(s.sparkContext.defaultParallelism, $"z")
      .cache()
    val wz = Window.partitionBy($"z")
      .orderBy($"l_orderkey", $"l_linenumber", $"x", $"l_suppkey")
    val ranked = li.withColumn("rz", row_number().over(wz))
    // both collects below run jobs over the cache: release it on every
    // exit, a failed job included
    try {
      // z histogram: ≤ 2¹⁶ (z, count) rows however large the table —
      // prefix-summed on the driver, broadcast back as (z, cum-before)
      val hist = li.groupBy($"z").agg(count(lit(1)).as("c"))
        .orderBy($"z").collect()
      val n = hist.iterator.map(_.getLong(1)).sum
      var running = 0L
      val offsets = hist.toSeq.map { r =>
        val o = (r.getInt(0), running); running += r.getLong(1); o
      }.toDF("z", "cum")
      val report = ranked.join(broadcast(offsets), Seq("z"))
        .withColumn("file_id",
          expr(s"cast(((cum + rz - 1) * 16) div ${math.max(n, 1L)} as int) + 1"))
        .groupBy($"file_id")
        .agg(count(lit(1)).as("n_rows"),
          min($"x").as("min_x"), max($"x").as("max_x"),
          min($"y").as("min_y"), max($"y").as("max_y"))
        .withColumn("envelope_area",
          (($"max_x" - $"min_x" + 1) * ($"max_y" - $"min_y" + 1)).cast("long"))
        .orderBy($"file_id")
      val rows = report.collect() // bounded: 16 file rows
      s.createDataFrame(java.util.Arrays.asList(rows: _*), report.schema)
    } finally li.unpersist()
  }

  val q87Oracle: String = {
    val z = (0 until 8).map { i =>
      s"(((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" | ")
    s"""WITH b AS (SELECT l_orderkey, l_linenumber, l_suppkey,
       |             CAST(l_partkey % 256 AS INT) AS x,
       |             CAST(l_orderkey % 256 AS INT) AS y
       |           FROM lineitem),
       |z AS (SELECT l_orderkey, l_linenumber, l_suppkey, x, y, ($z) AS z
       |      FROM b),
       |rz AS (SELECT x, y, z,
       |         row_number() OVER (PARTITION BY z ORDER BY l_orderkey,
       |           l_linenumber, x, l_suppkey) AS rz
       |       FROM z),
       |hist AS (SELECT z AS hz, count(*) AS c FROM z GROUP BY 1),
       |cum AS (SELECT hz, COALESCE(sum(c) OVER (ORDER BY hz
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |        FROM hist),
       |n AS (SELECT count(*) AS n FROM z),
       |f AS (SELECT x, y,
       |        CAST(((cum.cum + rz.rz - 1) * 16) // n.n AS INT) + 1 AS file_id
       |      FROM rz JOIN cum ON rz.z = cum.hz CROSS JOIN n)
       |SELECT file_id, count(*) AS n_rows,
       |       min(x) AS min_x, max(x) AS max_x,
       |       min(y) AS min_y, max(y) AS max_y,
       |       CAST((max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS BIGINT)
       |         AS envelope_area
       |FROM f GROUP BY file_id
       |ORDER BY file_id""".stripMargin
  }

  // ---------------------------------------------------------------- q88

  /** q88 — three-step funnel with strict temporal ordering and a 24 h
    * conversion window per step: first view, then the first click
    * within 24 h after it, then the first purchase within 24 h after
    * that click, cohorted by the week of the first view. (Unwindowed,
    * this fixture's month of dense activity converts every user —
    * the window is what makes the funnel a funnel.) Each step is a
    * per-user min-reduction joined forward — three aggregations and two
    * user-key joins that all share one user_id exchange; no window
    * function over the full event stream. Counts and
    * exactly-representable rounded ratios only, so the oracle is
    * exact. */
  def q88Funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val day = expr("INTERVAL 24 HOURS")
    val s1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t1"))
    val s2 = ev.filter($"event_type" === "click")
      .join(s1, "user_id")
      .filter($"ts" > $"t1" && $"ts" <= $"t1" + day)
      .groupBy($"user_id").agg(min($"ts").as("t2"))
    val s3 = ev.filter($"event_type" === "purchase")
      .join(s2, "user_id")
      .filter($"ts" > $"t2" && $"ts" <= $"t2" + day)
      .groupBy($"user_id").agg(min($"ts").as("t3"))
    val wk = s1
      .join(s2.select($"user_id", lit(1L).as("clicked")), Seq("user_id"), "left")
      .join(s3.select($"user_id", lit(1L).as("purchased")), Seq("user_id"), "left")
      .withColumn("cohort_week",
        floor(datediff(to_date($"t1"), lit("1970-01-01")) / 7.0).cast("long"))
    wk.groupBy($"cohort_week")
      .agg(count(lit(1)).as("n_view"),
        sum(coalesce($"clicked", lit(0L))).as("n_click"),
        sum(coalesce($"purchased", lit(0L))).as("n_purchase"))
      .withColumn("conv_click",
        round($"n_click".cast("double") / $"n_view", 4))
      .withColumn("conv_purchase",
        round($"n_purchase".cast("double") / $"n_view", 4))
      .orderBy($"cohort_week")
  }

  val q88Oracle: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |            WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2
      |       FROM events e JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'click' AND e.ts > s1.t1
      |         AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3
      |       FROM events e JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |         AND e.ts <= s2.t2 + INTERVAL 24 HOUR GROUP BY 1),
      |wk AS (SELECT s1.user_id,
      |         CAST(floor(date_diff('day', DATE '1970-01-01',
      |           CAST(s1.t1 AS DATE)) / 7.0) AS BIGINT) AS cohort_week,
      |         CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END AS clicked,
      |         CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END AS purchased
      |       FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
      |               LEFT JOIN s3 ON s1.user_id = s3.user_id)
      |SELECT cohort_week, count(*) AS n_view,
      |       CAST(sum(clicked) AS BIGINT) AS n_click,
      |       CAST(sum(purchased) AS BIGINT) AS n_purchase,
      |       round(CAST(sum(clicked) AS DOUBLE) / count(*), 4) AS conv_click,
      |       round(CAST(sum(purchased) AS DOUBLE) / count(*), 4)
      |         AS conv_purchase
      |FROM wk GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q89

  /** q89 — cohort retention: users bucketed by the week of their FIRST
    * PURCHASE; for every later week in which they purchase again, they
    * count toward (cohort_week, week_offset). Purchases, not all
    * events: this fixture's users emit some event every week, so an
    * any-event cohort is flat 100% — the purchase cohorts actually
    * decay. The distinct-collapse happens BEFORE the presentation
    * rollup (one row per user-week), so the heavy reduction rides the
    * same user_id exchange as the first-purchase scan. */
  def q89CohortRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id",
        datediff(to_date($"ts"), lit("1970-01-01")).cast("long").as("d"))
    val first = ev.groupBy($"user_id").agg(min($"d").as("d0"))
    ev.join(first, "user_id")
      .select($"user_id",
        floor($"d0" / 7.0).cast("long").as("cohort_week"),
        floor(($"d" - $"d0") / 7.0).cast("long").as("week_offset"))
      .distinct()
      .groupBy($"cohort_week", $"week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort_week", $"week_offset")
  }

  val q89Oracle: String =
    """WITH ev AS (SELECT user_id,
      |              CAST(date_diff('day', DATE '1970-01-01',
      |                CAST(ts AS DATE)) AS BIGINT) AS d
      |            FROM events WHERE event_type = 'purchase'),
      |f AS (SELECT user_id, min(d) AS d0 FROM ev GROUP BY 1),
      |x AS (SELECT DISTINCT ev.user_id,
      |        CAST(floor(f.d0 / 7.0) AS BIGINT) AS cohort_week,
      |        CAST(floor((ev.d - f.d0) / 7.0) AS BIGINT) AS week_offset
      |      FROM ev JOIN f ON ev.user_id = f.user_id)
      |SELECT cohort_week, week_offset, count(*) AS n_users
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q130 — first-order Markov transition matrix over per-user event
    * sequences: P(next event type | current event type), the behavioral
    * model beneath next-action prediction, anomaly scoring ("this
    * transition never happens") and sessionized synthetic-data
    * generation. Adjacency is per USER in (ts, event_id) order — the
    * event_id tiebreak makes the sequence a total order (the q11
    * fixture lesson: timestamps alone tie), so the pair stream is
    * deterministic and the matrix hash-matches the DuckDB replay.
    *
    * Scale shape: ONE lag window partitioned by user_id (per-user
    * sequences sort within their partition; no global order exists or
    * is needed), then a types²-sized count aggregate — 25 rows here,
    * bounded by the event-type vocabulary at any corpus size. The row
    * probability is one double division of exact int64 counts. */
  /** THE per-user adjacency-pair stream — the one copy of the
    * (ts, event_id)-ordered lead window q130/q131/q132/q134 all build
    * on (review find: four verbatim copies meant a tiebreak change had
    * to be edited four times). Emits (user_id, from_type, to_type,
    * next_ts_gap-capable columns). */
  private def transitionPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .withColumn("next_ts", lead($"ts", 1).over(w))
      .filter($"next_type".isNotNull)
      .select($"user_id", $"ts", $"next_ts",
        $"event_type".as("from_type"), $"next_type".as("to_type"))
  }

  def q130MarkovTransitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // Row total via a window over the types²-row count frame (round 22):
    // the former groupBy(from)+join re-derived the whole scan→window→agg
    // subtree for the rowTot side (two parquet scans, two user windows
    // in the plan) and paid a broadcast build; sum(n) over
    // (PARTITION BY from_type) is the identical row_n on the 25-row
    // aggregate, one linear pipeline.
    transitionPairs(s, dir)
      .groupBy($"from_type", $"to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("row_n", sum($"n").over(Window.partitionBy($"from_type")))
      .select($"from_type", $"to_type", $"n",
        round($"n" / $"row_n".cast("double"), 6).as("p"))
      .orderBy($"from_type", $"to_type")
  }

  val q130Oracle: String =
    """WITH seq AS (SELECT user_id, event_type,
      |               lead(event_type) OVER (PARTITION BY user_id
      |                 ORDER BY ts, event_id) AS next_type
      |             FROM events),
      |pairs AS (SELECT event_type AS from_type, next_type AS to_type,
      |            count(*) AS n
      |          FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |rt AS (SELECT from_type, sum(n) AS row_n FROM pairs GROUP BY 1)
      |SELECT p.from_type, p.to_type, CAST(p.n AS BIGINT) AS n,
      |       round(CAST(p.n AS DOUBLE) / CAST(rt.row_n AS DOUBLE), 6) AS p
      |FROM pairs p JOIN rt ON p.from_type = rt.from_type
      |ORDER BY p.from_type, p.to_type""".stripMargin

  /** q131 — dwell-time distribution per transition: q130 says WHICH
    * action follows; this says HOW LONG it takes — per (from, to) pair,
    * the count, nearest-rank median and p90, and mean gap in whole
    * seconds. The latency model behind session-timeout tuning (q43's
    * gap threshold becomes a measured quantile instead of a guess) and
    * abandoned-flow detection.
    *
    * Exactness/scale: gaps are integer seconds ((µs_next − µs) div 1e6
    * — same truncation both engines); quantiles use the q116
    * value-histogram cumsum, with the window PARTITIONED BY the
    * transition pair (histogram-sized per pair, never a corpus sort);
    * mean is one double division of exact int64 sums, rounded. Output
    * is types²-bounded. */
  def q131TransitionDwell(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val gaps = transitionPairs(s, dir)
      .select($"from_type", $"to_type",
        expr("(unix_micros(next_ts) - unix_micros(ts)) div 1000000")
          .as("gap_s"))
    // Totals from the HISTOGRAM, not a second pass over gaps (round 22):
    // the former tot = gaps.groupBy(from,to) re-derived the whole
    // scan→user-window→proj subtree (two parquet scans + two windows in
    // the plan) and joined it back; n = Σc and sum_gap = Σ gap·c over
    // the pair's histogram rows are the same exact int64 values, and as
    // whole-partition window sums they ride the cum window's exchange —
    // one scan, one lead window, no join, 6 exchanges → 4 (incl. the
    // 25-row sort). HashPartitioning(from,to) satisfies the final
    // groupBy's clustering (subset), so no further exchange.
    val hist = gaps.groupBy($"from_type", $"to_type", $"gap_s")
      .agg(count(lit(1)).as("c"))
    val wp = Window.partitionBy($"from_type", $"to_type")
    val cum = hist
      .withColumn("cum", sum($"c").over(wp.orderBy($"gap_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum($"c").over(wp))
      .withColumn("sum_gap", sum($"gap_s" * $"c").over(wp))
    cum
      .groupBy($"from_type", $"to_type", $"n", $"sum_gap")
      .agg(
        min(when($"cum" >= expr("(n + 1) div 2"), $"gap_s"))
          .as("median_gap_s"),
        min(when($"cum" >= expr("(9 * n + 9) div 10"), $"gap_s"))
          .as("p90_gap_s"))
      .select($"from_type", $"to_type", $"n", $"median_gap_s",
        $"p90_gap_s",
        round($"sum_gap" / $"n".cast("double"), 2).as("mean_gap_s"))
      .orderBy($"from_type", $"to_type")
  }

  val q131Oracle: String =
    """WITH seq AS (SELECT user_id, event_type, ts,
      |               lead(event_type) OVER (PARTITION BY user_id
      |                 ORDER BY ts, event_id) AS next_type,
      |               lead(ts) OVER (PARTITION BY user_id
      |                 ORDER BY ts, event_id) AS next_ts
      |             FROM events),
      |g AS (SELECT event_type AS from_type, next_type AS to_type,
      |        (epoch_us(next_ts) - epoch_us(ts)) // 1000000 AS gap_s
      |      FROM seq WHERE next_type IS NOT NULL),
      |h AS (SELECT from_type, to_type, gap_s, count(*) AS c
      |      FROM g GROUP BY 1, 2, 3),
      |cm AS (SELECT from_type, to_type, gap_s,
      |         sum(c) OVER (PARTITION BY from_type, to_type
      |           ORDER BY gap_s ROWS BETWEEN UNBOUNDED PRECEDING AND
      |           CURRENT ROW) AS cum
      |       FROM h),
      |t AS (SELECT from_type, to_type, count(*) AS n,
      |        sum(gap_s) AS sum_gap
      |      FROM g GROUP BY 1, 2)
      |SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
      |       CAST(min(CASE WHEN cm.cum >= (t.n + 1) // 2
      |                THEN cm.gap_s END) AS BIGINT) AS median_gap_s,
      |       CAST(min(CASE WHEN cm.cum >= (9 * t.n + 9) // 10
      |                THEN cm.gap_s END) AS BIGINT) AS p90_gap_s,
      |       round(CAST(min(t.sum_gap) AS DOUBLE) / CAST(t.n AS DOUBLE), 2)
      |         AS mean_gap_s
      |FROM cm JOIN t ON cm.from_type = t.from_type
      |              AND cm.to_type = t.to_type
      |GROUP BY t.from_type, t.to_type, t.n
      |ORDER BY t.from_type, t.to_type""".stripMargin

  /** q132 — sequence anomaly scoring: APPLY q130's transition model.
    * Each user's event sequence gets the mean log-likelihood of its
    * transitions under the corpus-fitted first-order model; the
    * bottom-10 users are the behavioral outliers (bot traffic, broken
    * clients, fraud — sequences the corpus-level model finds
    * improbable). The model-fit → model-apply pairing mirrors
    * q110/q76: the engine both BUILDS the behavioral model and scores
    * against it in one declarative plan.
    *
    * Determinism: p is a ratio of exact int64 counts, ln is
    * correctly-rounded on both JVMs and DuckDB (the q36/q76 precedent),
    * per-user sums are ≤ sequence-length doubles rounded to 6; the
    * bottom-10 is an ordered limit (TakeOrdered — no global window).
    * Scale: one lag window partitioned by user, the types²-row model
    * broadcast back onto the pair stream, one per-user aggregate. */
  def q132SequenceAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = transitionPairs(s, dir)
      .select($"user_id", $"from_type", $"to_type")
    // row total as a window over the types²-row model (round 22 — the
    // q130 shape: same row_n, no second aggregate, no join-back)
    val p = pairs.groupBy($"from_type", $"to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("row_n",
        sum($"n").over(org.apache.spark.sql.expressions.Window
          .partitionBy($"from_type")))
      .select($"from_type", $"to_type",
        ($"n" / $"row_n".cast("double")).as("p"))
    pairs.join(broadcast(p), Seq("from_type", "to_type"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_transitions"),
        round(avg(log($"p")), 6).as("avg_ll"))
      .orderBy($"avg_ll".asc, $"user_id".asc)
      .limit(10)
  }

  val q132Oracle: String =
    """WITH seq AS (SELECT user_id, event_type,
      |               lead(event_type) OVER (PARTITION BY user_id
      |                 ORDER BY ts, event_id) AS next_type
      |             FROM events),
      |pairs AS (SELECT user_id, event_type AS from_type,
      |            next_type AS to_type
      |          FROM seq WHERE next_type IS NOT NULL),
      |m AS (SELECT from_type, to_type, count(*) AS n
      |      FROM pairs GROUP BY 1, 2),
      |rt AS (SELECT from_type, sum(n) AS row_n FROM m GROUP BY 1),
      |p AS (SELECT m.from_type, m.to_type,
      |        CAST(m.n AS DOUBLE) / CAST(rt.row_n AS DOUBLE) AS p
      |      FROM m JOIN rt ON m.from_type = rt.from_type)
      |SELECT pr.user_id, CAST(count(*) AS BIGINT) AS n_transitions,
      |       round(avg(ln(p.p)), 6) AS avg_ll
      |FROM pairs pr
      |JOIN p ON pr.from_type = p.from_type AND pr.to_type = p.to_type
      |GROUP BY pr.user_id
      |ORDER BY avg_ll ASC, user_id ASC
      |LIMIT 10""".stripMargin

  /** q133 — RFM segmentation: the classic customer-value grid. Per
    * purchasing user: recency (days since last purchase, measured from
    * the corpus's last event day), frequency (purchase count), monetary
    * (integer CENTS — quantize-then-sum, never sum-then-quantize:
    * summing doubles is order-sensitive across engines, summing int64
    * cents is exact). Each dimension scores 1–4 by DATA-DRIVEN
    * nearest-rank quartiles over the user distribution
    * ([[Quantiles.nearestRank]] — the fence-safe global-quantile
    * kernel; recency scores on its NEGATION so "more recent" = higher,
    * the standard RFM orientation). Output: one row per populated
    * (r, f, m) cell with user count and monetary mass — the grid a
    * retention team routes campaigns from.
    *
    * Scale: user-sized aggregates; three quantile-kernel invocations
    * (histogram-sized each); scoring is a broadcast of three 1-row
    * threshold frames; final rollup ≤ 64 cells. */
  def q133RfmSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_type", $"value",
        datediff(to_date($"ts"), lit("1970-01-01")).cast("long").as("d"))
    val maxD = ev.agg(max($"d").as("max_d"))
    val rfm = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id")
      // round, not floor (review find): 68.57 * 100 is
      // 6856.999999999999 in IEEE — floor drops the cent; round lands
      // on the decimal the value denotes, identically in both engines
      .agg(max($"d").as("last_d"), count(lit(1)).as("f"),
        sum(round($"value" * 100, 0).cast("long")).as("m"))
      .crossJoin(broadcast(maxD))
      .select($"user_id", ($"max_d" - $"last_d").as("rec"), $"f", $"m")
      .withColumn("rneg", -$"rec")
    val qs = Seq(("q25", 1, 4), ("q50", 2, 4), ("q75", 3, 4))
    def score(metric: org.apache.spark.sql.Column, t: String) =
      lit(1) + (metric > col(s"${t}_q25")).cast("int") +
        (metric > col(s"${t}_q50")).cast("int") +
        (metric > col(s"${t}_q75")).cast("int")
    // ONE quantile pass for all three dimensions (round 22): the three
    // separate nearestRank invocations each re-derived rfm and paid
    // their own histogram exchange + cumsum window + pool broadcast +
    // 1-row threshold frame (~15 AQE stages of driver planning); the
    // fused kernel explodes (metric, value) once and emits all nine
    // thresholds in one 1-row frame — identical values, same scores.
    val tq = Quantiles.nearestRankMulti(rfm, Seq("rneg", "f", "m"), qs)
      .select((for ((c, p) <- Seq(("rneg", "r"), ("f", "f"), ("m", "m"));
                    (n, _, _) <- qs)
        yield col(s"t_${c}_$n").as(s"${p}_$n")): _*)
    rfm.crossJoin(broadcast(tq))
      .select($"user_id", $"m",
        score($"rneg", "r").as("r_score"),
        score($"f", "f").as("f_score"),
        score($"m", "m").as("m_score"))
      .groupBy($"r_score", $"f_score", $"m_score")
      .agg(count(lit(1)).as("n_users"), sum($"m").as("monetary_c"))
      .orderBy($"r_score", $"f_score", $"m_score")
  }

  val q133Oracle: String =
    """WITH ev AS (SELECT user_id, event_type, value,
      |              CAST(date_diff('day', DATE '1970-01-01',
      |                CAST(ts AS DATE)) AS BIGINT) AS d
      |            FROM events),
      |md AS (SELECT max(d) AS max_d FROM ev),
      |rfm AS (SELECT user_id, md.max_d - max(d) AS rec,
      |          count(*) AS f,
      |          CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
      |            AS m
      |        FROM ev, md WHERE event_type = 'purchase'
      |        GROUP BY user_id, md.max_d),
      |n AS (SELECT count(*) AS n FROM rfm),
      |tr AS (SELECT
      |    min(CASE WHEN cum >= (1 * n.n + 3) // 4 THEN v END) AS q25,
      |    min(CASE WHEN cum >= (2 * n.n + 3) // 4 THEN v END) AS q50,
      |    min(CASE WHEN cum >= (3 * n.n + 3) // 4 THEN v END) AS q75
      |  FROM (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM (
      |          SELECT -rec AS v, count(*) AS c FROM rfm GROUP BY 1)) , n),
      |tf AS (SELECT
      |    min(CASE WHEN cum >= (1 * n.n + 3) // 4 THEN v END) AS q25,
      |    min(CASE WHEN cum >= (2 * n.n + 3) // 4 THEN v END) AS q50,
      |    min(CASE WHEN cum >= (3 * n.n + 3) // 4 THEN v END) AS q75
      |  FROM (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM (
      |          SELECT f AS v, count(*) AS c FROM rfm GROUP BY 1)), n),
      |tm AS (SELECT
      |    min(CASE WHEN cum >= (1 * n.n + 3) // 4 THEN v END) AS q25,
      |    min(CASE WHEN cum >= (2 * n.n + 3) // 4 THEN v END) AS q50,
      |    min(CASE WHEN cum >= (3 * n.n + 3) // 4 THEN v END) AS q75
      |  FROM (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM (
      |          SELECT m AS v, count(*) AS c FROM rfm GROUP BY 1)), n),
      |sc AS (SELECT rfm.m,
      |    1 + CAST(-rfm.rec > tr.q25 AS INT) + CAST(-rfm.rec > tr.q50 AS INT)
      |      + CAST(-rfm.rec > tr.q75 AS INT) AS r_score,
      |    1 + CAST(rfm.f > tf.q25 AS INT) + CAST(rfm.f > tf.q50 AS INT)
      |      + CAST(rfm.f > tf.q75 AS INT) AS f_score,
      |    1 + CAST(rfm.m > tm.q25 AS INT) + CAST(rfm.m > tm.q50 AS INT)
      |      + CAST(rfm.m > tm.q75 AS INT) AS m_score
      |  FROM rfm, tr, tf, tm)
      |SELECT r_score, f_score, m_score, count(*) AS n_users,
      |       CAST(sum(m) AS BIGINT) AS monetary_c
      |FROM sc GROUP BY 1, 2, 3
      |ORDER BY r_score, f_score, m_score""".stripMargin

  /** q134 — holdout evaluation of the transition model: fit on even
    * user_ids, score BOTH splits under the train-fitted matrix — the
    * train/holdout generalization check every model-shaped operator
    * should ship (all prior meters evaluate in-corpus; this one runs
    * the full fit-on-train / score-on-holdout loop declaratively). A
    * healthy model scores the holdout close to train; a collapsed gap
    * or an inverted one flags leakage or drift. Unseen transitions get
    * Laplace (+1 over the event-type vocabulary) smoothing — the
    * holdout may contain pairs the train split never saw, and ln 0 is
    * not a number; the smoothed probability is exact rational
    * arithmetic before the one ln per pair.
    *
    * Scale: the q130 adjacency window; the model is types²-bounded and
    * broadcast; scoring is one left join + per-split aggregate. */
  def q134ModelHoldout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = transitionPairs(s, dir)
      .select($"user_id", $"from_type", $"to_type",
        when($"user_id" % 2 === 0, "train").otherwise("holdout")
          .as("split"))
    val vocab = Tables.events(s, dir)
      .agg(countDistinct($"event_type").as("v"))
    val model = pairs.filter($"split" === "train")
      .groupBy($"from_type", $"to_type").agg(count(lit(1)).as("n"))
    val rowTot = model.groupBy($"from_type").agg(sum($"n").as("row_n"))
    pairs
      .join(broadcast(model), Seq("from_type", "to_type"), "left")
      .join(broadcast(rowTot), Seq("from_type"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("lp", log(
        (coalesce($"n", lit(0L)) + lit(1.0)) /
          (coalesce($"row_n", lit(0L)) + $"v")))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_transitions"),
        round(avg($"lp"), 6).as("avg_ll"))
      .orderBy($"split")
  }

  val q134Oracle: String =
    """WITH seq AS (SELECT user_id, event_type,
      |               lead(event_type) OVER (PARTITION BY user_id
      |                 ORDER BY ts, event_id) AS next_type
      |             FROM events),
      |pairs AS (SELECT user_id, event_type AS from_type,
      |            next_type AS to_type,
      |            CASE WHEN user_id % 2 = 0 THEN 'train'
      |                 ELSE 'holdout' END AS split
      |          FROM seq WHERE next_type IS NOT NULL),
      |v AS (SELECT count(DISTINCT event_type) AS v FROM events),
      |m AS (SELECT from_type, to_type, count(*) AS n
      |      FROM pairs WHERE split = 'train' GROUP BY 1, 2),
      |rt AS (SELECT from_type, sum(n) AS row_n FROM m GROUP BY 1)
      |SELECT p.split, CAST(count(*) AS BIGINT) AS n_transitions,
      |       round(avg(ln(
      |         (COALESCE(m.n, 0) + 1.0)
      |         / CAST(COALESCE(rt.row_n, 0) + v.v AS DOUBLE))), 6)
      |         AS avg_ll
      |FROM pairs p
      |LEFT JOIN m ON p.from_type = m.from_type AND p.to_type = m.to_type
      |LEFT JOIN rt ON p.from_type = rt.from_type
      |CROSS JOIN v
      |GROUP BY p.split
      |ORDER BY p.split""".stripMargin

  // ------------------------------------------------------------- wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q87_zorder_layout" -> q87ZorderLayout _,
    "q88_funnel" -> q88Funnel _,
    "q89_cohort_retention" -> q89CohortRetention _,
    "q130_markov_transitions" -> q130MarkovTransitions _,
    "q131_transition_dwell" -> q131TransitionDwell _,
    "q132_sequence_anomaly" -> q132SequenceAnomaly _,
    "q133_rfm_segments" -> q133RfmSegments _,
    "q134_model_holdout" -> q134ModelHoldout _)

  val oracle: Map[String, String] = Map(
    "q87_zorder_layout" -> q87Oracle,
    "q88_funnel" -> q88Oracle,
    "q89_cohort_retention" -> q89Oracle,
    "q130_markov_transitions" -> q130Oracle,
    "q131_transition_dwell" -> q131Oracle,
    "q132_sequence_anomaly" -> q132Oracle,
    "q133_rfm_segments" -> q133Oracle,
    "q134_model_holdout" -> q134Oracle)
}
