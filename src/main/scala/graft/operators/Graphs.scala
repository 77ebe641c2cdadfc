package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Iterative graph analytics beyond connected components (q53):
  * PageRank in FIXED-POINT integer arithmetic, engineered (like q86's
  * quantized k-means) so every step is exact integer math and the
  * result is bit-identical across engines, partitionings, and cluster
  * sizes — float PageRank sums contributions in partition order and
  * drifts run-to-run; integer sums are associative and cannot.
  *
  * Graph: the supplier–part bipartite graph of lineitem (distinct
  * (l_suppkey, l_partkey) pairs), symmetrized — every node then has
  * out-degree ≥ 1, so there is no dangling mass to redistribute.
  *
  * Scale shape: one distinct-edge reduction (map-side combined), then
  * per iteration ONE shuffle keyed by dst for the contribution sum
  * (the rank⋈edges join co-partitions on src with the degree join
  * before it). Two iterations here keep the cross-engine oracle
  * readable; the loop discipline for many iterations (localCheckpoint
  * lineage cuts, loud non-convergence) is demonstrated by q53's
  * connected-components kernel.
  */
object Graphs {

  private val Scale = 1000000L // rank fixed-point: r0 = 1.0 ≡ 10⁶

  /** ONE copy of the damped fixed-point contribution step
    * r' = 150000 + (85·Σ_{src→dst} r div deg) div 100, shared by q94,
    * [[pagerank]], [[pagerankBucketed]] and q140 so the faces cannot
    * drift (the phashPresentation consolidation discipline).
    *
    * Takes the edge list WITH the source degree already attached
    * (`edgesWithDeg`: src, dst, deg) — round 21: the old 3-frame form
    * re-joined nodes⋈ranks⋈edges inside EVERY iteration, so an
    * N-iteration run paid the deg attachment N times; callers now join
    * deg onto the edges once (cached/bucket-co-located) and each
    * iteration is ONE join (ranks, |nodes|-sized) plus the
    * map-side-combined contribution sum — the only per-iteration
    * exchanges are the rank frame in and the (dst) aggregation out.
    * `r div deg` per edge is the same integer division the per-node
    * pre-division computed, so the summed multiset is unchanged. */
  private[graft] def contributionStep(edgesWithDeg: DataFrame,
      ranks: DataFrame): DataFrame = {
    val s = edgesWithDeg.sparkSession
    import s.implicits._
    edgesWithDeg
      .join(ranks, $"src" === $"node")
      .select($"dst", expr("r div deg").as("c"))
      .groupBy($"dst").agg(sum($"c").as("cs"))
      .select($"dst".as("node"),
        (lit(150000L) + expr("(85 * cs) div 100")).as("r"))
  }

  /** Attach each edge's source degree (round 21): the once-per-run join
    * that [[contributionStep]] amortizes across iterations. With a
    * src-bucketed edge table both sides of this join are co-partitioned
    * and it plans exchange-free. */
  private[graft] def edgesWithDeg(edges: DataFrame,
      deg: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    edges.join(deg, Seq("src")).select($"src", $"dst", $"deg")
  }

  /** q94/q140's presentation face over the two iterations' rank
    * frames: rebuild readable labels on the 20 output rows only. */
  private def topReport(r1: DataFrame, r2: DataFrame): DataFrame = {
    val s = r1.sparkSession
    import s.implicits._
    r2.select($"node", $"r".as("rank2"))
      .join(r1.select($"node", $"r".as("rank1")), Seq("node"))
      .select(
        when($"node" < 100000L, concat(lit("s:"), $"node"))
          .otherwise(concat(lit("p:"), $"node" - 100000L)).as("node"),
        $"rank1", $"rank2")
      .orderBy($"rank2".desc, $"node".asc)
      .limit(20)
  }

  /** The supplier–part bipartite graph as LONG-keyed symmetrized edges
    * (parts offset by 10⁵) — q94/q140's shared graph constructor.
    * Returns (pairs-to-unpersist, edges). */
  private def supplierPartEdges(s: SparkSession, dir: String):
      (DataFrame, DataFrame) = {
    import s.implicits._
    val pairs = Tables.lineitem(s, dir)
      .select($"l_suppkey".cast("long").as("sn"),
        ($"l_partkey" + 100000L).as("pn"))
      .distinct()
      .cache()
    (pairs, pairs.select($"sn".as("src"), $"pn".as("dst"))
      .union(pairs.select($"pn".as("src"), $"sn".as("dst"))))
  }

  /** q94 — two fixed-point PageRank iterations (d = 0.85 as the exact
    * rational 85/100: contributions are `r div deg`, the damped sum is
    * `150000 + (85·Σ) div 100` — floor division both engines). Output:
    * top-20 nodes by final rank with both iterations' ranks. */
  def q94Pagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // LONG node ids (parts offset by 10⁵), not "s:"/"p:" strings: every
    // join/shuffle key in the hot path compares 8 bytes instead of
    // variable-length strings; the readable label is rebuilt on the 20
    // output rows only. The pre-union pair table is what's cached —
    // half the rows of the symmetrized edge list; union reads it twice.
    val (pairs, edges) = supplierPartEdges(s, dir)
    // deg feeds the once-per-run edge attachment AND r0 — uncached it
    // recomputes the 2|pairs|-row aggregate per consumer
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg")).cache()
    val nodes = deg.select($"src".as("node"), $"deg")
    // the once-per-run deg⋈edges attachment, read by every iteration
    // (round 21 — the per-iteration 3-frame re-join moved out of the loop)
    val ed = edgesWithDeg(edges, deg).cache()

    // each rank table is |nodes|-sized (tiny next to edges) and is
    // consumed twice (the next iteration's lineage + the final report
    // join) — cache it or iteration i recomputes iterations 1..i-1
    // (the same lineage-cut discipline as q53's localCheckpoint)
    val r1 = contributionStep(ed,
      nodes.select($"node", lit(Scale).as("r"))).cache()
    val r2 = contributionStep(ed, r1)
    val top = topReport(r1, r2)
    // Materialize the answer (bounded: ≤20 rows by the limit above),
    // then RELEASE every cache this query pinned — a library user
    // composing operators in a long-lived session must not accumulate
    // executor storage (the general pagerank()'s deg.unpersist()
    // discipline; GraphsSpec pins zero persisted RDDs after the call).
    val rows = top.collect()
    pairs.unpersist()
    deg.unpersist()
    ed.unpersist()
    r1.unpersist()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), top.schema)
  }

  val q94Oracle: String =
    """WITH pairs AS (SELECT DISTINCT 's:' || l_suppkey AS sn,
      |                 'p:' || l_partkey AS pn
      |               FROM lineitem),
      |edges AS (SELECT sn AS src, pn AS dst FROM pairs
      |          UNION ALL SELECT pn AS src, sn AS dst FROM pairs),
      |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
      |r0 AS (SELECT src AS node, 1000000 AS r FROM deg),
      |c1 AS (SELECT e.dst, sum(r0.r // d.deg) AS cs
      |       FROM r0 JOIN deg d ON r0.node = d.src
      |       JOIN edges e ON r0.node = e.src GROUP BY 1),
      |r1 AS (SELECT dst AS node,
      |         CAST(150000 + (85 * cs) // 100 AS BIGINT) AS r FROM c1),
      |c2 AS (SELECT e.dst, sum(r1.r // d.deg) AS cs
      |       FROM r1 JOIN deg d ON r1.node = d.src
      |       JOIN edges e ON r1.node = e.src GROUP BY 1),
      |r2 AS (SELECT dst AS node,
      |         CAST(150000 + (85 * cs) // 100 AS BIGINT) AS r FROM c2)
      |SELECT r2.node AS node, r1.r AS rank1, r2.r AS rank2
      |FROM r2 JOIN r1 ON r2.node = r1.node
      |ORDER BY rank2 DESC, r2.node ASC LIMIT 20""".stripMargin

  /** General N-iteration fixed-point PageRank over an arbitrary edge
    * list (the loop discipline q94's readable 2-iteration oracle form
    * demonstrates in miniature, generalized the way q53's
    * connected-components kernel generalizes min-label propagation).
    *
    * Requirements: `edges(src: long, dst: long)` with every node having
    * out-degree ≥ 1 (a symmetrized graph satisfies this — q94's
    * construction) so no dangling mass needs redistribution.
    *
    * Loop discipline for many iterations:
    *  - each iteration's rank table (|nodes|-sized, tiny next to edges)
    *    is `localCheckpoint`ed — lineage is CUT per round, so iteration
    *    k never re-executes iterations 1..k-1 and the analyzer never
    *    sees an O(k)-deep plan;
    *  - the degree table is cached once and read by every iteration;
    *  - integer fixed-point arithmetic makes each iteration's result
    *    bit-identical across partitionings (associative integer sums),
    *    so a converged state is detectable EXACTLY: the loop stops the
    *    first time an iteration changes no rank, rather than chasing
    *    float epsilons.
    *
    * @return (final ranks (node, r), iterations actually executed —
    *         `< maxIters` iff an exact fixed point was reached early)
    */
  def pagerank(edges: DataFrame, maxIters: Int): (DataFrame, Int) = {
    val s = edges.sparkSession
    import s.implicits._
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg")).cache()
    val nodes = deg.select($"src".as("node"), $"deg")
    // Validate the out-degree ≥ 1 precondition ONCE up front: a node
    // that only ever appears as dst (non-symmetrized input) has no deg
    // row, silently vanishes from the rank table through the inner
    // joins below, and the exact-convergence probe would then declare a
    // fixed point over the shrunken node set — precondition violations
    // must surface as errors, not as quietly wrong ranks. One cheap
    // distinct-dst anti-join against the already-cached degree table.
    val dangling = edges.select($"dst").distinct()
      .join(nodes.select($"node"), $"dst" === $"node", "left_anti")
    if (!dangling.isEmpty) {
      deg.unpersist()
      throw new IllegalArgumentException(
        "pagerank requires every node to have out-degree >= 1 " +
          "(symmetrize the edge list); found sink-only nodes, e.g. " +
          dangling.limit(5).collect().map(_.get(0)).mkString(", "))
    }
    // once-per-run deg attachment shape; every iteration reads this
    // frame (round 21 — the per-iteration 3-frame re-join collapsed to
    // one). Deliberately NOT cached: a bucketed `edges` input (the
    // pagerankBucketed lane) would lose its HashPartitioning through an
    // InMemoryRelation and re-exchange per iteration — the deg join is
    // co-located there and cheap to replay; for a plain input the replay
    // cost matches the old per-iteration join it replaces.
    val ed = edgesWithDeg(edges, deg)
    def step(ranks: DataFrame): DataFrame =
      contributionStep(ed, ranks)
    var (ranks, freeRanks) = graft.tools.Checkpoints.tracked(
      nodes.select($"node", lit(Scale).as("r")))
    var it = 0
    var converged = false
    // exception path releases the loop's pinned state (review find) —
    // success keeps only the final ranks frame for the returned plan
    var ok = false
    try {
      while (it < maxIters && !converged) {
        val (next, freeNext) = graft.tools.Checkpoints.tracked(step(ranks))
        // exact-integer convergence probe on two |nodes|-sized
        // checkpointed frames — one cheap job per iteration
        converged = next.as("n").join(ranks.as("p"), Seq("node"))
          .filter($"n.r" =!= $"p.r").isEmpty
        freeRanks() // superseded: `next` is materialized and the probe ran
        ranks = next
        freeRanks = freeNext
        it += 1
      }
      ok = true
    } finally if (!ok) { freeRanks(); deg.unpersist() }
    deg.unpersist()
    if (sys.env.contains("GRAFT_DEBUG_ITERS"))
      System.err.println(s"[pagerank] ran $it/$maxIters iterations" +
        (if (converged) " (fixed point)" else ""))
    (ranks, it)
  }

  /** q109 — bipartite co-occurrence projection: collapse the
    * supplier–part bipartite graph onto suppliers, weighting each
    * supplier pair by the number of parts both supply — the
    * "related items" / co-purchase network builder (the same projection
    * that powers co-citation and co-viewership graphs), and the
    * relational-star application of the dedup family's pair-expansion
    * kernel.
    *
    * Scale shape: ONE shuffle groups the distinct (part, supplier)
    * edges by part; i<j pairs expand INSIDE each task from the sorted
    * per-part supplier set and re-group map-side-combined on the pair
    * key. A hub cap (parts with > [[MaxProjDf]] suppliers are dropped,
    * both engines) bounds the quadratic fan-out exactly like the
    * stop-shingle guard — a degenerate "everything supplies this"
    * part cannot expand |suppliers|² pairs. Top-20 lands in
    * TakeOrderedAndProject (per-partition top-k), never a global sort
    * of the edge table. */
  val MaxProjDf = 128

  def q109CooccurrenceGraph(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Round 22 (guide §2.3/§2.4, measured 1.55 → 0.85–1.15 s in a
    // per-step decomposition of the pair kernel):
    //  (a) the raw (partkey, suppkey) stream is shuffled ONCE by
    //      partkey instead of feeding a map-side partial collect_set:
    //      a pair's ~7 global copies are spread across ALL map tasks,
    //      so the partial hash maps reduced little at any scale while
    //      costing a per-task object map over every group (grouped
    //      stage alone: 0.73 → 0.41 s). The shuffle rows are 16 B.
    //  (b) the explicit-width keyed repartition is REPARTITION_BY_NUM —
    //      AQE cannot byte-coalesce it — so the quadratic i<j pair
    //      expansion rides the SAME 32-wide stage (the former
    //      round-robin spread exchange is gone).
    //  (c) the expansion is [[Dedup.expandPairs]] — two chained codegen
    //      Generates (posexplode + explode(slice)) instead of the
    //      interpreted flatten(transform(slice))-HOF struct build
    //      (8.7 M pairs at sf0.1: 24.4 task-seconds → ~6).
    //  (d) pairs are hash-clustered BEFORE counting: a pair's ~17
    //      copies were scattered over all tasks, so the pre-exchange
    //      partial count reduced ~27% while building near-full hash
    //      maps per task; clustered, partial+final fold in-stage.
    // Same multiset of pairs, same counts — oracle hash unchanged.
    val par = Tables.fanoutParallelism(s, dir, "lineitem")
    val grouped = Tables.lineitem(s, dir)
      .select($"l_partkey", $"l_suppkey")
      .repartition(par, $"l_partkey")
      .groupBy($"l_partkey")
      .agg(array_sort(collect_set($"l_suppkey")).as("ss"))
      .filter(size($"ss") > 1 && size($"ss") <= MaxProjDf)
    val pairs = Dedup.expandPairs(grouped, "ss", "s_a", "s_b")
      .repartition(par, $"s_a", $"s_b")
      .groupBy($"s_a", $"s_b")
      .agg(count(lit(1)).as("shared_parts"))
    pairs
      .orderBy($"shared_parts".desc, $"s_a".asc, $"s_b".asc)
      .limit(20)
  }

  val q109Oracle: String =
    s"""WITH e AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |ok AS (SELECT l_partkey FROM e GROUP BY 1
      |       HAVING count(*) BETWEEN 2 AND $MaxProjDf),
      |p AS (SELECT a.l_suppkey AS s_a, b.l_suppkey AS s_b,
      |        CAST(count(*) AS BIGINT) AS shared_parts
      |      FROM e a JOIN e b ON a.l_partkey = b.l_partkey
      |                       AND a.l_suppkey < b.l_suppkey
      |      JOIN ok ON a.l_partkey = ok.l_partkey
      |      GROUP BY 1, 2)
      |SELECT s_a, s_b, shared_parts FROM p
      |ORDER BY shared_parts DESC, s_a ASC, s_b ASC LIMIT 20""".stripMargin

  // ------------------------------------------------------------- wiring

  /** Write a symmetrized edge list ONCE as a bucketed+sorted-on-src
    * external table and return the bucketed frame — the one-time
    * layout cost that makes every later iteration edge-shuffle-free.
    * At 100 TB the edge list IS the data; this is the graph analog of
    * [[graft.sources.Bucketing.setupOrderLineitem]]'s co-located join
    * spine. */
  def bucketedEdges(edges: DataFrame, table: String, warehouse: String,
      buckets: Int): DataFrame = {
    val s = edges.sparkSession
    graft.sources.Bucketing.writeBucketed(edges, table,
      s"$warehouse/$table", "src", buckets)
    s.table(table)
  }

  /** Bucketed-layout N-iteration PageRank — the 100 TB form of
    * [[pagerank]]. Same fixed-point arithmetic, same localCheckpoint
    * loop discipline, same exact convergence probe; the difference is
    * WHERE the data moves. The plain form shuffles the full edge list
    * on src inside EVERY iteration's rank⋈edges join — at 15
    * iterations over a 100 TB edge list that is 15 full-corpus
    * shuffles, the suite's single biggest avoidable data movement.
    * Here the symmetrized edges are written once bucketed+sorted on
    * src: the scan then reports HashPartitioning(src)/sorted, the
    * rank-side join input (|nodes|, tiny next to edges) shuffles INTO
    * that layout, and each iteration's only big-data Exchange is the
    * map-side-combined contribution sum keyed by dst — edge bytes
    * never cross the wire again (PlanQualitySpec fences the plan:
    * bucketed scan, no Exchange above it, ≤ 2 Exchanges per step
    * total vs 4 unbucketed).
    *
    * THE PRODUCTION FACE (promoted round 15, measured not asserted):
    * at 15 iterations on the sf0.1 graph, layout write + bucketed loop
    * = 16.2 s vs 21.7 s plain (0.75×), and 62.3 s vs 84.6 s (0.74×) on
    * a 10× node-disjoint replica — the layout amortizes after ~5
    * iterations (2.9 s write ÷ ~0.57 s/iteration saved) and the
    * advantage is scale-stable ([[graft.tools.PagerankCrossover]];
    * table in SCALE.md). Use [[pagerank]] directly only for few-shot
    * runs (< ~5 iterations) or as the layout-free oracle cross-check —
    * which is exactly how q94 (plain, 2 iterations, readable oracle)
    * and q140 (bucketed, same oracle) divide the graded surface.
    *
    * @return (final ranks (node, r), iterations actually executed) */
  def pagerankBucketed(edges: DataFrame, table: String, warehouse: String,
      maxIters: Int, buckets: Int = 8): (DataFrame, Int) = {
    val be = bucketedEdges(edges, table, warehouse, buckets)
    pagerank(be, maxIters)
  }

  /** q140 — q94's two PageRank iterations over the BUCKETED edge
    * layout: identical output (integer fixed-point is associative —
    * same oracle), different physical plan. Registered as its own
    * query so the run of record measures the layout's cost/benefit
    * honestly: q140's timing INCLUDES the one-time bucketed write
    * (the amortized cost a real deployment pays once), and its plan
    * carries the per-iteration shuffle structure a 100 TB run needs. */
  def q140PagerankBucketed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (pairs, edges) = supplierPartEdges(s, dir)
    // fixed per-PROCESS path (pid-suffixed): repeated runs in one JVM
    // (bench samples) OVERWRITE the same layout instead of accreting
    // temp copies, while two JVMs (a detached bench battery alongside
    // an sbt test run — a combination this repo's workflow actually
    // uses) can never drop each other's table directory mid-read
    // (advisor find, r14)
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_q140_wh_" +
      ProcessHandle.current.pid
    // caches released in the finally so a mid-query failure (disk-full
    // on the bucketed write, a transient task crash) cannot leave frames
    // pinned in a long-lived session (review find — the same failure-
    // path cache bleed DedupFuzz's finally fixes)
    var deg: DataFrame = null
    var r1: DataFrame = null
    try {
      val be = bucketedEdges(edges, "q140_edges", wh, buckets = 8)
      deg = be.groupBy($"src").agg(count(lit(1)).as("deg")).cache()
      val nodes = deg.select($"src".as("node"), $"deg")
      // deg groups on the bucketed key and the attachment join is
      // bucket-co-located, so it plans exchange-free — and the frame is
      // deliberately NOT cached: an InMemoryRelation drops the bucketed
      // HashPartitioning (its output partitioning is whatever the cache
      // materialized), so every iteration's join would re-exchange what
      // the layout exists to keep local (measured +1.3 s on q140).
      // Re-reading the bucketed files per iteration IS the design.
      val ed = edgesWithDeg(be, deg)
      r1 = contributionStep(ed,
        nodes.select($"node", lit(Scale).as("r"))).cache()
      val r2 = contributionStep(ed, r1)
      val top = topReport(r1, r2)
      val rows = top.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), top.schema)
    } finally {
      pairs.unpersist()
      if (deg != null) deg.unpersist()
      if (r1 != null) r1.unpersist()
      // external-table bookkeeping must not leak across queries; data
      // was already materialized into the returned local rows. The
      // warehouse directory itself is deleted too: DROP TABLE on an
      // external table keeps the files, and with a pid-suffixed path no
      // later run would ever reuse them — without this delete every JVM
      // run orphans one bucketed layout in tmpdir (advisor find, r15)
      s.sql("DROP TABLE IF EXISTS q140_edges")
      graft.streaming.VersionedState.deleteTree(
        java.nio.file.Paths.get(wh))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q94_pagerank" -> q94Pagerank _,
    "q109_cooccurrence_graph" -> q109CooccurrenceGraph _,
    "q140_pagerank_bucketed" -> q140PagerankBucketed _)

  val oracle: Map[String, String] = Map(
    "q94_pagerank" -> q94Oracle,
    "q109_cooccurrence_graph" -> q109Oracle,
    // same answer, different physical layout — the oracle is q94's
    "q140_pagerank_bucketed" -> q94Oracle)
}
