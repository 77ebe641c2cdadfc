package graft.tools

import graft.operators.Graphs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measure the q94 (plain) vs q140 (bucketed-layout) PageRank crossover
  * at production iteration counts — the number behind the promotion of
  * the bucketed layout to the production face. The plan fence
  * (PlanQualitySpec) proves the bucketed iteration moves no edge bytes
  * (≤ 2 Exchanges vs 4); this tool measures what that buys WALL-CLOCK
  * at N = 15 iterations (the SCALE.md claim), on the sf0.1 graph and on
  * a 10× structurally-identical replica (per-replica node-id offsets:
  * disjoint components, so collision structure scales linearly and any
  * super-linearity is the kernel's own — the ScaleProbe discipline).
  *
  * Both lanes run the SAME [[Graphs.pagerank]] loop (same fixed-point
  * arithmetic, same localCheckpoint lineage cuts, same exact
  * convergence probe); the only difference is the edge frame handed in
  * — plain in-memory vs written-once bucketed+sorted on src. The
  * bucketed lane's layout write is timed separately AND included in
  * its total: the claim is "layout + 15 bucketed iterations ≤ 15 plain
  * iterations", not "iterations alone are faster".
  *
  * Usage: `sbt "runMain graft.tools.PagerankCrossover [iters] [replicas]"`
  * (defaults 15, 10) with SPARK_GRAFT_SF_DIR (default sf0.1). Prints
  * one row per (scale, lane).
  */
object PagerankCrossover {

  def main(args: Array[String]): Unit = {
    val iters = args.headOption.map(_.toInt).getOrElse(15)
    val replicas = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // q94's graph construction: distinct supplier–part pairs, LONG ids
    // (parts offset by 10⁵), symmetrized
    val pairs = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select($"l_suppkey".cast("long").as("sn"),
        ($"l_partkey".cast("long") + 100000L).as("pn"))
      .distinct()
    def edgesOf(p: DataFrame): DataFrame =
      p.select($"sn".as("src"), $"pn".as("dst"))
        .union(p.select($"pn".as("src"), $"sn".as("dst")))
    // R× replica: node ids offset by replica × 2·10⁵ — disjoint copies
    def replicated(r: Int): DataFrame =
      (0 until r).map { i =>
        pairs.select(($"sn" + lit(i * 200000L)).as("sn"),
          ($"pn" + lit(i * 200000L)).as("pn"))
      }.reduce(_ unionByName _)

    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_prx_wh_" +
      ProcessHandle.current.pid

    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def run(scaleLabel: String, p: DataFrame): Unit = {
      // materialize the pair table once so neither lane pays the
      // distinct() and both hand the SAME input bytes to their layout
      val mat = p.cache()
      mat.count()
      try {
        val ((_, itPlain), tPlain) = time {
          val (ranks, it) = Graphs.pagerank(edgesOf(mat), iters)
          (ranks.agg(sum($"r")).first().getLong(0), it)
        }
        val table = s"prx_${scaleLabel}"
        val (be, tLayout) = time {
          Graphs.bucketedEdges(edgesOf(mat), table, wh, buckets = 8)
        }
        val ((_, itBuck), tBuckIter) = time {
          val (ranks, it) = Graphs.pagerank(be, iters)
          (ranks.agg(sum($"r")).first().getLong(0), it)
        }
        spark.sql(s"DROP TABLE IF EXISTS $table")
        val total = tLayout + tBuckIter
        println(f"[prx] scale=$scaleLabel iters_run=$itPlain/$itBuck " +
          f"plain=$tPlain%.2fs bucketed_layout=$tLayout%.2fs " +
          f"bucketed_iter=$tBuckIter%.2fs bucketed_total=$total%.2fs " +
          f"ratio=${total / tPlain}%.2f")
      } finally mat.unpersist()
    }

    try {
      run("1x", pairs)
      if (replicas > 1) run(s"${replicas}x", replicated(replicas))
    } finally {
      // DROP TABLE keeps an external table's files; without this the
      // pid-suffixed warehouse accretes one layout per JVM run forever
      // (advisor find, r15)
      graft.streaming.VersionedState.deleteTree(
        java.nio.file.Paths.get(wh))
    }
    spark.stop()
  }
}
