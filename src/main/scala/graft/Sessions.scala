package graft

import org.apache.spark.sql.SparkSession

/** The one way the engine's mains build a session: Bench, Verify and
  * every tool under `graft.tools` call `Sessions.builder.getOrCreate()`,
  * so the run of record, the correctness dump and the diagnostics all
  * execute queries under the same conf. */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS`, else the machine's processor count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder: SparkSession.Builder = {
    val cpus = Sessions.cpus
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Spark-docs-recommended AQE behavior: respect the advisory size
      // when coalescing post-shuffle partitions instead of pinning to
      // parallelism - tiny shuffles collapse to few tasks (local bench),
      // big shuffles still fan out (cluster scale)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // 8m advisory: KB-shuffles still collapse to one task, but a
      // mid-size (tens of MB) shuffle keeps enough partitions to use the
      // cores instead of serializing on a single reducer
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      // let AQE apply inside CACHED plan compilation too (default false)
      // — without it every .cache() materializes its subplan at the full
      // static shuffle width (tiny cached partitions locally, and at
      // cluster scale a cached frame whose width ignores its actual
      // bytes), and the two AQE knobs above never reach the suite's
      // cache-heavy kernels (q108/q165/q94's iteration caches)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // static conf, raised from its 100 default: a harness that visits
      // the full suite once per pass would otherwise evict a query's
      // generated classes between its warmup and its steady samples,
      // putting codegen compile time back INTO the samples that warmup
      // exists to amortize (the cache is keyed by generated source, so
      // re-visits hit)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
  }
}
