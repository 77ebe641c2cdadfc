package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Diagnostic main over the declared queries (local use; not part of the
  * engine API).
  *
  * {{{
  * runMain graft.tools.Probe plans  <query-prefix,...> [sfDir]
  * runMain graft.tools.Probe stages <query-prefix,...> [sfDir]
  * }}}
  *
  * A prefix selects the queries whose name starts with it and does not
  * continue with a digit (`q28` → `q28_dedup_minhash_lsh`, not `q280`).
  *
  *  - `plans` runs each query once and prints its executed physical
  *    plan (the evidence behind PLANS.md and SCALE.md). Under AQE that
  *    is the final plan: reused stages show as `ReusedExchange`, which
  *    the static view printed before a run does not have.
  *  - `stages` runs each query once to warm codegen and the JIT, then
  *    once measured. Both passes materialize every row and column through
  *    a `noop` write: `.count()` lets Catalyst prune projected work,
  *    decoders included, out of the plan. It prints each stage's wall
  *    time, summed task time, task count and name in submission order,
  *    then the driver gap: query wall time minus the union of the stage
  *    intervals (planning, AQE re-optimization, construction-time
  *    collects).
  */
object Probe {
  private final case class Stage(id: Int, sub: Long, done: Long, tasks: Int,
      taskMs: Long, name: String)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Set("plans", "stages")(args(0)),
      "usage: Probe plans|stages <query-prefix,...> [sfDir]")
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.01")
    val names = select(args(1).split(",").toSeq)
    val spark = graft.Sessions.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try names.foreach { name =>
      val build = () => graft.SparkEntry.queries(name)(spark, sfDir)
      if (args(0) == "plans") plan(spark, name, build)
      else stages(spark, name, build)
    } finally spark.stop()
  }

  /** Query names matching any prefix, sorted; a prefix matching none fails. */
  private def select(prefixes: Seq[String]): Seq[String] = {
    val all = graft.SparkEntry.queries.keys.toVector.sorted
    prefixes.flatMap { p =>
      val hit = all.filter(n => n.startsWith(p) &&
        (n.length == p.length || !n(p.length).isDigit))
      require(hit.nonEmpty, s"no query matches prefix '$p'")
      hit
    }.distinct
  }

  /** Builds the query, runs `act` on it and returns the wall time of
    * those two in ms; the cache release that follows is not timed. */
  private def run(spark: SparkSession, build: () => DataFrame)(
      act: DataFrame => Unit): Long = {
    val t0 = System.nanoTime()
    ConfGuard.withConfSnapshot(spark)(act(build()))
    val ms = (System.nanoTime() - t0) / 1000000
    spark.catalog.clearCache()
    Checkpoints.sweep(spark)
    ms
  }

  private def plan(spark: SparkSession, name: String,
      build: () => DataFrame): Unit = run(spark, build) { df =>
    df.queryExecution.toRdd.foreach(_ => ())
    println(s"===== $name =====")
    println(df.queryExecution.executedPlan)
  }

  private def stages(spark: SparkSession, name: String,
      build: () => DataFrame): Unit = {
    val sc = spark.sparkContext
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()
    run(spark, build)(noop)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Stage]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        if (si.name == "probe-drain") drained.countDown()
        else seen.synchronized {
          seen += Stage(si.stageId, si.submissionTime.getOrElse(-1L),
            si.completionTime.getOrElse(-1L), si.numTasks,
            si.taskMetrics.executorRunTime, si.name.take(90))
        }
      }
    }
    sc.addSparkListener(listener)
    val startMs = System.currentTimeMillis()
    val wallMs = run(spark, build)(noop)
    // stage events reach listeners asynchronously and in order: once a
    // marker job's stage arrives, every measured stage has arrived too
    sc.setCallSite("probe-drain")
    sc.parallelize(Seq(0), 1).count()
    sc.clearCallSite()
    drained.await()
    sc.removeSparkListener(listener)
    // warm-pass events still queued when the listener was added are
    // dropped by their submission time
    val ordered = seen.synchronized(seen.toVector).sortBy(_.sub)
      .filter(s => s.sub >= startMs && s.done >= s.sub)
    // union of the stage intervals: the wall the stages account for
    var covered, lastEnd = 0L
    ordered.foreach { s =>
      val from = math.max(s.sub, lastEnd)
      if (s.done > from) covered += s.done - from
      lastEnd = math.max(lastEnd, s.done)
    }
    println(f"===== $name: wall $wallMs%d ms, ${ordered.size}%d stages =====")
    ordered.foreach { s =>
      println(f"  stage ${s.id}%4d  wall ${s.done - s.sub}%6d ms  " +
        f"taskSum ${s.taskMs}%7d ms  tasks ${s.tasks}%4d  ${s.name}")
    }
    println(f"  stages cover $covered%d ms of $wallMs%d ms -> driver gap " +
      f"${wallMs - covered}%d ms")
  }
}
