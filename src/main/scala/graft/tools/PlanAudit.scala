package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec

/** Sweep every declared query's physical plan for unpartitioned window
  * operators (the "Moving all data to a single partition" hazard) and
  * report which queries own them and how many rows actually flow in —
  * the triage list separating bounded presentation windows from real
  * scale bugs.
  *
  * Blind spot (by design): queries with construction-time actions (q87's
  * z-histogram, q86/q100's centroid collects, q83's eager bloom build)
  * run those jobs while the DataFrame is being BUILT — they never appear
  * in the returned plan, so this sweep cannot see them. All are bounded
  * by construction and documented at the collect site. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Sessions.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val bad = unpartitionedWindows(
          fn(spark, sfDir).queryExecution.executedPlan)
        if (bad.nonEmpty)
          println(s"[planaudit] $name: ${bad.size} unpartitioned window(s)")
      } catch {
        case e: Throwable =>
          println(s"[planaudit] $name ERROR ${e.getMessage}")
      }
      spark.catalog.clearCache()
      Checkpoints.sweep(spark) // construction-time localCheckpoints
    }
    println("[planaudit] done")
    spark.stop()
  }

  /** AQE-aware sweep: AdaptiveSparkPlanExec is a LEAF node, so a plain
    * `plan.collect` never sees inside it (the round-8 trap that made a
    * naive audit vacuously clean) — descend into its inputPlan and into
    * subqueries explicitly. */
  def unpartitionedWindows(p: SparkPlan): Seq[WindowExec] = {
    val here = p match {
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
      case _ => Nil
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => unpartitionedWindows(a.inputPlan)
      case _ => Nil
    }
    here ++ inner ++ p.children.flatMap(unpartitionedWindows) ++
      p.subqueries.flatMap(unpartitionedWindows)
  }
}
