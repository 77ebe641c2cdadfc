package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: GRAFT_ONLY=q27,q53 runs the matching subset
    // (substring match); unset = full run, which is what the driver does
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.contains)) }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = graft.tools.JsonText.quote(s)
    // Dump the oracle map BEFORE running any query: if this process is
    // killed partway (driver timeout, external /tmp cleanup — round 5's
    // entire correctness artifact came back `{}` from exactly such a
    // death), the queries that DID finish still grade against their SQL.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    selected.foreach { case (name, fn) =>
      // conf snapshot/restore: no query may contaminate a later query's
      // optimizer behavior through session-conf mutation (ConfGuard doc)
      try graft.tools.ConfGuard.withConfSnapshot(spark) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a throwing query must not leave a STALE result from an
        // earlier run for the checker to grade as a pass (round 19:
        // q164 threw mid-write and the previous round's parquet
        // passed the oracle) — a failed query leaves NO output
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(new java.io.File(s"$outDir/$name"))
      }
      // release any cache() a query pinned (they are per-query scratch)
      spark.catalog.clearCache()
      // …and any localCheckpoint blocks, which clearCache does NOT touch
      // (the BENCH_r10 block-leak backstop; result is fully written out)
      graft.tools.Checkpoints.sweep(spark)
    }
    spark.stop()
  }
}
