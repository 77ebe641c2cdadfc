package graft.tools

import graft.sources.Tables

import java.nio.file.{Files, Paths}

/** Differential-testing executor: runs the dialect-neutral queries from a
  * tools/gen_fuzz.py file through Spark SQL over the fixture tables and
  * dumps each result to parquet (same layout as graft.Verify), so
  * tools/check_oracle.py can replay the identical SQL in DuckDB and
  * hash-compare. Catches engine-disagreement classes the hand-written
  * suite doesn't sample (random predicate/aggregate combinations).
  *
  * Usage: runMain graft.tools.FuzzRunner <queries.json> <sfDir> <outDir>
  */
object FuzzRunner {
  def main(args: Array[String]): Unit = {
    val Array(queriesFile, sfDir, outDir) = args
    val spark = graft.Sessions.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.names.foreach(n =>
      Tables.load(spark, sfDir, n).createOrReplaceTempView(n))

    // minimal JSON object parse: {"name": "sql", ...} with \-escapes
    val raw = new String(Files.readAllBytes(Paths.get(queriesFile)), "UTF-8")
    val entry = """"(fuzz\d+)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    val queries = entry.findAllMatchIn(raw).map { m =>
      m.group(1) -> m.group(2)
        .replace("\\\"", "\"").replace("\\\\", "\\").replace("\\n", "\n")
    }.toSeq

    new java.io.File(outDir).mkdirs()
    var failed = 0
    queries.foreach { case (name, sql) =>
      try spark.sql(sql).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[fuzz] $name failed: ${e.getMessage}")
      }
    }
    // re-emit the queries as oracle_sql.json for check_oracle.py
    Files.copy(Paths.get(queriesFile), Paths.get(s"$outDir/oracle_sql.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    println(s"[fuzz] ran ${queries.size} queries, $failed failed")
    spark.stop()
  }
}
