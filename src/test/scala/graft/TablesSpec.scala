package graft

import graft.sources.Tables
import graft.streaming.VersionedState

import java.nio.file.Files

/** `Tables.parquet` reads the schema from one footer on the driver: it
  * must agree with Spark's own inference and launch no Spark job. */
class TablesSpec extends SparkSuite {

  /** Job ids `body` ran under its own job group. Job events reach the
    * status store asynchronously but in order, so once a marker job run
    * after `body` is visible, every job `body` ran is visible too. */
  private def jobsOf(group: String)(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-marker", "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty)
      Thread.sleep(10)
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }

  private def checkPath(label: String, path: String): Unit = {
    val expected = spark.read.parquet(path).schema
    assert(Tables.parquet(spark, path).schema == expected, label)
    val jobs = jobsOf(s"tables-parquet-$label") {
      Tables.parquet(spark, path).schema
    }
    assert(jobs.isEmpty, s"$label: loading ran jobs $jobs")
  }

  for (name <- Tables.names)
    test(s"$name fixture: footer schema equals inferred, no job") {
      checkPath(name, s"$sfDir/$name.parquet")
      // the loader goes through the helper, events included
      val jobs = jobsOf(s"tables-load-$name") {
        Tables.load(spark, sfDir, name).schema
      }
      assert(jobs.isEmpty, s"Tables.load($name) ran jobs $jobs")
    }

  test("VersionedState layout and an empty frame's directory: " +
    "footer schema equals inferred, no job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables_").toString
    val state = new VersionedState(s"$dir/state")
    val df = Seq((1L, "a", 2.5), (2L, "b", 3.5)).toDF("id", "s", "x")
    state.commit(Seq("t" -> df, "empty" -> df.limit(0)), batchId = 0L)
    checkPath("versioned", s"$dir/state/v__0/t")
    checkPath("empty", s"$dir/state/v__0/empty")
    val jobs = jobsOf("tables-versioned-read") {
      state.read(spark, "t").get.schema
    }
    assert(jobs.isEmpty, s"VersionedState.read ran jobs $jobs")
    assert(state.read(spark, "t").get.orderBy("id").as[(Long, String, Double)]
      .collect().toSeq == Seq((1L, "a", 2.5), (2L, "b", 3.5)))
    assert(state.read(spark, "empty").get.count() == 0)
  }
}
