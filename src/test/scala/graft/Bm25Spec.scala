package graft

import graft.operators.Search
import graft.operators.Search.{B, K1}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Search.bm25` against the token-explode formulation it replaced (kept
  * below as the reference), on seeded corpora that hold every edge the
  * one-pass form must get right; plus its plan shape and storage hygiene. */
class Bm25Spec extends SparkSuite with AdaptiveSparkPlanHelper {

  /** The explode formulation: tokenize, `dl` per doc, `tf` per
    * (doc, term), `df` per term, then join and sum the term scores. */
  private def reference(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val toks = Search.tokens(docs)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val nDocs = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val avgdl = dl.select((sum(col("dl")) / count(lit(1))).as("avgdl"))
    val tf = toks.filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(nDocs))
      .crossJoin(broadcast(avgdl))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("term_score",
        col("idf") * col("tf") /
          (col("tf") + (col("dl") / col("avgdl") * B + (1.0 - B)) * K1))
      .groupBy(col("doc_id"))
      .agg(sum(col("term_score")).as("score"),
        count(lit(1)).as("n_terms_hit"))
  }

  private val vocab = Seq("join", "hash", "vector", "a", "b", "c", "")
  private val absent = Seq("zz", "nowhere")

  /** A corpus of up to 12 rows over at most 6 doc_ids (so ids repeat
    * across rows), with null ids, null and empty text, runs of spaces
    * and leading/trailing blanks; Long or String doc_ids. */
  private def corpus(rng: scala.util.Random, stringIds: Boolean): DataFrame = {
    val rows = Seq.fill(1 + rng.nextInt(12)) {
      val id: Any =
        if (rng.nextInt(8) == 0) null
        else if (stringIds) s"d${rng.nextInt(6)}" else rng.nextInt(6).toLong
      val text =
        if (rng.nextInt(8) == 0) null
        else if (rng.nextInt(10) == 0) ""
        else Seq.fill(1 + rng.nextInt(8))(vocab(rng.nextInt(vocab.size)))
          .mkString(if (rng.nextInt(4) == 0) "  " else " ")
      Row(id, text)
    }
    val schema = StructType(Seq(
      StructField("doc_id", if (stringIds) StringType else LongType),
      StructField("text", StringType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def terms(rng: scala.util.Random): Seq[String] = {
    val pool = vocab ++ absent
    Seq.fill(1 + rng.nextInt(4))(pool(rng.nextInt(pool.size)))
  }

  private def scores(df: DataFrame): Map[Any, (Double, Long)] =
    df.collect().map(r => r.get(0) -> (r.getDouble(1), r.getLong(2))).toMap

  /** Differences between the two formulations on one seeded corpus. */
  private def compare(seed: Int): Seq[String] = {
    val rng = new scala.util.Random(seed)
    val docs = corpus(rng, stringIds = seed % 3 == 0)
    val ts = terms(rng)
    val got = scores(Search.bm25(docs, ts))
    val want = scores(reference(docs, ts))
    val ctx = s"seed $seed, terms ${ts.mkString("[", ",", "]")}"
    if (got.keySet != want.keySet) Seq(s"$ctx: ${got.keySet} vs ${want.keySet}")
    else want.toSeq.collect {
      case (id, (s, n)) if got(id)._2 != n ||
          math.abs(got(id)._1 - s) > 1e-9 * math.max(1.0, math.abs(s)) =>
        s"$ctx, doc $id: ${got(id)} vs ${(s, n)}"
    }
  }

  test("matches the explode formulation on 200 seeded edge-case corpora") {
    // the trials are tiny and bound by job scheduling: four at a time
    // keep the local executor busy
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = (0 until 200).map(seed =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = compare(seed)
        }))
      val diffs = tasks.flatMap(_.get())
      assert(diffs.isEmpty, diffs.take(5).mkString("\n"))
    } finally pool.shutdown()
  }

  test("matches the explode formulation on the fixture corpus") {
    val docs = Tables.documents(spark, sfDir)
    val ts = Seq("join", "hash", "vector", "join", "absentterm")
    val got = scores(Search.bm25(docs, ts))
    val want = scores(reference(docs, ts))
    assert(got.nonEmpty && got.keySet == want.keySet)
    for ((id, (s, n)) <- want)
      assert(got(id)._2 == n && math.abs(got(id)._1 - s) <= 1e-9, s"doc $id")
  }

  test("no terms, or only absent terms: an empty frame with the same schema") {
    val rng = new scala.util.Random(7)
    for (stringIds <- Seq(false, true)) {
      val docs = corpus(rng, stringIds)
      val idType = docs.schema("doc_id").dataType
      val want = Seq("doc_id" -> idType, "score" -> DoubleType,
        "n_terms_hit" -> LongType)
      for (ts <- Seq(Nil, absent)) {
        val out = Search.bm25(docs, ts)
        assert(out.schema.map(f => f.name -> f.dataType) == want, ts)
        assert(out.collect().isEmpty, ts)
      }
    }
  }

  /** Every node of the executed (adaptive, final) plan, subqueries
    * included; a reused exchange is a leaf, so its subtree counts once. */
  private def executed(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }
  }

  private def documentScans(nodes: Seq[SparkPlan]): Int = nodes.count {
    case s: FileSourceScanExec =>
      s.relation.location.rootPaths.exists(_.toString.contains("documents"))
    case _: LocalTableScanExec => true
    case _ => false
  }

  test("plan: one corpus scan, no cached relation") {
    val nodes = executed(Search.bm25(Tables.documents(spark, sfDir),
      Seq("join", "hash", "vector")))
    assert(documentScans(nodes) == 1, nodes.mkString("\n"))
    assert(!nodes.exists(_.isInstanceOf[InMemoryTableScanExec]))
  }

  test("q39 scans the documents once and caches nothing") {
    val nodes = executed(Search.q39HybridSearch(spark, sfDir))
    assert(documentScans(nodes) == 1, nodes.mkString("\n"))
    assert(!nodes.exists(_.isInstanceOf[InMemoryTableScanExec]))
  }

  private def assertNoLeak(run: => Unit): Unit = {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    run
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after == before, s"leaked persisted RDDs: ${after -- before}")
  }

  test("a request leaves no persisted RDD behind") {
    // a long-lived search service answers requests in one session; each
    // must leave its executor storage as it found it
    assertNoLeak(Search.bm25(Tables.documents(spark, sfDir),
      Seq("join", "hash")).collect())
  }

  test("q39 and q128 leave no persisted RDD behind") {
    assertNoLeak(Search.q39HybridSearch(spark, sfDir).collect())
    assertNoLeak(Search.q128SearchEval(spark, sfDir).collect())
  }
}
