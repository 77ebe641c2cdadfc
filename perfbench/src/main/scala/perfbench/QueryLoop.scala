package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A search request: BM25 top-10 over (doc_id, text), result collected. */
object SearchRequest {
  def apply(docs: DataFrame, terms: Seq[String]): Seq[(Long, Double)] =
    graft.operators.Search.bm25(docs, terms)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
      .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  /** Plain-Scala BM25 with the engine's formula, for the result check.
    * The corpus is tokenized once, on the first request, so that building
    * one inside a timed window costs nothing. */
  final class Expected(docs: Seq[(Long, String)]) {
    import graft.operators.Search.{B, K1}
    private lazy val toks = docs.groupMapReduce(_._1)(_._2.split(" ", -1).toSeq)(_ ++ _)
    private lazy val avgdl = toks.values.map(_.size.toDouble).sum / toks.size

    def apply(terms: Seq[String]): Map[Long, Double] = {
      val n = toks.size.toDouble
      val tf = toks.map { case (id, ts) =>
        id -> terms.distinct.map(t => t -> ts.count(_ == t)).filter(_._2 > 0).toMap }
      val df = terms.distinct.map(t => t -> tf.values.count(_.contains(t))).toMap
      tf.collect { case (id, m) if m.nonEmpty =>
        val dl = toks(id).size.toDouble
        id -> m.map { case (t, f) =>
          val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
          idf * f / (f + (dl / avgdl * B + (1.0 - B)) * K1)
        }.sum
      }
    }
  }

  /** The top-10 matches when every returned doc carries its expected score
    * and no doc left out scores clearly above the tenth. */
  def matches(got: Seq[(Long, Double)], exp: Map[Long, Double]): Boolean = {
    val tol = 2e-6
    val want = exp.toSeq.sortBy { case (id, s) => (-s, id) }.take(10)
    if (got.size != want.size) return false
    val okScores = got.forall { case (id, s) => exp.get(id).exists(e => math.abs(e - s) <= tol) }
    val floor = got.lastOption.map(_._2).getOrElse(Double.MinValue)
    val gotIds = got.map(_._1).toSet
    okScores && want.forall { case (id, s) => gotIds(id) || s <= floor + tol }
  }
}

/** The closed loop of the `queries` workload. */
object QueryLoop {
  def run(spark: SparkSession, ops: Ops, names: Seq[String], dataDir: String,
      out: String, seconds: Double, seed: Long, traced: Boolean,
      raw: mutable.Map[String, Any]): Unit = {
    val rng = new scala.util.Random(seed)
    val queries = graft.SparkEntry.queries
    val module = names.map(q => q -> Main.moduleOf(q)).toMap
    val requests = Requests.load(s"$dataDir/requests.json")
    val corpus = graft.sources.Tables.documents(spark, dataDir)
      .select(col("doc_id"), col("text"))
    val expected = new SearchRequest.Expected(
      corpus.collect().toSeq.map(r => (r.getLong(0), r.getString(1))))
    var nextRequest = 0
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]

    // Bulk pass: every query once, its result committed to parquet. The
    // runner compares these results with the DuckDB oracle.
    val b0 = System.nanoTime()
    for (q <- rng.shuffle(names))
      ops.run("bulk", q, Map("module" -> module(q))) {
        queries(q)(spark, dataDir).write.mode("overwrite").parquet(s"$out/results/$q")
      }
    raw("bulk_s") = (System.nanoTime() - b0) / 1e9
    raw("oracle") = names.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    raw("queries") = names.map(q => Map("name" -> q, "module" -> module(q)))

    // Timed passes: each runs every query once, materialized through a
    // noop write, then the reader issues nine search requests (their cost
    // depends on the terms, so one pass's median needs several). At least
    // one pass; another starts only if it fits in the window at the pace
    // of the last one. A traced run makes two passes and traces the
    // first, so the tracing overhead is measured in the same run (against
    // a pass that has had more warm-up, so it errs high).
    val start = System.nanoTime()
    var pass = 0
    var passNs = 0L
    def fits = (System.nanoTime() - start + passNs) / 1e9 <= seconds
    while (pass < (if (traced) 2 else 1) || (!traced && fits)) {
      val p0 = System.nanoTime()
      if (traced) ops.setTraced(pass == 0)
      for (q <- rng.shuffle(names))
        ops.run("query", q, Map("pass" -> pass, "module" -> module(q))) {
          Trace.span("operators", module(q)) {
            queries(q)(spark, dataDir).write.format("noop").mode("overwrite").save()
          }
        }
      for (_ <- 0 until 9) {
        val terms = requests(nextRequest % requests.size)
        nextRequest += 1
        var got = Seq.empty[(Long, Double)]
        val rec = ops.run("search", terms.mkString(" "), Map("pass" -> pass)) {
          got = Trace.span("operators", "Search") { SearchRequest(corpus, terms) }
        }
        if (rec("ok") == true)
          checks += Map("name" -> s"search ${terms.mkString(" ")}",
            "ok" -> SearchRequest.matches(got, expected(terms)))
      }
      pass += 1
      passNs = System.nanoTime() - p0
    }
    raw("window_s") = (System.nanoTime() - start) / 1e9
    raw("passes") = pass

    // Traced run only: the same queries under .count(), the figure
    // graft.Bench times, to keep the count-versus-materialized gap visible.
    if (traced) {
      ops.setTraced(true)
      for (q <- rng.shuffle(names))
        ops.run("count", q, Map("module" -> module(q))) { queries(q)(spark, dataDir).count() }
      ops.setTraced(false)
    }
    raw("checks") = checks.toList
  }
}

/** Seeded search-request term lists written by the generator. */
object Requests {
  def load(path: String): IndexedSeq[Seq[String]] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.readTree(new java.io.File(path))
    import scala.jdk.CollectionConverters._
    node.elements().asScala.map(_.elements().asScala.map(_.asText()).toSeq).toIndexedSeq
  }
}
