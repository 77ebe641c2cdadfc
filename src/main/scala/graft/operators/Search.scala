package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Keyword retrieval — the decomposed form of the reference's managed
  * search service (SURVEY.md §2.8 U3, `epa_ingestion.py:838-865`):
  * tokenizer → document/term statistics → BM25 scorer → top-k, built
  * entirely from codegen'd built-in expressions. The incremental-
  * maintenance face (TARGET_LAG ≈ 1 minute) lives in graft.streaming.
  *
  * Scale notes: a [[bm25]] request is one codegen'd pass over the corpus
  * (no token explode), one shuffle of at most one row per document per
  * map partition, and a one-row broadcast of corpus statistics. Its cost
  * is O(corpus); the O(df(terms)) inverted-index access pattern needs a
  * maintained postings table, which no query reads yet.
  */
object Search {

  val K1 = 1.2
  val B = 0.75

  /** Tokenized corpus: (doc_id, token) with multiplicity. */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))

  /** BM25 score of every document that holds at least one of `terms`:
    * (doc_id, score, n_terms_hit). Deterministic: all inputs
    * integer-derived.
    *
    * One pass: each row projects its token count `dl` and one count per
    * distinct term, `size(words) - size(array_remove(words, t))` (a
    * lambda `filter` would drop the scan out of whole-stage codegen), and
    * the rows sum by doc_id. The corpus statistics (n_docs, avgdl, df per
    * term) are one aggregate over that per-document frame, broadcast onto
    * the documents that hit a term. Both consumers read the same
    * per-document exchange, so Spark reuses it and scans the corpus once.
    * That holds only while no predicate on doc_id is pushed below the
    * aggregate on one side (the scorer's null-key exclusion, or the
    * `IS NOT NULL` a caller's join on doc_id infers): so doc_id leaves
    * the aggregate as `max(doc_id)` over its own group, an aggregate
    * value that the optimizer filters above the aggregate, as HAVING.
    *
    * Rows with null text count toward n_docs but not toward dl/avgdl;
    * null doc_ids count toward avgdl and df but are never scored, as in
    * the oracle SQL below (`count(DISTINCT doc_id)`, a null-key dl group,
    * an inner join on doc_id). */
  def bm25(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val ts = terms.distinct
    if (ts.isEmpty)
      return docs.select(col("doc_id"), lit(null).cast("double").as("score"),
        lit(null).cast("long").as("n_terms_hit")).where(lit(false))
    val tf = ts.indices.map(i => s"__tf$i")
    val words = split(col("text"), " ")
    val perDoc = docs
      .select(col("doc_id") +:
        when(col("text").isNotNull, size(words)).as("dl") +:
        ts.zip(tf).map { case (t, c) =>
          (size(words) - size(array_remove(words, lit(t)))).as(c) }: _*)
      .groupBy(col("doc_id"))
      .agg(max(col("doc_id")).as("id"), sum(col("dl")).as("dl") +:
        tf.map(c => sum(col(c)).as(c)): _*)
      .select(col("id").as("doc_id") +: col("dl") +: tf.map(col): _*)
    val stats = perDoc.agg(count(col("doc_id")).as("n_docs"),
      (sum(col("dl")) / count(col("dl"))).as("avgdl") +:
        tf.map(c => count(when(col(c) > 0, true)).as(s"${c}_df")): _*)
    val norm = (col("dl") / col("avgdl") * B + (1.0 - B)) * K1
    def termScore(c: String): Column = {
      val df = col(s"${c}_df")
      val idf = log((col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
      when(col(c) > 0, idf * col(c) / (col(c) + norm)).otherwise(0.0)
    }
    perDoc
      .filter(col("doc_id").isNotNull && tf.map(c => col(c) > 0).reduce(_ || _))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), tf.map(termScore).reduce(_ + _).as("score"),
        tf.map(c => when(col(c) > 0, 1L).otherwise(0L)).reduce(_ + _)
          .as("n_terms_hit"))
  }

  /** q36 — BM25 top-20 for a fixed conjunctive keyword query, with the
    * rank ordered on the rounded score (ulp-stable across engines). */
  def q36Bm25TopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bm25(Tables.documents(s, dir), Seq("join", "hash", "vector"))
      .select($"doc_id", round($"score", 4).as("score"), $"n_terms_hit")
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(20)
  }

  val q36Oracle: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |              FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |ad AS (SELECT sum(dl) / count(*) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
      |       WHERE token IN ('join', 'hash', 'vector') GROUP BY 1, 2),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |scored AS (SELECT tf.doc_id,
      |             ln((nd.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |               * tf.tf / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / ad.avgdl))
      |               AS term_score
      |           FROM tf JOIN df ON tf.token = df.token
      |           JOIN dl ON tf.doc_id = dl.doc_id, nd, ad)
      |SELECT doc_id, round(sum(term_score), 4) AS score,
      |       count(*) AS n_terms_hit
      |FROM scored GROUP BY doc_id
      |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin

  /** q38 — attribute-filtered BM25: the reference's search service scopes
    * queries by ATTRIBUTES columns (`epa_ingestion.py:846-847`); here the
    * corpus is restricted by `source` BEFORE indexing/scoring, so the
    * attribute predicate pushes down to the parquet scan and index stats
    * (N, df, avgdl) reflect the filtered corpus. */
  def q38Bm25Filtered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val filtered = Tables.documents(s, dir)
      .filter($"source".isin("src1", "src2", "src3"))
    bm25(filtered, Seq("join", "hash", "vector"))
      .select($"doc_id", round($"score", 4).as("score"), $"n_terms_hit")
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(20)
  }

  val q38Oracle: String =
    """WITH corpus AS (SELECT * FROM documents
      |                WHERE source IN ('src1', 'src2', 'src3')),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |         FROM corpus),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM corpus),
      |ad AS (SELECT sum(dl) / count(*) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
      |       WHERE token IN ('join', 'hash', 'vector') GROUP BY 1, 2),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |scored AS (SELECT tf.doc_id,
      |             ln((nd.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |               * tf.tf / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / ad.avgdl))
      |               AS term_score
      |           FROM tf JOIN df ON tf.token = df.token
      |           JOIN dl ON tf.doc_id = dl.doc_id, nd, ad)
      |SELECT doc_id, round(sum(term_score), 4) AS score,
      |       count(*) AS n_terms_hit
      |FROM scored GROUP BY doc_id
      |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin

  /** q39 — hybrid retrieval: BM25 keyword score fused with vector cosine
    * against a query embedding (the keyword+semantic shape of the
    * reference's managed search, U3). Normalized keyword score (score /
    * corpus max) and cosine are averaged 50/50; top-10. */
  def q39HybridSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.dot_product
    import org.apache.spark.sql.expressions.Window
    // consumed twice (corpus-max aggregate + scoring join): both read the
    // one per-document exchange of bm25, which Spark reuses — one scan
    val kw = bm25(Tables.documents(s, dir), Seq("join", "hash", "vector"))
    val e = Tables.embeddings(s, dir)
      // size-adaptive spread (round 21): see Similarity.emb
      .repartition(Tables.fanoutParallelism(s, dir, "embeddings"))
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot_product($"v", $"v")))
    val qv = e.filter($"vec_id" === 0)
      .select($"v".as("qv"), $"nrm".as("qnrm"))
    // scalar corpus max via an aggregate + broadcast, NOT max() OVER ():
    // an unpartitioned window funnels the whole relation through one
    // partition (WindowExec warning; single-reducer at 100 TB)
    val mx = kw.agg(max($"score").as("mx"))
    kw.crossJoin(broadcast(mx))
      .withColumn("kw_norm", $"score" / $"mx")
      .join(e, $"doc_id" === $"vec_id")
      .crossJoin(broadcast(qv))
      .withColumn("cos", dot_product($"v", $"qv") / ($"nrm" * $"qnrm"))
      .select($"doc_id",
        round(($"kw_norm" * 0.5 + $"cos" * 0.5), 6).as("hybrid_score"),
        round($"kw_norm", 6).as("kw_norm"), round($"cos", 6).as("cos"))
      .orderBy($"hybrid_score".desc, $"doc_id".asc)
      .limit(10)
  }

  val q39Oracle: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |              FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |ad AS (SELECT sum(dl) / count(*) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
      |       WHERE token IN ('join', 'hash', 'vector') GROUP BY 1, 2),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |kw AS (SELECT tf.doc_id,
      |         sum(ln((nd.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |           * tf.tf / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / ad.avgdl))) AS score
      |       FROM tf JOIN df ON tf.token = df.token
      |       JOIN dl ON tf.doc_id = dl.doc_id, nd, ad
      |       GROUP BY tf.doc_id),
      |kwn AS (SELECT doc_id, score / max(score) OVER () AS kw_norm FROM kw),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v,
      |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
      |qv AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
      |fused AS (SELECT k.doc_id, k.kw_norm,
      |            list_sum(list_transform(generate_series(1, 64),
      |              i -> n.v[i] * qv.qv[i])) / (n.nrm * qv.qnrm) AS cos
      |          FROM kwn k JOIN n ON k.doc_id = n.vec_id, qv)
      |SELECT doc_id,
      |       round(kw_norm * 0.5 + cos * 0.5, 6) AS hybrid_score,
      |       round(kw_norm, 6) AS kw_norm, round(cos, 6) AS cos
      |FROM fused
      |ORDER BY hybrid_score DESC, doc_id ASC LIMIT 10""".stripMargin

  /** q90 — reciprocal-rank fusion (the rank-based sibling of q39's
    * score-based fusion; the Elasticsearch/Vespa hybrid default,
    * Cormack/Clarke/Buettcher SIGIR'09): each retriever contributes
    * 1/(60+rank), which needs no score normalization and is immune to
    * the two retrievers' incomparable score scales. Candidate sets are
    * cut to top-50 PER RETRIEVER first — orderBy().limit() plans as a
    * TakeOrdered top-k reduction (per-partition k, then merge-of-k),
    * so ranking never globally sorts the corpus; ranks are then
    * assigned window-free as 1 + |predecessors| over the ≤50-row
    * broadcast candidate set. Ranks order on ROUNDED scores
    * (ulp-stable) with doc_id tiebreaks; RRF contributions are
    * divisions of exact integers. */
  def q90RrfFusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.dot_product
    val kwTop = bm25(Tables.documents(s, dir), Seq("join", "hash", "vector"))
      .select($"doc_id", round($"score", 4).as("s4"))
      .orderBy($"s4".desc, $"doc_id".asc).limit(50)
    val e = Tables.embeddings(s, dir)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot_product($"v", $"v")))
    val qv = e.filter($"vec_id" === 0)
      .select($"v".as("qv"), $"nrm".as("qnrm"))
    val cosTop = e.crossJoin(broadcast(qv))
      .select($"vec_id".as("doc_id"),
        round(dot_product($"v", $"qv") / ($"nrm" * $"qnrm"), 6).as("c6"))
      .orderBy($"c6".desc, $"doc_id".asc).limit(50)
    // ranks WITHOUT any window: rank = 1 + |predecessors| via a
    // broadcast theta-join over the ≤50-row candidate sets (2500 pairs
    // max) — the one construction that is both deterministic and free
    // of the single-partition WindowExec the row_number form planned
    // (its unpartitioned window was bounded but warned on every run;
    // a constant partition key gets optimizer-folded straight back to
    // unpartitioned). Ties are impossible: doc_id breaks them. Each
    // top-50 is materialized (localCheckpoint) first: the self-join
    // reads it twice, and uncheckpointed that re-runs the whole
    // retriever pipeline per side (measured 2.3× on q90).
    def rankOf(top0: DataFrame, score: String, rank: String): DataFrame = {
      val top = top0.localCheckpoint()
      // the re-applied limit(50) is a no-op on the already-≤50-row
      // checkpoint, but the checkpoint erased the producer's limit from
      // the plan (Scan ExistingRDD) — this keeps the broadcast side's
      // bound VISIBLE to the join fence's structural evidence scan
      val b = broadcast(
        top.select(col(score).as("__s"), col("doc_id").as("__d")).limit(50))
      top.join(b,
          col("__s") > col(score) ||
            (col("__s") === col(score) && col("__d") < col("doc_id")),
          "left")
        .groupBy(col("doc_id"))
        .agg((count(col("__d")) + 1).cast("int").as(rank))
    }
    rankOf(kwTop, "s4", "rank_kw")
      .join(rankOf(cosTop, "c6", "rank_cos"), Seq("doc_id"), "full_outer")
      .select($"doc_id",
        coalesce($"rank_kw", lit(0)).as("rank_kw"),
        coalesce($"rank_cos", lit(0)).as("rank_cos"),
        round(
          coalesce(lit(1.0) / ($"rank_kw" + 60), lit(0.0)) +
            coalesce(lit(1.0) / ($"rank_cos" + 60), lit(0.0)), 6).as("rrf"))
      .orderBy($"rrf".desc, $"doc_id".asc)
      .limit(10)
  }

  val q90Oracle: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |              FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |ad AS (SELECT sum(dl) / count(*) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
      |       WHERE token IN ('join', 'hash', 'vector') GROUP BY 1, 2),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |kw AS (SELECT tf.doc_id,
      |         round(sum(ln((nd.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |           * tf.tf / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / ad.avgdl))), 4)
      |           AS s4
      |       FROM tf JOIN df ON tf.token = df.token
      |       JOIN dl ON tf.doc_id = dl.doc_id, nd, ad
      |       GROUP BY tf.doc_id),
      |kwtop AS (SELECT doc_id,
      |            row_number() OVER (ORDER BY s4 DESC, doc_id ASC) AS rank_kw
      |          FROM kw ORDER BY s4 DESC, doc_id ASC LIMIT 50),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v,
      |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
      |qv AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
      |cs AS (SELECT n.vec_id AS doc_id,
      |         round(list_sum(list_transform(generate_series(1, 64),
      |           i -> n.v[i] * qv.qv[i])) / (n.nrm * qv.qnrm), 6) AS c6
      |       FROM n, qv),
      |costop AS (SELECT doc_id,
      |             row_number() OVER (ORDER BY c6 DESC, doc_id ASC) AS rank_cos
      |           FROM cs ORDER BY c6 DESC, doc_id ASC LIMIT 50)
      |SELECT coalesce(k.doc_id, c.doc_id) AS doc_id,
      |       coalesce(k.rank_kw, 0) AS rank_kw,
      |       coalesce(c.rank_cos, 0) AS rank_cos,
      |       round(coalesce(CAST(1.0 AS DOUBLE) / (k.rank_kw + 60), 0.0)
      |             + coalesce(CAST(1.0 AS DOUBLE) / (c.rank_cos + 60), 0.0), 6)
      |         AS rrf
      |FROM kwtop k FULL OUTER JOIN costop c ON k.doc_id = c.doc_id
      |ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin

  /** q128 — search-quality evaluation (the Search family's meter, the
    * q108/q124/q125 discipline applied to retrieval): self-retrieval
    * MRR. Every 50th document donates its three RAREST tokens (lowest
    * corpus document-frequency, ties on the token) as a query; BM25
    * ranks the corpus per query, and the metric is where each document
    * lands when searched by its own most-discriminative words — the
    * standard zero-label sanity eval run before trusting a retrieval
    * index (a broken tokenizer/df table tanks it instantly). Rarest
    * tokens, not first tokens: a first cut used opening words and
    * measured MRR ≈ 0.05 — on a common-word corpus an
    * opening-words query carries no identity, so the meter had no
    * signal floor a regression could drop below. Per-query rows: the
    * self rank if it made the top 10 (else NULL) and the reciprocal
    * rank.
    *
    * This generalizes [[bm25]] from one fixed term list to a QUERY
    * TABLE: tf stats are computed once over the union of query tokens
    * (token-set semi join pushes the filter to the tokenize pass), and
    * the scorer joins queries⋈tf on the token — per-query cost is
    * Σ df(token), i.e. inverted-index posting-list work, never a corpus
    * scan per query (and rare terms mean SHORT posting lists — the
    * eval's own cost profile mirrors real query traffic). Ranks order
    * on the 4-decimal-rounded score (q36's ulp-stability discipline)
    * with doc_id tie-break. */
  def q128SearchEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
    val toks = tokens(d)
    // read by avgdl and the scoring join of one plan: exchange reuse
    val dl = toks.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
    val nDocs = d.select(countDistinct($"doc_id").as("n_docs"))
    val avgdl = dl.select((sum($"dl") / count(lit(1))).as("avgdl"))
    // corpus document-frequency per token (distinct docs containing it)
    val gdf = toks.distinct()
      .groupBy($"token").agg(count(lit(1)).as("gdf"))
    val queries = toks.distinct()
      .filter($"doc_id" % 50 === 0)
      .join(gdf, Seq("token"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
          .orderBy($"gdf".asc, $"token".asc)))
      .filter($"r" <= 3)
      .select($"doc_id".as("q_id"), $"token")
    val tset = queries.select($"token").distinct()
    val tf = toks.join(broadcast(tset), Seq("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    // document frequency per query token IS gdf restricted to tset
    // (tf counts distinct (doc, token) rows) — reuse it instead of a
    // second aggregation over tf (review find)
    val df = gdf.join(tset, Seq("token")).withColumnRenamed("gdf", "df")
    val scored = queries
      .join(tf, Seq("token"))
      .join(broadcast(df), Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(nDocs))
      .crossJoin(broadcast(avgdl))
      .withColumn("idf",
        log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0))
      .withColumn("term_score",
        $"idf" * $"tf" /
          ($"tf" + ($"dl" / $"avgdl" * B + (1.0 - B)) * K1))
      .groupBy($"q_id", $"doc_id")
      .agg(round(sum($"term_score"), 4).as("score"))
    val ranked = scored.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy($"q_id")
        .orderBy($"score".desc, $"doc_id".asc)))
    ranked.filter($"doc_id" === $"q_id")
      .select($"q_id",
        when($"rank" <= 10, $"rank").cast("long").as("self_rank"),
        round(when($"rank" <= 10, lit(1.0) / $"rank").otherwise(0.0), 6)
          .as("rr"))
      .orderBy($"q_id")
  }

  val q128Oracle: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |              FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |ad AS (SELECT sum(dl) / count(*) AS avgdl FROM dl),
      |dt AS (SELECT DISTINCT doc_id, token FROM toks),
      |gdf AS (SELECT token, count(*) AS gdf FROM dt GROUP BY 1),
      |q AS (SELECT doc_id AS q_id, token FROM (
      |        SELECT dt.doc_id, dt.token,
      |               row_number() OVER (PARTITION BY dt.doc_id
      |                 ORDER BY gdf.gdf ASC, dt.token ASC) AS r
      |        FROM dt JOIN gdf ON dt.token = gdf.token
      |        WHERE dt.doc_id % 50 = 0)
      |      WHERE r <= 3),
      |tset AS (SELECT DISTINCT token FROM q),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
      |       WHERE token IN (SELECT token FROM tset) GROUP BY 1, 2),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |scored AS (SELECT q.q_id, tf.doc_id,
      |             round(sum(
      |               ln((nd.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |               * tf.tf / (tf.tf + 1.2 * (1.0 - 0.75
      |                  + 0.75 * dl.dl / ad.avgdl))), 4) AS score
      |           FROM q JOIN tf ON q.token = tf.token
      |           JOIN df ON tf.token = df.token
      |           JOIN dl ON tf.doc_id = dl.doc_id, nd, ad
      |           GROUP BY q.q_id, tf.doc_id, nd.n_docs),
      |ranked AS (SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
      |             ORDER BY score DESC, doc_id ASC) AS rank
      |           FROM scored)
      |SELECT q_id,
      |       CAST(CASE WHEN rank <= 10 THEN rank END AS BIGINT)
      |         AS self_rank,
      |       round(CASE WHEN rank <= 10 THEN CAST(1.0 AS DOUBLE) / rank
      |             ELSE 0.0 END, 6) AS rr
      |FROM ranked WHERE doc_id = q_id
      |ORDER BY q_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q36_bm25_topk" -> q36Bm25TopK _,
    "q38_bm25_filtered" -> q38Bm25Filtered _,
    "q39_hybrid_search" -> q39HybridSearch _,
    "q90_rrf_fusion" -> q90RrfFusion _,
    "q128_search_eval" -> q128SearchEval _)

  val oracle: Map[String, String] = Map(
    "q36_bm25_topk" -> q36Oracle,
    "q38_bm25_filtered" -> q38Oracle,
    "q39_hybrid_search" -> q39Oracle,
    "q90_rrf_fusion" -> q90Oracle,
    "q128_search_eval" -> q128Oracle)
}
