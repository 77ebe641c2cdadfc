package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incrementally-maintained corpus language model — the streaming twin of
  * the q72/q76 batch scorers: per micro-batch the documents' unigram and
  * bigram counts merge additively into the accumulated model, so the
  * perplexity filters always score against the CURRENT corpus without
  * ever refitting from scratch. At 100 TB the model tables are
  * vocabulary- / bigram-vocabulary-sized (sub-linear in corpus bytes,
  * Heaps' law) while the token stream that produced them is never
  * re-read — continuous model maintenance costs O(batch tokens) per
  * trigger.
  *
  * Bigrams are formed WITHIN documents only (q76's definition), and each
  * document arrives whole in one batch, so batch boundaries can never
  * split a bigram — the streamed model is exactly the batch model over
  * the union of batches (LmModelStreamSpec proves table-level equality).
  *
  * Like the CMS, this merge is additive, not key-replacing: replaying a
  * batch would double-count every token. Exactly-once therefore leans on
  * [[VersionedState]]: both model tables commit in ONE composite version
  * behind one pointer swap with the batchId recorded in-state, and
  * `isApplied` catches the retry that crashed between the swap and the
  * marker write. */
object LmModelStream {

  def readUnigrams(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    new VersionedState(stateDir).read(spark, "uni")
      .getOrElse(Seq.empty[(String, Long)].toDF("token", "cu"))
  }

  def readBigrams(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    new VersionedState(stateDir).read(spark, "bi")
      .getOrElse(Seq.empty[(String, String, Long)].toDF("prev", "cur", "c_bi"))
  }

  /** Δ unigram counts for one batch of documents (doc_id, text, ...). */
  private[streaming] def uniDelta(batch: DataFrame): DataFrame =
    batch.select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cu"))

  /** Δ bigram counts — within-document adjacency only; the pair
    * definition is [[graft.operators.Curation.bigramPairs]] itself, so
    * the batch scorer and this maintainer can never disagree on what a
    * bigram is. */
  private[streaming] def biDelta(batch: DataFrame): DataFrame =
    graft.operators.Curation.bigramPairs(batch)
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c_bi"))

  /** Merge one micro-batch additively. Exactly-once per batchId under
    * crash-retry at ANY instant (marker fast path + in-state backstop). */
  def mergeBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit = {
    val state = new VersionedState(stateDir)
    if (state.isApplied(batchId)) { state.mark(batchId); return }
    val spark = batch.sparkSession
    val uni = readUnigrams(spark, stateDir).unionByName(uniDelta(batch))
      .groupBy(col("token")).agg(sum(col("cu")).as("cu"))
    val bi = readBigrams(spark, stateDir).unionByName(biDelta(batch))
      .groupBy(col("prev"), col("cur")).agg(sum(col("c_bi")).as("c_bi"))
    // ONE composite commit: a crash between two per-table commits would
    // otherwise leave unigrams from batch N with bigrams from batch N-1
    state.commit(Seq("uni" -> uni, "bi" -> bi), batchId)
    state.mark(batchId)
  }

  /** Maintain the model over a document stream (one file per trigger;
    * stable checkpoint so repeated invocations resume, not replay). */
  def maintain(spark: SparkSession, inDir: String, stateDir: String):
      StreamingQuery =
    FileStream.maintain(spark, FileStream.Documents, inDir, stateDir)(mergeBatch)

  /** Score documents against the CURRENT accumulated model with q76's
    * interpolated-bigram formula — model reuse is the whole point of
    * incremental maintenance (scoring never refits). Returns one row per
    * (doc_id, lang) with the document perplexity. Scoring is shared with
    * the batch scorer ([[graft.operators.Curation.scoreAgainstModel]]),
    * whose left-join backoff gives NEW documents — unseen bigrams, even
    * wholly unseen tokens — their well-defined smoothed probability
    * instead of silently dropping them. */
  def scoreDocs(spark: SparkSession, stateDir: String, docs: DataFrame):
      DataFrame =
    graft.operators.Curation.scoreAgainstModel(
      graft.operators.Curation.bigramPairs(docs, "doc_id", "lang"),
      readUnigrams(spark, stateDir), readBigrams(spark, stateDir))
}
