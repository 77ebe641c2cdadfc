package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The ONE stream driver of the file-fed incremental maintainers: a
  * parquet directory read as a stream of arriving files, one file per
  * trigger, drained with `Trigger.AvailableNow`, every micro-batch
  * handed to the maintainer's `mergeBatch`. The checkpoint lives at a
  * STABLE location inside the state dir, so repeated invocations resume
  * (consume only newly arrived files) rather than replaying the corpus;
  * exactly-once within a batch is the maintainer's [[VersionedState]]
  * discipline. A deployment with a freshness SLA swaps the trigger for
  * `Trigger.ProcessingTime("1 minute")` — the reference's TARGET_LAG —
  * here, for every maintainer at once. */
private[streaming] object FileStream {

  // FileStreamSource needs a declared schema: the three arriving tables
  val Documents = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
  val Embeddings = "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
  val Events = "event_id LONG, ts TIMESTAMP, user_id LONG, " +
    "event_type STRING, value DOUBLE, props STRING"

  /** Start `merge(batch, stateDir, batchId)` over the files of `inDir`. */
  def maintain(spark: SparkSession, schema: String, inDir: String,
      stateDir: String)(merge: (DataFrame, String, Long) => Any):
      StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        merge(batch, stateDir, batchId): Unit
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$stateDir/_checkpoint")
      .start()
}
