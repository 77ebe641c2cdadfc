package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{Pipeline, Shred}

/** Drives the full reference-shaped lifecycle through the public API
  * (local verification recipe; mirrors SURVEY.md §3.1). */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val docs = Seq(
      """{"eparegno":"70051-119","productname":"AZAGUARD","signal_word":"CAUTION","product_status":"Active","companyinfo":[{"name":"BioSafe Systems"}],"types":[{"type":"INSECTICIDE"},{"type":"NEMATICIDE"}],"pdffiles":[{"epa_reg_num":"070051-00119","pdffile":"070051-00119-20010314.pdf","pdffile_accepted_date":"2001-03-14"},{"epa_reg_num":"070051-00119","pdffile":"070051-00119-20150620.pdf","pdffile_accepted_date":"2015-06-20"}]}""",
      """{"eparegno":"264-1050","productname":"GUSTAFSON","signal_word":"WARNING","product_status":"Active","companyinfo":[{"name":"Bayer CropScience"}],"types":[{"type":"FUNGICIDE"}],"pdffiles":[{"epa_reg_num":"000264-01050","pdffile":"000264-01050.pdf","pdffile_accepted_date":"2003-07-01"}]}""")
    val star = Shred.shredJson(spark, docs)
    val emptyMeta = Seq.empty[(String, String, String, Long, String, String,
      String, String, String)].toDF("PRODUCT_NAME", "STAGE_FILE_PATH",
      "ORIGINAL_URL", "FILE_SIZE_BYTES", "PROCESSING_STATUS", "EPAREGNO",
      "PDF_FILE_NAME", "PDFFILE_ACCEPTED_DATE", "PDFFILE")
      .withColumn("UPLOAD_TIMESTAMP", current_timestamp())
      // the metadata table OWNS the autoincrement sequence
      // (mergeWithAutoId's contract), so even the empty bootstrap frame
      // carries the ID column
      .withColumn("ID", lit(0L))

    val toDl = Pipeline.pdfToDownload(star("products"), star("pdffiles"), emptyMeta)
    println("=== to download (latest per product, none processed) ===")
    println("toDl count: " + toDl.count())
    toDl.show(false)

    val store = java.nio.file.Files.createTempDirectory("graft_pdemo_").toString
    val fetched = Pipeline.downloadAndStore(toDl,
      f => (s"Label text for $f. " * 200).getBytes("UTF-8"), store)
    val meta = Pipeline.mergeMetadata(emptyMeta, fetched)
    println("=== metadata after store+merge ===")
    meta.select("EPAREGNO", "PDF_FILE_NAME", "FILE_SIZE_BYTES", "PROCESSING_STATUS").show(false)
    println("re-run to-download count (expect 0): " +
      Pipeline.pdfToDownload(star("products"), star("pdffiles"), meta).count())

    val toChunk = Pipeline.pdfToChunk(spark, store, meta)
    val emptyChunks = Seq.empty[(String, Long, String, String, Int, String)]
      .toDF("RELATIVE_PATH", "SIZE", "FILE_URL", "EPAREGNO", "CHUNK_INDEX", "CHUNK")
    val chunks = Pipeline.processChunks(emptyChunks, toChunk,
      b => new String(b, "UTF-8"))
    println("=== chunks per doc (4kB docs -> >1 chunk each) ===")
    chunks.groupBy($"EPAREGNO").agg(count(lit(1)).as("n_chunks"),
      max(length($"CHUNK")).as("max_len")).show(false)

    val enriched = Pipeline.updateCategory(chunks, star("products"),
      star("companyinfo"), star("types"))
    println("enriched count: " + enriched.count())
    println("=== enriched chunk sample ===")
    enriched.select("EPAREGNO", "CHUNK_INDEX", "PRODUCTNAME", "COMPANYNAME",
      "SIGNAL_WORD", "CATEGORY_EPA_TYPE").orderBy("EPAREGNO", "CHUNK_INDEX")
      .show(3, false)
    spark.stop()
  }
}
