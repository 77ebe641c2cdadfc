package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Pipeline, Shred}
import graft.streaming.{DedupIndexStream, SearchIndexStream, VersionedState}

/** The open-loop `ingest` workload: a bulk load, then delta batches due
  * every `periodS` seconds, each driven through the reference lifecycle
  * (shred → to-download → store → merge → to-chunk → chunk → mark →
  * enrich → both index merges), with a single reader issuing BM25 top-10
  * requests against the freshly written chunk table between batches. The
  * generator wrote only the deltas that fall due in the run's window. */
final class Ingest(spark: SparkSession, ops: Ops, inDir: String, out: String,
    periodS: Double, traced: Boolean, raw: mutable.Map[String, Any]) {
  import Ingest._

  private val root = s"$out/ingest"
  private val store = s"$root/store"
  private val tables = s"$root/tables"
  private val searchState = s"$root/search_index"
  private val dedupState = s"$root/dedup_index"
  private val batches = Ingest.batches(inDir)
  private val pdfs: Map[String, Array[Byte]] = Files.list(Paths.get(inDir, "pdfs")).iterator()
    .asScala.map(p => p.getFileName.toString -> Files.readAllBytes(p)).toMap
  private val requests = Requests.load(s"$inDir/requests.json")

  private val current = mutable.Map.empty[String, String]
  private val fetches = mutable.ArrayBuffer.empty[(Long, Long)]
  private var fetchedBytes = 0L
  /** Every chunk fed to the index maintainers, by doc id. */
  private val fed = mutable.LinkedHashMap.empty[Long, String]
  /** The search corpus as the benchmark expects it: the chunk rows of each
    * chunked file, replaced when the file is chunked again (as
    * Pipeline.processChunks replaces them). */
  private val corpus = mutable.LinkedHashMap.empty[String, Seq[(Long, String)]]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val stageMs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val noop = mutable.ArrayBuffer.empty[Int]
  private val putMs = mutable.ArrayBuffer.empty[(Int, Double)]
  private var batchId = 0

  /** Overwrite-by-swap: write version v+1, read it back, drop version v. */
  private def persist(name: String, df: DataFrame): DataFrame = {
    val prev = current.get(name)
    val path = s"$tables/$name/v${prev.map(_.split("/v").last.toInt + 1).getOrElse(0)}"
    df.write.parquet(path)
    current(name) = path
    prev.foreach(p => graft.streaming.VersionedState.deleteTree(Paths.get(p)))
    spark.read.parquet(path)
  }

  private def table(name: String): DataFrame = spark.read.parquet(current(name))

  private def fetch(name: String): Array[Byte] = {
    val t0 = System.nanoTime()
    val bytes = pdfs(name)
    fetchedBytes += bytes.length
    fetches += ((t0, System.nanoTime()))
    bytes
  }

  /** One stage: the call plus the persist of its output. */
  private def stage[T](key: String, layer: String, module: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = Trace.span(layer, module)(body)
    stageMs += Map("stage" -> key, "batch" -> batchId, "ms" -> (System.nanoTime() - t0) / 1e6)
    r
  }

  private def docId: org.apache.spark.sql.Column =
    xxhash64(col("EPAREGNO"), col("CHUNK_INDEX"), col("CHUNK"))

  private def processBatch(id: Int): Unit = {
    import spark.implicits._
    batchId = id
    val docs = batches(id).toDF("json")
    stage("shred_ms", "operators", "Shred") {
      val star = Shred.shred(Shred.parse(docs))
      val products = star("products").filter(col("EPAREGNO").isNotNull)
      val keys = products.select(col("EPAREGNO")).distinct()
      def upsert(name: String, fresh: DataFrame, dedup: Seq[String]): Unit = {
        val merged = current.get(name) match {
          case None => fresh
          case Some(_) if dedup.isEmpty =>
            table(name).join(keys, Seq("EPAREGNO"), "left_anti").unionByName(fresh)
          case Some(_) => table(name).unionByName(fresh).dropDuplicates(dedup)
        }
        persist(name, merged)
      }
      upsert("products", products, Nil)
      upsert("pdffiles", star("pdffiles"), Seq("EPAREGNO", "PDFFILE"))
      upsert("companyinfo", star("companyinfo"), Nil)
      upsert("types", star("types"), Nil)
    }
    val toDl = stage("to_download_ms", "operators", "Pipeline") {
      val meta = current.get("metadata").map(_ => table("metadata"))
        .getOrElse(emptyMetadata(spark))
      persist("to_download", Pipeline.pdfToDownload(table("products"), table("pdffiles"), meta))
    }
    val fetched = stage("store_ms", "operators", "Pipeline") {
      fetches.clear()
      val f = Pipeline.downloadAndStore(toDl, fetch, store)
      storeGaps(System.nanoTime())
      persist("fetched", f)
    }
    stage("merge_ms", "operators", "Pipeline") {
      val meta = current.get("metadata").map(_ => table("metadata"))
        .getOrElse(fetched.limit(0).withColumn("ID", lit(null).cast(LongType)))
      persist("metadata", Pipeline.mergeMetadata(meta, fetched))
    }
    val toChunk = stage("to_chunk_ms", "operators", "Pipeline") {
      persist("to_chunk", Pipeline.pdfToChunk(spark, store, table("metadata")))
    }
    val chunks = stage("chunk_ms", "operators", "Pipeline") {
      val old = current.get("chunks").map(_ => table("chunks")).getOrElse(emptyChunks(spark))
      persist("chunks", Pipeline.processChunks(old, toChunk, SeamCounters.parse))
    }
    stage("mark_ms", "operators", "Pipeline") {
      persist("metadata", Pipeline.markChunked(table("metadata"), chunks))
    }
    stage("enrich_ms", "operators", "Pipeline") {
      persist("enriched", Pipeline.updateCategory(chunks, table("products"),
        table("companyinfo"), table("types")))
    }
    // the batch's fresh chunks feed both index maintainers
    val fresh = chunks.join(toChunk.select(col("RELATIVE_PATH")).distinct(), "RELATIVE_PATH")
      .select(col("RELATIVE_PATH"), docId.as("doc_id"), col("CHUNK").as("text")).collect()
    val rows = fresh.map(r => Row(r.getLong(1), r.getString(2)))
    rows.foreach(r => if (!fed.contains(r.getLong(0))) fed(r.getLong(0)) = r.getString(1))
    fresh.groupBy(_.getString(0)).foreach { case (path, rs) =>
      corpus(path) = rs.toSeq.map(r => (r.getLong(1), r.getString(2))) }
    val feed = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val v0 = new VersionedState(searchState).readVersion
    stage("search_merge_ms", "streaming", "SearchIndexStream") {
      SearchIndexStream.mergeBatch(feed, searchState, id.toLong)
    }
    stage("dedup_merge_ms", "streaming", "DedupIndexStream") {
      DedupIndexStream.mergeBatch(feed, dedupState, id.toLong)
    }
    noop += (if (new VersionedState(searchState).readVersion == v0) 1 else 0)
  }

  /** The store loop is fetch, put, fetch, put...: the put of item i is the
    * gap between the end of fetch i and the start of fetch i+1 (or the
    * end of the call for the last item). */
  private def storeGaps(end: Long): Unit = {
    val starts = fetches.map(_._1).drop(1) :+ end
    fetches.map(_._2).zip(starts).foreach { case (e, s) => putMs += ((batchId, (s - e) / 1e6)) }
  }

  private def searchDocs(): DataFrame =
    table("enriched").select(docId.as("doc_id"), col("CHUNK").as("text"))

  def run(): Unit = {
    var nextRequest = 0
    val bulk = ops.run("batch", "bulk", Map("batch" -> 0)) { processBatch(0) }
    raw("bulk_s") = bulk("s")
    var docs = corpus.values.flatten.toVector
    var expected = new SearchRequest.Expected(docs)
    var lastSearchNs = 0L
    var lastBatch = 0
    // each answered search with the corpus it ran on, checked after the window
    val answered = mutable.ArrayBuffer.empty[(Seq[String], Seq[(Long, Double)], SearchRequest.Expected)]
    def search(kind: String): Unit = {
      val terms = requests(nextRequest % requests.size)
      nextRequest += 1
      if (traced) ops.setTraced(kind == "search" && nextRequest % 2 == 0)
      var got = Seq.empty[(Long, Double)]
      val rec = ops.run(kind, terms.mkString(" "), Map("batch" -> lastBatch)) {
        got = Trace.span("operators", "Search") { SearchRequest(searchDocs(), terms) }
      }
      lastSearchNs = rec("t1").asInstanceOf[Long] - rec("t0").asInstanceOf[Long]
      if (rec("ok") == true) answered += ((terms, got, expected))
    }
    // Warm-up before the window: the reader's first requests after the
    // bulk run slower, from above a second down to a plateau reached after
    // some 25 requests, as the JVM compiles the search path. The steep
    // part is over after about six; those are checked but not timed.
    for (_ <- 0 until WarmSearches) search("warm")
    val start = System.nanoTime()
    val due = (1 until batches.size).map(k => k -> (start + (k * periodS * 1e9).toLong))
    for ((k, d) <- due) {
      // the reader fills the gap before the batch is due
      while (System.nanoTime() + lastSearchNs < d) search("search")
      val wait = d - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      if (traced) ops.setTraced(true)
      ops.run("batch", s"delta-$k", Map("batch" -> k, "due" -> d)) { processBatch(k) }
      lastBatch = k
      docs = corpus.values.flatten.toVector
      expected = new SearchRequest.Expected(docs)
      // and reads the fresh batch back once
      search("search")
    }
    raw("window_s") = (System.nanoTime() - start) / 1e9
    raw("period_s") = periodS
    ops.setTraced(false)
    for ((terms, got, on) <- answered)
      checks += Map("name" -> s"search ${terms.mkString(" ")}",
        "ok" -> SearchRequest.matches(got, on(terms)))
    check(lastBatch, docs)
    measureState(lastBatch)
    raw("stage_ms") = stageMs.toList
    raw("checks") = checks.toList
  }

  private def check(lastBatch: Int, docs: Seq[(Long, String)]): Unit = {
    // 0. the corpus the searches were checked against is the table they read
    val read = searchDocs().collect().map(r => (r.getLong(0), r.getString(1)))
    checks += Map("name" -> "search corpus", "ok" -> (read.sorted.toSeq == docs.sorted))
    // 1. latest PDF per product and one metadata row per product
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val manifest = mapper.readTree(new java.io.File(s"$inDir/manifest.json"))
    val seen = mutable.Map.empty[String, mutable.Map[String, String]]
    for (b <- 0 to lastBatch; e <- manifest.get(b).fields().asScala; p <- e.getValue.elements().asScala)
      seen.getOrElseUpdate(e.getKey, mutable.Map.empty)(p.get("pdffile").asText()) =
        p.get("date").asText()
    val wantLatest = seen.map { case (regno, files) =>
      regno -> files.toSeq.sortBy { case (f, d) => (d, f) }(
        Ordering.Tuple2(Ordering[String].reverse, Ordering[String])).head._1 }.toMap
    val meta = table("metadata").select("EPAREGNO", "PDFFILE").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val oneRow = meta.groupBy(_._1).forall(_._2.length == 1)
    checks += Map("name" -> "one metadata row per product", "ok" -> oneRow)
    // a truncated JSON line carries no product (the reference skips it)
    val products = table("products").select("EPAREGNO")
    checks += Map("name" -> "one products row per product",
      "ok" -> (products.count() == products.distinct().count()))
    checks += Map("name" -> "latest PDF per product", "ok" -> (meta.toMap == wantLatest))
    // 2. the search index's token and doc statistics
    val (tok, doc) = SearchIndexStream.readState(spark, searchState)
    val gotDl = doc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotDf = tok.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the index is additive: it keeps the chunks of a file chunked again,
    // which the chunk table (and so the search corpus) drops
    val toks = fed.map { case (id, text) => id -> text.split(" ", -1).toSeq }
    val wantDl = toks.map { case (id, ts) => id -> ts.size.toLong }.toMap
    val wantDf = toks.values.flatMap(_.distinct).groupMapReduce(identity)(_ => 1L)(_ + _)
    checks += Map("name" -> "index doc lengths", "ok" -> (gotDl == wantDl))
    checks += Map("name" -> "index token document counts", "ok" -> (gotDf == wantDf))
    val applied = Seq(searchState, dedupState)
      .forall(d => new VersionedState(d).isApplied(lastBatch.toLong))
    checks += Map("name" -> "both index states committed", "ok" -> applied)
  }

  private def bytesUnder(p: String): Long = {
    val path = Paths.get(p)
    if (!Files.exists(path)) 0L
    else Files.walk(path).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size(_: Path)).sum
  }

  private def measureState(lastBatch: Int): Unit = {
    val inputJson = (0 to lastBatch).map(b => batches(b).map(_.length + 1L).sum).sum
    val stateDirs = Seq(searchState, dedupState)
    val live = stateDirs.flatMap { d =>
      new VersionedState(d).readVersion.map(v => s"$d/v__$v") }
    val stateRows = {
      val (t, d) = SearchIndexStream.readState(spark, searchState)
      val (s, b, p) = DedupIndexStream.readState(spark, dedupState)
      Seq(t, d, s, b, p).map(_.count()).sum
    }
    raw("ingest") = Map(
      "batches" -> (lastBatch + 1),
      "input_bytes" -> (inputJson + fetchedBytes),
      "stored_bytes" -> bytesUnder(root),
      "store_bytes" -> bytesUnder(store),
      "state_rows" -> stateRows,
      "state_bytes" -> live.map(bytesUnder).sum,
      "retained_bytes" -> stateDirs.map(bytesUnder).sum,
      "noop_batch_ratio" -> (noop.sum.toDouble / math.max(1, noop.size)),
      "put_ms" -> putMs.map { case (b, ms) => Map("batch" -> b, "ms" -> ms) }.toList,
      "parse_calls" -> SeamCounters.parseCalls.get,
      "parse_ms" -> SeamCounters.parseNanos.get / 1e6,
      "parse_empty" -> SeamCounters.parseEmpty.get,
      "parsed_docs" -> SeamCounters.distinctDocs)
  }
}

object Ingest {
  /** Untimed search requests between the bulk and the window. */
  val WarmSearches = 6

  def batches(inDir: String): IndexedSeq[Seq[String]] =
    Files.list(Paths.get(inDir)).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("batch_") && n.endsWith(".jsonl")).toSeq.sorted
      .map(n => Files.readAllLines(Paths.get(inDir, n)).asScala.toSeq.filter(_.nonEmpty))
      .toIndexedSeq

  def emptyMetadata(spark: SparkSession): DataFrame = spark.createDataFrame(
    java.util.Collections.emptyList[Row](), StructType(Seq(
      StructField("PRODUCT_NAME", StringType), StructField("STAGE_FILE_PATH", StringType),
      StructField("ORIGINAL_URL", StringType), StructField("FILE_SIZE_BYTES", LongType),
      StructField("PROCESSING_STATUS", StringType), StructField("EPAREGNO", StringType),
      StructField("PDF_FILE_NAME", StringType), StructField("PDFFILE_ACCEPTED_DATE", StringType),
      StructField("PDFFILE", StringType), StructField("UPLOAD_TIMESTAMP", TimestampType),
      StructField("ID", LongType))))

  def emptyChunks(spark: SparkSession): DataFrame = spark.createDataFrame(
    java.util.Collections.emptyList[Row](), StructType(Seq(
      StructField("RELATIVE_PATH", StringType), StructField("SIZE", LongType),
      StructField("FILE_URL", StringType), StructField("EPAREGNO", StringType),
      StructField("CHUNK_INDEX", IntegerType), StructField("CHUNK", StringType))))

  /** Set-up warm-up: shred one product and parse one PDF. */
  def warm(spark: SparkSession, inDir: String): Unit = {
    val line = batches(inDir).head.head
    Shred.shredJson(spark, Seq(line))("products").write.format("noop").mode("overwrite").save()
    val pdf = Files.list(Paths.get(inDir, "pdfs")).iterator().asScala.next()
    graft.sources.PdfText.extract(Files.readAllBytes(pdf))
  }
}
