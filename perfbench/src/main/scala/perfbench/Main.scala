package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. Runs one workload over inputs the runner
  * generated and writes every raw measurement to `<out>/raw.json`; the
  * runner (perfbench/run.py) turns them into metrics.
  *
  * Usage: perfbench.Main --workload queries|ingest
  *   --data <tables dir> --ingest <ingest inputs dir> --out <dir>
  *   --seconds <n> --period <delta period s> --seed <n> --trace 0|1
  */
object Main {
  /** The fixed query list of the `queries` workload; the seed only
    * shuffles the order of each pass. The first six are relational
    * (shuffle and stage scheduling bound), the rest curation kernels
    * (per-row CPU bound): one or two of each module, the cheapest to run
    * and to check, so that a run fits the benchmark's time budget at sf0.1
    * on four cores. Graphs and Embedding, whose cheapest queries take
    * seconds per execution, and Chunker, whose oracle check alone does,
    * are left out. */
  val queryList: Seq[String] = Seq(
    "q05", "q09", // Relational
    "q20", // Dml
    "q50", // Temporal
    "q89", // Analytics
    "q97", // Evolution
    "q28", // Dedup
    "q80", // Similarity
    "q129", "q151", // Multimodal: the audio and JPEG decoders
    "q30", // TextStats
    "q92", // Curation
    "q119", // Spans
    "q86", // Clustering
    "q95", // Bpe
    "q36") // Search

  val modules: Seq[(String, Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame])] = {
    import graft.operators._
    Seq("Relational" -> Relational.queries, "Dml" -> Dml.queries,
      "Temporal" -> Temporal.queries, "Analytics" -> Analytics.queries,
      "Graphs" -> Graphs.queries, "Evolution" -> Evolution.queries,
      "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
      "Multimodal" -> Multimodal.queries, "TextStats" -> TextStats.queries,
      "Curation" -> Curation.queries, "Spans" -> Spans.queries,
      "Clustering" -> Clustering.queries, "Embedding" -> Embedding.queries,
      "Bpe" -> Bpe.queries, "Chunker" -> Chunker.queries,
      "Search" -> Search.queries)
  }

  def moduleOf(q: String): String =
    modules.collectFirst { case (m, qs) if qs.contains(q) => m }
      .getOrElse(sys.error(s"unknown query $q"))

  /** A query key of SparkEntry.queries from its short id (q36 → q36_bm25_topk). */
  def resolve(id: String): String = {
    val all = graft.SparkEntry.queries.keys
    all.find(_ == id).orElse(all.find(_.startsWith(id + "_")))
      .getOrElse(sys.error(s"no query $id"))
  }

  def session(cpus: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.local.dir", s"$work/spark-local")
    .getOrCreate()

  /** Fixed single-thread CPU yardstick, the same idea as graft.Bench's. */
  def calibMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0) println("")
    (System.nanoTime() - t0) / 1e6
  }

  /** Peak memory in use right after a garbage collection, over every
    * memory pool (heap, metaspace, code cache): the live set, which a leak
    * or a larger working set raises. The resident high-water mark (VmHWM)
    * is reported beside it but is not the metric: under a 4 GB heap it
    * follows when the collector happens to run. */
  object LiveMemory {
    private val peak = new java.util.concurrent.atomic.AtomicLong

    def install(): Unit = {
      import scala.jdk.CollectionConverters._
      import com.sun.management.GarbageCollectionNotificationInfo
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
              peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
            }, null, null)
        case _ =>
      }
    }

    def peakMb: Double = peak.get / 1048576.0
  }

  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val dataDir = args("data")
    val out = args("out")
    val seconds = args("seconds").toDouble
    val seed = args("seed").toLong
    val traced = args.getOrElse("trace", "0") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    LiveMemory.install()
    Files.createDirectories(Paths.get(out))
    val raw = mutable.LinkedHashMap.empty[String, Any]
    raw("workload") = workload
    raw("seed") = seed
    raw("nproc") = cpus
    raw("calib_ms_start") = calibMs()

    // Set-up, three times, each from a stopped session: session start,
    // table registration and a warm-up operation. The runner reports the
    // median; the first, which also loads the JVM's classes, is the slowest.
    val register: SparkSession => Unit = workload match {
      case "ingest" => s => Ingest.warm(s, args("ingest"))
      case _ => s =>
        graft.sources.Tables.names.foreach { n =>
          graft.sources.Tables.load(s, dataDir, n).createOrReplaceTempView(n)
        }
        s.table("lineitem").groupBy("l_returnflag").count()
          .write.format("noop").mode("overwrite").save()
    }
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 0 until 3) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, out)
      spark.sparkContext.setLogLevel("ERROR")
      register(spark)
      spark.catalog.clearCache()
      graft.tools.Checkpoints.sweep(spark)
      setups += (System.nanoTime() - t0) / 1e9
    }
    raw("setup_s") = setups.toList
    raw("conf") = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" }.toSeq.sorted.toMap

    val ops = new Ops(spark)
    workload match {
      case "queries" =>
        QueryLoop.run(spark, ops, queryList.map(resolve), dataDir, out, seconds, seed,
          traced, raw)
      case "ingest" =>
        new Ingest(spark, ops, args("ingest"), out, args("period").toDouble, traced, raw).run()
      case other => sys.error(s"unknown workload $other")
    }
    raw("ops") = ops.records.toList
    raw("spans") = Trace.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "req" -> s.req, "layer" -> s.layer, "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1))
    System.gc()
    Thread.sleep(200) // the collection's notification arrives asynchronously
    raw("mem_peak_mb") = LiveMemory.peakMb
    raw("vm_hwm_mb") = vmHwmMb()
    spark.stop()
    raw("calib_ms_end") = calibMs()
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(Paths.get(out, "raw.json").toFile, raw)
  }
}
