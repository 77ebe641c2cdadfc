package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `req` is the request (operation) id the
  * span belongs to; `parent` is the enclosing span on the same thread, or
  * -1. Times are System.nanoTime. */
final case class Span(id: Int, parent: Int, req: String, layer: String,
    name: String, t0: Long, t1: Long)

/** In-memory span recorder. Off unless the run is traced; when off a span
  * is only the call it wraps. */
object Trace {
  @volatile var on = false
  @volatile var req = ""
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        val s = Span(id, parent, req, layer, name, t0, t1)
        synchronized { spans += s }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Counters for the injected PDF parse, which runs inside Spark tasks.
  * Plain statics: the benchmark runs Spark in local mode, so task threads
  * share this JVM. */
object SeamCounters {
  val parseCalls = new AtomicLong
  val parseNanos = new AtomicLong
  val parseEmpty = new AtomicLong
  private val parsedDocs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def parse(bytes: Array[Byte]): String = {
    val t0 = System.nanoTime()
    val text = graft.sources.PdfText.extract(bytes)
    parseNanos.addAndGet(System.nanoTime() - t0)
    parseCalls.incrementAndGet()
    if (text.isEmpty) parseEmpty.incrementAndGet()
    parsedDocs.add(java.util.Arrays.hashCode(bytes).toString + ":" + bytes.length)
    text
  }

  def distinctDocs: Int = parsedDocs.size
}

/** Per-request Spark accounting: the counts come from a SparkListener, the
  * planning time from a QueryExecutionListener. Requests are tagged with
  * the local property `perfbench.req`. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  final class Agg {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, shuffleWrite, shuffleRead, spill, recordsRead = 0L
    var planMs = 0.0
    val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val byReq = mutable.Map.empty[String, Agg]
  private val stageReq = mutable.Map.empty[Int, String]
  @volatile var current = ""

  private def agg(req: String): Agg = byReq.getOrElseUpdate(req, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val req = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.req")))
      .getOrElse("")
    agg(req).jobs += 1
    e.stageIds.foreach(stageReq(_) = req)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val a = agg(stageReq.getOrElse(info.stageId, ""))
    a.stages += 1
    for (s <- info.submissionTime; c <- info.completionTime) a.stageSpans += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageReq.getOrElse(e.stageId, ""))
    a.tasks += 1
    if (e.reason != Success) a.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { agg(current).planMs += qe.tracker.phases.values.map(_.durationMs).sum }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { agg(current).planMs += qe.tracker.phases.values.map(_.durationMs).sum }

  /** Flush the bus and hand back the request's totals. */
  def take(sc: SparkContext, req: String): Map[String, Any] = {
    PerfbenchBus.drain(sc)
    synchronized {
      val a = byReq.remove(req).getOrElse(new Agg)
      Map("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "failed_tasks" -> a.failedTasks, "task_run_ms" -> a.runMs,
        "task_cpu_ms" -> a.cpuNs / 1e6, "shuffle_write_bytes" -> a.shuffleWrite,
        "shuffle_read_bytes" -> a.shuffleRead, "spill_bytes" -> a.spill,
        "records_read" -> a.recordsRead, "plan_ms" -> a.planMs,
        "stage_spans" -> a.stageSpans.map { case (s, c) => Seq(s, c) }.toList)
    }
  }
}

/** Wraps each operation of a run: request tagging, leak check, cleanup and
  * (when traced) the Spark probe. */
final class Ops(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var probe: Option[SparkProbe] = None
  private var n = 0
  val records = mutable.ArrayBuffer.empty[Map[String, Any]]

  def traced: Boolean = probe.isDefined

  def setTraced(on: Boolean): Unit = (on, probe) match {
    case (true, None) =>
      val p = new SparkProbe
      sc.addSparkListener(p); spark.listenerManager.register(p)
      probe = Some(p); Trace.on = true
    case (false, Some(p)) =>
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(p); spark.listenerManager.unregister(p)
      probe = None; Trace.on = false
    case _ =>
  }

  /** Time `body` as one operation. The leak check counts the RDDs still
    * persisted (cached frames and local checkpoints) before the
    * benchmark's own cleanup. A throwing operation is recorded as failed. */
  def run(kind: String, name: String, extra: Map[String, Any] = Map.empty)(
      body: => Unit): Map[String, Any] = {
    n += 1
    val req = s"$kind-$n"
    sc.setLocalProperty("perfbench.req", req)
    Trace.req = req
    probe.foreach(_.current = req)
    val codegen0 = codegenCompiles()
    val gc0 = graft.tools.Jvm.gcMillis()
    val e0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val err = try { Trace.span("op", name)(body); None }
      catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.toString).take(300)) }
    val t1 = System.nanoTime()
    val e1 = System.currentTimeMillis()
    val gc1 = graft.tools.Jvm.gcMillis()
    val left = sc.getPersistentRDDs.size
    spark.catalog.clearCache()
    graft.tools.Checkpoints.sweep(spark)
    val rec = Map[String, Any]("kind" -> kind, "name" -> name, "req" -> req,
      "t0" -> t0, "t1" -> t1, "s" -> (t1 - t0) / 1e9, "ok" -> err.isEmpty,
      "error" -> err, "cached_left" -> left, "traced" -> traced) ++ extra ++
      probe.map(p => p.take(sc, req) ++ Map(
        "gc_ms" -> (gc1 - gc0), "codegen_compiles" -> (codegenCompiles() - codegen0),
        "epoch_ms" -> Seq(e0, e1)))
        .getOrElse(Map.empty)
    sc.setLocalProperty("perfbench.req", null)
    records += rec
    rec
  }

  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
