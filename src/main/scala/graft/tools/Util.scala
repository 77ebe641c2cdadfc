package graft.tools

/** JSON string quoting for the hand-rolled artifact writers (Verify,
  * Bench, DedupFuzz — no JSON library in the unmanaged classpath worth
  * pulling in for three writers). ONE implementation: the escaper was
  * forked per-writer and the forks drifted — DedupFuzz's copy dropped
  * tab/CR/control escaping, so one tab in an oracle SQL string would
  * have made the checker's json.load reject the whole artifact
  * (review find; Verify.scala had documented exactly this failure). */
object JsonText {
  /** `s` as a quoted JSON string literal: backslash, quote, and ALL
    * control chars (< 0x20) escaped. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** JVM telemetry reads shared by the measurement harnesses. */
object Jvm {
  /** Cumulative GC milliseconds across all collectors; a collector
    * reporting -1 (undefined) counts as 0 rather than skewing the sum
    * negative (a per-probe copy of this sum once dropped the clamp). */
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Used heap bytes right now, in MB. */
  def heapUsedMb(): Long = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024L * 1024L)
  }
}
