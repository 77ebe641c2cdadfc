package graft.tools

import graft.streaming.EventsStream
import graft.sources.BinaryStore

/** Standalone driver for the streaming + binary-store surfaces (used by
  * the local verification recipe; not part of the engine API). */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val q = EventsStream.runAvailableNow(
      spark, "/root/testdata/sf0.001", "demo_hourly", "complete")(
      EventsStream.hourlyCounts)
    q.awaitTermination()
    println("=== streaming hourly counts (first 5 rows) ===")
    spark.table("demo_hourly").orderBy("bucket", "event_type").show(5, false)
    println("streaming rows: " + spark.table("demo_hourly").count())

    val store = java.nio.file.Files.createTempDirectory("graft_demo_store_").toString
    BinaryStore.put(store, BinaryStore.sanitizeFilename("My File*?.pdf"), "PDFBYTES".getBytes)
    BinaryStore.put(store, "plain.bin", Array[Byte](1, 2, 3))
    println("=== binary directory table ===")
    BinaryStore.directoryTable(spark, store).drop("content").show(false)
    spark.stop()
  }
}
