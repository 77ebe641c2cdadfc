package graft

import graft.operators.Chunker
import org.scalatest.funsuite.AnyFunSuite

/** Unit vectors + properties for the recursive character splitter
  * (SURVEY.md §2.8 U1; params 1512/256 from `epa_ingestion.py:283-284`).
  * Non-SQL-expressible, so pinned here rather than by the DuckDB oracle. */
class ChunkerSpec extends AnyFunSuite {

  test("empty and null-ish inputs") {
    assert(Chunker.chunkText("") == Seq.empty)
    assert(Chunker.chunkText(null) == Seq.empty)
  }

  test("short input is a single identity chunk") {
    val t = "hello world"
    assert(Chunker.chunkText(t) == Seq(t))
  }

  test("input exactly chunk_size stays whole") {
    val t = ("ab " * 504).trim // 1511 chars
    assert(t.length < 1512)
    assert(Chunker.chunkText(t) == Seq(t))
  }

  test("oversized single-word input falls through to char split") {
    val t = "x" * 4000
    val chunks = Chunker.chunkText(t, chunkSize = 100, overlap = 20)
    assert(chunks.forall(_.length <= 100))
    assert(chunks.nonEmpty)
  }

  test("space-separated text chunks to <= size with overlap") {
    val words = (1 to 2000).map(i => s"w$i")
    val t = words.mkString(" ")
    val chunks = Chunker.chunkText(t)
    assert(chunks.size > 1)
    assert(chunks.forall(_.length <= 1512))
    // consecutive chunks share a suffix/prefix window (overlap)
    chunks.sliding(2).foreach {
      case Seq(a, b) =>
        val tailWords = a.split(" ").takeRight(3).toSet
        val headWords = b.split(" ").take(60).toSet
        assert(tailWords.intersect(headWords).nonEmpty,
          s"no overlap between consecutive chunks")
      case _ =>
    }
    // nothing is lost: every input word appears in some chunk
    val covered = chunks.flatMap(_.split(" ")).toSet
    assert(words.forall(covered.contains))
  }

  test("paragraph separators are preferred over spaces") {
    val para = "word " * 100
    val t = (1 to 10).map(_ => para.trim).mkString("\n\n")
    val chunks = Chunker.chunkText(t, chunkSize = 600, overlap = 100)
    assert(chunks.forall(_.length <= 600))
    // paragraph boundaries respected: chunks start at paragraph or word starts
    assert(chunks.forall(c => c.startsWith("word") || c.startsWith("\n")))
  }

  test("property: chunks bounded and non-empty over a seeded input sweep") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val n = rnd.nextInt(400)
      val t = Seq.fill(n)(
        rnd.alphanumeric.filter(_.isLower).take(1 + rnd.nextInt(12)).mkString)
        .mkString(" ")
      val chunks = Chunker.chunkText(t, chunkSize = 200, overlap = 50)
      assert(chunks.forall(c => c.nonEmpty && c.length <= 200), s"bad chunks for n=$n")
      if (t.strip().nonEmpty) assert(chunks.nonEmpty)
    }
  }

  test("determinism: same input → same chunks") {
    val t = ("lorem ipsum dolor sit amet " * 200).trim
    assert(Chunker.chunkText(t) == Chunker.chunkText(t))
  }

  test("offset splitter equals the reference splitter on seeded mixed-separator texts") {
    // separators are chosen per join, so a "\n\n" region mixes "\n" and
    // " " inside it (the multi-level recursion), and words up to 200
    // chars fall through to the character split at small chunk sizes
    val rnd = new scala.util.Random(7)
    val seps = Array(" ", " ", " ", "\n", "\n", "\n\n")
    for (n <- 1 to 500) {
      val sb = new StringBuilder
      for (w <- 0 until rnd.nextInt(300)) {
        if (w > 0) sb.append(seps(rnd.nextInt(seps.length)))
        sb.append(rnd.alphanumeric.take(1 + rnd.nextInt(200)).mkString)
      }
      val t = sb.toString
      val cs = 50 + rnd.nextInt(400)
      val ov = rnd.nextInt(cs / 2)
      val (got, want) = (Chunker.chunkText(t, cs, ov), ChunkerRef.chunkText(t, cs, ov))
      if (got != want) {
        val k = got.zipAll(want, "", "").indexWhere { case (g, w) => g != w }
        fail(s"text $n (chunkSize $cs, overlap $ov, length ${t.length}): " +
          s"${got.size} vs ${want.size} chunks, first difference at chunk $k")
      }
    }
  }
}

/** The original piece-String recursive splitter, kept as the reference the
  * offset-based [[Chunker.chunkText]] must match chunk for chunk. */
private object ChunkerRef {
  import scala.collection.mutable.ArrayBuffer

  def chunkText(text: String, chunkSize: Int, overlap: Int): Seq[String] =
    if (text == null || text.isEmpty) Seq.empty
    else splitRecursive(text, chunkSize, overlap, Seq("\n\n", "\n", " ", ""))

  private def splitRecursive(text: String, chunkSize: Int, overlap: Int,
      separators: Seq[String]): Seq[String] = {
    var separator = separators.lastOption.getOrElse("")
    var newSeparators: Seq[String] = Seq.empty
    var i = 0
    var found = false
    while (i < separators.length && !found) {
      val s = separators(i)
      if (s.isEmpty) { separator = s; found = true }
      else if (text.contains(s)) {
        separator = s; newSeparators = separators.drop(i + 1); found = true
      }
      i += 1
    }
    val splits =
      if (separator.isEmpty) text.map(_.toString)
      else {
        val parts = ArrayBuffer.empty[String]
        var from = 0
        var idx = text.indexOf(separator)
        var first = true
        while (idx >= 0) {
          parts += (if (first) text.substring(from, idx)
            else separator + text.substring(from, idx))
          first = false
          from = idx + separator.length
          idx = text.indexOf(separator, from)
        }
        parts += (if (first) text.substring(from) else separator + text.substring(from))
        parts.filter(_.nonEmpty).toSeq
      }
    val finalChunks = ArrayBuffer.empty[String]
    val goodSplits = ArrayBuffer.empty[String]
    for (s <- splits) {
      if (s.length < chunkSize) goodSplits += s
      else {
        if (goodSplits.nonEmpty) {
          finalChunks ++= mergeSplits(goodSplits.toSeq, chunkSize, overlap)
          goodSplits.clear()
        }
        if (newSeparators.isEmpty) finalChunks += s
        else finalChunks ++= splitRecursive(s, chunkSize, overlap, newSeparators)
      }
    }
    if (goodSplits.nonEmpty)
      finalChunks ++= mergeSplits(goodSplits.toSeq, chunkSize, overlap)
    finalChunks.toSeq
  }

  /** Pieces already carry their separators, so they join with "". */
  private def mergeSplits(splits: Seq[String], chunkSize: Int,
      overlap: Int): Seq[String] = {
    val docs = ArrayBuffer.empty[String]
    var current = ArrayBuffer.empty[String]
    var total = 0
    def joinDocs(ds: Seq[String]): Option[String] = {
      val t = ds.mkString.strip()
      if (t.isEmpty) None else Some(t)
    }
    for (d <- splits) {
      val len = d.length
      if (total + len > chunkSize && current.nonEmpty) {
        joinDocs(current.toSeq).foreach(docs += _)
        while (total > overlap || (total + len > chunkSize && total > 0)) {
          total -= current.head.length
          current = current.drop(1)
        }
      }
      current += d
      total += len
    }
    joinDocs(current.toSeq).foreach(docs += _)
    docs.toSeq
  }
}

/** Generator (native UDTF) path ≡ UDF+posexplode path, and the plan
  * carries a Generate node over text_chunks. */
class ChunkGeneratorSpec extends SparkSuite {
  import org.apache.spark.sql.functions._

  test("chunkDocsNative equals chunkDocs on fixture documents") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .withColumn("text", repeat(concat(col("text"), lit(" ")), 10))
    val a = graft.operators.Chunker.chunkDocs(docs)
      .select("doc_id", "chunk_index", "chunk")
      .orderBy("doc_id", "chunk_index").collect().toSeq
    val b = graft.functions.ChunkFunctions.chunkDocsNative(docs)
      .select("doc_id", "chunk_index", "chunk")
      .orderBy("doc_id", "chunk_index").collect().toSeq
    assert(a.nonEmpty)
    assert(a == b)
  }

  test("typed Dataset flatMap path equals the untyped paths") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .withColumn("text", repeat(concat(col("text"), lit(" ")), 10))
    val typed = graft.operators.Chunker.chunkDocsTyped(
        docs.select(col("doc_id"), col("text")).as[(Long, String)])
      .toDF("doc_id", "chunk_index", "chunk")
      .orderBy("doc_id", "chunk_index").collect().toSeq
    val untyped = graft.operators.Chunker.chunkDocs(docs)
      .select("doc_id", "chunk_index", "chunk")
      .orderBy("doc_id", "chunk_index").collect().toSeq
    assert(typed.nonEmpty && typed == untyped)
  }

  test("plan uses a Generate node with text_chunks") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val plan = graft.functions.ChunkFunctions.chunkDocsNative(docs)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Generate text_chunks"), plan.take(500))
  }
}
