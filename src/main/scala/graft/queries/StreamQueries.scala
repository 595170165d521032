package graft.queries

import org.apache.spark.sql.functions._
import graft.conll.Pipeline
import graft.streaming.StreamingPipeline

/** Structured-Streaming registry entries (driver-gated; the stream==batch
  * unit suites live in MultimodalStreamingSpec). */
object StreamQueries {

  val all: Seq[Q] = Seq(
    Q(
      // Stateful cross-batch document ASSEMBLY end-to-end (the
      // flatMapGroupsWithState regime): the det corpus is exploded into
      // per-span fragment rows closed by a doc_end marker, streamed
      // through the file source, re-assembled per doc_id in keyed state
      // (fragments may arrive across micro-batches; assembly sorts by
      // offset, so arrival order is free), then parsed and analyzed
      // INSIDE the same streaming query and landed exactly-once. The
      // result must hash-equal kg_pipeline_analyze — keyed state,
      // append-mode emission on doc_end, and the downstream lifted
      // pipeline all under the batch oracle.
      "kg_stream_assemble",
      (s, dir) => {
        import s.implicits._
        val base = Fixtures.streamFrags(s, dir)
        val in = s"$base/in"
        val schema = implicitly[org.apache.spark.sql.Encoder[StreamingPipeline.SpanFrag]].schema
        val frags = s.readStream.schema(schema).parquet(in)
          .as[StreamingPipeline.SpanFrag]
        // NoTimeout: the fixture satisfies the fragments-before-doc_end
        // contract (a production ingest sets a positive timeout)
        val docs = StreamingPipeline.assembleDocs(frags, timeoutMs = 0L)
        StreamingPipeline.drainToParquet(
            Pipeline.rewriteTriples(
              Pipeline.parse(docs, KgOracle.detCols), Pipeline.analyzeCascade).toDF(),
            base)
          .orderBy(col("doc_id"), col("subj"), col("pred"), col("obj"))
      },
      Some(KgOracle.analyzeSql)
    ),
    Q(
      // Watermarked event-time windowed aggregation end-to-end (the
      // brief's "watermarks + windowed aggs", unit-only before): the
      // events table is consumed as a file-source STREAM, aggregated by
      // 5-minute event-time windows under a 10-minute watermark in
      // APPEND mode, and landed in an exactly-once parquet sink
      // (Trigger.AvailableNow + checkpoint). Append-mode semantics are
      // part of the gate: a window is emitted only once the watermark
      // (max event time − 10 min, ms-truncated) passes its END, so the
      // stream's tail windows are withheld — the oracle mirrors the
      // eviction predicate exactly (HAVING window_end ≤ watermark).
      // Window starts are epoch-aligned in BOTH engines (DuckDB's
      // time_bucket origin 2000-01-03 is a multiple of 5 min past the
      // epoch), and the value sum takes the DECIMAL(18,6) route on both
      // sides.
      "q45_stream_window",
      (s, dir) => {
        val base = Fixtures.streamEvents(s, dir)
        val in = s"$base/in"
        val schema = Tables.events(s, dir).schema
        val stream = s.readStream.schema(schema).parquet(in)
        // state width follows MEASURED input bytes (r9): the windowed
        // aggregation's state keyspace is (#windows × event types) and
        // its downstream work is nil, so a session-width state layout
        // (= core count under the bench) just multiplies per-batch
        // state-store commits and sink files by the core count; see
        // graft.Sizing.byteWidth. kg_stream_assemble
        // deliberately does NOT take this: its state operator feeds the
        // per-doc parse+cascade, which a byte-sized (narrow) width would
        // serialize — downstream compute dominates there.
        StreamingPipeline.drainToParquet(
            StreamingPipeline.windowedEventCounts(stream)
              .select(
                unix_timestamp(col("window.start")).as("ws"),
                unix_timestamp(col("window.end")).as("we"),
                col("event_type"), col("n"), col("v")),
            base,
            stateWidth = Some(graft.Sizing.byteWidth(s, in)).filter(_ > 0))
          .orderBy(col("ws"), col("event_type"))
      },
      Some("""WITH e AS (
          SELECT time_bucket(INTERVAL '5 minutes', ts) AS wstart, event_type, value
          FROM events),
        mx AS (SELECT epoch_ms(MAX(ts)) - 600000 AS wm FROM events)
        SELECT CAST(epoch_ms(wstart) // 1000 AS BIGINT) AS ws,
               CAST(epoch_ms(wstart + INTERVAL '5 minutes') // 1000 AS BIGINT) AS we,
               event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
        FROM e, mx
        GROUP BY wstart, event_type, wm
        HAVING epoch_ms(wstart + INTERVAL '5 minutes') <= wm
        ORDER BY ws, event_type""")
    )
  )
}
