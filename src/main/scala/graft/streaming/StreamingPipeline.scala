package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.Row
import graft.conll.{DocGen, InputDoc, Pipeline, Span}
import graft.conll.Rules.Script

/** Structured Streaming surface — beyond the reference (SURVEY §2.8: the
  * reference is batch-semantics over Unix pipes, no event time), provided
  * because a production ingest of 10^12 documents arrives incrementally.
  *
  * The KG pipeline is a purely narrow transformation (parse + rewrite are
  * per-document maps), so it lifts to streaming unchanged: readStream over
  * a spans-table directory → the same fused Pipeline.rewriteTriples →
  * append-mode sink.
  * No state, no watermark needed — each micro-batch is embarrassingly
  * parallel, and exactly-once comes from the file-source + checkpoint
  * contract.
  */
object StreamingPipeline {

  /** Streaming triples from a parquet spans-table directory. */
  def streamTriples(
      spark: SparkSession,
      inputDir: String,
      cols: Seq[String] = DocGen.columns,
      scripts: Seq[(Script, Int)] = Pipeline.analyzeCascade
  ): DataFrame = {
    import spark.implicits._
    val docs = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[InputDoc]].schema)
      .parquet(inputDir)
      .as[InputDoc]
    Pipeline.rewriteTriples(Pipeline.parse(docs, cols), scripts).toDF()
  }

  /** Windowed event aggregation with watermarking (late-data handling) —
    * the streaming analog of q13_sessionize's gap analysis. */
  def windowedEventCounts(events: DataFrame, window_ : String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      // event time must be TIMESTAMP (with zone); parquet written by other
      // engines may carry TIMESTAMP_NTZ
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,6)")).cast("double").as("v"))

  /** One span fragment of a document, as an incremental ingest delivers
    * them (kind == "doc_end" closes the document). */
  final case class SpanFrag(
      doc_id: String, kind: String, text: String, media_ref: String, offset: Int)

  /** Streaming exact dedup — the q20 modality on an unbounded ingest:
    * documents are fingerprinted (md5 over whitespace-normalized
    * lowercase text, q27's scheme) and duplicates are dropped EXACTLY
    * within the watermark horizon via dropDuplicatesWithinWatermark.
    * State is bounded by the horizon; a full-history distinct would
    * accumulate O(corpus) state — at 10^12 docs the horizon IS the
    * contract (cross-horizon dups belong to the batch dedup pass).
    * Expects (doc_id, text, ts) rows. */
  def streamDedup(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .withColumn("fingerprint",
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")).cast("binary")))
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Assembly state: buffered fragments, or a tombstone left behind after
    * the doc emitted (closed = true) so fragments arriving AFTER doc_end
    * (out-of-order across micro-batches) are recognized as stragglers and
    * dropped instead of silently re-opening a document that can never
    * emit again (ADVICE r2). */
  final case class AsmState(spans: Seq[Span], closed: Boolean)

  /** Stateful cross-batch document assembly: span fragments of one
    * document may arrive across micro-batches; per-doc state buffers them
    * until the `doc_end` marker (emit + tombstone) or a processing-time
    * timeout (emit what arrived — a truncated doc beats a leaked state
    * entry at 10^12-doc scale; tombstones evict on the same timeout).
    * This is the `KeyValueGroupedDataset.flatMapGroupsWithState` regime:
    * keyed state, append output, timeout-driven eviction; downstream
    * parse/rewrite stay the same narrow transforms as in batch.
    *
    * With `timeoutMs <= 0` (NoTimeout) there is no eviction clock, so no
    * tombstone can be kept: the ingest contract is then strictly
    * fragments-before-doc_end per document — stragglers after doc_end are
    * dropped only if they arrive in the SAME batch; across batches they
    * would buffer forever. Use a positive timeout in production. */
  def assembleDocs(
      frags: Dataset[SpanFrag],
      timeoutMs: Long = 60000L): Dataset[InputDoc] = {
    import frags.sparkSession.implicits._
    // timeoutMs <= 0 → NoTimeout: a registered processing-time timeout
    // keeps the engine scheduling empty micro-batches to re-evaluate it,
    // which is the right behavior in production (eviction must fire
    // without new data) but a busy loop in a drain-synchronously test
    val conf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    frags.groupByKey(_.doc_id)
      .flatMapGroupsWithState[AsmState, InputDoc](OutputMode.Append(), conf) {
        case (docId, it, state) =>
          if (state.hasTimedOut) {
            val spans = state.getOption.map(_.spans).getOrElse(Seq.empty)
            state.remove() // truncated-doc emit, or tombstone eviction
            if (spans.nonEmpty) Iterator(InputDoc(docId, spans.sortBy(_.offset)))
            else Iterator.empty
          } else if (state.getOption.exists(_.closed)) {
            // stragglers after doc_end: drop, keep the tombstone ticking
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            Iterator.empty
          } else {
            val all = state.getOption.map(_.spans).getOrElse(Seq.empty) ++
              it.map(f => Span(f.kind, f.text, f.media_ref, f.offset))
            val (ends, rest) = all.partition(_.kind == "doc_end")
            if (ends.nonEmpty) {
              if (timeoutMs > 0) {
                state.update(AsmState(Seq.empty, closed = true))
                state.setTimeoutDuration(timeoutMs)
              } else state.remove() // NoTimeout: nothing could evict a tombstone
              // a doc_end with no buffered fragments is a no-op, not an
              // empty document (ADVICE r2)
              if (rest.nonEmpty) Iterator(InputDoc(docId, rest.sortBy(_.offset)))
              else Iterator.empty
            } else {
              state.update(AsmState(all, closed = false))
              if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
              Iterator.empty
            }
          }
      }
  }

  /** Drive a streaming DataFrame to completion into an exactly-once
    * parquet sink under `base` and return the materialized result:
    * `base/out` + `base/cp` are cleared first so the query
    * deterministically reprocesses ALL available input (the resume
    * contract itself is covered by the checkpoint-resume gate). Shared
    * by the driver-gated streaming registry entries.
    *
    * `stateWidth` (r9): when set, `spark.sql.shuffle.partitions` is
    * pinned to it for the DURATION OF THE QUERY (set before start,
    * restored after termination — the streaming engine captures the conf
    * at query start and writes it into the checkpoint, so this is the
    * one seam where a stateful query's width can follow data; see
    * [[graft.Sizing.byteWidth]]). Results are width-invariant — only the
    * state-store count and sink file layout change. */
  def drainToParquet(df: DataFrame, base: String,
                     stateWidth: Option[Int] = None): DataFrame = {
    val outP = s"$base/out"
    val cp = s"$base/cp"
    val spark = df.sparkSession
    // cleared through base's own Hadoop FileSystem (as CheckpointRunner
    // writes its markers): java.io.File cannot see a file: URI or any
    // other scheme, and a surviving checkpoint would append the new input
    // to the previous drain's rows
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(outP, cp).foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val widthKey = "spark.sql.shuffle.partitions"
    val prevWidth = stateWidth.map(_ => spark.conf.get(widthKey))
    stateWidth.foreach(w => spark.conf.set(widthKey, w.toString))
    try {
      val q = df.writeStream
        .format("parquet")
        .option("path", outP)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally prevWidth.foreach(spark.conf.set(widthKey, _))
    df.sparkSession.read.parquet(outP)
  }

  /** Convenience: drive a streaming query synchronously over whatever is
    * in the input dir (test/bench harness). */
  def runOnce(df: DataFrame, queryName: String): Unit = {
    val q: DataStreamWriter[Row] = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
    val started = q.start()
    started.processAllAvailable()
    started.stop()
  }
}
