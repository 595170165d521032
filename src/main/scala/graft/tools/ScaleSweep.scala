package graft.tools

import org.apache.spark.sql.SparkSession
import graft.functions.Hashing
import graft.streaming.StreamingPipeline

/** Third-decade scale evidence (VERDICT r4 item 4): the committed
  * two-SF bench curves cover one measured decade (sf0.01 → sf0.1); this
  * tool adds sf0.1 → sf1-equivalent by generating a deterministic
  * synthetic corpus with the SAME generator at two sizes (5k docs — the
  * sf0.1 shape — and 50k docs) and timing the most expensive registry
  * entries at both. Using one generator for both sizes is what makes the
  * ratio meaningful; the absolute numbers are not comparable with the
  * driver testdata runs (different corpus), the RATIOS are the evidence.
  *
  * The corpus mirrors the driver testdata's measured shape: 30-word
  * uniform vocabulary, doc length 10–100 (avg ~55), 20 round-robin
  * sources (→ q42's provenance chains grow 10× in diameter), ~4%
  * planted near-dup clones (every 10th word substituted → LSH/Jaccard
  * work scales with N) and 0.5% exact dups, embeddings at 0.4 vecs/doc,
  * 64-dim, labels 0–9. Everything derives from md5(id …) — no RNG, no
  * external data.
  */
object ScaleSweep {

  private val vocab = Vector(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch")

  // floorMod keeps the value in [0, 2^31): .toInt.abs would return a
  // NEGATIVE number when the truncated bits equal Int.MinValue
  private def h(s: String): Int =
    java.lang.Math.floorMod(
      java.lang.Long.parseLong(Hashing.md5hex(s).substring(0, 12), 16),
      Int.MaxValue.toLong).toInt

  private def baseWords(id: Long): Array[String] = {
    val n = 10 + h(s"len|$id") % 91
    Array.tabulate(n)(i => vocab(h(s"w|$id|$i") % vocab.size))
  }

  def docText(id: Long): String =
    if (id % 200 == 199) docText(id - 1) // exact dup of the predecessor
    else if (id % 25 == 24) {            // near-dup: every 10th word swapped
      val w = baseWords(id - 1)
      w.indices.foreach(i =>
        if (i % 10 == 9) w(i) = vocab(h(s"p|$id|$i") % vocab.size))
      w.mkString(" ")
    } else baseWords(id).mkString(" ")

  def embedding(id: Long): Array[Float] =
    Array.tabulate(64)(i => ((h(s"e|$id|$i") % 2001) - 1000) / 1000.0f)

  private val langs = Vector("en", "en", "en", "en", "en", "en", "en", "en",
    "de", "de", "de", "zh", "zh", "zh", "fr", "fr", "fr", "es", "es", "es")

  def generate(spark: SparkSession, dir: String, nDocs: Long): Unit = {
    import spark.implicits._
    if (new java.io.File(s"$dir/documents.parquet/_SUCCESS").exists()) return
    spark.range(0, nDocs, 1, 64).map { id =>
      val text = docText(id)
      (id, text, langs((id % 20).toInt), s"src${id % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.range(0, nDocs * 2 / 5, 1, 64).map { id =>
      (id, embedding(id), (id % 10).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** The per-round cost leaders of BENCH_r04 plus the two bounded
    * embedding ops — the entries whose 100 TB claims lean on caps,
    * banding, and O(log n) round counts. */
  private val entries = Seq(
    "q22_lsh_jaccard", "q34_dup_clusters", "q43_lsh_r2", "q42_cc_chain",
    "q30_tree_depth", "q31_ann_ivf", "q32_embed_neardup",
    "kg_pipeline_parse", "kg_pipeline_link", "kg_entity_canonical",
    "kg_eval_possynt", "kg_brackets_spanuri", "kg_tenten",
    "q44_langid_bigram", "kg_file_ingest", "kg_stream_analyze",
    "q48_pagerank")

  /** One wave-tagged span fragment (flattened for a partitionBy write:
    * the wave becomes the partition dir, the rest is the SpanFrag). */
  final case class WaveFrag(wave: Int, doc_id: String, kind: String,
      text: String, media_ref: String, offset: Int)

  /** Touch files so a file-source stream processes them in the given
    * order (the source sorts by modification time): group k gets mtime
    * t0 + k·2s. */
  private def mtimeOrder(groups: Seq[Seq[java.io.File]]): Unit =
    groups.zipWithIndex.foreach { case (fs, k) =>
      fs.foreach { f =>
        // a silently failed touch (fs without mtime-write support) would
        // feed waves out of order and measure the wrong streaming regime
        // — abort loudly instead (ADVICE r6)
        require(f.setLastModified(1767225600000L + k * 2000L),
          s"setLastModified failed for $f — cannot order waves by mtime")
      }
    }

  /** Drain `stream` to a noop sink (AvailableNow, checkpoint `cp`) and
    * read its peak state off recentProgress: (peak state rows, peak state
    * bytes, mean ms of the batches with input, those batches, total s).
    * `cp` is cleared before and after: a crashed prior run leaves it
    * behind, and resuming from it would process zero new files and
    * report near-zero peak state (ADVICE r6). */
  private def drainPeakState(stream: org.apache.spark.sql.DataFrame,
                             cp: String): (Long, Long, Double, Int, Double) = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cp))
    val t0 = System.nanoTime()
    val q = stream.writeStream.format("noop")
      .option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val ps = q.recentProgress.toSeq
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cp))
    val rows = ps.flatMap(_.stateOperators.map(_.numRowsTotal)).maxOption.getOrElse(0L)
    val bytes = ps.flatMap(_.stateOperators.map(_.memoryUsedBytes)).maxOption.getOrElse(0L)
    val withData = ps.filter(_.numInputRows > 0)
    val meanMs = if (withData.isEmpty) 0.0
      else withData.map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
        .sum / withData.size
    (rows, bytes, meanMs, withData.size, (System.nanoTime() - t0) / 1e9)
  }

  /** Keyed-state assembly at scale (VERDICT r5 #5): each document's
    * fragments are split across two consecutive "waves"; waves become
    * micro-batches (one file per wave, mtime-ordered, maxFilesPerTrigger
    * =1), so ~nDocs/nWaves documents are OPEN in state at any batch
    * boundary. 10× the corpus is fed as 10× the waves with the SAME
    * in-flight width — the streaming contract at 10^12 docs: state
    * tracks ARRIVAL SKEW (docs in flight), never corpus size. Peak
    * state rows should therefore stay ≈flat across the decade. */
  private def assembleStateProbe(spark: SparkSession, dir: String,
      nWaves: Int, tag: String): (Long, Long, Double, Int, Double) = {
    import spark.implicits._
    val base = s"/tmp/graft-scale-stream-asm-$tag-v1"
    val in = s"$base/in"
    if (!new java.io.File(s"$base/_written").exists()) {
      val frags = graft.queries.KgOracle.detDocs(spark, dir).flatMap { d =>
        val w = h(s"wave|${d.doc_id}") % nWaves
        val offs = d.spans.map(_.offset).sorted
        val cut = offs.lift(offs.size / 2).getOrElse(Int.MaxValue)
        d.spans.map { sp =>
          WaveFrag(if (sp.offset < cut) w else w + 1,
            d.doc_id, sp.kind, sp.text, sp.media_ref, sp.offset)
        } :+ WaveFrag(w + 1, d.doc_id, "doc_end", "", "",
          offs.maxOption.getOrElse(0) + 1)
      }
      // hash-repartition by wave → exactly one task holds each wave →
      // one file per wave dir → batch == wave under maxFilesPerTrigger=1
      frags.repartition(nWaves + 1, $"wave")
        .write.mode("overwrite").partitionBy("wave").parquet(in)
      new java.io.File(s"$base/_written").createNewFile()
    }
    val waveDirs = new java.io.File(in).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("wave="))
      .sortBy(f => f.getName.stripPrefix("wave=").toInt)
    mtimeOrder(waveDirs.toSeq.map(_.listFiles().filter(f =>
      !f.getName.startsWith("_") && !f.getName.startsWith(".")).toSeq))
    val schema = implicitly[org.apache.spark.sql.Encoder[WaveFrag]].schema
    val frags = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .select($"doc_id", $"kind", $"text", $"media_ref", $"offset")
      .as[StreamingPipeline.SpanFrag]
    // mtime order guarantees fragments-before-doc_end per document, the
    // NoTimeout contract (the gated entry's regime); state.remove() on
    // doc_end means state rows == open documents, exactly
    drainPeakState(StreamingPipeline.assembleDocs(frags, timeoutMs = 0L).toDF(), s"$base/cp-$tag")
  }

  /** Watermarked window-agg state at scale: events are fed in EVENT-TIME
    * ORDER (range-sorted files, mtime-ordered) over a fixed 6 h horizon,
    * so the watermark advances batch by batch and APPEND-mode eviction
    * drops closed windows as it goes. State rows are bounded by
    * (watermark horizon + batch time-slice) / window × event types —
    * 10× the events over the same horizon must leave peak state ≈flat
    * (the bigger corpus means BIGGER batches, not more state). */
  private def windowStateProbe(spark: SparkSession, nEvents: Long,
      nFiles: Int, tag: String): (Long, Long, Double, Int, Double) = {
    import spark.implicits._
    val base = s"/tmp/graft-scale-stream-win-$tag-v1"
    val in = s"$base/in"
    val epoch = 1767225600000L // 2026-01-01T00:00Z; no wall clock in data
    if (!new java.io.File(s"$base/_written").exists()) {
      spark.range(0, nEvents, 1, 64).map { id =>
        val ts = new java.sql.Timestamp(epoch + h(s"ts|$id") % (6L * 3600 * 1000))
        (ts, s"e${h(s"et|$id") % 6}", (h(s"v|$id") % 1000) / 100.0)
      }.toDF("ts", "event_type", "value")
        .repartitionByRange(nFiles, $"ts")
        .sortWithinPartitions($"ts")
        .write.mode("overwrite").parquet(in)
      new java.io.File(s"$base/_written").createNewFile()
    }
    val parts = new java.io.File(in).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .sortBy(_.getName)
    mtimeOrder(parts.toSeq.map(Seq(_)))
    val schema = spark.read.parquet(in).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    drainPeakState(StreamingPipeline.windowedEventCounts(stream), s"$base/cp-$tag")
  }

  def main(args: Array[String]): Unit = {
    // flags are not paths: `ScaleSweep --decade4` must not write its
    // JSON to a file named "--decade4" (review r6)
    val out = args.filterNot(_.startsWith("--"))
      .headOption.getOrElse("/tmp/scale_sweep.json")
    // v-tag: bump when the generator changes (v2: floorMod hash) so a
    // stale /tmp corpus can never satisfy the _SUCCESS check
    val dirA = "/tmp/graft-scale-1x-v2"
    val dirB = "/tmp/graft-scale-10x-v2"
    val nA = 5000L // the sf0.1 shape
    val nB = 50000L // the sf1 shape

    // the state probes read peak state from recentProgress, whose buffer
    // holds only the last N updates (default 100) — the 50k probes run
    // ~100 one-file batches, so the default would silently truncate the
    // window the peak is computed over (review r6)
    val spark = Ab.session(Seq("spark.sql.streaming.numRecentProgressUpdates" -> "2000"))
    generate(spark, dirA, nA)
    generate(spark, dirB, nB)

    // one timed execution, cache-clean between runs; shared by the base
    // sweep and the decade-4 phase
    def timeOnce(name: String, dir: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      val t = (System.nanoTime() - t0) / 1e9
      Ab.reset(spark)
      t
    }

    // WARM FLOORS, steal-gated, for both decades (r7; VERDICT r6 #1: a
    // hot-window min-of-2 once put a 7.3× row next to a history of ~4×
    // for the same entry). One unrecorded warm-up execution per (entry,
    // size) — first executions of a plan shape swing 2-3× on this host —
    // then interleaved rounds: each round times a still-needed entry at
    // both sizes back-to-back, so a slow window degrades both sides of its
    // ratio, not one. An entry drops out once each size has 3 steal-clean
    // samples, so a busy window can be outwaited up to `cap` rounds
    // without re-timing the whole list (VERDICT r7 #6). Samples whose
    // window overlapped a steal burst never enter the floor;
    // unreadable-gate samples are UNGATED (counted separately), never
    // clean (ADVICE r7). Returns per entry the two floors (min over clean
    // samples, or over all when none was clean) with their clean counts,
    // and the rounds run.
    var ungatedSamples = 0
    def warmFloors(names: Seq[String], small: (String, String), large: (String, String),
                   cap: Int, phase: String): (Seq[(String, Double, Double, Int, Int)], Int) = {
      val sizes = Seq(small, large) // (label, dir)
      names.foreach(n => sizes.foreach { case (_, dir) => timeOnce(n, dir) })
      val clean = scala.collection.mutable.Map[(String, String), List[Double]]().withDefaultValue(Nil)
      val all = scala.collection.mutable.Map[(String, String), List[Double]]().withDefaultValue(Nil)
      def needs(n: String): Boolean = sizes.exists { case (k, _) => clean((n, k)).size < 3 }
      var round = 0
      while (names.exists(needs) && round < cap) {
        round += 1
        names.filter(needs).foreach { n =>
          sizes.foreach { case (k, dir) =>
            val (t, steal) = HostGauge.stealWindow(timeOnce(n, dir))
            all((n, k)) ::= t
            if (HostGauge.isClean(steal)) clean((n, k)) ::= t
            else if (steal.isEmpty) {
              ungatedSamples += 1
              System.err.println(s"[scale] steal gate unreadable ($phase sample ungated): $n $k")
            } else System.err.println(s"[scale] $phase sample polluted by steal (${steal.get} jiffies): $n $k")
          }
        }
      }
      val rows = names.map { n =>
        def floor(k: String): (Double, Int) = {
          val c = clean((n, k))
          if (c.nonEmpty) (c.min, c.size) else (all((n, k)).min, 0)
        }
        val (t0, c0) = floor(small._1)
        val (t1, c1) = floor(large._1)
        System.err.println(f"[scale] $phase $n%-22s ${t0}%6.2f s -> ${t1}%6.2f s  ratio ${t1 / t0}%5.2f (clean $c0/$c1 of $round rounds)")
        (n, t0, t1, c0, c1)
      }
      (rows, round)
    }

    // --only=a,b scopes a dev run to named entries (and skips the
    // streaming-state probes); the official artifact never sets it
    val only = args.collectFirst { case a if a.startsWith("--only=") =>
      a.stripPrefix("--only=").split(",").toSet }
    only.foreach { names =>
      val unknown = names -- entries.toSet
      require(names.nonEmpty && unknown.isEmpty,
        s"--only names not in the sweep's entry list: ${unknown.mkString(",")}" +
          " — a typo here would write an artifact that measured nothing")
    }

    val (rows, bRound) = warmFloors(entries.filter(n => only.forall(_.contains(n))),
      "A" -> dirA, "B" -> dirB, cap = 8, phase = "base")
    val entriesJson = rows.map { case (n, a, b, cA, cB) =>
      f""""$n":{"t_5k":$a%.3f,"t_50k":$b%.3f,"ratio":${b / a}%.3f,""" +
        s""""clean_samples_5k":$cA,"clean_samples_50k":$cB}"""
    }.mkString("{", ",",
      s"""},"base_rounds":$bRound,"method":"warm floor: min over steal-clean samples, interleaved sizes, 1 warm-up pass"""")

    val want4 = args.contains("--decade4")
    val dirC = "/tmp/graft-scale-100x-v2"
    val nC = 500000L
    if (want4) generate(spark, dirC, nC)

    // streaming-state growth (VERDICT r5 #5): 10× corpus, same in-flight
    // width → peak state rows/bytes must stay ≈flat (sub-linear). With
    // --decade4 a THIRD point (500k docs / 5M events) turns the flat-
    // state claim from a two-point ratio into a curve (VERDICT r6 #5).
    def stateJson(tag: String, r: (Long, Long, Double, Int, Double)): String =
      f""""$tag":{"peak_state_rows":${r._1},"peak_state_bytes":${r._2},""" +
        f""""mean_batch_ms":${r._3}%.1f,"batches":${r._4},"total_s":${r._5}%.2f}"""
    val streamingJson = if (only.nonEmpty) "\"streaming_state\":null" else {
      val asmA = assembleStateProbe(spark, dirA, nWaves = 10, tag = "5k")
      val asmB = assembleStateProbe(spark, dirB, nWaves = 100, tag = "50k")
      System.err.println(s"[scale] assemble state 5k: $asmA  50k: $asmB")
      val winA = windowStateProbe(spark, nEvents = 50000L, nFiles = 12, tag = "5k")
      val winB = windowStateProbe(spark, nEvents = 500000L, nFiles = 120, tag = "50k")
      System.err.println(s"[scale] window state 5k: $winA  50k: $winB")
      val third = if (!want4) "" else {
        // same contract one decade up: 10× the waves/files, SAME
        // in-flight width (~500 open docs) / same 6 h event horizon
        val asmC = assembleStateProbe(spark, dirC, nWaves = 1000, tag = "500k")
        System.err.println(s"[scale] assemble state 500k: $asmC")
        val winC = windowStateProbe(spark, nEvents = 5000000L, nFiles = 1200, tag = "500k")
        System.err.println(s"[scale] window state 500k: $winC")
        s"""${stateJson("assemble_500k", asmC)},${stateJson("window_500k", winC)},""" +
          f""""assemble_state_ratio_500k":${asmC._1.toDouble / math.max(1, asmB._1)}%.3f,""" +
          f""""window_state_ratio_500k":${winC._1.toDouble / math.max(1, winB._1)}%.3f,"""
      }
      s""""streaming_state":{${stateJson("assemble_5k", asmA)},${stateJson("assemble_50k", asmB)},""" +
        s"""${stateJson("window_5k", winA)},${stateJson("window_50k", winB)},""" + third +
        f""""assemble_state_ratio":${asmB._1.toDouble / math.max(1, asmA._1)}%.3f,""" +
        f""""window_state_ratio":${winB._1.toDouble / math.max(1, winA._1)}%.3f}"""
    }

    // fourth decade (VERDICT r5 #6), opt-in: 500k docs for the iterative-
    // round entries whose 10× ratios were the sweep's worst — confirms
    // the round-count story holds one more decade. Same warm floors as
    // the base decade, with up to 12 rounds: the r7 run exhausted 6
    // all-entry rounds with q34's 500k side never once steal-clean.
    val decade4Json = if (want4) {
      // --d4names=a,b scopes the decade-4 phase (r8: lets a single entry —
      // e.g. kg_entity_canonical after its vacuity fix — get a 500k point
      // in a side artifact without re-running the official quartet)
      val names = args.collectFirst { case a if a.startsWith("--d4names=") =>
        a.stripPrefix("--d4names=").split(",").toSeq
      }.getOrElse(Seq("q34_dup_clusters", "q30_tree_depth", "q42_cc_chain", "q48_pagerank"))
      require(names.nonEmpty && names.forall(graft.SparkEntry.queries.contains),
        s"unknown --d4names entry among: $names")
      val (d4, round) = warmFloors(names, "B" -> dirB, "C" -> dirC, cap = 12, phase = "d4")
      d4.map { case (name, tB, tC, cB, cC) =>
        f""""$name":{"t_50k":$tB%.3f,"t_500k":$tC%.3f,"ratio":${tC / tB}%.3f,""" +
          s""""clean_samples_50k":$cB,"clean_samples_500k":$cC,"rounds":$round,"method":"warm floor: min over steal-clean samples, interleaved sizes, 1 warm-up pass"}"""
      }.mkString(s""","decade4":{"n_docs":$nC,"entries":{""", ",", "}}")
    } else ""

    val json =
      s"""{"n_docs_small":$nA,"n_docs_large":$nB,""" +
        s""""ungated_samples":$ungatedSamples,"entries":$entriesJson,""" +
        streamingJson + decade4Json + "}"
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    spark.stop()
  }
}
