package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.Hashing
import graft.streaming.StreamingPipeline

/** The probe main: warm timing, plan counts and streaming state, in one
  * `local[$SPARK_GRAFT_CPUS]` session (default: the available
  * processors) under the [[graft.Session]] policy.
  *
  * Usage: runMain graft.tools.Probe <verb> …
  *   time  <dir>[,<dir>…] <n> <entry,…> [k=v …] [--json <file>]
  *   plan  <dir> <entry,…> [k=v …] [--full] [--out <dir> --tag <t>]
  *   state <nDocs>[,<nDocs>…] [--json <file>]
  *
  * A `<dir>` is a testdata dir, or `gen:<nDocs>`: the synthetic corpus of
  * [[generate]], written once under /tmp. `k=v` tokens are session confs
  * ("levers", [[levers]]). Every argument is checked before the session
  * starts.
  *
  *  - `time`: warm floors of registry entries. The sides are the dirs ×
  *    {levers unset (the session's own values), set}, interleaved per
  *    round after one unrecorded warm-up each. Each sample is steal-gated
  *    ([[HostGauge.stealWindow]]); rounds go on until every side has `n`
  *    clean samples, at most 3·`n` rounds. A side's floor is the min
  *    over its clean samples (over all samples when none is clean). With
  *    two or more dirs the line also gives the last/first floor ratio.
  *    Only warm-vs-warm comparisons are meaningful: cold numbers swing
  *    2-3x.
  *  - `plan`: [[planCounts]] per entry, with the levers set on the
  *    session. `--full` prints the final adaptive plan; `--out`/`--tag`
  *    write each entry's `.explain("formatted")` plan, taken before
  *    execution, to `<dir>/<entry>_<t>.txt` (the plans/r<NN>/ evidence),
  *    with its identity tokens made stable by [[stablePlan]].
  *  - `state`: peak streaming state of keyed document assembly and of the
  *    watermarked window count over `gen:<nDocs>`, fed as micro-batches
  *    (10 waves, 50k events in 12 files per 5k docs). Peak state should
  *    stay flat as the corpus grows: it tracks documents in flight and
  *    the watermark horizon, not corpus size.
  */
object Probe {

  sealed trait Cmd
  final case class Time(dirs: Seq[String], n: Int, entries: Seq[String],
      levers: Seq[(String, String)], json: Option[String]) extends Cmd
  final case class Plan(dir: String, entries: Seq[String], levers: Seq[(String, String)],
      full: Boolean, dump: Option[(String, String)]) extends Cmd
  final case class State(sizes: Seq[Long], json: Option[String]) extends Cmd

  private val Verbs = Seq(
    "time" -> "<dir>[,<dir>…] <n> <entry,…> [k=v …] [--json <file>]",
    "plan" -> "<dir> <entry,…> [k=v …] [--full] [--out <dir> --tag <t>]",
    "state" -> "<nDocs>[,<nDocs>…] [--json <file>]")

  /** The command line → a [[Cmd]]. An unknown verb, flag or entry, a
    * missing argument, a repeated dir, a `<n>` that is not a positive
    * integer, `--out` without `--tag` (or the reverse), a `gen:` dir
    * without a non-negative count and a state size that is not a positive
    * integer each fail naming the argument. */
  def parse(args: Array[String]): Cmd = {
    val verb = args.headOption.getOrElse("")
    val usage = Verbs.collectFirst { case (`verb`, u) => s"usage: Probe $verb $u" }.getOrElse(
      throw new IllegalArgumentException(
        s"unknown verb '$verb'; expected one of ${Verbs.map(_._1).mkString("|")}"))
    val (switches, valued) = if (verb == "plan") (Set("--full"), Set("--out", "--tag")) else (Set.empty[String], Set("--json"))
    @annotation.tailrec
    def split(as: List[String], pos: Vector[String], opts: Map[String, String]): (Vector[String], Map[String, String]) =
      as match {
        case Nil => (pos, opts)
        case f :: v :: rest if valued(f) => split(rest, pos, opts + (f -> v))
        case f :: rest if switches(f) => split(rest, pos, opts + (f -> ""))
        case f :: _ if f.startsWith("--") =>
          throw new IllegalArgumentException(s"unknown flag or flag without a value '$f'; $usage")
        case a :: rest => split(rest, pos :+ a, opts)
      }
    val (pos, opts) = split(args.toList.drop(1), Vector.empty, Map.empty)
    def arg(i: Int, name: String): String =
      pos.lift(i).getOrElse(throw new IllegalArgumentException(s"missing $name; $usage"))
    def entries(i: Int): Seq[String] = arg(i, "<entry,…>").split(",").toSeq.map { e => entry(e); e }
    verb match {
      case "time" =>
        val dirs = arg(0, "<dir>").split(",").toSeq
        dirs.foreach(genDocs)
        dirs.diff(dirs.distinct).foreach(d => throw new IllegalArgumentException(s"<dir> '$d' is given twice; $usage"))
        val n = arg(1, "<n>")
        require(n.toIntOption.exists(_ > 0), s"<n> must be a positive integer, got '$n'; $usage")
        Time(dirs, n.toInt, entries(2), levers(pos.drop(3)), opts.get("--json"))
      case "plan" =>
        val dir = arg(0, "<dir>")
        genDocs(dir)
        val dump = (opts.get("--out"), opts.get("--tag")) match {
          case (Some(d), Some(t)) => Some((d, t))
          case (None, None) => None
          case _ => throw new IllegalArgumentException(s"--out and --tag go together; $usage")
        }
        Plan(dir, entries(1), levers(pos.drop(2)), opts.contains("--full"), dump)
      case "state" =>
        require(pos.length == 1, s"expected one <nDocs>[,<nDocs>…] argument, got '${pos.mkString(" ")}'; $usage")
        val sizes = pos(0).split(",").toSeq.map(s => s.toLongOption.filter(_ > 0).getOrElse(
          throw new IllegalArgumentException(s"<nDocs> must be a positive integer, got '$s'; $usage")))
        State(sizes, opts.get("--json"))
    }
  }

  /** `k=v` tokens as (key, value) pairs; a token without `=` (or with an
    * empty key) fails with a message naming it, and so does a
    * `spark.graft.*` key the engine does not read: setting it would A/B
    * two identical sessions. */
  def levers(tokens: Seq[String]): Seq[(String, String)] = tokens.map { t =>
    t.split("=", 2) match {
      case Array(k, _) if graft.Sizing.ignoredKey(k) => throw new IllegalArgumentException(
        s"'$k' is not read by the engine; the one spark.graft key it reads is ${graft.Sizing.LocalMaxEdgesKey}")
      case Array(k, v) if k.nonEmpty => k -> v
      case _ => throw new IllegalArgumentException(s"expected a k=v lever, got '$t'")
    }
  }

  /** A registry entry by name; an unknown name fails before any run. */
  def entry(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown registry entry '$name'"))

  /** Between-run hygiene, as in Bench/Verify: drop cached plans AND
    * checkpoint/persist blocks so runs don't accumulate executor memory. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** (shuffles, broadcasts) of `df`'s executed final plan. df's OWN
    * QueryExecution runs first: `df.count()` would finalize a separate
    * one and leave this plan pre-AQE, blind to runtime SMJ→BHJ
    * conversions. The walk steps through the children-opaque wrappers
    * (AdaptiveSparkPlan → executedPlan, query stages → plan,
    * InMemoryTableScan → the cached plan), which the text rendering cuts
    * short. Shuffles are the non-round-robin exchanges outside cached
    * subtrees: a cached exchange runs once per materialization, and
    * round-robin is `Tables.widened`'s small-file guard. Broadcasts are
    * every BroadcastExchange, cached subtrees included: where the cache
    * boundary lands at runtime is timing-dependent, the total is not. A
    * ReusedExchange is not counted; a reused query stage is walked again,
    * so shuffle counts are upper bounds. */
  def planCounts(df: DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    df.queryExecution.toRdd.count()
    def walk(p: SparkPlan, inCache: Boolean): (Int, Int) = {
      val (own, inner) = p match {
        case a: AdaptiveSparkPlanExec => ((0, 0), Seq(a.executedPlan -> inCache))
        case q: QueryStageExec => ((0, 0), Seq(q.plan -> inCache))
        case t: InMemoryTableScanExec => ((0, 0), Seq(t.relation.cachedPlan -> true))
        case s: ShuffleExchangeExec if !inCache && !s.outputPartitioning.isInstanceOf[RoundRobinPartitioning] =>
          ((1, 0), Nil)
        case _: BroadcastExchangeExec => ((0, 1), Nil)
        case _ => ((0, 0), Nil)
      }
      (inner ++ p.children.map(_ -> inCache)).map { case (c, cached) => walk(c, cached) }
        .foldLeft(own) { case ((s, b), (cs, cb)) => (s + cs, b + cb) }
    }
    walk(df.queryExecution.executedPlan, inCache = false)
  }

  /** A formatted plan with its run-dependent identity tokens replaced by
    * fixed placeholders, so dumps of one plan from two trees or two
    * builds compare equal: `[plan_id=N]` and an RDD's `RDD[N]` (JVM-global
    * counters) become `[plan_id=_]` and `RDD[_]`, and a closure's
    * `$$Lambda$N/0x…@hash` (JDK 17) or `$$Lambda/0x…@hash` (JDK 21)
    * becomes `$$Lambda`. Expression ids (`name#N`) are kept: they tie
    * each attribute to the operator that made it. */
  def stablePlan(txt: String): String =
    txt.replaceAll("""\[plan_id=\d+\]""", "[plan_id=_]")
      .replaceAll("""RDD\[\d+\]""", "RDD[_]")
      .replaceAll("""\$\$Lambda(\$\d+)?/0x[0-9a-f]+@[0-9a-f]+""", java.util.regex.Matcher.quoteReplacement("$$Lambda"))

  // ------------------------------------------------------------ generator

  /** `gen:<nDocs>` → Some(nDocs), any other dir → None; a `gen:` dir
    * without a non-negative count fails naming it. */
  def genDocs(dir: String): Option[Long] =
    if (!dir.startsWith("gen:")) None
    else Some(dir.stripPrefix("gen:").toLongOption.filter(_ >= 0).getOrElse(
      throw new IllegalArgumentException(s"gen:<nDocs> needs a non-negative integer, got '$dir'")))

  /** The table dir behind `dir`: a `gen:` corpus is generated on first use. */
  private[graft] def tableDir(spark: SparkSession, dir: String): String = genDocs(dir).fold(dir) { n =>
    // v-tag: bump when the generator changes (v2: floorMod hash) so a
    // stale /tmp corpus can never satisfy the _SUCCESS check
    val path = s"/tmp/graft-scale-$n-v2"
    generate(spark, path, n)
    path
  }

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

  private def docText(id: Long): String =
    if (id % 200 == 199) docText(id - 1) // exact dup of the predecessor
    else if (id % 25 == 24) {            // near-dup: every 10th word swapped
      val w = baseWords(id - 1)
      w.indices.foreach(i =>
        if (i % 10 == 9) w(i) = vocab(h(s"p|$id|$i") % vocab.size))
      w.mkString(" ")
    } else baseWords(id).mkString(" ")

  private def embedding(id: Long): Array[Float] =
    Array.tabulate(64)(i => ((h(s"e|$id|$i") % 2001) - 1000) / 1000.0f)

  private val langs = Vector("en", "en", "en", "en", "en", "en", "en", "en",
    "de", "de", "de", "zh", "zh", "zh", "fr", "fr", "fr", "es", "es", "es")

  /** A deterministic synthetic corpus of `nDocs` documents (plus 0.4
    * embeddings per doc) in `dir`, shaped like the testdata: 30-word
    * uniform vocabulary, doc length 10–100, 20 round-robin sources, ~4%
    * planted near-dup clones (every 10th word swapped) and 0.5% exact
    * dups; 64-dim embeddings, labels 0–9. Everything derives from md5(id
    * …), so one generator at two sizes gives a meaningful ratio; absolute
    * times are not comparable with the testdata's. */
  private def generate(spark: SparkSession, dir: String, nDocs: Long): Unit = {
    import spark.implicits._
    if (new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").exists()) return
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

  // ----------------------------------------------------------------- time

  /** One line and one JSON record per (entry, side); a side is a dir with
    * the levers unset or set. */
  private def time(spark: SparkSession, c: Time): String = {
    val dirs = c.dirs.map(d => d -> tableDir(spark, d)).toMap
    val sides = for (d <- c.dirs; set <- if (c.levers.isEmpty) Seq(false) else Seq(false, true)) yield (d, set)
    // the unset side gets the session's own value back: conf.unset would
    // fall to Spark's default (shuffle width 200, not the session's)
    val own = c.levers.map { case (k, _) => k -> spark.conf.getOption(k) }.toMap
    def once(fn: (SparkSession, String) => DataFrame, side: (String, Boolean)): Double = {
      c.levers.foreach { case (k, v) =>
        if (side._2) spark.conf.set(k, v) else own(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
      val t0 = System.nanoTime()
      fn(spark, dirs(side._1)).count()
      val s = (System.nanoTime() - t0) / 1e9
      reset(spark)
      s
    }
    c.entries.flatMap { name =>
      val fn = entry(name)
      sides.foreach(once(fn, _))
      val runs = sides.map(_ -> scala.collection.mutable.ArrayBuffer[(Double, Boolean)]()).toMap
      def clean(side: (String, Boolean)) = runs(side).collect { case (t, true) => t }
      var rounds = 0
      while (rounds < 3 * c.n && sides.exists(clean(_).size < c.n)) {
        rounds += 1
        sides.foreach { side =>
          val (t, steal) = HostGauge.stealWindow(once(fn, side))
          runs(side) += t -> HostGauge.isClean(steal)
        }
      }
      def floor(side: (String, Boolean)) = clean(side).minOption.getOrElse(runs(side).map(_._1).min)
      sides.map { case side @ (dir, set) =>
        val lever = if (set) "set" else "unset"
        val (min, nClean, ts) = (floor(side), clean(side).size, runs(side).map(r => f"${r._1}%.3f"))
        val ratio = if (c.dirs.size < 2 || dir != c.dirs.last) None else Some(min / floor((c.dirs.head, set)))
        println(f"[time] $name%-24s $dir $lever  min $min%.3f s  clean $nClean/${ts.size}" +
          ratio.fold("")(r => f"  ratio/${c.dirs.head} $r%.3f") + ts.mkString("  runs ", " ", ""))
        s"""{"entry":${q(name)},"dir":${q(dir)},"levers":"$lever","clean":$nClean,"rounds":$rounds,""" +
          f""""min_s":$min%.3f,""" + ratio.fold("")(r => f""""ratio":$r%.3f,""") + ts.mkString(""""runs_s":[""", ",", "]}")
      }
    }.mkString(s"""{"verb":"time","n":${c.n},"levers":${c.levers.map { case (k, v) => s"${q(k)}:${q(v)}" }
      .mkString("{", ",", "}")},"sides":[""", ",", "]}")
  }

  // ----------------------------------------------------------------- plan

  private def plan(spark: SparkSession, c: Plan): Unit = {
    val dir = tableDir(spark, c.dir)
    c.dump.foreach { case (d, _) => Files.createDirectories(Paths.get(d)) }
    c.entries.foreach { name =>
      val df = entry(name)(spark, dir)
      for ((d, t) <- c.dump) {
        val txt = stablePlan(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        Files.writeString(Paths.get(d, s"${name}_$t.txt"), txt)
        println(s"[plan] wrote $d/${name}_$t.txt (${txt.length} chars)")
      }
      val (shuffles, broadcasts) = planCounts(df)
      println(f"[plan] $name%-24s shuffles=$shuffles broadcasts=$broadcasts")
      // a finalized AQE plan's toString appends the initial tree too
      if (c.full) println(df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0))
      reset(spark)
    }
  }

  // ---------------------------------------------------------------- state

  private def waves(nDocs: Long): Int = math.max(1L, nDocs / 500).toInt
  private def files(nDocs: Long): Int = math.max(1L, nDocs * 12 / 5000).toInt

  /** Peak state of one drained stream. */
  private final case class Peak(rows: Long, bytes: Long, meanBatchMs: Double, batches: Int, totalS: Double) {
    def json: String = f"""{"peak_state_rows":$rows,"peak_state_bytes":$bytes,""" +
      f""""mean_batch_ms":$meanBatchMs%.1f,"batches":$batches,"total_s":$totalS%.2f}"""
    override def toString: String =
      f"peak rows $rows%8d  bytes $bytes%10d  batches $batches%4d  mean $meanBatchMs%7.1f ms  total $totalS%6.2f s"
  }

  /** Touch files so a file-source stream processes them in the given
    * order (the source sorts by modification time): group k gets mtime
    * t0 + k·2s. */
  private def mtimeOrder(groups: Seq[Seq[java.io.File]]): Unit =
    groups.zipWithIndex.foreach { case (fs, k) =>
      fs.foreach { f =>
        // a silently failed touch (fs without mtime-write support) would
        // feed waves out of order and measure the wrong streaming regime
        require(f.setLastModified(1767225600000L + k * 2000L),
          s"setLastModified failed for $f — cannot order waves by mtime")
      }
    }

  /** Drain `stream` to a noop sink (AvailableNow, checkpoint `cp`) and
    * read its peak state off recentProgress. `cp` is cleared before and
    * after: a crashed prior run leaves it behind, and resuming from it
    * would process zero new files and report near-zero peak state. */
  private def drainPeakState(stream: DataFrame, cp: String): Peak = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cp))
    val t0 = System.nanoTime()
    val q = stream.writeStream.format("noop")
      .option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val ps = q.recentProgress.toSeq
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cp))
    val withData = ps.filter(_.numInputRows > 0)
    Peak(
      ps.flatMap(_.stateOperators.map(_.numRowsTotal)).maxOption.getOrElse(0L),
      ps.flatMap(_.stateOperators.map(_.memoryUsedBytes)).maxOption.getOrElse(0L),
      if (withData.isEmpty) 0.0
      else withData.map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble).sum / withData.size,
      withData.size,
      (System.nanoTime() - t0) / 1e9)
  }

  /** One wave-tagged span fragment (flattened for a partitionBy write:
    * the wave becomes the partition dir, the rest is the SpanFrag). */
  final case class WaveFrag(wave: Int, doc_id: String, kind: String,
      text: String, media_ref: String, offset: Int)

  /** Keyed-state assembly: each document's fragments are split across two
    * consecutive waves; waves become micro-batches (one file per wave,
    * mtime-ordered, maxFilesPerTrigger=1), so ~nDocs/nWaves documents are
    * open in state at any batch boundary. 10× the corpus is fed as 10×
    * the waves with the same in-flight width, so peak state rows should
    * stay ≈flat. */
  private def assembleState(spark: SparkSession, dir: String, nWaves: Int, tag: String): Peak = {
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
    // NoTimeout contract; state.remove() on doc_end means state rows ==
    // open documents, exactly
    drainPeakState(StreamingPipeline.assembleDocs(frags, timeoutMs = 0L).toDF(), s"$base/cp")
  }

  /** Watermarked window-agg state: events are fed in event-time order
    * (range-sorted files, mtime-ordered) over a fixed 6 h horizon, so the
    * watermark advances batch by batch and append-mode eviction drops
    * closed windows as it goes. 10× the events over the same horizon
    * means bigger batches, not more state. */
  private def windowState(spark: SparkSession, nEvents: Long, nFiles: Int, tag: String): Peak = {
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
    drainPeakState(StreamingPipeline.windowedEventCounts(stream), s"$base/cp")
  }

  private def state(spark: SparkSession, c: State): String = {
    val peaks = c.sizes.map { n =>
      val asm = assembleState(spark, tableDir(spark, s"gen:$n"), waves(n), tag = n.toString)
      println(f"[state] $n%9d docs  assemble  $asm")
      val win = windowState(spark, nEvents = n * 10, files(n), tag = n.toString)
      println(f"[state] $n%9d docs  window    $win")
      (n, asm, win)
    }
    val ratios = if (peaks.size < 2) "" else {
      val ((n0, a0, w0), (n1, a1, w1)) = (peaks.head, peaks.last)
      val (ra, rw) = (a1.rows.toDouble / math.max(1, a0.rows), w1.rows.toDouble / math.max(1, w0.rows))
      println(f"[state] peak rows ratio $n1/$n0  assemble $ra%.3f  window $rw%.3f")
      f""","assemble_state_ratio":$ra%.3f,"window_state_ratio":$rw%.3f"""
    }
    peaks.map { case (n, a, w) => s""""$n":{"assemble":${a.json},"window":${w.json}}""" }
      .mkString("""{"verb":"state","sizes":{""", ",", "}") + ratios + "}"
  }

  /** A JSON string literal. */
  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def write(json: String, out: Option[String]): Unit = out.foreach { f =>
    Files.writeString(Paths.get(f), json + "\n")
    println(s"[probe] wrote $f")
  }

  def main(args: Array[String]): Unit = {
    val cmd = parse(args)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString).toInt
    val confs = cmd match {
      case p: Plan => p.levers
      // recentProgress keeps the last N batches (default 100): it must
      // hold every batch of the largest probe, or the peak is read over
      // a truncated window
      case s: State => Seq("spark.sql.streaming.numRecentProgressUpdates" ->
        (math.max(waves(s.sizes.max), files(s.sizes.max)) + 100).toString)
      case _: Time => Nil
    }
    val spark = graft.Session.local(cpus, confs)
    spark.sparkContext.setLogLevel("ERROR")
    cmd match {
      case t: Time => write(time(spark, t), t.json)
      case p: Plan => plan(spark, p)
      case s: State => write(state(spark, s), s.json)
    }
    spark.stop()
  }
}
