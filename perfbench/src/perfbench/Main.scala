package perfbench

import org.apache.spark.sql.SparkSession
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

/** Benchmark driver for one workload and seed, started by perfbench/run.py
  * once the seeded inputs exist:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --perturb <0|1> --inputs <dir> --work <dir> --out <result.json>
  *   perfbench.Main --oracle-sql <file>   (writes NeardupClusters.oracleSpec)
  *   perfbench.Main --reference <workload> <work dir> <input dir>...
  *                  (writes each dir's expected.json through Workload.reference)
  *
  * Steps: set up once in the fresh JVM, then `Setups` times more (session
  * start, inputs, cascades, ontology, gazetteer) and keep their median; run
  * one warm-up job; run jobs back to back for `seconds`
  * (closed loop, one client, local[nproc]); with `--trace 1` run traced
  * passes that time each layer; finally check the fingerprint of every
  * job's output against the expected one in the input dir's expected.json
  * (perfbench/run.py puts it there), computed through the workload's
  * independent reference path when it is missing. */
object Main {

  /** Timed set-ups per untraced run, after an untimed cold one; setup_s is
    * their median. A traced run, which does not report setup_s, skips them. */
  val Setups = 7
  /** Timed jobs per untraced run at least, however short `seconds` is. A
    * traced run needs one, for the tracing overhead, and its time for the
    * traced passes. */
  val MinJobs = 2
  /** Traced passes per traced run; per-layer metrics are their medians.
    * One pass, with its three chains of layer spans, keeps a traced
    * kg_pipeline run at 90-140 s, inside the 180 s a run may take. */
  val TracedReps = 1
  /** The layer self times of a traced run, each timed in its own span
    * outside the job and the median of `Workloads.Chains`, must sum to
    * within this share of the run's median job, untraced or traced, or the
    * traced run counts as failed. */
  val CoverageTolerance = 0.25

  /** Set by `--perturb 1`: every job drops one row of its output (see
    * the workloads' `run`), so the output gate must fail every job. */
  @volatile var perturb = false

  private val started = System.nanoTime()

  /** Progress line on standard error. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - started) / 1e9}%7.2fs $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def session(work: String, cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  /** fsync'd write throughput of a 32 MiB file inside the work dir (MB/s). */
  private def diskWriteMBps(work: String): Double = {
    val p = Paths.get(work, "disk-canary.bin")
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try {
      val buf = java.nio.ByteBuffer.allocateDirect(1 << 20)
      while (buf.hasRemaining) buf.put(0x5a.toByte)
      val t0 = System.nanoTime()
      for (_ <- 0 until 32) { buf.rewind(); while (buf.hasRemaining) ch.write(buf) }
      ch.force(false)
      32.0 / ((System.nanoTime() - t0) / 1e9)
    } finally { ch.close(); Files.deleteIfExists(p) }
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used, all threads (tasks, driver, GC, JIT). */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  private def read(p: java.nio.file.Path): String = new String(Files.readAllBytes(p), "UTF-8")

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--oracle-sql")) {
      Files.write(Paths.get(args(1)), NeardupClusters.oracleSpec.getBytes("UTF-8"))
      return
    }
    if (args.headOption.contains("--reference")) {
      val w = Workloads.byName(args(1))
      val work = Files.createTempDirectory(Paths.get(args(2)), "reference").toString
      val spark = session(work, Runtime.getRuntime.availableProcessors)
      spark.sparkContext.setLogLevel("ERROR")
      try args.drop(3).foreach { dir =>
        val (g, s) = Workloads.time(w.reference(spark, dir))
        g.foreach(x => Files.write(Paths.get(dir, "expected.json"), x.json.getBytes("UTF-8")))
        log(s"expected output of $dir computed in $s s")
      } finally spark.stop()
      Workloads.deleteTree(Paths.get(work))
      return
    }
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = Workloads.byName(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    perturb = opts("perturb") == "1"
    val inDir = Paths.get(opts("inputs")).toAbsolutePath.toString
    val work = Paths.get(opts("work")).toAbsolutePath.toString
    val cores = Runtime.getRuntime.availableProcessors
    val details = LinkedHashMap[String, String]()
    details("inputs") = read(Paths.get(inDir, "props.json"))
    val docs = "\"docs\": (\\d+)".r.findFirstMatchIn(details("inputs")).get.group(1).toDouble

    val outcomes = ArrayBuffer[Gate]()
    var attempted = 0L
    var failed = 0L
    val errors = ArrayBuffer[String]()
    def fail(what: String, e: Throwable): Unit = {
      failed += 1
      errors += s"$what: ${e.getClass.getName}: ${e.getMessage}".take(500)
      log(s"$what failed: $e")
    }
    /** Runs one job; its output is checked against the expected fingerprint at the end. */
    def attempt(f: => Gate): Option[Gate] = {
      attempted += 1
      try { val o = f; outcomes += o; Some(o) }
      catch { case e: Throwable => fail("job", e); None }
    }

    // ---- set-up: once cold, then `Setups` times timed; the last session
    // stays for the rest of the run and runs the warm-up job
    var spark: SparkSession = null
    var runner: Runner = null
    def setUp(): Double = {
      if (spark != null) spark.stop()
      System.gc()
      val (_, s) = Workloads.time {
        spark = session(work, cores)
        spark.sparkContext.setLogLevel("ERROR")
        runner = w.open(spark, inDir, work, seed)
      }
      log(s"set-up $s s")
      s
    }
    val coldS = setUp()
    val setups = (1 to (if (trace) 0 else Setups)).map(_ => setUp())
    details("cold_setup_s") = Json.num(coldS)
    details("setup_s_samples") = setups.map(Json.num).mkString("[", ",", "]")
    val (_, warmS) = Workloads.time(attempt(runner.run()))
    log(s"warm-up job $warmS s")
    details("warmup_job_s") = Json.num(warmS)

    // ---- untraced closed loop
    val jobS = ArrayBuffer[Double]()
    val cpuS = ArrayBuffer[Double]()
    val stealJ = ArrayBuffer[Double]()
    resetHeapPeaks()
    val (_, steal) = graft.tools.HostGauge.stealWindow {
      val t0 = System.nanoTime()
      // a job that keeps failing ends the loop after a few attempts; the result then says so
      def more = jobS.length < (if (trace) 1 else MinJobs) && attempted < MinJobs + 4
      while ((System.nanoTime() - t0) / 1e9 < (if (trace) seconds / 2 else seconds) || more) {
        System.gc() // every job starts from a collected heap, not from the last one's garbage
        val c0 = cpuSeconds()
        val ((o, s), st) = graft.tools.HostGauge.stealWindow(Workloads.time(attempt(runner.run())))
        val c = cpuSeconds() - c0
        log(s"job $s s, cpu $c s, steal ${st.getOrElse(-1L)}")
        o.foreach { _ => jobS += s; cpuS += c; stealJ += st.getOrElse(-1L).toDouble }
      }
    }
    val peakHeap = heapPeakMb()
    val job = median(jobS.toSeq)
    details("job_s_samples") = jobS.map(Json.num).mkString("[", ",", "]")
    details("job_cpu_s_samples") = cpuS.map(Json.num).mkString("[", ",", "]")
    details("job_steal_jiffies") = stealJ.map(Json.num).mkString("[", ",", "]")
    details("host") = Json.obj(Seq(
      "cores" -> cores.toString,
      "steal_jiffies" -> steal.map(_.toString).getOrElse("null"),
      "steal_clean" -> graft.tools.HostGauge.isClean(steal).toString,
      "disk_write_mb_s" -> Json.num(diskWriteMBps(work))))

    // ---- traced passes
    val traced: Seq[(String, Double, String)] = if (!trace) Nil else {
      val tracer = new Tracer(spark, cores)
      val passes = (1 to TracedReps).flatMap { rep =>
        attempted += 1
        try {
          val (o, m) = runner.traced(tracer, rep)
          outcomes += o
          log(s"traced pass $rep")
          Some(m + ("trace.job_s" -> tracer.last("job", rep).seconds))
        } catch { case e: Throwable => fail("traced pass", e); None }
      }
      val counts = runner.counts
      tracer.close()
      details("spans") = tracer.spansJson
      val med = PerLayer.names.map { k =>
        val vs = passes.flatMap(_.get(k))
        k -> (if (vs.nonEmpty) median(vs) else counts.getOrElse(k, 0.0))
      }.toMap
      val selfSum = PerLayer.selfTimes.map(med).sum
      val tracedJob = median(passes.map(_("trace.job_s")))
      // medians on both sides: on a shared host one job or chain of spans
      // can run 30% faster or slower than the next
      val runJob = median(jobS.toSeq ++ passes.map(_("trace.job_s")))
      val coverage = selfSum / runJob
      val within = math.abs(coverage - 1) <= CoverageTolerance
      details("coverage") = Json.obj(Seq(
        "self_s_sum" -> Json.num(selfSum), "job_s_traced" -> Json.num(tracedJob),
        "job_s_median" -> Json.num(runJob),
        "ratio" -> Json.num(coverage), "tolerance" -> Json.num(CoverageTolerance),
        "within" -> within.toString))
      if (!within) {
        failed += 1
        errors += f"coverage: layer self times sum to $selfSum%.3f s, the run's jobs took $runJob%.3f s"
      }
      PerLayer.names.map(k => (k, med(k), PerLayer.unit(k))) ++ Seq(
        ("trace.job_s", tracedJob, "s"),
        ("trace.overhead_s", tracedJob - job, "s"))
    }
    details("routing") = Json.obj(runner.routing.toSeq.map { case (k, v) => k -> Json.str(v) })

    // ---- output gate: every job's fingerprint against the expected one
    val expectedFile = Paths.get(inDir, "expected.json")
    if (!Files.exists(expectedFile)) {
      val (g, s) = Workloads.time(w.reference(spark, inDir))
      g.foreach(x => Files.write(expectedFile, x.json.getBytes("UTF-8")))
      log(s"expected output computed in $s s")
    }
    spark.stop()
    val expected = Gate.parse(read(expectedFile))
    details("expected") = expected.json
    outcomes.filter(_ != expected).foreach { o =>
      failed += 1
      errors += s"output mismatch: got ${o.json}, expected ${expected.json}"
    }
    if (errors.nonEmpty) details("errors") = errors.take(5).map(Json.str).mkString("[", ",", "]")

    val metrics: Seq[(String, Double, String)] = if (trace) traced else Seq(
      ("job_s", job, "s"),
      ("job_cpu_s", median(cpuS.toSeq), "s"),
      ("docs_per_s", docs / job, "1/s"),
      ("setup_s", median(setups), "s"),
      ("peak_heap_mb", peakHeap, "MB"))
    val m = metrics.map { case (k, v, u) => k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
    val result = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${Json.obj(m)},"details":${Json.obj(details)}}"""
    Files.write(Paths.get(opts("out")), result.getBytes("UTF-8"))
  }
}

/** The per-layer metric names every traced run reports (0 where the
  * workload does not run that layer), with their units. */
object PerLayer {
  val scripts: Seq[String] =
    graft.conll.Pipeline.parseCascade.map(s => Workloads.scriptKey(s._1.name)).distinct

  /** Self times of the layers, each measured in spans outside the job;
    * their sum is checked against the run's job time (Main.CoverageTolerance). */
  val selfTimes: Seq[String] = Seq("scan.self_s", "SpanParser.self_s", "Rules.self_s", "sink.self_s",
    "CheckpointRunner.resume_s", "EntityLinker.self_s", "ConnectedComponents.self_s",
    "DedupQueries.self_s", "check.self_s")

  val names: Seq[String] = Seq(
    "scan.self_s", "scan.bytes", "SpanParser.self_s", "SpanParser.sentences",
    "Rules.self_s", "Rules.triples_out", "Rules.iterations") ++ scripts ++ Seq(
    "sink.self_s", "sink.bytes_written", "sink.files",
    "CheckpointRunner.resume_s", "CheckpointRunner.bucket_s_median", "CheckpointRunner.bucket_s_max",
    "CheckpointRunner.scan_amplification", "CheckpointRunner.resume_skipped_ratio",
    "EntityLinker.self_s", "EntityLinker.mentions", "EntityLinker.links", "EntityLinker.hit_ratio",
    "EntityLinker.shuffle_write_bytes", "EntityLinker.task_skew",
    "ConnectedComponents.self_s", "ConnectedComponents.edges", "ConnectedComponents.jobs",
    "ConnectedComponents.shuffle_write_bytes", "ConnectedComponents.driver_only_s",
    "DedupQueries.self_s", "DedupQueries.candidates", "DedupQueries.pairs_verified",
    "DedupQueries.verify_ratio", "DedupQueries.shuffle_write_bytes",
    "check.self_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_disk_bytes", "spark.scheduler_delay_s",
    "spark.core_busy_ratio", "spark.driver_only_s", "spark.task_skew", "spark.tasks_failed")

  def unit(k: String): String =
    if (k.endsWith("_s") || k.contains("_s_") || k.startsWith("Rules.script_s.")) "s"
    else if (k.contains("bytes")) "bytes"
    else if (k.endsWith("ratio") || k.endsWith("skew") || k.endsWith("amplification")) "ratio"
    else "count"
}
