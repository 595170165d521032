package perfbench

import graft.conll._
import graft.operators.ConnectedComponents
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}

/** One set-up workload: `run` is the job as a user would run it, and
  * returns its output's fingerprint; `traced` runs the cumulative layer
  * prefixes and then the job, each in its own span, and returns the
  * per-layer metrics of that pass. */
trait Runner {
  def run(): Gate
  def traced(t: Tracer, rep: Int): (Gate, Map[String, Double])
  /** Routing the program took on these inputs, with the sizes it used. */
  def routing: Map[String, String] = Map.empty
  /** Per-layer counts measured once per traced run, outside the spans. */
  def counts: Map[String, Double] = Map.empty
}

trait Workload {
  def name: String
  /** Expected output, established through a path independent of `run`,
    * or None when perfbench/oracle.py has already written it. */
  def reference(spark: SparkSession, dir: String): Option[Gate]
  /** Set-up: read inputs, build cascades, ontology and gazetteer. */
  def open(spark: SparkSession, dir: String, work: String, seed: Long): Runner
}

object Workloads {
  val all: Seq[Workload] = Seq(KgPipeline, NeardupClusters)

  /** A traced pass runs its chain of layer spans this many times; a layer's
    * time is the median of its spans, so that one chain run while the shared
    * host gave more or less than usual does not set it. Counters come from
    * the last chain. */
  val Chains = 3

  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(sys.error(s"unknown workload $n; known: ${all.map(_.name).mkString(", ")}"))

  val TripleCols: Seq[String] = Seq("doc_id", "sent", "subj", "pred", "obj", "obj_is_uri")

  def triplesGate(df: DataFrame): Gate = Gate.of(df.select(TripleCols.map(col): _*))

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `df` without its smallest row (every copy of it), as a layer that
    * lost one row would return it; `--perturb 1` feeds this to the gate. */
  def dropOne(df: DataFrame): DataFrame = {
    val cs = df.columns.toSeq.map(col)
    val r = df.orderBy(cs: _*).head()
    df.filter(not(cs.zipWithIndex.map { case (c, i) => c <=> lit(r.get(i)) }.reduce(_ && _)))
  }

  def readDocs(spark: SparkSession, path: String): Dataset[InputDoc] = {
    import spark.implicits._
    spark.read.parquet(path).as[InputDoc]
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).getOrElse(Array.empty[java.io.File]).map(dirBytes).sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally st.close()
  }

  def scriptKey(name: String): String = "Rules.script_s." + name.replaceAll("[^A-Za-z0-9_.-]", "_")

  /** Per-layer metrics read from the public Pipeline accumulators
    * (at-least-once: a retried or re-evaluated task counts again). */
  def ruleMetrics(m: Pipeline.Metrics): Map[String, Double] =
    Map("SpanParser.sentences" -> m.sentencesIn.value.toDouble,
      "Rules.triples_out" -> m.triplesOut.value.toDouble,
      "Rules.iterations" -> m.perScript.values.map(_._1.value.toLong).sum.toDouble) ++
      m.perScript.map { case (n, (_, ns)) => scriptKey(n) -> ns.value / 1e9 }

  /** Engine-wide counters of the traced job span. */
  def sparkMetrics(t: Tracer, job: TraceSpan): Map[String, Double] = {
    val s = t.statsFor(job)
    Map("spark.executor_run_s" -> s.runMs / 1e3, "spark.executor_cpu_s" -> s.cpuNs / 1e9,
      "spark.gc_s" -> s.gcMs / 1e3, "spark.shuffle_read_bytes" -> s.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> s.shuffleWrite.toDouble,
      "spark.spill_disk_bytes" -> s.spillDisk.toDouble,
      "spark.scheduler_delay_s" -> s.schedDelayMs / 1e3,
      "spark.core_busy_ratio" -> t.coreBusy(job), "spark.driver_only_s" -> t.driverOnlyS(job),
      "spark.task_skew" -> t.taskSkew(job), "spark.tasks_failed" -> s.tasksFailed.toDouble)
  }
}

import Workloads._

// ----------------------------------------------------------------- kg_pipeline

/** The whole KG-construction job, graft.Main's shape plus linking:
  * CheckpointRunner runs the parse-ud cascade into parquet buckets with
  * manifest markers; a seeded subset of markers is removed (a simulated
  * crash) and the run resumes; the checkpointed triples are entity-linked
  * against a gazetteer larger than `broadcastMax` (the salted shuffle
  * join), canonicalized over sameAs evidence with more edges than
  * spark.graft.cc.localMaxEdges (the distributed CC loop), and checked. */
object KgPipeline extends Workload {
  val name = "kg_pipeline"
  val buckets = 2
  val crashed = 1
  val broadcastMax = 15000
  val ccLocalMaxEdges = 10000L

  private def gazetteer(spark: SparkSession, dir: String): DataFrame = spark.read.parquet(s"$dir/gazetteer")

  /** The unfused `rewrite` → `triples` path straight through with no
    * checkpoint, the broadcast link and the driver union-find CC, against
    * the fused `rewriteTriples` inside CheckpointRunner, the salted link
    * and the distributed CC that `run` takes. */
  def reference(spark: SparkSession, dir: String): Option[Gate] = {
    val t = Pipeline.triples(Pipeline.rewrite(
      Pipeline.parse(readDocs(spark, s"$dir/docs"), DocGen.columns), Pipeline.parseCascade))
    val prev = spark.conf.getOption("spark.graft.cc.localMaxEdges")
    spark.conf.unset("spark.graft.cc.localMaxEdges")
    try Some(triplesGate(EntityLinker.canonicalize(spark,
      EntityLinker.linkUnioned(t, gazetteer(spark, dir), Int.MaxValue - 1),
      spark.read.parquet(s"$dir/sameas"))))
    finally prev.foreach(spark.conf.set("spark.graft.cc.localMaxEdges", _))
  }

  def open(spark: SparkSession, dir: String, work: String, seed: Long): Runner = new Runner {
    import spark.implicits._
    spark.conf.set("spark.graft.cc.localMaxEdges", ccLocalMaxEdges)
    val cascade = Pipeline.parseCascade
    val input = readDocs(spark, s"$dir/docs")
    val gaz = gazetteer(spark, dir)
    val sameAs = spark.read.parquet(s"$dir/sameas")
    val inputBytes = dirBytes(new java.io.File(s"$dir/docs")).toDouble
    val docs = input.count().toDouble
    val out = Paths.get(work, "out", name).toAbsolutePath
    private var iteration = 0L

    private def checkpoint(m: Option[Pipeline.Metrics]): DataFrame =
      CheckpointRunner.run(spark, input, DocGen.columns, cascade, out.toString, buckets, m)
        .select(TripleCols.map(col): _*)

    /** Removes the markers of `crashed` seeded buckets, as if the run had
      * died after committing their parquet and before writing the marker. */
    private def crash(): Unit = {
      val r = DocGen.Rng(seed * 1000003L + iteration)
      (0 until buckets).sortBy(_ => r.nextLong()).take(crashed)
        .foreach(b => Files.delete(out.resolve(s"_manifest/bucket-$b.json")))
    }

    private def linkCanon(triples: DataFrame): DataFrame =
      EntityLinker.canonicalize(spark,
        EntityLinker.linkUnioned(triples.as[TripleRow], gaz, broadcastMax), sameAs)

    /** Links, canonicalizes and fingerprints the checkpointed triples;
      * with `--perturb 1` one triple is dropped from them first. */
    private def check(triples: DataFrame): Gate =
      triplesGate(linkCanon(if (Main.perturb) dropOne(triples) else triples))

    private def job(m: Pipeline.Metrics): Gate = {
      iteration += 1
      checkpoint(Some(m))
      crash()
      check(checkpoint(Some(m)))
    }

    def run(): Gate = {
      deleteTree(out)
      job(Pipeline.newMetrics(spark, cascade))
    }

    private def bucketSeconds(): Seq[Double] = (0 until buckets).flatMap { b =>
      val f = out.resolve(s"_manifest/bucket-$b.json")
      if (!Files.exists(f)) None
      else "\"wall_ms\":(\\d+)".r.findFirstMatchIn(new String(Files.readAllBytes(f), "UTF-8"))
        .map(_.group(1).toDouble / 1e3)
    }.sorted

    def traced(t: Tracer, rep: Int): (Gate, Map[String, Double]) = {
      def span(name: String)(f: => Unit): Unit = t.span(name, "run", rep)(f)
      def sec(name: String): Double = t.medianSeconds(name, rep)
      var files = 0.0
      var bs = Seq.empty[Double]
      for (_ <- 1 to Chains) {
        span("scan")(noop(input.toDF()))
        span("SpanParser")(noop(Pipeline.parse(input, DocGen.columns).toDF()))
        span("Rules")(noop(Pipeline.rewriteTriples(Pipeline.parse(input, DocGen.columns), cascade).toDF()))
        deleteTree(out)
        span("CheckpointRunner")(checkpoint(None))
        files = Files.walk(out).filter(_.toString.endsWith(".parquet")).count().toDouble
        bs = bucketSeconds()
        crash()
        span("CheckpointRunner.resume")(checkpoint(None))
        val triples = checkpoint(None)
        span("EntityLinker.link")(noop(EntityLinker.linkUnioned(triples.as[TripleRow], gaz, broadcastMax)))
        span("ConnectedComponents")(ConnectedComponents.run(spark, sameAs).count())
        span("EntityLinker.canonicalize")(noop(linkCanon(triples)))
        span("check")(check(triples))
      }
      val (first, link, cc) =
        (t.last("CheckpointRunner", rep), t.last("EntityLinker.link", rep), t.last("ConnectedComponents", rep))
      val firstStats = t.statsFor(first)
      deleteTree(out)
      val m = Pipeline.newMetrics(spark, cascade)
      System.gc() // as before every untraced job, so trace.overhead_s compares like with like
      val o = t.span("job", "", rep)(job(m))
      val j = t.last("job", rep)
      val (linkStats, ccStats) = (t.statsFor(link), t.statsFor(cc))
      (o, ruleMetrics(m) ++ sparkMetrics(t, j) ++ Map(
        "scan.self_s" -> sec("scan"), "scan.bytes" -> inputBytes,
        "SpanParser.self_s" -> (sec("SpanParser") - sec("scan")),
        "Rules.self_s" -> (sec("Rules") - sec("SpanParser")),
        "sink.self_s" -> (sec("CheckpointRunner") - sec("Rules")),
        "sink.bytes_written" -> firstStats.bytesWritten.toDouble,
        "sink.files" -> files,
        "CheckpointRunner.resume_s" -> sec("CheckpointRunner.resume"),
        "CheckpointRunner.bucket_s_median" -> bs(bs.length / 2),
        "CheckpointRunner.bucket_s_max" -> bs.last,
        // each bucket re-reads its written rows for the manifest stats: not input scanning
        "CheckpointRunner.scan_amplification" -> (firstStats.recordsRead - firstStats.recordsWritten) / docs,
        "CheckpointRunner.resume_skipped_ratio" -> (buckets - crashed).toDouble / buckets,
        "EntityLinker.self_s" ->
          (sec("EntityLinker.link") + (sec("EntityLinker.canonicalize") - sec("EntityLinker.link") -
            sec("ConnectedComponents"))),
        "EntityLinker.shuffle_write_bytes" -> linkStats.shuffleWrite.toDouble,
        "EntityLinker.task_skew" -> t.taskSkew(link),
        "ConnectedComponents.self_s" -> sec("ConnectedComponents"),
        "ConnectedComponents.jobs" -> ccStats.jobs.toDouble,
        "ConnectedComponents.shuffle_write_bytes" -> ccStats.shuffleWrite.toDouble,
        "ConnectedComponents.driver_only_s" -> t.driverOnlyS(cc),
        "check.self_s" -> (sec("check") - sec("EntityLinker.canonicalize"))))
    }

    /** Mention and link counts of the checkpointed triples, outside the spans. */
    override lazy val counts: Map[String, Double] = {
      val triples = checkpoint(None)
      val mentions = triples.filter(col("pred") === "conll:WORD").count().toDouble
      val links = EntityLinker.linkUnioned(triples.as[TripleRow], gaz, broadcastMax)
        .filter(col("pred") === "conll:ENTITY").count().toDouble
      Map("EntityLinker.mentions" -> mentions, "EntityLinker.links" -> links,
        "EntityLinker.hit_ratio" -> links / mentions,
        "ConnectedComponents.edges" -> sameAs.count().toDouble)
    }

    override def routing: Map[String, String] = {
      val gazN = gaz.count()
      val sym = sameAs.select(col("src"), col("dst"))
        .union(sameAs.select(col("dst"), col("src"))).filter(col("src") =!= col("dst"))
        .distinct().count()
      // ConnectedComponents.widthFor: ~250k edge rows per partition, cap 4x parallelism
      val width = math.max(1L, math.min(math.ceil(sym / 250000.0).toLong,
        spark.sparkContext.defaultParallelism * 4L))
      Map("checkpoint_buckets" -> buckets.toString, "crashed_buckets_per_job" -> crashed.toString,
        "link" -> (if (gazN <= broadcastMax) "broadcast" else "salted"),
        "link_physical_join" -> {
          val plan = EntityLinker.linkUnioned(checkpoint(None).as[TripleRow], gaz, broadcastMax)
            .queryExecution.executedPlan.toString
          Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin").filter(plan.contains).mkString("+")
        },
        "link_gazetteer_rows" -> gazN.toString, "link_broadcastMax" -> broadcastMax.toString,
        "cc" -> (if (sym <= ccLocalMaxEdges) "local" else "distributed"),
        "cc_symmetrized_edges" -> sym.toString, "cc_localMaxEdges" -> ccLocalMaxEdges.toString,
        "cc_width" -> width.toString,
        "canonicalize_join" -> "broadcast (components <= EntityLinker.canonicalBroadcastMaxNodes)")
    }
  }
}

// ------------------------------------------------------------ neardup_clusters

/** The registry's q34_dup_clusters (LSH Jaccard pairs + star CC) and
  * q37_simhash_hamming over a generated documents table with seeded
  * near-duplicate clusters. No KG layer runs. */
object NeardupClusters extends Workload {
  val name = "neardup_clusters"
  val queries = Seq("q34_dup_clusters", "q37_simhash_hamming")

  /** The queries' fingerprints, in `queries` order, as perfbench/oracle.py writes them. */
  private def gateOf(results: Seq[Array[Row]]): Gate = {
    val gs = results.map(Gate.md5Rows)
    Gate(gs.map(_.rows).sum, gs.map(_.hash).mkString("-"))
  }

  /** {query: SparkEntry.oracleSql(query)} as JSON, for perfbench/oracle.py. */
  def oracleSpec: String =
    Json.obj(queries.map(q => q -> Json.str(graft.SparkEntry.oracleSql(q))))

  /** perfbench/oracle.py ran the registry's oracle SQL in DuckDB. */
  def reference(spark: SparkSession, dir: String): Option[Gate] = None

  def open(spark: SparkSession, dir: String, work: String, seed: Long): Runner = new Runner {
    val q = graft.SparkEntry.queries
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    private def collectQ(name: String): Array[Row] = q(name)(spark, dir).collect()

    /** Both queries, fingerprinted; with `--perturb 1` q34 loses a row. */
    def run(): Gate = {
      val rows = queries.map(collectQ)
      val g = gateOf(if (Main.perturb) rows.updated(0, rows.head.drop(1)) else rows)
      spark.catalog.clearCache()
      g
    }

    def traced(t: Tracer, rep: Int): (Gate, Map[String, Double]) = {
      def sec(name: String): Double = t.medianSeconds(name, rep)
      // each query alone, then its cached tables dropped, inside its span
      def alone(name: String): Array[Row] = { val r = collectQ(name); spark.catalog.clearCache(); r }
      // plan counters of a query the job runs, read from its executed plans
      def counted(pc: PlanCounter, query: String): Array[Row] = {
        spark.listenerManager.register(pc)
        try t.span(query, "run", rep)(alone(query))
        finally {
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          spark.listenerManager.unregister(pc)
        }
      }
      val (pairs, pc34, pc37) = (1 to Chains).map { _ =>
        val (pc34, pc37) = (new PlanCounter, new PlanCounter)
        val pairs = t.span("DedupQueries.q22", "run", rep)(alone("q22_lsh_jaccard"))
        val r34 = counted(pc34, "q34_dup_clusters")
        val r37 = counted(pc37, "q37_simhash_hamming")
        t.span("check", "run", rep)(gateOf(Seq(r34, r37)))
        (pairs, pc34, pc37)
      }.last
      val (s22, s34, s37) = (t.last("DedupQueries.q22", rep), t.last("q34_dup_clusters", rep),
        t.last("q37_simhash_hamming", rep))
      System.gc() // as before every untraced job, so trace.overhead_s compares like with like
      val o = t.span("job", "", rep)(run())
      val j = t.last("job", rep)
      val (st22, st34, st37) = (t.statsFor(s22), t.statsFor(s34), t.statsFor(s37))
      (o, sparkMetrics(t, j) ++ Map(
        "scan.bytes" -> dirBytes(new java.io.File(s"$dir/documents.parquet")).toDouble,
        "ConnectedComponents.edges" -> pairs.count(_.getDouble(3) >= 0.5).toDouble,
        "DedupQueries.self_s" -> (sec("DedupQueries.q22") + sec("q37_simhash_hamming")),
        "DedupQueries.candidates" -> (pc34.candidates + pc37.candidates).toDouble,
        "DedupQueries.pairs_verified" -> pc34.verified.toDouble,
        "DedupQueries.verify_ratio" -> pc34.verified.toDouble / math.max(1L, pc34.candidates),
        "DedupQueries.shuffle_write_bytes" -> (st22.shuffleWrite + st37.shuffleWrite).toDouble,
        "ConnectedComponents.self_s" -> (sec("q34_dup_clusters") - sec("DedupQueries.q22")),
        "ConnectedComponents.jobs" -> (st34.jobs - st22.jobs).toDouble,
        "ConnectedComponents.shuffle_write_bytes" -> (st34.shuffleWrite - st22.shuffleWrite).toDouble,
        "ConnectedComponents.driver_only_s" -> (t.driverOnlyS(s34) - t.driverOnlyS(s22)),
        "check.self_s" -> sec("check")))
    }

    override def routing: Map[String, String] = Map(
      "byte_width" -> graft.queries.Tables.byteWidth(spark, dir, "documents").toString,
      "cc" -> "runStar, driver union-find under spark.graft.cc.localMaxEdges",
      "cc_localMaxEdges" -> spark.conf.getOption("spark.graft.cc.localMaxEdges").getOrElse("500000"))
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
