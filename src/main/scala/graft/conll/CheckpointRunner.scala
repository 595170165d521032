package graft.conll

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import Rules.Script

/** Checkpoint-resumable pipeline execution with per-partition lineage and
  * metrics (north_rule: "resumable from checkpoint with per-partition
  * lineage + metrics").
  *
  * Work is split into `nBuckets` doc-hash buckets; each bucket is one
  * restartable unit written to `outDir/bucket=<b>/` with a manifest marker
  * `outDir/_manifest/bucket-<b>.json` recording lineage (doc range, rows,
  * wall ms) and the run's layout (bucket count, columns, each cascade
  * script and its budget). On restart, completed buckets are skipped; a
  * run whose layout differs from a marker's fails naming both. Marker
  * files are written AFTER the bucket's parquet commit, so a crash
  * between the two re-runs the bucket — output is overwrite-idempotent,
  * never partial.
  * Markers go through `outDir`'s own Hadoop FileSystem, as the parquet
  * does, so they land beside the buckets on any scheme.
  *
  * At cluster scale each bucket is itself fully parallel (it is a filter
  * over the input, processed by all executors); buckets bound the blast
  * radius of a failure, they do not serialize the work — pick nBuckets
  * around the number of desired resume points, not the cluster size.
  *
  * What a bucket costs: a full scan of the input. The bucket filter
  * `pmod(xxhash64(doc_id), n) === b` is no predicate a parquet reader
  * can prune by, so every bucket job reads every input row and drops
  * the rows of the other buckets, and a resumed bucket reads them all
  * again. A complete n-bucket run reads its input n times: 64 times for
  * `graft.Main`'s default of 64 buckets. ROADMAP L tracks buckets that
  * read only their own rows.
  */
object CheckpointRunner {

  private val Json = new ObjectMapper()

  /** The layout every marker of one output directory must share. */
  private def layout(nBuckets: Int, cols: Seq[String], scripts: Seq[(Script, Int)]): ObjectNode = {
    val l = Json.createObjectNode().put("buckets", nBuckets)
    val columns = l.putArray("columns")
    cols.foreach(c => columns.add(c))
    val cascade = l.putArray("cascade")
    for ((script, budget) <- scripts)
      cascade.addObject().put("script", script.name).put("budget", budget)
    l
  }

  def run(
      spark: SparkSession,
      docs: Dataset[InputDoc],
      cols: Seq[String],
      scripts: Seq[(Script, Int)],
      outDir: String,
      nBuckets: Int = 8,
      metrics: Option[Pipeline.Metrics] = None
  ): DataFrame = {
    import spark.implicits._
    val (fs, manifestDir) = manifest(spark, outDir)
    fs.mkdirs(manifestDir)
    val runLayout = layout(nBuckets, cols, scripts)
    val done = markers(fs, manifestDir).map { case (path, marker) =>
      val l = Json.readTree(marker).get("layout")
      if (l != runLayout)
        throw new IllegalStateException(
          s"$outDir holds buckets of another layout: marker $path has " +
            s"${Option(l).getOrElse("no layout")}, this run has $runLayout; " +
            "resume with the marker's layout or write to an empty directory")
      path.getName
    }.toSet

    def markerPath(b: Int) = new Path(manifestDir, s"bucket-$b.json")

    def runBucket(b: Int): Unit = {
      val t0 = System.nanoTime()
      val subset = docs.filter(pmod(xxhash64($"doc_id"), lit(nBuckets)) === b)
      val out = Pipeline.rewriteTriples(Pipeline.parse(subset, cols), scripts, metrics)
      // the lineage stats ride the write job itself (no read-back job)
      val stats = Observation()
      out.observe(stats, min($"doc_id").as("mn"), max($"doc_id").as("mx"), count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$outDir/bucket=$b")
      val st = stats.get
      def docId(k: String) = Option(st(k)).fold("")(_.toString)
      val marker = Json.createObjectNode().put("bucket", b)
        .put("doc_min", docId("mn")).put("doc_max", docId("mx"))
        .put("rows", st("n").asInstanceOf[Long])
        .put("wall_ms", (System.nanoTime() - t0) / 1000000L).put("status", "done")
      marker.set[ObjectNode]("layout", runLayout)
      val os = fs.create(markerPath(b), true)
      try os.write(Json.writeValueAsBytes(marker)) finally os.close()
    }
    // Overlap the independent bucket jobs (r9, guide §2.6): buckets are
    // disjoint filters writing disjoint directories, and Spark's
    // scheduler runs concurrent jobs FIFO so a later bucket's tasks
    // back-fill executors freed by the current bucket's write tail —
    // the sequential loop left the cluster idle during every bucket's
    // commit. 2-3 jobs in flight is the guide's recommendation: enough
    // to fill the tail, not enough to thrash.
    // Marker semantics are unchanged (each bucket's marker is written by
    // its own task AFTER its parquet commit; a crash still re-runs
    // exactly the uncommitted buckets).
    val todo = (0 until nBuckets).filterNot(b => done(markerPath(b).getName))
    if (todo.nonEmpty) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(3, todo.size))
      try {
        val fs = todo.map(b => pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = runBucket(b)
        }))
        fs.foreach { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally pool.shutdown()
    }
    // the buckets' schema is known, so no footer-inference job runs
    spark.read.schema(Encoders.product[TripleRow].schema)
      .parquet((0 until nBuckets).map(b => s"$outDir/bucket=$b"): _*)
  }

  /** The lineage table reconstructed from the manifest markers.
    *
    * Markers are read driver-side: they are O(nBuckets) tiny JSON files of
    * job metadata (the same order as any manifest read), and the `_manifest`
    * directory is deliberately underscore-hidden so Spark's file index skips
    * it — a glob-based `spark.read.json` would refuse the path outright.
    */
  def lineage(spark: SparkSession, outDir: String): DataFrame = {
    import spark.implicits._
    val (fs, dir) = manifest(spark, outDir)
    spark.read.json(spark.createDataset(markers(fs, dir).map(_._2)))
  }

  /** Every marker in `dir`, as (path, JSON text). */
  private def markers(fs: FileSystem, dir: Path): Seq[(Path, String)] =
    fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.matches("bucket-\\d+\\.json"))
      .map { p =>
        val in = fs.open(p)
        try (p, new String(in.readAllBytes(), "UTF-8")) finally in.close()
      }

  /** `outDir/_manifest` with the FileSystem of `outDir`'s scheme. */
  private def manifest(spark: SparkSession, outDir: String) = {
    val dir = new Path(outDir, "_manifest")
    (dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }
}
