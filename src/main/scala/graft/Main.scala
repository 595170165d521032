package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import graft.conll._

/** spark-submit entry point (north_rule: "submitted via spark-submit on a
  * multi-executor cluster"):
  *
  *   spark-submit --class graft.Main app.jar \
  *     --input <spans parquet dir | gen:<nDocs>> \
  *     --output <dir> \
  *     --cascade analyze|parse|link \
  *     [--buckets 64]
  *   spark-submit --class graft.Main app.jar \
  *     --config <pipeline.json> --output <dir>
  *
  * Runs the KG-construction pipeline checkpoint-resumably (bucket
  * manifest + lineage, CheckpointRunner) and writes the metrics table
  * next to the output; with `--config`, runs the JSON-configured
  * pipeline ([[graft.conll.PipelineManager]]) once instead. In local
  * mode, pass --master local[N] to spark-submit as usual; the session
  * here inherits it ([[sessionConf]]).
  */
object Main {

  /** The parsed command line. */
  final case class Opts(input: String, output: String, cascade: String,
                        buckets: Int, config: Option[String])

  private val Flags = Seq("input", "output", "cascade", "buckets", "config")

  /** `--name value` pairs → [[Opts]] (defaults: gen:10000, /tmp/graft-out,
    * analyze, 64 buckets). An unknown flag, a flag without a value, a
    * cascade the catalogue ([[PipelineManager.cascades]]) does not name, a
    * `gen:` input whose document count is not a non-negative integer, a
    * bucket count that is not a positive integer, and `--input`,
    * `--cascade` or `--buckets` beside `--config` (the JSON names its own
    * input and stages) fail naming the flag, before any session starts. */
  def parse(args: Array[String]): Opts = {
    val values = args.grouped(2).map {
      case Array(k, v) if Flags.exists(f => k == s"--$f") => k.drop(2) -> v
      case p => throw new IllegalArgumentException(
        s"expected ${Flags.map("--" + _).mkString("|")} <value>, got '${p.mkString(" ")}'")
    }.toMap
    for (f <- Seq("input", "cascade", "buckets") if values.contains("config") && values.contains(f))
      throw new IllegalArgumentException(
        s"--$f is not used with --config (the pipeline JSON names its input and stages)")
    val input = values.getOrElse("input", "gen:10000")
    require(!input.startsWith("gen:") || input.stripPrefix("gen:").toLongOption.exists(_ >= 0),
      s"--input gen:<nDocs> needs a non-negative integer, got '$input'")
    val cascade = values.getOrElse("cascade", "analyze")
    require(PipelineManager.cascades.contains(cascade),
      s"--cascade must be one of ${PipelineManager.cascades.keys.mkString("|")}, got '$cascade'")
    val buckets = values.getOrElse("buckets", "64")
    require(buckets.toIntOption.exists(_ > 0),
      s"--buckets must be a positive integer, got '$buckets'")
    Opts(input, values.getOrElse("output", "/tmp/graft-out"), cascade, buckets.toInt, values.get("config"))
  }

  /** The conf Main's session is built from: `submitted` (spark-submit's
    * conf) with the [[Session]] policy keys on top, and a
    * `local[<processors>]` master only when none was submitted. Shuffle
    * width and UI stay as submitted, else Spark's defaults. */
  def sessionConf(submitted: SparkConf, appName: String): SparkConf = {
    val conf = submitted.clone().setAppName(appName).setAll(Session.keys)
    if (conf.contains("spark.master")) conf
    else conf.setMaster(s"local[${Runtime.getRuntime.availableProcessors}]")
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    // new SparkConf() reads the spark.* system properties spark-submit sets
    val spark = SparkSession.builder()
      .config(sessionConf(new SparkConf(), s"graft-${opts.cascade}")).getOrCreate()
    try run(spark, opts) finally spark.stop()
  }

  /** Runs `opts` on `spark`. The flag path drops documents that fail UTF-8
    * validation, as a `--config` run does ([[Pipeline.validateUtf8]]), and
    * prints `utf8_rejected`: an alarm, since each bucket job that runs
    * reads, and counts, every rejected document. */
  def run(spark: SparkSession, opts: Opts): Unit = {
    import spark.implicits._
    val Opts(input, output, cascadeName, buckets, config) = opts
    config match {
      case Some(path) =>
        val json = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
        PipelineManager.run(spark, json).write.mode("overwrite").parquet(output)
      case None =>
        val raw = if (input.startsWith("gen:"))
          DocGen.docs(spark, input.stripPrefix("gen:").toLong)
        else spark.read.parquet(input).as[InputDoc]
        val rejected = spark.sparkContext.longAccumulator("utf8_rejected")
        val docs = Pipeline.validateUtf8(raw, rejected)
        val cascade = PipelineManager.cascade(cascadeName)
        val metrics = Pipeline.newMetrics(spark, cascade)
        CheckpointRunner.run(spark, docs, DocGen.columns, cascade, output, buckets, Some(metrics))
        metrics.toDf(spark).write.mode("overwrite").parquet(s"$output/_metrics")
        CheckpointRunner.lineage(spark, output).drop("layout").show(buckets, truncate = false)
        println(s"utf8_rejected: ${rejected.value}")
    }
  }
}
