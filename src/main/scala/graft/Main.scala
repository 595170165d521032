package graft

import org.apache.spark.sql.SparkSession
import graft.conll._

/** spark-submit entry point (north_rule: "submitted via spark-submit on a
  * multi-executor cluster"):
  *
  *   spark-submit --class graft.Main app.jar \
  *     --input <spans parquet dir | gen:<nDocs>> \
  *     --output <dir> \
  *     --cascade analyze|parse|link \
  *     [--buckets 64] [--config <pipeline.json>]
  *
  * Runs the KG-construction pipeline checkpoint-resumably (bucket
  * manifest + lineage, CheckpointRunner) and writes the metrics table
  * next to the output. In local mode, pass --master local[N] to
  * spark-submit as usual; the session here inherits it.
  */
object Main {

  /** The parsed command line. */
  final case class Opts(input: String, output: String, cascade: String,
                        buckets: Int, config: Option[String])

  private val Cascades = Seq("analyze", "parse", "link")
  private val Flags = Seq("input", "output", "cascade", "buckets", "config")

  /** `--name value` pairs → [[Opts]] (defaults: gen:10000, /tmp/graft-out,
    * analyze, 64 buckets). An unknown flag, a flag without a value, a
    * cascade outside analyze|parse|link and a bucket count that is not a
    * positive integer fail naming the flag, before any session starts. */
  def parse(args: Array[String]): Opts = {
    val given = args.grouped(2).map {
      case Array(k, v) if Flags.exists(f => k == s"--$f") => k.drop(2) -> v
      case p => throw new IllegalArgumentException(
        s"expected ${Flags.map("--" + _).mkString("|")} <value>, got '${p.mkString(" ")}'")
    }.toMap
    val cascade = given.get("cascade").getOrElse("analyze")
    require(Cascades.contains(cascade),
      s"--cascade must be one of ${Cascades.mkString("|")}, got '$cascade'")
    val buckets = given.get("buckets").getOrElse("64")
    require(buckets.toIntOption.exists(_ > 0),
      s"--buckets must be a positive integer, got '$buckets'")
    Opts(given.get("input").getOrElse("gen:10000"), given.get("output").getOrElse("/tmp/graft-out"),
      cascade, buckets.toInt, given.get("config"))
  }

  def main(args: Array[String]): Unit = {
    val Opts(input, output, cascadeName, buckets, config) = parse(args)

    val builder = SparkSession.builder()
      .appName(s"graft-$cascadeName")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // spark-submit injects the master; default for bare JVM launches
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(s"local[${Runtime.getRuntime.availableProcessors}]"))
      .getOrCreate()
    import spark.implicits._

    config match {
      case Some(path) =>
        val json = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
        PipelineManager.run(spark, json).write.mode("overwrite").parquet(output)
      case None =>
        val docs = if (input.startsWith("gen:"))
          DocGen.docs(spark, input.stripPrefix("gen:").toLong)
        else spark.read.parquet(input).as[InputDoc]
        val cascade = cascadeName match {
          case "parse" => Pipeline.parseCascade
          case "link" => Pipeline.linkCascade
          case "analyze" => Pipeline.analyzeCascade
        }
        val metrics = Pipeline.newMetrics(spark, cascade)
        CheckpointRunner.run(spark, docs, DocGen.columns, cascade, output, buckets, Some(metrics))
        metrics.toDf(spark).write.mode("overwrite").parquet(s"$output/_metrics")
        CheckpointRunner.lineage(spark, output).show(buckets, truncate = false)
    }
    spark.stop()
  }
}
