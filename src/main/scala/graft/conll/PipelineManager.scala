package graft.conll

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import Rules.Script

/** K7: JSON-configured pipeline composition (the reference's
  * CoNLLRDFManager, CoNLLRDFManager.java:150-201) — component stacks as a
  * JSON document, mirroring examples/analyze-ud.json / parse-ud.json:
  *
  * {
  *   "input":   { "docs": 1000 } | { "parquet": "/path" },
  *   "pipeline": [
  *     { "class": "CoNLLStreamExtractor", "columns": ["ID","WORD",...] },
  *     { "class": "CoNLLRDFUpdater",
  *       "updates": [ {"path": "remove-IGNORE", "iter": "1"},
  *                    {"path": "REDUCE-english-1", "iter": "5"} ] },
  *     { "class": "CoNLLRDFFormatter",
  *       "mode": "triples" | "conll" | "ntriples" | "dot" | "grammar" |
  *               "semantics" | "debug",
  *       "columns": [...] }
  *   ]
  * }
  *
  * Update scripts are referenced by reference script name in the one
  * catalogue, [[scripts]] and [[cascades]], with the reference's `{n}`
  * iteration suffix carried by "iter". JSON parsing uses Spark's bundled
  * Jackson — no extra dependency.
  */
object PipelineManager {

  /** The compiled examples/sparql/ scripts by reference script name, their
    * ontology closures computed once on the driver (SURVEY §2.4 U12c).
    * infer-olia-concepts over the UD graph is `infer-olia-concepts-ud`. */
  val scripts: Map[String, Script] = {
    val links = Ontology.pennLinks(Ontology.miniOlia, Ontology.GRAPH_PENN)
    val t2c = Ontology.tagToConcepts(Ontology.miniOlia, Ontology.GRAPH_UD, Ontology.keepOlia)
    val supUd = Ontology.superClosure(Ontology.miniOlia, Ontology.GRAPH_UD, Ontology.keepOlia)
    val supOlia = Ontology.superClosure(Ontology.miniOlia, Ontology.GRAPH_OLIA, Ontology.keepOlia)
    Seq(
      AnalyzeScripts.removeId,
      AnalyzeScripts.removeIgnore,
      AnalyzeScripts.uposToPossynt,
      AnalyzeScripts.edgeToPossynt,
      AnalyzeScripts.consolidatePossynt,
      LinkScripts.linkUposSimple(t2c),
      LinkScripts.linkPennPosFull(links),
      LinkScripts.inferOliaConcepts(supOlia),
      LinkScripts.removeAnnotationModel(),
      ParseScripts.initializeShift,
      ParseScripts.reduceEnglish1,
      ParseScripts.reduceEnglish2,
      ParseScripts.reduceEnglish3,
      ParseScripts.reduceEnglish4,
      ParseScripts.reduceToHead,
      TreesScripts.xAttributes2value,
      TreesScripts.emptyNode2Word,
      TreesScripts.tree2bracket
    ).map(s => s.name -> s).toMap ++ Map(
      "infer-olia-concepts-ud" -> LinkScripts.inferOliaConcepts(supUd).copy(name = "infer-olia-concepts-ud")
    )
  }

  /** The reference stacks as (script name, iterations) in run order:
    * examples/analyze-ud.json, parse-ud.sh:35-53 and link-ud. */
  val cascades: ListMap[String, Seq[(String, Int)]] = ListMap(
    "analyze" -> once("remove-IGNORE", "UPOS-to-POSsynt", "EDGE-to-POSsynt", "consolidate-POSsynt"),
    "parse" -> (once("remove-ID", "remove-IGNORE", "link-penn-POS", "remove-annotation-model",
      "infer-olia-concepts") ++ ParseScripts.cascade.map { case (s, n) => s.name -> n }),
    "link" -> once("link-UPOS-simple", "infer-olia-concepts-ud", "remove-annotation-model"))

  private def once(names: String*): Seq[(String, Int)] = names.map(_ -> 1)

  /** A named cascade's scripts, each under its reference name (the
    * [[Pipeline.Metrics]] key): the UD closure runs as `infer-olia-concepts`. */
  def cascade(name: String): Seq[(Script, Int)] = cascades(name).map { case (s, n) =>
    (if (s == "infer-olia-concepts-ud") scripts(s).copy(name = "infer-olia-concepts") else scripts(s)) -> n
  }

  final case class Config(
      input: Either[Long, String], // docs count | parquet path
      columns: Seq[String],
      updates: Seq[(Script, Int)],
      format: String,              // one of Modes
      formatColumns: Seq[String])

  /** The formatter modes [[run]] writes. */
  private val Modes: Seq[String] = Seq("triples", "conll", "ntriples", "dot", "grammar", "semantics", "debug")

  /** A missing or malformed key, script or class fails naming it. */
  def parseConfig(json: String): Config = {
    val root: JsonNode = new ObjectMapper().readTree(json)
    def field(node: JsonNode, key: String, where: String): JsonNode =
      Option(node.get(key)).getOrElse(
        throw new IllegalArgumentException(s"pipeline config: $where has no \"$key\""))
    val input = Option(root.get("input")) match {
      case Some(i) if i.has("parquet") => Right(i.get("parquet").asText())
      case Some(i) if i.has("docs") =>
        val docs = i.get("docs").asText()
        Left(docs.toLongOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
          s"pipeline config: \"docs\" must be a non-negative integer, got '$docs'")))
      case _ => Left(1000L)
    }
    var columns: Seq[String] = DocGen.columns
    var updates: Seq[(Script, Int)] = Seq.empty
    var format = "triples"
    var formatColumns: Seq[String] = Seq.empty
    for (stage <- field(root, "pipeline", "the document").elements().asScala) {
      field(stage, "class", "a pipeline stage").asText() match {
        case "CoNLLStreamExtractor" =>
          if (stage.has("columns"))
            columns = stage.get("columns").elements().asScala.map(_.asText()).toSeq
        case "CoNLLRDFUpdater" =>
          val SuffixRe = "\\{([0-9]+|u|\\*)\\}$".r
          updates = field(stage, "updates", "the CoNLLRDFUpdater stage").elements().asScala.map { u =>
            val rawPath = field(u, "path", "an update").asText()
            // reference `script.sparql{n}` / `{u}` / `{*}` iteration suffix
            // (CoNLLRDFCommandLine.parseUpdate:266-274: no suffix → 1,
            // "u" → "*" → run to fixpoint capped at MAXITERATE)
            val suffixIter = SuffixRe.findFirstMatchIn(rawPath).map(_.group(1))
            val name = SuffixRe.replaceFirstIn(rawPath, "")
              .replaceAll("^.*/", "").replaceAll("\\.sparql$", "")
            val iterStr =
              if (u.has("iter")) u.get("iter").asText()
              else suffixIter.getOrElse("1")
            val iter = iterStr match {
              case "u" | "*" => Rules.MAXITERATE
              case n => n.toIntOption.getOrElse(throw new IllegalArgumentException(
                s"pipeline config: \"iter\" of $name must be an integer, u or *, got '$n'"))
            }
            val script = scripts.getOrElse(name,
              throw new IllegalArgumentException(s"unknown update script: $name"))
            script -> iter
          }.toSeq
        case "CoNLLRDFFormatter" =>
          if (stage.has("mode")) format = stage.get("mode").asText().toLowerCase
          if (!Modes.contains(format)) throw new IllegalArgumentException(
            s"pipeline config: \"mode\" must be one of ${Modes.mkString("|")}, got '$format'")
          if (stage.has("columns"))
            formatColumns = stage.get("columns").elements().asScala.map(_.asText()).toSeq
        case other =>
          throw new IllegalArgumentException(s"unknown pipeline class: $other")
      }
    }
    Config(input, columns, updates, format, formatColumns)
  }

  /** Build and run the configured pipeline. */
  def run(spark: SparkSession, json: String): DataFrame = {
    import spark.implicits._
    val cfg = parseConfig(json)
    val raw: Dataset[InputDoc] = cfg.input match {
      case Left(n) => DocGen.docs(spark, n)
      case Right(path) => spark.read.parquet(path).as[InputDoc]
    }
    // U18: external input is UTF-8-validated; rejects are counted in the
    // named accumulator (surfaces in the Spark UI / status API). The
    // manager mirrors the reference CLI, which aborts on malformed bytes.
    val docs = Pipeline.validateUtf8(raw, spark.sparkContext.longAccumulator("utf8_rejected"))
    val parsed = Pipeline.parse(docs, cfg.columns)
    lazy val triples = Pipeline.rewriteTriples(parsed, cfg.updates)
    val outCols = if (cfg.formatColumns.nonEmpty) cfg.formatColumns else cfg.columns
    def rendered(name: String)(f: Sentence => String): DataFrame =
      Pipeline.rewrite(parsed, cfg.updates).map(s => (s.docId, s.sent, f(s)))
        .toDF("doc_id", "sent", name)
    cfg.format match {
      case "conll" => Serializers.toConllTsv(triples.toDF(), outCols)
      case "ntriples" => Serializers.toSortedNTriples(triples).toDF("line")
      // K5/K6 diagnostics: per-sentence renderers, narrow map
      case "dot" => rendered("dot")(Viz.toDot(_))
      case "grammar" => rendered("grammar")(Viz.asciiTree(_))
      case "semantics" => rendered("semantics")(Viz.termGraph(_))
      case "debug" => rendered("ttl_ansi")(s => Viz.colorTtl(Serializers.toCanonicalTtl(s, outCols)))
      case "triples" => triples.toDF()
    }
  }
}
