package graft.conll

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** S4 bridge: raw CoNLL TSV text files → the span-table contract. The
  * reference consumes byte streams (gz handled by the shell); Spark's
  * text source handles compression codecs natively, so `.conllu` /
  * `.conllu.gz` paths/globs work as-is.
  *
  * One file = one document (`wholetext`): right for corpus files up to
  * executor-memory size. A 100 TB ingest pre-splits giant files into the
  * span table by sentence boundaries offline — this helper is the
  * migration on-ramp for existing corpora, not the bulk path (the bulk
  * path IS the span table).
  */
object TsvIngest {

  /** Classify raw lines exactly like the stream reader would: empty →
    * sentence_break, '#' → comment, single-line XML → markup, else
    * token. The readers re-apply the markup/comment semantics (this
    * classification only routes span kinds); it also classifies
    * `TenTen.repairDocs`' converted lines. */
  def toSpans(lines: Seq[String]): Seq[Span] =
    lines.zipWithIndex.map { case (line, i) =>
      val t = line.trim
      val kind =
        if (t.isEmpty) "sentence_break"
        else if (t.startsWith("#")) "comment"
        else if (t.startsWith("<") && t.endsWith(">")) "markup"
        else "token"
      Span(kind, line, "", i)
    }

  /** file name → doc id: CoNLL-family extension and compression suffix
    * stripped (corpus/file.conllu.gz → "file") — the id a downstream
    * join or oracle sees should not depend on how the corpus was
    * compressed or suffixed on disk. Files differing ONLY by these
    * suffixes (a.conll next to a.tsv in one glob) map to the same id;
    * readFiles asserts id uniqueness and fails loudly on a collision. */
  private val IdRe = ".*?([^/]+?)(\\.(conllu|conll|tsv))?(\\.gz)?$".r
  def docIdOf(path: String): String = path match {
    case IdRe(id, _, _, _) => id
    case _ => path
  }

  private def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try in.readAllBytes() finally in.close()
  }

  /** Read text files (path or glob; gz transparent) into InputDocs, one
    * per file, doc_id = docIdOf(file name).
    *
    * Many-small-files ingest is the layout a migrating corpus actually
    * has, and Spark's file sources pay heavy per-file machinery for it:
    * on a 5k-file corpus the `wholetext` text source took ~11 s warm and
    * `binaryFile` ~7 s, while a plain single-threaded JVM loop reads the
    * same files in 0.2 s. So this uses the standard object-store ingest
    * pattern instead: ONE driver-side listing (exactly what every file
    * source's InMemoryFileIndex does anyway — the path array is the same
    * order of driver memory), the paths spread round-robin across the
    * cluster, and executors read bytes directly in a mapPartitions
    * (genuine per-partition imperative IO — SURVEY §2.6's sanctioned
    * mapPartitions shape). On object stores there is no data locality to
    * lose; each task streams its files with zero per-file framework cost.
    *
    * Reading raw bytes also puts the U18 byte-level UTF-8 gate where it
    * belongs: BEFORE decoding (Pipeline.isValidUtf8 — once text is a JVM
    * String the malformed-byte information is gone); an invalid file
    * fails loudly like the reference CLI (CoNLLRDFUpdater.java:779-789). */
  def readFiles(spark: SparkSession, path: String): Dataset[InputDoc] = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(hadoopConf)
    // a plain directory reads its files (the pre-r5 text-source behavior);
    // a glob expands; zero matches FAIL LOUDLY — a silent empty ingest
    // would let a typo'd path look like a successful zero-doc run.
    // Hidden files (leading '_' or '.') are excluded from directory
    // listings and glob expansions like every Spark file source (ADVICE
    // r5: a Spark-written dir's _SUCCESS / .crc markers must not ingest
    // as documents) — but a LITERAL file path names exactly one file the
    // user chose, so it is taken verbatim, hidden-looking or not, and
    // any file a glob matched but the filter dropped is logged by name
    // (a silent partial ingest is the quiet-wrong class the loud
    // empty/collision guards exist to prevent).
    def hidden(p: org.apache.hadoop.fs.Path): Boolean =
      p.getName.startsWith("_") || p.getName.startsWith(".")
    val literal = !path.exists(c => "*?[]{}".contains(c))
    val matched = Option(fs.globStatus(hp)).getOrElse(Array.empty)
    val (kept, skipped) = matched.flatMap {
      case st if st.isDirectory => fs.listStatus(st.getPath).filter(_.isFile)
      case st if st.isFile => Array(st)
      case _ => Array.empty[org.apache.hadoop.fs.FileStatus]
    }.partition(f => (literal && matched.exists(m => m.isFile && m.getPath == f.getPath)) || !hidden(f.getPath))
    if (skipped.nonEmpty)
      System.err.println(s"[ingest] skipping ${skipped.length} hidden file(s) under $path: " +
        skipped.take(5).map(_.getPath.getName).mkString(", ") +
        (if (skipped.length > 5) ", ..." else ""))
    val files = kept.map(_.getPath.toUri.toString)
    if (files.isEmpty)
      throw new java.io.FileNotFoundException(s"no input files match: $path")
    // docIdOf strips the serialization suffixes, so files differing ONLY
    // by suffix (a.conll next to a.tsv) would silently merge two distinct
    // documents under one id — fail loudly instead (ADVICE r5)
    val collisions = files.groupBy(docIdOf).filter(_._2.length > 1)
    require(collisions.isEmpty,
      s"doc_id collision across input files: " +
        collisions.map { case (id, ps) => s"$id <- ${ps.mkString(", ")}" }
          .mkString("; "))
    // executors must see the SESSION'S Hadoop configuration (object-store
    // credentials/endpoints arrive via spark.hadoop.* on the SparkConf,
    // not classpath XML) — Configuration isn't serializable, so ship its
    // effective properties and rebuild per partition
    val confProps: Array[(String, String)] =
      hadoopConf.iterator().asScala.map(e => e.getKey -> e.getValue).toArray
    val par = math.max(1, math.min(files.length, spark.sparkContext.defaultParallelism * 4))
    spark.createDataset(files.toSeq.sorted)
      .repartition(par)
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration()
        confProps.foreach { case (k, v) => conf.set(k, v) }
        it.map { p =>
          val fp = new org.apache.hadoop.fs.Path(new java.net.URI(p))
          val in = fp.getFileSystem(conf).open(fp)
          val raw = try in.readAllBytes() finally in.close()
          val bytes = if (p.endsWith(".gz")) gunzip(raw) else raw
          require(Pipeline.isValidUtf8(bytes), s"non-UTF-8 input file: $p")
          InputDoc(docIdOf(p),
            toSpans(new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
              .split("\n", -1).toSeq))
        }
      }
  }
}
