package graft.conll

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.TestSpark

class PipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("docs → parse → rewrite → triples end to end") {
    import spark.implicits._
    val docs = DocGen.docs(spark, 20)
    val metrics = Pipeline.newMetrics(spark, Pipeline.analyzeCascade)
    val sents = Pipeline.rewrite(
      Pipeline.parse(docs, DocGen.columns), Pipeline.analyzeCascade, Some(metrics))
    val t = Pipeline.triples(sents).cache()
    assert(t.count() > 0)
    // analyze outputs present
    assert(t.filter($"pred" === "conll:POSsynt_match").count() > 0)
    // every word carries a match flag
    val words = t.filter($"pred" === "rdf:type" && $"obj" === "nif:Word")
      .select($"subj", $"doc_id").distinct.count()
    val flags = t.filter($"pred" === "conll:POSsynt_match").select($"subj", $"doc_id").distinct.count()
    assert(words == flags)
    val m = metrics.toDf(spark).collect()
    assert(m.nonEmpty && m.forall(_.getAs[Long]("iterations") > 0))
    t.unpersist()
  }

  /** The fused `rewriteTriples` must emit exactly the rows of the unfused
    * `triples(rewrite(x))`, as a multiset, and count the same sentences,
    * triples and per-script iterations. */
  private def assertFusedEqualsUnfused(
      sents: Dataset[Sentence], cascade: Seq[(Rules.Script, Int)]): Unit = {
    val (mU, mF) = (Pipeline.newMetrics(spark, cascade), Pipeline.newMetrics(spark, cascade))
    val unfused = Pipeline.triples(Pipeline.rewrite(sents, cascade, Some(mU))).collect()
    val fused = Pipeline.rewriteTriples(sents, cascade, Some(mF)).collect()
    def multiset(rows: Array[TripleRow]) = rows.groupBy(identity).view.mapValues(_.length).toMap
    assert(unfused.nonEmpty)
    assert(multiset(fused) == multiset(unfused))
    assert(mU.sentencesIn.value > 0 && mF.sentencesIn.value == mU.sentencesIn.value)
    assert(mU.triplesOut.value == unfused.length && mF.triplesOut.value == fused.length)
    for ((script, _) <- cascade) {
      val (itU, itF) = (mU.perScript(script.name)._1.value, mF.perScript(script.name)._1.value)
      assert(itU > 0 && itF == itU, s"${script.name}: fused $itF iterations, unfused $itU")
    }
  }

  test("fused rewriteTriples == triples(rewrite) on DocGen spans with the parse-ud cascade") {
    assertFusedEqualsUnfused(
      Pipeline.parse(DocGen.docs(spark, 20), DocGen.columns), Pipeline.parseCascade)
  }

  test("fused rewriteTriples == triples(rewrite) on the TTL path with the analyze cascade") {
    import spark.implicits._
    val ttlDocs = DocGen.docs(spark, 12).map { d =>
      (d.doc_id, Serializers.toCanonicalTtlDocument(
        SpanParser.parseDoc(d, DocGen.columns), DocGen.columns, s"urn:graft:${d.doc_id}#"))
    }
    assertFusedEqualsUnfused(Pipeline.parseTtl(ttlDocs), Pipeline.analyzeCascade)
  }

  test("span-sequence invariant: docsOut preserves (kind,text,media_ref,order) per row") {
    import spark.implicits._
    val docs = DocGen.docs(spark, 15)
    val out = Pipeline.docsOut(docs, DocGen.columns, Pipeline.analyzeCascade)
    val in = docs.toDF().select($"doc_id", $"spans".as("spans_in"))
    val joined = out.join(in, "doc_id")
    assert(joined.filter(not($"spans" <=> $"spans_in")).count() == 0)
    assert(out.filter($"n_triples".isNull || $"n_triples" === 0).count() == 0)
  }

  test("entity linking: broadcast and plain joins produce identical links") {
    import spark.implicits._
    val docs = DocGen.docs(spark, 10)
    val t = Pipeline.triples(Pipeline.parse(docs, DocGen.columns)).toDF().cache()
    val vocab = t.filter($"pred" === "conll:WORD").select($"obj".as("word"))
    val gaz = EntityLinker.gazetteerFromVocab(vocab).cache()
    val a = EntityLinker.linkJoined(t, broadcast(gaz))
    val b = EntityLinker.linkJoined(t, gaz)
    assert(a.count() > 0)
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
    t.unpersist(); gaz.unpersist()
  }

  test("canonicalization rewrites linked entities to component minimum") {
    import spark.implicits._
    val linked = Seq(
      ("d1", 1L, ":s1_1", "conll:ENTITY", "ent:b", true),
      ("d1", 1L, ":s1_2", "conll:ENTITY", "ent:c", true),
      ("d1", 1L, ":s1_3", "conll:ENTITY", "ent:z", true)
    ).toDF("doc_id", "sent", "subj", "pred", "obj", "obj_is_uri")
    val sameAs = Seq(("ent:a", "ent:b"), ("ent:b", "ent:c")).toDF("src", "dst")
    val canon = EntityLinker.canonicalize(spark, linked, sameAs)
    val objs = canon.select($"subj", $"obj").as[(String, String)].collect().toMap
    assert(objs(":s1_1") == "ent:a")
    assert(objs(":s1_2") == "ent:a")
    assert(objs(":s1_3") == "ent:z") // not in any component → unchanged
  }

  test("checkpoint runner resumes: completed buckets are skipped, output identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val docs = DocGen.docs(spark, 12)
    val full = CheckpointRunner.run(spark, docs, DocGen.columns, Pipeline.analyzeCascade, dir, nBuckets = 4)
    val n1 = full.count()
    assert(CheckpointRunner.lineage(spark, dir).count() == 4)
    // simulate partial failure: remove one marker + its output
    val manifest = new java.io.File(s"$dir/_manifest/bucket-2.json")
    assert(manifest.exists()); manifest.delete()
    val resumed = CheckpointRunner.run(spark, docs, DocGen.columns, Pipeline.analyzeCascade, dir, nBuckets = 4)
    assert(resumed.count() == n1)
    val lin = CheckpointRunner.lineage(spark, dir)
    assert(lin.filter($"status" === "done").count() == 4)
  }

  test("checkpoint runner on a file: URI outDir: markers land beside the buckets, resume re-runs one bucket") {
    val real = java.nio.file.Files.createTempDirectory("graft-ckpt-uri").toFile
    val dir = real.toURI.toString // file:/tmp/graft-ckpt-uri.../
    val docs = DocGen.docs(spark, 12)
    def run() = CheckpointRunner.run(spark, docs, DocGen.columns, Pipeline.analyzeCascade, dir, nBuckets = 4)
    val n1 = run().count()
    val markers = (0 until 4).map(b => new java.io.File(real, s"_manifest/bucket-$b.json"))
    assert(markers.forall(_.isFile))
    assert(CheckpointRunner.lineage(spark, dir).count() == 4)
    // a bucket that re-runs rewrites its parquet under new file names
    def parts(b: Int) = new java.io.File(real, s"bucket=$b").list().filter(_.endsWith(".parquet")).toSet
    val before = (0 until 4).map(parts)
    assert(markers(2).delete())
    assert(run().count() == n1)
    assert(markers(2).isFile)
    assert((0 until 4).filter(b => parts(b) != before(b)) == Seq(2))
    assert(CheckpointRunner.lineage(spark, dir).count() == 4)
  }

  test("checkpoint markers hold the written buckets' lineage, empty buckets included") {
    import spark.implicits._
    // 3 docs over 8 buckets leaves some buckets empty; the empty input
    // has no partitions at all. Each marker must agree with a re-read of
    // its bucket's parquet.
    for (docs <- Seq(DocGen.docs(spark, 3), spark.emptyDataset[InputDoc])) {
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-lineage").toString
      val out = CheckpointRunner.run(spark, docs, DocGen.columns, Pipeline.analyzeCascade, dir, nBuckets = 8)
      val lin = CheckpointRunner.lineage(spark, dir)
        .select($"bucket", $"doc_min".cast("string"), $"doc_max".cast("string"), $"rows")
        .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
      val reread = (0 until 8).map { b =>
        val r = spark.read.schema(out.schema).parquet(s"$dir/bucket=$b")
          .agg(min($"doc_id"), max($"doc_id"), count(lit(1))).head()
        (b.toLong, Option(r.getString(0)).getOrElse(""), Option(r.getString(1)).getOrElse(""), r.getLong(2))
      }
      assert(lin == reread)
      assert(lin.map(_._4).sum == out.count())
      assert(lin.exists(_._4 == 0))
    }
  }

  test("checkpoint resume is hash-identical to straight-through on the det corpus") {
    import spark.implicits._
    // Registry-adjacent proof (BASELINE kill-and-resume target): the SAME
    // det corpus + cascade the driver gates as kg_pipeline_analyze, run
    // once straight through and once interrupted-then-resumed; the full
    // sorted triple tables must be equal row-for-row.
    val docs = graft.queries.KgOracle.detDocs(spark, "/root/testdata/sf0.001")
    val cols = graft.queries.KgOracle.detCols
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"sent", $"subj", $"pred", $"obj", $"obj_is_uri")
        .as[(String, Long, String, String, String, Boolean)].collect().sorted
    val dirA = java.nio.file.Files.createTempDirectory("graft-ckpt-straight").toString
    val expected = sortedRows(
      CheckpointRunner.run(spark, docs, cols, Pipeline.analyzeCascade, dirA, nBuckets = 4))
    assert(expected.nonEmpty)

    val dirB = java.nio.file.Files.createTempDirectory("graft-ckpt-resume").toString
    CheckpointRunner.run(spark, docs, cols, Pipeline.analyzeCascade, dirB, nBuckets = 4)
    // crash scenario 1: bucket 1 never completed (output + marker gone)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dirB/bucket=1"))
    new java.io.File(s"$dirB/_manifest/bucket-1.json").delete()
    // crash scenario 2: bucket 3 died between parquet commit and marker
    // write (output present, marker missing) — must safely re-run
    new java.io.File(s"$dirB/_manifest/bucket-3.json").delete()
    val resumed = CheckpointRunner.run(spark, docs, cols, Pipeline.analyzeCascade, dirB, nBuckets = 4)
    assert(sortedRows(resumed).sameElements(expected))
    assert(CheckpointRunner.lineage(spark, dirB).filter($"status" === "done").count() == 4)
  }

  test("checkpoint resume under another bucket count, column list or cascade fails naming both layouts") {
    val docs = DocGen.docs(spark, 40)
    def tmp() = java.nio.file.Files.createTempDirectory("graft-ckpt-layout").toString
    def run(dir: String, n: Int, cols: Seq[String] = DocGen.columns,
            cascade: Seq[(Rules.Script, Int)] = Pipeline.analyzeCascade) =
      CheckpointRunner.run(spark, docs, cols, cascade, dir, nBuckets = n).count()
    // a crashed 4-bucket run resumed with 8 buckets, and the reverse
    for ((first, second) <- Seq(4 -> 8, 8 -> 4)) {
      val dir = tmp()
      run(dir, first)
      assert(new java.io.File(s"$dir/_manifest/bucket-1.json").delete())
      val e = intercept[IllegalStateException](run(dir, second))
      assert(e.getMessage.contains(s""""buckets":$first,""") &&
        e.getMessage.contains(s""""buckets":$second,"""), e.getMessage)
    }
    val dir = tmp()
    val rows = run(dir, 4)
    assert(new java.io.File(s"$dir/_manifest/bucket-2.json").delete())
    val cascade = intercept[IllegalStateException](run(dir, 4, cascade = Pipeline.parseCascade))
    assert(cascade.getMessage.contains("UPOS-to-POSsynt") && cascade.getMessage.contains("initialize-SHIFT"))
    intercept[IllegalStateException](run(dir, 4, cols = DocGen.columns.reverse))
    intercept[IllegalStateException](
      run(dir, 4, cascade = Pipeline.analyzeCascade.map { case (s, n) => (s, n + 1) }))
    // the same layout resumes
    assert(run(dir, 4) == rows)
  }

  test("checkpoint markers are JSON whatever the doc ids hold") {
    import spark.implicits._
    val docs = DocGen.docs(spark, 3).map(d => d.copy(doc_id = "a\"b\\c{" + d.doc_id))
    val ids = docs.map(_.doc_id).collect()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-json").toString
    CheckpointRunner.run(spark, docs, DocGen.columns, Pipeline.analyzeCascade, dir, nBuckets = 1)
    val lin = CheckpointRunner.lineage(spark, dir)
      .select($"doc_min", $"doc_max", $"status").as[(String, String, String)].collect()
    assert(lin.toSeq == Seq((ids.min, ids.max, "done")))
  }
}
