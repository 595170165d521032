package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Signatures
import graft.tools.Probe

/** The near-dup entries' per-document kernels and what they rely on:
  * `Signatures.shingleSet` ≡ the Spark expression it replaced on generated
  * texts; q22 and q43 evaluate the MinHash kernel once per document; and
  * `documents.doc_id` is unique in every fixture table, the invariant that
  * lets the signatures be computed per row instead of grouped by doc_id. */
class SignatureKernelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val testdata = "/root/testdata"

  test("shingleSet equals array_distinct(transform(sequence…)) over split(text, '\\\\s+')") {
    import spark.implicits._
    val cases = new TextGen.Cases
    val prop = Prop.forAll(Gen.listOfN(40, TextGen.text)) { texts =>
      cases.see(texts)
      val ref = texts.toDF("text")
        .withColumn("ws", split($"text", "\\s+"))
        .select(when(size($"ws") >= 3, array_distinct(expr(
          "transform(sequence(0, size(ws)-3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"))))
        .as[Seq[String]].collect().toSeq
      texts.zip(ref).forall { case (t, r) =>
        val got = Signatures.shingleSet(t)
        if (t == null) got == null
        else if (r == null) got.isEmpty // < 3 tokens: no shingle
        else got.toSeq == r
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
    assert(cases.missing.isEmpty, s"no generated text had: ${cases.missing.mkString(", ")}")
  }

  /** The plan nodes of df's executed plan that evaluate the MinHash kernel
    * (the one UDF over the shingle set `shset`), each with whether it sits
    * in a cached relation. A cached relation is walked once, however many
    * scans read it: its rows are computed once. */
  private def minhashNodes(df: DataFrame): Seq[(String, Boolean)] = {
    df.queryExecution.toRdd.count()
    val caches = scala.collection.mutable.Set[AnyRef]()
    def minhash(p: SparkPlan): Boolean = p.expressions.exists(_.exists {
      case u: ScalaUDF => u.children.exists(_.references.exists(_.name == "shset"))
      case _ => false
    })
    def walk(p: SparkPlan, inCache: Boolean): Seq[(String, Boolean)] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan -> inCache)
        case q: QueryStageExec => Seq(q.plan -> inCache)
        case t: InMemoryTableScanExec if caches.add(t.relation.cacheBuilder) =>
          Seq(t.relation.cachedPlan -> true)
        case _ => Nil
      }
      (if (minhash(p)) Seq(p.nodeName -> inCache) else Nil) ++
        (inner ++ p.children.map(_ -> inCache)).flatMap { case (c, cached) => walk(c, cached) }
    }
    walk(df.queryExecution.executedPlan, inCache = false)
  }

  for (name <- Seq("q22_lsh_jaccard", "q43_lsh_r2"))
    test(s"$name computes the MinHash kernel once per document, in the persisted shingle-set table") {
      val nodes = minhashNodes(SparkEntry.queries(name)(spark, s"$testdata/sf0.01"))
      Probe.reset(spark)
      // the band self-join's two sides must read the minhashes, not each
      // project them again over the cached shingle sets
      assert(nodes == Seq("Project" -> true), s"$name evaluates the MinHash kernel at $nodes")
    }

  test("documents.doc_id is unique in the testdata fixtures and in Probe's gen: corpora") {
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$testdata/$sf")
      .filter(d => new java.io.File(s"$d/documents.parquet").exists()) ++
      Seq(Probe.tableDir(spark, "gen:2000"))
    assert(dirs.exists(_.endsWith("sf0.01")), "the sf0.01 fixture is missing")
    dirs.foreach { d =>
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val dups = docs.groupBy(col("doc_id")).count().filter(col("count") > 1)
      assert(docs.count() > 0, s"$d has no documents")
      assert(dups.isEmpty, s"$d repeats doc_id ${dups.limit(5).collect().map(_.get(0)).mkString(", ")}")
    }
  }
}
