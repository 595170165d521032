package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Main`'s flag parsing, which starts no session, and its run on
  * the suite's session. */
class MainSpec extends AnyFunSuite {
  test("flags: defaults, and each flag read from its --name value pair") {
    assert(Main.parse(Array()) == Main.Opts("gen:10000", "/tmp/graft-out", "analyze", 64, None))
    assert(Main.parse(Array("--cascade", "link", "--buckets", "8", "--input", "in",
      "--output", "out")) == Main.Opts("in", "out", "link", 8, None))
    assert(Main.parse(Array("--output", "out", "--config", "c.json")) ==
      Main.Opts("gen:10000", "out", "analyze", 64, Some("c.json")))
  }

  test("flags: --input, --cascade or --buckets beside --config fails naming the flag") {
    for ((f, v) <- Seq("--input" -> "in", "--cascade" -> "link", "--buckets" -> "8")) {
      val e = intercept[IllegalArgumentException](Main.parse(Array("--config", "c.json", f, v)))
      assert(e.getMessage.contains(f) && e.getMessage.contains("--config"), f)
    }
  }

  test("flags: a gen: input without a non-negative document count fails naming --input") {
    for (in <- Seq("gen:x", "gen:", "gen:-1", "gen:1.5")) {
      val e = intercept[IllegalArgumentException](Main.parse(Array("--input", in)))
      assert(e.getMessage.contains("--input") && e.getMessage.contains(s"'$in'"), in)
    }
    assert(Main.parse(Array("--input", "gen:0")).input == "gen:0")
  }

  test("flags: an unknown --cascade fails naming the flag and the cascades") {
    val e = intercept[IllegalArgumentException](Main.parse(Array("--cascade", "analyse")))
    assert(e.getMessage.contains("--cascade"))
    assert(e.getMessage.contains("analyze|parse|link"))
    assert(e.getMessage.contains("'analyse'"))
  }

  test("flags: a non-integer or non-positive --buckets fails naming the flag") {
    for (b <- Seq("x", "0", "-3", "2.5", "")) {
      val e = intercept[IllegalArgumentException](Main.parse(Array("--buckets", b)))
      assert(e.getMessage.contains("--buckets"), b)
    }
  }

  test("flags: an unknown flag or a flag without a value fails naming it") {
    assert(intercept[IllegalArgumentException](Main.parse(Array("--bucket", "8")))
      .getMessage.contains("'--bucket 8'"))
    assert(intercept[IllegalArgumentException](Main.parse(Array("--cascade", "link", "--input")))
      .getMessage.contains("'--input'"))
  }

  test("run: a bucketed run over parquet drops a document that is not valid UTF-8") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft-main-utf8")
    val (in, out) = (base.resolve("in").toString, base.resolve("out").toString)
    val docs = graft.conll.DocGen.docs(spark, 4).toDF()
    val ids = docs.select($"doc_id").as[String].collect().sorted
    // the bytes of a lone surrogate (U+D800) in every span of one doc:
    // parquet keeps them, and reading decodes them to U+FFFD
    docs.withColumn("spans", when($"doc_id" === ids.head, expr(
      "transform(spans, s -> named_struct('kind', s.kind, " +
        "'text', concat(s.text, cast(unhex('EDA080') AS STRING)), " +
        "'media_ref', s.media_ref, 'offset', s.offset))")).otherwise($"spans"))
      .write.parquet(in)
    Main.run(spark, Main.Opts(in, out, "analyze", 2, None))
    val written = spark.read.parquet(s"$out/bucket=0", s"$out/bucket=1")
      .select($"doc_id").distinct().as[String].collect().sorted
    assert(written.toSeq == ids.tail.toSeq)
  }
}
