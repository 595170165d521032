package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Fixpoint.checkpointCounting]] and [[Fixpoint.checkpointCounts]],
  * the one counted round of the graph fixpoints: each reading must be
  * the filter count of its predicate (no retries happen here, so
  * at-least-once is exact), and the checkpointed frame must be the input
  * frame, column types included. */
class FixpointSpec extends AnyFunSuite {
  private val spark = graft.TestSpark.spark
  import spark.implicits._

  // BMP, non-BMP (U+1F600, U+10400) and the replacement character
  private val words = Vector("a", "b", "�", "😀", "x𐐀y", "")

  private def frame(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    // every word once, then a random tail
    (words.indices.map(i => (i.toLong, words(i))) ++ Seq.fill(rnd.nextInt(300))(
      (rnd.nextInt(50).toLong - 25L, words(rnd.nextInt(words.size)))))
      .toDF("k", "s")
      .repartition(1 + rnd.nextInt(4))
  }

  test("reading == filter count on generated frames, none-true and all-true included") {
    for (seed <- 1 to 6) {
      val df = frame(seed)
      val preds = Seq(
        "k > 0" -> ($"k" > 0),
        "non-BMP s" -> ($"s" === "😀" || $"s".contains("𐐀")),
        "none" -> lit(false),
        "none (data)" -> ($"k" > 1000),
        "all" -> lit(true), // a constant-folded UDF would read 0 (or 1) here
        "all (data)" -> $"s".isNotNull)
      for ((name, p) <- preds) {
        val (out, n) = Fixpoint.checkpointCounting(df, p, s"fixpoint_spec_$seed")
        assert(n == df.filter(p).count(), s"$name at seed $seed")
        assert(out.count() == df.count(), s"$name at seed $seed")
      }
      // every predicate at once: one reading each, from one checkpoint job
      val (out, ns) = Fixpoint.checkpointCounts(df, preds.map(_._2), s"fixpoint_spec_all_$seed")
      assert(ns == preds.map(p => df.filter(p._2).count()), s"all at seed $seed")
      assert(out.schema == df.schema, s"all at seed $seed")
    }
  }

  test("a null predicate counts as false, as in filter") {
    val df = Seq[(Option[Long], String)]((Some(1L), "a"), (None, "b"), (Some(3L), "c")).toDF("k", "s")
    val (_, n) = Fixpoint.checkpointCounting(df, $"k" > 0, "fixpoint_spec_null")
    assert(n == 2)
  }

  test("the checkpointed frame keeps every column's type and value, non-BMP strings included") {
    val df = frame(7)
    val (out, _) = Fixpoint.checkpointCounting(df, $"k" =!= 0, "fixpoint_spec_types")
    assert(out.schema == df.schema)
    assert(out.schema.map(_.dataType.typeName) == Seq("long", "string"))
    assert(out.as[(Long, String)].collect().sorted.toSeq == df.as[(Long, String)].collect().sorted.toSeq)
    assert(out.as[(Long, String)].collect().exists(_._2 == "😀"))
  }
}
