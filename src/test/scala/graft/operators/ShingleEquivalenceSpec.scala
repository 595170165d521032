package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.TestSpark

/** Round-6 rewrite guard: the narrow per-doc array formulation of the
  * shingle/minhash pipeline (DedupQueries.shingleSets / minhashes, one
  * `Hashing.minMd5Hex` call per document) must be
  * observationally identical to the exploded window-lead formulation it
  * replaced. The comparison runs through the PUBLIC entries (q21
  * signatures, q22 verified pairs) against references computed here with
  * the old shapes, over an adversarial corpus: empty text, <3 tokens,
  * exactly 3, repeated shingles, duplicated docs, multi-whitespace runs
  * (tabs/newlines), and unicode.
  */
class ShingleEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Adversarial documents written as a documents.parquet the entries
    * can read (schema superset: only doc_id/text/source matter here). */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("shingle-eq").toString
    val det = (1 to 40).map { i =>
      // deterministic pseudo-random word soup with planted near-dups:
      // docs 2k and 2k+1 share a long prefix
      val base = (0 until 30).map(j => s"w${(i / 2 * 7 + j * 3) % 23}")
      val tail = (0 until 4).map(j => s"t$i$j")
      (f"d$i%03d", (base ++ tail).mkString(" "), s"s${i % 5}")
    }
    val edge = Seq(
      ("e01", "", "s0"),                       // empty text
      ("e02", "one", "s0"),                    // 1 token
      ("e03", "one two", "s0"),                // 2 tokens
      ("e04", "one two three", "s0"),          // exactly 1 shingle
      ("e05", "a a a a a a", "s1"),            // one repeated shingle
      ("e06", "  lead  and\ttab\nnewline end ", "s1"), // \s+ runs
      ("e07", "héllo wörld ünïcode déjà vu encore", "s2"),
      ("e08", "one two three", "s2"))          // exact dup of e04
    (det ++ edge).toDF("doc_id", "text", "source")
      .repartition(3)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  /** The r5 exploded window-lead shingle multiset. */
  private def explodedShingles = {
    val w = Window.partitionBy($"doc_id").orderBy($"tok")
    spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", posexplode(split($"text", "\\s+")).as(Seq("pos", "word")))
      .select($"doc_id", ($"pos" + 1).as("tok"), $"word")
      .withColumn("w2", lead($"word", 1).over(w))
      .withColumn("w3", lead($"word", 2).over(w))
      .filter($"w3".isNotNull)
      .select($"doc_id", concat_ws(" ", $"word", $"w2", $"w3").as("shingle"))
  }

  test("q21 minhash signatures equal the exploded grouped-MIN reference") {
    val aggs = (0 until 8).map(j =>
      min(md5(concat(lit(s"$j|"), col("shingle")).cast("binary"))).as(s"mh$j"))
    val ref = explodedShingles.groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)
      .orderBy($"doc_id").collect().toSeq
    val got = graft.SparkEntry.queries("q21_minhash_sigs")(spark, dir)
      .collect().toSeq
    assert(got == ref)
    // the <3-token docs must be absent, the ≥3 present
    val ids = got.map(_.getString(0))
    assert(!ids.exists(Set("e01", "e02", "e03")))
    assert(Set("e04", "e05", "e06", "e07", "e08").subsetOf(ids.toSet))
  }

  test("q22 pair intersections equal a brute-force shingle-set reference") {
    val sets: Map[String, Set[String]] = explodedShingles.collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getString(1)).toSet }
    val got = graft.SparkEntry.queries("q22_lsh_jaccard")(spark, dir).collect()
    assert(got.nonEmpty) // planted near-dups must surface
    got.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val inter = sets(a).intersect(sets(b)).size.toLong
      val jac = BigDecimal(inter.toDouble / (sets(a).size + sets(b).size - inter))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getLong(2) == inter, s"inter mismatch for ($a,$b)")
      assert(math.abs(r.getDouble(3) - jac) < 1e-9, s"jaccard mismatch for ($a,$b)")
    }
    // the exact-dup pair must be found with jaccard 1.0
    assert(got.exists(r => r.getString(0) == "e04" && r.getString(1) == "e08" &&
      r.getDouble(3) == 1.0))
  }
}
