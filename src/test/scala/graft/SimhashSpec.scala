package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.DedupQueries

/** q23/q37's integer simhash fast path ≡ the string path it replaced, on
  * generated texts. The fast path is one `Signatures.simhashSig` call per
  * document. The reference explodes the text into its
  * `posexplode(split(text, '\\s+'))` token rows and spells out the '0'/'1'
  * string formulation the registry's oracle SQL still uses: one
  * `substring(h, i+1, 1) IN ('8'..'f')` vote sum per hex digit grouped by
  * document, a `concat` of majority bits, band buckets as
  * `substring(sig, 4b+1, 4)` and Hamming as a per-character compare. The
  * texts (`TextGen`) mix ASCII, BMP and non-BMP words, put NBSP and U+2003
  * inside words, lead, trail and mix `\t \n \r \f \u000B` runs (empty
  * tokens), and include null and empty texts, docs of 0–3 tokens and small
  * even token counts, so per-digit ties (2·s_i == n, bit clear) occur. */
class SimhashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val hi = Seq("8", "9", "a", "b", "c", "d", "e", "f")

  /** The string signature the integer path replaced, plus the per-digit
    * vote sums and token count (for counting ties). */
  private def stringSig(tokens: DataFrame, nBits: Int): DataFrame = {
    val h = md5(tokens("word").cast("binary"))
    val sums = (0 until nBits).map(i =>
      sum(when(substring(h, i + 1, 1).isin(hi: _*), 1L).otherwise(0L)).as(s"s$i"))
    val bits = (0 until nBits).map(i =>
      when(col(s"s$i") * 2 > col("n"), "1").otherwise("0"))
    tokens.groupBy(tokens("doc_id"))
      .agg(sums.head, (sums.tail :+ count(lit(1)).as("n")): _*)
      .withColumn("ssig", concat(bits: _*))
  }

  private val corpus = Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, TextGen.text))

  test("integer simhash signature, band buckets and popcount Hamming equal the string path") {
    import spark.implicits._
    var ties = 0L
    var pairs = 0L
    val cases = new TextGen.Cases
    val prop = Prop.forAll(corpus) { texts =>
      cases.see(texts)
      val docs = texts.zipWithIndex.map { case (t, d) => (f"d$d%03d", t) }.toDF("doc_id", "text")
      val tokens = docs.select($"doc_id", posexplode(split($"text", "\\s+")).as(Seq("pos", "word")))

      val ref16 = stringSig(tokens, 16)
      ties += ref16.select((0 until 16).map(i => when(col(s"s$i") * 2 === col("n"), 1L).otherwise(0L))
        .reduce(_ + _)).as[Long].collect().sum

      // signature bits: the Int printed MSB-first is the string signature
      // (16 bits for q37, and q23's 8-bit lpad(bin) column)
      val sigs = DedupQueries.simhashSig(docs, 16)
      val sig8 = DedupQueries.simhashSig(docs, 8)
        .select($"doc_id", lpad(bin($"sig"), 8, "0").as("fsig"))
      val bitsOk = sigs.join(ref16, Seq("doc_id"), "full_outer")
        .filter($"sig".isNull || $"ssig".isNull || lpad(bin($"sig"), 16, "0") =!= $"ssig")
        .isEmpty &&
        sig8.join(stringSig(tokens, 8), Seq("doc_id"), "full_outer")
          .filter($"fsig".isNull || $"ssig".isNull || $"fsig" =!= $"ssig").isEmpty

      // band buckets: bucket b is the string's 4-character group b
      val both = sigs.join(ref16.select($"doc_id", $"ssig"), "doc_id")
      val bandsOk = (0 until 4).forall(b =>
        both.filter(lpad(bin(DedupQueries.simhashBand($"sig", b)), 4, "0") =!=
          substring($"ssig", 4 * b + 1, 4)).isEmpty)

      // Hamming over every ordered pair, self-pairs included
      val l = both.select($"doc_id".as("a"), $"sig".as("sa"), $"ssig".as("ta"))
      val r = both.select($"doc_id".as("b"), $"sig".as("sb"), $"ssig".as("tb"))
      val strHam = (0 until 16).map(i =>
        when(substring($"ta", i + 1, 1) =!= substring($"tb", i + 1, 1), 1L).otherwise(0L))
        .reduce(_ + _)
      val pr = l.crossJoin(r)
        .select((DedupQueries.simhashHamming($"sa", $"sb") === strHam).as("eq"))
        .as[Boolean].collect()
      pairs += pr.length
      bitsOk && bandsOk && pr.forall(identity)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
    // the generators must actually reach the edge cases named above
    assert(ties > 0, "no 2·s_i == n tie was generated")
    assert(cases.missing.isEmpty, s"no generated text had: ${cases.missing.mkString(", ")}")
    assert(pairs > 0, "no signature pairs were compared")
  }
}
