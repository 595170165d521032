package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.DedupQueries

/** q23/q37's integer simhash fast path ≡ the string path it replaced, on
  * generated token lists. The reference is the '0'/'1' string formulation
  * the registry's oracle SQL still spells out: one `substring(h, i+1, 1)
  * IN ('8'..'f')` vote sum per hex digit, a `concat` of majority bits, band
  * buckets as `substring(sig, 4b+1, 4)` and Hamming as a per-character
  * compare. Generated docs mix ASCII, BMP and non-BMP words and the empty
  * word, include one-token and empty docs (no token rows), and favour
  * small even token counts so per-digit ties (2·s_i == n, bit clear) occur. */
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

  private val asciiWord = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar)).map(_.mkString)
  private val bmpWord = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, Gen.choose('À', '鿿'))).map(_.mkString)
  private val nonBmpWord = Gen.choose(1, 4)
    .flatMap(n => Gen.listOfN(n, Gen.oneOf(Gen.choose(0x1d400, 0x1d7ff), Gen.choose(0x1f300, 0x1faff))))
    .map(cps => new String(cps.toArray, 0, cps.length))
  private val word = Gen.frequency(6 -> asciiWord, 2 -> bmpWord, 2 -> nonBmpWord, 1 -> Gen.const(""))
  private val doc = Gen.frequency(
    1 -> Gen.const(0), 2 -> Gen.const(1), 3 -> Gen.oneOf(2, 4, 6), 2 -> Gen.choose(3, 60))
    .flatMap(n => Gen.listOfN(n, word))
  private val corpus = Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, doc))

  test("integer simhash signature, band buckets and popcount Hamming equal the string path") {
    import spark.implicits._
    var ties = 0L
    var nonBmpDocs = 0
    var pairs = 0L
    val prop = Prop.forAll(corpus) { docs =>
      val tokens = docs.zipWithIndex
        .flatMap { case (ws, d) => ws.map(w => (f"d$d%03d", w)) }
        .toDF("doc_id", "word")
      nonBmpDocs += docs.count(_.exists(_.codePoints().anyMatch(Character.isSupplementaryCodePoint)))

      val ref16 = stringSig(tokens, 16)
      ties += ref16.select((0 until 16).map(i => when(col(s"s$i") * 2 === col("n"), 1L).otherwise(0L))
        .reduce(_ + _)).as[Long].collect().sum

      // signature bits: the Int printed MSB-first is the string signature
      // (16 bits for q37, and q23's 8-bit lpad(bin) column)
      val sigs = DedupQueries.simhashSig(tokens, 16)
      val sig8 = DedupQueries.simhashSig(tokens, 8)
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
    assert(nonBmpDocs > 0, "no document with a non-BMP word was generated")
    assert(pairs > 0, "no signature pairs were compared")
  }
}
