package graft.functions

import org.apache.spark.sql.functions.{col, md5}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** `Hashing.md5hex`'s nibble-table fast path ≡ its slow paths: Spark's
  * `md5(cast(s as binary))` (the hash the oracle-parity queries share with
  * DuckDB) and a fresh `MessageDigest` over the UTF-8 bytes printed with
  * `%02x`. Generated strings mix ASCII, BMP (surrogates excluded) and
  * non-BMP characters (surrogate pairs in UTF-16, 4 bytes in UTF-8), the
  * empty string and strings over 1 KB. */
class HashingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def slowMd5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => "%02x".format(b)).mkString

  private val ascii = Gen.choose(0x20, 0x7e)
  private val bmp = Gen.oneOf(Gen.choose(0xa0, 0xd7ff), Gen.choose(0xe000, 0xfffd))
  private val nonBmp = Gen.choose(0x10000, 0x10ffff)
  private def text(len: Gen[Int]): Gen[String] =
    len.flatMap(n => Gen.listOfN(n, Gen.frequency(4 -> ascii, 2 -> bmp, 2 -> nonBmp)))
      .map(cps => new String(cps.toArray, 0, cps.length))
  private val string = Gen.frequency(
    1 -> Gen.const(""), 6 -> text(Gen.choose(1, 40)), 1 -> text(Gen.choose(1025, 3000)))

  test("md5hex equals Spark's md5 over the UTF-8 bytes and a MessageDigest + %02x reference") {
    import spark.implicits._
    var nonBmpStrings, empty, long = 0
    val prop = Prop.forAll(Gen.listOfN(40, string)) { strings =>
      nonBmpStrings += strings.count(_.codePoints().anyMatch(Character.isSupplementaryCodePoint))
      empty += strings.count(_.isEmpty)
      long += strings.count(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length > 1024)
      val viaSpark = strings.toDF("s").select(md5(col("s").cast("binary"))).as[String].collect().toSeq
      strings.map(Hashing.md5hex) == viaSpark && strings.map(Hashing.md5hex) == strings.map(slowMd5hex)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
    // the generator must reach the cases named above
    assert(nonBmpStrings > 0, "no string with a non-BMP character was generated")
    assert(empty > 0, "no empty string was generated")
    assert(long > 0, "no string over 1 KB was generated")
  }
}
