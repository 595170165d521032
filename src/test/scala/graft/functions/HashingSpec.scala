package graft.functions

import org.apache.spark.sql.functions.{array, col, expr, md5}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** `Hashing.md5hex`'s nibble-table fast path ≡ its slow paths: Spark's
  * `md5(cast(s as binary))` (the hash the oracle-parity queries share with
  * DuckDB) and a fresh `MessageDigest` over the UTF-8 bytes printed with
  * `%02x`. Generated strings mix ASCII, BMP (surrogates excluded) and
  * non-BMP characters (surrogate pairs in UTF-16, 4 bytes in UTF-8), the
  * empty string and strings over 1 KB. `Hashing.minMd5Hex`, the MinHash
  * kernel, ≡ its per-salt slow paths over generated shingle sets, at
  * n = 1 and 8 and past its 64 prebuilt salts. */
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

  test("minMd5Hex equals the per-salt min of md5hex and Spark's array_min(transform(md5)) expression") {
    import spark.implicits._
    val element = Gen.frequency(12 -> string, 1 -> Gen.const(null: String))
    val set: Gen[Seq[String]] = Gen.frequency(
      1 -> Gen.const(null: Seq[String]),
      12 -> Gen.choose(0, 10).flatMap(k => Gen.listOfN(k, element))
        .flatMap(xs => Gen.oneOf(xs, xs ++ xs.take(2))))
    def slow(xs: Seq[String], n: Int): Seq[String] = (0 until n).map { j =>
      val hs = Option(xs).getOrElse(Nil).filter(_ != null).map(x => Hashing.md5hex(s"$j|$x"))
      if (hs.isEmpty) null else hs.min
    }
    def viaSpark(sets: Seq[Seq[String]], n: Int): Seq[Seq[String]] =
      sets.toDF("xs").select(array((0 until n).map(j =>
        expr(s"array_min(transform(xs, x -> md5(cast('$j|' || x AS binary))))")): _*))
        .as[Seq[String]].collect().toSeq
    var nullSets, emptySets, dupSets, nullElems, nonBmpSets, longSets = 0
    val prop = Prop.forAll(Gen.listOfN(30, set)) { sets =>
      val present = sets.filter(_ != null)
      nullSets += sets.count(_ == null)
      emptySets += present.count(_.isEmpty)
      dupSets += present.count(xs => xs.distinct.size < xs.size)
      nullElems += present.count(_.contains(null))
      nonBmpSets += present.count(_.exists(x =>
        x != null && x.codePoints().anyMatch(Character.isSupplementaryCodePoint)))
      longSets += present.count(_.exists(x =>
        x != null && x.getBytes(java.nio.charset.StandardCharsets.UTF_8).length > 1024))
      Seq(1, 8).forall { n =>
        val fast = sets.map(xs => Hashing.minMd5Hex(xs, n).toSeq)
        fast == sets.map(slow(_, n)) && fast == viaSpark(sets, n)
      } &&
        // past the 64 prebuilt salts
        sets.map(xs => Hashing.minMd5Hex(xs, 65).toSeq) == sets.map(slow(_, 65))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
    // the generator must reach the cases named above
    assert(nullSets > 0, "no null set was generated")
    assert(emptySets > 0, "no empty set was generated")
    assert(dupSets > 0, "no set with a duplicate element was generated")
    assert(nullElems > 0, "no set with a null element was generated")
    assert(nonBmpSets > 0, "no set with a non-BMP string was generated")
    assert(longSets > 0, "no set with a string over 1 KB was generated")
  }
}
