package graft

import org.scalacheck.Gen

/** Generated document texts for the per-document signature kernels, and a
  * tally of the cases they reached. Tokens are what Spark's
  * `split(text, '\\s+')` makes of a text: whitespace runs mix ' ' with
  * `\t \n \r \f \u000B`, and may lead or trail (an empty first or last
  * token); words may hold NBSP or U+2003, which `\s` does not match, BMP or
  * non-BMP characters. Texts are null (no token row), empty (one empty
  * token) or hold 1–3 or up to 60 words, small even counts favoured so
  * that per-digit SimHash votes tie; some repeat a 3-word phrase. */
object TextGen {
  private val wsChars = Seq(' ', '\t', '\n', '\r', '\f', '\u000B')
  private val controlWs = wsChars.tail

  private val asciiWord = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar)).map(_.mkString)
  private val bmpWord = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, Gen.choose('À', '鿿'))).map(_.mkString)
  private val nonBmpWord = Gen.choose(1, 4)
    .flatMap(n => Gen.listOfN(n, Gen.oneOf(Gen.choose(0x1d400, 0x1d7ff), Gen.choose(0x1f300, 0x1faff))))
    .map(cps => new String(cps.toArray, 0, cps.length))
  // a non-`\s` space inside a word: it must not split the token
  private val spacedWord = for {
    a <- asciiWord; sp <- Gen.oneOf('\u00A0', '\u2003'); b <- asciiWord
  } yield s"$a$sp$b"
  private val word = Gen.frequency(5 -> asciiWord, 2 -> bmpWord, 2 -> nonBmpWord, 1 -> spacedWord)

  private val run: Gen[String] = Gen.frequency(
    4 -> Gen.const(" "),
    3 -> Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, Gen.oneOf(wsChars))).map(_.mkString))

  private def words(n: Int): Gen[String] = for {
    ws <- Gen.listOfN(n, word)
    seps <- Gen.listOfN(math.max(0, n - 1), run)
  } yield ws.zip(seps :+ "").map { case (w, s) => w + s }.mkString

  val text: Gen[String] = Gen.frequency(
    1 -> Gen.const(null: String),
    1 -> Gen.const(""),
    1 -> run,
    // a 3-word phrase said 2 or 3 times: a 3-gram repeats in the text
    1 -> (for { p <- words(3); sep <- run; k <- Gen.choose(2, 3) } yield Seq.fill(k)(p).mkString(sep)),
    6 -> (for {
      n <- Gen.frequency(3 -> Gen.choose(1, 3), 3 -> Gen.oneOf(2, 4, 6), 2 -> Gen.choose(4, 60))
      body <- words(n)
      lead <- Gen.frequency(3 -> Gen.const(""), 1 -> run)
      trail <- Gen.frequency(3 -> Gen.const(""), 1 -> run)
    } yield lead + body + trail))

  /** Spark's token count: `size(split(text, '\\s+'))`, 0 for a null text
    * (no token row). */
  def tokenCount(t: String): Int = if (t == null) 0 else t.split("\\s+", -1).length

  /** How many generated texts reached each case. */
  final class Cases {
    private val n = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)

    def see(texts: Seq[String]): Unit = texts.foreach { t =>
      def hit(c: String, p: Boolean): Unit = if (p) n(c) += 1
      val k = tokenCount(t)
      hit("null text", t == null)
      hit("empty text", t == "")
      if (t != null && t.nonEmpty) {
        hit("leading whitespace", wsChars.contains(t.head))
        hit("trailing whitespace", wsChars.contains(t.last))
        hit("a run of two different whitespace characters",
          t.sliding(2).exists(p => p.length == 2 && p.forall(wsChars.contains(_)) && p(0) != p(1)))
        controlWs.foreach(c => hit(f"whitespace U+${c.toInt}%04X", t.contains(c)))
        hit("NBSP", t.contains('\u00A0'))
        hit("U+2003", t.contains('\u2003'))
        hit("a non-BMP character", t.codePoints().anyMatch(Character.isSupplementaryCodePoint))
      }
      (0 to 3).foreach(i => hit(s"$i tokens", k == i))
      hit("an even token count ≥ 4", k >= 4 && k % 2 == 0)
      hit("more than 3 tokens with a repeated 3-gram",
        k > 3 && { val ts = t.split("\\s+", -1); ts.sliding(3).map(_.toSeq).toSeq.distinct.size < k - 2 })
    }

    /** The cases no generated text reached. */
    def missing: Seq[String] =
      (Seq("null text", "empty text", "leading whitespace", "trailing whitespace",
        "a run of two different whitespace characters", "NBSP", "U+2003", "a non-BMP character",
        "an even token count ≥ 4", "more than 3 tokens with a repeated 3-gram") ++
        controlWs.map(c => f"whitespace U+${c.toInt}%04X") ++ (0 to 3).map(i => s"$i tokens"))
        .filter(n(_) == 0)
  }
}
