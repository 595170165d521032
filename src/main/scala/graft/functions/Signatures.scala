package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

/** Per-document near-dup signature kernels, each called once per row.
  *
  * Tokens are exactly Spark's `split(text, '\\s+')` (limit -1, as
  * `StringSplit` passes it): the text is cut at every maximal run of
  * java.util.regex's default `\s`, `[ \t\n\u000B\f\r]`, and every piece is
  * kept, so leading or trailing whitespace gives an empty first or last
  * token and "" is one empty token. NBSP, U+2003 and the other Unicode
  * spaces are not `\s` and stay inside tokens. These are the token rows of
  * `TextQueries.tokens`, which the oracle's `string_split_regex` matches. */
object Signatures {

  /** `\s` without UNICODE_CHARACTER_CLASS: ' ' and U+0009..U+000D. */
  private def isWs(c: Int): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** The distinct word 3-gram shingles of `text`, each three consecutive
    * tokens joined by one ' ', in first-occurrence order: Spark's
    * `array_distinct(transform(sequence(0, size(ws)-3), i -> concat_ws(' ',
    * ws[i], ws[i+1], ws[i+2])))` over `ws = split(text, '\\s+')` for a text
    * of ≥ 3 tokens. Fewer than 3 tokens give an empty array, a null text
    * null. */
  def shingleSet(text: String): Array[String] = {
    if (text == null) return null
    // token k is text[bounds(2k), bounds(2k+1))
    var bounds = new Array[Int](16)
    var nb = 0
    def add(start: Int, end: Int): Unit = {
      if (nb + 2 > bounds.length) bounds = java.util.Arrays.copyOf(bounds, bounds.length * 2)
      bounds(nb) = start; bounds(nb + 1) = end; nb += 2
    }
    val n = text.length
    var start, i = 0
    while (i < n) {
      if (isWs(text.charAt(i))) {
        add(start, i)
        while (i < n && isWs(text.charAt(i))) i += 1
        start = i
      } else i += 1
    }
    add(start, n)
    val nTokens = nb / 2
    if (nTokens < 3) return new Array[String](0)
    val seen = new java.util.HashSet[String](2 * nTokens)
    val out = new java.util.ArrayList[String](nTokens - 2)
    val sb = new java.lang.StringBuilder(32)
    var k = 0
    while (k + 3 <= nTokens) {
      sb.setLength(0)
      sb.append(text, bounds(2 * k), bounds(2 * k + 1)).append(' ')
        .append(text, bounds(2 * k + 2), bounds(2 * k + 3)).append(' ')
        .append(text, bounds(2 * k + 4), bounds(2 * k + 5))
      val sh = sb.toString
      if (seen.add(sh)) out.add(sh)
      k += 1
    }
    out.toArray(new Array[String](0))
  }

  /** The `nBits`-bit SimHash of a non-null `text` (1 ≤ `nBits` ≤ 16): bit
    * `nBits-1-i` is set when hex digit i of the token's md5 is ≥ '8' on a
    * strict majority of the text's tokens, so the value printed MSB-first
    * is the oracle's '0'/'1' string. A digit is ≥ '8' exactly when its
    * nibble's top bit is set. The text is UTF-8-encoded once; since `\s`
    * is ASCII, each token's bytes are a slice of that encoding, and each
    * slice is digested into one reused buffer. */
  def simhashSig(text: String, nBits: Int): Int = {
    require(nBits >= 1 && nBits <= 16, s"simhash bits must be in 1..16, got $nBits")
    val bytes = text.getBytes(UTF_8)
    val md = Hashing.digest()
    md.reset()
    val d = new Array[Byte](16)
    val votes = new Array[Int](nBits)
    var nTokens = 0
    def vote(start: Int, end: Int): Unit = {
      md.update(bytes, start, end - start)
      md.digest(d, 0, 16)
      var i = 0
      while (i < nBits) {
        if ((d(i >> 1) & (if ((i & 1) == 0) 0x80 else 0x08)) != 0) votes(i) += 1
        i += 1
      }
      nTokens += 1
    }
    val n = bytes.length
    var start, i = 0
    while (i < n) {
      if (isWs(bytes(i))) {
        vote(start, i)
        while (i < n && isWs(bytes(i))) i += 1
        start = i
      } else i += 1
    }
    vote(start, n)
    var sig = 0
    var b = 0
    while (b < nBits) {
      if (votes(b) * 2 > nTokens) sig |= 1 << (nBits - 1 - b)
      b += 1
    }
    sig
  }
}
