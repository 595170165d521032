package graft.functions

/** Shared deterministic hashing helpers (md5 hex matches Spark's `md5`
  * over UTF-8 bytes and DuckDB's `md5` bit-for-bit — the only hash the
  * two engines share, see the oracle-parity notes in README). The MinHash
  * kernel is here; the SimHash kernel, [[Signatures.simhashSig]], digests
  * with this object's per-thread `MessageDigest`. */
object Hashing {

  // r9 (guide §1.2 step 2 — per-task work): md5hex is called per TOKEN
  // by the det-corpus synthesis every kg_* entry runs, and the old body
  // paid a java.util.Formatter construction + format-string parse PER
  // BYTE (f"%02x" — ~20% of the cascade's execution samples) plus a
  // MessageDigest provider lookup and a charset-name lookup per call.
  // Now: nibble lookup table, thread-local digest (reset per call),
  // constant Charset. Output is byte-identical.
  private val hexChars = "0123456789abcdef".toCharArray
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** This thread's MD5 digest; the caller resets it before use. */
  private[functions] def digest(): java.security.MessageDigest = digests.get()

  def md5hex(v: String): String = {
    val md = digests.get()
    md.reset()
    hex(md.digest(v.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  private def hex(d: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(i * 2) = hexChars((d(i) & 0xf0) >> 4)
      out(i * 2 + 1) = hexChars(d(i) & 0x0f)
      i += 1
    }
    new String(out)
  }

  /** The UTF-8 bytes of MinHash j's salt `"j|"`. */
  private def salt(j: Int): Array[Byte] = s"$j|".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Salts 0..63, built once: every registry entry asks for at most 8. */
  private val saltTable: Array[Array[Byte]] = Array.tabulate(64)(salt)

  /** The `n` MinHash values of a shingle set: element j is the least
    * `md5hex(s"$j|$x")` over the set's non-null elements `x`, i.e. Spark's
    * `array_min(transform(xs, x -> md5(cast('j|' || x AS binary))))`. One
    * pass: each element is UTF-8-encoded once, each salted digest is kept
    * raw and compared unsigned (the salts' bytes are built once, not per
    * call, for n ≤ 64), and only the `n` winners are hex-encoded
    * (fixed-width lowercase hex orders as the unsigned bytes do). As with
    * `array_min`, an empty or null set gives nulls. */
  def minMd5Hex(xs: Seq[String], n: Int): Array[String] = {
    val md = digests.get()
    val salts = if (n <= saltTable.length) saltTable else Array.tabulate(n)(salt)
    val best = new Array[Array[Byte]](n)
    if (xs != null) xs.foreach { x =>
      if (x != null) {
        val bytes = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var j = 0
        while (j < n) {
          md.reset()
          md.update(salts(j))
          val d = md.digest(bytes)
          if (best(j) == null || java.util.Arrays.compareUnsigned(d, best(j)) < 0) best(j) = d
          j += 1
        }
      }
    }
    best.map(d => if (d == null) null else hex(d))
  }
}
