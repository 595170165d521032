package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Tables

/** The measured-size routing policy: widths follow data, never the
  * session's core count; an unmeasurable input keeps the session width
  * instead of collapsing to 1; the one conf key fails loudly when
  * malformed. The sized chains' RESULTS are width-invariant (the oracle
  * gate covers that); this spec pins the routing itself. */
class SizingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  test("width formula: floor 1, an exact 2-way split, cap at 4x parallelism") {
    assert(Sizing.width(0L, 64L, 4) == 1)
    assert(Sizing.width(1L, 64L, 4) == 1)
    assert(Sizing.width(64L, 64L, 4) == 1)
    assert(Sizing.width(128L, 64L, 4) == 2)
    assert(Sizing.width(129L, 64L, 4) == 3)
    // the 100 TB regime: the cap binds, data-derived rather than core-count-derived
    assert(Sizing.width(100L << 40, Sizing.TargetPartitionBytes, 4) == 16)
    assert(Sizing.width(100L << 40, Sizing.TargetPartitionBytes, 32) == 128)
  }

  test("default 64 MB target: small local tables get width 1") {
    assert(Tables.byteWidth(spark, dir, "documents") == 1)
    assert(Tables.byteWidth(spark, dir, "embeddings") == 1)
  }

  test("bytes: a file: URI measures the same as the bare path") {
    val p = s"$dir/documents.parquet"
    val b = Sizing.bytes(spark, p)
    assert(b > 0)
    assert(Sizing.bytes(spark, "file:" + p) == b)
    assert(Sizing.byteWidth(spark, "file:" + p) == Sizing.byteWidth(spark, p))
  }

  test("missing path or empty directory: byteWidth 0 (callers keep the session width)") {
    val empty = java.nio.file.Files.createTempDirectory("graft-sizing-empty").toString
    assert(Sizing.bytes(spark, empty) == 0L)
    assert(Sizing.byteWidth(spark, empty) == 0)
    assert(Sizing.byteWidth(spark, s"$empty/missing.parquet") == 0)
    assert(Tables.byteWidth(spark, empty, "documents") == 0)
  }

  test("spark.graft.cc.localMaxEdges: default, 0 disables, a malformed value fails naming the key") {
    val key = Sizing.LocalMaxEdgesKey
    spark.conf.unset(key)
    assert(Sizing.localMaxEdges(spark) == 500000L)
    try {
      spark.conf.set(key, "0")
      assert(Sizing.localMaxEdges(spark) == 0L)
      spark.conf.set(key, "500k")
      val e = intercept[IllegalArgumentException](Sizing.localMaxEdges(spark))
      assert(e.getMessage.contains("spark.graft.cc.localMaxEdges") && e.getMessage.contains("'500k'"))
    } finally spark.conf.unset(key)
  }

  test("spark.graft.cc.localMaxEdges: a negative value fails naming the key and the value") {
    val key = Sizing.LocalMaxEdgesKey
    try for (v <- Seq("-1", " -500000 ")) {
      spark.conf.set(key, v)
      val e = intercept[IllegalArgumentException](Sizing.localMaxEdges(spark))
      assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$v'"), v)
    } finally spark.conf.unset(key)
  }
}
