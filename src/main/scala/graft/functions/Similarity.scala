package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Production similarity-search path: plain IEEE float/double math (no
  * decimal detour — that discipline lives in the oracle-anchored queries,
  * graft.queries.DecimalDot) with the scale-safe plan shape:
  *
  *   broadcast the bounded query set as arrays → one narrow pass over the
  *   corpus computing cosines → per-partition top-k heaps (map-side
  *   combine: ≤ k·|queries| rows leave each partition) → tiny final
  *   reduction.
  *
  * No exploded vectors, no join on the dimension index, no shuffle of
  * pairwise scores — the one scan q28/q31/q38 call ([[scan]]), here with
  * the float dot product instead of the exact-decimal one (~10× cheaper
  * per element).
  */
object Similarity {

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def normSq(a: Array[Float]): Double = dot(a, a)

  def cosine(a: Array[Float], b: Array[Float]): Double =
    dot(a, b) / math.sqrt(normSq(a) * normSq(b))

  /** Keep the k best (sim desc, id asc) in a small sorted buffer — the
    * per-partition top-k of [[scan]]. Best first; ties on sim go to the
    * smaller id, as `ROW_NUMBER() OVER (ORDER BY sim DESC, id)` does. */
  private[graft] final class TopK(k: Int) {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    private def better(a: (Long, Double), b: (Long, Double)): Boolean =
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)
    /** Offer a candidate; true when it entered the buffer. */
    def offer(id: Long, sim: Double): Boolean = {
      val cand = (id, sim)
      val admit = buf.length < k || better(cand, buf.last)
      if (admit) {
        val at = buf.indexWhere(e => better(cand, e))
        if (at < 0) buf.append(cand) else buf.insert(at, cand)
        if (buf.length > k) buf.remove(k)
      }
      admit
    }
  }

  /** The one top-k similarity scan: [[topK]], q28's brute force and the
    * IVF search of q31/q38. The queries, each with its squared norm and
    * its probe set (the cells it admits), are broadcast with `cellOf`;
    * one narrow pass over the corpus scores each row against the queries
    * probing the row's own cell, as `dot(q, c) / sqrt(nq * nc)` with
    * squared norms `dot(v, v)`, into one [[TopK]] per query; a
    * `row_number` window by (sim desc, c_id) ranks the ≤ k·|queries| rows
    * each partition emits. Flat search is IVF with one cell: the default
    * `cellOf` puts every row in cell 0, so a query probing `Set(0L)`
    * scores the whole corpus.
    *
    * @param dot    `graft.queries.DecimalDot.dot` for the oracle entries,
    *               [[Similarity.dot]] for the float path
    * @param cellOf a corpus row's cell from its vector and squared norm
    * @return (q_id, cell, rnk, c_id, sim): cell = the admitted row's own
    *         cell, rnk 1-based, sim unrounded */
  private[graft] def scan(
      corpus: Dataset[(Long, Array[Float])],
      queries: Array[(Long, Array[Float], Set[Long])],
      k: Int,
      dot: (Array[Float], Array[Float]) => Double,
      cellOf: (Array[Float], Double) => Long = (_, _) => 0L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qB = spark.sparkContext.broadcast(
      (queries.map { case (id, v, cells) => (id, v, dot(v, v), cells) }, cellOf))
    val survivors = corpus.mapPartitions { it =>
      val (qs, cellOfRow) = qB.value
      val heaps = qs.map(_ => new TopK(k))
      val cells = scala.collection.mutable.LongMap.empty[Long] // admitted rows only
      for ((cid, v) <- it) {
        val nv = dot(v, v)
        val cell = cellOfRow(v, nv)
        var qi = 0
        while (qi < qs.length) {
          val (_, qv, qn, probes) = qs(qi)
          if (probes.contains(cell) && heaps(qi).offer(cid, dot(qv, v) / math.sqrt(qn * nv)))
            cells(cid) = cell
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.buf.map { case (cid, sim) => (qs(qi)._1, cells(cid), cid, sim) }
      }
    }.toDF("q_id", "cell", "c_id", "sim")
    val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"c_id")
    survivors.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"q_id", $"cell", $"rnk", $"c_id", $"sim")
  }

  /** Brute-force cosine top-k of a bounded query set against a corpus.
    * Output: (q_id, rnk, c_id, sim), rnk 1-based by (sim desc, c_id). */
  def topK(
      corpus: Dataset[(Long, Array[Float])],
      queries: Array[(Long, Array[Float])],
      k: Int): DataFrame =
    scan(corpus, queries.map { case (id, v) => (id, v, Set(0L)) }, k, dot).drop("cell")
}
