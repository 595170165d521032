package graft.conll

import graft.Sizing
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.types.UTF8String

/** Mention detection + entity linking against a gazetteer, plus
  * connected-components canonicalization (north_rule extensions; the
  * reference has no analog — its skew unit is one sentence).
  *
  * `linkUnioned` takes one of two routes, chosen by the gazetteer's
  * measured row count:
  *  - at most `broadcastMax` rows, the FUSED route: the gazetteer is
  *    collected, grouped by surface and broadcast, and one narrow flatMap
  *    emits each triple plus its entity triples (a map-side lookup). No
  *    shuffle, and the input is read once.
  *  - above the bound, `triples ∪ linkJoined(triples, gazetteer)`: a plain
  *    equi-join on the surface. Catalyst picks a broadcast or a shuffle
  *    join from the gazetteer's size. At scale, a Zipf-hot surface ("the")
  *    makes one shuffle partition oversize; AQE's skew-join split (on by
  *    default, and `graft.Session` leaves it on) spreads that partition
  *    over several tasks from the sizes measured at run time, so the join
  *    needs no salt and no replicated gazetteer side. The split needs both
  *    join inputs to be shuffle stages, as for a gazetteer read from
  *    storage; one aggregated on the surface in the same plan
  *    (`gazetteerFromVocab`) keeps that aggregate's partitioning, and
  *    AQE leaves the join unsplit.
  *
  * The fused route stays because the union reads its input twice, which
  * on an in-plan rewrite cascade runs the cascade twice: the union in its
  * place measured 35–120% slower on the registry's link entries
  * (OPTIMIZATION_r09 §17).
  *
  * Both routes lowercase a mention with the function Spark's `lower`
  * evaluates ([[lowerCase]]) and emit one link per matching gazetteer row.
  */
object EntityLinker {

  /** mentions = conll:WORD triples; returns new (subj, conll:ENTITY, id) rows. */
  private def mentions(triples: DataFrame): DataFrame =
    triples.filter(col("pred") === "conll:WORD")
      .select(col("doc_id"), col("sent"), col("subj"), lower(col("obj")).as("surface"))

  /** Spark's `lower` for the default collation (UTF8_BINARY), as a driver
    * or executor function: the same case mapping under any JVM default
    * locale (Java's `toLowerCase()` maps `I` to dotless `ı` under tr_TR). */
  private[conll] def lowerCase(): String => String = {
    val icu = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
    s => CollationSupport.Lower.exec(
      UTF8String.fromString(s), CollationFactory.UTF8_BINARY_COLLATION_ID, icu).toString
  }

  /** The links as a plain equi-join on the lowercased surface; the join
    * strategy is Catalyst's and AQE's. */
  def linkJoined(triples: DataFrame, gazetteer: DataFrame): DataFrame =
    mentions(triples)
      .join(gazetteer, "surface")
      .select(col("doc_id"), col("sent"), col("subj"),
        lit("conll:ENTITY").as("pred"),
        col("entity_id").as("obj"), lit(true).as("obj_is_uri"))

  /** triples ∪ entity links, size-routed (VERDICT r1 item 6): the fused
    * route only when the gazetteer is provably small, otherwise the
    * equi-join; an unconditional broadcast of a corpus-derived vocabulary
    * is unbounded at 100 TB. On the join route the caller should persist
    * `triples` if recompute is expensive. The bounded
    * `limit(max+1).collect()` probe doubles as the broadcast payload. */
  def linkUnioned(
      triples: Dataset[TripleRow],
      gazetteer: DataFrame,
      broadcastMax: Int = Sizing.BroadcastRows): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val probe = gazetteer.select(col("surface"), col("entity_id"))
      .limit(broadcastMax + 1).collect()
    if (probe.length <= broadcastMax) {
      val b = spark.sparkContext.broadcast(
        probe.toSeq.groupMap(_.getString(0))(_.getString(1)))
      val lowered = lowerCase()
      triples.flatMap { t =>
        if (t.pred == "conll:WORD" && t.obj != null) b.value.get(lowered(t.obj)) match {
          case Some(es) =>
            t +: es.map(e => TripleRow(t.doc_id, t.sent, t.subj, "conll:ENTITY", e, obj_is_uri = true))
          case None => Seq(t)
        }
        else Seq(t)
      }.toDF()
    } else triples.toDF().unionByName(linkJoined(triples.toDF(), gazetteer))
  }

  /** Derive a deterministic gazetteer from a vocabulary DataFrame(word). */
  def gazetteerFromVocab(vocab: DataFrame): DataFrame =
    vocab.select(lower(col("word")).as("surface")).distinct()
      .withColumn("entity_id", concat(lit("ent:"), substring(md5(col("surface").cast("binary")), 1, 12)))

  /** Canonicalize entity ids over sameAs evidence via connected
    * components; rewrites linked triples' objects to the canonical
    * (minimum) id. Join strategy: a STATIC broadcast hint when the
    * MEASURED component-table row count is under [[Sizing.BroadcastRows]].
    * AQE would convert the join at runtime anyway, but only AFTER the
    * corpus-sized linked side has written its full shuffle; the hint
    * removes that write. The count costs no job: CC hands it over with
    * its labels (`ConnectedComponents.runCounted`), exact on the driver
    * finish and at-least-once on the distributed path, where an inflated
    * reading can only decline the broadcast. Above the bound the
    * strategy is left to Catalyst/AQE, because the component table is
    * entity-count-sized and outgrows a broadcast at corpus scale. */
  def canonicalize(spark: SparkSession, linked: DataFrame, sameAs: DataFrame): DataFrame = {
    val (comp, nodes) = graft.operators.ConnectedComponents.runCounted(spark, sameAs)
    val compSized =
      if (nodes <= Sizing.BroadcastRows) broadcast(comp) else comp
    linked.join(compSized, linked("obj") === compSized("node"), "left_outer")
      .withColumn("obj", coalesce(col("component"), col("obj")))
      .drop("node", "component")
  }
}
