package graft.conll

import graft.Sizing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mention detection + entity linking against a gazetteer, plus
  * connected-components canonicalization (north_rule extensions; the
  * reference has no analog — its skew unit is one sentence).
  *
  * Two join strategies:
  *  - `linkBroadcast`: gazetteers that fit on executors (the common case —
  *    OLiA-style models are tiny) → broadcast-hash join, zero shuffle.
  *  - `linkSalted`: huge gazetteers with Zipf-skewed surfaces → shuffle
  *    join with explicit key salting: the mention side gets a random salt
  *    in [0, S), the gazetteer side is exploded ×S, so one hot surface
  *    ("the") spreads over S reducers instead of one straggler. AQE
  *    skew-join splitting is complementary (post-hoc splitting of oversize
  *    partitions); explicit salting guards the pathological head key.
  */
object EntityLinker {

  /** mentions = conll:WORD triples; returns new (subj, conll:ENTITY, id) rows. */
  private def mentions(triples: DataFrame): DataFrame =
    triples.filter(col("pred") === "conll:WORD")
      .select(col("doc_id"), col("sent"), col("subj"), lower(col("obj")).as("surface"))

  def linkBroadcast(triples: DataFrame, gazetteer: DataFrame): DataFrame =
    mentions(triples)
      .join(broadcast(gazetteer), "surface")
      .select(col("doc_id"), col("sent"), col("subj"),
        lit("conll:ENTITY").as("pred"),
        col("entity_id").as("obj"), lit(true).as("obj_is_uri"))

  def linkSalted(triples: DataFrame, gazetteer: DataFrame, saltBuckets: Int = 16): DataFrame = {
    val m = mentions(triples)
      // deterministic pseudo-salt: spreads each hot surface's mentions
      // across buckets without an RNG (resume-safe)
      .withColumn("salt", pmod(xxhash64(col("subj")), lit(saltBuckets)))
    val g = gazetteer
      .withColumn("salt", explode(sequence(lit(0), lit(saltBuckets - 1))))
    m.join(g, Seq("surface", "salt"))
      .select(col("doc_id"), col("sent"), col("subj"),
        lit("conll:ENTITY").as("pred"),
        col("entity_id").as("obj"), lit(true).as("obj_is_uri"))
  }

  /** triples ∪ entity links, size-routed (VERDICT r1 item 6): broadcast
    * only when the gazetteer is provably small, otherwise the salted
    * shuffle join; an unconditional broadcast of a corpus-derived
    * vocabulary is unbounded at 100 TB. The broadcast regime is FUSED:
    * one narrow flatMap emits each original triple plus its entity triple
    * (map-side hash lookup) — no cache, no second pass over the rewrite
    * cascade, zero shuffle; at 100 TB this is strictly better than
    * `t.union(broadcastJoin(t))`, which consumes `t` twice. The salted
    * regime keeps the explicit union (the shuffle join needs its own
    * pass); there the caller should persist `triples` if recompute is
    * expensive. The bounded `limit(max+1).collect()` probe doubles as the
    * broadcast payload. */
  def linkUnioned(
      triples: org.apache.spark.sql.Dataset[TripleRow],
      gazetteer: DataFrame,
      broadcastMax: Int = Sizing.BroadcastRows): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val probe = gazetteer.select(col("surface"), col("entity_id"))
      .limit(broadcastMax + 1).collect()
    if (probe.length <= broadcastMax) {
      val b = spark.sparkContext.broadcast(
        probe.map(r => r.getString(0) -> r.getString(1)).toMap)
      triples.flatMap { t =>
        if (t.pred == "conll:WORD") b.value.get(t.obj.toLowerCase) match {
          case Some(e) =>
            Seq(t, TripleRow(t.doc_id, t.sent, t.subj, "conll:ENTITY", e, obj_is_uri = true))
          case None => Seq(t)
        }
        else Seq(t)
      }.toDF()
    } else triples.toDF().unionByName(linkSalted(triples.toDF(), gazetteer))
  }

  /** Derive a deterministic gazetteer from a vocabulary DataFrame(word). */
  def gazetteerFromVocab(vocab: DataFrame): DataFrame =
    vocab.select(lower(col("word")).as("surface")).distinct()
      .withColumn("entity_id", concat(lit("ent:"), substring(md5(col("surface").cast("binary")), 1, 12)))

  /** Canonicalize entity ids over sameAs evidence via connected
    * components; rewrites linked triples' objects to the canonical
    * (minimum) id. Join strategy: a STATIC broadcast hint when the
    * MEASURED component count is under [[Sizing.BroadcastRows]]. AQE
    * would convert the join at runtime anyway, but only AFTER the
    * corpus-sized linked side has written its full shuffle; the hint
    * removes that write. The count is a block scan of CC's
    * localCheckpointed output, not a recompute. Above the bound the
    * strategy is left to Catalyst/AQE, because the component table is
    * entity-count-sized and outgrows a broadcast at corpus scale. */
  def canonicalize(spark: SparkSession, linked: DataFrame, sameAs: DataFrame): DataFrame = {
    val comp = graft.operators.ConnectedComponents.run(spark, sameAs)
    val compSized =
      if (comp.count() <= Sizing.BroadcastRows) broadcast(comp) else comp
    linked.join(compSized, linked("obj") === compSized("node"), "left_outer")
      .withColumn("obj", coalesce(col("component"), col("obj")))
      .drop("node", "component")
  }
}
