package graft.conll

import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import graft.TestSpark

/** Skew handling and route equivalence for the gazetteer join (north_rule:
  * "salted-join skew handling for hot predicates and high-degree
  * entities"). Above the broadcast bound `linkUnioned` is a plain
  * equi-join, and a Zipf-hot surface is AQE's skew-join split's to spread;
  * every route must give the same rows. */
class SkewSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Broadcast off and AQE's skew-join thresholds lowered so that a
    * partition of a few KB counts as skewed; restored afterwards. */
  private val shuffleJoinSkewSplit = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256")

  private def withConfs[A](confs: Seq[(String, String)])(f: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def rows(df: DataFrame): Seq[TripleRow] = {
    import spark.implicits._
    df.as[TripleRow].collect().toSeq.sortBy(_.toString)
  }

  /** The skew-split joins in an executed (final) adaptive plan. */
  private def skewJoins(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case j: SortMergeJoinExec if j.isSkewJoin => Seq(j)
      case j: ShuffledHashJoinExec if j.isSkewJoin => Seq(j)
      case _ => Nil
    }) ++ p.children.flatMap(walk)
    walk(df.queryExecution.executedPlan)
  }

  private def word(i: Int, w: String): TripleRow =
    TripleRow("d1", 1L + i / 40, s":s${1 + i / 40}_${i % 40 + 1}", "conll:WORD", w, false)

  test("join route: AQE splits a hot surface's partition; rows equal the broadcast join's") {
    import spark.implicits._
    // Zipf-ish mentions: 'the' is half of them
    val words = (1 to 2000).map(i => if (i % 2 == 0) "the" else s"w${i % 37}")
    val triples = words.zipWithIndex.map { case (w, i) => word(i, w) }.toDS
    // a gazetteer read as is (no in-plan aggregate), so both join inputs
    // are shuffle stages, as for one read from storage
    val gaz = words.distinct.map(w => (w, s"ent:$w")).toDF("surface", "entity_id")
    val reference = rows(triples.toDF().unionByName(
      EntityLinker.linkJoined(triples.toDF(), broadcast(gaz))))
    withConfs(shuffleJoinSkewSplit) {
      val joined = EntityLinker.linkUnioned(triples, gaz, broadcastMax = 0)
      joined.collect() // finalizes this Dataset's own adaptive plan
      assert(skewJoins(joined).nonEmpty,
        s"no skew-split join in the final plan:\n${joined.queryExecution.executedPlan}")
      assert(rows(joined) == reference)
    }
  }

  test("linkUnioned: fused pass ≡ union(t, broadcastJoin(t)); the join route ≡ too") {
    import spark.implicits._
    val words = (1 to 200).map(i => s"word${i % 11}")
    val triples = words.zipWithIndex.flatMap { case (w, i) =>
      Seq(
        TripleRow("d1", 1L, s":s1_${i + 1}", "conll:WORD", w, false),
        TripleRow("d1", 1L, s":s1_${i + 1}", "rdf:type", "nif:Word", true))
    }.toDS
    val gaz = EntityLinker.gazetteerFromVocab(words.distinct.toDF("word"))
    val reference = rows(triples.toDF().unionByName(
      EntityLinker.linkJoined(triples.toDF(), broadcast(gaz))))
    assert(rows(EntityLinker.linkUnioned(triples, gaz)) == reference)
    // broadcastMax below the gazetteer size → the union with the join
    assert(rows(EntityLinker.linkUnioned(triples, gaz, broadcastMax = 3)) == reference)
  }

  test("both routes lowercase a mention as Spark's lower does, under a tr_TR locale") {
    import spark.implicits._
    val triples = Seq(word(0, "TITLE")).toDS
    val gaz = Seq(("title", "ent:title")).toDF("surface", "entity_id")
    val link = TripleRow("d1", 1L, ":s1_1", "conll:ENTITY", "ent:title", obj_is_uri = true)
    val prev = Locale.getDefault
    try {
      Locale.setDefault(Locale.forLanguageTag("tr-TR"))
      for (max <- Seq(0, 1))
        assert(rows(EntityLinker.linkUnioned(triples, gaz, max)).contains(link), s"broadcastMax $max")
    } finally Locale.setDefault(prev)
  }

  test("both routes link a surface with two gazetteer rows to both entities") {
    import spark.implicits._
    val triples = Seq(word(0, "x")).toDS
    val gaz = Seq(("x", "ent:a"), ("x", "ent:b")).toDF("surface", "entity_id")
    for (max <- Seq(0, 2))
      assert(rows(EntityLinker.linkUnioned(triples, gaz, max)).filter(_.pred == "conll:ENTITY")
        .map(_.obj) == Seq("ent:a", "ent:b"), s"broadcastMax $max")
  }

  test("property: linkUnioned's join and fused routes equal a driver-side reference") {
    import spark.implicits._
    // letters whose lowercase is the same in Spark's lower and in Java's
    // root locale: ASCII (with 'I'), Latin-1, Cyrillic, Deseret (non-BMP,
    // cased) and an emoji (non-BMP, uncased)
    val letters = Seq("a", "b", "i", "I", "Q", "é", "É", "ж", "Ж", "𐐀", "𐐨", "😀")
    val genWord = Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, Gen.oneOf(letters)).map(_.mkString))
    val genMentions: Gen[(String, Seq[String])] = Gen.nonEmptyListOf(genWord).flatMap { pool =>
      Gen.oneOf("hot", "none hot", "all one").flatMap {
        case "hot" => Gen.listOfN(60, Gen.frequency(6 -> Gen.const(pool.head), 1 -> Gen.oneOf(pool)))
          .map("hot" -> _)
        case "none hot" => Gen.listOfN(60, Gen.oneOf(pool)).map("none hot" -> _)
        case _ => Gen.chooseNum(1, 60).map(n => "all one" -> Seq.fill(n)(pool.head))
      }
    }
    def genGaz(mentions: Seq[String]): Gen[Seq[(String, String)]] = {
      val matched = mentions.map(_.toLowerCase(Locale.ROOT)).distinct
      for {
        hits <- Gen.someOf(matched)
        misses <- Gen.listOf(genWord) // unmatched, unless lowercase and mentioned
        dups <- Gen.someOf(hits.toSeq ++ misses)
      } yield (hits.toSeq ++ misses ++ dups).zipWithIndex.map { case (s, i) => s -> s"ent:$i" }
    }
    val seen = collection.mutable.Set[String]()
    def classes(kind: String, mentions: Seq[String], gaz: Seq[(String, String)]): Unit = {
      val lowered = mentions.map(_.toLowerCase(Locale.ROOT)).toSet
      val surfaces = gaz.map(_._1)
      seen += kind
      if (surfaces.exists(s => !lowered(s))) seen += "unmatched"
      if (surfaces.distinct.size < surfaces.size) seen += "duplicated"
      if (surfaces.exists(s => s != s.toLowerCase(Locale.ROOT))) seen += "mixed-case"
      if (surfaces.exists(_.exists(_ > '\u007f'))) seen += "non-ASCII"
      if (surfaces.exists(_.exists(Character.isSurrogate))) seen += "non-BMP"
    }
    val prop = Prop.forAllNoShrink(genMentions.flatMap { case (k, m) => genGaz(m).map((k, m, _)) }) {
      case (kind, mentions, gaz) =>
        classes(kind, mentions, gaz)
        val words = mentions.zipWithIndex.map { case (w, i) => word(i, w) }
        val triples = words ++ Seq(
          TripleRow("d1", 1L, ":s1_1", "rdf:type", "nif:Word", true),
          TripleRow("d1", 1L, ":s1_0", "conll:WORD", null, false))
        val bySurface = gaz.groupMap(_._1)(_._2)
        val reference = (triples ++ words.flatMap { t =>
          bySurface.getOrElse(t.obj.toLowerCase(Locale.ROOT), Nil)
            .map(e => TripleRow(t.doc_id, t.sent, t.subj, "conll:ENTITY", e, obj_is_uri = true))
        }).sortBy(_.toString)
        val ds = triples.toDS
        val gazDf = gaz.toDF("surface", "entity_id")
        val joined = withConfs(shuffleJoinSkewSplit)(rows(EntityLinker.linkUnioned(ds, gazDf, 0)))
        val fused = rows(EntityLinker.linkUnioned(ds, gazDf))
        Prop.propBoolean(joined == reference) :| s"join route, $kind" &&
          Prop.propBoolean(fused == reference) :| s"fused route, $kind"
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(r.passed, r.status.toString)
    assert(seen == Set("hot", "none hot", "all one",
      "unmatched", "duplicated", "mixed-case", "non-ASCII", "non-BMP"), seen.toString)
  }
}
