package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Probe

/** Physical-plan regression gate (VERDICT r6 item 3): the exchange /
  * broadcast structure of the plan-audited registry entries, pinned as
  * committed expected counts. The r5 "widening" find fixed a bug class
  * where an edit silently reintroduced a corpus-wide exchange and only
  * surfaced rounds later as a bench regression; this spec fails the
  * build the day it happens instead.
  *
  * Counted on the FINAL adaptive plan by `graft.tools.Probe.planCounts`,
  * the same counter `Probe plan` prints (its Scaladoc gives the rules:
  * df's own QueryExecution executed, the tree walked through AQE stages
  * and cached subtrees, broadcasts inside caches counted). Until r8 the
  * pins measured the PRE-execution tree: `df.count()` finalizes the
  * count's separate QueryExecution, so AQE's runtime SMJ→BHJ conversions
  * were invisible. Only shuffles and broadcasts are pinned — scan /
  * codegen counts vary with session shape and are not the regression
  * class this guards. Iterative entries (q30/q34/q42/q48) checkpoint per
  * round, so their FINAL plan is the post-loop tail (≈1 shuffle: the
  * output sort) — the gate still catches a reintroduced corpus-wide
  * exchange in that tail, while the per-round widths are covered by
  * ConnectedComponentsSpec/PageRankSpec determinism tests.
  *
  * Expected values measured at sf0.01 under this suite's session
  * (local[4], AQE on — exchange counts are partition-count-invariant,
  * and broadcast decisions depend on data sizes, which are fixed by the
  * committed testdata). A legitimate plan improvement that CHANGES a
  * count should update the pinned value in the same commit, with the
  * new `Probe plan` line in the message.
  *
  * MEASURED UNDER SPARK 4.1.2 (ADVICE r7): the exact broadcast pins tie
  * these tests to AQE's size-estimate behavior for the committed
  * testdata. If a Spark minor-version bump or a parquet-stats change
  * fails many of these at once, re-audit with `Probe plan` and re-pin
  * — a wholesale failure after an upgrade is a measurement-basis change,
  * not 22 simultaneous plan regressions.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  /** entry -> (max shuffles, exact broadcasts). Shuffles gate as an
    * upper bound (fewer is an improvement, more is the regression);
    * broadcasts gate exactly (a broadcast silently DEGRADING to a
    * shuffle join is precisely the 100 TB failure this watches for —
    * it would show up as broadcasts-1 AND shuffles+1). */
  private val expected: Map[String, (Int, Int)] = Map(
    "q21_minhash_sigs" -> (1, 0), // narrow shingle pipeline: output sort only
    // bucket window + band self-join + distinct + sort. Broadcasts are
    // counted INCLUDING cached subtrees (r9, ADVICE r8): the three
    // broadcast joins (band self-join + two pair→set) sit around the
    // persisted shingle-set cache, and WHERE the cache boundary lands at
    // runtime is timing-dependent — the r8 top-level-only pin of 1 read
    // 0 whenever all three landed inside the TableCacheQueryStage (one
    // full-suite flake). The TOTAL is the invariant; a broadcast
    // degrading to a shuffle join now reads 2 regardless of boundary.
    // Shuffles: 3 in five of five runs of the tree-walk counter
    "q22_lsh_jaccard"  -> (3, 3),
    "q43_lsh_r2"       -> (3, 3), // same chain at 4×2 banding
    "q14_tokenize"     -> (1, 0),
    "q24_langid"       -> (2, 0),
    "q20_dedup_exact"  -> (2, 0), // hash-group + output sort
    // r9 narrow rewrite: per-doc bigram array + per-lang size(filter)
    // + array_min argmax — zero joins/windows, output sort only. The
    // old shape was (5, 3): explode → profile broadcast → (doc,lang)
    // partials → grid left-join → per-doc window
    "q44_langid_bigram" -> (1, 0),
    "q41_decontaminate" -> (4, 2), // broadcast n-gram probe, corpus side narrow
    "q31_ann_ivf"      -> (2, 0), // zero-shuffle assignment; per-partition top-k + sort
    "q28_ann_topk"     -> (2, 0), // broadcast queries, per-partition top-k + rank window + sort
    "q38_ann_ivf_multiprobe" -> (2, 0), // q31's IVF search with two probed cells
    "q48_pagerank"     -> (1, 0), // post-loop tail: output sort
    "q30_tree_depth"   -> (1, 0),
    "q42_cc_chain"     -> (1, 0),
    "q34_dup_clusters" -> (1, 0),
    // link/canonical pipelines (VERDICT r7 item 5): the broadcast-regime
    // link is the 100 TB class this spec exists for — its fused flatMap
    // uses an sc.broadcast (no BroadcastExchange NODE), so the pin is
    // 0 broadcasts + 1 shuffle (output sort); the fused path silently
    // degrading to a join would surface as shuffles+1
    "kg_pipeline_link"        -> (1, 0),
    // forced-shuffle salted regime: salted join + output sort; at sf0.01
    // AQE still elects to broadcast the exploded gazetteer side (tiny
    // fixed vocab) — at real gazetteer scale it stays a shuffle join
    "kg_pipeline_link_salted" -> (2, 1),
    // post-CC tail: canonicalize broadcast join + output sort. The join
    // broadcasts on a MEASURED component count (EntityLinker
    // .canonicalize: ≤1M nodes → static broadcast hint, skipping the
    // probe side's shuffle write that AQE's runtime conversion would
    // still pay; above → shuffle join, since the component table is
    // entity-count-sized at corpus scale). THIS pin catches that
    // broadcast degrading back to a shuffle join (the 100 TB class):
    // it would read shuffles=3, broadcasts=0
    "kg_entity_canonical"     -> (1, 1),
    "kg_pipeline_analyze"     -> (1, 0), // cascade is narrow; output sort only
    "kg_pipeline_parse"       -> (1, 0),
    "q18_entity_link"         -> (2, 1), // broadcast gazetteer; tokens + sort
    // hyperplane buckets at width 1 (sf0.01), so the pair join and the
    // sort need no exchange of their own; broadcast pair→vec
    "q32_embed_neardup"       -> (1, 1),
    "q46_url_canonical"       -> (2, 0), // canonical-group agg + sort
    "q47_ngram_boilerplate"   -> (2, 0), // map-side-combinable count + sort
    // r8 widening (runtime-final basis):
    "q01_pricing_summary"     -> (3, 0), // two-phase COUNT DISTINCT + sort
    "q13_sessionize"          -> (2, 0), // session window + sort
    "q15_conll_triples"       -> (2, 0), // union sides reuse one exchange
    "q19_canonicalize_cc"     -> (1, 0), // post-CC tail: output sort only
    "q23_simhash"             -> (2, 0),
    "q29_ann_lsh_buckets"     -> (3, 0),
    "q33_cdc_chunks"          -> (2, 0),
    // integer signatures computed per row and banded by one explode
    // pass: the (band,bucket) exchange shared by the bucket window and
    // the band self-join, and the output exchange (at width 1 the (a,b)
    // candidate dedup needs none); the self-join's other side reuses the
    // (band,bucket) exchange and is broadcast — that reuse disappearing
    // would read shuffles>3
    "q37_simhash_hamming"     -> (3, 1),
    "q40_repetition"          -> (2, 0),
    // three agg levels (pivot/sent/doc) + sort: the levels exchange
    // successively SMALLER aggregated data — collapsing them into one
    // raw-row repartition was measured slower (r8 notes §12), so 4 is
    // the intended shape, not an accident
    "kg_conll_text"           -> (4, 0),
    "kg_ttl_ingest"           -> (1, 0), // narrow roundtrip; output sort only
    "kg_file_ingest"          -> (1, 0),
    // the reader entries (S2/S5/S7/S8/S9/S10): each reader is a narrow
    // per-doc flatMap, so one exchange follows it (the output sort, or
    // kg_count_xml's count); kg_conllu_plus adds toConllTsv's token-pivot
    // aggregate. Each count read the same in five of five `Probe plan` runs
    "kg_tsv_fidelity"         -> (1, 0),
    "kg_srl_args"             -> (1, 0),
    "kg_conllu_plus"          -> (2, 0),
    "kg_segments"             -> (1, 0),
    "kg_xmltsv_powla"         -> (1, 0),
    "kg_xmltsv_emptyword"     -> (1, 0),
    "kg_count_xml"            -> (1, 0),
    "kg_tenten"               -> (1, 0),
    "kg_brackets_roundtrip"   -> (1, 0),
    "kg_brackets_spanuri"     -> (1, 0)
  )

  private def counts(name: String): (Int, Int) = {
    val c = Probe.planCounts(SparkEntry.queries(name)(spark, dir))
    Probe.reset(spark)
    c
  }

  expected.toSeq.sortBy(_._1).foreach { case (name, (maxShuffles, nBroadcasts)) =>
    test(s"$name: ≤$maxShuffles shuffles, =$nBroadcasts broadcasts") {
      val (s, b) = counts(name)
      assert(s <= maxShuffles,
        s"$name gained a shuffle: $s > $maxShuffles (got shuffles=$s broadcasts=$b; " +
          "if intentional, re-audit with Probe plan and update PlanSpec)")
      assert(b == nBroadcasts,
        s"$name broadcast count changed: $b != $nBroadcasts (got shuffles=$s broadcasts=$b; " +
          "a broadcast degrading to a shuffle join is the 100 TB regression this gates)")
    }
  }

  test("q34_dup_clusters: job budget at sf0.01") {
    // The final-plan pin above sees only q34's output sort; the LSH pair
    // chain and runStar's round-0 driver finish run as jobs of their own.
    // 17 jobs: the documents' parquet schema (1), the pair chain's stages
    // ending in runStar's counted input checkpoint (12), the driver
    // finish's collect (1) and the output sort (3). A driver finish on the
    // exact input edges needs no exit test, so the rounds' exit adds none.
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val (_, jobs) = org.apache.spark.graft.JobLog.of(spark.sparkContext) {
      SparkEntry.queries("q34_dup_clusters")(spark, dir).collect()
    }
    Probe.reset(spark)
    assert(jobs.size <= 17, s"${jobs.size} jobs:\n${jobs.mkString("\n")}")
  }
}
