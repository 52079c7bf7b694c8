package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression gate: the scale properties the round-2 review
  * audited by hand (no nested-loop/cartesian joins, filters pushed to the
  * parquet scans, small dimensions broadcast, single-shuffle candidate
  * joins) are asserted here so a plan regression breaks `sbt test` instead
  * of a future benchmark. Plans are inspected AFTER execution so AQE's
  * final (re-planned) form is what's graded — the plan a cluster would run.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val dir = "/root/testdata/sf0.001"

  /** Final executed-plan string (AQE-resolved) for a SparkEntry query.
    * AdaptiveSparkPlanExec.toString prints BOTH the final and the initial
    * plan — only the final section is graded (the initial one would
    * double-count joins and report pre-AQE shapes).
    */
  private def planOf(df: DataFrame): String = {
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    val i = s.indexOf("== Initial Plan ==")
    if (i >= 0) s.take(i) else s
  }
  private def queryPlan(name: String): String =
    planOf(SparkEntry.queries(name)(spark, dir))

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  // The review's top-cost queries plus every join-bearing shape. None may
  // plan a cartesian product or nested-loop join (no allow-list entries
  // today — add a name here only with a comment defending it).
  private val audited = Seq(
    "q_dedup_jaccard", "q_dedup_minhash_pairs", "q_dedup_simhash_pairs",
    "q_agg_pricing", "q_dedup_embed", "q_dedup_semdedup", "q_embed_ivf",
    "q_embed_ivf_kmeans", "q_embed_ivfpq", "q_embed_lsh",
    "q_join_range", "q_join_revenue_by_nation", "q_join_2hop",
    "q_events_asof", "q_dedup_minhash", "q_dedup_clusters", "q_dedup_corpus",
    "q_dedup_editdist", "q_dedup_incremental", "q_dedup_boilerplate",
    "q_text_cms_heavy", "q_text_bloom_decontam", "q_text_contamination",
    "q_graph_pagerank", "q_join_shipping_priority", "q_domain_quality",
    "q_text_lm_score", "q_dedup_substring", "q_dedup_substring_profile",
    "q_sample_mixture", "q_text_decontam_spans", "q_text_decontam_trim",
    "q_dedup_substring_cut", "q_sample_token_budget", "q_text_classifier",
    "q_curation_report", "q_sample_cluster_cap", "q_embed_cluster_profile",
    "q_text_bpe_merges", "q_text_bpe_apply", "q_text_bpe_encode",
    "q_text_bpe_decode",
    "q_text_bpe_batched", "q_text_bpe_stats", "q_text_ppl_buckets",
    "q_embed_knn_ann",
    // round 13: the served bucketed-layout join
    "q_layout_bucketed",
    // round 14: degree-ordered triangle counting — the wedge self-join and
    // the closing-edge probe must both stay equi-joins (the (deg, id)
    // total-order comparison rides as a post-join filter, never a BNLJ)
    "q_graph_triangles",
    // round 14: the at-rest serving faces — the appended ANN tree's probe
    // is cell equi-joins (cell selection projection-only), and the stored
    // BM25 search is a bucket-pruned postings join + term-bounded
    // aggregates with the frozen (n, avgdl) scalars as LITERALS: neither
    // may plan a cartesian or BNLJ anywhere. Same audit for the two
    // incremental-maintenance rows (appended band index probe; appended
    // postings tree serve)
    "q_embed_ann_append", "q_text_bm25_stored",
    "q_dedup_index_append", "q_text_bm25_append",
    // round 14: admission-time decontam from the appended window index —
    // a bucket equi-join probe + window island merge, no NLJ anywhere
    "q_text_decontam_stored",
    // round 15: the maintenance faces — a compacted/rebucketed tree must
    // serve through the SAME plan shapes as the fresh one (bucket/cell
    // equi-joins, pruned scans), so the no-NLJ audit carries over
    // verbatim; and the duplicate-family report is closure labels + two
    // equi-joins + a bounded hash aggregate
    "q_dedup_index_maint", "q_text_bm25_maint", "q_text_decontam_maint",
    "q_embed_ann_maint", "q_dedup_cluster_stats")
  // q_text_tfidf is NOT in the no-BNLJ list: its corpus-size scalar rides a
  // 1-row broadcast cross join (the legitimate scalar-broadcast shape) —
  // covered by its own assertion below instead.
  // q_sample_dsir is NOT in the list for the same reason: the D-row λ
  // table build crosses two 1-row scalar totals (target/raw feature mass)
  // — metadata-scale BNLJs; the corpus-side joins are equi-joins.
  // q_curation_stored is NOT in the list for the same reason again: its
  // smoothed-gate legs ship the 1-row vocab-size scalar via the
  // broadcast cross join (as q_text_ppl_capped's serving does); the
  // probe/decontam legs are equi-joins and CurationE2ESpec asserts the
  // composed plan keeps dynamic partition pruning and no cartesian.
  // q_embed_knn_classify is the declared brute-force baseline (probes ×
  // corpus broadcast NLJ, like q_embed_topk); the scale path swaps
  // candidate generation to probeIndex. q_embed_mmr's candidate pool is
  // generated the same exact-baseline way; the rerank stages themselves
  // are equi-joins over the metadata-sized pool.

  test("no cartesian or nested-loop join in any audited query") {
    audited.foreach { name =>
      val plan = queryPlan(name)
      assert(!plan.contains("CartesianProduct"), s"$name plans a CartesianProduct")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name plans a BNLJ")
      spark.catalog.clearCache()
    }
  }

  test("range join is a banded equi-join, not an NLJ") {
    val plan = queryPlan("q_join_range")
    // the BETWEEN survives only as a post-join Filter; the join itself is
    // hash-based on the manufactured band key
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"q_join_range should equi-join on the band key:\n$plan")
  }

  test("IVF assignment is projection-only: no Exchange, no Join") {
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val plan = planOf(ext.Similarity.ivfAssign(v, centroidStride = 25))
    assert(!plan.contains("Exchange"), s"ivfAssign shuffles:\n$plan")
    assert(!plan.contains("Join"), s"ivfAssign joins:\n$plan")
  }

  test("banded candidate pairs use ONE self-join (single shuffle shape)") {
    Seq("q_dedup_minhash_pairs", "q_dedup_simhash_pairs").foreach { name =>
      val plan = queryPlan(name)
      assert(count(plan, "Join") == 1,
        s"$name should have exactly one (band,key) self-join:\n$plan")
      spark.catalog.clearCache()
    }
  }

  test("connected-components label round plans equi-joins, never a cartesian") {
    // the iterative rounds execute during DataFrame construction, so
    // auditing q_dedup_clusters' final plan would grade only the last
    // checkpoint scan — audit one un-materialized round directly
    import spark.implicits._
    val labels = spark.range(100).toDF("id").select(col("id"), col("id").as("comp"))
    val sym = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val plan = planOf(operators.ConnectedComponents.round(labels, sym))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"CC round must equi-join on id:\n$plan")
    assert(plan.contains("Join"), s"CC round lost its joins:\n$plan")
  }

  test("mixture sampling is a pure map stage: no Exchange, no Join") {
    import spark.implicits._
    val docs = (0 until 100).map(i => (i.toLong, s"src${i % 3}", "t"))
      .toDF("doc_id", "source", "text")
    val plan = planOf(ext.MixtureSample.mixtureSample(docs, Map("src0" -> 2.5)))
    assert(!plan.contains("Exchange"), s"mixtureSample shuffles:\n$plan")
    assert(!plan.contains("Join"), s"mixtureSample joins:\n$plan")
  }

  test("substring dedup: agg + semi-join duplicate marking, no sort on (h1,h2)") {
    // r17 optimization: duplicate marking is a hash aggregate deriving the
    // (sparse) duplicated-hash set + a semi-join, replacing the r16
    // count-over-(h1,h2) window that SORTED every position row inside
    // WindowExec (measured ~10 µs/row — the family's dominant CPU). The
    // only sorts allowed in the plan are the per-document span-merge
    // window (partitioned by doc_id) and the final orderBy; a WindowExec
    // keyed by the hash pair would be the regression.
    // The agg+semi-join shape is the SMALL-regime contract: pin the
    // regime first (ADVICE r17 #2) so the audit tests the shape contract,
    // not the testdata — on documents past the 4 MB broadcast regime the
    // operator legitimately plans the window shape and this assertion
    // would fail spuriously.
    assume(Tables.broadcastRegime(Tables.documents(spark, dir)),
      "testdata selects the large (window) regime — shape audit not applicable")
    val plan = queryPlan("q_dedup_substring")
    assert(plan.contains("Join"), s"q_dedup_substring lost its semi-join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q_dedup_substring cartesian:\n$plan")
    val hashWindow = "(?s)Window.{0,400}?h1".r.findFirstIn(plan)
    assert(hashWindow.isEmpty,
      s"q_dedup_substring re-grew a window over (h1, h2):\n$plan")
  }

  test("small dimension tables broadcast in join queries") {
    Seq("q_join_revenue_by_nation", "q_join_2hop").foreach { name =>
      val plan = queryPlan(name)
      assert(plan.contains("BroadcastHashJoin"), s"$name lost its broadcast:\n$plan")
    }
  }

  test("recall: ANN candidate leg is equi-joins; only the exact baseline may NLJ") {
    val plan = queryPlan("q_embed_recall")
    assert(!plan.contains("CartesianProduct"), s"q_embed_recall cartesian:\n$plan")
    // ground truth is BY DEFINITION a per-probe corpus scan — it
    // broadcasts the fixed 50-probe batch (never the corpus). That is the
    // single NLJ allowed; the IVF candidate generation, rescoring id
    // lookups, and the overlap join must all stay hash/sort equi-joins.
    assert(count(plan, "BroadcastNestedLoopJoin") <= 1,
      s"q_embed_recall grew a second NLJ:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"q_embed_recall candidate/overlap joins must be equi-joins:\n$plan")
    spark.catalog.clearCache()
  }

  test("tfidf: only the corpus-count scalar may nested-loop (1-row broadcast)") {
    val plan = queryPlan("q_text_tfidf")
    assert(!plan.contains("CartesianProduct"), s"q_text_tfidf cartesian:\n$plan")
    // the tf⋈df token join must be hash-based; the single BNLJ allowed is
    // the 1-row n_docs scalar broadcast
    assert(count(plan, "BroadcastNestedLoopJoin") <= 1,
      s"q_text_tfidf grew a second NLJ:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"q_text_tfidf token join must be an equi-join:\n$plan")
  }

  test("pmi/kneser: vocab-bounded equi-joins; only the 1-row scalar may NLJ") {
    // q_text_pmi crosses the 1-row total-bigram scalar, q_text_lm_kneser
    // the 1-row distinct-pair scalar, and the served row the 1-row
    // (npairs, v2) scalar — the same legitimate scalar-broadcast shape as
    // q_text_tfidf. Every other join (marginal and continuation tables,
    // all ≤cap rows on the served row) must stay hash-based.
    Seq("q_text_pmi", "q_text_lm_kneser", "q_text_lm_kneser_served").foreach { name =>
      val plan = queryPlan(name)
      assert(!plan.contains("CartesianProduct"), s"$name cartesian:\n$plan")
      assert(count(plan, "BroadcastNestedLoopJoin") <= 1,
        s"$name grew a second NLJ:\n$plan")
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
        s"$name count-table joins must be equi-joins:\n$plan")
      spark.catalog.clearCache()
    }
  }

  test("contamination benchmark set broadcasts (corpus never reshuffled twice)") {
    val plan = queryPlan("q_text_contamination")
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark hash set should broadcast:\n$plan")
  }

  test("pipeline report: shard read-back + two 1-row artifact scalars only") {
    // q_pipeline_stored's TIMED plan is the steady-state serving read: a
    // grouped scan of the stored shard tree plus exactly two 1-row scalar
    // broadcasts (the appended BM25 meta and the band tree's distinct key
    // count — the pinned legitimate crossJoin shape). Nothing may
    // cartesian and nothing data-scale may NLJ. (The scalar aggregates'
    // own final-stage SinglePartition exchanges are fine — their inputs
    // are the ≤P partial-agg rows, not corpus rows — so the
    // no-SinglePartition rule is not asserted here, unlike the
    // global-ORDER operators where it guards row-scale funnels.)
    Seq("q_pipeline_stored", "q_pipeline_cycles").foreach { name =>
      val plan = queryPlan(name)
      assert(!plan.contains("CartesianProduct"), s"$name cartesian:\n$plan")
      assert(count(plan, "BroadcastNestedLoopJoin") <= 2,
        s"$name grew a data-scale NLJ:\n$plan")
      spark.catalog.clearCache()
    }
  }

  test("funnel: stage joins hash on user_id; only 1-row stage counts may NLJ") {
    val plan = queryPlan("q_events_funnel")
    assert(!plan.contains("CartesianProduct"), s"funnel cartesian:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"funnel stage joins must be equi-joins:\n$plan")
    // the only NLJs allowed are the two crossJoins of 1-row stage counts
    assert(count(plan, "BroadcastNestedLoopJoin") <= 2,
      s"funnel grew a data-scale NLJ:\n$plan")
  }

  test("shipping priority: date filters pushed, top-k takes ordered project") {
    val plan = queryPlan("q_join_shipping_priority")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 should not global-sort:\n$plan")
    assert(plan.contains("GreaterThan(l_shipdate"),
      s"l_shipdate filter not pushed to scan:\n$plan")
  }

  test("filters reach the parquet scan (pushdown not regressed)") {
    // q_dedup_simhash_pairs restricts doc_id < 200 BEFORE tokenization;
    // q_embed_topk restricts probes to vec_id < 20. Both predicates must
    // appear as pushed filters on the file scan, not post-scan Filters only.
    val sim = queryPlan("q_dedup_simhash_pairs")
    assert(sim.contains("PushedFilters: [") && sim.contains("LessThan(doc_id,200)"),
      s"doc_id filter not pushed to documents scan:\n$sim")
    spark.catalog.clearCache()
    val topk = queryPlan("q_embed_topk")
    assert(topk.contains("LessThan(vec_id,20)"),
      s"vec_id probe filter not pushed to embeddings scan:\n$topk")
  }

  test("events ts normalizer does not block pushdown or pruning on the events scan") {
    // normalizeEventsTs rewrites `ts` right after the scan; Catalyst must
    // still push OTHER-column predicates into the parquet reader and prune
    // unused columns through the rewrite — at 100 TB an events scan that
    // loses pushdown because of a timestamp cast reads the whole table.
    val asof = queryPlan("q_events_asof")
    assert(asof.contains("EqualTo(event_type,purchase)"),
      s"event_type filter not pushed through the ts normalizer:\n$asof")
    spark.catalog.clearCache()
    // q_events_enrich touches ts? no — (user_id, event_type, value) only;
    // the events ReadSchema must not pick up props/event_id through the
    // normalizer's withColumn
    val enrich = queryPlan("q_events_enrich")
    val reads = "ReadSchema: [^\n]*".r.findAllIn(enrich)
      .filter(_.contains("event_type")).toSeq
    assert(reads.nonEmpty, s"no events ReadSchema found:\n$enrich")
    Seq("props", "event_id").foreach { c =>
      assert(!reads.exists(_.contains(c)),
        s"q_events_enrich reads unused column '$c': ${reads.mkString("; ")}")
    }
    spark.catalog.clearCache()
  }

  test("global-order operators plan no single-partition window or sort") {
    // these queries rank / prefix-sum the WHOLE corpus; an un-partitioned
    // window would funnel every (doc_id, score) row through ONE task — the
    // DistributedRank constructions must keep every exchange partitioned.
    // The only acceptable single-partition stages are none at all: the
    // grouped windows hash on the threshold group, the final orderBy
    // range-partitions, and the driver collects are cluster-bounded.
    // q_text_ppl_capped additionally runs its model-truncation top-N
    // through the same construction — the cap must not smuggle the
    // single-partition window back in via row_number.
    Seq("q_text_ppl_buckets", "q_text_ppl_capped",
        "q_sample_quality_budget",
        // round 13: the epoch-shuffle / shard-planning pair are global
        // ranks over the whole corpus — the exact shape this test exists
        // to keep partition-parallel — and the curriculum plan stacks TWO
        // of them (tercile phases + the composite-key position rank)
        "q_shuffle_epoch", "q_shard_token_balanced",
        "q_sample_curriculum",
        // round 14: the stored-gate curriculum serves phases from two
        // broadcast boundary scalars (zero windows) — only the position
        // rank's grouped windows remain, and they must stay partitioned
        "q_sample_curriculum_stored").foreach { name =>
      val plan = queryPlan(name)
      assert(!plan.contains("Exchange SinglePartition"),
        s"$name planned a single-partition exchange:\n$plan")
      spark.catalog.clearCache()
    }
  }

  test("column pruning: text scorers read only the columns they use") {
    // The documents table carries (doc_id, text, lang, source, n_chars);
    // a 100 TB scan that reads all five for a two-column query doubles its
    // IO. Assert ReadSchema on the parquet scan stays narrowed.
    Seq("q_sample_dsir" -> Seq("lang", "n_chars", "source"),
        "q_text_bm25"   -> Seq("lang", "n_chars", "source"),
        "q_text_classifier" -> Seq("lang", "n_chars")).foreach {
      case (name, absent) =>
        val plan = queryPlan(name)
        val reads = "ReadSchema: [^\n]*".r.findAllIn(plan)
          .filter(_.contains("text")).toSeq
        assert(reads.nonEmpty, s"$name: no documents ReadSchema found:\n$plan")
        absent.foreach { c =>
          assert(!reads.exists(_.contains(c)),
            s"$name reads unused column '$c': ${reads.mkString("; ")}")
        }
        spark.catalog.clearCache()
    }
  }
}
