package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale validation: the 100×-safety story of the heavy corpus
  * operators is analytical (plan-shape audits); this main checks it with
  * data. It synthesizes N× the sf0.1 documents/embeddings tables,
  * measures the heaviest queries at 1× and N×, and prints the measured
  * scaling exponent per query (t ∝ size^exp ⇒ exp = ln(tN/t1)/ln(N)).
  *
  * Synthesis keeps the DUPLICATION DENSITY constant instead of naively
  * replicating rows: every copy tags each token (so shingles, minhash
  * keys and candidate pairs reproduce the original corpus's structure
  * WITHIN a copy but never collide across copies), and every copy
  * perturbs its embeddings deterministically. Naive replication would
  * make each document a near-dup of its 9 clones — pair count would grow
  * N², which is a property of that degenerate corpus, not of the plans.
  * Doc/vec ids offset per copy; copy 0 is the original bytes.
  *
  * The reported statistic is the MIN of reps — the right estimator for a
  * scaling exponent on a host with documented multi-second outlier reps
  * (BASELINE.md): noise only ever ADDS time.
  *
  * q_embed_ivf_kmeans is special-cased: the QUERY pins centroids to the
  * vec_id%25 stride, so at N× data it scans N× centroids per row —
  * deliberately super-linear (O(N·C) with C ∝ N). The documented scaling
  * rule (Similarity.scala IVF notes) is C ≈ √N; the check therefore also
  * measures the same operator with the stride √N-scaled, which is the
  * configuration a 10× corpus would actually run.
  *
  * Every timed body is a [[Harness.scopedNoop]] run, followed by the
  * [[Harness.release]] sweep (the knn_ann section keeps its index cached
  * across reps and sweeps after its last one).
  *
  * Usage: `sbt "runMain graft.ScaleCheck [srcDir] [workDir]"`, knobs
  * SPARK_GRAFT_SCALE_COPIES (default 10), SPARK_GRAFT_REPS (default 2),
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY (query names plus the section names
  * kmeans, substr_index, bpe_rounds, knn_ann, or `__none__` for a
  * synthesize-only run). Results land on stdout as one JSON line
  * (`scripts/measure.sh scaling`; merged into SCALING.json).
  */
object ScaleCheck {
  private val Queries = Seq(
    "q_dedup_clusters", "q_text_bloom_decontam", "q_dedup_jaccard",
    "q_embed_ivf_kmeans", "q_graph_pagerank", "q_dedup_corpus",
    // round-7 additions: the substring family is O(total_chars) window
    // rows; the synthesizer's per-copy token tagging keeps cross-copy
    // char windows distinct, so duplication density is constant here too
    "q_dedup_substring", "q_text_decontam_spans",
    // model-shaped additions: classifier training shuffles are
    // bounded-output (D rows/round), DSIR's distribution estimates are
    // D-row aggregates — both should scale with the explode, ~linearly.
    // q_embed_knn_classify is NOT here: its probe set grows with the
    // corpus (vec_id % 5), so the declared brute-force baseline is O(N²)
    // by definition; the scale path swaps candidates to probeIndex.
    "q_text_classifier", "q_sample_dsir",
    // the composed funnel (shingle join + content-hash window) and MMR
    // (fixed 5-probe pool: candidate scan linear in N, rerank stages on
    // the fixed top-20 pool)
    "q_curation_report", "q_embed_mmr",
    // BPE training: one corpus-size word count + vocab-bounded merge
    // rounds. NOTE the synthesizer's per-copy token tagging makes the
    // vocabulary grow LINEARLY with copies (every copy's words are
    // distinct) — the adversarial worst case for a vocab-bounded
    // operator; real corpora grow vocab ~N^0.5 (Heaps), so the measured
    // exponent here UPPER-bounds production behavior
    "q_text_bpe_merges",
    // round-12: corpus-wide tokenizer statistics (explode + vocab-bounded
    // joins) — never measured beyond an isolated 10x point before
    "q_text_bpe_stats",
    // round-10 rewrite: the tercile cut now runs through DistributedRank
    // (threshold groups + grouped windows + bounded collects) instead of
    // a single-partition ntile window — this point validates that the
    // LM-score explode dominates and the rank layer stays ~flat
    "q_text_ppl_buckets",
    // round-12: the size-capped gate (top-500 bigram model, smoothed
    // serving) — the bounded-model answer to ppl_buckets' adversarial
    // vocab growth: the scoring join's build side is ≤cap rows at any
    // corpus size, so only the linear count-table build should remain
    "q_text_ppl_capped",
    // the distributed prefix-sum sibling (quality-ranked token budget):
    // same two-level shape, weight offsets instead of counts
    "q_sample_quality_budget",
    // round-13: the epoch permutation + serpentine shard plan are both
    // one DistributedRank pass + projection arithmetic + a ≤K-row
    // aggregate — the rank layer should track the corpus ~linearly with
    // a tiny constant (same construction ppl_buckets validates)
    "q_shuffle_epoch", "q_shard_token_balanced",
    // round-13: fixed-block chunk dedup is one explode + one map-side
    // combined hash aggregate on chunk_md5 — linear in total bytes
    "q_multimodal_dedup",
    // round-13: changelog apply over synthesized events (per-copy user_id
    // offsets: state cardinality grows linearly, per-key group size
    // stays constant — the honest shape for keyed-window state)
    "q_events_cdc_apply",
    // round-13: the served bucketed join; the layout build is amortized
    // per corpus (computeIfAbsent), so timed reps measure the serving
    // join over the at-rest buckets (min statistic keeps the warm rep)
    "q_layout_bucketed",
    // round-13: the at-rest funnel — artifacts build once per dataset
    // (computeIfAbsent, like the layout above), so the measured point is
    // the SERVED admission cost: two ≤cap-row broadcast gate joins, the
    // partition-pruned index probe, and the Bloom bit joins
    "q_curation_stored",
    // round-13: curriculum plan = the capped-LM scoring pass (the linear
    // term, already measured via ppl_capped) + two DistributedRank layers
    "q_sample_curriculum",
    // round-14: PMI + closed-world KN are explode + vocab-bounded joins
    // (the synthesizer's per-copy token tagging grows the vocab linearly
    // — the adversarial ceiling, like bpe_merges; real corpora grow
    // ~N^0.5)
    "q_text_pmi", "q_text_lm_kneser",
    // round-14: the stored-gate serving faces — builds are memoized per
    // dataset (computeIfAbsent), so the measured point is per-batch /
    // per-epoch SERVING: ≤cap-row broadcast joins + one rank pass
    "q_text_lm_kneser_served", "q_sample_curriculum_stored",
    // round-14: shard-tree read-back — the build (one full epochAssign +
    // write) amortizes; timed reps scan the stored tree + one ≤K-row agg
    "q_shard_stored",
    // round-14: snapshot composition = two keyed windows over the
    // synthesized events (state cardinality grows, per-key history flat)
    "q_events_cdc_snapshot",
    // round-14: degree-ordered triangle counting — pairs grow linearly
    // under per-copy tagging (no cross-copy bands), so the wedge join's
    // oriented fan-out bound should keep the exponent near 1
    "q_graph_triangles",
    // round-14: the stored BM25 postings index — serving reads |terms|
    // bucket directories (the corpus explode is build-only), so the
    // serving exponent should be ~0. q_embed_ann_append is NOT here: it
    // runs the declared stride-25 centroid config, excluded from the
    // scale sets like its q_embed_ivfpq siblings (centroid count would
    // grow linearly with copies); the ANN scale story is the
    // knn_ann_sqrt_stride section, whose serving path q_embed_ann_append
    // shares (probeIndex)
    "q_text_bm25_stored",
    // round-14: the incremental-maintenance rows — builds (write+append)
    // memoized per dataset; timed reps measure the pruned probe/serve
    // over the appended trees. decontam_stored's probe batch is the %7
    // slice (grows with the corpus), so its exponent is the pruned-probe
    // class of substr_index, not ~0
    "q_dedup_index_append", "q_text_bm25_append", "q_text_decontam_stored",
    // round-15: the maintenance rows — write+append+compact+rebucket all
    // memoized per dataset; timed reps measure the pruned probe/serve
    // over the MAINTAINED trees (expected: same class as their append
    // siblings — maintenance must be invisible to probes at every scale).
    // q_embed_ann_maint is NOT here for the same stride-25 centroid
    // reason as q_embed_ann_append
    "q_dedup_index_maint", "q_text_bm25_maint", "q_text_decontam_maint",
    // round-15: duplicate-family audit rides the LSH pair closure (the
    // q_dedup_clusters cost class) + two equi-joins + a bounded aggregate
    "q_dedup_cluster_stats",
    // round-15: the composed pipeline — artifacts, admission, appends,
    // curriculum and shard write are all in the memoized build (per-epoch
    // production cost measured separately via curriculum_stored /
    // shard_stored); timed reps read the stored shard tree + two 1-row
    // artifact scalars, the q_shard_stored serving class. The cycles
    // variant folds TWO batches (the second admitted against the grown
    // trees) — same serving class
    "q_pipeline_stored", "q_pipeline_cycles",
    // round-15: maintenance observability — the churned-stage report is
    // a stored ≤(bands)-row artifact read, the compacted-stage one is a
    // tree-wide distinct aggregate: the honest O(index) term with a tiny
    // constant (16-byte key rows, map-side partial combine)
    "q_dedup_index_stats",
    // round-15: the stored trained-scorer faces — model build memoized
    // per dataset; timed reps load the metadata-scale artifact and score
    // (classifier: the explode + broadcast-join projection — the honest
    // linear scoring term; dsir: same class)
    "q_text_classifier_stored", "q_sample_dsir_stored",
    // round-16: mid-loop maintenance and the gate-refresh pipeline — the
    // compaction/refresh happen inside the memoized build (the production
    // between-cycles cost, priced in first-rep); timed reps read the
    // stored shard tree + two 1-row artifact scalars, the
    // q_pipeline_stored serving class (expected ~flat)
    "q_pipeline_maint", "q_pipeline_refresh",
    // round-16: the model-refresh faces — two trains in the memoized
    // build; serving is the same scoring class as their stored siblings.
    // q_embed_ann_retrain is NOT here for the same stride-25 centroid
    // reason as q_embed_ann_append/maint (centroid count would grow
    // linearly with copies; the ANN scale story is knn_ann_sqrt_stride)
    "q_text_classifier_refresh", "q_sample_dsir_refresh")

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val base = if (args.length > 1) args(1) else "/tmp/graft-scale"
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // large-copies runs target a few queries or sections without paying
    // for the whole list
    val keep = Harness.only(
      Queries.toSet ++ Set("kmeans", "substr_index", "bpe_rounds", "knn_ann", "__none__"))
    val spark = Main.session("graft-scale-check")

    val d1 = s"$base/x1"
    val dN = s"$base/x$copies"
    gen(spark, src, d1, 1)
    gen(spark, src, dN, copies)
    // warmup outside every timed region
    Tables.documents(spark, dN).count()
    Tables.embeddings(spark, dN).count()

    // `between` runs after each rep, outside its timed region
    def timeMin(build: => DataFrame, between: => Unit = Harness.release(spark)): Double =
      (1 to reps).map { _ =>
        val dt = Harness.seconds(Harness.scopedNoop(build))
        between
        dt
      }.min

    // one untimed run before a leg's first timed reps: the body's cold
    // cost (JIT, codegen) would otherwise land in its 1× time alone and
    // read as negative scaling
    def warm(build: => DataFrame, between: => Unit = Harness.release(spark)): Unit = {
      Harness.scopedNoop(build)
      between
    }

    def run(name: String, dir: String): Double = timeMin(SparkEntry.queries(name)(spark, dir))

    val perQuery = Queries.filter(keep).map { q =>
      warm(SparkEntry.queries(q)(spark, d1))
      val t1 = run(q, d1)
      val tN = run(q, dN)
      val exp = math.log(tN / t1) / math.log(copies.toDouble)
      System.err.println(f"[scale] $q t1=$t1%.2f s t$copies=$tN%.2f s exp=$exp%.2f")
      q -> (t1, tN, exp)
    }

    // the documented-configuration kmeans point: stride √N-scaled so the
    // centroid count follows the C ≈ √N rule at N× data
    def kmeans(dir: String, stride: Int): DataFrame = {
      val v = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val refined = ext.Similarity.refineCentroids(
        v, ext.Similarity.centroidSet(v, stride), rounds = 2)
      ext.Similarity.ivfTopKWith(v, refined, col("vec_id") < 20, nprobe = 2, k = 1)
    }
    val kmeansJson = if (!keep("kmeans")) None else {
      warm(kmeans(d1, 25))
      val k1 = timeMin(kmeans(d1, 25))
      val kN = timeMin(kmeans(dN, (25 * math.sqrt(copies.toDouble)).round.toInt))
      val kExp = math.log(kN / k1) / math.log(copies.toDouble)
      System.err.println(f"[scale] kmeans_sqrt_stride t1=$k1%.2f s tN=$kN%.2f s exp=$kExp%.2f")
      Some(f""""kmeans_sqrt_stride":{"t1":$k1%.3f,"tN":$kN%.3f,"exp":$kExp%.2f}""")
    }

    // The at-rest substring index under scale: build once per size
    // (untimed — write-once/amortized), then time a FIXED 20-doc batch
    // probe at 1× and N×. With the (band-free) bucket partitioning and
    // dynamic partition pruning doing their job, probe cost tracks the
    // BATCH, not the corpus — the exponent should sit near 0 while the
    // full-scan spans queries above grow at their honest O(chars) rate.
    // The pruned flag is asserted from the executed plan at the N× size.
    val substrJson = if (!keep("substr_index")) None else {
      def probeAt(dir: String): (Double, Boolean) = {
        val docs = Tables.documents(spark, dir)
        // "_mixed" = post-murmur-bucket layout: a stale tree written with
        // the old h1-mod bucketing would otherwise be probed with the new
        // bucket function and silently miss every hit
        val idxDir = s"$dir/substr_index_mixed"
        // _SUCCESS + the PARAMETERIZED marker load() verifies, not bare
        // dir existence: a run killed mid-write leaves partial buckets,
        // and a tree stamped under a different (k, sample, buckets)
        // layout would pass a bare-marker guard here yet fail load()'s
        // check — rebuild in either case
        val marker = ext.SubstringIndex.markerOf(
          ext.SubstringDedup.K, 1, ext.SubstringIndex.Buckets)
        if (!new java.io.File(s"$idxDir/_SUCCESS").exists() ||
            !new java.io.File(s"$idxDir/$marker").exists())
          ext.SubstringIndex.write(docs.filter(col("doc_id") % 7 =!= 0), idxDir)
        val index = ext.SubstringIndex.load(spark, idxDir)
        // copy 0 keeps original doc ids: the same 20 probe docs exist at
        // every size, so the batch is constant while the corpus grows
        val batch = docs.filter(col("doc_id") % 7 === 0 && col("doc_id") < 140)
        warm(ext.SubstringIndex.probe(index, batch))
        val t = timeMin(ext.SubstringIndex.probe(index, batch))
        val df = ext.SubstringIndex.probe(index, batch)
        df.collect()
        (t, df.queryExecution.executedPlan.toString.contains("dynamicpruning"))
      }
      val (p1, _) = probeAt(d1)
      val (pN, prunedN) = probeAt(dN)
      val pExp = math.log(pN / p1) / math.log(copies.toDouble)
      System.err.println(
        f"[scale] substr_index_probe t1=$p1%.2f s tN=$pN%.2f s exp=$pExp%.2f pruned=$prunedN")
      require(prunedN, "index probe at N× lost dynamic partition pruning")
      Some(f""""substr_index_probe":{"t1":$p1%.3f,"tN":$pN%.3f,"exp":$pExp%.2f,"pruned_at_N":$prunedN}""")
    }

    // BPE merge-round throughput at production-shaped merge counts: the
    // declared 4-round query hides the driver-latency bound of one job +
    // one 1-row collect PER MERGE. Measure >=100 merges sequentially vs
    // trainBatched (symbol-disjoint batches of 8) on the 1x corpus so the
    // per-merge cost and the batching win are recorded honestly.
    val bpeJson = if (!keep("bpe_rounds")) None else {
      val merges = 100
      val k = 8 // trainBatched batch size
      val docs1 = Tables.documents(spark, d1)
      // one batch of merges warms both trainers' code paths
      warm(ext.Bpe.train(docs1, k)._1)
      warm(ext.Bpe.trainBatched(docs1, k, k)._1)
      val tSeq = timeMin(ext.Bpe.train(docs1, merges)._1)
      val tBat = timeMin(ext.Bpe.trainBatched(docs1, merges, k)._1)
      System.err.println(
        f"[scale] bpe_rounds merges=$merges seq=$tSeq%.1f s (${tSeq / merges}%.3f s/merge) " +
          f"batched(k=$k)=$tBat%.1f s (${tBat / merges}%.3f s/merge)")
      Some(f""""bpe_rounds":{"merges":$merges,"batch_k":$k,"t_seq":$tSeq%.3f,""" +
        f""""t_batched":$tBat%.3f,"sec_per_merge_seq":${tSeq / merges}%.4f,""" +
        f""""sec_per_merge_batched":${tBat / merges}%.4f}""")
    }

    // The ANN-kNN classifier (q_embed_knn_ann's shape) in its PRODUCTION
    // configuration: centroid stride √N-scaled like kmeans_sqrt_stride, so
    // the coarse quantizer follows the documented C ≈ √N rule instead of
    // the declared query's fixed stride 25 (which pins C ∝ N at scale —
    // why the query is excluded from the 10× bench artifact). Probes are a
    // FIXED 200-vector batch (copy 0 ids exist at every size), so the
    // measured cost is the per-batch SERVING cost as the INDEXED CORPUS
    // grows — the shape that must stay sublinear. The artifact build
    // (centroid/codebook collects + index materialization) runs UNTIMED,
    // like the substring index above: it is write-once/amortized, and
    // timing it would report the build's O(N·C) assignment as if it were
    // per-batch cost. Same shared annKnnClassify as the declared query.
    def knnAnnAt(dir: String, stride: Int): Double = {
      val all = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"),
                col("embedding").cast("array<double>").as("v"))
      val corpus = all.filter(col("vec_id") % 5 =!= 0)
      val probes = all.filter(col("vec_id") % 5 === 0 && col("vec_id") < 1000)
      val v = all.select("vec_id", "v")
      val cents = ext.Similarity.centroidSet(v, stride)
      val cb = ext.Similarity.pqCodebook(v)
      val index = ext.Similarity
        .indexRows(corpus.select("vec_id", "v"), cents, cb).cache()
      index.count() // materialize the build outside the timed region
      // every rep must serve from the warm index: the release sweep would
      // evict it and the next rep would pay an in-region rebuild, so
      // between reps only garbage is collected (the scope already
      // released each rep's own caches)
      def serve = ext.Similarity.annKnnClassify(index, corpus, probes, cents, cb,
        nprobe = 3, shortlist = 24, k = 10)
      warm(serve, between = System.gc())
      val t = timeMin(serve, between = System.gc())
      Harness.release(spark)
      t
    }
    val knnAnnJson = if (!keep("knn_ann")) None else {
      val a1 = knnAnnAt(d1, 25)
      val aN = knnAnnAt(dN, (25 * math.sqrt(copies.toDouble)).round.toInt)
      val aExp = math.log(aN / a1) / math.log(copies.toDouble)
      System.err.println(f"[scale] knn_ann_sqrt_stride t1=$a1%.2f s tN=$aN%.2f s exp=$aExp%.2f")
      Some(f""""knn_ann_sqrt_stride":{"t1":$a1%.3f,"tN":$aN%.3f,"exp":$aExp%.2f}""")
    }

    val qj = perQuery.map { case (q, (t1, tN, e)) =>
      f""""$q":{"t1":$t1%.3f,"tN":$tN%.3f,"exp":$e%.2f}"""
    }.mkString(",")
    val extras = (kmeansJson.toSeq ++ substrJson.toSeq ++ bpeJson.toSeq ++
      knnAnnJson.toSeq).mkString(",")
    val tail = if (extras.isEmpty) "" else s",$extras"
    println(s"""{"copies":$copies,"reps":$reps,"stat":"min","queries":{$qj}$tail}""")
    spark.stop()
  }

  /** Write `c` tagged copies of documents+embeddings under `out`
    * (idempotent: skipped only when BOTH tables carry their _SUCCESS
    * marker — bare directory existence would accept a write the run was
    * killed in the middle of, and every later run would silently measure
    * against a truncated table; overwrite mode makes the re-write safe). */
  private def gen(spark: SparkSession, src: String, out: String, c: Int): Unit = {
    // Per-table SYNTHESIS-LAYOUT versions — bump a table's version when
    // its synthesis rule changes, so stale trees regenerate instead of
    // being silently measured under the old layout (the SubstringIndex
    // markerOf lesson applied to the synthesizer itself; events is at v2
    // after the user_id stride widened 1e6 -> 1e7). Version-1 tables
    // accept legacy unmarked trees — their layout never changed — and
    // every fresh write stamps the marker.
    val synthVersion = Map(
      "documents" -> 1, "embeddings" -> 1, "events" -> 2,
      "lineitem" -> 1, "orders" -> 1)
    def markerFile(t: String) =
      new java.io.File(s"$out/$t.parquet/_GRAFT_SYNTH_v${synthVersion(t)}")
    def stamp(t: String): Unit = markerFile(t).createNewFile()
    // per-table guard: an x-dir synthesized by an earlier round carries
    // documents/embeddings but not the round-13 tables — only the missing
    // ones are written (a whole-dir guard would re-run the expensive
    // document/embedding synthesis at 100 copies just to add events)
    def missing(t: String): Boolean =
      !new java.io.File(s"$out/$t.parquet/_SUCCESS").exists() ||
        (synthVersion(t) > 1 && !markerFile(t).exists())
    if (missing("documents")) {
      val docs = Tables.documents(spark, src)
      (0 until c).map { i =>
        if (i == 0) docs
        else docs.select(
          (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          // per-copy token tag: intra-copy shingle/minhash structure is the
          // original's, cross-copy shingles can never match
          regexp_replace(col("text"), "(^|\\s)", s"$$1c${i}q").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      stamp("documents")
    }
    if (missing("embeddings")) {
      val emb = Tables.embeddings(spark, src)
      (0 until c).map { i =>
        if (i == 0) emb
        else emb.select(
          (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          // deterministic per-copy perturbation: rotate mass between
          // dimensions so copies occupy distinct regions
          transform(col("embedding"),
            (x, j) => (x * (lit(1.0f) + lit(0.002f * i)) +
              (cos(j.cast("double") * lit(0.7) + lit(i.toDouble)) * lit(0.05))
                .cast("float")).cast("float")).as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      stamp("embeddings")
    }
    // events: per-copy user_id offset — key cardinality (window-state
    // size) grows with the corpus while per-key history stays constant,
    // the realistic growth mode for a changelog. Reading via
    // Tables.events normalizes ts; the copies land as plain TIMESTAMP,
    // one of the three producer shapes the normalizer accepts back.
    if (missing("events")) {
      val ev = Tables.events(spark, src)
      (0 until c).map { i =>
        if (i == 0) ev
        else ev.withColumn("event_id", col("event_id") + lit(i * 10000000L))
          // same 1e7 stride as event_id: a source table carrying user_ids
          // up to 1e7 still can't collide across copies (1e6 would let a
          // ≥1e6 id alias into the next copy's range, silently inflating
          // per-key group sizes and voiding the constant-history claim)
          .withColumn("user_id", col("user_id") + lit(i * 10000000L))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      stamp("events")
    }
    // lineitem/orders: per-copy order-key offset on BOTH sides, so the
    // join fan-out per key is the original's and output grows linearly
    if (missing("lineitem")) {
      val li = Tables.lineitem(spark, src)
      (0 until c).map { i =>
        if (i == 0) li
        else li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      stamp("lineitem")
    }
    if (missing("orders")) {
      val ord = Tables.orders(spark, src)
      (0 until c).map { i =>
        if (i == 0) ord
        else ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      stamp("orders")
    }
  }
}
