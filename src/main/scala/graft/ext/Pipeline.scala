package graft.ext

import graft.{Q, Tables}
import graft.operators.DistributedRank
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import TextHash._

/** The composed steady-state ingestion loop — the engine's whole 100 TB
  * value proposition as driver-verified, artifact-to-artifact rows:
  *
  *   1. ADMIT: an incoming batch is quality-gated by the stored capped
  *      [[LmGate]] (head/middle terciles pass, tail drops — the frozen
  *      boundary scalars trained on the corpus), novelty-checked against
  *      the at-rest [[DedupIndex]] band tree (any band hit → near-dup of
  *      something already ingested), and decontaminated against the
  *      at-rest [[SubstringIndex]] window tree (any verbatim ≥K-char
  *      overlap with the stored corpus → drop);
  *   2. FOLD: the admitted remainder is APPENDED into the band index, the
  *      substring window index, and the BM25 postings index — O(batch)
  *      ingest, base files untouched, meta scalars folded by exact
  *      integer addition;
  *   3. RE-DERIVE: the curriculum is re-scored for corpus + admitted
  *      under the SAME stored gate (two broadcast model joins + the
  *      frozen boundary CASE — zero windows) and the within-phase epoch
  *      permutation is one composite-key [[DistributedRank]] pass;
  *   4. SHIP: shards land on disk in curriculum order (one file per
  *      shard, rows in position order) and are READ BACK for the report.
  *
  * Two declared rows share this machinery:
  *
  *  - `q_pipeline_stored` runs ONE admission cycle — the composition
  *    proof for the individually-proven pieces (q_curation_stored,
  *    q_dedup_index_append, q_text_decontam_stored, q_text_bm25_append,
  *    q_sample_curriculum_stored, q_shard_stored);
  *  - `q_pipeline_cycles` runs TWO cycles where the second batch is
  *    admitted against the trees GROWN by the first batch's appends —
  *    the loop actually looping: a cycle-2 document that near-dups a
  *    cycle-1 ADMISSION (and nothing in the original corpus) must be
  *    rejected, which only happens if the appended keys are really
  *    served by the next probe (PipelineSpec pins that this case is
  *    non-vacuous at the driver's gate scale). Batches split by arrival
  *    order (testdata doc_ids are arrival-dense), the production reading
  *    of successive ingest batches.
  *
  * Every stage is re-derived from the base table by the oracle (LM scores
  * + tercile boundary replay, band-hit EXISTS against the grown member
  * set, window-hash membership against the grown member set, the full
  * permutation window, and the grown corpus's index scalars), so a drift
  * anywhere — a gate admitting the wrong set, an append losing or
  * doubling rows, a cycle-2 probe not seeing cycle-1's fold, a curriculum
  * scored under stale boundaries, a shard writer dropping payload —
  * cannot hash-match.
  *
  * Scale shape: batches are bounded by ingest cadence (the
  * [[BatchIdBound]] contract — identical to q_text_decontam_stored's), so
  * admission cost tracks the batch (broadcast gate joins +
  * partition-pruned index probes), the appends are O(batch), and the
  * per-epoch curriculum + shard write is the q_sample_curriculum_stored /
  * q_shard_stored cost — the only corpus-linear terms are the one-time
  * artifact builds, memoized per JVM+dataset here (write-once in
  * production) and priced honestly in first-rep/x100 numbers (x100:
  * q_pipeline_stored serving exp 0.04 — flat).
  */
object Pipeline {

  /** Shard fan for the shipped epoch (stands in for the files-per-epoch
    * knob, like [[Sharding.Shards]]).
    */
  val Shards = 16

  /** The incoming-batch id bound — same contract and value as
    * q_text_decontam_stored's: a no-op at every testdata scale, exactly
    * one synthesis copy under ScaleCheck's per-copy doc_id offset, so the
    * scale instrument grows the CORPUS (and every stored artifact) while
    * the admission batches stay the production-shaped bounded ingest
    * slices.
    */
  val BatchIdBound = 10000000L

  /** The arrival-order cut splitting the batch stream into the two
    * ingest cycles of `q_pipeline_cycles` (testdata doc_ids are
    * arrival-dense from 0, so "the first arrivals" is ids below the
    * cut). Chosen so both cycles are non-trivial at every testdata scale
    * AND the cross-cycle near-dup case exists at the driver's sf0.01
    * gate (PipelineSpec asserts it) — the case that proves cycle 2
    * probes the trees cycle 1 grew.
    */
  val Cycle2Start = 200L

  /** The LM gate's model-size cap (the q_text_ppl_capped /
    * q_curation_stored bound: every gate build side ≤ this many rows at
    * any corpus size).
    */
  val GateCap = 500

  private def inBatchStream = col("doc_id") % 4 === 3 && col("doc_id") < BatchIdBound

  /** ONE admission cycle: quality → novelty → decontamination, heavier
    * probes only on survivors (the servedReport stance — the survivor id
    * set is batch-scale, so these are no-fanout pre-filters). The
    * admission DECISION is persisted to `outPath` BEFORE the caller
    * appends — not a bench convenience but load-bearing twice over:
    * (a) the decision's lineage READS the dedup/substring trees, and the
    * very next step APPENDS the admitted keys into those trees — a lazy
    * plan re-evaluated after the append would see the batch's own keys
    * as duplicates and silently shrink the admitted set (observed live
    * at sf0.001: the cached plan re-evaluated under AQE and the BM25
    * fold got an EMPTY batch); the parquet barrier freezes the decision
    * against the pre-append state. (b) It is also what production needs
    * anyway: the appends, the curriculum, and any replay/audit must
    * agree on ONE recorded admitted set, not re-derive it against a
    * moving tree.
    */
  private[ext] def admit(gate: Option[LmGate.Gate], batch: DataFrame,
                         bandedBatch: DataFrame, dedupPath: String,
                         substrPath: String, outPath: String): Unit =
    admittedIdsOf(gate, batch, bandedBatch, dedupPath, substrPath)
      .write.mode("overwrite").parquet(outPath)

  /** The admission DERIVATION — one definition shared by the batch cycles
    * ([[admit]], which persists it as the pre-append decision barrier) and
    * the streaming face ([[graft.streaming.StreamingOps.admissionGate]],
    * which runs it per micro-batch): quality → novelty → decontamination,
    * heavier probes only on survivors. Must be CONSUMED before anything
    * appends to the probed trees (the decision-barrier contract).
    *
    * gate = None is the dedup-gated ingest variant (the re-crawl-facing
    * loop the cycles row declares): every batch doc is novelty- and
    * decontamination-checked; quality gating is a corpus-build concern
    * applied at curriculum time. gate = Some is the full 3-gate funnel.
    * Dedup hits are DEDUPED inside DedupIndex.probe, so the gate is exact
    * on appended (duplicate-key-bearing) trees too — the
    * incrementalDedup contract note's "dedupe in the gate" option, made
    * the default here.
    */
  private[graft] def admittedIdsOf(gate: Option[LmGate.Gate], batch: DataFrame,
                                   bandedBatch: DataFrame, dedupPath: String,
                                   substrPath: String): DataFrame = {
    val s = batch.sparkSession
    val qIds = gate
      .map(g => g.bucketed(batch).filter(col("bucket") <= 2).select("doc_id"))
      .getOrElse(batch.select("doc_id"))
      .transform(graft.CacheTracker.cached)
    val dup = DedupIndex
      .probe(DedupIndex.load(s, dedupPath),
             bandedBatch.join(qIds, Seq("doc_id")))
      .select("doc_id")
    val dirty = SubstringIndex
      .probe(SubstringIndex.load(s, substrPath),
             batch.join(qIds, Seq("doc_id")))
      .select("doc_id").distinct()
    qIds
      .join(dup, Seq("doc_id"), "left_anti")
      .join(dirty, Seq("doc_id"), "left_anti")
  }

  /** Max parquet files in any one leaf directory of `path` — the
    * metadata-only fragmentation signal a production trigger reads (a
    * recursive listing, never data): append cost is O(batch) precisely
    * because it adds FILES to touched directories, and probe cost grows
    * with that file count (SCALING.json `append_churn` is the measured
    * curve) — this is the number that says when to pay the compaction.
    */
  private def maxFilesPerLeaf(s: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val it = fs.listFiles(p, true)
      val counts = scala.collection.mutable.Map.empty[String, Int]
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet"))
          counts.updateWith(f.getPath.getParent.toString)(c => Some(c.getOrElse(0) + 1))
      }
      if (counts.isEmpty) 0 else counts.values.max
    }
  }

  /** The observability → action wiring the stats rows existed for:
    * between ingest cycles, compact any of the three appendable trees
    * whose leaf fragmentation crossed the threshold (the "Tuesday-night
    * compaction" a production scheduler runs between ingest windows).
    * The TRIGGER is the metadata-only file-count signal; when it fires —
    * i.e. exactly when we are about to pay an O(index) rewrite anyway —
    * the dedup/substring churn counters (`n_rows − n_keys`, the
    * q_dedup_index_stats signal) are read and recorded alongside, so the
    * maintenance log carries both the decision input and the reclaimed
    * volume. Every decision (fired or not) is appended to
    * `$r/maint_log.parquet` — the audit artifact an operator greps at
    * 3 a.m., and what the spec pins non-vacuity against.
    */
  private def maintainIfChurned(s: SparkSession, r: String, cycle: Int): Unit = {
    import s.implicits._
    val trees = Seq(
      ("dedup", s"$r/dedup",
        () => DedupIndex.stats(s, s"$r/dedup")
          .agg(sum("n_rows"), sum("n_keys")).collect()(0),
        () => DedupIndex.compact(s, s"$r/dedup")),
      ("substr", s"$r/substr",
        () => SubstringIndex.stats(s, s"$r/substr")
          .agg(sum("n_rows"), sum("n_keys")).collect()(0),
        () => SubstringIndex.compact(s, s"$r/substr")),
      // BM25 appends never duplicate keys ((doc, term) pairs are new by
      // the disjoint-batch precondition) — churn is file-count only
      ("bm25", s"$r/bm25/postings.parquet",
        () => null,
        () => Bm25Index.compact(s, s"$r/bm25")))
    val log = trees.map { case (name, path, stats, compact) =>
      val files = maxFilesPerLeaf(s, path)
      val fired = files > 1
      val st = if (fired && name != "bm25") Option(stats()) else None
      if (fired) compact()
      (cycle, name,
        st.map(_.getLong(0)).getOrElse(-1L), st.map(_.getLong(1)).getOrElse(-1L),
        files, fired)
    }
    log.toDF("cycle", "tree", "n_rows", "n_keys", "max_files_per_leaf", "compacted")
      .coalesce(1).write.mode("append").parquet(s"$r/maint_log.parquet")
  }

  /** Build the full steady-state state under `r`: corpus artifacts, then
    * one admit → append cycle per batch predicate (each cycle's probes
    * run against the trees every EARLIER cycle grew), then the
    * curriculum + shard tree over corpus ∪ all admissions. Write-once
    * per JVM+dataset (the [[StoredArtifacts]] convention). With
    * `maintain = true`, [[maintainIfChurned]] runs between cycles —
    * maintenance must be INVISIBLE to the next cycle's admission, which
    * is the q_pipeline_maint claim.
    */
  private def build(s: SparkSession, d: String, r: String,
                    cyclePreds: Seq[Column], qualityGate: Boolean,
                    maintain: Boolean = false,
                    refreshGate: Boolean = false): Unit =
    graft.CacheTracker.scope {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(!inBatchStream)
      val banded = Dedup.mhBandedDf(s, d).transform(graft.CacheTracker.cached)

      // the four corpus artifacts (what a steady-state corpus has on disk)
      LmGate.write(corpus, s"$r/gate", buckets = Sharding.CurriculumPhases,
        mode = LmGate.Mode.Addone, maxBigrams = GateCap)
      DedupIndex.write(banded.filter(!inBatchStream), s"$r/dedup")
      SubstringIndex.write(corpus, s"$r/substr")
      Bm25Index.write(corpus, s"$r/bm25")
      val gate = LmGate.load(s, s"$r/gate")

      cyclePreds.zipWithIndex.foreach { case (pred, i) =>
        if (maintain && i > 0) maintainIfChurned(s, r, cycle = i)
        val batch = docs.filter(pred)
        admit(if (qualityGate) Some(gate) else None, batch,
          banded.filter(pred), s"$r/dedup", s"$r/substr",
          s"$r/admitted${i + 1}.parquet")
        val admittedIds = Tables.readParquet(s, s"$r/admitted${i + 1}.parquet")
        val admitted = batch.join(admittedIds, Seq("doc_id"))
        // FOLD: O(batch) appends — the band keys the NEXT cycle's novelty
        // probe must see, the windows its decontam probe must see, the
        // postings + additive scalars the retrieval index serves
        DedupIndex.append(
          banded.filter(pred).join(admittedIds, Seq("doc_id")), s"$r/dedup")
        SubstringIndex.append(admitted, s"$r/substr")
        Bm25Index.append(admitted, s"$r/bm25")
      }

      // RE-DERIVE + SHIP: curriculum phases under the stored gate for the
      // grown corpus, within-phase epoch shuffle as ONE composite-key rank
      // (phase·2⁴⁹ + h48 is monotone lexicographic, exact below 2⁵³ — the
      // q_sample_curriculum construction), shards dealt round-robin by
      // curriculum position and written one file per shard in order
      val admittedAll = cyclePreds.indices
        .map(i => Tables.readParquet(s, s"$r/admitted${i + 1}.parquet"))
        .reduce(_ unionByName _)
      val all = corpus.unionByName(
        docs.join(admittedAll, Seq("doc_id")))
      // the drift-refresh face (q_pipeline_refresh): the ADMISSION gate
      // stays the artifact frozen when the batch arrived (that is what
      // the recorded decision was made under — replays must agree), but
      // the CURRICULUM the next epoch trains on is re-scored under a gate
      // re-fit on corpus ∪ admitted, committed onto the live gate dir via
      // the crash-safe swap. Boundaries are true terciles of the grown
      // corpus again, not the stale cut points of the original.
      val servingGate =
        if (refreshGate) {
          LmGate.refresh(all, s"$r/gate", buckets = Sharding.CurriculumPhases,
            mode = LmGate.Mode.Addone, maxBigrams = GateCap)
          LmGate.load(s, s"$r/gate")
        } else gate
      val keyed = servingGate.bucketed(all)
        .select(col("doc_id"), col("bucket").as("phase"),
          h48(concat(lit("p1#"), col("doc_id").cast("string"))).as("h"))
        .select(col("doc_id"), col("phase"),
          (-(col("phase").cast("long") * lit(1L << 49) + col("h"))).as("neg_key"))
      // same composite (phase, uniform-hash) key as the curriculum
      // report → same literal thresholds, no percentile pass (r18)
      DistributedRank.rankDescWithThresholds(keyed, "neg_key", "doc_id",
        Sharding.phaseHashThresholds(s), "rk")
        .select(col("doc_id"), (col("rk") - 1).as("rk0"))
        .select(col("doc_id"),
          pmod(col("rk0"), lit(Shards)).cast("int").as("shard"),
          expr(s"rk0 DIV $Shards").as("pos"))
        .join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
        .repartition(Shards, col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite").partitionBy("shard").parquet(s"$r/shards/epoch1")
    }

  /** The serving read both rows time: the stored shard tree's bytes plus
    * the two appended-artifact scalars (the BM25 meta's exact longs and
    * the band tree's distinct key count) as 1-row scalar broadcasts —
    * the pinned legitimate crossJoin shape.
    */
  private def report(s: SparkSession, root: String): DataFrame = {
    // heal-then-read via Bm25Index.metaDf (the reader "every meta consumer
    // goes through"): a raw parquet read would fail on the stranded
    // retired-only state a crashed meta swap leaves
    val bmMeta = Bm25Index.metaDf(s, s"$root/bm25")
      .select(col("n").as("bm25_n"), col("sum_dl").as("bm25_sum_dl"))
    val bandKeys = DedupIndex.load(s, s"$root/dedup")
      .select("band", "k1", "k2").distinct()
      .agg(count(lit(1)).as("band_keys"))
    Tables.readParquet(s, s"$root/shards/epoch1")
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        Sharding.sigSum(col("doc_id"), col("pos")).as("order_sig"),
        sum(col("n_chars")).cast("long").as("chars_sum"))
      .crossJoin(broadcast(bmMeta))
      .crossJoin(broadcast(bandKeys))
      .orderBy("shard")
  }

  /** SQL batch predicates for the two rows — must mirror the Spark
    * `Column` predicates in [[queries]] exactly.
    */
  private def singleBatchSql =
    Seq(s"(doc_id % 4 = 3 AND doc_id < $BatchIdBound)")
  private def twoCycleSql = Seq(
    s"(doc_id % 4 = 3 AND doc_id < $Cycle2Start)",
    s"(doc_id % 4 = 3 AND doc_id >= $Cycle2Start AND doc_id < $BatchIdBound)")

  val queries: Seq[Q] = Seq(
    Q("q_pipeline_stored", oracleSql(singleBatchSql, qualityGate = true)) { (s, d) =>
      val root = StoredArtifacts.of(s"pipeline|$d")(
        build(s, d, _, Seq(inBatchStream), qualityGate = true))
      report(s, root)
    },

    // the dedup-gated ingest variant: every batch doc is admitted unless
    // the GROWN trees flag it — which is what makes the feed-forward case
    // natural (near-dup documents share their quality score, so a
    // quality-first funnel drops whole near-dup families in the same
    // tercile and the cross-cycle rejection never fires; a re-crawl-
    // facing ingest loop dedups everything and leaves quality to the
    // curriculum gate, which this row still serves from the same stored
    // artifact)
    Q("q_pipeline_cycles", oracleSql(twoCycleSql, qualityGate = false)) { (s, d) =>
      val root = StoredArtifacts.of(s"pipeline-cycles|$d")(
        build(s, d, _, Seq(
          inBatchStream && col("doc_id") < Cycle2Start,
          inBatchStream && col("doc_id") >= Cycle2Start),
          qualityGate = false))
      report(s, root)
    },

    // the production "Tuesday-night compaction" case: identical two-cycle
    // ingest to q_pipeline_cycles, but between cycle 1 and cycle 2 the
    // three appendable trees are COMPACTED when the fragmentation signal
    // fires (maintainIfChurned — the q_dedup_index_stats observability
    // wired to its action, every decision recorded in maint_log.parquet).
    // Sharing the cycles row's EXACT replay oracle is the claim: cycle-2
    // admission — probed against compacted trees — must be bit-identical
    // with and without the mid-loop maintenance, and so must every
    // downstream stage (curriculum, shards, artifact scalars). PipelineSpec
    // additionally pins that the trigger actually FIRED (non-vacuous) and
    // that the recorded admitted2 set equals the unmaintained run's.
    Q("q_pipeline_maint", oracleSql(twoCycleSql, qualityGate = false)) { (s, d) =>
      val root = StoredArtifacts.of(s"pipeline-maint|$d")(
        build(s, d, _, Seq(
          inBatchStream && col("doc_id") < Cycle2Start,
          inBatchStream && col("doc_id") >= Cycle2Start),
          qualityGate = false, maintain = true))
      report(s, root)
    },

    // the trained-model drift-refresh face, composed: same single-cycle
    // funnel as q_pipeline_stored (admission under the gate FROZEN when
    // the batch arrived — the recorded decision's contract), but the
    // curriculum the next epoch trains on is re-scored under a gate
    // RE-FIT on corpus ∪ admitted (LmGate.refresh: full retrain committed
    // onto the live gate dir by the crash-safe swap) — boundaries are
    // true terciles of the grown corpus again. The oracle re-derives the
    // whole second gate (counts, cap, vocab, scores, boundaries over the
    // final member set) and phases the curriculum under IT, so a refresh
    // that silently kept the stale artifact — or a swap that tore it —
    // cannot hash-match. PipelineSpec pins the refresh is non-vacuous
    // (some document changes phase at the driver's gate scale).
    Q("q_pipeline_refresh",
      oracleSql(singleBatchSql, qualityGate = true, refreshGate = true)) { (s, d) =>
      val root = StoredArtifacts.of(s"pipeline-refresh|$d")(
        build(s, d, _, Seq(inBatchStream), qualityGate = true,
          refreshGate = true))
      report(s, root)
    }
  )

  /** The full base-table replay, generalized over ingest cycles: gate
    * training + boundary extraction on the original corpus, then per
    * cycle the admission CTEs — LM cut against the frozen boundaries,
    * band-hit EXISTS against the MEMBER SET AS OF THAT CYCLE (corpus ∪
    * all earlier admissions — the oracle-side mirror of probing the
    * grown trees), window-hash membership against the same member set —
    * then the curriculum permutation, the shard grouping, and the two
    * artifact scalars over the final member set. Every fragment mirrors
    * an already-oracle-checked query (q_curation_stored,
    * q_dedup_index_*, q_text_decontam_stored, q_sample_curriculum,
    * q_shard_stored); the composition — and for the cycles row the
    * feed-forward — is the new claim.
    */
  private def oracleSql(batchPreds: Seq[String],
                        qualityGate: Boolean,
                        refreshGate: Boolean = false): String = {
    val K = SubstringDedup.K
    val M = Sharding.SigMod
    val anyBatch = batchPreds.mkString(" OR ")
    def corpusPred(t: String) =
      s"NOT (${batchPreds.map(_.replace("doc_id", s"$t.doc_id")).mkString(" OR ")})"
    def bandHit(member: String) = (0 until MinhashBands).map { b =>
      s"""EXISTS (SELECT 1 FROM sigs e JOIN $member m ON m.doc_id = e.doc_id
         |      WHERE e.sig_${2 * b} = i.sig_${2 * b}
         |        AND e.sig_${2 * b + 1} = i.sig_${2 * b + 1})""".stripMargin
    }.mkString("\n    OR ")
    val bandKeysUnion = (0 until MinhashBands).map(b =>
      s"SELECT $b AS band, sig_${2 * b} AS k1, sig_${2 * b + 1} AS k2 " +
        s"FROM sigs JOIN member${batchPreds.size} USING (doc_id)")
      .mkString("\n      UNION ALL ")
    val smoothedScore =
      """round(CAST(sum(CAST(round(ln(CAST(coalesce(c12, 0) + 1 AS DOUBLE)
        |      / CAST(coalesce(c1, 0) + vsz AS DOUBLE)), 9) AS DECIMAL(20,9))) AS DOUBLE)
        |      / count(*), 6)""".stripMargin
    val cycles = batchPreds.zipWithIndex.map { case (pred, idx) =>
      val i = idx + 1
      val q =
        if (qualityGate)
          s"""SELECT b.doc_id FROM scored b, bnd
             |  WHERE (${pred.replace("doc_id", "b.doc_id")})
             |    AND (b.s > bnd.b2s OR (b.s = bnd.b2s AND b.doc_id <= bnd.b2i))""".stripMargin
        else
          s"SELECT b.doc_id FROM documents b WHERE ${pred.replace("doc_id", "b.doc_id")}"
      s"""batch_q$i AS (
         |  $q
         |),
         |dup$i AS (
         |  SELECT i.doc_id FROM sigs i JOIN batch_q$i USING (doc_id)
         |  WHERE (${bandHit(s"member$idx")})
         |),
         |dirty$i AS (
         |  SELECT DISTINCT w.doc_id FROM (
         |    SELECT d.doc_id, md5(substr(d.text, t.i::int, $K)) AS h
         |    FROM documents d
         |    JOIN generate_series(1, 100000) t(i)
         |      ON t.i <= length(d.text) - $K + 1
         |    WHERE ${pred.replace("doc_id", "d.doc_id")}
         |  ) w JOIN batch_q$i USING (doc_id)
         |  WHERE w.h IN (
         |    SELECT md5(substr(d.text, t.i::int, $K))
         |    FROM documents d JOIN member$idx m ON m.doc_id = d.doc_id
         |    JOIN generate_series(1, 100000) t(i)
         |      ON t.i <= length(d.text) - $K + 1
         |  )
         |),
         |admitted$i AS (
         |  SELECT doc_id FROM batch_q$i
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dup$i)
         |    AND doc_id NOT IN (SELECT doc_id FROM dirty$i)
         |),
         |member$i AS (
         |  SELECT doc_id FROM member$idx
         |  UNION ALL SELECT doc_id FROM admitted$i
         |)""".stripMargin
    }.mkString(",\n")
    val memberK = s"member${batchPreds.size}"
    // the capped-LM gate chain (counts → cap → vocab → scores → tercile
    // boundaries), parameterized by training member set and CTE suffix:
    // the ORIGINAL chain (sfx = "", trained on member0) always exists and
    // drives ADMISSION; with refreshGate a second chain (sfx = "r",
    // trained on the final member set) is emitted after the cycles and
    // drives the CURRICULUM — the oracle mirror of LmGate.refresh.
    def gateChain(member: String, sfx: String) =
      s"""cbg$sfx AS (SELECT bg.* FROM bg JOIN $member USING (doc_id)),
         |c12full$sfx AS (SELECT w1, w2, count(*) AS c12 FROM cbg$sfx GROUP BY w1, w2),
         |c12$sfx AS (
         |  SELECT w1, w2, c12 FROM (
         |    SELECT w1, w2, c12,
         |      row_number() OVER (ORDER BY c12 DESC, w1 || ' ' || w2) AS rn
         |    FROM c12full$sfx
         |  ) WHERE rn <= $GateCap
         |),
         |c1$sfx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12$sfx GROUP BY w1),
         |v$sfx AS (SELECT count(*) AS vsz FROM c1$sfx),
         |scored$sfx AS (
         |  SELECT doc_id, $smoothedScore AS s
         |  FROM bg LEFT JOIN c12$sfx USING (w1, w2) LEFT JOIN c1$sfx USING (w1)
         |  CROSS JOIN v$sfx GROUP BY doc_id
         |),
         |bnd$sfx AS (
         |  SELECT
         |    max(CASE WHEN rk = (total // 3) + least(1, total % 3)
         |        THEN s END) AS b1s,
         |    max(CASE WHEN rk = (total // 3) + least(1, total % 3)
         |        THEN doc_id END) AS b1i,
         |    max(CASE WHEN rk = 2 * (total // 3) + least(2, total % 3)
         |        THEN s END) AS b2s,
         |    max(CASE WHEN rk = 2 * (total // 3) + least(2, total % 3)
       |        THEN doc_id END) AS b2i
         |  FROM (
         |    SELECT doc_id, s,
         |      row_number() OVER (ORDER BY s DESC, doc_id) AS rk,
         |      count(*) OVER () AS total
         |    FROM scored$sfx JOIN $member USING (doc_id)
         |  )
         |)""".stripMargin
    val g = if (refreshGate) "r" else ""
    val refreshedChain =
      if (refreshGate) gateChain(memberK, "r") + ",\n" else ""
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
       |bg AS (
       |  SELECT doc_id, sh[1] AS w1, sh[2] AS w2 FROM (
       |    SELECT doc_id, string_split(b, ' ') AS sh FROM (
       |      SELECT doc_id, unnest(${shinglesFromTokensSql("toks", 2)}) AS b FROM toks
       |    )
       |  )
       |),
       |member0 AS (SELECT doc_id FROM documents d WHERE ${corpusPred("d")}),
       |${gateChain("member0", "")},
       |sigs AS (${Dedup.minhashSelect}),
       |$cycles,
       |${refreshedChain}phased AS (
       |  SELECT m.doc_id,
       |    CASE WHEN s.s > bnd.b1s OR (s.s = bnd.b1s AND m.doc_id <= bnd.b1i)
       |         THEN 1
       |         WHEN s.s > bnd.b2s OR (s.s = bnd.b2s AND m.doc_id <= bnd.b2i)
       |         THEN 2
       |         ELSE 3 END AS phase,
       |    ${h48Sql("'p1#' || CAST(m.doc_id AS VARCHAR)")} AS h
       |  FROM $memberK m JOIN scored$g s ON s.doc_id = m.doc_id CROSS JOIN bnd$g bnd
       |),
       |r AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY phase, h, doc_id) - 1 AS rk0
       |  FROM phased
       |),
       |scal AS (
       |  SELECT
       |    (SELECT count(*) FROM $memberK) AS bm25_n,
       |    (SELECT CAST(coalesce(sum(len(toks)), 0) AS BIGINT)
       |     FROM toks JOIN $memberK USING (doc_id)) AS bm25_sum_dl,
       |    (SELECT count(*) FROM (
       |      SELECT DISTINCT band, k1, k2 FROM (
       |      $bandKeysUnion
       |      )
       |    )) AS band_keys
       |)
       |SELECT CAST(r.rk0 % $Shards AS INT) AS shard,
       |  count(*) AS n_docs,
       |  CAST(sum((r.doc_id % $M) * ((r.rk0 // $Shards) % $M) % $M)
       |       % $M AS BIGINT) AS order_sig,
       |  CAST(sum(d.n_chars) AS BIGINT) AS chars_sum,
       |  scal.bm25_n, scal.bm25_sum_dl, scal.band_keys
       |FROM r JOIN documents d ON d.doc_id = r.doc_id CROSS JOIN scal
       |GROUP BY 1, scal.bm25_n, scal.bm25_sum_dl, scal.band_keys
       |ORDER BY shard""".stripMargin
  }
}
