package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.J). The reference is strictly
  * batch-snapshot; these operators make the events surface incremental. The
  * transformations are the SAME shapes used by the batch queries in
  * [[graft.operators.Events]] — a windowed aggregate written against a
  * stream runs unchanged over a static frame, which is how the batch oracle
  * pins their semantics.
  */
object StreamingOps {

  /** File-source stream over a *directory* of events parquet files (Spark's
    * FileStreamSource watches directories, never single files; new files
    * appear as micro-batches at scale).
    *
    * FileStreamSource needs a declared schema, but the `ts` physical shape
    * is PRODUCER-controlled (epoch-nanos long, TIMESTAMP_NTZ micros, or
    * UTC-adjusted — the testdata has shipped more than one of these), so a
    * hardcoded schema is exactly the portability bug this avoids: infer
    * the real shape from the files already present, then route through the
    * same [[graft.Tables.normalizeEventsTs]] the batch loader uses. Batch
    * and stream therefore see identical instants by construction.
    */
  def eventsStream(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Infer the producer's ts shape from files already present. An EMPTY
    // landing directory (the normal deployment: start watching, files
    // arrive later) has nothing to infer from — fall back to the current
    // testdata generation's shape (TIMESTAMP_NTZ micros, TESTDATA.md)
    // rather than failing stream construction. Mixed-generation
    // directories are the producer's contract to avoid: one stream reads
    // ONE schema; re-create the stream when the producer shape changes.
    val producerSchema =
      try graft.Tables.readParquet(spark, path).schema
      catch { case _: org.apache.spark.sql.AnalysisException =>
        // LOUD fallback: construction succeeded on an assumption — if the
        // producer then lands a different ts shape (e.g. the ≤r7
        // epoch-nano INT64), the mismatch surfaces only at runtime, so
        // leave a diagnosable trace in the stream's stderr now
        System.err.println(s"[graft.streaming] events landing dir '$path' " +
          "is empty at stream construction — assuming the current " +
          "testdata generation's schema (ts TIMESTAMP_NTZ micros). If the " +
          "producer lands a different ts shape, this stream will fail or " +
          "misread at runtime: re-create it once files exist.")
        StructType(Seq(
          StructField("event_id", LongType), StructField("ts", TimestampNTZType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType)))
      }
    graft.Tables.normalizeEventsTs(
      spark.readStream.schema(producerSchema).parquet(path))
  }

  /** §2.J1 tumbling aggregate — identical shape to q_events_tumbling. */
  def tumblingCounts(events: DataFrame, width: String = "1 day"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           graft.operators.Relational.dsum(col("value"), 4).as("val_sum"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("val_sum"))

  /** §2.J4 watermarked variant: append-mode emission, late data dropped
    * once the watermark passes the window end. Same aggregate (and same
    * output schema) as [[tumblingCounts]] — consumers can switch between
    * the bounded-state and unbounded forms without a schema change.
    */
  def tumblingWithWatermark(events: DataFrame, width: String, lateness: String): DataFrame =
    tumblingCounts(events.withWatermark("ts", lateness), width)

  /** §2.J5 stateful dedup bounded by the watermark (state is evictable —
    * the unbounded `dropDuplicates` would grow state forever on a real
    * stream).
    */
  def dedupWithinWatermark(events: DataFrame, lateness: String): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** §2.J3 session windows (30 min gap) per user — streaming-capable. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("sw.start").as("session_start"), col("user_id"), col("n_events"))

  /** Stream-stream interval join: each purchase joins the SAME user's view
    * events from the preceding `lookback` window. Both sides carry
    * watermarks, so Spark bounds the join state: a buffered view is evicted
    * once the purchase-side watermark passes `view.ts + lookback` — without
    * the time bound a stream-stream join would buffer forever.
    *
    * INNER join semantics: a purchase with no view inside the window emits
    * NO row (this stream answers "which views led here", not "count all
    * purchases") — use Spark's watermarked `leftOuter` interval join when
    * view-less purchases must surface with null view columns.
    */
  def purchasesWithRecentViews(
      purchases: DataFrame,
      views: DataFrame,
      lateness: String = "10 minutes",
      lookback: String = "30 minutes"): DataFrame = {
    val p = purchases.withWatermark("ts", lateness)
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
              col("event_id").as("purchase_id"))
    val v = views.withWatermark("ts", lateness)
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
              col("event_id").as("view_id"))
    p.join(v, expr(
      s"""p_user = v_user AND
         |v_ts >= p_ts - INTERVAL $lookback AND v_ts <= p_ts""".stripMargin))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("view_id"),
              col("p_ts"), col("v_ts"))
  }

  /** Per-ROW minhash LSH bands for a document stream: (doc_id, band, key).
    *
    * The batch signature ([[graft.ext.Dedup]]) aggregates exploded shingles
    * by doc_id — on a stream that would be unbounded keyed state. But a
    * document arrives as ONE row with its full text, so the signature is
    * computable inside the row: `array_min` over a `transform` of the
    * shingle array replaces `groupBy(doc_id).agg(min(...))` exactly (min
    * over the distinct hash set equals min over the multiset). Zero state,
    * zero shuffle — the operator runs identically over batch and stream.
    * A document with fewer than 5 tokens has no shingles → null signature
    * → its band keys never match the index (same as the batch shape, where
    * such documents produce no signature row).
    */
  def minhashBanded(docs: DataFrame): DataFrame = {
    import graft.ext.TextHash._
    // shingle width, row hash, and band layout come from the SAME
    // constants the batch index uses (Dedup.K, h31, MinhashPerms) — a
    // mirrored literal here would silently desync stream signatures from
    // the batch-built index they join, turning every hit into a miss
    val hashes = transform(
      shinglesFromTokens(tokens(col("text")), graft.ext.Dedup.K),
      sh => h31(sh))
    graft.ext.TextHash.requireTwoRowBandKey()
    val sigs = MinhashPerms.map { case (a, b) =>
      array_min(transform(hashes, h => (h * a + b) % Mersenne31))
    }
    docs.select(col("doc_id"), posexplode(array((0 until MinhashBands).map { b =>
      struct(sigs(2 * b).as("k1"), sigs(2 * b + 1).as("k2"))
    }: _*)).as(Seq("band", "key")))
      // a shingle-less doc's key is struct(null, null) — Spark's struct
      // equi-join matches nested nulls BINARILY, so without this filter
      // every short document would "hit" every other short document
      .filter(col("key.k1").isNotNull)
  }

  /** Streaming incremental dedup (the q_dedup_incremental shape as a
    * stream): incoming documents equi-join the STATIC corpus band index —
    * a stream-static broadcast/hash join, stateless on the stream side.
    * Emits one row per (doc_id, band) hit; any emitted row flags the
    * document as a near-dup of something already in the corpus. The index
    * is the distinct (band, key) table a production pipeline maintains
    * incrementally (e.g. via [[maintainSnapshot]]).
    */
  def incrementalDedup(incoming: DataFrame, bandIndex: DataFrame): DataFrame =
    // CONTRACT: bandIndex rows are distinct (band, key). A freshly
    // WRITTEN DedupIndex satisfies it by construction (indexRows
    // .distinct() before write, asBandKey preserves it) — but an APPENDED
    // tree may legitimately hold a key twice (DedupIndex.append stores
    // cross-batch duplicates rather than paying an O(index) anti-join per
    // ingest; the batch probe dedupes its hit set, this streaming join
    // does NOT). Feeding an appended tree here fans out duplicate
    // (doc_id, band) hit rows: any-hit consumers are unaffected, but
    // anything counting rows (an n_bands_hit aggregate) overcounts — run
    // DedupIndex.compact(path) first (crash-safe in-place collapse back
    // to distinct keys) before serving a maintained tree to streams. No
    // defensive re-distinct here: the static side of a stream-static join
    // re-executes EVERY micro-batch, so a distinct would re-shuffle the
    // whole corpus index per batch for zero effect on a conforming
    // producer. A non-distinct side stays visible, never wrong-answer,
    // for any-hit semantics.
    minhashBanded(incoming)
      .join(bandIndex.select("band", "key"), Seq("band", "key"))
      .select(col("doc_id"), col("band"))

  /** Streaming exact-substring probe — the [[graft.ext.SubstringIndex]]
    * consumed as a stream-static join. The window-hash projection
    * (filter + explode + two xxhash64) is stateless, so each micro-batch
    * emits exactly the hit positions the batch probe computes for those
    * documents (pinned by StreamingSpec); the island merge into maximal
    * spans needs per-document ordering — a non-time window, unavailable
    * on an unbounded stream — and stays the downstream batch finisher,
    * exactly like the ANN probe's top-k. Emits (doc_id, pos) per window
    * of an incoming doc whose k-gram already exists in the corpus; any
    * row flags verbatim overlap.
    */
  def incrementalSubstring(incoming: DataFrame, index: DataFrame,
                           k: Int = graft.ext.SubstringDedup.K,
                           sample: Int = 1,
                           buckets: Int = graft.ext.SubstringIndex.Buckets): DataFrame = {
    val bw = graft.ext.SubstringIndex.withBucket(
      graft.ext.SubstringDedup.windowHashes(incoming, k, sample), buckets)
    bw.join(index, Seq("bucket", "h1", "h2")).select("doc_id", "pos")
  }

  /** Streaming ANN index maintenance — the embedding analogue of the
    * (band, key) dedup index. An IVF-PQ index row (vec_id, cell id,
    * packed 8-byte code) is a PURE PER-ROW PROJECTION (the codegen'd
    * CentroidAssign + PqEncode expressions), so appending to the index
    * from a stream is stateless: each micro-batch produces exactly the
    * rows a batch rebuild would produce for those vectors (batch ≡
    * streaming, pinned by StreamingSpec). Maintain the table with
    * [[maintainSnapshot]]-style appends; it is keyed by vec_id, and the
    * centroids/codebook are the frozen training artifacts a production
    * index versions separately (re-training ⇒ re-encode, a batch job).
    */
  def annIndexRows(vecs: DataFrame,
                   cents: Seq[(Long, Seq[Double], Double)],
                   cb: Seq[Seq[Seq[Double]]]): DataFrame =
    graft.ext.Similarity.indexRows(vecs, cents, cb)

  /** Streaming ANN probe (the q_embed_ivfpq shape as a stream): each
    * incoming probe vector selects its `nprobe` nearest cells
    * (projection-only), equi-joins the STATIC IVF-PQ index on cid — a
    * stream-static hash join, stateless on the stream side — and scores
    * candidate CODES with the PqAdc kernel. Emits (qid, cand, adc) for
    * candidates within `maxDist` — the flag-shaped output a stateless
    * stream can produce; per-probe top-k needs a downstream batch/window
    * finisher, exactly like the dedup flags feed a batch closure job.
    */
  def incrementalAnn(incoming: DataFrame, index: DataFrame,
                     cents: Seq[(Long, Seq[Double], Double)],
                     cb: Seq[Seq[Seq[Double]]],
                     nprobe: Int, maxDist: Double): DataFrame = {
    val probes = incoming
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        explode(graft.ext.Similarity.topCells(cents, col("v"), nprobe)).as("sc"))
      .select(col("qid"), col("qv"), (-col("sc.ncid")).as("cid"))
    probes.join(index, Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand"),
        graft.functions.PqAdc.pq_adc(col("qv"), col("pq_code"), cb,
          graft.ext.Similarity.PqSub).as("adc"))
      .filter(col("adc") <= maxDist)
  }

  /** Typed rows for the custom-state operator below (case-class Encoders —
    * the `Dataset[T]` surface SURVEY §1.3 reserves for fixed internal
    * records).
    */
  final case class UserEvent(user_id: Long, event_type: String, value: Double)
  final case class UserSpend(user_id: Long, n_purchases: Long, total: Double,
                             crossed_100: Boolean)

  /** Custom keyed state via `flatMapGroupsWithState` (SURVEY §2.J): a
    * running per-user purchase total that flags the batch in which the
    * cumulative spend first crosses 100 — the "emit on threshold" shape
    * (fraud/budget alerting) that `groupBy().agg()` cannot express because
    * the OUTPUT depends on state held ACROSS micro-batches, not on any
    * single batch's rows. State is one (count, total) pair per user —
    * bounded by the user population, evictable with a timeout in
    * production; update-mode emission, one row per user per batch that
    * touches it.
    */
  def runningSpend(events: org.apache.spark.sql.Dataset[UserEvent])
      : org.apache.spark.sql.Dataset[UserSpend] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.filter(_.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), UserSpend](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (user, batch, state: GroupState[(Long, Double)]) =>
          val (n0, t0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var t = t0
          batch.foreach { e => n += 1; t += e.value }
          if (n == n0) Iterator.empty // no purchases for this key this batch
          else {
            state.update((n, t))
            Iterator.single(UserSpend(user, n, t, crossed_100 = t0 < 100 && t >= 100))
          }
      }
  }

  final case class CdcEvent(user_id: Long, event_id: Long,
                            ts: java.sql.Timestamp, event_type: String,
                            value: Double)
  final case class CdcState(user_id: Long, last_type: String,
                            last_ts: java.sql.Timestamp, last_value: Double,
                            n_events: Long)

  /** Streaming face of the CDC changelog apply (q_events_cdc_apply):
    * latest-wins per-key state held across micro-batches via
    * `flatMapGroupsWithState`. Every batch that touches a key emits that
    * key's CURRENT state; downstream serving filters the tombstone type
    * exactly like the batch query. Latest-wins under the (ts, event_id)
    * order is ARRIVAL-ORDER-INDEPENDENT — max over a set — so replaying
    * the same events in any batch split converges to the batch window's
    * rn=1 row (StreamingSpec pins stream ≡ batch on the real events
    * table). State per key is one row; production adds a timeout for
    * eviction, same stance as [[runningSpend]].
    */
  def cdcLatestState(events: org.apache.spark.sql.Dataset[CdcEvent])
      : org.apache.spark.sql.Dataset[CdcState] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    def later(a: CdcEvent, b: CdcEvent): Boolean = {
      val c = a.ts.compareTo(b.ts)
      c > 0 || (c == 0 && a.event_id > b.event_id)
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(CdcEvent, Long), CdcState](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (user, batch, state: GroupState[(CdcEvent, Long)]) =>
          val init = state.getOption
          var latest = init.map(_._1).orNull
          var n = init.map(_._2).getOrElse(0L)
          var touched = false
          batch.foreach { e =>
            touched = true; n += 1
            if (latest == null || later(e, latest)) latest = e
          }
          if (!touched) Iterator.empty
          else {
            state.update((latest, n))
            Iterator.single(CdcState(user, latest.event_type, latest.ts,
              latest.value, n))
          }
      }
  }

  /** The COMPOSED streaming admission stage — the pieces above
    * (per-row band signatures, the stored-index probes, the frozen-gate
    * bucketing) assembled into the funnel the pipeline rows run in batch:
    * per micro-batch of incoming documents `(doc_id, text)`,
    *
    *   quality (stored [[graft.ext.LmGate]]: head/middle terciles pass)
    *   → novelty (any band hit against the at-rest [[graft.ext.DedupIndex]])
    *   → decontamination (any verbatim ≥K-gram overlap against the
    *     at-rest [[graft.ext.SubstringIndex]])
    *
    * emitting the admitted `(doc_id, batch_id)` rows to a parquet sink.
    * The derivation is LITERALLY [[graft.ext.Pipeline.admittedIdsOf]] —
    * one definition for batch and stream, so the two cannot drift
    * (StreamingSpec pins any-split ≡ batch on the pipeline's own corpus
    * split anyway, against both fresh and appended trees).
    *
    * Why foreachBatch and not a pure stream transform: the admit set
    * anti-joins the batch against its OWN probe hit sets — stream-stream
    * anti-joins are unsupported (and the per-doc quality score is a keyed
    * aggregate) — but every one of those shapes is trivially correct
    * within one micro-batch, which is exactly what foreachBatch provides.
    * Admission is per-document, and the probed trees are static for the
    * stream's lifetime, so micro-batch boundaries cannot change the
    * answer. The gate only ADMITS — it never appends to the trees it
    * probes (the decision-barrier contract); the FOLD stays a batch job
    * downstream, which also keeps the incrementalDedup appended-tree
    * caveat moot here (probe dedupes its hits — "dedupe in the gate").
    *
    * Delivery is parquet-append per micro-batch: at-least-once under
    * sink-side replays — the emitted `batch_id` column is the replay
    * dedup key a downstream consumer filters on (`max(batch_id)` per doc,
    * or an idempotent upsert sink in production).
    */
  def admissionGate(incoming: DataFrame, gateDir: Option[String],
                    dedupPath: String, substrPath: String, outPath: String,
                    queryName: String = "graft-admission")
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .queryName(queryName)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        graft.CacheTracker.scope {
          val gate = gateDir.map(graft.ext.LmGate.load(s, _))
          graft.ext.Pipeline
            .admittedIdsOf(gate, batch, minhashBanded(batch),
              dedupPath, substrPath)
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(outPath)
        }
      }
      .start()

  /** The full streaming INGEST loop — [[admissionGate]] plus the FOLD:
    * per micro-batch, the admitted remainder is appended into the very
    * trees the next micro-batch's probes read, so the loop feeds forward
    * exactly like `q_pipeline_cycles`' batch cycles (a document that
    * near-dups an earlier micro-batch's ADMISSION is rejected — the
    * stream IS the steady-state ingest pipeline, micro-batch = ingest
    * cycle; StreamingSpec pins stream-of-2-chunks ≡ the pipeline row's
    * recorded two-cycle admission sets, and the folded BM25 scalars
    * match the batch loop's bit-for-bit).
    *
    * The order inside each micro-batch is load-bearing, twice:
    *
    *  - the admission DECISION is written to `decisionsPath` and read
    *    back BEFORE any append — the same disk barrier the batch
    *    pipeline uses, because the decision's lineage probes the trees
    *    the folds then mutate (the append-lineage hazard: a lazy plan
    *    re-evaluated after the append sees the batch's own keys as
    *    duplicates and silently shrinks the admitted set);
    *  - each fold acquires its tree's writer lease ([[graft.ext
    *    .IndexMaintenance.withLease]]), so a concurrently scheduled
    *    maintenance job (compaction between micro-batches — the
    *    q_pipeline_maint cadence) is serialized against the stream's
    *    appends instead of silently losing one side.
    *
    * Delivery: the decision sink is at-least-once per `batch_id` (same
    * note as [[admissionGate]]); the FOLDS are idempotence-critical —
    * a replayed micro-batch would double its postings/keys (the
    * documented disjoint-batch append precondition), so production runs
    * this with a checkpointed query where foreachBatch batchIds are
    * exactly-once, or dedupes replays on `batch_id` before folding.
    */
  def ingestLoop(incoming: DataFrame, gateDir: Option[String],
                 dedupPath: String, substrPath: String, bm25Path: String,
                 decisionsPath: String,
                 queryName: String = "graft-ingest-loop")
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .queryName(queryName)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        graft.CacheTracker.scope {
          val gate = gateDir.map(graft.ext.LmGate.load(s, _))
          val banded = minhashBanded(batch)
            .transform(graft.CacheTracker.cached)
          // ADMIT + the decision barrier (write completes before any
          // fold). Decisions are PARTITIONED by batch_id so the
          // read-back below opens exactly this batch's directory — a
          // column filter over the flat dir would re-scan every past
          // micro-batch's decisions, O(stream lifetime) per batch.
          graft.ext.Pipeline
            .admittedIdsOf(gate, batch, banded, dedupPath, substrPath)
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").partitionBy("batch_id").parquet(decisionsPath)
          val admitted = s.read
            .schema(org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT"))
            .parquet(s"$decisionsPath/batch_id=$batchId")
          // FOLD: O(batch) appends, same order as Pipeline.build — the
          // keys the NEXT micro-batch's novelty probe must see, the
          // windows its decontam probe must see, the postings +
          // additive scalars the retrieval index serves
          graft.ext.DedupIndex.append(
            banded.join(admitted, Seq("doc_id")), dedupPath)
          val admittedDocs = batch.join(admitted, Seq("doc_id"))
          graft.ext.SubstringIndex.append(admittedDocs, substrPath)
          graft.ext.Bm25Index.append(admittedDocs, bm25Path)
        }
      }
      .start()

  /** Incremental snapshot maintenance: every micro-batch of a complete-mode
    * aggregate is written to staging and promoted with the SAME atomic
    * swap the batch engine uses (K2, [[graft.sink.FileSnapshotCommit]]) —
    * readers of `<base>/current` always see one complete, consistent state
    * of the aggregate, never a half-written micro-batch. This is the
    * streaming extension of the reference's snapshot semantics; the
    * reference itself is batch-only (SURVEY §2.J).
    */
  def maintainSnapshot(
      aggregated: DataFrame,
      base: String,
      queryName: String = "graft-snapshot"): org.apache.spark.sql.streaming.StreamingQuery =
    aggregated.writeStream
      .queryName(queryName)
      .outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val runId = s"b$batchId"
        batch.write.mode("overwrite").parquet(s"$base/_staging/$runId/snapshot")
        graft.sink.FileSnapshotCommit(base, runId).commit(batch.sparkSession)
      }
      .start()
}
