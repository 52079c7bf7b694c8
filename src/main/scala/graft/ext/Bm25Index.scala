package graft.ext

import graft.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import TextHash._

/** The BM25 inverted index AT REST — the retrieval member of the
  * at-rest-artifact family ([[DedupIndex]] bands, [[SubstringIndex]]
  * shingles, [[AnnIndex]] cells, [[LmGate]] counts):
  *
  *  - [[write]] tokenizes the corpus ONCE and stores one postings row per
  *    (term, document) — `(t, doc_id, dl, tf)` — PARTITIONED BY
  *    `tb = pmod(xxhash64(t), Buckets)`. A term's postings land in
  *    exactly one bucket directory, so term selectivity becomes
  *    file-listing selectivity: a query touching q distinct buckets reads
  *    q directories, never the corpus. The two corpus scalars the ranking
  *    needs — document count `n` (the idf numerator) and average document
  *    length `avgdl` (the length normalizer) — are frozen properties of
  *    the indexed corpus, stored in a 1-row meta file.
  *  - [[search]] joins the stored postings against the broadcast term set
  *    on `(tb, t)`; the partition column is a join key, so Spark's
  *    dynamic partition pruning turns the broadcast into a runtime
  *    partition filter on the scan (Bm25IndexSpec asserts `dynamicpruning`
  *    on the executed plan). df/idf are per-term aggregates of the pruned
  *    rows (≤ |terms| output rows); the stored scalars ride as literals —
  *    the served plan has NO corpus-wide aggregate and no scalar cross
  *    join. Arithmetic is [[Bm25.termScore]] itself (one shared
  *    definition), so stored serving is bit-identical to
  *    [[Bm25.search]]'s from-scratch scores — pinned by spec and by the
  *    shared driver oracle (q_text_bm25_stored).
  *
  * Contrast at 100 TB: [[Bm25.search]] re-tokenizes and re-explodes the
  * corpus per query (fine for one-off slicing); this index pays that scan
  * once at build and serves every subsequent query from q bucket
  * directories. The bucket fan is a version-stamped layout parameter
  * (same [[IndexVersion]] discipline as the other trees): probing a tree
  * written under a different fan or hash would read the wrong directories
  * and silently miss every posting, so [[load]] refuses a marker
  * mismatch.
  */
object Bm25Index {

  /** Term-bucket fan. Same sizing logic as [[DedupIndex.Buckets]]:
    * directory count is a fixed listing/commit cost, directory size is
    * the probe's scan unit — raise with corpus size so each bucket stays
    * ~one chunky file.
    */
  val Buckets = 16

  /** Layout marker: v2 = `pmod(xxhash64(t), buckets)` bucketing with the
    * fan baked into the name, meta scalars in ADDITIVE long form
    * (n, sum_dl, n_dl — v1 stored pre-divided doubles, which an
    * incremental append cannot update exactly). A tree written under a
    * different fan or meta layout fails the name check, not just a
    * doc-comment contract.
    */
  private[graft] def markerOf(buckets: Int): String = s"_GRAFT_BM25_2_b$buckets"

  /** The postings rows: whole-corpus tokenize → explode → per-(doc, term)
    * tf, with the document length denormalized onto each row (it rides
    * the groupBy key — no second tokenize pass, no join at serve time).
    * Exactly [[Bm25.search]]'s tf table plus the bucket column.
    */
  private[ext] def postings(docs: DataFrame, buckets: Int): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(col("doc_id"), size(toks).cast("double").as("dl"),
        explode(toks).as("t"))
      .groupBy("doc_id", "dl", "t").agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("tb", pmod(xxhash64(col("t")), lit(buckets)))
  }

  /** The corpus scalars, in their ADDITIVE form: total doc count (the idf
    * numerator), the exact integer sum of document token lengths, and the
    * count of docs contributing a length (null-text docs count toward `n`
    * but not toward the average — the same semantics as
    * `avg(size(tokens))`). Stored as longs so [[append]]'s update is pure
    * integer addition — bit-identical to a from-scratch recompute at any
    * corpus below 2⁵³ total tokens (integer sums are exact in doubles
    * there, which is also why the from-scratch `avg` agrees with the
    * oracle regardless of summation order).
    */
  private def scalars(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n"),
      coalesce(sum(size(tokens(col("text"))).cast("long")), lit(0L)).as("sum_dl"),
      count(size(tokens(col("text")))).as("n_dl"))

  /** Build and persist: one corpus scan for the postings (the pre-write
    * repartition on the partition column is load-bearing — without it
    * every task writes a sliver into every bucket directory), one for the
    * additive scalars. Any PREVIOUS marker is deleted FIRST and the fresh
    * one lands LAST: a rebuild over an already-stamped tree therefore has
    * no window where a kill leaves new scalars + old postings (or a
    * mixed-fan tree) under a still-valid marker — from unstamp to stamp
    * the tree is refused at load, the same loud stance as a killed first
    * write (the [[LmGate]] partial-write lesson). In-place rebuilds still
    * lose availability for their duration; a production rebuild that must
    * stay serveable should target a fresh directory and swap
    * ([[rebucket]] with the same fan IS that, via [[IndexMaintenance]]).
    */
  def write(docs: DataFrame, path: String, buckets: Int = Buckets): Unit =
    IndexMaintenance.withLease(docs.sparkSession, path, "bm25-write") {
      unstamp(docs.sparkSession, path)
      scalars(docs)
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta.parquet")
      postings(docs, buckets).repartition(col("tb"))
        .write.mode("overwrite").partitionBy("tb").parquet(s"$path/postings.parquet")
      IndexVersion.stamp(docs.sparkSession, path, markerOf(buckets))
    }

  /** Remove EVERY `_GRAFT_BM25_*` marker at `path` — not just the current
    * fan's: a rebuild under fan 8 over a fan-16 tree that only stamped its
    * own marker would leave the stale `…_b16` one valid, and a later
    * `load(path, 16)` would pass the check while every probe reads the
    * wrong directories (the exact silent-miss class the marker exists to
    * refuse). Glob-delete closes it.
    */
  private def unstamp(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = fs.globStatus(new Path(path, "_GRAFT_BM25_*"))
    if (stale != null) stale.foreach(st => fs.delete(st.getPath, false))
  }

  /** Incremental append: index a batch of NEW documents into the stored
    * tree — O(batch), base part files never rewritten. A new doc's
    * postings rows are new (doc, term) pairs by construction, so the
    * parquet append is exact; the corpus scalars update by integer
    * addition of the batch's own (n, sum_dl, n_dl), which is
    * bit-identical to a from-scratch rebuild (spec-pinned, and the
    * declared q_text_bm25_append row proves it against the full-corpus
    * oracle). The meta REWRITE is the ordering hazard here, not the
    * postings append: new meta lands only after the postings rows do, so
    * a crash between the two leaves the old scalars with extra postings —
    * df/tf correct, idf/avgdl slightly stale, and [[fsck]] detects and
    * repairs exactly that state from the postings tree; the meta commit
    * itself is the staging+rename swap of [[appendMeta]], never a
    * delete-then-write. SINGLE WRITER per tree (see [[appendMeta]]).
    * PRECONDITION (the [[AnnIndex.append]] contract): the batch's doc_ids
    * are disjoint from the indexed corpus — a replayed doc would double
    * its tf rows; at-least-once dedup belongs upstream. The marker is
    * checked BEFORE any write, so appending into a tree bucketed under a
    * different fan is refused before bad rows land.
    */
  def append(docs: DataFrame, path: String, buckets: Int = Buckets): Unit =
    IndexMaintenance.withLease(docs.sparkSession, path, "bm25-append") {
      appendPostings(docs, path, buckets)
      appendMeta(docs, path)
    }

  /** The postings half of [[append]] — package-visible so the fsck spec
    * can reproduce the documented crash window (postings landed, meta
    * never updated) without sleeping on a kill.
    */
  private[graft] def appendPostings(docs: DataFrame, path: String,
                                  buckets: Int = Buckets): Unit = {
    IndexVersion.check(docs.sparkSession, path, markerOf(buckets),
      "BM25 postings index (refusing to append under a different bucket " +
        "fan or hash than the stored tree's — the mixed tree would route " +
        "probes to the wrong directories)")
    postings(docs, buckets).repartition(col("tb"))
      .write.mode("append").partitionBy("tb").parquet(s"$path/postings.parquet")
  }

  /** The scalar half of [[append]]: fold the batch's (n, sum_dl, n_dl)
    * into the stored meta by integer addition, committed via a staging
    * directory + the [[graft.sink.DirSwap]] rename discipline — the meta
    * rewrite is therefore atomic-or-recoverable (a crash leaves either the
    * old or the new meta complete, never a deleted-but-unwritten one; the
    * stranded retire state heals at the next [[metaDf]] read). SINGLE
    * WRITER REQUIRED: two concurrent appends would both land postings
    * while the loser's scalar fold is overwritten — idf/avgdl silently
    * wrong thereafter (detectable and repairable by [[fsck]], but the
    * append contract is one writer per tree, same as every other at-rest
    * artifact here).
    */
  private[ext] def appendMeta(docs: DataFrame, path: String): Unit = {
    val s = docs.sparkSession
    val old = metaDf(s, path).collect()(0)
    val b = scalars(docs).collect()(0)
    import s.implicits._
    writeMeta(s, path,
      Seq((old.getAs[Long]("n") + b.getAs[Long]("n"),
           old.getAs[Long]("sum_dl") + b.getAs[Long]("sum_dl"),
           old.getAs[Long]("n_dl") + b.getAs[Long]("n_dl")))
        .toDF("n", "sum_dl", "n_dl"))
  }

  /** Heal-then-read of the meta file — every meta consumer goes through
    * this so a crashed [[writeMeta]] swap recovers on the next read.
    * Public because "every consumer" includes out-of-object serving reads
    * ([[Pipeline.report]]'s corpus scalars) — a raw parquet read of
    * `$path/meta.parquet` would fail on the stranded retired-only crash
    * state this heals.
    */
  def metaDf(s: SparkSession, path: String): DataFrame = {
    val live = new Path(s"$path/meta.parquet")
    val fs = live.getFileSystem(s.sparkContext.hadoopConfiguration)
    graft.sink.DirSwap.heal(fs, live,
      new Path(s"$path/meta.parquet${IndexMaintenance.RetiredSuffix}"))
    Tables.readParquet(s, s"$path/meta.parquet")
  }

  /** Replace the meta scalars via staging + atomic-ish promote (the
    * snapshot-sink discipline): the old `mode("overwrite")` deleted the
    * live scalars before the new file committed, so a crash mid-rewrite
    * left the index with NO meta at all — load failed until full rebuild.
    */
  private def writeMeta(s: SparkSession, path: String, meta: DataFrame): Unit = {
    val live = new Path(s"$path/meta.parquet")
    val staging = new Path(s"$path/meta.parquet${IndexMaintenance.StagingSuffix}")
    val retired = new Path(s"$path/meta.parquet${IndexMaintenance.RetiredSuffix}")
    val fs = live.getFileSystem(s.sparkContext.hadoopConfiguration)
    graft.sink.DirSwap.heal(fs, live, retired)
    fs.delete(staging, true)
    meta.coalesce(1).write.parquet(staging.toString)
    graft.sink.DirSwap.promote(fs, staging, live, retired)
  }

  /** The stored-vs-derived consistency report of [[fsck]]. `consistent`
    * is the three-way scalar equality; `repaired` records whether this
    * fsck call rewrote the meta.
    */
  final case class FsckReport(storedN: Long, storedSumDl: Long, storedNdl: Long,
                              derivedN: Long, derivedSumDl: Long, derivedNdl: Long,
                              consistent: Boolean, repaired: Boolean)

  /** Detect — and optionally repair — the one inconsistent state
    * [[append]]'s two-step commit can leave: postings landed, scalar fold
    * lost (a kill between the steps, or the documented lost-update of a
    * concurrent-writer violation). The corpus scalars are one aggregate of
    * the postings tree — `n` from distinct doc_ids, `sum_dl` from each
    * document's denormalized length, `n_dl` = the same distinct count (a
    * posted document's dl is never null) — so the repair is a recompute +
    * atomic meta rewrite, never a corpus re-tokenize.
    *
    * EXACTNESS CAVEAT, stated loudly: a document with NO tokens (null or
    * token-less text) contributes to `n` at write/append time but owns no
    * postings rows, so it is invisible here. For corpora that admit such
    * documents the derived `n` is a FLOOR: fsck would report a healthy
    * index inconsistent and a repair would undercount them. If token-less
    * documents can enter this index, treat an fsck mismatch as a rebuild
    * trigger instead of passing `repair = true`.
    */
  def fsck(spark: SparkSession, path: String, buckets: Int = Buckets,
           repair: Boolean = false): FsckReport = {
    // lease only on the repair path: detect-only is a read; the repair
    // write would clobber a concurrent append's meta fold without it. The
    // non-repair read inside the leased path is harmless double work.
    if (repair)
      IndexMaintenance.withLease(spark, path, "bm25-fsck-repair") {
        fsckInner(spark, path, buckets, repair = true)
      }
    else fsckInner(spark, path, buckets, repair = false)
  }

  private def fsckInner(spark: SparkSession, path: String, buckets: Int,
                        repair: Boolean): FsckReport = {
    // heal FIRST (mirrors load): a rebucket crashed between retire and
    // promote leaves the live root missing, and the marker check below
    // would misread that recoverable state as "rebuild the index"
    IndexMaintenance.heal(spark, path)
    IndexVersion.check(spark, path, markerOf(buckets),
      "BM25 postings index (fsck refuses an unstamped or foreign-fan tree " +
        "— derive-and-repair against the wrong layout would bless garbage)")
    val old = metaDf(spark, path).collect()(0)
    val d = spark.read.schema(PostingsSchema).parquet(s"$path/postings.parquet")
      .select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl").cast("long")), lit(0L)).as("sum_dl"),
        count(col("dl")).as("n_dl"))
      .collect()(0)
    val report = FsckReport(
      old.getAs[Long]("n"), old.getAs[Long]("sum_dl"), old.getAs[Long]("n_dl"),
      d.getAs[Long]("n"), d.getAs[Long]("sum_dl"), d.getAs[Long]("n_dl"),
      consistent = old.getAs[Long]("n") == d.getAs[Long]("n") &&
        old.getAs[Long]("sum_dl") == d.getAs[Long]("sum_dl") &&
        old.getAs[Long]("n_dl") == d.getAs[Long]("n_dl"),
      repaired = false)
    if (report.consistent || !repair) report
    else {
      import spark.implicits._
      writeMeta(spark, path,
        Seq((report.derivedN, report.derivedSumDl, report.derivedNdl))
          .toDF("n", "sum_dl", "n_dl"))
      report.copy(repaired = true)
    }
  }

  /** Collapse the accumulated append part files — after K appends every
    * touched bucket directory holds K files and probe cost grows with
    * FILE count — into one chunky file per bucket: [[rebucket]] under the
    * unchanged fan.
    */
  def compact(spark: SparkSession, path: String, buckets: Int = Buckets): Unit =
    rebucket(spark, path, buckets, buckets)

  /** Migrate the tree to a new bucket fan (the scale knob the class doc
    * says to raise with corpus size — frozen at write time until now):
    * read the stored postings, recompute `tb` under `toBuckets`, rewrite
    * into a staging root with the meta carried verbatim and the NEW fan's
    * marker stamped last, then atomically promote ([[IndexMaintenance]] —
    * marker, meta and postings change together or not at all; a crash
    * leaves the old fan serving). Also the compaction path: same fan in
    * and out collapses every bucket to one chunky file.
    */
  def rebucket(spark: SparkSession, path: String,
               fromBuckets: Int, toBuckets: Int): Unit = {
    require(toBuckets >= 1, s"bucket fan must be >= 1, got $toBuckets")
    IndexMaintenance.withLease(spark, path, "bm25-rebucket") {
    // heal FIRST (mirrors load and the other families' rebuckets): a
    // retry after a crash stranded between retire and promote must
    // restore the live root, not die on the marker check
    IndexMaintenance.heal(spark, path)
    IndexVersion.check(spark, path, markerOf(fromBuckets),
      "BM25 postings index (rebucket refuses a tree stamped under a " +
        "different fan than the caller claims — rewriting from the wrong " +
        "layout assumption would scatter every posting)")
    IndexMaintenance.swapTree(spark, path) { staging =>
      metaDf(spark, path)
        .coalesce(1).write.parquet(s"$staging/meta.parquet")
      spark.read.schema(PostingsSchema).parquet(s"$path/postings.parquet")
        .select(col("doc_id"), col("dl"), col("t"), col("tf"))
        .withColumn("tb", pmod(xxhash64(col("t")), lit(toBuckets)))
        .repartition(col("tb"))
        .write.partitionBy("tb").parquet(s"$staging/postings.parquet")
      IndexVersion.stamp(spark, staging, markerOf(toBuckets))
    }
    }
  }

  /** A loaded index: the postings scan plus the frozen corpus scalars
    * (re-derived from their additive form: `avgdl = sum_dl / n_dl`, one
    * double division of exact integers — the identical value Spark's
    * `avg` and DuckDB's `avg` reach).
    */
  final case class Index(postings: DataFrame, n: Double, avgdl: Double,
                         buckets: Int) {
    require(avgdl > 0,
      "bm25 index: stored avgdl is not positive — the indexed corpus was " +
        "empty or token-less; no query can be answered from it")
  }

  /** The postings' at-rest schema, pinned EXPLICITLY: inference would
    * type the `tb` partition column by its narrowest directory-name
    * parse (int for small fans — the probe join must never lean on
    * implicit casts, same rule as [[AnnIndex.load]]) and would THROW on
    * a data-less tree — with the explicit schema an index over an empty
    * corpus instead fails [[Index]]'s avgdl guard, the DESIGNED loud
    * refusal (a retrieval index over nothing can answer no query).
    */
  private val PostingsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, dl DOUBLE, t STRING, tf DOUBLE, tb BIGINT")

  def load(spark: SparkSession, path: String, buckets: Int = Buckets): Index = {
    IndexMaintenance.heal(spark, path)
    IndexVersion.check(spark, path, markerOf(buckets),
      "BM25 postings index (the stored tree was bucketed under a " +
        "different fan or hash than the probe computes — every lookup " +
        "would read the wrong directory and silently miss)")
    val m = metaDf(spark, path).collect()(0)
    Index(spark.read.schema(PostingsSchema).parquet(s"$path/postings.parquet"),
          m.getAs[Long]("n").toDouble,
          m.getAs[Long]("sum_dl").toDouble / m.getAs[Long]("n_dl"), buckets)
  }

  /** The bucket of a literal term, computed at PLAN time with the same
    * catalyst expressions the write side's column uses (XxHash64 seed-42 →
    * Pmod) — `eval()` runs the identical hash codepath codegen compiles,
    * so a driver-computed bucket can never drift from a stored row's
    * (Bm25IndexSpec pins the agreement against engine-computed rows).
    */
  private[graft] def bucketOf(term: String, buckets: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
    Pmod(new XxHash64(Seq(Literal(term))), Literal(buckets.toLong))
      .eval().asInstanceOf[Long]
  }

  /** Top-`k` documents for `terms`, served entirely from the stored tree:
    * the query's buckets are computed at plan time ([[bucketOf]]), so the
    * postings scan carries a LITERAL `tb IN (…)` partition filter —
    * static pruning, stronger than the dynamic variant (no runtime
    * subquery; unprobed bucket directories are never listed; Bm25IndexSpec
    * asserts `PartitionFilters` on the executed plan). df comes from the
    * pruned rows (postings are one row per (doc, term), so the per-term
    * row count IS the document frequency), idf/avgdl ride as literals of
    * the frozen scalars, and the per-term contribution is
    * [[Bm25.termScore]] — the identical 9dp-round/decimal-sum contract,
    * so results hash-match [[Bm25.search]] over the same corpus. An
    * absent term has no postings and therefore no df/idf row — it simply
    * never scores, in both engines. The pruned scan runs twice (df, then
    * the score join) — both legs read only the q probed buckets, which is
    * the cheap side of the trade (caching would pin partitions and hide
    * the pruning the spec asserts).
    */
  def search(idx: Index, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    val tbs = terms.map(bucketOf(_, idx.buckets)).distinct
    val tf = idx.postings
      .filter(col("tb").isin(tbs: _*) && col("t").isin(terms: _*))
      .select(col("doc_id"), col("dl"), col("t"), col("tf"))
    val idf = tf.groupBy("t").agg(count(lit(1)).cast("double").as("df"))
      .select(col("t"),
        round(log(lit(1.0) + (lit(idx.n) - col("df") + 0.5) / (col("df") + 0.5)), 9)
          .as("idf"))
    tf.join(broadcast(idf), Seq("t"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        round(sum(Bm25.termScore(col("tf"), col("dl"), lit(idx.avgdl), col("idf"))
                    .cast("decimal(20,9)")).cast("double"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)
  }
}
