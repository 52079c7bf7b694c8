package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The IVF-PQ index AT REST — the piece that turns the in-memory equi-join
  * plan of [[Similarity.ivfPqTopKWith]] into a disk layout where a probe
  * reads only its cells:
  *
  *  - [[write]] stores one row per vector (vec_id, pq_code) PARTITIONED BY
  *    `cid` (`…/cid=<c>/part-*.parquet`). Cells are directories, so cell
  *    selectivity becomes file-listing selectivity — at 10⁹ vectors and
  *    √N cells, a probe touching `nprobe` cells reads `nprobe`·√N rows of
  *    8-byte codes, not the corpus.
  *  - [[probe]] joins the stored index against a broadcast probe set on
  *    `cid`. Spark's dynamic partition pruning turns the broadcast side
  *    into a runtime partition filter on the scan (AnnIndexSpec asserts
  *    `dynamicpruning` in the plan), so only the probed cell directories
  *    are read — the disk analogue of the equi-join candidate generation.
  *  - [[probeCells]] is the static variant for KNOWN cells: a literal
  *    `cid IN (…)` predicate that prunes at planning time
  *    (`PartitionFilters` in the scan, also asserted by the spec).
  *
  * The centroids/codebook are the training artifacts the index rows were
  * ENCODED under (re-training ⇒ re-encode): [[write]] stamps a
  * fingerprint of both next to the data and [[load]] verifies the
  * caller's against it — re-trained centroids keep the SAME cid ids
  * (refineCentroids preserves them), so a stale tree's cid equi-join
  * would match directories cleanly while every stored assignment is
  * wrong: recall silently collapses with no error, the same
  * silent-wrong-result class the [[DedupIndex]]/[[SubstringIndex]]
  * markers close.
  */
object AnnIndex {

  /** Layout-version + training-artifact marker: digests the exact
    * centroid set (ids, components, norms) and PQ codebook at full
    * double precision — a rounded fingerprint would accept a retrain
    * that moved every assignment slightly.
    */
  private def fingerprint(cents: Seq[(Long, Seq[Double], Double)],
                          cb: Seq[Seq[Seq[Double]]]): String = {
    val sb = new StringBuilder
    cents.sortBy(_._1).foreach { case (id, v, n) =>
      sb.append(id).append(':').append(v.mkString(",")).append(':').append(n).append(';')
    }
    sb.append('|')
    cb.foreach { sub => sub.foreach(c => sb.append(c.mkString(",")).append(';')); sb.append('#') }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(sb.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }
  private def markerOf(cents: Seq[(Long, Seq[Double], Double)],
                       cb: Seq[Seq[Seq[Double]]]): String =
    s"_GRAFT_ANN_1_${fingerprint(cents, cb)}"

  /** Build and persist the index: one projection over the corpus
    * (codegen'd cell assignment + PQ encode), written partitioned by cell.
    * The pre-write repartition on the partition column is load-bearing
    * (same rule as [[DedupIndex.write]]/[[SubstringIndex.write]]):
    * indexRows preserves the input's partitioning, so without it every
    * task writes a sliver into every cell directory — tasks × √N-cells
    * tiny files at scale.
    */
  def write(vecDf: DataFrame, cents: Seq[(Long, Seq[Double], Double)],
            cb: Seq[Seq[Seq[Double]]], path: String): Unit =
    IndexMaintenance.withLease(vecDf.sparkSession, path, "ann-write") {
      Similarity.indexRows(vecDf, cents, cb)
        .repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(path)
      IndexVersion.stamp(vecDf.sparkSession, path, markerOf(cents, cb))
    }

  /** Incremental append: encode ONLY the new batch under the SAME frozen
    * centroids/codebook and add its rows into the existing cell
    * directories — base files are never rewritten, so ingest cost is
    * O(batch), not O(index). The marker check is the whole safety story:
    * appending rows encoded under RETRAINED artifacts would corrupt the
    * tree silently (refineCentroids preserves cid ids, so every join
    * still matches while every stored assignment is wrong — recall
    * collapses with no error), exactly the failure [[load]] refuses;
    * append refuses it at WRITE time, before the bad rows land.
    * PRECONDITION (same as [[graft.ext.DedupIndex]]'s incremental
    * contract): the batch is disjoint from the already-indexed corpus —
    * a replayed vec_id would duplicate its row; at-least-once dedup
    * belongs upstream. Parquet append is not atomic across files; a
    * killed append can leave a partial batch — replay the batch after a
    * rebuild, or use [[appendSwapped]] (the staging-copy-and-swap
    * variant: atomic, at O(index) rewrite cost). The same pre-write repartition as
    * [[write]] keeps one chunky file per touched cell.
    */
  def append(vecDf: DataFrame, cents: Seq[(Long, Seq[Double], Double)],
             cb: Seq[Seq[Seq[Double]]], path: String): Unit =
    IndexMaintenance.withLease(vecDf.sparkSession, path, "ann-append") {
      IndexVersion.check(vecDf.sparkSession, path, markerOf(cents, cb),
        "ANN index (refusing to append rows encoded under different " +
          "centroids/codebook than the stored tree's — the mixed tree would " +
          "serve silently-wrong neighbors; re-encode the full index instead)")
      Similarity.indexRows(vecDf, cents, cb)
        .repartition(col("cid"))
        .write.mode("append").partitionBy("cid").parquet(path)
    }

  /** The staging-copy-and-swap append the plain [[append]]'s partial-batch
    * note prescribes for production ingest: the merged tree (stored rows ∪
    * the batch encoded under the SAME frozen artifacts — marker-refused
    * otherwise, via [[load]]) is written to a staging root, stamped, and
    * atomically promoted over the live one ([[IndexMaintenance]]). A kill
    * at ANY point leaves either the pre-append or the post-append tree
    * complete — never the partial batch a killed parquet `mode("append")`
    * strands — and the stranded retire state self-heals at the next load.
    * The price is the honest one: this is an O(index) rewrite per ingest
    * (it is also a compaction — every cell collapses to one chunky file),
    * vs [[append]]'s O(batch) with replay-on-crash. Pick by cadence:
    * frequent small batches → [[append]] + periodic [[compact]]; rare
    * large folds or crash-intolerant serving → this.
    */
  def appendSwapped(vecDf: DataFrame, cents: Seq[(Long, Seq[Double], Double)],
                    cb: Seq[Seq[Seq[Double]]], path: String): Unit = {
    val s = vecDf.sparkSession
    IndexMaintenance.withLease(s, path, "ann-append-swapped") {
      val merged = load(s, path, cents, cb)
        .unionByName(Similarity.indexRows(vecDf, cents, cb))
      IndexMaintenance.swapTree(s, path) { staging =>
        merged.repartition(col("cid"))
          .write.partitionBy("cid").parquet(staging)
        IndexVersion.stamp(s, staging, markerOf(cents, cb))
      }
    }
  }

  /** Collapse the accumulated [[append]] part files — after K appends a
    * touched cell directory holds K files — back to one chunky file per
    * cell: the same crash-safe tree swap as [[appendSwapped]] with no new
    * rows. (No distinct: index rows are unique per vec_id by the append
    * precondition, and collapsing coincidental duplicates here would
    * silently bless a violated one.)
    */
  def compact(spark: SparkSession, path: String,
              cents: Seq[(Long, Seq[Double], Double)],
              cb: Seq[Seq[Seq[Double]]]): Unit =
    IndexMaintenance.withLease(spark, path, "ann-compact") {
      val rows = load(spark, path, cents, cb)
      IndexMaintenance.swapTree(spark, path) { staging =>
        rows.repartition(col("cid"))
          .write.partitionBy("cid").parquet(staging)
        IndexVersion.stamp(spark, staging, markerOf(cents, cb))
      }
    }

  /** Retrain-and-reindex — the missing maintenance sibling for the FROZEN
    * training artifacts: appends and compactions all serve under the
    * centroids/codebook fixed at build time (the markers refuse mismatches
    * — correctly), so a corpus that drifts from the build distribution
    * leaves recall silently degrading with no operation that can fix it
    * short of a by-hand rebuild. This is that operation, made first-class:
    * re-encode the CORPUS (`vecDf` — the vectors are the system of record;
    * the stored tree holds only lossy 8-byte codes, so re-encoding must
    * come from the source vectors, exactly as a production re-index does)
    * under the NEW artifacts into a staging root stamped with the NEW
    * marker, atomically promoted ([[IndexMaintenance]]). A crash at any
    * point leaves the old tree serving under the old marker; after promote
    * every probe must pass the new artifacts or be refused — the
    * stale-probe window is closed by the same fingerprint discipline as
    * ever. `oldCents`/`oldCb` identify the tree being replaced: retraining
    * a tree that is not the one the operator thinks it is (wrong path,
    * half-migrated layout) is refused before any work.
    *
    * Cost is honest: O(corpus) — one projection-only encode pass + the
    * partitioned write, the same shape as [[write]]. The number that
    * justifies running it is recall@k before/after on the grown corpus
    * (RECALL.json's `retrain` block, measured by RecallCheck).
    */
  def retrain(vecDf: DataFrame,
              oldCents: Seq[(Long, Seq[Double], Double)],
              oldCb: Seq[Seq[Seq[Double]]],
              newCents: Seq[(Long, Seq[Double], Double)],
              newCb: Seq[Seq[Seq[Double]]], path: String): Unit = {
    val s = vecDf.sparkSession
    IndexMaintenance.withLease(s, path, "ann-retrain") {
      IndexMaintenance.heal(s, path)
      IndexVersion.check(s, path, markerOf(oldCents, oldCb),
        "ANN index (retrain refuses a tree not stamped with the artifacts " +
          "the caller claims to be replacing — retiring the wrong tree " +
          "would silently drop someone else's index)")
      IndexMaintenance.swapTree(s, path) { staging =>
        Similarity.indexRows(vecDf, newCents, newCb)
          .repartition(col("cid"))
          .write.partitionBy("cid").parquet(staging)
        IndexVersion.stamp(s, staging, markerOf(newCents, newCb))
      }
    }
  }

  /** The partition column comes back through directory-name inference,
    * which types small cell ids as int — cast it back to long so the
    * at-rest schema is identical to the in-memory [[Similarity.indexRows]]
    * one and probe joins never lean on implicit int/long casts.
    */
  def load(spark: SparkSession, path: String,
           cents: Seq[(Long, Seq[Double], Double)],
           cb: Seq[Seq[Seq[Double]]]): DataFrame = {
    IndexMaintenance.heal(spark, path)
    IndexVersion.check(spark, path, markerOf(cents, cb),
      "ANN index (the stored rows were encoded under different centroids/" +
        "codebook than the ones passed — re-encode the index)")
    Tables.readParquet(spark, path).withColumn("cid", col("cid").cast("long"))
  }

  /** Structural fsck for the cell tree: the fingerprint marker matches
    * the passed training artifacts, every root entry a `cid=<id>`
    * directory whose id IS one of the centroid ids (a cell directory
    * outside the centroid set is unreachable — no probe ever selects that
    * cell, so its rows are silently invisible), stranded maintenance
    * siblings surfaced. No deep variant: stored rows are lossy 8-byte
    * codes, so per-row re-derivation needs the source vectors — that
    * check IS [[retrain]] (rebuild from the system of record).
    */
  def fsck(spark: SparkSession, path: String,
           cents: Seq[(Long, Seq[Double], Double)],
           cb: Seq[Seq[Seq[Double]]]): IndexMaintenance.TreeReport = {
    val ids = cents.map(_._1).toSet
    IndexMaintenance.TreeReport(
      IndexMaintenance.structuralIssues(spark, path,
        "_GRAFT_ANN_*", markerOf(cents, cb), "cid", ids.contains))
  }

  /** ADC top-k of `probeVecs` (vec_id, v) against the stored index: cell
    * selection is projection-only, candidates come from the cid join
    * (dynamic partition pruning restricts the scan to probed cells), and
    * scoring reads stored codes only.
    *
    * `excludeSelf` (default true) drops index rows whose vec_id equals
    * the probe's — correct when probes are drawn FROM the indexed corpus.
    * Pass false when the probe set is external (its own id space): an id
    * collision there is coincidence, and excluding it would silently drop
    * a true neighbor from the top-k.
    */
  def probe(index: DataFrame, probeVecs: DataFrame,
            cents: Seq[(Long, Seq[Double], Double)],
            cb: Seq[Seq[Seq[Double]]], nprobe: Int, k: Int,
            excludeSelf: Boolean = true): DataFrame =
    Similarity.probeIndex(index, probeVecs, cents, cb, nprobe, k, excludeSelf)

  /** Static-pruning scan of known cells: the literal IN-predicate reaches
    * the scan as a `PartitionFilters` entry, so unprobed cell directories
    * are never listed.
    */
  def probeCells(index: DataFrame, cids: Seq[Long]): DataFrame =
    index.filter(col("cid").isin(cids: _*))
}
