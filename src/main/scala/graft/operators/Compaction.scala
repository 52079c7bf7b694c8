package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction for parquet table directories — the operational
  * companion to streaming ingest (graft.streaming.StreamingGraphIngest /
  * StreamingOps.maintainSnapshot): every micro-batch commit lands at least
  * one file, and at 100 TB a table of millions of kilobyte files turns
  * scan planning and IO into the bottleneck. Compaction rewrites the
  * directory into ~`targetBytes` files with the SAME crash-safe swap
  * discipline as the snapshot sinks: write to a staging dir, retire the
  * old directory, promote, drop the retired copy — readers never observe
  * a half-compacted table and a crash leaves either the old or the new
  * directory complete.
  *
  * The file count is derived from the CURRENT on-disk bytes (parquet in,
  * parquet out — compression characteristics carry over), never from row
  * counts the driver would have to guess at.
  */
object Compaction {

  /** Sibling-directory suffixes of the crash-safe swap — shared with
    * [[Vacuum.vacuumCompaction]], which must heal/collect EXACTLY the
    * names `compact` writes (a drifting literal would leave crashed
    * compactions stranding full table copies the vacuum never finds).
    */
  private[operators] val StagingSuffix = ".__compact_staging"
  private[operators] val RetiredSuffix = ".__compact_retired"

  final case class CompactionReport(
      filesBefore: Int, filesAfter: Int, bytes: Long, targetFiles: Int)

  /** Compacts one FLAT parquet directory. Preconditions, enforced:
    *  - the directory holds data files at its top level (a PARTITIONED
    *    table — only `col=value` subdirs — is rejected: compact each leaf
    *    partition instead, preserving the pruning layout);
    *  - no concurrent writer: a streaming query committing into `path`
    *    must be stopped (or pointed elsewhere) first. Files that appear
    *    between the input listing and the swap are detected and the
    *    compaction aborts with the staging discarded — concurrent commits
    *    are never silently deleted.
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): CompactionReport = {
    // 0 would make the partition target Infinity → Int.MaxValue
    // repartition; negative would silently compact everything to 1 file
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // derive siblings from the NORMALIZED path — string concatenation on a
    // trailing-slash `path` would nest them INSIDE the table directory and
    // the promote rename would fail after the rewrite was already paid
    val staging = new Path(dir.getParent, dir.getName + StagingSuffix)
    val retired = new Path(dir.getParent, dir.getName + RetiredSuffix)
    // self-heal a previous crash FIRST (before sizing the input)
    graft.sink.DirSwap.heal(fs, dir, retired)
    fs.delete(staging, true)

    // exclude BOTH hidden-name conventions Spark's reader skips: '_'
    // (markers like _SUCCESS) and '.' (e.g. .part-*.crc on checksum
    // filesystems) — counting dotfiles would inflate the report's
    // files/bytes and let a data-less dir pass the nonEmpty gate
    def listData() = fs.listStatus(dir)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
    // (name, length, mtime) — mtime catches a same-size in-place overwrite
    // that the (name, length) pair alone would miss
    def sig(fst: Array[org.apache.hadoop.fs.FileStatus]) =
      fst.map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSet
    val files = listData()
    require(files.nonEmpty,
      s"$path has no top-level data files — a partitioned table must be " +
        "compacted per leaf partition (the col=value layout is preserved that way)")
    val totalBytes = files.map(_.getLen).sum
    val target = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)

    // mergeSchema: without it Spark infers the schema from ONE arbitrary
    // footer, and a directory whose files evolved (a later producer added
    // a column) would be rewritten — and promoted — WITHOUT the newer
    // column: permanent silent data loss. Merging unions the fields (old
    // rows read null for added columns, the normal evolution semantics).
    // Hence the plain Spark read here, not Tables.readParquet (one footer).
    spark.read.option("mergeSchema", "true").parquet(path)
      .repartition(target)
      .write.parquet(staging.toString)

    // abort if anything committed into the table while we compacted —
    // swapping now would silently delete those rows. Re-listed immediately
    // before promote to keep the check-then-act window as narrow as the
    // filesystem allows (documented single-writer precondition still holds).
    val now = sig(listData())
    if (now != sig(files)) {
      fs.delete(staging, true)
      throw new IllegalStateException(
        s"$path changed during compaction (concurrent writer?) — aborted, table untouched")
    }
    graft.sink.DirSwap.promote(fs, staging, dir, retired)

    // same BOTH-conventions exclusion as listData: counting .crc
    // siblings would report filesAfter ≈ 2× target on checksum filesystems
    val after = fs.listStatus(dir).count(f => f.isFile &&
      !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
    CompactionReport(files.length, after, totalBytes, target)
  }
}
