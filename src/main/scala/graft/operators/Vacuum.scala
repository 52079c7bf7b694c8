package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Snapshot-area garbage collection. The swap discipline (DirSwap /
  * FileSnapshotCommit) consumes its staging and retired directories on
  * every SUCCESSFUL commit — but a run that dies before its barrier leaves
  * `_staging/<runId>` behind, and a crash inside the swap window leaves
  * `_retired_<runId>` for the next commit's self-heal. Over months of
  * scheduled runs those stranded directories accumulate into real storage
  * (a crashed 100 TB run strands 100 TB).
  *
  * Vacuum removes stranded artifacts older than `maxAgeMs`, by
  * modification time. Preconditions: run it when no collection is in
  * flight against `base` (there is no cross-process run registry), and
  * keep `maxAgeMs` comfortably above the longest plausible run so an
  * in-flight staging dir can never look stale. `current` is never touched.
  */
object Vacuum {

  /** `removedTmp` is populated only by [[vacuumSqlite]] (partial
    * `<db>.tmp-<runId>` files); the parquet/csv vacuum never produces it.
    */
  final case class VacuumReport(removedStaging: Seq[String],
                                removedRetired: Seq[String],
                                removedTmp: Seq[String] = Seq.empty)

  def vacuum(spark: SparkSession, base: String,
             maxAgeMs: Long = 24L * 3600 * 1000,
             nowMs: Long = System.currentTimeMillis()): VacuumReport = {
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stale(p: org.apache.hadoop.fs.FileStatus): Boolean =
      nowMs - p.getModificationTime > maxAgeMs

    val stagingRoot = new Path(s"$base/_staging")
    val staging =
      if (!fs.exists(stagingRoot)) Seq.empty
      else fs.listStatus(stagingRoot).filter(s => s.isDirectory && stale(s)).toSeq
    staging.foreach(s => fs.delete(s.getPath, true))

    // a STALE retired dir is only removable when `current` exists — if the
    // swap died mid-promote, the retired copy is the only snapshot and the
    // next commit's self-heal needs it; vacuum must never win that race
    val current = new Path(s"$base/current")
    val retired =
      if (!fs.exists(new Path(base))) Seq.empty
      else fs.listStatus(new Path(base))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("_retired_")
          && stale(s) && fs.exists(current)).toSeq
    retired.foreach(s => fs.delete(s.getPath, true))

    VacuumReport(staging.map(_.getPath.getName), retired.map(_.getPath.getName))
  }

  /** GC for [[Compaction]]'s swap siblings: a compaction that crashes
    * after writing its staging copy strands `<table>.__compact_staging` —
    * a FULL rewritten copy of the table that only a re-run of `compact`
    * on the same path would otherwise reclaim (the base [[vacuum]] sweeps
    * the snapshot `_staging/<runId>` layout, not this one). A leftover
    * `.__compact_retired` is healed first (restored when the table itself
    * is missing — it is then the only copy — dropped otherwise, the same
    * DirSwap rule `compact` applies); stale staging is removed under the
    * same age discipline as [[vacuum]].
    */
  def vacuumCompaction(spark: SparkSession, table: String,
                       maxAgeMs: Long = 24L * 3600 * 1000,
                       nowMs: Long = System.currentTimeMillis()): VacuumReport = {
    val dir = new Path(table)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(dir.getParent, dir.getName + Compaction.StagingSuffix)
    val retired = new Path(dir.getParent, dir.getName + Compaction.RetiredSuffix)
    val hadRetired = fs.exists(retired)
    val hadLive = fs.exists(dir)
    graft.sink.DirSwap.heal(fs, dir, retired)
    val removedStaging =
      if (fs.exists(staging) &&
          nowMs - fs.getFileStatus(staging).getModificationTime > maxAgeMs) {
        fs.delete(staging, true); Seq(staging.getName)
      } else Seq.empty
    // heal DELETED retired only when the live table already existed; with
    // the table missing it RESTORED retired as the live dir instead —
    // that is a recovery, not a removal, and stays out of the report
    VacuumReport(removedStaging,
      if (hadRetired && hadLive) Seq(retired.getName) else Seq.empty)
  }

  /** GC for the native SQLite destination's work areas: a run that dies
    * before its commit strands `<database>.staging/<runId>` (staged
    * record files) and possibly `<database>.tmp-<runId>` (partial db file);
    * successful commits remove only their OWN runId, so siblings from
    * crashed runs accumulate. Same age discipline as [[vacuum]]; the
    * database file itself is never touched.
    */
  def vacuumSqlite(spark: SparkSession, database: String,
                   maxAgeMs: Long = 24L * 3600 * 1000,
                   nowMs: Long = System.currentTimeMillis()): VacuumReport = {
    val fs = new Path(database).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stale(p: org.apache.hadoop.fs.FileStatus): Boolean =
      nowMs - p.getModificationTime > maxAgeMs

    val stagingRoot = new Path(s"$database.staging")
    val staging =
      if (!fs.exists(stagingRoot)) Seq.empty
      else fs.listStatus(stagingRoot).filter(s => s.isDirectory && stale(s)).toSeq
    staging.foreach(s => fs.delete(s.getPath, true))
    try fs.delete(stagingRoot, false) // remove the root iff now empty
    catch { case _: java.io.IOException => () }

    val parent = Option(new Path(database).getParent).getOrElse(new Path("."))
    val tmpPrefix = new Path(database).getName + ".tmp-"
    val tmps =
      if (!fs.exists(parent)) Seq.empty
      else fs.listStatus(parent)
        .filter(s => s.isFile && s.getPath.getName.startsWith(tmpPrefix) && stale(s)).toSeq
    tmps.foreach(s => fs.delete(s.getPath, false))

    VacuumReport(staging.map(_.getPath.getName), Seq.empty,
                 tmps.map(_.getPath.getName))
  }
}
