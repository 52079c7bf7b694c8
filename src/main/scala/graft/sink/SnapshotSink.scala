package graft.sink

import graft.config.{ArrowDest, DbDest, Destination, FileDestination, JdbcDestination, SqliteDest}
import graft.graph.{Graph, GraphNormalizer}
import graft.model.KindModel
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

import java.nio.charset.Charset
import java.nio.file.InvalidPathException
import java.sql.DriverManager
import java.util.concurrent.{ExecutionException, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

/** Snapshot-atomic sinks (SURVEY.md §4.4, reference collect.py:198-203):
  * every run writes to a staging area; only after ALL tables of ALL sources
  * land is the snapshot promoted, so readers never observe a half-loaded
  * state and a failed run leaves the previous snapshot intact.
  *
  *  - File targets: write `<base>/_staging/<runId>/<table>` then swap the
  *    `<base>/current` directory by rename (atomic on HDFS-like FS; on
  *    object stores use a pointer-file commit — same protocol).
  *  - SQLite: stage each table's rows as SQLite records, encoded on the
  *    executors, under `<database>.staging/<runId>/<table>`
  *    ([[SqliteRecordFormat]]); the commit packs them into one database
  *    file and renames it into place.
  *  - JDBC targets: write `<table>__tmp` then one transaction of
  *    RENAME DDL per table (dialect-specific), mirroring [D]
  *    `SqlUpdater.swap_temp_tables`.
  *
  * [[stage]] writes one source: its link tables and one write per kind
  * table, all running at once on a bounded pool. File and SQLite targets
  * write every link table in ONE partitioned write, and write everything
  * into a directory private to the source; each table is renamed into
  * `<runId>` only once every write has succeeded and the link names have
  * passed their checks.
  */
object SnapshotSink {

  /** JSON-encode nested columns for SQL destinations only (SURVEY §1.2):
    * parquet/csv keep full fidelity... csv cannot carry nested either, so
    * both csv and jdbc degrade through the same canonical to_json.
    */
  def flattenForSql(df: DataFrame): DataFrame = {
    // backtick-quote: a column literally named `a.b` would otherwise be
    // parsed as struct-field access on a nonexistent column `a`; an
    // embedded backtick must itself be doubled or the quoting breaks
    def q(n: String) = s"`${n.replace("`", "``")}`"
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: StructType | _: ArrayType | _: MapType =>
          to_json(col(q(f.name))).as(f.name)
        case _ => col(q(f.name))
      }
    }
    df.select(cols.toSeq: _*)
  }

  /** What one source staged: its table names, and its node and edge counts
    * — the SNAPSHOT's counts, observed on the writes (`Dataset.observe`),
    * never by re-executing a table's plan: at 100 TB a count-after-write
    * is a second full pass per source. A node of an undeclared or non-root
    * kind, or an edge with an unresolvable endpoint, lands in no table and
    * counts zero, exactly like the destination's own row counts.
    */
  final case class Staged(tables: Seq[String], nodes: Long, edges: Long)

  /** Where and how a directory-staged destination (file or SQLite) stages:
    * each run's tables under `<root>/<runId>`, written as `format` with
    * the destination's writer `options`.
    */
  private final case class FileStaging(root: String, format: String, options: Map[String, String])

  private def fileStaging(dest: Destination): FileStaging = dest match {
    case ArrowDest(cfg) =>
      val opts = Map("maxRecordsPerFile" -> cfg.batchSize.toString)
      // reference CSV carries a header [T :52]
      if (cfg.format == "csv") FileStaging(s"${cfg.path}/_staging", "csv", opts + ("header" -> "true"))
      else FileStaging(s"${cfg.path}/_staging", "parquet", opts)
    // SQLite records of the SQL-flattened schema, encoded by the write
    // tasks: staging keeps full write parallelism, and the single-file
    // build at commit (SqliteSnapshotCommit), after the global barrier,
    // only packs them into pages
    case SqliteDest(cfg) =>
      FileStaging(s"${cfg.database}.staging", classOf[SqliteRecordFormat].getName, Map.empty)
    case other => throw new IllegalArgumentException(s"$other stages no files")
  }

  /** Stage one source's graph under `runId` — the one staging entry point
    * of the batch runner and the streaming ingest. Several sources stage
    * concurrently into the same run; promotion is the committer's, after
    * the global barrier. The source's caches live in a
    * [[graft.CacheTracker.scope]] that closes when its staging returns.
    * A graph that cannot be staged at all (duplicate node ids, colliding
    * table names, a model that does not project) fails with
    * [[GraphNormalizer.InvalidGraphException]] before anything lands in
    * `<runId>`. A file or SQLite destination whose tables the JVM cannot
    * name on disk fails there too, with an `IllegalStateException`
    * ([[checkFileNames]]): that is the environment's fault, not the graph's.
    */
  def stage(g: Graph, dest: Destination, runId: String): Staged =
    stage(g, dest, runId, Charset.forName(System.getProperty("sun.jnu.encoding",
      Charset.defaultCharset.name)))

  /** [[stage]], with file and SQLite table names checked against
    * `fileNames` instead of the JVM's file-name charset.
    */
  private[graft] def stage(g: Graph, dest: Destination, runId: String,
                           fileNames: Charset): Staged = graft.CacheTracker.scope {
    dest match {
      case DbDest(_) => ()
      case _ => checkFileNames(g.model, fileNames)
    }
    val n = GraphNormalizer.normalize(g)
    val kinds = n.kinds.toSeq
    // the write thunks are built in this method, so the stack of the pool
    // thread that runs one (Spark's call site for its jobs) names `stage`
    dest match {
      case DbDest(_) =>
        // JDBC cannot rename directories into tables: per-pair writes off
        // the scoped resolved edge set, names checked before any write
        val links = n.links.toSeq
        val (edges, nodes) = concurrently((links ++ kinds).map { case (name, df) =>
          () => writeTable(df, dest, s"${name}__tmp")
        }).splitAt(links.size)
        Staged(kinds.map(_._1) ++ links.map(_._1), nodes.sum, edges.sum)
      case _ =>
        // every table into a directory private to this source, renamed
        // into the run only after all writes succeeded ([[moveIntoRun]])
        val to = fileStaging(dest)
        val own = new Path(s"${to.root}/$runId.links-${java.util.UUID.randomUUID().toString.take(8)}")
        val fs = own.getFileSystem(g.nodes.sparkSession.sparkContext.hadoopConfiguration)
        try {
          val linkWrite = () =>
            try GraphNormalizer.writeLinksPartitioned(n.graph, s"$own/links", to.format, to.options)
            catch { case e: Exception => throw unencodablePath(e, fileNames).getOrElse(e) }
          val (edges, nodes) = concurrently(linkWrite +: kinds.zipWithIndex.map {
            case ((_, df), i) => () => writeTable(df, dest, s"$own/kinds/$i")
          }).splitAt(1)
          val links = moveIntoRun(fs, own, s"${to.root}/$runId", kinds.map(_._1), g.model, fileNames)
          Staged(kinds.map(_._1) ++ links, nodes.sum, edges.sum)
        } finally fs.delete(own, true)
    }
  }

  /** Move what one source wrote into its private directory `own` (a
    * sibling of the run directory, so never promoted and never a table
    * name) into `runDir`. The link write is under `links/`, the i-th kind
    * under `kinds/<i>`, so no two concurrent writes nest even when one kind
    * name is a path prefix of another. The listing of the link write's pair
    * directories is checked first — [[GraphNormalizer.linkNames]], then
    * [[checkFileNames]] on the names it gives — so a failing graph lands
    * nothing in `runDir`. Returns the link table names.
    */
  private def moveIntoRun(fs: FileSystem, own: Path, runDir: String, kinds: Seq[String],
                          model: KindModel, fileNames: Charset): Seq[String] = {
    def values(dir: Path, column: String) =
      fs.listStatus(dir).toSeq.map(_.getPath).filter(_.getName.startsWith(s"$column="))
        .map(p => ExternalCatalogUtils.unescapePathName(p.getName.stripPrefix(s"$column=")) -> p)
    val pairs = for {
      (f, fDir) <- values(new Path(own, "links"), "from_kind")
      (t, tDir) <- values(fDir, "to_kind")
    } yield ((f, t), tDir)
    val names = GraphNormalizer.linkNames(model, pairs.map(_._1))
    checkFileNames(names, fileNames)
    // the same path string a per-table write into the run would use;
    // replaces a table of that name a replayed run staged before
    def move(name: String, dir: Path): Path = {
      val table = new Path(s"$runDir/$name")
      if (fs.exists(table)) fs.delete(table, true)
      fs.mkdirs(table.getParent)
      require(fs.rename(dir, table), s"could not move $dir to $table")
      table
    }
    // by name, so a kind whose name is a path prefix of another's lands
    // first and the other nests in it instead of being replaced by it
    kinds.zipWithIndex.sortBy(_._1).foreach { case (name, i) => move(name, new Path(s"$own/kinds/$i")) }
    names.zip(pairs).foreach { case (name, (_, dir)) =>
      // the completion marker a per-table write leaves in its directory
      fs.create(new Path(move(name, dir), "_SUCCESS")).close()
    }
    names
  }

  /** Run `writes` concurrently and return their results in order. The pool
    * (at most [[graft.engine.Runner.SourceParallelism]] threads) is created
    * here and its threads started on the calling thread, so they inherit
    * its Spark job group — the run's cancellation and job accounting still
    * see every write — and its cache scope. Every write ends, failed or
    * not, before this returns, so none still runs when the caller's scope
    * releases its caches or its private directory is deleted. The first
    * failure in `writes` order is rethrown as thrown, the others attached
    * to it as suppressed. An interrupt of the calling thread shuts the pool
    * down, interrupting the writes.
    */
  private def concurrently(writes: Seq[() => Long]): Seq[Long] = {
    val size = math.max(1, math.min(writes.size, graft.engine.Runner.SourceParallelism))
    val pool = new ThreadPoolExecutor(size, size, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable]())
    pool.prestartAllCoreThreads()
    try {
      val results = writes.map(w => pool.submit[Long](() => w())).map { f =>
        try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
      }
      results.collect { case Left(e) => e } match {
        case first +: rest =>
          rest.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        case _ => results.collect { case Right(r) => r }
      }
    } finally pool.shutdownNow()
  }

  /** Fail unless `charset` encodes every table name. File and SQLite
    * staging name a directory after every table, and a JVM creates only
    * file names its `sun.jnu.encoding` can encode (ASCII under the POSIX
    * locale). Kind tables are named by the model's root kinds, checked here
    * before anything is written; link tables by the kinds of the nodes in
    * the data, which may be non-root or absent from the model, checked on
    * the link write's listing before anything lands in the run
    * ([[moveIntoRun]]). The failure is an `IllegalStateException`, not an
    * [[GraphNormalizer.InvalidGraphException]]: the same export stages
    * under a UTF-8 locale, so streaming ingest must fail the batch and
    * retry it rather than skip it.
    */
  private[graft] def checkFileNames(model: KindModel, charset: Charset): Unit =
    checkFileNames(model.kinds.filter(_.aggregateRoot).map(_.fqn), charset)

  private def checkFileNames(tables: Seq[String], charset: Charset): Unit = {
    val enc = charset.newEncoder()
    tables.find(!enc.canEncode(_)).foreach(t => throw unencodable(s"table `$t`", charset))
  }

  private def unencodable(what: String, charset: Charset, cause: Throwable = null) =
    new IllegalStateException(s"$what cannot be staged: the JVM's file-name encoding " +
      s"(sun.jnu.encoding = ${charset.name}) cannot encode its name; " +
      "run the JVM under a UTF-8 locale, e.g. LC_ALL=C.UTF-8", cause)

  /** The charset failure behind `e`, if a path in its cause chain could not
    * be created because `charset` cannot encode it: under the POSIX locale
    * the link write fails this way on a data kind outside ASCII, before its
    * listing can be checked.
    */
  private[graft] def unencodablePath(e: Throwable, charset: Charset): Option[IllegalStateException] = {
    val enc = charset.newEncoder()
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case p: InvalidPathException if !enc.canEncode(p.getInput) =>
        unencodable("a link table", charset, e)
    }
  }

  /** Write `df` to `target` in the destination's staging — the JDBC table
    * of that name, or the directory at that path for a file or SQLite
    * destination — and return its observed rows. One Observation per
    * write: the count rides the write job's accumulators and is available
    * the moment the write returns.
    */
  private[graft] def writeTable(df: DataFrame, dest: Destination, target: String): Long = {
    val obs = Observation()
    // only parquet files keep nested columns; csv and SQL get JSON text
    val nested = dest match { case ArrowDest(cfg) => cfg.format != "csv"; case _ => false }
    val out = (if (nested) df else flattenForSql(df)).observe(obs, count(lit(1)).as("rows"))
    dest match {
      case DbDest(cfg) =>
        val w = out.write.mode("overwrite")
          .format("jdbc")
          .option("url", cfg.url)
          .option("dbtable", target)
          .option("batchsize", cfg.batchSize)
        cfg.user.foreach(w.option("user", _))
        cfg.password.foreach(w.option("password", _))
        // connection args (ssl etc.) apply whether the url was explicit
        // or assembled — Spark forwards unknown options as JDBC properties
        cfg.args.foreach { case (k, v) => w.option(k, v) }
        w.save()
      case _ =>
        val to = fileStaging(dest)
        out.write.mode("overwrite").format(to.format).options(to.options).save(target)
    }
    obs.get("rows").asInstanceOf[Long]
  }

  /** One commit per run — called exactly once, after the global barrier.
    * A bucket-bearing file destination (s3/gcs) gets the reference's
    * write-locally-then-upload step (collect.py:108-149) appended to the
    * local swap: promote `current`, then push every table directory to the
    * bucket via the pluggable uploader.
    */
  def committer(
      dest: Destination,
      runId: String,
      tables: Seq[String],
      uploader: BucketUploader = HadoopBucketUploader): SnapshotCommit =
    dest match {
      case ArrowDest(cfg) if cfg.bucket.isDefined =>
        UploadingSnapshotCommit(FileSnapshotCommit(cfg.path, runId), cfg, tables, uploader)
      case ArrowDest(cfg)  => FileSnapshotCommit(cfg.path, runId)
      case DbDest(cfg)     => JdbcSnapshotCommit(cfg, tables)
      case SqliteDest(cfg) => SqliteSnapshotCommit(cfg, runId, tables)
    }
}

/** Pushes one committed table directory to a cloud bucket. Pluggable so the
  * pipeline is testable without cloud credentials (local-filesystem fake in
  * EnginePipelineSpec); the default resolves the bucket through Hadoop's
  * `s3a://`/`gs://` filesystems and fails loudly when no connector is on
  * the classpath — a configured bucket is never silently ignored.
  */
trait BucketUploader extends Serializable {
  def upload(spark: SparkSession, tableDir: Path, cfg: FileDestination): Unit
}

object HadoopBucketUploader extends BucketUploader {

  /** Replace, never merge: `FileUtil.copy` into an EXISTING directory nests
    * the source under it — a second run would keep serving run-1 data at
    * the top level. Shared with test fakes so they exercise the same
    * replace semantics.
    */
  def replaceCopy(srcFs: org.apache.hadoop.fs.FileSystem, src: Path,
                  dstFs: org.apache.hadoop.fs.FileSystem, dst: Path,
                  conf: org.apache.hadoop.conf.Configuration): Unit = {
    if (dstFs.exists(dst)) dstFs.delete(dst, true)
    FileUtil.copy(srcFs, src, dstFs, dst, false, true, conf)
  }

  def upload(spark: SparkSession, tableDir: Path, cfg: FileDestination): Unit = {
    val scheme = if (cfg.provider.contains("gcs")) "gs" else "s3a"
    val bucket = cfg.bucket.getOrElse(
      throw new IllegalArgumentException("upload without bucket"))
    // copy, never mutate, the session-shared configuration: a per-
    // destination region must not leak into every later S3 access; the
    // uncached FS instance makes the copied region actually take effect
    // (Hadoop's FS cache keys ignore conf contents)
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    cfg.region.foreach { r =>
      conf.set("fs.s3a.endpoint.region", r)
      conf.setBoolean(s"fs.$scheme.impl.disable.cache", true)
    }
    val target = new Path(s"$scheme://$bucket/${tableDir.getName}")
    val srcFs = tableDir.getFileSystem(conf)
    val dstFs = target.getFileSystem(conf) // throws if no s3a/gs connector
    try replaceCopy(srcFs, tableDir, dstFs, target, conf)
    finally if (cfg.region.isDefined) {
      dstFs.close()
      // the cache-disable applies to BOTH getFileSystem calls: when the
      // snapshot base shares the bucket's scheme, srcFs is a SECOND
      // uncached instance with its own pools — close it too
      if (!(srcFs eq dstFs) && srcFs.getScheme == scheme) srcFs.close()
    }
    // ^ an uncached FS owns its own thread/connection pools; leaving one
    //   per upload alive would leak them across a streaming run's commits.
    //   The cached default (no region) must NOT be closed — it's shared.
  }
}

/** File swap first, then per-table upload of the promoted snapshot. */
final case class UploadingSnapshotCommit(
    inner: FileSnapshotCommit,
    cfg: FileDestination,
    tables: Seq[String],
    uploader: BucketUploader) extends SnapshotCommit {
  def commit(spark: SparkSession): Unit = {
    inner.commit(spark)
    tables.foreach { t =>
      uploader.upload(spark, new Path(s"${inner.base}/current/$t"), cfg)
    }
  }
}

/** Deferred promotion handle: `commit()` runs once, after the global
  * barrier (reference K2); never called on the failure path (K3).
  */
trait SnapshotCommit { def commit(spark: SparkSession): Unit }

/** THE crash-safe directory swap, shared by every dir-shaped promotion in
  * the engine (file snapshots, streaming snapshot maintenance, parquet
  * compaction) so the discipline — and any future fix to it — lives once:
  * self-heal a stranded retired dir, retire the live dir, promote staging,
  * roll back on failure, drop the retired copy. A crash at ANY point
  * leaves either the old or the new directory complete and recoverable.
  */
object DirSwap {

  /** Recover from a previous swap's crash window: a leftover `retired`
    * next to a MISSING live dir is the only copy — restore it; next to a
    * live dir it is a stale duplicate — drop it.
    */
  def heal(fs: FileSystem, live: Path, retired: Path): Unit =
    if (fs.exists(retired)) {
      if (!fs.exists(live)) require(fs.rename(retired, live), s"could not restore $live")
      else fs.delete(retired, true)
    }

  /** Retire `live` (if present), promote `staging` over it, roll the old
    * dir back if promotion fails — the live path is never left missing.
    */
  def promote(fs: FileSystem, staging: Path, live: Path, retired: Path): Unit = {
    val hadLive = fs.exists(live)
    if (hadLive) require(fs.rename(live, retired), s"could not retire $live")
    val promoted = try fs.rename(staging, live) catch {
      case e: Throwable => if (hadLive) fs.rename(retired, live); throw e
    }
    if (!promoted) {
      if (hadLive) fs.rename(retired, live)
      throw new IllegalStateException(s"swap failed for $staging")
    }
    if (hadLive) fs.delete(retired, true)
  }
}

final case class FileSnapshotCommit(base: String, runId: String) extends SnapshotCommit {
  def commit(spark: SparkSession): Unit = {
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(s"$base/_staging/$runId")
    val current = new Path(s"$base/current")
    val retired = new Path(s"$base/_retired_$runId")
    // heal a PRIOR run's crash first: retired dirs are runId-keyed, so a
    // run that died between retire and promote left `_retired_<otherId>`
    // as the ONLY copy — batch runs draw fresh runIds and would otherwise
    // never restore it, leaving readers with no snapshot at all until the
    // next fully-successful run (newest mtime wins if several exist).
    //
    // CONTRACT: one writer per base path at a time (the swap design's
    // standing assumption — promote itself retires/renames `current`
    // unguarded). Under a CONCURRENT same-base committer this heal could
    // misfire: between that run's retire and promote steps `current` is
    // legitimately absent, and restoring ITS freshly-retired dir here
    // would make its promote rename fail. Serialize commits per base
    // (distinct bases are fine — all paths below are base-scoped).
    if (!fs.exists(current)) {
      val stale = fs.globStatus(new Path(s"$base/_retired_*"))
      if (stale != null && stale.nonEmpty)
        DirSwap.heal(fs, current, stale.maxBy(_.getModificationTime).getPath)
    }
    // then THIS runId's heal (streaming replays reuse the id) + the
    // standard retire/promote/rollback sequence (K3: a failed run leaves
    // the previous snapshot readable)
    DirSwap.heal(fs, current, retired)
    DirSwap.promote(fs, staging, current, retired)
  }
}

final case class JdbcSnapshotCommit(cfg: JdbcDestination, tables: Seq[String]) extends SnapshotCommit {

  private[sink] def family: String = cfg.dialect.takeWhile(_ != '+')

  private def isMysqlFamily: Boolean = family == "mysql" || family == "mariadb"

  /** Dialects whose DDL participates in transactions (wholesale rollback
    * works); everything else auto-commits DDL and needs move-aside swaps.
    */
  private def hasTransactionalDdl: Boolean =
    Set("postgresql", "sqlite", "derby")(family)

  private[sink] def renameSql(from: String, to: String): String = family match {
    case "derby"                       => s"RENAME TABLE $from TO $to"
    case "mssql"                       => s"EXEC sp_rename '$from', '$to'"
    case _                             => s"ALTER TABLE $from RENAME TO $to"
  }

  /** The complete swap as an ordered DDL script, a pure function of the
    * pre-swap table inventory — the strategy selection (transactional
    * DROP+RENAME vs MySQL single multi-RENAME vs move-aside) and the
    * restore-first self-heal are all decided here, so every dialect
    * family's exact statement sequence is unit-testable without a driver
    * on the classpath.
    */
  private[sink] def swapStatements(existing: Set[String]): Seq[String] = {
    // Self-heal, restore-first (mirrors FileSnapshotCommit): a crash
    // between a previous swap's RENAME and its DROP can leave `t__old`
    // behind. If `t` is also missing (crash mid-promote), `t__old` is the
    // ONLY copy — rename it back instead of dropping it; only a stale
    // `t__old` next to a live `t` is dropped.
    val heal = tables.flatMap { t =>
      if (!existing.contains(s"${t.toLowerCase}__old")) Nil
      else if (existing.contains(t.toLowerCase)) Seq(s"DROP TABLE ${t}__old")
      else Seq(renameSql(s"${t}__old", t))
    }
    val present = existing ++ tables.filter(t =>
      existing.contains(s"${t.toLowerCase}__old") && !existing.contains(t.toLowerCase))
      .map(_.toLowerCase)
    val swap =
      if (isMysqlFamily && tables.nonEmpty) {
        // MySQL/MariaDB auto-commit DDL but DO make one multi-table RENAME
        // atomic: old tables move aside and new ones promote in one step.
        val renames = tables.flatMap { t =>
          (if (present.contains(t.toLowerCase)) Seq(s"$t TO ${t}__old") else Nil) :+
            s"${t}__tmp TO $t"
        }
        s"RENAME TABLE ${renames.mkString(", ")}" +:
          tables.filter(t => present.contains(t.toLowerCase))
            .map(t => s"DROP TABLE ${t}__old")
      } else if (hasTransactionalDdl) {
        // postgres/sqlite/derby: DROP + RENAME inside one transaction,
        // rolled back wholesale on any failure
        tables.flatMap { t =>
          (if (present.contains(t.toLowerCase)) Seq(s"DROP TABLE $t") else Nil) :+
            renameSql(s"${t}__tmp", t)
        }
      } else {
        // auto-commit-DDL dialects without multi-RENAME (oracle/snowflake/
        // mssql): per-table move-aside. A crash mid-sequence leaves the old
        // table recoverable under `t__old`, never silently dropped — the
        // per-dialect atomicity limit is inherent to those engines.
        tables.flatMap { t =>
          val had = present.contains(t.toLowerCase)
          (if (had) Seq(renameSql(t, s"${t}__old")) else Nil) ++
            Seq(renameSql(s"${t}__tmp", t)) ++
            (if (had) Seq(s"DROP TABLE ${t}__old") else Nil)
        }
      }
    heal ++ swap
  }

  def commit(spark: SparkSession): Unit = {
    val props = new java.util.Properties()
    cfg.user.foreach(props.setProperty("user", _))
    cfg.password.foreach(props.setProperty("password", _))
    cfg.args.foreach { case (k, v) => props.setProperty(k, v) }
    val conn = DriverManager.getConnection(cfg.url, props)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      // one metadata scan for the whole swap, not one per table — scoped to
      // the CONNECTION's catalog/schema so a same-named table in another
      // database can never poison the swap
      // plain try/catch on Throwable, NOT scala.util.Try: a pre-JDBC-4.1
      // driver raises AbstractMethodError here — a LinkageError, fatal to
      // Try/NonFatal — and the null fallback is exactly the case this
      // shield exists for
      def metaOrNull(get: => String): String =
        try get catch { case _: Exception | _: LinkageError => null }
      val (catalog, schema) =
        (metaOrNull(conn.getCatalog), metaOrNull(conn.getSchema))
      val rs = conn.getMetaData.getTables(catalog, schema, null, Array("TABLE"))
      val existing = Iterator.continually(rs)
        .takeWhile(_.next()).map(_.getString("TABLE_NAME").toLowerCase).toSet
      swapStatements(existing).foreach(st.executeUpdate)
      conn.commit()
    } catch {
      case e: Throwable =>
        // a rollback on a dead connection throws its own exception — keep
        // the ORIGINAL swap failure as the propagated cause, with the
        // rollback failure attached as suppressed
        scala.util.Try(conn.rollback()).failed.foreach(e.addSuppressed)
        throw e
    } finally conn.close()
  }
}
