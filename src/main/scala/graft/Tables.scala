package graft

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Central loader for the driver testdata tables (TESTDATA.md).
  *
  * All query builders take `(spark, sfDir)` and load through here so the
  * scan layer stays in one place: parquet scans get column pruning +
  * predicate pushdown from Catalyst for free, and the one data quirk
  * (events.ts — a parquet timestamp whose physical unit and UTC-adjustment
  * are PRODUCER-controlled, and have in fact changed between testdata
  * generations) is normalized once, in [[normalizeEventsTs]].
  *
  * Every loader goes through [[readParquet]]: each table's schema comes
  * from one footer read in the calling process, and no Spark job runs
  * until the query itself executes.
  */
object Tables {
  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def region(s: SparkSession, d: String): DataFrame   = readParquet(s, path(d, "region"))
  def nation(s: SparkSession, d: String): DataFrame   = readParquet(s, path(d, "nation"))
  def customer(s: SparkSession, d: String): DataFrame = readParquet(s, path(d, "customer"))
  def supplier(s: SparkSession, d: String): DataFrame = readParquet(s, path(d, "supplier"))
  def part(s: SparkSession, d: String): DataFrame     = readParquet(s, path(d, "part"))
  def orders(s: SparkSession, d: String): DataFrame   = readParquet(s, path(d, "orders"))
  def lineitem(s: SparkSession, d: String): DataFrame = readParquet(s, path(d, "lineitem"))
  def documents(s: SparkSession, d: String): DataFrame = readParquet(s, path(d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame = readParquet(s, path(d, "embeddings"))

  /** `spark.read.parquet(path)` without its schema-inference job.
    *
    * A schema-less parquet read makes Spark run one cluster job to read
    * footers, even for a single file. Without schema merging Spark reads
    * exactly one footer: a `_common_metadata` summary, else `_metadata`,
    * else the first data file by path, after its listing drops names that
    * start with `_` or `.`. This loader reads that same footer in the
    * calling process, converts it the way Spark does (the Spark schema
    * stored in the footer, else the parquet-to-Spark converter under the
    * session's current settings) and hands the result to `read.schema`.
    *
    * Everything else takes the plain read, so Spark's own errors and merge
    * semantics hold exactly: schema merging on, a glob, a missing path, a
    * directory with no data file or with subdirectories (partitions), and
    * a footer that does not parse.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val sqlConf = spark.sessionState.conf
    val schema =
      if (sqlConf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_))) None
      else try {
        val (hadoopConf, listed) = listing(spark, path)
        if (listed.exists(_.isDirectory)) None else footerSchema(spark, hadoopConf, listed)
      } catch { case NonFatal(_) => None }
    schema match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None    => spark.read.parquet(path)
    }
  }

  private val SummaryFiles = Set("_common_metadata", "_metadata")

  // Spark's listing filter (HadoopFSUtils.shouldFilterOutPathName)
  private def listedName(name: String): Boolean = {
    val exclude = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    !exclude || name.startsWith("_common_metadata") || name.startsWith("_metadata")
  }

  /** `path` as Spark's listing sees it, in path order: the entries of a
    * directory, or the file itself.
    */
  private def listing(spark: SparkSession, path: String): (Configuration, Seq[FileStatus]) = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val root = fs.getFileStatus(p)
    val listed = (if (root.isDirectory) fs.listStatus(p).toSeq else Seq(root))
      .filter(f => listedName(f.getPath.getName))
    (hadoopConf, listed.sortBy(_.getPath.toString))
  }

  /** The schema from the footer Spark's non-merging inference reads among
    * `files`: a `_common_metadata` summary, else `_metadata`, else the first
    * data file; None when there is none.
    */
  private def footerSchema(spark: SparkSession, hadoopConf: Configuration,
                           files: Seq[FileStatus]): Option[StructType] = {
    def named(n: String) = files.find(_.getPath.getName == n)
    val pick = named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => !SummaryFiles(f.getPath.getName)))
    pick.map { f =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** Spread a SMALL input across the cluster before a CPU-heavy per-row
    * pipeline (tokenize/shingle/md5 explodes, decimal aggregates, vector
    * arithmetic) — the unsplittable-input-skew fix (optimization guide
    * §2.5): the testdata parquet files are single row-group, so however
    * many byte-range splits the scan planner cuts, every row lands in ONE
    * task and everything before the first exchange runs on one core while
    * the rest of the cluster idles.
    *
    * Deliberately OPT-IN per heavy pipeline, not blanket-on-the-loader:
    * r17 measured the blanket form — heavy queries gained 1.4–2× but every
    * cheap query ate the exchange as pure overhead (q_topk 0.23 → 0.93 s),
    * a net loss. Guarded by the optimizer's size ESTIMATE of the input
    * subtree: spreading fires only when the bytes are ≤ cores ×
    * SPARK_GRAFT_SPREAD_MB (default 4 MB/core — the micro-shuffle is
    * bounded by the threshold itself), so for any at-scale table the
    * condition is false and the heavy pipeline keeps the bare scan — the
    * fix cannot fire where the scan is already parallel. Partitioning
    * HASHES `key` (deterministic, retry-safe, and skips round-robin's
    * map-side sort — guide §2.5's deterministic-key advice); pass a
    * high-cardinality column. Filter pushdown and column pruning pass
    * through RepartitionByExpression, so PushedFilters/ReadSchema are
    * unchanged (plans/r17). Env knob: 0 disables all spreading.
    */
  private val SpreadMbPerCore =
    sys.env.getOrElse("SPARK_GRAFT_SPREAD_MB", "4").toLong

  /** The spread predicate, exposed: true when `df`'s optimizer size
    * estimate is within the small-input regime (≤ cores ×
    * SPARK_GRAFT_SPREAD_MB). Operators with two proven physical shapes —
    * a broadcast-join fast path for small inputs, a single-exchange
    * shape for large ones — switch on this, the same adaptivity rule
    * [[spreadSmall]] itself uses (r17: the substring duplicate marking
    * and the jaccard df-cap). Streaming frames report false (their
    * queryExecution cannot be inspected pre-start).
    */
  def smallInput(df: DataFrame): Boolean = {
    if (df.isStreaming || SpreadMbPerCore <= 0) return false
    val par = df.sparkSession.sparkContext.defaultParallelism
    // bytes-only predicate: an additional file-count condition ("skip the
    // spread when the input already ships ≥ par/4 files") was A/B'd at
    // 10× and REVERTED — the 10-file synthesized tree still gained from
    // 32-way spreading on the digest-heavy explodes (q_text_lm_smoothed
    // 3.25 s without vs 2.17 s with, same leg)
    df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(par.toLong * SpreadMbPerCore * (1L << 20))
  }

  def spreadSmall(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
    if (smallInput(df))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)
    else df

  /** The BROADCAST-regime predicate — a much tighter bound than
    * [[smallInput]] (absolute bytes, default 4 MB via
    * SPARK_GRAFT_BCAST_REGIME_MB): true when a derived per-key set of the
    * input (duplicated window hashes, hot shingles, probe hash sets) can
    * be expected to stay under Spark's broadcast threshold. Operators
    * with a broadcast-join fast path and a one-exchange window shape
    * switch HERE, not on [[smallInput]]: r17 measured the shuffled
    * fallback of the join shape at 3× the window's cost at 10× sf0.1,
    * so once the derived set outgrows broadcast the window shape must
    * come back — spreading (128 MB-class bound) and broadcasting
    * (10 MB-class bound) are different regimes.
    *
    * Margin (ADVICE r17 #1): the set actually broadcast is a DERIVED
    * per-key frame (duplicated window hashes, hot shingles, probe hash
    * sets) that can exceed the input text's estimate — duplicated-hash
    * rows are 16 B/position vs ~1 B/char of text, though only the
    * duplicated/hot SUBSET survives the aggregate. The default 4 MB
    * bound therefore sits 2.5× under Spark's 10 MB
    * `spark.sql.autoBroadcastJoinThreshold`: a derived set a few times
    * larger than the input estimate still broadcasts rather than
    * silently falling back to the shuffled semi-join (the 3×-worse
    * cliff above). Raising SPARK_GRAFT_BCAST_REGIME_MB toward — or past
    * — the autoBroadcastJoinThreshold removes that margin; tune the two
    * together.
    */
  private val BcastRegimeMb =
    sys.env.getOrElse("SPARK_GRAFT_BCAST_REGIME_MB", "4").toLong
  def broadcastRegime(df: DataFrame): Boolean = {
    if (df.isStreaming || BcastRegimeMb <= 0) return false
    df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(BcastRegimeMb * (1L << 20))
  }

  /** events.parquet: `ts` has shipped as INT64 TIMESTAMP(NANOS) (testdata
    * generations ≤ r7) and as INT64 TIMESTAMP(isAdjustedToUTC=false, MICROS)
    * i.e. TIMESTAMP_NTZ (the 2026-08-13 regeneration). Both, plus the plain
    * UTC-adjusted micros a third producer would emit, normalize here.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // Spark's parquet reader rejects TIMESTAMP(NANOS) outright unless the
    // legacy conf surfaces it as a raw nano count. All graft entry points
    // set it at session build; this defensive set (same constant value, so
    // idempotent — nothing observable leaks) keeps the loader correct for
    // arbitrary caller-provided sessions too.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(readParquet(s, path(d, "events")))
  }

  /** Normalize the producer-controlled `ts` column to session-UTC
    * `TimestampType`, whatever shape the parquet writer chose:
    *
    *   - `LongType`  — TIMESTAMP(NANOS) surfaced as a raw nano count by the
    *     legacy reader flag (or a producer writing epoch-nanos as plain
    *     INT64; the two are indistinguishable at the Spark schema level).
    *   - `TimestampNTZType` — TIMESTAMP(isAdjustedToUTC=false, MICROS/
    *     MILLIS). The testdata writes UTC wall-clock instants, and every
    *     graft session pins `spark.sql.session.timeZone=UTC`, so the
    *     session-local cast reinterprets the wall clock as the same UTC
    *     instant DuckDB's naive read sees.
    *   - `TimestampType` — already UTC-adjusted; pass through.
    *
    * Downstream operators can then use `unix_micros`/`window`/
    * `session_window` without caring which producer wrote the file. Shared
    * by the batch loader and [[graft.streaming.StreamingOps.eventsStream]]
    * so batch and stream see identical instants.
    */
  def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        // integer FLOOR division, not `/` (double division loses sub-µs
        // exactness at 1e18-scale nano counts) and not bare DIV (DIV
        // truncates toward zero, so a PRE-EPOCH nano count with a sub-µs
        // remainder would land 1 µs late vs DuckDB's flooring nanos→micros
        // conversion). `(ts - pmod(ts, 1000)) DIV 1000` floors exactly for
        // either sign: pmod is the nonnegative remainder
        raw.withColumn("ts",
          timestamp_micros(expr("(ts - pmod(ts, 1000)) DIV 1000")))
      case TimestampNTZType =>
        // the NTZ→TZ cast interprets wall-clock values in the SESSION
        // timezone; the producers write UTC instants, so any other session
        // zone would silently shift every ts — fail loudly instead
        val tz = raw.sparkSession.conf.get("spark.sql.session.timeZone", "")
        // accept every UTC spelling (UTC, Etc/UTC, GMT, Z, +00:00, …):
        // normalized() folds fixed-offset-zero region ids to ZoneOffset.UTC,
        // so only a genuinely shifted session zone fails
        val isUtc =
          try java.time.ZoneId.of(tz, java.time.ZoneId.SHORT_IDS)
            .normalized() == java.time.ZoneOffset.UTC
          catch { case _: Exception => false }
        require(isUtc,
          s"events.ts is TIMESTAMP_NTZ (UTC wall-clock); the session " +
            s"timezone is '$tz' — set spark.sql.session.timeZone=UTC or " +
            "the cast would shift every instant")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalArgumentException(
        s"events.ts arrived as $other — expected epoch-nano LongType, " +
          "TIMESTAMP_NTZ, or TIMESTAMP; extend Tables.normalizeEventsTs " +
          "for this producer shape")
    }
  }

}

/** One named query: a Spark DataFrame builder plus (when SQL-expressible)
  * the DuckDB oracle SQL the driver replays over the same parquet files.
  * Column names/aliases MUST match between the two — the driver sorts
  * columns by name before hashing.
  */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(build: (SparkSession, String) => DataFrame): Q =
    Q(name, build, Some(oracle))
  def noOracle(name: String)(build: (SparkSession, String) => DataFrame): Q =
    Q(name, build, None)
}
