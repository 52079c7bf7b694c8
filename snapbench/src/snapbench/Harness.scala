package snapbench

import graft.{CacheTracker, SparkEntry}
import graft.config.GraftConfig
import graft.engine.{ProgressListener, RunReport, Runner, Source}
import graft.graph.{Graph, GraphNormalizer, GraphTraversal}
import graft.query.Snapshot
import graft.sink.SqliteDbReader
import graft.sources.SqliteSource
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

final case class Workload(name: String, shapes: Seq[Shape], sqlite: Boolean, inventory: Boolean,
                          traverse: Boolean, sparkEntry: Seq[String])

object Workload {
  /** The SparkEntry queries of `wide_parquet`, in the order they run:
    * DotProduct, CentroidAssign with PqEncode/PqAdc, Durations, and a
    * plain four-way join. */
  val SparkEntryQueries: Seq[String] = Seq(
    "q_embed_topk", "q_embed_ivfpq_rescore", "q_duration_parse", "q_join_revenue_by_nation")

  def apply(name: String): Workload = name match {
    case "wide_parquet" => Workload(name, (0 until 4).map(Shape.wide), sqlite = false, inventory = false,
      traverse = false, SparkEntryQueries)
    case "deep_sqlite" => Workload(name, Seq(Shape.deep), sqlite = true, inventory = true,
      traverse = true, Nil)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** The repo module that declares a SparkEntry query. */
  def module(q: String): String = q match {
    case "q_join_revenue_by_nation" => "operators"
    case "q_duration_parse"         => "functions"
    case _                          => "ext"
  }
}

object Session {
  /** Exactly the settings `graft.Main` applies, with master and shuffle
    * partitions set to `cores`. */
  def build(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** What one cycle measured. Times are nanoseconds. */
final case class CycleRec(
    index: Int,
    traced: Boolean,
    start: Long,
    end: Long,
    snapshotNs: Long,
    queryNs: Seq[(String, Long)],
    allocBytes: Long,
    compiles: Long,
    gcMs: Long,
    jitMs: Long,
    storedBytes: Long,
    attempted: Int,
    failed: Int,
    jobs: Seq[JobRec])

/** Runs cycles of one workload: `Runner.run` replacing the previous
  * snapshot, then the query step on the snapshot just committed. Every
  * output is checked after the timed part of its cycle. */
final class Harness(val spark: SparkSession, val wl: Workload, seed: Long, work: Path,
                    dataDir: String, sqliteCheck: Option[Seq[String]]) {
  val tracer = new Tracer
  val listener = new JobListener
  val failures = mutable.ArrayBuffer.empty[String]
  val cores: Int = spark.sparkContext.defaultParallelism

  val sources: Seq[GenSource] = wl.shapes.map(Gen.source(_, seed))
  val expected: Expected = Oracle.expected(sources)
  val exportDirs: Seq[Path] = sources.indices.map(i => work.resolve(s"exports/src$i"))
  val exportBytes: Long = sources.zip(exportDirs).map { case (s, d) => Gen.write(s, d) }.sum
  val snapshotBase: String = work.resolve("snapshot").toString
  val dbPath: String = work.resolve("snapshot.db").toString
  val storedRows: Long = expected.tables.values.sum
  val linkTables: Seq[String] = expected.tables.keys.filter(_.startsWith("link_")).toSeq.sorted
  val sparkEntryDir: Path = work.resolve("sparkentry")

  val config: GraftConfig = GraftConfig.parse(
    "sources:\n" + exportDirs.indices.map(i => s"  src$i:\n    path: \"${exportDirs(i)}\"\n").mkString +
      "destinations:\n" +
      (if (wl.sqlite) s"  sqlite:\n    database: \"$dbPath\"\n"
       else s"  file:\n    format: parquet\n    path: \"$snapshotBase\"\n"))

  // ---- observers of Runner.run: spans keyed by the cycle in progress ----
  @volatile private var cycleId = -1
  @volatile private var runSpan = -1
  @volatile private var commitSpan = -1
  private val sourceSpan = new ConcurrentHashMap[String, Integer]()

  val progress: ProgressListener = new ProgressListener {
    def progress(source: String, message: String): Unit =
      if (message == "collect started")
        sourceSpan.put(source, tracer.begin(s"source:$source", runSpan, cycleId))
      else if (message.startsWith("collect done")) tracer.end(sourceSpan.get(source))
    override def progressDone(task: String, current: Int, total: Int): Unit =
      if (current == 0) commitSpan = tracer.begin("sink.commit", runSpan, cycleId)
      else if (current == total) tracer.end(commitSpan)
  }

  val registry: Map[String, Source] = exportDirs.indices.map { i =>
    val key = s"src$i"
    val path = exportDirs(i).toString
    key -> (new Source {
      val name: String = key
      def collect(s: SparkSession): Graph = {
        val id = tracer.begin("sources.collect", sourceSpan.get(key), cycleId)
        try GraphNormalizer.fromJsonExport(s, path)
        finally tracer.end(id)
      }
    }: Source)
  }.toMap

  private def group(layer: String, span: Int): Unit =
    spark.sparkContext.setJobGroup(s"snapbench|$layer|$span", layer)

  /** Forces every column of `df` through the noop sink; the row count and
    * an order-independent row checksum ride along as observed metrics. */
  def noop(df: DataFrame): (Long, Long) = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"), coalesce(sum(checksum(df)), lit(0L)).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }

  private def checksum(df: DataFrame) =
    if (df.columns.isEmpty) lit(0L)
    else shiftright(xxhash64(to_json(struct(df.columns.map(c => col(s"`${c.replace("`", "``")}`")).toSeq: _*))), 20)

  private def checksumOf(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(checksum(df)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  val inventory: Seq[(String, String)] =
    if (wl.inventory) Oracle.inventorySql(wl.shapes.head.prefix, wl.sqlite) else Nil

  /** The query order: mount, inventory, traversal, SparkEntry. */
  val queryNames: Seq[String] =
    Seq("mount") ++ inventory.map(_._1) ++
      (if (wl.traverse) Seq("traverse") else Nil) ++ wl.sparkEntry

  private val expectedObs = mutable.Map.empty[String, (Long, Long)]
  val sparkEntryOps = mutable.Map.empty[String, Int].withDefaultValue(0)

  private def fail(c: Int, what: String): Unit = {
    if (failures.size < 50) failures += s"cycle $c: $what"
    System.err.println(s"[snapbench] cycle $c: $what")
  }

  /** One cycle; `c == 0` is the warm-up, which also checks every query
    * against the oracle and fixes the checksums later cycles must repeat. */
  def cycle(c: Int, traced: Boolean): CycleRec = {
    if (traced) { listener.clear(); spark.sparkContext.addSparkListener(listener) }
    cycleId = c
    sourceSpan.clear()
    val alloc0 = Jvm.allocated()
    val comp0 = Jvm.codegenCompiles
    val gc0 = Jvm.gcMs
    val jit0 = Jvm.jitMs
    val start = System.nanoTime()
    val root = tracer.begin("cycle", -1, c)

    runSpan = tracer.begin("engine.run", root, c)
    group("engine.run", runSpan)
    val t0 = System.nanoTime()
    val report = Try(Runner.run(spark, config, registry, progress))
    val snapshotNs = System.nanoTime() - t0
    tracer.end(runSpan)
    spark.sparkContext.clearJobGroup()

    val qNs = mutable.LinkedHashMap.empty[String, Long]
    val obs = mutable.LinkedHashMap.empty[String, Try[(Long, Long)]]
    def timed[A](name: String, layer: String)(body: Int => A): Try[A] = {
      val id = tracer.begin(s"$layer:$name", root, c)
      group(layer, id)
      val t = System.nanoTime()
      val r = Try(body(id))
      qNs(name) = System.nanoTime() - t
      spark.sparkContext.clearJobGroup()
      tracer.end(id)
      r
    }
    // the warm-up materializes and checks each result; later cycles force
    // it through the noop sink and compare the observed checksum
    def run(name: String, df: DataFrame): (Long, Long) = if (c == 0) firstCheck(name, df) else noop(df)

    val mounted = timed("mount", "query.mount") { _ =>
      if (wl.sqlite) SqliteSource.register(spark, dbPath) else Snapshot.register(spark, snapshotBase)
    }
    inventory.foreach { case (name, sql) =>
      obs(name) = timed(name, "query.inventory")(_ => run(name, spark.sql(sql)))
    }
    var reach: DataFrame = null
    if (wl.traverse) obs("traverse") = timed("traverse", "graph.traverse") { _ =>
      val edges = linkTables.map(t => spark.table(t).select("from_id", "to_id")).reduce(_ unionAll _)
      val starts = spark.createDataFrame(expected.starts.map(Tuple1(_))).toDF("id")
      reach = GraphTraversal.reachableWithin(edges, starts, Oracle.Hops)
      run("traverse", reach)
    }
    wl.sparkEntry.foreach { q =>
      obs(q) = timed(q, "sparkentry") { id =>
        CacheTracker.scope {
          val df = tracer.span(s"sparkentry.build:$q", id, c)(_ => SparkEntry.queries(q)(spark, dataDir))
          tracer.span(s"sparkentry.exec:$q", id, c)(_ => run(q, df))
        }
      }
    }
    tracer.end(root)
    val end = System.nanoTime()
    val alloc1 = Jvm.allocated()
    val compiles = Jvm.codegenCompiles - comp0
    val gcMs = Jvm.gcMs - gc0
    val jitMs = Jvm.jitMs - jit0
    val jobs =
      if (!traced) Nil
      else {
        org.apache.spark.snapbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        listener.jobs
      }

    // ---- checks, outside the timed part ----
    var failed = 0
    val snapErr = report match {
      case Failure(e) => Some(s"Runner.run failed: $e")
      case Success(r) => checkSnapshot(r)
    }
    snapErr.foreach { e => failed += 1; fail(c, e) }
    mounted match {
      case Success(names) if names.toSet == expected.tables.keySet => ()
      case Success(names) => failed += 1; fail(c, s"mount registered ${names.sorted.mkString(",")}")
      case Failure(e) => failed += 1; fail(c, s"mount failed: $e")
    }
    obs.foreach { case (name, r) =>
      val err = r match {
        case Failure(e) => Some(s"$name failed: $e")
        case Success(_) if c == 0 => None
        case Success(got) =>
          if (expectedObs.get(name).contains(got)) None
          else Some(s"$name checksum $got differs from the checked ${expectedObs.get(name)}")
      }
      err.foreach { e => failed += 1; fail(c, e) }
      if (err.isEmpty && wl.sparkEntry.contains(name)) sparkEntryOps(name) += 1
    }
    if (reach != null) reach.unpersist(blocking = true)
    val storedBytes = if (snapErr.isEmpty) stored() else 0L
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.err.println(f"[snapbench] cycle $c: snapshot ${snapshotNs / 1e9}%.3f s, query ${qNs.values.sum / 1e9}%.3f s " +
      qNs.map { case (n, t) => f"$n=${t / 1e9}%.3f" }.mkString("(", " ", ")") +
      f", checks ${(System.nanoTime() - end) / 1e9}%.3f s, failed $failed")
    CycleRec(c, traced, start, end, snapshotNs, qNs.toSeq, alloc1 - alloc0, compiles,
      gcMs, jitMs, storedBytes, 1 + queryNames.size, failed, jobs)
  }

  /** Warm-up check of one query: its rows against the oracle, or, for a
    * SparkEntry query, written out for the DuckDB check. Returns the
    * checksum of the checked rows, which later cycles must observe. */
  private def firstCheck(name: String, df: DataFrame): (Long, Long) = {
    val checked =
      if (wl.sparkEntry.contains(name)) {
        val dir = sparkEntryDir.resolve(name).toString
        df.write.mode("overwrite").parquet(dir)
        spark.read.parquet(dir)
      } else {
        val local = df.collect().toSeq
        val got: Set[Seq[Any]] = local.map(_.toSeq.map {
          case i: Int => i.toLong
          case v => v
        }).toSet
        val want: Set[Seq[Any]] =
          if (name == "traverse") expected.reach.map { case (id, h) => Seq[Any](id, h.toLong) }
          else expected.inventory(name)
        require(local.size == want.size && got == want,
          s"$name rows differ from the oracle: got ${got.toSeq.take(5)} want ${want.toSeq.take(5)}")
        spark.createDataFrame(local.asJava, df.schema)
      }
    val sum = checksumOf(checked)
    expectedObs(name) = sum
    sum
  }

  /** Checks what `Runner.run` committed: its report, the table set and
    * every row count; for SQLite also the file's b-trees, read by the
    * repo's reader and by an independent sqlite3. */
  private def checkSnapshot(r: RunReport): Option[String] = {
    if (r.totalNodes != expected.nodes || r.totalEdges != expected.edges)
      return Some(s"RunReport ${r.totalNodes} nodes / ${r.totalEdges} edges, oracle ${expected.nodes} / ${expected.edges}")
    val counts = Try(committedCounts()) match {
      case Failure(e) => return Some(s"reading the snapshot failed: $e")
      case Success(m) => m
    }
    if (counts != expected.tables) {
      val diff = (counts.keySet ++ expected.tables.keySet).toSeq.sorted
        .filter(t => counts.get(t) != expected.tables.get(t))
        .map(t => s"$t=${counts.get(t)}/${expected.tables.get(t)}")
      return Some(s"committed tables differ from the oracle (got/want): ${diff.take(8).mkString(", ")}")
    }
    if (wl.sqlite) sqliteCheck.flatMap { cmd =>
      val out = Try {
        val p = new ProcessBuilder((cmd :+ dbPath).asJava).redirectErrorStream(true).start()
        val text = new String(p.getInputStream.readAllBytes(), "UTF-8")
        p.waitFor()
        text.trim
      }
      val want = "ok " + expected.tables.toSeq.sorted.map { case (t, n) => s"$t=$n" }.mkString(" ")
      out match {
        case Success(s) if s == want => None
        case Success(s) => Some(s"sqlite3 check: ${s.take(300)}")
        case Failure(e) => Some(s"sqlite3 check failed: $e")
      }
    } else None
  }

  private def committedCounts(): Map[String, Long] =
    if (wl.sqlite) {
      val r = new SqliteDbReader(new File(dbPath))
      try { r.verifyAll(); r.tableNames.map(t => t -> r.rows(t).size.toLong).toMap }
      finally r.close()
    } else {
      val conf = spark.sparkContext.hadoopConfiguration
      val current = new File(snapshotBase, "current")
      current.listFiles().filter(_.isDirectory).map { t =>
        t.getName -> t.listFiles().filter(f => f.getName.endsWith(".parquet")).map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f.toURI), conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try reader.getRecordCount finally reader.close()
        }.sum
      }.toMap
    }

  /** Committed snapshot bytes: the `current/` tree or the database file. */
  def stored(): Long =
    if (wl.sqlite) new File(dbPath).length()
    else Files.walk(new File(snapshotBase, "current").toPath).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
}
