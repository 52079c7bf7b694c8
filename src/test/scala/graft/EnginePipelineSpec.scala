package graft

import graft.config._
import graft.engine.{Runner, Source}
import graft.graph.Graph
import graft.sources.ExampleSource
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** t1 smoke (SURVEY.md §5.2): full pipeline over the deterministic example
  * graph must reproduce the reference's exact 13-table/count oracle
  * (tests/collect_test.py:26-40 [T]) on every destination type.
  */
class EnginePipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private val registry: Map[String, Source] = Map(
    "example" -> new Source {
      val name = "example"
      def collect(s: SparkSession): Graph = ExampleSource.collect(s)
    })

  private def cfg(dest: Destination) =
    GraftConfig(Map("example" -> Map.empty), dest)

  test("parquet destination reproduces the 13-table oracle") {
    val base = Files.createTempDirectory("graft-parquet").toString
    val report = Runner.run(spark, cfg(ArrowDest(FileDestination("parquet", base))), registry)
    assert(report.sources == Seq(engine.SourceReport("example", 10, 13)))
    ExampleSource.expectedCounts.foreach { case (table, n) =>
      assert(spark.read.parquet(s"$base/current/$table").count() == n, s"table $table")
    }
  }

  test("csv destination writes headers and matches counts") {
    val base = Files.createTempDirectory("graft-csv").toString
    Runner.run(spark, cfg(ArrowDest(FileDestination("csv", base))), registry)
    ExampleSource.expectedCounts.foreach { case (table, n) =>
      val df = spark.read.option("header", "true").csv(s"$base/current/$table")
      assert(df.count() == n, s"table $table")
    }
    // header present: kind tables expose the base property columns
    val cols = spark.read.option("header", "true")
      .csv(s"$base/current/example_instance").columns.toSet
    assert(Set("id", "name", "kind", "tags", "ctime", "instance_cores").subsetOf(cols))
  }

  test("jdbc (derby) destination stages __tmp tables then swaps atomically") {
    val db = Files.createTempDirectory("graft-derby").resolve("db").toString
    val url = s"jdbc:derby:$db;create=true"
    Runner.run(spark, cfg(DbDest(JdbcDestination(url, "derby"))), registry)
    ExampleSource.expectedCounts.foreach { case (table, n) =>
      val count = spark.read.format("jdbc").option("url", url)
        .option("dbtable", table).load().count()
      assert(count == n, s"table $table")
    }
    // a second run replaces the snapshot in place (drop + rename path)
    Runner.run(spark, cfg(DbDest(JdbcDestination(url, "derby"))), registry)
    val again = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "example_region").load().count()
    assert(again == 2)
  }

  test("sqlite destination (reference default) writes a real database file") {
    val db = Files.createTempDirectory("graft-sqlite").resolve("cloud2sql.db").toString
    val report = Runner.run(spark,
      cfg(SqliteDest(SqliteDestination(db))), registry)
    assert(report.sources == Seq(engine.SourceReport("example", 10, 13)))
    val r = new graft.sink.SqliteDbReader(new java.io.File(db))
    assert(r.tableNames.toSet == ExampleSource.expectedCounts.keySet)
    ExampleSource.expectedCounts.foreach { case (table, n) =>
      assert(r.rows(table).size == n, s"table $table")
    }
    // values & schema survive: strings stay text, maps became JSON text
    val cols = r.columns("example_instance")
    val byName = r.rows("example_instance").map(vs => cols.zip(vs).toMap).toSeq
    assert(byName.map(_("name")).toSet == Set("instance-1", "instance-2"))
    assert(byName.forall(_("tags").asInstanceOf[String].startsWith("{")))
    r.close()
    // second run replaces the snapshot atomically (rename over the file)
    Runner.run(spark, cfg(SqliteDest(SqliteDestination(db))), registry)
    val r2 = new graft.sink.SqliteDbReader(new java.io.File(db))
    assert(r2.rows("example_region").size == 2)
    assert(!new java.io.File(s"$db.staging").exists(), "staging consumed")
    r2.close()
  }

  test("sqlite commit cleanup is scoped to its own runId staging") {
    val db = Files.createTempDirectory("graft-sqlite-iso").resolve("c2s.db").toString
    // a concurrent (or stranded) sibling run's staged tables for the SAME
    // database must survive our commit — only Vacuum may reclaim them
    val sibling = new java.io.File(s"$db.staging/other-run/example_region")
    assert(sibling.mkdirs())
    Files.writeString(sibling.toPath.resolve("part-0.parquet"), "x")
    Runner.run(spark, cfg(SqliteDest(SqliteDestination(db))), registry)
    assert(sibling.exists(), "sibling run's staging must not be destroyed")
    val r = new graft.sink.SqliteDbReader(new java.io.File(db))
    assert(r.rows("example_region").size == 2)
    r.close()
  }

  test("an existing sqlite database ingests back as typed DataFrames") {
    // a cloud2sql user migrates: point the engine at their .db and query on
    val db = Files.createTempDirectory("graft-sqlite-src").resolve("c2s.db").toString
    Runner.run(spark, cfg(SqliteDest(SqliteDestination(db))), registry)
    val tables = graft.sources.SqliteSource.register(spark, db)
    assert(tables.toSet == ExampleSource.expectedCounts.keySet)
    // declared affinities come back typed: ints as long, datetimes parsed
    val inst = spark.table("example_instance")
    assert(inst.schema("instance_cores").dataType.typeName == "long")
    assert(inst.schema("ctime").dataType.typeName == "timestamp")
    val rows = inst.orderBy("id").collect()
    assert(rows.map(_.getAs[Long]("instance_cores")).toSeq == Seq(4L, 8L))
    assert(rows.head.getAs[java.sql.Timestamp]("ctime").toInstant
      == java.time.Instant.parse("2023-01-01T00:00:00Z"))
    // the canonical exported-schema join runs over the ingested views
    val n = spark.sql(
      """SELECT count(*) FROM example_region r
        |JOIN link_example_region_example_instance l ON r.id = l.from_id
        |JOIN example_instance i ON l.to_id = i.id""".stripMargin).head.getLong(0)
    assert(n == 2)
  }

  test("failing source aborts before the swap; previous snapshot intact") {
    val base = Files.createTempDirectory("graft-atomic").toString
    val dest = ArrowDest(FileDestination("parquet", base))
    Runner.run(spark, cfg(dest), registry) // snapshot 1
    val boom = registry + ("bad" -> new Source {
      val name = "bad"
      def collect(s: SparkSession): Graph = throw new RuntimeException("collector exploded")
    })
    val cfg2 = GraftConfig(Map("example" -> Map.empty, "bad" -> Map.empty), dest)
    val events = scala.collection.mutable.Map[String, Map[String, Any]]()
    var flushed = false
    val sender = new graft.engine.AnalyticsEventSender {
      def capture(e: String, p: Map[String, Any]): Unit = events(e) = p
      override def flush(): Unit = flushed = true
    }
    intercept[Exception](Runner.run(spark, cfg2, boom, sender = sender))
    // reference error path: 'error' analytics event + flush, never 'collect'
    assert(events.contains("error") && !events.contains("collect") && flushed)
    assert(String.valueOf(events("error")("error")).contains("collector exploded"))
    // old snapshot still fully readable
    ExampleSource.expectedCounts.foreach { case (table, n) =>
      assert(spark.read.parquet(s"$base/current/$table").count() == n, s"table $table")
    }
  }

  test("2-source run, late failure after the sibling fully staged: no promotion on file OR jdbc sinks") {
    // Reference semantics (collect.py:186-203): ALL sources, ONE
    // destination, a single barrier. Here source A ("example", grown to 3
    // regions so a wrongful promotion is count-detectable) stages all 13
    // tables, and only THEN does source B fail. The survivor's staging
    // must never promote and the previous 2-region snapshot must remain
    // readable — on both sink families.
    val grown = new Source {
      val name = "example"
      def collect(s: SparkSession): Graph = {
        import s.implicits._
        val g = ExampleSource.collect(s)
        val extra = Seq(("reg9", "example_region",
          """{"id":"reg9","name":"eu-north","kind":"example_region","tags":{"owner":"example"},"ctime":"2023-01-01T00:00:00Z"}"""))
          .toDF("id", "kind", "reported")
        Graph(g.nodes.unionByName(extra, allowMissingColumns = true), g.edges, g.model)
      }
    }
    def badAfter(stagedEvidence: () => Boolean) = new Source {
      val name = "bad"
      def collect(s: SparkSession): Graph = {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (!stagedEvidence() && System.nanoTime() < deadline) Thread.sleep(50)
        if (!stagedEvidence())
          throw new RuntimeException("bad source timed out BEFORE sibling staged — test invalid")
        throw new RuntimeException("late failure after sibling staged")
      }
    }
    def failingRun(dest: Destination, evidence: () => Boolean): Unit = {
      val e = intercept[Exception](Runner.run(spark,
        GraftConfig(Map("example" -> Map.empty, "bad" -> Map.empty), dest),
        Map("example" -> grown, "bad" -> badAfter(evidence))))
      assert(e.getMessage == "late failure after sibling staged")
    }

    // ---- file family ----
    val base = Files.createTempDirectory("graft-2src-file").toString
    val fdest = ArrowDest(FileDestination("parquet", base))
    Runner.run(spark, cfg(fdest), registry) // snapshot 1: 2 regions
    val fileEvidence = () => {
      val staging = new java.io.File(s"$base/_staging")
      val runs = Option(staging.listFiles()).getOrElse(Array.empty)
      runs.exists(run => ExampleSource.expectedCounts.keySet.forall(t =>
        new java.io.File(run, s"$t/_SUCCESS").exists()))
    }
    failingRun(fdest, fileEvidence)
    assert(spark.read.parquet(s"$base/current/example_region").count() == 2,
      "grown staging was promoted on the file sink")
    ExampleSource.expectedCounts.foreach { case (t, n) =>
      assert(spark.read.parquet(s"$base/current/$t").count() == n, s"table $t")
    }

    // ---- jdbc family (derby) ----
    val db = Files.createTempDirectory("graft-2src-derby").resolve("db").toString
    val url = s"jdbc:derby:$db;create=true"
    val jdest = DbDest(JdbcDestination(url, "derby"))
    Runner.run(spark, cfg(jdest), registry) // snapshot 1: 2 regions
    val jdbcEvidence = () => {
      // all 13 __tmp tables present and the grown region table fully loaded
      var c: java.sql.Connection = null
      try {
        c = java.sql.DriverManager.getConnection(url)
        val rs = c.createStatement().executeQuery(
          "SELECT count(*) FROM SYS.SYSTABLES WHERE TABLENAME LIKE '%__TMP'")
        rs.next()
        val allStaged = rs.getInt(1) == ExampleSource.expectedCounts.size
        allStaged && {
          val rr = c.createStatement()
            .executeQuery("SELECT count(*) FROM example_region__tmp")
          rr.next(); rr.getInt(1) == 3
        }
      } catch { case _: java.sql.SQLException => false }
      finally if (c != null) c.close()
    }
    failingRun(jdest, jdbcEvidence)
    val live = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "example_region").load().count()
    assert(live == 2, "grown __tmp staging was promoted on the jdbc sink")
    ExampleSource.expectedCounts.foreach { case (t, n) =>
      val cnt = spark.read.format("jdbc").option("url", url)
        .option("dbtable", t).load().count()
      assert(cnt == n, s"table $t")
    }
  }

  test("a configured source unknown to the registry fails loudly, naming it") {
    // a typo'd source name would otherwise silently collect nothing while
    // the run reports success
    val base = Files.createTempDirectory("graft-unknown-src").toString
    val badCfg = GraftConfig(Map("example" -> Map.empty, "gpc" -> Map.empty),
      ArrowDest(FileDestination("parquet", base)))
    val e = intercept[IllegalArgumentException](Runner.run(spark, badCfg, registry))
    assert(e.getMessage.contains("gpc") && e.getMessage.contains("Unknown source"),
      e.getMessage)
  }

  test("a later run heals a prior run's crash window (retired dir from ANOTHER runId)") {
    // run X died between retire(current -> _retired_X) and promote:
    // `current` is missing, _retired_X is the only copy. Run Y (fresh
    // runId) must restore it before its own swap — previously the heal
    // was keyed to Y's runId and never found X's leftovers.
    val base = Files.createTempDirectory("graft-heal").toString
    val retiredX = new java.io.File(s"$base/_retired_runX/t")
    assert(retiredX.mkdirs())
    Files.write(retiredX.toPath.resolve("data.txt"), "old".getBytes)
    val stagingY = new java.io.File(s"$base/_staging/runY/t2")
    assert(stagingY.mkdirs())
    Files.write(stagingY.toPath.resolve("data.txt"), "new".getBytes)
    graft.sink.FileSnapshotCommit(base, "runY").commit(spark)
    // staging promoted; the healed old snapshot was retired + dropped
    assert(new java.io.File(s"$base/current/t2/data.txt").exists())
    assert(!new java.io.File(s"$base/_retired_runX").exists())
    assert(!new java.io.File(s"$base/_retired_runY").exists())
  }

  test("s3 destination uploads every table to the bucket after the swap") {
    val base = Files.createTempDirectory("graft-s3stage").toString
    val bucketRoot = Files.createTempDirectory("graft-fake-bucket")
    // local-filesystem fake standing in for the s3a/gs connector; the
    // commit path (stage -> swap -> per-table upload) is the real one
    val fake = new graft.sink.BucketUploader {
      def upload(s: SparkSession, tableDir: org.apache.hadoop.fs.Path,
                 cfg: FileDestination): Unit = {
        val conf = s.sparkContext.hadoopConfiguration
        val fs = tableDir.getFileSystem(conf)
        val dst = new org.apache.hadoop.fs.Path(
          bucketRoot.resolve(cfg.bucket.get).resolve(tableDir.getName).toString)
        // the REAL replace-then-copy path, just pointed at a local bucket
        graft.sink.HadoopBucketUploader.replaceCopy(fs, tableDir, fs, dst, conf)
      }
    }
    val dest = ArrowDest(FileDestination("parquet", base, 100000,
      Some("mybkt"), Some("eu-central-1"), Some("s3")))
    Runner.run(spark, cfg(dest), registry, uploader = fake)
    ExampleSource.expectedCounts.foreach { case (table, n) =>
      val obj = bucketRoot.resolve("mybkt").resolve(table)
      assert(spark.read.parquet(obj.toString).count() == n, s"bucket object $table")
    }
    // a SECOND run must REPLACE each bucket object, not nest/merge into it
    Runner.run(spark, cfg(dest), registry, uploader = fake)
    ExampleSource.expectedCounts.foreach { case (table, n) =>
      val obj = bucketRoot.resolve("mybkt").resolve(table)
      assert(spark.read.parquet(obj.toString).count() == n, s"run-2 object $table")
      assert(!obj.resolve(table).toFile.exists(), s"run-2 nested dir under $table")
    }
  }

  test("a committed snapshot registers as SQL views (link-table join works)") {
    val base = Files.createTempDirectory("graft-views").toString
    Runner.run(spark, cfg(ArrowDest(FileDestination("parquet", base))), registry)
    val tables = graft.query.Snapshot.register(spark, base)
    assert(tables.size == 13 && tables.contains("example_instance"))
    // the canonical exported-schema query shape: node ⋈ link ⋈ node
    val n = spark.sql(
      """SELECT r.name, count(*) AS n
        |FROM example_region r
        |JOIN link_example_region_example_instance l ON r.id = l.from_id
        |JOIN example_instance i ON l.to_id = i.id
        |GROUP BY r.name ORDER BY r.name""".stripMargin).collect()
    assert(n.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("us-east", 1L), ("us-west", 1L)))
  }

  test("analytics 'collect' event carries the reference's payload schema") {
    val base = Files.createTempDirectory("graft-analytics").toString
    val rec = scala.collection.mutable.Map[String, Map[String, Any]]()
    val sender = new graft.engine.AnalyticsEventSender {
      def capture(e: String, p: Map[String, Any]): Unit = rec(e) = p
    }
    Runner.run(spark, cfg(ArrowDest(FileDestination("parquet", base))), registry,
      sender = sender)
    // reference: {total, engine, <src>: 1, <src>_nodes, <src>_edges}
    val p = rec("collect")
    assert(p("total") == 1 && p("engine") == "file" && p("example") == 1)
    assert(p("example_nodes") == 10L && p("example_edges") == 13L)
  }

  test("run report counts come from write-side metrics, not a second source pass") {
    // a node set that COUNTS how often its rows are scanned: the full
    // Runner.run must touch the source exactly as often as staging alone
    // does — the old count-after-write added one more full pass per source,
    // a second 100 TB read at scale
    import org.apache.spark.sql.{Row, types => T}
    import graft.model.{Kind, KindModel}
    import spark.implicits._
    val scans = spark.sparkContext.longAccumulator("node-scans")
    val model = KindModel(Seq(Kind("thing", KindModel.baseProperties)))
    val nRows = 6
    def mkGraph(): Graph = {
      val rows = (1 to nRows).map { i =>
        Row(s"n$i", "thing", s"""{"id":"n$i","name":"thing $i","kind":"thing"}""")
      }
      val schema = T.StructType(Seq(
        T.StructField("id", T.StringType), T.StructField("kind", T.StringType),
        T.StructField("reported", T.StringType)))
      val nodes = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2).map { r => scans.add(1); r }, schema)
      val edges = Seq(("n1", "n2"), ("n1", "n3")).toDF("from_id", "to_id")
      Graph(nodes, edges, model)
    }
    val counting: Map[String, Source] = Map(
      "c" -> new Source { val name = "c"; def collect(s: SparkSession) = mkGraph() })

    // baseline: normalize + stage only (the unavoidable write passes)
    val b1 = Files.createTempDirectory("graft-passes-a").toString
    val before = scans.value
    sink.SnapshotSink.stage(mkGraph(), ArrowDest(FileDestination("parquet", b1)), "rid")
    val stagePasses = scans.value - before

    val b2 = Files.createTempDirectory("graft-passes-b").toString
    val mid = scans.value
    val report = Runner.run(spark,
      GraftConfig(Map("c" -> Map.empty), ArrowDest(FileDestination("parquet", b2))), counting)
    val runPasses = scans.value - mid
    assert(report.sources == Seq(engine.SourceReport("c", nRows, 2)))
    assert(runPasses == stagePasses,
      s"Runner.run scanned the source ${runPasses / nRows.toDouble} times vs " +
      s"${stagePasses / nRows.toDouble} for staging alone")
  }

  /** A graph over kinds `a` and `b` (4 nodes each) whose node rows count
    * every scan in `scans`, with one edge per kind pair in `pairs`.
    */
  private def pairGraph(pairs: Seq[(String, String)],
                        scans: org.apache.spark.util.LongAccumulator): Graph = {
    import org.apache.spark.sql.{Row, types => T}
    import graft.model.{Kind, KindModel}
    import spark.implicits._
    val model = KindModel(Seq(Kind("a", KindModel.baseProperties), Kind("b", KindModel.baseProperties)))
    val rows = for (k <- Seq("a", "b"); i <- 1 to 4)
      yield Row(s"$k$i", k, s"""{"id":"$k$i","name":"$k $i","kind":"$k"}""")
    val schema = T.StructType(Seq(
      T.StructField("id", T.StringType), T.StructField("kind", T.StringType),
      T.StructField("reported", T.StringType)))
    val nodes = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2).map { r => scans.add(1); r }, schema)
    val edges = pairs.zipWithIndex.map { case ((f, t), i) => (s"$f${i + 1}", s"$t${4 - i}") }
      .toDF("from_id", "to_id")
    Graph(nodes, edges, model)
  }

  private def pairRegistry(g: => Graph): Map[String, Source] =
    Map("p" -> new Source { val name = "p"; def collect(s: SparkSession): Graph = g })

  private val allPairs = Seq("a" -> "a", "a" -> "b", "b" -> "a", "b" -> "b")

  test("one Runner.run scans the node source's rows exactly once") {
    // the duplicate-id check, every kind projection and edge resolution
    // read ONE scoped cache of the node set, however many kinds and pairs
    val scans = spark.sparkContext.longAccumulator("node-scans-once")
    val base = Files.createTempDirectory("graft-one-scan").toString
    val report = Runner.run(spark, GraftConfig(Map("p" -> Map.empty),
      ArrowDest(FileDestination("parquet", base))), pairRegistry(pairGraph(allPairs, scans)))
    assert(report.sources == Seq(engine.SourceReport("p", 8, 4)))
    assert(scans.value == 8, s"the 8 node rows were scanned ${scans.value / 8.0} times")
    assert(new java.io.File(s"$base/current").list().toSet ==
      Set("a", "b") ++ allPairs.map { case (f, t) => s"link_${f}_$t" })
  }

  test("a source's Spark jobs do not grow with its number of link pairs") {
    // one partitioned link write per source: 1 kind pair and 4 kind pairs
    // over the same kinds launch the same jobs in the run's groups
    def jobsFor(pairs: Seq[(String, String)]): Long = {
      val scans = spark.sparkContext.longAccumulator("node-scans-jobs")
      val base = Files.createTempDirectory("graft-pair-jobs").toString
      val counter = new JobCounter(spark)
      try {
        val report = Runner.run(spark, GraftConfig(Map("p" -> Map.empty),
          ArrowDest(FileDestination("parquet", base))), pairRegistry(pairGraph(pairs, scans)))
        assert(report.totalEdges == pairs.size)
        counter.withPrefix("graft-run-").jobs
      } finally counter.close()
    }
    jobsFor(allPairs) // warm: the first run may plan differently
    val one = jobsFor(Seq("a" -> "b"))
    val four = jobsFor(allPairs)
    assert(one > 0 && one == four, s"1 link pair: $one jobs, 4 link pairs: $four jobs")
  }

  test("nested tags survive as MapType in parquet, degrade to JSON in csv") {
    val base = Files.createTempDirectory("graft-fidelity").toString
    Runner.run(spark, cfg(ArrowDest(FileDestination("parquet", base))), registry)
    val df = spark.read.parquet(s"$base/current/example_account")
    assert(df.schema("tags").dataType.typeName == "map")
    assert(df.select("tags").first().getMap[String, String](0)("owner") == "example")
  }
}
