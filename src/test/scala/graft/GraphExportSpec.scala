package graft

import graft.graph.{Graph, GraphNormalizer}
import graft.sources.ExampleSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** A3 remote-graph source (reference collect.py:60-63): write the example
  * graph as a JSON-lines export — kind records first (the model travels
  * with the export), then nodes with the `reported` document embedded as a
  * JSON object, then edges — ingest it back and require the reference's
  * verbatim 13-table/count oracle.
  */
class GraphExportSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** Every table staging would write: the kind tables and the per-pair
    * link tables.
    */
  private def tablesOf(g: Graph): Map[String, DataFrame] = {
    val n = GraphNormalizer.normalize(g)
    n.kinds ++ n.links
  }

  private def exportLines: Seq[String] = {
    val g = ExampleSource.collect(spark)
    val kindLines = ExampleSource.model.kinds.map { k =>
      val props = k.properties.map { p =>
        s"""{"name":"${p.name}","kind":"${p.kind}","required":${p.required}}"""
      }.mkString("[", ",", "]")
      s"""{"type":"kind","fqn":"${k.fqn}","properties":$props}"""
    }
    val nodeLines = g.nodes.collect().toSeq.map { r =>
      // `reported` embedded as an object, not an escaped string — the
      // ingest must capture it back to raw text
      s"""{"type":"node","id":"${r.getString(0)}","kind":"${r.getString(1)}","reported":${r.getString(2)}}"""
    }
    val edgeLines = g.edges.collect().toSeq.map { r =>
      s"""{"type":"edge","from":"${r.getString(0)}","to":"${r.getString(1)}"}"""
    }
    kindLines ++ nodeLines ++ edgeLines
  }

  test("JSON-lines export round-trips through graph_export to the 13-table oracle") {
    val dir = Files.createTempDirectory("graft-export")
    Files.write(dir.resolve("graph.jsonl"), exportLines.asJava)

    val g = GraphNormalizer.fromJsonExport(spark, dir.toString)
    assert(g.model.kinds.map(_.fqn).toSet == ExampleSource.model.kinds.map(_.fqn).toSet)

    val tables = tablesOf(g)
    assert(tables.keySet == ExampleSource.expectedCounts.keySet)
    ExampleSource.expectedCounts.foreach { case (t, n) =>
      assert(tables(t).count() == n, s"table $t")
    }
    // property fidelity through the object-embedded `reported` document
    val inst = tables("example_instance").orderBy("id").collect()
    assert(inst.map(_.getAs[Long]("instance_cores")).toSeq == Seq(4L, 8L))
  }

  test("partitioned link write serves every pair with partition pruning") {
    val out = Files.createTempDirectory("graft-links").toString
    GraphNormalizer.writeLinksPartitioned(ExampleSource.collect(spark), out, "parquet", Map.empty)
    val all = spark.read.parquet(out)
    // one dataset serves every link_<from>_<to> table of the oracle
    ExampleSource.expectedCounts.filter(_._1.startsWith("link_")).foreach { case (t, n) =>
      val Array(f, to) = t.stripPrefix("link_").split("_example_")
      val pair = all.filter(col("from_kind") === f && col("to_kind") === s"example_$to")
      assert(pair.count() == n, s"pair $t")
      // the pair filter prunes to its partition directory, not a full scan
      val scanned = pair.queryExecution.executedPlan.toString
      assert(scanned.contains("PartitionFilters"))
    }
  }

  test("bounded BFS reaches the whole example graph from the account") {
    import spark.implicits._
    val g = ExampleSource.collect(spark)
    val starts = Seq("acc1").toDF("id")
    val within1 = graft.graph.GraphTraversal.reachableWithin(g.edges, starts, 1)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(within1 == Map("acc1" -> 0, "reg1" -> 1, "reg2" -> 1))
    val within3 = graft.graph.GraphTraversal.reachableWithin(g.edges, starts, 3)
    // account -> regions -> {instances, networks, volumes, custom} ->
    // network-instances / instance-volumes: all 10 nodes within 3 hops
    assert(within3.count() == 10)
    // minimal hop count wins: i1 is region->instance (2), not
    // region->network->instance (3)
    val hops = within3.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(hops("i1") == 2 && hops("v1") == 2 && hops("c1") == 2)
  }

  test("streaming ingest commits each export file as one atomic snapshot") {
    val watch = Files.createTempDirectory("graft-ingest-watch")
    val base = Files.createTempDirectory("graft-ingest-dest").toString
    val dest = graft.config.ArrowDest(graft.config.FileDestination("parquet", base))

    val q = graft.streaming.StreamingGraphIngest.run(spark, watch.toString, dest)
    try {
      // snapshot 1: the full example export
      Files.write(watch.resolve("export1.jsonl"), exportLines.asJava)
      q.processAllAvailable()
      ExampleSource.expectedCounts.foreach { case (t, n) =>
        assert(spark.read.parquet(s"$base/current/$t").count() == n, s"snap1 $t")
      }
      // snapshot 2: the custom resource disappears from the inventory —
      // the NEW snapshot must fully replace the old one
      val without = exportLines.filterNot(l => l.contains("\"c1\"") || l.contains(":\"c1\""))
      Files.write(watch.resolve("export2.jsonl"), without.asJava)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$base/current/example_region").count() == 2)
      assert(!new java.io.File(s"$base/current/link_example_region_example_custom_resource").exists(),
        "stale table from snapshot 1 survived the swap")
    } finally q.stop()
  }

  test("streaming ingest skips a truncated gzip export and keeps going") {
    // the cause classifier behind the skip: corruption classes (truncated
    // gzip → EOFException) are permanently-bad FILES, environmental ones
    // (S3 503 → IOException) must rethrow so the checkpoint retries
    import graft.streaming.StreamingGraphIngest.isCorruptionCause
    assert(isCorruptionCause(new org.apache.spark.SparkException("task died",
      new java.io.EOFException("Unexpected end of ZLIB input stream"))))
    assert(!isCorruptionCause(new org.apache.spark.SparkException("task died",
      new java.io.IOException("Service Unavailable"))))

    val watch = Files.createTempDirectory("graft-ingest-poison")
    val base = Files.createTempDirectory("graft-ingest-poison-dest").toString
    val dest = graft.config.ArrowDest(graft.config.FileDestination("parquet", base))
    val q = graft.streaming.StreamingGraphIngest.run(spark, watch.toString, dest)
    try {
      Files.write(watch.resolve("export1.jsonl"), exportLines.asJava)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$base/current/example_region").count() == 2)

      // valid gzip header, deflate stream cut mid-block: the scan dies
      // with EOFException BEFORE producing rows, so PERMISSIVE's
      // corrupt-record column never sees it — this is exactly the case
      // the count()-materialization skip window exists for. The stream
      // must advance past the file, not retry it forever.
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(exportLines.mkString("\n").getBytes("UTF-8")); gz.close()
      val full = bos.toByteArray
      Files.write(watch.resolve("export2.json.gz"), full.take(full.length / 2))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$base/current/example_region").count() == 2,
        "previous snapshot must survive an unreadable export")

      // and the next well-formed export still commits over it
      val without = exportLines.filterNot(l => l.contains("\"c1\"") || l.contains(":\"c1\""))
      Files.write(watch.resolve("export3.jsonl"), without.asJava)
      q.processAllAvailable()
      assert(!new java.io.File(s"$base/current/link_example_region_example_custom_resource").exists(),
        "ingestion must continue with the file AFTER the unreadable one")
    } finally q.stop()
  }

  test("streaming ingest skips an export that cannot be staged and keeps going") {
    val watch = Files.createTempDirectory("graft-ingest-invalid")
    val base = Files.createTempDirectory("graft-ingest-invalid-dest").toString
    val dest = graft.config.ArrowDest(graft.config.FileDestination("parquet", base))
    val skipped = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val progress = new graft.engine.ProgressListener {
      def progress(source: String, message: String): Unit =
        if (message.contains("skipped")) skipped.add(message)
    }
    val q = graft.streaming.StreamingGraphIngest.run(spark, watch.toString, dest,
      progress = progress)
    def regions() = spark.read.parquet(s"$base/current/example_region").count()
    try {
      Files.write(watch.resolve("export1.jsonl"), exportLines.asJava)
      q.processAllAvailable()
      assert(regions() == 2)

      // a duplicate node id (a third region reusing reg1's id)
      val dupId = """{"type":"node","id":"reg1","kind":"example_region","reported":{"id":"reg1","name":"again"}}"""
      Files.write(watch.resolve("export2.jsonl"), (exportLines :+ dupId).asJava)
      q.processAllAvailable()
      assert(skipped.size == 1 && skipped.iterator.next().contains("duplicate node id"), skipped)
      assert(regions() == 2, "previous snapshot must survive a duplicate-id export")

      // a kind named like a generated link table: caught from the partition
      // listing, after the link write, still inside the skip window
      val clash = Seq(
        """{"type":"kind","fqn":"link_example_account_example_region","properties":[{"name":"id","kind":"string"}]}""",
        """{"type":"node","id":"clash1","kind":"link_example_account_example_region","reported":{"id":"clash1"}}""")
      Files.write(watch.resolve("export3.jsonl"), (exportLines ++ clash).asJava)
      q.processAllAvailable()
      assert(skipped.size == 2, skipped)
      assert(regions() == 2, "previous snapshot must survive a name-clash export")
      assert(spark.read.parquet(s"$base/current/link_example_account_example_region")
        .columns.toSeq == Seq("from_id", "to_id"), "the clashing kind replaced a link table")

      // and the next well-formed export still commits over it
      val without = exportLines.filterNot(l => l.contains("\"c1\"") || l.contains(":\"c1\""))
      Files.write(watch.resolve("export4.jsonl"), without.asJava)
      q.processAllAvailable()
      assert(!new java.io.File(s"$base/current/link_example_region_example_custom_resource").exists(),
        "ingestion must continue with the export AFTER the skipped ones")
      assert(regions() == 2 && skipped.size == 2)
      assert(!new java.io.File(s"$base/_staging").list().exists(_.contains(".links-")),
        "a skipped export left its private link directory behind")
    } finally q.stop()
  }

  test("streaming ingest fails, never skips, an export whose kind the JVM cannot name on disk") {
    val watch = Files.createTempDirectory("graft-ingest-charset")
    val base = Files.createTempDirectory("graft-ingest-charset-dest").toString
    val dest = graft.config.ArrowDest(graft.config.FileDestination("parquet", base))
    val skipped = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val progress = new graft.engine.ProgressListener {
      def progress(source: String, message: String): Unit =
        if (message.contains("skipped")) skipped.add(message)
    }
    val q = graft.streaming.StreamingGraphIngest.run(spark, watch.toString, dest,
      progress = progress)
    // staging reads the file-name charset from this property on each call;
    // the JVM's own file-name encoding was fixed at startup and stays UTF-8
    val jnu = System.getProperty("sun.jnu.encoding")
    try {
      Files.write(watch.resolve("export1.jsonl"), exportLines.asJava)
      q.processAllAvailable()
      val regions = spark.read.parquet(s"$base/current/example_region").count()

      System.setProperty("sun.jnu.encoding", "US-ASCII")
      val unicode = Seq(
        """{"type":"kind","fqn":"ü京","properties":[{"name":"id","kind":"string"}]}""",
        """{"type":"node","id":"u1","kind":"ü京","reported":{"id":"u1"}}""")
      Files.write(watch.resolve("export2.jsonl"), (exportLines ++ unicode).asJava)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("sun.jnu.encoding = US-ASCII")), e.getMessage)
      assert(skipped.isEmpty, skipped)
      assert(spark.read.parquet(s"$base/current/example_region").count() == regions)
      assert(!new java.io.File(s"$base/current/ü京").exists())
    } finally {
      if (jnu == null) System.clearProperty("sun.jnu.encoding")
      else System.setProperty("sun.jnu.encoding", jnu)
      q.stop()
    }
  }

  test("streaming ingest with failOnError fails the query on a duplicate-id export") {
    val watch = Files.createTempDirectory("graft-ingest-failfast")
    val base = Files.createTempDirectory("graft-ingest-failfast-dest").toString
    val dest = graft.config.ArrowDest(graft.config.FileDestination("parquet", base))
    val q = graft.streaming.StreamingGraphIngest.run(spark, watch.toString, dest,
      failOnError = true)
    try {
      val dupId = """{"type":"node","id":"reg1","kind":"example_region","reported":{"id":"reg1"}}"""
      Files.write(watch.resolve("export1.jsonl"), (exportLines :+ dupId).asJava)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(_.isInstanceOf[GraphNormalizer.InvalidGraphException]), e.getMessage)
      assert(!new java.io.File(s"$base/current").exists())
    } finally q.stop()
  }

  test("normalizes a 100k-node synthetic graph (data-scale smoke)") {
    import org.apache.spark.sql.functions._
    import graft.model.{Kind, KindModel, KindProperty}
    // events at sf0.1: 100k rows -> 100k event nodes + user nodes + edges
    val ev = Tables.events(spark, "/root/testdata/sf0.1")
    val eventNodes = ev.select(
      concat(lit("e"), col("event_id")).as("id"),
      lit("event_record").as("kind"),
      to_json(struct(
        concat(lit("e"), col("event_id")).as("id"),
        concat(lit("evt-"), col("event_id")).as("name"),
        lit("event_record").as("kind"),
        col("event_type"), col("value"))).as("reported"))
    val userNodes = ev.select(col("user_id")).distinct().select(
      concat(lit("u"), col("user_id")).as("id"),
      lit("user_record").as("kind"),
      to_json(struct(
        concat(lit("u"), col("user_id")).as("id"),
        concat(lit("user-"), col("user_id")).as("name"),
        lit("user_record").as("kind"))).as("reported"))
    val edges = ev.select(
      concat(lit("u"), col("user_id")).as("from_id"),
      concat(lit("e"), col("event_id")).as("to_id"))
    val model = KindModel(Seq(
      Kind("event_record", KindModel.baseProperties ++ Seq(
        KindProperty("event_type", "string"), KindProperty("value", "double"))),
      Kind("user_record", KindModel.baseProperties)))
    val g = graft.graph.Graph(eventNodes.unionByName(userNodes), edges, model)

    val tables = tablesOf(g)
    val nEvents = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    assert(tables("event_record").count() == nEvents)
    assert(tables("user_record").count() == nUsers)
    assert(tables("link_user_record_event_record").count() == nEvents)
    // projection fidelity at scale: typed double survives the JSON round-trip
    val v = tables("event_record").agg(sum(col("value"))).head().getDouble(0)
    assert(!v.isNaN)
  }

  test("toJsonExport round-trips: graph -> export -> graph -> same tables") {
    val dir = Files.createTempDirectory("graft-export-out").toString
    val g = graft.sources.ExampleSource.collect(spark)
    GraphNormalizer.toJsonExport(g, s"$dir/graph")
    // reference-format fidelity: reported is an embedded OBJECT, never a
    // JSON-escaped string
    val aLine = spark.read.text(s"$dir/graph")
      .filter(col("value").contains("\"type\":\"node\"")).head.getString(0)
    assert(aLine.contains("\"reported\":{"), s"reported not embedded: $aLine")
    val back = GraphNormalizer.fromJsonExport(spark, s"$dir/graph")
    // model travels with the export
    assert(back.model.kinds.map(_.fqn).toSet == g.model.kinds.map(_.fqn).toSet)
    // normalized output identical table-for-table
    val t1 = tablesOf(g)
    val t2 = tablesOf(back)
    assert(t1.keySet == t2.keySet)
    t1.keySet.foreach { t =>
      // set ops reject MapType (tags) — compare through the same canonical
      // JSON flattening the SQL sinks use
      val (a, b) = (graft.sink.SnapshotSink.flattenForSql(t1(t)),
                    graft.sink.SnapshotSink.flattenForSql(t2(t)))
      assert(b.exceptAll(a).isEmpty && a.exceptAll(b).isEmpty,
        s"table $t differs after export round-trip")
    }
  }

  test("toJsonExport preserves kind inheritance and non-root kinds") {
    import graft.model.{Kind, KindModel, KindProperty}
    import spark.implicits._
    // the shapes the simple round-trip can't see: a kind inheriting its
    // columns from resource_base, and a non-root (embedded) kind
    val model = KindModel(Seq(
      KindModel.resourceBase.copy(aggregateRoot = false),
      Kind("child_thing", Seq(KindProperty("extra", "int64")),
        bases = Seq("resource_base"))))
    val nodes = Seq(("c1", "child_thing",
      """{"id":"c1","name":"c","kind":"child_thing","extra":7}"""))
      .toDF("id", "kind", "reported")
    val edges = Seq.empty[(String, String)].toDF("from_id", "to_id")
    val dir = Files.createTempDirectory("graft-export-bases").toString
    GraphNormalizer.toJsonExport(graft.graph.Graph(nodes, edges, model), s"$dir/g")
    val back = GraphNormalizer.fromJsonExport(spark, s"$dir/g")
    val child = back.model("child_thing")
    assert(child.bases == Seq("resource_base"))
    assert(!back.model("resource_base").aggregateRoot)
    // inherited columns survive: the projected table has base + own props
    val t = tablesOf(back)
    assert(t.keySet == Set("child_thing"), s"unexpected tables: ${t.keySet}")
    val cols = t("child_thing").columns.toSet
    assert(Set("id", "name", "kind", "extra").subsetOf(cols), s"cols: $cols")
    assert(t("child_thing").select("extra").head.getLong(0) == 7L)
  }

  test("contract conformance: docs/GRAPH_EXPORT.md clauses hold") {
    val dir = Files.createTempDirectory("graft-export-contract")
    val lines = Seq(
      // kind with every optional field ABSENT: defaults are no bases,
      // aggregate_root=true, no properties
      """{"type":"kind","fqn":"bare_kind"}""",
      // kind exercising the documented defaults on properties
      """{"type":"kind","fqn":"thing","properties":[{"name":"id","kind":"string"},{"name":"n","kind":"int64"}]}""",
      // unknown record type: ignored, not fatal
      """{"type":"metric","name":"collect_seconds","value":12}""",
      // malformed line: dropped, not fatal
      """{"type":"node","id":"broken""",
      // node with reported ABSENT, and one with reported null
      """{"type":"node","id":"t0","kind":"thing"}""",
      """{"type":"node","id":"t1","kind":"thing","reported":null}""",
      // node with an embedded object carrying an UNDECLARED property
      // (ignored) and a declared one
      """{"type":"node","id":"t2","kind":"thing","reported":{"id":"t2","n":5,"undeclared":"x"}}""",
      """{"type":"node","id":"b0","kind":"bare_kind"}""",
      // dangling edge (endpoint never exported): dropped by resolution
      """{"type":"edge","from":"t2","to":"ghost"}""",
      """{"type":"edge","from":"t2","to":"t1"}""",
      // record order is insignificant: a kind AFTER its nodes
      """{"type":"kind","fqn":"late_kind","aggregate_root":false}""")
    Files.write(dir.resolve("graph.jsonl"), lines.asJava)

    val g = GraphNormalizer.fromJsonExport(spark, dir.toString)
    // defaults per the contract table
    val bare = g.model("bare_kind")
    assert(bare.bases.isEmpty && bare.aggregateRoot && bare.properties.isEmpty)
    assert(!g.model("late_kind").aggregateRoot)

    val tables = tablesOf(g)
    // non-root late_kind gets no table; property-less bare_kind projects an
    // empty schema and is counted by its rows
    assert(tables.keySet == Set("bare_kind", "thing", "link_thing_thing"),
      s"tables: ${tables.keySet}")
    val thing = tables("thing").orderBy("id").collect()
    assert(thing.map(_.getString(0)).toSeq == Seq(null, null, "t2"),
      "absent/null reported -> all-NULL projection; object reported -> values")
    assert(thing.map(r => Option(r.get(1))).toSeq == Seq(None, None, Some(5L)))
    // the malformed node line vanished (3 thing rows, not 4)
    assert(tables("thing").count() == 3)
    // dangling edge dropped; the resolvable one survived
    val links = tables("link_thing_thing").collect()
    assert(links.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("t2", "t1")))
  }

  test("reference-shaped export reproduces the 13-table oracle byte-for-byte through the native SQLite sink") {
    import graft.config.{SqliteDest, SqliteDestination}
    import graft.sink.SnapshotSink
    import scala.sys.process._

    // A producer-shaped export of the example graph: the SAME logical
    // content as toJsonExport, but written the way a third-party exporter
    // may per the contract — field order scrambled (order is
    // insignificant), optional fields OMITTED where docs/GRAPH_EXPORT.md
    // declares defaults (bases=[], aggregate_root=true, required=false),
    // tolerated noise records present, and record order inverted (edges
    // before nodes before kinds).
    val g = ExampleSource.collect(spark)
    val kindLines = ExampleSource.model.kinds.map { k =>
      val props = k.properties.map { p =>
        val req = if (p.required) s""","required":true""" else "" // default false omitted
        s"""{"kind":"${p.kind}","name":"${p.name}"$req}"""
      }.mkString("[", ",", "]")
      s"""{"properties":$props,"fqn":"${k.fqn}","type":"kind"}"""
    }
    val nodeLines = g.nodes.collect().toSeq.map { r =>
      s"""{"reported":${r.getString(2)},"type":"node","kind":"${r.getString(1)}","id":"${r.getString(0)}"}"""
    }
    val edgeLines = g.edges.collect().toSeq.map { r =>
      s"""{"to":"${r.getString(1)}","type":"edge","from":"${r.getString(0)}"}"""
    }
    val noise = Seq(
      """{"type":"metric","name":"collect_seconds","value":12}""",
      """{"type":"node","id":"broken""")
    val dir = Files.createTempDirectory("graft-parity")
    Files.write(dir.resolve("graph.jsonl"),
      (edgeLines ++ nodeLines ++ noise ++ kindLines).asJava)

    // both databases go through the NATIVE sqlite sink: one from the
    // directly-collected graph, one from the cold-ingested export
    def writeDb(gr: graft.graph.Graph, db: String): Unit = {
      val staged = SnapshotSink.stage(gr, SqliteDest(SqliteDestination(db)), "parity")
      SnapshotSink.committer(SqliteDest(SqliteDestination(db)), "parity",
        staged.tables).commit(spark)
    }
    val base = Files.createTempDirectory("graft-parity-db").toString
    val (dbDirect, dbIngest) = (s"$base/direct.db", s"$base/ingest.db")
    writeDb(g, dbDirect)
    writeDb(GraphNormalizer.fromJsonExport(spark, dir.toString), dbIngest)

    // the check runs through an INDEPENDENT SQLite reader, never our own
    // writer's code: the sqlite3 CLI when the host has it, else python3's
    // stdlib sqlite3 (the same C library; this host image dropped the CLI
    // between rounds). Output format mirrors the CLI ('|'-joined columns,
    // newline rows, NULL as empty) so the assertions below are
    // reader-agnostic; cross-db parity checks compare same-reader output.
    val haveCli = scala.util.Try(Seq("sqlite3", "--version").!!).isSuccess
    def sq(db: String, sql: String): String =
      if (haveCli) Seq("sqlite3", db, sql).!!
      else Seq("python3", "-c",
        "import sqlite3,sys\n" +
          "con=sqlite3.connect(sys.argv[1])\n" +
          "rows=con.execute(sys.argv[2]).fetchall()\n" +
          "print('\\n'.join('|'.join('' if v is None else str(v) for v in r) for r in rows))",
        db, sql).!!
    assert(sq(dbIngest, "PRAGMA integrity_check;").trim == "ok")

    // 13-table oracle via sqlite3
    val names = sq(dbIngest,
      "SELECT name FROM sqlite_master WHERE type='table' ORDER BY name;")
      .trim.split("\n").toSeq
    assert(names.toSet == ExampleSource.expectedCounts.keySet)
    ExampleSource.expectedCounts.foreach { case (t, n) =>
      assert(sq(dbIngest, s"""SELECT count(*) FROM "$t";""").trim == n.toString, s"count $t")
    }

    // byte-for-byte content parity: schema DDL and fully-ordered rows of
    // every table print identically for the ingested and the direct path
    names.foreach { t =>
      val ddl = s"SELECT sql FROM sqlite_master WHERE name = '$t';"
      assert(sq(dbIngest, ddl) == sq(dbDirect, ddl), s"DDL of $t differs")
      val nCols = sq(dbDirect, s"""PRAGMA table_info("$t");""").trim.split("\n").length
      val rows = s"""SELECT * FROM "$t" ORDER BY ${(1 to nCols).mkString(",")};"""
      assert(sq(dbIngest, rows) == sq(dbDirect, rows), s"rows of $t differ")
    }
  }

  test("strict ingest fails loudly on an unparseable line; default drops it per the contract") {
    val dir = Files.createTempDirectory("graft-export-strict")
    val truncated = """{"type":"node","id":"broken"""
    Files.write(dir.resolve("graph.jsonl"), (exportLines :+ truncated).asJava)
    // default: the contract's drop — tables come out complete
    val g = GraphNormalizer.fromJsonExport(spark, dir.toString)
    assert(tablesOf(g)("example_region").count() == 2)
    // strict: the first corrupt line aborts the ingest with the line text
    val e = intercept[IllegalArgumentException](
      GraphNormalizer.fromJsonExport(spark, dir.toString, strict = true))
    assert(e.getMessage.contains("unparseable") && e.getMessage.contains("broken"))
  }

  test("kind record with a property missing its kind fails at ingest, naming the property") {
    val dir = Files.createTempDirectory("graft-export-badprop")
    // property object lacks "kind": must fail AT INGEST with a diagnostic,
    // not as a bare NPE later inside KindModel.sparkType
    val badKind = """{"type":"kind","fqn":"bad_kind","properties":[{"name":"p"}]}"""
    Files.write(dir.resolve("graph.jsonl"), (exportLines :+ badKind).asJava)
    val e = intercept[IllegalArgumentException](
      GraphNormalizer.fromJsonExport(spark, dir.toString))
    assert(e.getMessage.contains("bad_kind") && e.getMessage.contains("'p'"),
      e.getMessage)
  }

  test("export without kind records is rejected unless a fallback model is given") {
    val dir = Files.createTempDirectory("graft-export-nomodel")
    val noKinds = exportLines.filterNot(_.contains("\"type\":\"kind\""))
    Files.write(dir.resolve("graph.jsonl"), noKinds.asJava)
    val e = intercept[IllegalArgumentException](
      GraphNormalizer.fromJsonExport(spark, dir.toString))
    assert(e.getMessage.contains("no kind records"))
    // explicit fallback model still works (library entry point)
    val g = GraphNormalizer.fromJsonExport(spark, dir.toString, Some(ExampleSource.model))
    assert(tablesOf(g)("example_region").count() == 2)
  }
}
