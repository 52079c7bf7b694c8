package graft

import graft.config._
import graft.engine.{Runner, Source}
import graft.graph.{Graph, GraphNormalizer}
import graft.model.{Kind, KindModel}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Link tables staged through the partitioned write and renamed into
  * `link_<from>_<to>`: kind names that Spark escapes in partition paths,
  * name collisions caught from the partition listing before any promote,
  * and edges to kind-less nodes, on every destination family.
  */
class LinkStagingSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** A graph over (id, kind) nodes and (from, to) edges whose model
    * declares `kinds` as root kinds with the base properties.
    */
  private def graph(kinds: Seq[String], nodes: Seq[(String, String)],
                    edges: Seq[(String, String)]): Graph = {
    import spark.implicits._
    val model = KindModel(kinds.map(Kind(_, KindModel.baseProperties)))
    def js(s: String) = if (s == null) "null" else "\"" + s + "\""
    val rows = nodes.map { case (id, k) =>
      (id, k, s"""{"id":${js(id)},"name":${js("n-" + id)},"kind":${js(k)}}""")
    }
    Graph(rows.toDF("id", "kind", "reported"), edges.toDF("from_id", "to_id"), model)
  }

  private def run(g: => Graph, dest: Destination) =
    Runner.run(spark, GraftConfig(Map("g" -> Map.empty), dest), Map("g" -> new Source {
      val name = "g"
      def collect(s: SparkSession): Graph = g
    }))

  /** Committed table → sorted rows (as strings), read back per family. */
  private def committed(dest: Destination, tables: Set[String]): Map[String, Seq[String]] =
    dest match {
      case SqliteDest(cfg) =>
        val r = new sink.SqliteDbReader(new java.io.File(cfg.database))
        try {
          assert(r.tableNames.toSet == tables)
          tables.map(t => t -> r.rows(t).map(_.mkString("|")).toSeq.sorted).toMap
        } finally r.close()
      case ArrowDest(cfg) =>
        tables.map { t =>
          val path = s"${cfg.path}/current/$t"
          val df = if (cfg.format == "csv") spark.read.option("header", "true").csv(path)
                   else spark.read.parquet(path)
          t -> df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
        }.toMap
      case DbDest(cfg) =>
        val c = java.sql.DriverManager.getConnection(cfg.url)
        try tables.map { t =>
          val rs = c.createStatement().executeQuery(s"SELECT * FROM $t")
          val n = rs.getMetaData.getColumnCount
          t -> Iterator.continually(rs).takeWhile(_.next())
            .map(r => (1 to n).map(r.getString).mkString("|")).toSeq.sorted
        }.toMap
        finally c.close()
      case other => fail(s"no reader for $other")
    }

  private def destinations(tag: String): Seq[Destination] = {
    def dir() = Files.createTempDirectory(s"graft-$tag").toString
    Seq(ArrowDest(FileDestination("parquet", dir())), ArrowDest(FileDestination("csv", dir())),
      SqliteDest(SqliteDestination(s"${dir()}/c2s.db")))
  }

  /** What a file or SQLite destination's staging root holds. */
  private def staged(dest: Destination): Seq[String] = {
    val root = dest match {
      case ArrowDest(cfg)  => new java.io.File(s"${cfg.path}/_staging")
      case SqliteDest(cfg) => new java.io.File(s"${cfg.database}.staging")
      case _               => return Nil
    }
    Option(root.listFiles()).getOrElse(Array.empty).map(_.getName).toSeq
  }

  /** No staging leftovers next to the run directories: the private link
    * directory is removed whether its source staged or failed.
    */
  private def noPrivateLinkDirs(dest: Destination): Unit = {
    val left = staged(dest)
    assert(!left.exists(_.contains(".links-")), s"private link dir left behind: ${left.mkString(", ")}")
  }

  test("kind names Spark escapes in partition paths commit under their literal link names") {
    // `/`, `=`, `%`, a space, `:` and non-ASCII: each is escaped (or not)
    // differently by the partition path and must come back verbatim
    val kinds = Seq("a/b", "c=d", "e%f", "g h", "i:j", "ü京")
    val nodes = kinds.zipWithIndex.flatMap { case (k, i) => Seq((s"n$i", k), (s"m$i", k)) }
    val edges = kinds.indices.flatMap { i =>
      val j = (i + 1) % kinds.size
      Seq((s"n$i", s"n$j"), (s"m$i", s"n$j"), (s"n$i", s"m$i"))
    }
    assert(java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
      .newEncoder().canEncode(kinds.mkString),
      "this JVM cannot create non-ASCII file names: run it under a UTF-8 locale")
    val kindOf = nodes.toMap
    val wantLinks: Map[String, Seq[String]] = edges
      .groupBy { case (f, t) => s"link_${kindOf(f)}_${kindOf(t)}" }
      .map { case (n, es) => n -> es.map { case (f, t) => s"$f|$t" }.sorted }
    assert(wantLinks.size == 12)
    destinations("escaped").foreach { dest =>
      val report = run(graph(kinds, nodes, edges), dest)
      assert(report.totalNodes == nodes.size && report.totalEdges == edges.size, s"$dest")
      val got = committed(dest, kinds.toSet ++ wantLinks.keySet)
      wantLinks.foreach { case (t, rows) => assert(got(t) == rows, s"$dest: $t") }
      kinds.foreach(k => assert(got(k).size == 2, s"$dest: kind table $k"))
      noPrivateLinkDirs(dest)
    }
  }

  test("link-name collisions fail before any promote; the previous snapshot stays intact") {
    val good = graph(Seq("p", "q"), Seq("p1" -> "p", "q1" -> "q"), Seq("p1" -> "q1"))
    // two DISTINCT pairs (a_b, c) and (a, b_c) render the same link_a_b_c
    val pairClash = graph(Seq("a_b", "c", "a", "b_c"),
      Seq("x1" -> "a_b", "x2" -> "c", "x3" -> "a", "x4" -> "b_c"),
      Seq("x1" -> "x2", "x3" -> "x4"))
    // a kind literally named like the generated link table of (x, y)
    val kindClash = graph(Seq("x", "y", "link_x_y"),
      Seq("x1" -> "x", "y1" -> "y", "l1" -> "link_x_y"), Seq("x1" -> "y1"))
    destinations("collide").foreach { dest =>
      run(good, dest)
      val before = committed(dest, Set("p", "q", "link_p_q"))
      Seq(pairClash -> "collide on a link-table name",
          kindClash -> "collide with generated link-table name").foreach { case (g, msg) =>
        val e = intercept[GraphNormalizer.InvalidGraphException](run(g, dest))
        assert(e.getMessage.contains(msg), s"$dest: ${e.getMessage}")
        assert(committed(dest, Set("p", "q", "link_p_q")) == before, s"$dest: snapshot changed")
        noPrivateLinkDirs(dest)
      }
    }
  }

  test("a kind the file-name charset cannot encode fails before staging; the snapshot stays") {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val good = graph(Seq("p", "q"), Seq("p1" -> "p", "q1" -> "q"), Seq("p1" -> "q1"))
    val unicode = graph(Seq("p", "ü京"), Seq("p1" -> "p", "u1" -> "ü京"), Seq("p1" -> "u1"))
    destinations("charset").foreach { dest =>
      run(good, dest)
      val before = committed(dest, Set("p", "q", "link_p_q"))
      val e = intercept[IllegalStateException](
        sink.SnapshotSink.stage(unicode, dest, "run-ascii", ascii))
      assert(e.getMessage.contains("table `ü京`") && e.getMessage.contains("sun.jnu.encoding = US-ASCII"),
        e.getMessage)
      val staging = dest match {
        case ArrowDest(cfg) => s"${cfg.path}/_staging"
        case SqliteDest(cfg) => s"${cfg.database}.staging"
        case other => fail(s"no staging for $other")
      }
      assert(!new java.io.File(s"$staging/run-ascii").exists(), s"$dest: staged before the check")
      assert(committed(dest, Set("p", "q", "link_p_q")) == before, s"$dest: snapshot changed")
      noPrivateLinkDirs(dest)
    }
    // a non-root kind names no kind table and is not checked up front (a
    // node of that kind with an edge names a link table, checked on the
    // link write's listing: next test); a charset that encodes every root
    // kind passes
    val nonRoot = KindModel(Seq(Kind("p", KindModel.baseProperties),
      Kind("ü", KindModel.baseProperties, aggregateRoot = false)))
    sink.SnapshotSink.checkFileNames(nonRoot, ascii)
    sink.SnapshotSink.checkFileNames(unicode.model, java.nio.charset.StandardCharsets.UTF_8)
  }

  test("a data kind the file-name charset cannot encode names no link table; the snapshot stays") {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val good = graph(Seq("p", "q"), Seq("p1" -> "p", "q1" -> "q"), Seq("p1" -> "q1"))
    // ü京 is no root kind, so it names no kind table, but p1 -> u1 names
    // link_p_ü京, known only from the link write's listing
    val linked = graph(Seq("p"), Seq("p1" -> "p", "u1" -> "ü京"), Seq("p1" -> "u1")).copy(
      model = KindModel(Seq(Kind("p", KindModel.baseProperties),
        Kind("ü京", KindModel.baseProperties, aggregateRoot = false))))
    destinations("charset-link").foreach { dest =>
      run(good, dest)
      val before = committed(dest, Set("p", "q", "link_p_q"))
      val e = intercept[IllegalStateException](
        sink.SnapshotSink.stage(linked, dest, "run-ascii", ascii))
      assert(e.getMessage.contains("table `link_p_ü京`") &&
        e.getMessage.contains("sun.jnu.encoding = US-ASCII"), e.getMessage)
      assert(!staged(dest).contains("run-ascii"), s"$dest: staged before the check")
      assert(committed(dest, Set("p", "q", "link_p_q")) == before, s"$dest: snapshot changed")
      noPrivateLinkDirs(dest)
    }
  }

  test("a path the charset cannot encode failing inside the link write fails as the charset") {
    // under the POSIX locale the partitioned link write itself fails on a
    // data kind outside ASCII, before its listing can be checked
    import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
    import java.nio.file.InvalidPathException
    val malformed = new InvalidPathException("/s/r.links-1/links/from_kind=p/to_kind=ü京",
      "Malformed input or input contains unmappable characters")
    val failed = new org.apache.spark.SparkException("Job aborted",
      new RuntimeException("task failed", malformed))
    val e = sink.SnapshotSink.unencodablePath(failed, US_ASCII)
    assert(e.exists(_.getMessage.contains("sun.jnu.encoding = US-ASCII")), e)
    assert(e.exists(_.getCause eq failed))
    // a path the charset encodes (a NUL, say) fails for another reason
    val nul = new InvalidPathException("/s/a\u0000b", "Nul character not allowed")
    assert(sink.SnapshotSink.unencodablePath(new RuntimeException(nul), US_ASCII).isEmpty)
    assert(sink.SnapshotSink.unencodablePath(failed, UTF_8).isEmpty)
  }

  test("a failing kind write lands nothing, ends its sibling writes first and leaves no cache") {
    val good = graph(Seq("p", "q"), Seq("p1" -> "p", "q1" -> "q"), Seq("p1" -> "q1"))
    // q2's document is not JSON: under FAILFAST the write of kind q fails
    // while the write of kind p and the link write run beside it
    def bad = {
      import spark.implicits._
      val g = graph(Seq("p", "q"), Seq("p1" -> "p", "p2" -> "p", "q1" -> "q"),
        Seq("p1" -> "q1", "p2" -> "q1"))
      g.copy(nodes = g.nodes.union(
        Seq(("q2", "q", """{"id":"q2","name":""")).toDF("id", "kind", "reported")))
    }
    val db = Files.createTempDirectory("graft-failing-derby").resolve("db")
    val dests = destinations("failing").filter {
      case ArrowDest(cfg) => cfg.format == "parquet"
      case _ => true
    } :+ DbDest(JdbcDestination(s"jdbc:derby:$db;create=true", "derby"))
    dests.foreach { dest =>
      run(good, dest)
      val before = committed(dest, Set("p", "q", "link_p_q"))
      val cached = spark.sparkContext.getPersistentRDDs.keySet
      val e = intercept[Exception](run(bad, dest))
      assert(e.getClass == classOf[org.apache.spark.SparkException], s"$dest: $e")
      assert(committed(dest, Set("p", "q", "link_p_q")) == before, s"$dest: snapshot changed")
      assert(staged(dest).isEmpty, s"$dest: staging left ${staged(dest).mkString(", ")}")
      assert(spark.sparkContext.getPersistentRDDs.keySet.diff(cached).isEmpty,
        s"$dest: the failed run left a cache")
    }
  }

  test("a kind whose name is a path prefix of another's stages both, in either order") {
    // kind `a/b` names a table directory inside kind `a`'s: the concurrent
    // writes must not nest, and `a` must not replace `a/b` when it lands
    val nodes = Seq("a1" -> "a", "a2" -> "a", "b1" -> "a/b")
    Seq(Seq("a", "a/b"), Seq("a/b", "a")).foreach { kinds =>
      destinations("nested").filter {
        case ArrowDest(cfg) => cfg.format == "parquet"
        case _ => true
      }.foreach { dest =>
        val report = run(graph(kinds, nodes, Nil), dest)
        assert(report.totalNodes == 3, s"$dest, $kinds")
        assert(committed(dest, Set("a", "a/b")).view.mapValues(_.size).toMap ==
          Map("a" -> 2, "a/b" -> 1), s"$dest, $kinds")
        noPrivateLinkDirs(dest)
      }
    }
  }

  test("a source without edges stages its kind tables and no link table") {
    val g = graph(Seq("p", "q"), Seq("p1" -> "p", "q1" -> "q"), Nil)
    destinations("no-edges").foreach { dest =>
      val report = run(g, dest)
      assert(report.totalNodes == 2 && report.totalEdges == 0, s"$dest")
      assert(committed(dest, Set("p", "q")).values.map(_.size).toSeq == Seq(1, 1), s"$dest")
      noPrivateLinkDirs(dest)
    }
  }

  test("a kind model that cannot project to tables fails as an invalid graph") {
    // a property typed by its own kind has no Spark schema; the streaming
    // ingest skips such an export instead of retrying it forever
    import graft.model.KindProperty
    val g = graph(Seq("p"), Seq("p1" -> "p"), Nil)
    val cyclic = g.copy(model = KindModel(Seq(Kind("p", Seq(KindProperty("self", "p"))))))
    val e = intercept[GraphNormalizer.InvalidGraphException](GraphNormalizer.normalize(cyclic))
    assert(e.getMessage.contains("cycle"), e.getMessage)
  }

  test("an edge to a kind-less node makes no link_null table, per pair or partitioned") {
    // one node without a kind: its edges belong to no link table, the
    // same way a dangling edge's do
    val g = graph(Seq("thing"),
      Seq("t1" -> "thing", "t2" -> "thing", "u1" -> null),
      Seq("t1" -> "t2", "t1" -> "u1", "u1" -> "t2"))
    // the per-pair path (JDBC staging) ...
    assert(GraphNormalizer.normalize(g).links.keySet == Set("link_thing_thing"))
    val db = Files.createTempDirectory("graft-kindless-derby").resolve("db").toString
    val url = s"jdbc:derby:$db;create=true"
    val jdbc = run(g, DbDest(JdbcDestination(url, "derby")))
    assert(jdbc.totalEdges == 1)
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T'")
      val names = Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1).toLowerCase).toSet
      assert(names == Set("thing", "link_thing_thing"), s"derby tables: $names")
    } finally c.close()
    // ... and the partitioned write (file and SQLite staging)
    val out = Files.createTempDirectory("graft-kindless-links").toString
    assert(GraphNormalizer.writeLinksPartitioned(g, out, "parquet", Map.empty) == 1)
    val parts = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("from_kind="))
    assert(parts.toSeq == Seq("from_kind=thing"), s"partitions: ${parts.mkString(", ")}")
    destinations("kindless").foreach { dest =>
      val report = run(g, dest)
      assert(report.totalNodes == 2 && report.totalEdges == 1, s"$dest")
      assert(committed(dest, Set("thing", "link_thing_thing"))("link_thing_thing") == Seq("t1|t2"))
      dest match {
        case ArrowDest(cfg) =>
          val current = new java.io.File(s"${cfg.path}/current").list().toSet
          assert(current == Set("thing", "link_thing_thing"), s"$dest: $current")
        case _ => () // committed() already pinned the SQLite table set
      }
    }
  }
}
