package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** CLI argument surface parity (reference __main__.py:24-66) and the one
  * session recipe, `Main.session`. */
class MainSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("session: local[n] with n shuffle partitions, UTC, nanosAsLong, no UI") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("cpus: SPARK_GRAFT_CPUS, else every core; anything but an integer >= 1 fails by name") {
    assert(Main.cpus(Map.empty) == Runtime.getRuntime.availableProcessors)
    assert(Main.cpus(Map("SPARK_GRAFT_CPUS" -> " 3 ")) == 3)
    for (v <- Seq("0", "-2", "four", "", "2.5", "99999999999"))
      assert(intercept[IllegalArgumentException](Main.cpus(Map("SPARK_GRAFT_CPUS" -> v)))
        .getMessage == s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$v'")
  }

  /** `file:line: text` of each source line matching `pattern`; the gates
    * below write their patterns so that this file matches neither. */
  private def sourceLines(pattern: String): Seq[String] = for {
    root <- Seq("src/main/scala", "src/test/scala")
    f <- Files.walk(Paths.get(root)).iterator.asScala.map(_.toString).filter(_.endsWith(".scala")).toSeq.sorted
    (l, i) <- Files.readAllLines(Paths.get(f)).asScala.zipWithIndex if pattern.r.findFirstIn(l).nonEmpty
  } yield s"$f:${i + 1}: ${l.trim}"

  test("only the recipe in graft.Main builds a session") {
    // a scaladoc usage line (GraftExtensions) names the builder, calls nothing
    val found = sourceLines("SparkSession" + """\s*\.\s*builder\b""")
      .filterNot(_.split(": ", 2)(1).startsWith("*"))
    assert(found.map(_.takeWhile(_ != ':')) == Seq("src/main/scala/graft/Main.scala"), found.mkString("\n"))
  }

  test("the tuning knobs replaced by constants are named nowhere") {
    val found = sourceLines("SPARK_GRAFT_(SPREAD_MB|BCAST_REGIME_MB|PAGERANK_SETTLE|VERIFY_PAR)")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("flags parse; CLI wins over environment; env prefix accepted") {
    val a = Main.parseArgs(Seq("--config", "/x.yaml", "--show", "none", "--debug"))
    assert(a == Main.CliArgs(Some("/x.yaml"), "none", debug = true))

    val fromEnv = Main.parseArgs(Nil, Map("GRAFT_CONFIG" -> "/env.yaml"))
    assert(fromEnv.config.contains("/env.yaml"))
    val refPrefix = Main.parseArgs(Nil, Map("CLOUD2SQL_CONFIG" -> "/ref.yaml", "CLOUD2SQL_SHOW" -> "log"))
    assert(refPrefix.config.contains("/ref.yaml") && refPrefix.show == "log")
    val cliWins = Main.parseArgs(Seq("--config", "/cli.yaml"), Map("GRAFT_CONFIG" -> "/env.yaml"))
    assert(cliWins.config.contains("/cli.yaml"))
  }

  test("--version and --create-config do not require --config") {
    assert(Main.parseArgs(Seq("--version")).version)
    assert(Main.parseArgs(Seq("--create-config")).createConfig)
    val e = intercept[IllegalArgumentException](Main.parseArgs(Nil, Map.empty))
    assert(e.getMessage.contains("The following arguments are required: --config"))
  }

  test("--show rejects unknown choices (argparse wording), from CLI and env") {
    val e = intercept[IllegalArgumentException](
      Main.parseArgs(Seq("--config", "/x", "--show", "fancy")))
    assert(e.getMessage.contains("invalid choice"))
    // env-sourced values go through the same validation as CLI flags
    val e2 = intercept[IllegalArgumentException](
      Main.parseArgs(Seq("--config", "/x"), Map("GRAFT_SHOW" -> "progess")))
    assert(e2.getMessage.contains("invalid choice"))
  }

  test("progress renderer keeps the latest message per source and replays on close") {
    val buf = new java.io.ByteArrayOutputStream()
    val r = new graft.engine.ConsoleProgressRenderer(
      new java.io.PrintStream(buf), live = false, pollMillis = 10)
    r.progress("example", "collect started")
    r.progress("example", "collect done: 10 nodes, 13 edges")
    r.progressDone("Make latest snapshot available", 1, 1)
    r.close()
    r.close() // idempotent
    val out = buf.toString
    assert(out.contains("example: collect done: 10 nodes, 13 edges"))
    assert(out.contains("Make latest snapshot available: 1/1"))
    assert(!out.contains("collect started")) // superseded message not replayed
  }

  test("live progress view renders a table row with elapsed time and a progress bar") {
    val buf = new java.io.ByteArrayOutputStream()
    val r = new graft.engine.ConsoleProgressRenderer(
      new java.io.PrintStream(buf, true), live = true, pollMillis = 10)
    r.progress("aws", "collect started")
    r.progressDone("Make latest snapshot available", 1, 2)
    val deadline = System.nanoTime() + 2e9.toLong
    while (!buf.toString.contains("#") && System.nanoTime() < deadline)
      Thread.sleep(20) // wait for a ticker repaint
    val liveOut = buf.toString
    r.close()
    // table row: padded key, elapsed column, latest message / half-full bar
    assert(liveOut.contains("aws") && liveOut.contains("collect started"))
    assert(liveOut.matches("(?s).*\\d+\\.\\d+s.*"), s"no elapsed column in: $liveOut")
    assert(liveOut.contains("[#####-----] 1/2"), s"no progress bar in: $liveOut")
    // the final replay stays plain (reference rendered_messages shape)
    assert(buf.toString.contains("Make latest snapshot available: 1/2"))
  }

  test("--create-config output is loadable and defaults to the sqlite destination") {
    val tree = graft.config.MiniYaml.parse(Main.createConfigYaml)
    assert(tree.contains("sources") && tree.contains("destinations"))
    val dests = tree("destinations").asInstanceOf[Map[String, Any]]
    assert(dests.keySet == Set("sqlite"))
    assert(dests("sqlite").asInstanceOf[Map[String, Any]]("database") == "cloud2sql.db")
  }
}
