package graft

import graft.config.GraftConfig
import graft.engine.{AnalyticsEventSender, NoopEventSender, ProgressListener, NoopProgress, Runner, Source}
import graft.graph.{Graph, GraphNormalizer}
import graft.sources.ExampleSource
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** CLI entry — the reference's `cloud2sql` argument surface
  * (cloud2sql __main__.py:24-97): `--config`, `--show progress|log|none`,
  * `--debug`, `--version`, `--create-config`, `--analytics-opt-out`, with
  * every flag also settable through the environment (`GRAFT_<FLAG>`;
  * `CLOUD2SQL_<FLAG>` accepted for drop-in parity with the reference's
  * env_args_prefix).
  *
  * Built-in source registry:
  *  - `example`: the deterministic fixture graph (reference test collector)
  *  - `graph_export`: JSON-lines node/edge export ingest (reference A3);
  *    config key `path`; the kind model arrives embedded in the export.
  */
object Main {

  val Version = "0.9.0"

  final case class CliArgs(
      config: Option[String] = None,
      show: String = "progress",
      debug: Boolean = false,
      analyticsOptOut: Boolean = false,
      version: Boolean = false,
      createConfig: Boolean = false)

  private val showChoices = Set("progress", "log", "none")

  /** argparse-style parsing with env fallback (reference __main__.py:24-28).
    * CLI flags win over environment values.
    */
  def parseArgs(argv: Seq[String], env: Map[String, String] = sys.env): CliArgs = {
    def envFlag(name: String): Option[String] =
      env.get(s"GRAFT_$name").orElse(env.get(s"CLOUD2SQL_$name"))
    // truthy like a shell, not like Scala: "1"/"yes" must not throw
    def envBool(name: String): Boolean =
      envFlag(name).exists(v => Set("1", "true", "yes", "on")(v.trim.toLowerCase))
    var a = CliArgs(
      config = envFlag("CONFIG"),
      show = envFlag("SHOW").getOrElse("progress"),
      debug = envBool("DEBUG"),
      analyticsOptOut = envBool("ANALYTICS_OPT_OUT"))
    var rest = argv.toList
    while (rest.nonEmpty) rest = rest match {
      case "--config" :: Nil               =>
        throw new IllegalArgumentException("argument --config: expected one argument")
      case "--show" :: Nil                 =>
        throw new IllegalArgumentException("argument --show: expected one argument")
      case "--config" :: v :: t            => a = a.copy(config = Some(v)); t
      case "--show" :: v :: t              =>
        require(showChoices(v), s"argument --show: invalid choice: '$v' (choose from ${showChoices.mkString(", ")})")
        a = a.copy(show = v); t
      case "--debug" :: t                  => a = a.copy(debug = true); t
      case "--version" :: t                => a = a.copy(version = true); t
      case "--create-config" :: t          => a = a.copy(createConfig = true); t
      case "--analytics-opt-out" :: t      => a = a.copy(analyticsOptOut = true); t
      case other :: _ => throw new IllegalArgumentException(s"unrecognized argument: $other")
      case Nil        => Nil // unreachable: loop guard requires nonEmpty
    }
    // validate AFTER the loop so environment-sourced values go through the
    // same choices check as CLI flags (argparse validates both identically)
    require(showChoices(a.show),
      s"argument --show: invalid choice: '${a.show}' (choose from ${showChoices.mkString(", ")})")
    if (!a.version && !a.createConfig)
      require(a.config.nonEmpty, "The following arguments are required: --config")
    a
  }

  /** `--create-config` output (reference __main__.py:59-62): the source
    * defaults plus the default sqlite destination, verbatim database name.
    */
  def createConfigYaml: String =
    """sources:
      |  example: {}
      |  # graph_export:
      |  #   path: /path/to/graph.jsonl
      |destinations:
      |  # sqlite is the reference default; the engine writes the database
      |  # file natively (no JDBC driver needed)
      |  sqlite:
      |    database: cloud2sql.db
      |""".stripMargin

  /** `SPARK_GRAFT_CPUS` from `env`, else every core; anything but an
    * integer ≥ 1 fails here, by name, rather than as Spark's `local[0]`. */
  def cpus(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(v =>
      v.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$v'")))

  /** The session recipe of every graft JVM (CLI, harness mains, tests):
    * `master`, else `local[n]`, with `n` shuffle partitions, UTC session time,
    * INT64(NANOS) parquet timestamps read as longs (`Tables.events`
    * normalizes them), no UI and ERROR logging; all else is Spark's default.
    */
  def session(app: String, n: Int = cpus(sys.env), master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$n]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def registry: Map[String, Source] = Map(
    "example" -> new Source {
      val name = "example"
      def collect(s: SparkSession): Graph = ExampleSource.collect(s)
    },
    "graph_export" -> new Source {
      val name = "graph_export"
      def collect(s: SparkSession): Graph =
        throw new IllegalArgumentException("graph_export requires a path (set via config)")
    })

  def main(argv: Array[String]): Unit = {
    val args = try parseArgs(argv.toSeq) catch {
      case e: IllegalArgumentException =>
        // argparse-style CLI error: one line on stderr + exit 2, not a
        // JVM stack trace (sys.error would just rethrow)
        System.err.println(s"error: ${e.getMessage}")
        sys.exit(2)
    }
    if (args.version) { println(s"Graft Version $Version (cloud2sql-compatible)"); return }
    if (args.createConfig) { print(createConfigYaml); return }

    val config = GraftConfig.parse(Files.readString(Paths.get(args.config.get)))

    val spark = session("graft", master = sys.env.get("SPARK_MASTER"))
    if (args.show == "log") spark.sparkContext.setLogLevel(if (args.debug) "DEBUG" else "INFO")

    // wire config-driven sources: graph_export picks its path from config;
    // its kind model arrives embedded in the export (no hardcoded schema)
    val wired = registry.map {
      case ("graph_export", _) => "graph_export" -> new Source {
        val name = "graph_export"
        def collect(s: SparkSession): Graph = {
          val path = config.sources("graph_export").getOrElse("path",
            throw new IllegalArgumentException("graph_export.path must be defined"))
          GraphNormalizer.fromJsonExport(s, path)
        }
      }
      case other => other
    }

    // reference show modes: progress -> live renderer (1 s repaint + final
    // replay); log -> plain lines (logging shows the detail); none -> quiet
    // live ANSI repaint only on a real terminal; redirected stderr (CI,
    // `2> run.log`) gets just the final replay — no cursor-control garbage
    val renderer: Option[graft.engine.ConsoleProgressRenderer] =
      if (args.show == "progress")
        Some(new graft.engine.ConsoleProgressRenderer(live = System.console() != null))
      else None
    val progress: ProgressListener = args.show match {
      case "progress" => renderer.get
      case "log" => new ProgressListener {
        def progress(source: String, message: String): Unit =
          System.err.println(s"[progress] $source: $message")
        override def progressDone(task: String, current: Int, total: Int): Unit =
          System.err.println(s"[progress] $task: $current/$total")
      }
      case _ => NoopProgress
    }
    // analytics default to no-op either way — this engine never phones
    // home; the flag is accepted for CLI parity and forces Noop explicitly
    val sender: AnalyticsEventSender = NoopEventSender

    try {
      val report = Runner.run(spark, config, wired, progress, sender = sender)
      renderer.foreach(_.close())
      report.sources.foreach { s =>
        println(s"${s.name}: ${s.nodes} nodes, ${s.edges} edges")
      }
      println(s"total: ${report.totalNodes} nodes, ${report.totalEdges} edges")
    } finally {
      renderer.foreach(_.close())
      spark.stop()
    }
  }
}
