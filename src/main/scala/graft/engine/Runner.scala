package graft.engine

import graft.config.{Destination, GraftConfig}
import graft.graph.Graph
import graft.sink.SnapshotSink
import org.apache.spark.sql.SparkSession

import java.util.UUID
import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

/** A pluggable source: produces a typed property graph (reference
  * BaseCollectorPlugin surface, collect.py:48-71 [R]).
  */
trait Source { def name: String; def collect(spark: SparkSession): Graph }

/** Per-source result, mirroring the reference's `(name, nodes, edges)`
  * return (collect.py:193-196).
  */
final case class SourceReport(name: String, nodes: Long, edges: Long)
final case class RunReport(sources: Seq[SourceReport]) {
  def totalNodes: Long = sources.map(_.nodes).sum
  def totalEdges: Long = sources.map(_.edges).sum
}

/** Progress feedback surface (K4) — the reference streams progress
  * messages to a UI thread (collect.py:165-189) including task-completion
  * ticks (`feedback.progress_done(task, current, total)`, collect.py:199-202);
  * both message points are exposed here with the same shape. Analytics
  * events (K5) go through [[AnalyticsEventSender]] and default to no-op:
  * this engine never phones home.
  */
trait ProgressListener extends Serializable {
  def progress(source: String, message: String): Unit
  /** The reference's progress_done(task, current, total) tick. */
  def progressDone(task: String, current: Int, total: Int): Unit = ()
}
object NoopProgress extends ProgressListener { def progress(s: String, m: String): Unit = () }

/** K5 analytics interface, schema-compatible with the reference's PostHog
  * sender (collect.py:183-197: one "collect" event carrying
  * {total, engine, <src>: 1, <src>_nodes, <src>_edges}; "error" on
  * failure). The default sender drops everything.
  */
trait AnalyticsEventSender extends Serializable {
  def capture(event: String, props: Map[String, Any]): Unit
  def flush(): Unit = ()
}
object NoopEventSender extends AnalyticsEventSender {
  def capture(event: String, props: Map[String, Any]): Unit = ()
}

/** The engine runner (SURVEY.md §3.1 Spark-native equivalent):
  * per-source pipelines run as parallel jobs on one SparkSession (the
  * reference's ThreadPoolExecutor(max_workers=4), collect.py:186);
  * all sinks stage first; ONE global barrier; then the atomic snapshot
  * swap (K2). Any failure → no swap, previous snapshot intact (K3).
  */
object Runner {
  val SourceParallelism = 4 // reference max_workers=4 (collect.py:186)

  def run(
      spark: SparkSession,
      config: GraftConfig,
      registry: Map[String, Source],
      progress: ProgressListener = NoopProgress,
      uploader: graft.sink.BucketUploader = graft.sink.HadoopBucketUploader,
      sender: AnalyticsEventSender = NoopEventSender): RunReport = {

    // Analytics is telemetry, never control flow: a throwing sender must
    // not mask the source failure it is REPORTING, and must not fail a
    // run whose snapshot already promoted (the reference's PostHog sender
    // never propagates either). Isolate every capture/flush here, once,
    // instead of try-wrapping each call site.
    val rawSender = sender
    val safeSender = new AnalyticsEventSender {
      private def guard(what: String)(body: => Unit): Unit =
        try body catch { case e: Throwable =>
          System.err.println(s"[analytics] $what failed (ignored): $e")
        }
      def capture(event: String, props: Map[String, Any]): Unit =
        guard(s"capture($event)")(rawSender.capture(event, props))
      override def flush(): Unit = guard("flush")(rawSender.flush())
    }

    // source-enable filter (B3): only configured sources are instantiated.
    // A configured name the registry doesn't know is a config error (a
    // typo'd `gpc:` would otherwise silently collect nothing while the
    // run reports success) — fail loudly with the unknown names.
    val unknown = config.sources.keySet.diff(registry.keySet)
    require(unknown.isEmpty,
      s"Unknown source(s) in the configuration: ${unknown.toSeq.sorted.mkString(", ")} " +
        s"— available: ${registry.keySet.toSeq.sorted.mkString(", ")}")
    val active = registry.filter { case (key, _) => config.sources.contains(key) }
    require(active.nonEmpty, "No source in the configuration is available")

    val runId = UUID.randomUUID().toString.take(8)
    val pool = Executors.newFixedThreadPool(SourceParallelism)
    // silent reporter: after a fail-fast return the pool is shut down and
    // straggler continuations are rejected by design — not an error to log
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool, _ => ())

    try {
      // one Spark job group per source (thread-local, set inside the
      // Future): interrupting the pool thread does NOT cancel an in-flight
      // Spark action — without the group, a straggler's executors keep
      // staging (e.g. inserting into a JDBC __tmp table) after a fail-fast
      // return, racing an immediate retry's recreated staging. runId in
      // the name keeps the sticky cancel from touching a retry's groups.
      def groupOf(key: String) = s"graft-run-$runId-$key"
      val futures = active.map { case (key, src) =>
        Future {
          spark.sparkContext.setJobGroup(groupOf(key), s"source $key",
            interruptOnCancel = true)
          try {
            progress.progress(key, "collect started")
            val graph = src.collect(spark)
            // normalize and stage, promotion deferred past the barrier;
            // the source's scoped caches are released when it returns, on
            // this pool thread (the scope is thread-local)
            val staged = SnapshotSink.stage(graph, config.destination, runId)
            progress.progress(key, s"collect done: ${staged.nodes} nodes, ${staged.edges} edges")
            (SourceReport(key, staged.nodes, staged.edges), staged.tables)
          } finally spark.sparkContext.clearJobGroup()
        }
      }.toSeq

      // global barrier: reference as_completed drain (collect.py:193-196).
      // Future.sequence fails as soon as ANY source fails — the first error
      // surfaces immediately (true as-completed fail-fast) instead of after
      // every earlier-submitted source happens to finish; no swap happens.
      val results = Try(Await.result(Future.sequence(futures), Duration.Inf)) match {
        case Success(r) => r
        case Failure(e) =>
          // cancel every source's in-flight Spark jobs FIRST — the
          // interrupt from shutdownNow below stops the pool threads, not
          // the cluster-side work (AndFutureJobs: sticky, so a multi-job
          // source between jobs at cancel time cannot just launch its next
          // job and run to completion)
          active.keys.foreach(k =>
            spark.sparkContext.cancelJobGroupAndFutureJobs(groupOf(k)))
          // reference error path: analytics error event, flush, no swap
          safeSender.capture("error", Map("error" -> String.valueOf(e.getMessage)))
          safeSender.flush()
          throw e
      }

      // two sources emitting the SAME table name would have raced on one
      // staging path and would double-swap the table — fail fast BEFORE
      // any swap statement (the previous good snapshot stays intact),
      // with the offending names and their sources in the error
      val byName = results.flatMap { case (r, names) => names.map(_ -> r.name) }
      val dups = byName.groupBy(_._1).filter(_._2.size > 1)
      if (dups.nonEmpty) {
        val msg = "duplicate table name(s) across sources: " + dups.map {
          case (t, owners) => s"$t (from ${owners.map(_._2).mkString(", ")})"
        }.mkString("; ")
        safeSender.capture("error", Map("error" -> msg))
        safeSender.flush()
        throw new IllegalStateException(msg)
      }

      // atomic snapshot swap, once, after all sources succeeded (K2);
      // progress ticks mirror collect.py:199-202. A swap failure goes down
      // the same error path as a source failure — no success-shaped
      // analytics for a run that never promoted.
      try {
        val swapTask = "Make latest snapshot available"
        progress.progressDone(swapTask, 0, 1)
        SnapshotSink.committer(config.destination, runId,
          results.flatMap(_._2), uploader).commit(spark)
        progress.progressDone(swapTask, 1, 1)
      } catch {
        case e: Throwable =>
          safeSender.capture("error", Map("error" -> String.valueOf(e.getMessage)))
          safeSender.flush()
          throw e
      }

      // reference analytics payload: {total, engine, <src>: 1,
      // <src>_nodes, <src>_edges} in ONE "collect" event (collect.py:183-196),
      // flushed before return so a buffering sender never loses it
      val engineName = config.destination match {
        case graft.config.DbDest(c)     => c.dialect
        case graft.config.SqliteDest(_) => "sqlite"
        case _                          => "file"
      }
      val analytics: Map[String, Any] =
        Map("total" -> active.size, "engine" -> engineName) ++
          active.keys.map(_ -> 1) ++
          results.flatMap { case (r, _) =>
            Seq(s"${r.name}_nodes" -> r.nodes, s"${r.name}_edges" -> r.edges)
          }
      safeSender.capture("collect", analytics)
      safeSender.flush()
      RunReport(results.map(_._1))
    } finally pool.shutdownNow()
    // shutdownNow, not shutdown: after a fail-fast throw, plain shutdown
    // would let already-running straggler sources keep staging (including
    // JDBC __tmp overwrites) for minutes, racing an immediate retry;
    // interrupting them stops the work the run has already abandoned
  }
}
