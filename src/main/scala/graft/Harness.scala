package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The measurement harness the mains share (Bench, Verify, ScaleCheck,
  * ChurnCheck, RecallCurve): one name filter, one guarded run, one scoped
  * noop run and one job counter, so a number from one main means what the
  * same number means in another. Their sessions, like the CLI's and the
  * test session, come from `graft.Main.session`.
  */
object Harness {
  /** The `SPARK_GRAFT_ONLY` filter (comma-separated names), or keep-all when
    * unset. A name outside `allowed` fails loudly: a typo would otherwise
    * time nothing and leave a valid-looking, incomplete artifact.
    */
  def only(allowed: Set[String],
           spec: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): String => Boolean =
    spec match {
      case None => _ => true
      case Some(s) =>
        val names = s.split(',').map(_.trim).filter(_.nonEmpty).toSet
        require(names.nonEmpty, "SPARK_GRAFT_ONLY is set but names nothing")
        val unknown = names -- allowed
        require(unknown.isEmpty,
          s"unknown name(s) in SPARK_GRAFT_ONLY: ${unknown.toSeq.sorted.mkString(", ")}")
        names
    }

  private lazy val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "harness-watchdog"); t.setDaemon(true); t
  }

  /** Run `body` under job group `group`; past `timeoutSec` the group is
    * cancelled and `body` throws. The cancel is the sticky
    * `cancelJobGroupAndFutureJobs` (a plain `cancelJobGroup` lets a
    * multi-job run that is between jobs launch its next job and finish),
    * so `group` must be unique per run: a cancel that races a run's end
    * would otherwise cancel the next run under the same name.
    */
  def guarded[A](spark: SparkSession, group: String, timeoutSec: Long)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = true)
    val kill = watchdog.schedule(new Runnable {
      def run(): Unit = {
        System.err.println(s"[harness] $group TIMED OUT after $timeoutSec s — cancelling")
        sc.cancelJobGroupAndFutureJobs(group)
      }
    }, timeoutSec, TimeUnit.SECONDS)
    try body
    finally { kill.cancel(false); sc.clearJobGroup() }
  }

  /** Build `build` and force every column through the noop sink inside one
    * [[CacheTracker.scope]], the way Verify and the engine runner execute
    * queries: builders' `cachedInScope` caches are a passthrough outside a
    * scope, so an unscoped run times a plan no runner executes. The scope
    * releases those caches when the write ends.
    */
  def scopedNoop(build: => DataFrame): Unit =
    CacheTracker.scope(noop(build))

  /** [[scopedNoop]], returning the formatted plan. It is rendered inside
    * the scope: after scope exit a re-plan would lose the in-memory
    * relations the run executed with.
    */
  def scopedPlan(build: => DataFrame): String = CacheTracker.scope {
    val df = build
    noop(df)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The sweep between timed runs: drop every cache and persisted RDD
    * (blocking) and collect garbage, so one run's storage and garbage never
    * land in the next run's timed region.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Wall seconds of `body`. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** JSON string literal: escapes backslash, quote and every control char
    * (a tab in builder SQL or a multi-line exception message would
    * otherwise break the consumer's `json.load`).
    */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Spark cost counters per job group: jobs, completed stages, tasks, task
  * time, GC time and shuffle bytes written. Every job, stage and task is
  * charged to the job group of the thread that submitted it (broadcast and
  * subquery jobs inherit it), so concurrent or unrelated work never counts.
  * Registers itself on the session's listener bus; [[close]] removes it.
  */
final class JobCounter(spark: SparkSession) extends SparkListener with AutoCloseable {
  import JobCounter.Counts

  private val counts = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val events = new AtomicLong(0)
  private var settled = -1L
  spark.sparkContext.addSparkListener(this)

  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def add(group: String, c: Counts): Unit = {
    counts.merge(group, c, (a, b) => a + b)
    events.incrementAndGet()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach(add(_, Counts(jobs = 1)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach(stageGroup.put(e.stageInfo.stageId, _))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(add(_, Counts(stages = 1)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val m = e.taskMetrics
      add(g, if (m == null) Counts(tasks = 1)
             else Counts(tasks = 1, taskMs = m.executorRunTime, gcMs = m.jvmGCTime,
                         shuffleBytes = m.shuffleWriteMetrics.bytesWritten))
    }

  /** The counts of `group` once the listener bus has settled: events post
    * asynchronously, so wait until no new event arrived for 300 ms. A
    * lookup with no event since the last settle returns at once.
    */
  def apply(group: String): Counts = { settle(); counts.getOrDefault(group, Counts()) }

  /** The settled counts summed over every group whose name starts with
    * `prefix` (a run whose job groups carry per-run suffixes).
    */
  def withPrefix(prefix: String): Counts = {
    settle()
    counts.asScala.collect { case (g, c) if g.startsWith(prefix) => c }
      .foldLeft(Counts())(_ + _)
  }

  private def settle(): Unit = synchronized {
    var cur = events.get
    while (cur != settled) { settled = cur; Thread.sleep(300); cur = events.get }
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

object JobCounter {
  final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                          taskMs: Long = 0, gcMs: Long = 0, shuffleBytes: Long = 0) {
    def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      taskMs + o.taskMs, gcMs + o.gcMs, shuffleBytes + o.shuffleBytes)

    def json: String =
      f"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_s":${taskMs / 1e3}%.3f,""" +
        f""""gc_s":${gcMs / 1e3}%.3f,"shuffle_mb":${shuffleBytes / 1048576.0}%.3f}"""
  }

  private val seq = new AtomicLong(0)

  /** The counts of the work `body` launches on this thread. */
  def of(spark: SparkSession)(body: => Unit): Counts = {
    val counter = new JobCounter(spark)
    val group = s"job-counter-${seq.incrementAndGet()}"
    spark.sparkContext.setJobGroup(group, group)
    try { body; counter(group) }
    finally { spark.sparkContext.clearJobGroup(); counter.close() }
  }
}
