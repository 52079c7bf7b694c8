package snapbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** A timed interval of one layer. Times are `System.nanoTime` nanoseconds;
  * `parent` is -1 for a cycle's root span. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, cycle: Int) {
  def dur: Long = end - start
  /** The layer is the name up to the first ':' (`sparkentry:q_x` → `sparkentry`). */
  def layer: String = name.takeWhile(_ != ':')
}

object Spans {
  /** Total length of the union of `ivs`, each clipped to `[lo, hi]`. */
  def covered(ivs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val sorted = ivs.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part its children
    * cover (children that overlap each other are counted once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end))
    }.toMap
  }

  /** All spans below `root`, `root` included. */
  def subtree(spans: Seq[Span], root: Int): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Span] = spans.filter(_.id == id) ++ kids.getOrElse(id, Nil).flatMap(c => walk(c.id))
    walk(root)
  }
}

/** Collects spans in memory; they are read once, after the run. */
final class Tracer {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val open = mutable.HashMap.empty[Int, (String, Long, Int, Int)]

  def begin(name: String, parent: Int, cycle: Int, at: Long = System.nanoTime()): Int = synchronized {
    val id = nextId; nextId += 1
    open(id) = (name, at, parent, cycle); id
  }

  def end(id: Int, at: Long = System.nanoTime()): Unit = synchronized {
    val (name, start, parent, cycle) = open.remove(id).get
    buf += Span(id, name, start, at, parent, cycle)
  }

  def span[A](name: String, parent: Int, cycle: Int)(body: Int => A): A = {
    val id = begin(name, parent, cycle)
    try body(id) finally end(id)
  }

  def spans: Seq[Span] = synchronized(buf.toList)
}

/** One Spark job with the cost of its tasks. */
final class JobRec(val id: Int, val group: String, val execution: String, val callSite: String,
                   val start: Long) {
  /** Layer named by the call site, if a graft launcher is on it. */
  val siteLayer: Option[String] = JobListener.siteLayer(callSite)
  var layer: String = "other"
  var end: Long = -1L
  var tasks = 0
  var taskNs = 0L
  var gcNs = 0L
  var shuffleWrite = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  val taskIvs = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes every Spark job to the layer whose public function launched
  * it. The call site (the launching thread's stack, as Spark records it
  * on each stage and SQL execution) names the function. Jobs launched
  * where no graft frame is on the stack (AQE and broadcast threads) take
  * the layer of their SQL execution, else the layer of their job group.
  * Event times are wall-clock milliseconds; they are moved onto the
  * `System.nanoTime` axis the spans use. Spark delivers a listener's
  * events on one thread; readers call [[jobs]] after draining the bus.
  */
final class JobListener extends SparkListener {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + offsetNs

  private val byId = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val executionLayer = mutable.HashMap.empty[String, String]

  /** A SQL execution records the call site of the action that started it;
    * its jobs, on whatever thread they run, inherit that layer. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      JobListener.siteLayer(s.details).foreach(executionLayer(s.executionId.toString) = _)
    }
    case _ => ()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val site = j.stageInfos.headOption.map(_.details).getOrElse("")
    val rec = new JobRec(j.jobId, prop("spark.jobGroup.id"), prop("spark.sql.execution.id"), site, ns(j.time))
    byId(j.jobId) = rec
    j.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = rec)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    byId.get(j.jobId).foreach(_.end = ns(j.time))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(t.stageId).foreach { rec =>
      rec.tasks += 1
      rec.taskIvs += ((ns(t.taskInfo.launchTime), ns(t.taskInfo.finishTime)))
      val m = t.taskMetrics
      if (m != null) {
        rec.taskNs += m.executorRunTime * 1000000L
        rec.gcNs += m.jvmGCTime * 1000000L
        rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        rec.inputBytes += m.inputMetrics.bytesRead
        rec.inputRecords += m.inputMetrics.recordsRead
        rec.outputBytes += m.outputMetrics.bytesWritten
        rec.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Finished jobs, in id order, each with its layer. */
  def jobs: Seq[JobRec] = synchronized {
    val done = byId.values.filter(_.end >= 0).toList
    done.foreach { j =>
      j.layer = j.siteLayer.orElse(executionLayer.get(j.execution))
        .orElse(JobListener.groupLayer(j.group)).getOrElse("other")
    }
    done
  }
  def clear(): Unit = synchronized { byId.clear(); stageJob.clear(); executionLayer.clear() }
}

object JobListener {
  /** Public functions that launch jobs, innermost first in a stack, mapped
    * to their layer. The first stack frame matching an entry wins. */
  val launchers: Seq[(String, String, String)] = Seq(
    ("graft.graph.GraphNormalizer$", "fromExportRecords", "sources.collect"),
    ("graft.graph.GraphNormalizer$", "fromJsonExport", "sources.collect"),
    ("graft.graph.GraphNormalizer$", "linkTables", "graph.pairs"),
    ("graft.graph.GraphNormalizer$", "normalize", "graph.dupcheck"),
    ("graft.sink.SnapshotSink$", "stage", "sink.stage"),
    ("graft.sink.SqliteSnapshotCommit", "commit", "sink.commit"),
    ("graft.sink.FileSnapshotCommit", "commit", "sink.commit"),
    ("graft.graph.GraphTraversal$", "reachableWithin", "graph.traverse"),
    ("graft.query.Snapshot$", "register", "query.mount"),
    ("graft.sources.SqliteSource$", "register", "query.mount"))

  private val Frame = """([\w$.]+)\.([\w$]+)\(""".r

  /** The layer of the innermost launcher frame in a call site. */
  def siteLayer(callSite: String): Option[String] =
    callSite.linesIterator.flatMap(l => Frame.findFirstMatchIn(l)).flatMap { m =>
      val (cls, fn) = (m.group(1), m.group(2))
      launchers.find { case (c, f, _) => cls == c && (fn == f || fn.contains("$" + f + "$")) }
    }.map(_._3).nextOption()

  /** The layer of a bench job group (`snapbench|<layer>|<span id>`); a
    * job of `Runner.run`'s own groups no launcher claimed is `engine.other`. */
  def groupLayer(group: String): Option[String] =
    if (group.startsWith("snapbench|")) Some(group.split('|')(1))
    else if (group.startsWith("graft-run-")) Some("engine.other")
    else None

  def groupSpan(group: String): Option[Int] =
    if (group.startsWith("snapbench|")) group.split('|').lift(2).flatMap(_.toIntOption) else None
}
