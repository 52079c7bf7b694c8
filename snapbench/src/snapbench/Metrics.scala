package snapbench

import scala.collection.mutable

object Metrics {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  val MB: Double = 1024.0 * 1024.0
}

/** End-to-end statistics over the timed cycles, and the per-layer
  * breakdown of the traced ones. */
final class Metrics(h: Harness, cycles: Seq[CycleRec], cores: Int) {
  import Metrics._

  def snapshotS: Double = median(cycles.map(_.snapshotNs / 1e9))
  def queryS: Double = median(cycles.map(_.queryNs.map(_._2).sum / 1e9))
  /** Geometric mean of each query's median seconds (the mount excluded). */
  def queryGeomeanS: Double = {
    val names = h.queryNames.filterNot(_ == "mount")
    val meds = names.map(n => median(cycles.flatMap(_.queryNs.find(_._1 == n)).map(_._2 / 1e9)))
    math.exp(meds.map(math.log).sum / meds.size)
  }
  def storedBytesPerRow: Double = median(cycles.map(_.storedBytes.toDouble).filter(_ > 0)) / h.storedRows
  def heapAllocMb: Double = median(cycles.map(_.allocBytes / MB))

  /** Per-layer metrics: each is computed per traced cycle, then the median. */
  def perLayer: Seq[(String, (Double, String))] = {
    val traced = cycles.filter(_.traced)
    val perCycle = traced.map(analyse)
    val names = perCycle.headOption.map(_.map(_._1)).getOrElse(Nil)
    val units = perCycle.headOption.map(_.map(t => t._1 -> t._3).toMap).getOrElse(Map.empty)
    // each traced cycle against the mean of its untraced neighbours, so
    // the JVM's warming from cycle to cycle cancels
    val wall = cycles.filterNot(_.traced).map(c => c.index -> (c.end - c.start).toDouble).toMap
    val ratios = traced.flatMap { t =>
      for (a <- wall.get(t.index - 1); b <- wall.get(t.index + 1)) yield (t.end - t.start) / ((a + b) / 2)
    }
    val overhead = if (ratios.isEmpty) 0.0 else median(ratios) - 1
    names.map { n =>
      n -> (median(perCycle.map(_.find(_._1 == n).get._2)), units(n))
    } :+ ("trace.overhead_frac" -> (overhead, "frac"))
  }

  def analyse(rec: CycleRec): Seq[(String, Double, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def put(n: String, v: Double, u: String): Unit = out += ((n, v, u))
    val base = h.tracer.spans.filter(_.cycle == rec.index)
    val root = base.find(_.parent == -1).get
    val run = base.find(_.name == "engine.run").get
    val jobs = rec.jobs
    def key(g: String) = if (g.startsWith("graft-run-")) Some(g.drop("graft-run-".length + 9)) else None

    // graph/stage split of each source: the graph layer runs from the
    // collect's return to the first staging job, staging from there to
    // the source's "collect done"
    var nextId = base.map(_.id).max + 1
    val synth = base.filter(_.name.startsWith("source:")).flatMap { src =>
      val k = src.name.drop("source:".length)
      val collectEnd = base.filter(s => s.parent == src.id && s.name == "sources.collect").map(_.end)
        .headOption.getOrElse(src.start)
      val stageStart = jobs.filter(j => key(j.group).contains(k) && j.layer == "sink.stage")
        .map(_.start).minOption.getOrElse(src.end)
      val g = Span(nextId, "graph.normalize", collectEnd, math.max(collectEnd, stageStart), src.id, rec.index)
      val s = Span(nextId + 1, "sink.stage", math.max(collectEnd, stageStart), src.end, src.id, rec.index)
      nextId += 2
      Seq(g, s)
    }
    val spans = base ++ synth
    val kids = spans.groupBy(_.parent)
    val self = Spans.selfTimes(spans)

    def descend(s: Span, t: Long): Span =
      kids.getOrElse(s.id, Nil).find(k => k.start <= t && t <= k.end).map(descend(_, t)).getOrElse(s)
    def owner(j: JobRec): Span = {
      val top = JobListener.groupSpan(j.group).flatMap(id => spans.find(_.id == id))
        .orElse(key(j.group).flatMap(k => spans.find(_.name == s"source:$k")))
        .getOrElse(root)
      descend(top, j.start)
    }
    val owners = jobs.map(j => j -> owner(j))
    def under(s: Span, o: Span): Boolean = o.id == s.id || (o.parent >= 0 && spans.find(_.id == o.parent).exists(under(s, _)))
    def jobsUnder(p: Span => Boolean) = owners.collect { case (j, o) if spans.exists(s => p(s) && under(s, o)) => j }
    def sec(ns: Double) = ns / 1e9
    def durOf(p: Span => Boolean) = sec(spans.filter(p).map(_.dur.toDouble).sum)

    val runJobs = jobs.filter(j => j.start >= run.start && j.start <= run.end)
    def layer(l: String) = runJobs.filter(_.layer == l)
    val runNs = run.dur.toDouble
    put("engine.jobs", runJobs.size, "count")
    put("engine.tasks", runJobs.map(_.tasks).sum, "count")
    put("engine.core_util", runJobs.map(_.taskNs.toDouble).sum / (runNs * cores), "frac")
    put("engine.driver_only_s", sec(runNs - Spans.covered(runJobs.flatMap(_.taskIvs), run.start, run.end)), "s")
    val done = spans.filter(_.name.startsWith("source:")).map(_.end)
    put("engine.barrier_wait_s", sec(done.map(d => (done.max - d).toDouble).sum), "s")

    put("sources.collect_s", durOf(_.name == "sources.collect"), "s")
    put("sources.collect_jobs", layer("sources.collect").size, "count")
    val scanning = runJobs.filter(j => j.layer != "sink.commit")
    put("sources.scan_passes", scanning.map(_.inputBytes.toDouble).sum / h.exportBytes, "ratio")

    put("graph.dupcheck_s", sec(layer("graph.dupcheck").map(j => (j.end - j.start).toDouble).sum), "s")
    put("graph.dupcheck_jobs", layer("graph.dupcheck").size, "count")
    put("graph.pairs_jobs", layer("graph.pairs").size, "count")
    put("graph.shuffle_mb", runJobs.filter(_.layer.startsWith("graph.")).map(_.shuffleWrite).sum / MB, "MB")
    put("graph.traverse_s", durOf(_.layer == "graph.traverse"), "s")
    put("graph.traverse_jobs", jobsUnder(_.layer == "graph.traverse").size, "count")

    val stage = layer("sink.stage")
    val stageS = durOf(_.name == "sink.stage")
    val tables = h.expected.tables.size
    put("sink.stage_s", stageS, "s")
    put("sink.stage_jobs", stage.size, "count")
    put("sink.stage_tables", tables, "count")
    put("sink.stage_ms_per_table", stageS * 1000 / tables, "ms")
    put("sink.stage_task_s", sec(stage.map(_.taskNs.toDouble).sum), "s")
    put("sink.stage_gc_s", sec(stage.map(_.gcNs.toDouble).sum), "s")
    put("sink.stage_rows_in_per_out",
      stage.map(_.inputRecords.toDouble).sum / math.max(1.0, stage.map(_.outputRecords.toDouble).sum), "ratio")
    put("sink.stage_out_mb", stage.map(_.outputBytes).sum / MB, "MB")
    val commitS = durOf(_.name == "sink.commit")
    put("sink.commit_s", commitS, "s")
    put("sink.commit_jobs", layer("sink.commit").size, "count")
    put("sink.commit_rows_per_s", if (commitS > 0) h.storedRows / commitS else 0.0, "1/s")
    put("sink.commit_out_mb",
      if (h.wl.sqlite) rec.storedBytes / MB else layer("sink.commit").map(_.outputBytes).sum / MB, "MB")

    put("query.mount_s", durOf(_.layer == "query.mount"), "s")
    put("query.mount_jobs", jobsUnder(_.layer == "query.mount").size, "count")
    put("query.inventory_s", durOf(_.layer == "query.inventory"), "s")
    put("query.inventory_jobs", jobsUnder(_.layer == "query.inventory").size, "count")

    val se = jobsUnder(_.layer == "sparkentry")
    put("sparkentry.build_s", durOf(_.layer == "sparkentry.build"), "s")
    put("sparkentry.exec_s", durOf(_.layer == "sparkentry.exec"), "s")
    put("sparkentry.jobs", se.size, "count")
    put("sparkentry.task_s", sec(se.map(_.taskNs.toDouble).sum), "s")
    put("sparkentry.shuffle_mb", se.map(_.shuffleWrite).sum / MB, "MB")
    Seq("operators", "functions", "ext").foreach { mod =>
      put(s"$mod.s", durOf(s => s.layer == "sparkentry" && Workload.module(s.name.drop(11)) == mod), "s")
    }
    (Oracle.inventorySql("", json = false).map(_._1) ++ Workload.SparkEntryQueries).foreach { q =>
      put(s"q.$q.s", durOf(s => s.name.endsWith(s":$q") && (s.layer == "sparkentry" || s.layer == "query.inventory")), "s")
    }

    // self time of each layer inside Runner.run (parallel sources each count)
    val bucket: Span => String = s => s.name match {
      case "sources.collect" => "sources"
      case "graph.normalize" => "graph"
      case "sink.stage"      => "sink_stage"
      case "sink.commit"     => "sink_commit"
      case _                 => "engine"
    }
    val selfBy = Spans.subtree(spans, run.id).groupBy(bucket)
      .map { case (b, ss) => b -> ss.map(s => self(s.id).toDouble).sum }
    Seq("engine", "sources", "graph", "sink_stage", "sink_commit").foreach { b =>
      put(s"snapshot_self.${b}_s", sec(selfBy.getOrElse(b, 0.0)), "s")
    }
    put("trace.self_cover", 1 - self(root.id).toDouble / root.dur, "frac")
    put("trace.jobs_unattributed", jobs.count(j => j.layer == "other" || j.layer == "engine.other"), "count")
    out.toSeq
  }
}
