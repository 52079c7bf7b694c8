package snapbench

import graft.config.GraftConfig
import graft.engine.Runner
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Tests of the benchmark's own parts: the generator, the oracle against
  * what `Runner.run` commits, the span bookkeeping and the job listener.
  *
  * Usage: `python3 snapbench/run.py --selftest` (builds, then runs
  * `snapbench.SelfTest <work dir> <sqlite check command>`).
  */
object SelfTest {
  private val results = mutable.ArrayBuffer.empty[(String, Option[String])]

  private def test(name: String)(body: => Unit): Unit = {
    val r = try { body; None } catch { case e: Throwable => Some(s"$e") }
    results += ((name, r))
    println(s"${if (r.isEmpty) "PASS" else "FAIL"} $name${r.map(" — " + _).getOrElse("")}")
  }

  private def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  def main(argv: Array[String]): Unit = {
    val work = Paths.get(argv(0)).toAbsolutePath
    val sqliteCheck = argv.lift(1).filter(_.nonEmpty).map(_.split(' ').toSeq)

    test("one seed always gives the same export bytes") {
      for (shape <- Seq(Shape.tiny, Shape.wide(0), Shape.deep)) {
        val a = Gen.exportBytes(Gen.source(shape, 7))
        val b = Gen.exportBytes(Gen.source(shape, 7))
        check(java.util.Arrays.equals(a, b), s"${shape.prefix}: two generations of seed 7 differ")
        check(!java.util.Arrays.equals(a, Gen.exportBytes(Gen.source(shape, 8))), s"${shape.prefix}: seeds 7 and 8 agree")
      }
    }

    test("the table set and every row count are the same for every seed") {
      for (shape <- Seq(Shape.tiny, Shape.wide(0), Shape.deep)) {
        val counts = (1 to 5).map(s => Oracle.expected(Seq(Gen.source(shape, s))).tables)
        check(counts.distinct.size == 1, s"${shape.prefix}: counts vary with the seed: ${counts.distinct}")
      }
      val deep = Oracle.expected(Seq(Gen.source(Shape.deep, 1)))
      check(deep.tables.size == 9 && deep.tables.keySet.exists(_ == "link_d_k0_d_k0"),
        s"deep tables: ${deep.tables.keys.toSeq.sorted}")
    }

    test("self time subtracts the union of children; subtree walks descendants") {
      val spans = Seq(
        Span(0, "cycle", 0, 100, -1, 0), Span(1, "a", 10, 40, 0, 0), Span(2, "b", 30, 60, 0, 0),
        Span(3, "c", 15, 20, 1, 0), Span(4, "d", 35, 80, 2, 0))
      val self = Spans.selfTimes(spans)
      check(self == Map(0 -> 50L, 1 -> 25L, 2 -> 5L, 3 -> 5L, 4 -> 45L), s"self times $self")
      check(Spans.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 8, 25) == 12, "covered clips and merges")
      check(Spans.subtree(spans, 2).map(_.id).toSet == Set(2, 4), "subtree of b")
    }

    test("call sites name the innermost launcher") {
      val site = Seq(
        "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1)",
        "graft.graph.GraphNormalizer$.linkTables(GraphNormalizer.scala:74)",
        "graft.graph.GraphNormalizer$.normalize(GraphNormalizer.scala:150)",
        "graft.engine.Runner$.$anonfun$run$3(Runner.scala:120)").mkString("\n")
      check(JobListener.siteLayer(site).contains("graph.pairs"), s"pairs: ${JobListener.siteLayer(site)}")
      check(JobListener.siteLayer("graft.sink.SnapshotSink$.$anonfun$stage$1(SnapshotSink.scala:87)")
        .contains("sink.stage"), "stage lambda")
      check(JobListener.siteLayer("snapbench.SelfTest$.main(SelfTest.scala:1)").isEmpty, "no launcher")
      check(JobListener.groupLayer("snapbench|query.mount|7").contains("query.mount"), "bench group")
      check(JobListener.groupSpan("snapbench|query.mount|7").contains(7), "bench group span")
    }

    val spark = Session.build(Runtime.getRuntime.availableProcessors())
    try {
      test("the listener attributes Runner.run's jobs on the example source") {
        val base = work.resolve("example")
        val config = GraftConfig.parse(s"sources:\n  example: {}\ndestinations:\n  file:\n    path: \"$base\"\n")
        val listener = new JobListener
        spark.sparkContext.addSparkListener(listener)
        spark.sparkContext.setJobGroup("snapbench|engine.run|1", "engine.run")
        val report = Runner.run(spark, config, graft.Main.registry)
        spark.sparkContext.setJobGroup("snapbench|query.mount|2", "query.mount")
        spark.range(10).count()
        spark.sparkContext.clearJobGroup()
        org.apache.spark.snapbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        val jobs = listener.jobs
        val by = jobs.groupBy(_.layer).map { case (l, js) => l -> js.size }
        check(report.totalNodes == 10 && report.totalEdges == 13, s"report $report")
        check(jobs.filter(_.group.startsWith("graft-run-")).forall(_.layer != "engine.other"),
          s"unattributed runner jobs: $by")
        check(by.getOrElse("sink.stage", 0) >= 13, s"13 tables staged, jobs by layer $by")
        check(by.getOrElse("graph.dupcheck", 0) >= 2 && by.getOrElse("graph.pairs", 0) >= 1, s"graph jobs $by")
        check(!by.contains("sink.commit"), s"a parquet commit is a rename: $by")
        check(by.getOrElse("query.mount", 0) >= 1, s"a job with no launcher takes its group's layer: $by")
        check(!by.contains("other"), s"jobs without a layer: $by")
      }

      for (sqlite <- Seq(false, true)) {
        val wl = Workload(if (sqlite) "tiny_sqlite" else "tiny_parquet", Seq(Shape.tiny), sqlite,
          inventory = true, traverse = true, Nil)
        var first: Option[Seq[Seq[(String, Double)]]] = None
        for (run <- 1 to 2) {
          val dir = work.resolve(s"${wl.name}-$run")
          val h = new Harness(spark, wl, 11, dir, "", sqliteCheck)
          val recs = (0 to 3).map(c => h.cycle(c, traced = c > 0))
          test(s"${wl.name} run $run: the oracle equals what Runner.run commits and every query returns") {
            check(recs.forall(_.failed == 0), s"failures: ${h.failures.mkString("; ")}")
            check(recs.map(_.attempted).sum == 4 * (1 + h.queryNames.size), "ops attempted")
          }
          val m = new Metrics(h, recs.drop(1), h.cores)
          val per = recs.drop(1).map(m.analyse).map(_.map(t => t._1 -> t._2))
          val counts = per.map(_.filter(t => Set("engine.jobs", "sink.stage_jobs", "sink.commit_jobs")(t._1)))
          test(s"${wl.name} run $run: job counts repeat exactly, cycle to cycle") {
            check(counts.distinct.size == 1, s"job counts per cycle: $counts")
            check(counts.head.find(_._1 == "sink.commit_jobs").get._2 > 0 == sqlite, s"commit jobs ${counts.head}")
          }
          test(s"${wl.name} run $run: self times cover the cycle and sum to Runner.run's wall time") {
            per.zip(recs.drop(1)).foreach { case (p, rec) =>
              val v = p.toMap
              check(v("trace.self_cover") > 0.95, s"self cover ${v("trace.self_cover")}")
              val self = p.filter(_._1.startsWith("snapshot_self.")).map(_._2).sum
              check(math.abs(self - rec.snapshotNs / 1e9) < 0.01, s"self times sum to $self, snapshot ${rec.snapshotNs / 1e9}")
              check(v("trace.jobs_unattributed") == 0, "unattributed jobs")
            }
          }
          first match {
            case None => first = Some(counts)
            case Some(c0) => test(s"${wl.name}: job counts repeat exactly, run to run") {
              check(c0.head == counts.head, s"run 1 $c0 run 2 $counts")
            }
          }
        }
      }
    } finally spark.stop()

    val failed = results.count(_._2.nonEmpty)
    println(s"${results.size - failed}/${results.size} self-tests pass")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
