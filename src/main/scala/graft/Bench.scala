package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}

/** Benchmark main: times every declared query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Queries are forced end-to-end with the noop sink
  * (all columns materialized — `count()` would let Catalyst prune the
  * projection and under-report), inside a CacheTracker scope
  * ([[Harness.scopedNoop]]).
  *
  * Reproducibility: each query is timed SPARK_GRAFT_REPS times (default 3)
  * and the per-query MEDIAN is reported — single-shot timings on a shared
  * box swing by seconds when a GC pause lands mid-query. Between timed
  * regions the cache is dropped and a full GC is requested so one query's
  * garbage (cached LSH signature tables) is never attributed to the next.
  *
  * Each query also carries the Spark counters of its median rep (the
  * faster of the middle pair for even rep counts): jobs, stages, tasks,
  * task seconds, GC seconds and shuffle MB written ([[JobCounter]]).
  *
  * Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_REPS,
  * SPARK_GRAFT_ONLY (comma-separated query-name filter, for iterating),
  * SPARK_GRAFT_BENCH_TIMEOUT_SEC (per-rep watchdog, default 300),
  * SPARK_GRAFT_BENCH_OUT (the per-query file, default bench_out.json) and
  * SPARK_GRAFT_PLANS (a directory: after its timed reps each passing query
  * runs once more, untimed, and writes `<dir>/<query>.txt`, its
  * `explain("formatted")` plan).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_TIMEOUT_SEC", "300").toLong
    val planDir = sys.env.get("SPARK_GRAFT_PLANS")
    val keep = Harness.only(SparkEntry.queries.keySet)
    val spark = Main.session("graft-bench")

    // JVM/codegen warmup outside the timed region (steady-state throughput
    // is the comparison target, not first-query JIT cost). A warmup failure
    // (e.g. one unreadable table) must NOT kill the run before a single
    // query is measured — the affected queries will land in "failed" below.
    try { Tables.lineitem(spark, sfDir).count(); Tables.events(spark, sfDir).count() }
    catch { case e: Throwable => System.err.println(s"[bench] warmup failed: $e") }

    val queries = SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => keep(kv._1))
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val counter = new JobCounter(spark)

    val results = queries.map { case (name, fn) =>
      val runs = (1 to reps).map { rep =>
        val group = s"bench-$name-$rep"
        val t = once(spark, group, timeoutSec)(fn(spark, sfDir))
        Harness.release(spark)
        (group, t)
      }
      val times = runs.collect { case (g, Some(t)) => (t, g) }.sortBy(_._1)
      val ok = times.size == reps
      val n = times.size
      // true median: average the middle pair for even rep counts (picking
      // the upper-middle would report the WORSE of 2 runs as the "median")
      val med = if (n == 0) 0.0
        else if (n % 2 == 1) times(n / 2)._1 else (times(n / 2 - 1)._1 + times(n / 2)._1) / 2
      // per-query progress on stderr: a killed/timed-out run still leaves
      // every finished median on record (the stdout JSON line would be lost)
      System.err.println(
        f"[bench] $name $med%.3f s (reps=${runs.map(_._2.fold("failed")(t => f"$t%.2f")).mkString(",")})"
          + (if (ok) "" else " FAILED"))
      if (ok) planDir.foreach { d =>
        try Files.writeString(Paths.get(d, s"$name.txt"),
          Harness.guarded(spark, s"bench-$name-plan", timeoutSec)(Harness.scopedPlan(fn(spark, sfDir))))
        catch { case e: Throwable => System.err.println(s"[bench] $name plan failed: $e") }
        Harness.release(spark)
      }
      (name, med, ok, if (n == 0) "" else times((n - 1) / 2)._2)
    }
    // failed queries are EXCLUDED from the per-query map and the total (a
    // failure time is not a throughput number) and listed by name instead
    val good = results.collect { case (n, t, true, g) => (n, t, g) }
    val failed = results.collect { case (n, _, false, _) => n }
    val qs = good.map { case (k, v, _) => Harness.jsonStr(k) + ":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val counters = good.map { case (k, _, g) => Harness.jsonStr(k) + ":" + counter(g).json }
      .mkString("{", ",", "}")
    counter.close()
    val failedJson = failed.map(Harness.jsonStr).mkString("[", ",", "]")
    val total = f"${good.map(_._2).sum}%.3f"
    // exit 0 even with failures: the driver consumes the stdout JSON line,
    // and a nonzero exit could zero the whole round's bench artifact — the
    // "failed" field is the loud signal.
    // The full line (every query's seconds and counters) goes to a file
    // (SPARK_GRAFT_BENCH_OUT, default bench_out.json in cwd), the durable
    // per-query ground truth. stdout gets exactly one JSON line, the last
    // one: a compact (<1 KB) object with the headline fields and a pointer
    // to the file, so a consumer that keeps only the tail of stdout always
    // ends with one complete object. The failed list is capped at 10 names
    // to keep the line bounded (n_failed carries the true count).
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"counters":$counters,"failed":$failedJson,"sf":${Harness.jsonStr(sfDir)},"n_queries":${good.size}}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try Files.write(Paths.get(outPath), (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outPath: $e") }
    val failedCompact = failed.take(10).map(Harness.jsonStr).mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${good.size},"failed":$failedCompact,"n_failed":${failed.size},"sf":${Harness.jsonStr(sfDir)},"file":${Harness.jsonStr(outPath)}}""")
    spark.stop()
  }

  /** One timed rep under job group `group` (unique per rep, see
    * [[Harness.guarded]]): the wall seconds of the scoped noop run, or None
    * when it threw or the watchdog cancelled it — a failure must never
    * masquerade as a fast measurement.
    */
  private[graft] def once(spark: SparkSession, group: String, timeoutSec: Long)(
      build: => DataFrame): Option[Double] =
    try Some(Harness.seconds(Harness.guarded(spark, group, timeoutSec)(Harness.scopedNoop(build))))
    catch { case e: Throwable => System.err.println(s"[bench] $group failed: $e"); None }
}
