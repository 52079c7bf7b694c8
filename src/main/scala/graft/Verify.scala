package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
      case _ =>
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [comma-separated query names]")
        sys.exit(2)
    }
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = Main.session("graft-verify")
    // shuffle partitions decoupled from the thread count so the robustness
    // replay (scripts/replay.sh) can re-verify the whole surface at an odd
    // partition count — the cheap stand-in for "a real cluster
    // repartitioned the data" — without giving up local parallelism
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    new java.io.File(outDir).mkdirs()
    // Dump the oracle SQL FIRST: if the query loop below is killed partway
    // through, the driver can still score every query that did finish.
    writeOracleJson(outDir, keep)
    val selected = SparkEntry.queries.filter(kv => keep(kv._1)).toSeq
    // a typo'd filter name must fail LOUDLY here: silently matching
    // nothing exits 0 with empty artifacts — the "verified" query was
    // never run (same guard Runner applies to unknown source names)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) {
        System.err.println(
          s"[verify] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
        spark.stop()
        sys.exit(2)
      }
    }
    val total = selected.size
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    // Queries run on a small driver-side pool: they are independent — each
    // writes its own output dir, Spark schedules concurrent jobs safely,
    // the one shared conf set in Tables.events is idempotent, and the one
    // NON-idempotent conf a query needs (q_agg_rollup's ambiguous-self-join
    // toggle) is isolated on its own newSession(). Wall time is what kills
    // a round on a loaded driver box — the round-5 artifacts were zeroed by
    // exactly that.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // failures must be LOUD in the artifacts, not just stderr: r8's driver
    // json silently OMITTED 3 analysis-failed queries ("117/117 green"
    // actually meant 117/120). Collected here, dumped as errors.json +
    // per-query _FAILED markers below.
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // Watchdog: a query that HANGS is as artifact-silent as one that
    // failed used to be (a round-5 driver run was zeroed by exactly one
    // wall-clock stall). Each query runs under its own Spark job group;
    // if it exceeds the budget the group is cancelled, the write throws,
    // and the timeout lands in errors.json by name like any failure.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_VERIFY_TIMEOUT_SEC", "600").toLong
    // progress trackers for the no-progress stall detector below: every
    // query completion (ok or failed) is "activity"
    val okNames = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val lastActivity = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    val runs = selected.map { case (name, fn) =>
      scala.concurrent.Future {
        val t0 = System.nanoTime()
        // CacheTracker.scope releases EXACTLY the caches this query's
        // builder created, once its write finishes — safe under
        // concurrency, unlike a global clearCache (observed: a concurrent
        // clearCache made distinct() emit per-band duplicates — unpersist
        // of a shared InMemoryRelation mid-execution). Builders route
        // their caches through CacheTracker.cached on THIS thread, so the
        // scope sees them all; sibling queries' scopes are disjoint.
        try {
          Harness.guarded(spark, s"verify-$name", timeoutSec) {
            CacheTracker.scope {
              fn(spark, sfDir).coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/$name")
            }
          }
          okNames.add(name)
          // one line per query so a partial/timed-out driver run leaves a
          // diagnosable trail instead of an empty CORRECTNESS json
          System.err.println(
            f"[verify] ok $name ${(System.nanoTime() - t0) / 1e9}%.2f s (${done.incrementAndGet()}/$total)")
        } catch { case e: Throwable =>
          val elapsed = (System.nanoTime() - t0) / 1e9
          val msg =
            if (elapsed >= timeoutSec) s"timeout after $timeoutSec s (cancelled): ${e.getMessage}"
            else String.valueOf(e.getMessage)
          System.err.println(s"[verify] $name failed: $msg")
          errors.put(name, msg)
          // a marker directory named like the output dir: any scorer that
          // globs per-query outputs sees the failure by name instead of a
          // silent absence. Guarded: if the marker write itself fails
          // (ENOSPC is exactly when queries fail), the error must still
          // reach errors.json rather than escaping as a second exception
          // that kills the Future and with it the whole run's artifacts.
          try {
            val marker = Paths.get(s"$outDir/$name/_FAILED")
            Files.createDirectories(marker.getParent)
            Files.writeString(marker, msg)
          } catch { case e2: Throwable =>
            System.err.println(s"[verify] $name marker write failed: $e2")
          }
        } finally lastActivity.set(System.nanoTime())
      }
    }
    // The per-query job-group watchdog cannot see DRIVER-side stalls
    // (Catalyst planning loops, uninterruptible waits) — they never submit
    // a job to cancel, and an Await(Duration.Inf) on them wedges the whole
    // run with zero artifacts (the round-5 failure mode). No-progress
    // detector: when NOTHING completes for timeout+120 s, interrupt the
    // pool (Spark's driver-side waits are interrupt-responsive); if still
    // no progress after a second grace, ABANDON the stragglers — record
    // them in errors.json by name, stop spark, exit nonzero. Loud partial
    // artifacts beat a silent infinite hang.
    val all = scala.concurrent.Future.sequence(runs)
    val grace = (timeoutSec + 120) * 1000000000L
    var interrupted = false
    var abandoned = false
    try {
      while (!all.isCompleted && !abandoned) {
        try scala.concurrent.Await.ready(
          all, scala.concurrent.duration.Duration(30, "seconds"))
        catch { case _: java.util.concurrent.TimeoutException => }
        if (!all.isCompleted && System.nanoTime() - lastActivity.get() > grace) {
          if (!interrupted) {
            System.err.println(
              s"[verify] NO PROGRESS for ${grace / 1000000000L} s — driver-side stall; interrupting workers")
            interrupted = true
            lastActivity.set(System.nanoTime())
            pool.shutdownNow()
          } else abandoned = true
        }
      }
    } finally {
      if (abandoned) {
        val unfinished = selected.map(_._1)
          .filterNot(n => okNames.contains(n) || errors.containsKey(n))
        unfinished.foreach { n =>
          System.err.println(s"[verify] $n ABANDONED (driver-side stall)")
          errors.put(n, "abandoned: driver-side stall (no progress past interrupt grace)")
        }
      }
      pool.shutdown()
      // ALWAYS written (empty {} on a clean run) so "no errors.json" is a
      // diagnosable partial run, never ambiguous with "all green"
      writeErrorsJson(outDir, errors)
      spark.stop()
    }
    if (abandoned) sys.exit(1)
  }

  private def writeErrorsJson(
      outDir: String, errors: java.util.concurrent.ConcurrentHashMap[String, String]): Unit = {
    import scala.jdk.CollectionConverters._
    val json = errors.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Harness.jsonStr(k)}: ${Harness.jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), json)
  }

  private def writeOracleJson(outDir: String, keep: String => Boolean): Unit = {
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${Harness.jsonStr(k)}: ${Harness.jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
