package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The shared measurement harness: the name filter, the scoped noop run,
  * the watchdog and the job counter.
  */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("only: unset keeps all; unknown names fail and are listed") {
    val allowed = Set("q_a", "q_b", "q_c")
    assert(Harness.only(allowed, None)("anything"))
    val keep = Harness.only(allowed, Some("q_a, q_c"))
    assert(keep("q_a") && keep("q_c") && !keep("q_b"))
    val e = intercept[IllegalArgumentException](
      Harness.only(allowed, Some("q_a,q_typo,q_zz")))
    assert(e.getMessage.contains("SPARK_GRAFT_ONLY: q_typo, q_zz"), e.getMessage)
    intercept[IllegalArgumentException](Harness.only(allowed, Some(" , ")))
  }

  test("scopedNoop of a cachedInScope builder leaves no persistent RDD") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val keys = spark.range(1000).select((col("id") % 7).as("k"))
    var cachedDuring = false
    Harness.scopedNoop {
      val c = CacheTracker.cachedInScope(keys)
      cachedDuring = c.storageLevel != StorageLevel.NONE
      c.join(c.groupBy("k").count(), "k")
    }
    assert(cachedDuring, "the builder's cache was not taken inside the scope")
    assert(keys.storageLevel == StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("the watchdog cancels a run past its 1 s budget; Bench reports it failed") {
    val slow = udf { (x: Long) => Thread.sleep(60000); x }
    val t0 = System.nanoTime()
    val got = Bench.once(spark, s"harness-spec-slow-${System.nanoTime}", 1)(
      spark.range(0, 1, 1, 1).select(slow(col("id"))))
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(got.isEmpty, s"a cancelled run was timed: $got")
    assert(elapsed < 30, s"cancel took $elapsed s")
    assert(Bench.once(spark, s"harness-spec-fast-${System.nanoTime}", 60)(spark.range(10).toDF()).isDefined)
  }

  test("JobCounter counts a real query's jobs, stages and tasks") {
    val build = SparkEntry.queries("q_join_revenue_by_nation")
    val c = JobCounter.of(spark)(Harness.scopedNoop(build(spark, "/root/testdata/sf0.001")))
    assert(c.jobs >= 1 && c.stages >= 1 && c.tasks >= 1, c)
    assert(c.taskMs >= 0 && c.shuffleBytes >= 0, c)
  }
}
