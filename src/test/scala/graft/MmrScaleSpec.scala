package graft

import graft.ext.Mmr
import org.scalatest.funsuite.AnyFunSuite

import java.math.{BigDecimal, RoundingMode}

/** [[Mmr.rerank]] past toy scale: a 200-candidate pool per probe (10× the
  * driver query's PoolN) checked against an independent in-JVM greedy
  * reference, plus executable evidence for the flat-plan collect idiom —
  * Spark-job count LINEAR in k (each greedy step costs the same constant
  * number of jobs; a lazily-nested recurrence would re-execute prior
  * steps and grow super-linearly) — and the probes·k driver-memory bound.
  */
class MmrScaleSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private val Probes = 3
  private val PoolN = 200

  // deterministic synthetic pool: rel/sim are exact multiples of 1/1000
  // built from the same doubles on both the DataFrame and reference sides
  private def rel(q: Long, c: Long): Double = ((c * 31 + q * 7) % 1000) / 1000.0
  private def sim(q: Long, a: Long, b: Long): Double = ((a * 17 + b * 13 + q) % 1000) / 1000.0

  private def round6(x: Double): Double =
    BigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue

  /** Independent greedy MMR: plain Scala, same rounding/tie-break contract. */
  private def reference(k: Int): Seq[(Long, Long, Int)] =
    (0L until Probes).flatMap { q =>
      val pool = (0L until PoolN).toVector
      var selected = Vector(pool.maxBy(c => (rel(q, c), -c.toDouble)))
      (2 to k).foreach { _ =>
        val remaining = pool.filterNot(selected.contains)
        val next = remaining.maxBy { c =>
          val msim = selected.map(s => sim(q, c, s)).max
          (round6(Mmr.Lambda * rel(q, c) - (1 - Mmr.Lambda) * msim), -c.toDouble)
        }
        selected :+= next
      }
      selected.zipWithIndex.map { case (c, i) => (q, c, i + 1) }
    }

  private lazy val (cands, sims) = {
    import spark.implicits._
    val c = (for { q <- 0L until Probes; cand <- 0L until PoolN }
      yield (q, cand, rel(q, cand))).toDF("qid", "cand", "rel").cache()
    val s = (for { q <- 0L until Probes; a <- 0L until PoolN; b <- 0L until PoolN
                   if a != b }
      yield (q, a, b, sim(q, a, b))).toDF("qid", "a", "b", "sim").cache()
    c.count(); s.count() // materialize outside any measured region
    (c, s)
  }

  test("rerank at a 200-candidate pool matches the independent greedy reference") {
    val k = 8
    val got = Mmr.rerank(cands, sims, k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._3))
    assert(got.toSeq == reference(k).sortBy(t => (t._1, t._3)))
    // driver memory bound: the collected state is probes×k ids, never the pool
    assert(got.length == Probes * k)
  }

  test("rerank accepts int-typed ids (library callers are not bound to LongType)") {
    import spark.implicits._
    val c = Seq((0, 1, 0.9), (0, 2, 0.8), (0, 3, 0.7))
      .toDF("qid", "cand", "rel")
    val s = Seq((0, 1, 2, 0.99), (0, 2, 1, 0.99), (0, 1, 3, 0.1),
                (0, 3, 1, 0.1), (0, 2, 3, 0.1), (0, 3, 2, 0.1))
      .toDF("qid", "a", "b", "sim")
    val got = Mmr.rerank(c, s, 2).orderBy("step").collect()
      .map(r => (r.getLong(1), r.getInt(2)))
    // step 1 = top rel (cand 1); step 2 = cand 3 (cand 2 is near-dup of 1)
    assert(got.toSeq === Seq((1L, 1), (3L, 2)))
  }

  private def jobsFor(k: Int): Int =
    JobCounter.of(spark)(Mmr.rerank(cands, sims, k).collect()).jobs.toInt

  test("flat-plan idiom: Spark jobs grow linearly in k (constant jobs per greedy step)") {
    val j2 = jobsFor(2); val j4 = jobsFor(4); val j6 = jobsFor(6)
    val stepCostA = j4 - j2 // jobs for steps 3-4
    val stepCostB = j6 - j4 // jobs for steps 5-6
    // a nested-lineage recurrence re-executes prior steps: step cost would
    // GROW with the step index. Flat plans keep it constant (±1 for AQE
    // jitter).
    assert(math.abs(stepCostB - stepCostA) <= 1,
      s"per-step job cost grew: steps3-4=$stepCostA steps5-6=$stepCostB (j2=$j2 j4=$j4 j6=$j6)")
    assert(stepCostA >= 1 && stepCostB >= 1)
  }
}
