package graft

import graft.graph.GraphTraversal
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart, SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.storage.{RDDBlockId, StorageLevel}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The frontier BFS of `GraphTraversal.reachableWithin`: its rows against a
  * plain-Scala BFS on generated graphs, NULL ids, what it leaves cached,
  * its Spark job count, and how often it shuffles its adjacency.
  */
class GraphTraversalSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private val pairSchema = StructType(Seq(StructField("from_id", StringType), StructField("to_id", StringType)))

  /** `edges` as the union of `tables` single-partition tables, the way a
    * mounted snapshot's `link_<f>_<t>` tables are fed to the traversal.
    */
  private def edgesOf(edges: Seq[(String, String)], tables: Int): DataFrame =
    (0 until tables).map { i =>
      val part = edges.zipWithIndex.collect { case ((f, t), j) if j % tables == i => Row(f, t) }
      spark.createDataFrame(spark.sparkContext.parallelize(part, 1), pairSchema)
    }.reduce(_ unionAll _)

  private def startsOf(ids: Seq[String]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ids.map(Row(_)), 1),
      StructType(Seq(StructField("id", StringType))))

  /** id -> hops of a result, failing on a repeated id. */
  private def hopsOf(df: DataFrame): Map[String, Int] = {
    val rows = df.collect().map(r => r.getString(0) -> r.getInt(1))
    assert(rows.length == rows.map(_._1).distinct.length, s"repeated ids: ${rows.toSeq}")
    rows.toMap
  }

  /** Plain-Scala BFS: NULL endpoints and NULL starts refer to no node. */
  private def bfs(edges: Seq[(String, String)], starts: Seq[String], maxHops: Int): Map[String, Int] = {
    val adj = edges.filter { case (f, t) => f != null && t != null }.groupMap(_._1)(_._2)
    var dist = starts.filter(_ != null).map(_ -> 0).toMap
    var frontier = dist.keySet
    for (h <- 1 to maxHops) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)) -- dist.keySet
      dist ++= frontier.map(_ -> h)
    }
    dist
  }

  test("property: equals a plain-Scala BFS on generated graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    // a small id pool makes cycles, self-loops and multi-edges common; the
    // x ids only ever appear as targets (dangling edges), `absent` only as
    // a start, and NULL on either side of an edge and among the starts
    val node = Gen.frequency(8 -> Gen.oneOf((0 until 6).map(i => s"n$i")),
      2 -> Gen.oneOf("x0", "x1"), 1 -> Gen.const(null: String))
    val edge = for (f <- node.map(n => if (n != null && n.startsWith("x")) "n0" else n); t <- node) yield (f, t)
    val input = for {
      edges <- Gen.frequency(1 -> Gen.const(Nil), 9 -> Gen.listOf(edge).map(_.take(24)))
      starts <- Gen.listOf(Gen.frequency(6 -> node, 1 -> Gen.const("absent"))).map(_.take(4))
      maxHops <- Gen.chooseNum(0, 4)
      tables <- Gen.chooseNum(1, 4)
    } yield (edges, starts, maxHops, tables)
    val prop = Prop.forAll(input) { case (edges, starts, maxHops, tables) =>
      val df = GraphTraversal.reachableWithin(edgesOf(edges, tables), startsOf(starts), maxHops)
      try {
        val (got, want) = (hopsOf(df), bfs(edges, starts, maxHops))
        (got == want) :| s"got $got, want $want"
      } finally df.unpersist()
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("NULL endpoints and NULL starts are no node: no (null, k) row") {
    val edges = Seq(("a", null), (null, "b"), ("a", "c"), ("c", null))
    val df = GraphTraversal.reachableWithin(edgesOf(edges, 2), startsOf(Seq("a", null)), 3)
    try {
      assert(df.schema == StructType(Seq(StructField("id", StringType),
        StructField("hops", IntegerType, nullable = false))))
      assert(hopsOf(df) == Map("a" -> 0, "c" -> 1))
    } finally df.unpersist()
  }

  test("lifecycle: nothing of the call stays cached after unpersist or scope exit") {
    val sc = spark.sparkContext
    val edges = edgesOf(Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d"), 2)
    val starts = startsOf(Seq("a"))
    val before = sc.getPersistentRDDs.keySet

    // outside a scope: the result is the one cache, released by its unpersist
    val out = GraphTraversal.reachableWithin(edges, starts, 3)
    assert(out.storageLevel != StorageLevel.NONE)
    assert((sc.getPersistentRDDs.keySet -- before).size == 1, "only the result's cache is pinned")
    assert(hopsOf(out) == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3))
    out.unpersist()
    assert(out.storageLevel == StorageLevel.NONE)
    assert(sc.getPersistentRDDs.keySet == before)

    // inside a scope: the scope owns the result's cache
    var in: DataFrame = null
    CacheTracker.scope {
      in = GraphTraversal.reachableWithin(edges, starts, 2)
      assert(in.storageLevel != StorageLevel.NONE)
      assert(hopsOf(in) == Map("a" -> 0, "b" -> 1, "c" -> 2))
      assert((sc.getPersistentRDDs.keySet -- before).size == 1)
    }
    assert(in.storageLevel == StorageLevel.NONE)
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("jobs: one more per extra non-empty hop, none per extra edge table") {
    def jobs(edges: Seq[(String, String)], maxHops: Int, tables: Int): Int = {
      var df: DataFrame = null
      val n = JobCounter.of(spark) {
        df = GraphTraversal.reachableWithin(edgesOf(edges, tables), startsOf(Seq("n0")), maxHops)
      }.jobs.toInt
      df.unpersist()
      n
    }
    def chain(length: Int) = (0 until length).map(i => s"n$i" -> s"n${i + 1}")
    Seq(1, 3).foreach { tables =>
      // a chain longer than maxHops: every hop reaches one node, and the
      // last runs in the job that materializes the result
      val bounded = (0 to 4).map(h => jobs(chain(6), h, tables))
      assert(bounded == Seq(1, 1, 2, 3, 4), s"$tables tables")
      // a chain shorter than maxHops: the first empty hop ends the walk
      val depths = (1 to 3).map(d => jobs(chain(d), 5, tables))
      assert(depths == Seq(3, 4, 5), s"$tables tables")
    }
  }

  /** Per job, its stages, in job order; the stages that ran, once per run;
    * the RDDs that stored a block. A stage is named by the RDD it computes
    * (the newest RDD of its pipeline): a later job that reads a shuffle
    * lists its map stage under a new stage id, but with the same RDD.
    */
  private class StageRecorder extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[Set[Int]]()
    val ran = new ConcurrentLinkedQueue[Int]()
    val cached = ConcurrentHashMap.newKeySet[Int]()
    private val events = new AtomicLong(0)
    private def rddOf(stage: StageInfo): Int = stage.rddInfos.map(_.id).max

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.add(e.stageInfos.map(rddOf).toSet); events.incrementAndGet()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      ran.add(rddOf(e.stageInfo)); events.incrementAndGet()
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      e.blockUpdatedInfo.blockId match {
        case RDDBlockId(rdd, _) if e.blockUpdatedInfo.storageLevel.isValid => cached.add(rdd)
        case _ =>
      }
      events.incrementAndGet()
    }

    /** Waits until the listener bus has delivered the call's events: no new
      * event for 300 ms.
      */
    def settle(): Unit = {
      var cur = -1L
      while (cur != events.get) { cur = events.get; Thread.sleep(300) }
    }
  }

  test("the adjacency is shuffled once per call, read by every hop, and never cached") {
    val sc = spark.sparkContext
    val chain = (0 until 6).map(i => s"n$i" -> s"n${i + 1}")
    val before = sc.getPersistentRDDs.keySet
    def traced(body: => DataFrame): (DataFrame, StageRecorder) = {
      val seen = new StageRecorder
      sc.addSparkListener(seen)
      try (body, seen) finally { seen.settle(); sc.removeSparkListener(seen) }
    }

    val (out, seen) = traced(GraphTraversal.reachableWithin(edgesOf(chain, 2), startsOf(Seq("n0")), 3))
    try {
      assert(hopsOf(out) == Map("n0" -> 0, "n1" -> 1, "n2" -> 2, "n3" -> 3))
      val jobs = seen.jobs.asScala.toSeq
      assert(jobs.size == 3, "two probed hops, then the result")
      // the stages every job shares: the map stages of the adjacency's, the
      // start set's and the first hop's shuffles. The first job runs them;
      // the later hops skip them.
      val everyHop = jobs.reduce(_ intersect _)
      assert(everyHop.size == 3, jobs)
      val ran = seen.ran.asScala.toSeq
      assert(ran.distinct == ran, s"a stage ran twice: $ran")
      assert(everyHop.subsetOf(ran.toSet))
      // what stored blocks: the start set, the two probed hop sets and the
      // result's cache, and no adjacency
      assert(seen.cached.size == 4, seen.cached)
    } finally out.unpersist()
    assert(sc.getPersistentRDDs.keySet == before)

    CacheTracker.scope {
      val (in, seen) = traced(GraphTraversal.reachableWithin(edgesOf(chain, 1), startsOf(Seq("n0")), 2))
      assert(hopsOf(in) == Map("n0" -> 0, "n1" -> 1, "n2" -> 2))
      val ran = seen.ran.asScala.toSeq
      assert(ran.distinct == ran, s"a stage ran twice: $ran")
      assert(seen.cached.size == 3, seen.cached)
    }
    assert(sc.getPersistentRDDs.keySet == before)
  }
}
