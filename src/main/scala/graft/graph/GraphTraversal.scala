package graft.graph

import graft.CacheTracker
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Bounded multi-hop reachability over the edge set (SURVEY §2.C6
  * generalized): a frontier BFS over an adjacency that is hash-partitioned
  * once.
  *
  * Algorithm. The `(from_id, to_id)` pairs are partitioned by `from_id`
  * with a `HashPartitioner(spark.sql.shuffle.partitions)`, once per call;
  * the start set is keyed the same way. Every hop set — the ids first
  * reached at hop k — is partitioned by id with that partitioner, so hop
  * k + 1 is:
  *  - a partition-local semi-join: each adjacency partition streams its
  *    edges past the set of frontier ids of the same partition (a hub's
  *    edges are never buffered) and emits the `to_id`s it reaches;
  *  - one shuffle of those ids by id, deduplicated map-side;
  *  - a partition-local anti-join against `visited`, the
  *    partitioner-aware union of the hop sets so far (no copy per hop).
  *
  * The adjacency is that partitioning's shuffle output, not a cache: the
  * first job runs its map stage, and every later hop reads the same
  * shuffle files (Spark skips the map stage), so the edges are never held
  * as objects in the block store.
  *
  * That is one Spark job per hop: its `count` is the emptiness probe, and
  * an empty hop ends the walk. The last hop (`maxHops`) needs no probe and
  * runs inside the job that materializes the result. Hops are RDD
  * operations, not Catalyst plans, so a hop generates no codegen class.
  *
  * Memory per partition: the frontier set during the semi-join and the
  * visited set during the anti-join, both of that partition's ids only —
  * like a hash join's build side. The edges are streamed.
  *
  * NULL ids refer to no node: an edge with a NULL endpoint and a NULL
  * start id are dropped (as in `ConnectedComponents`), so no `(null, k)`
  * row is ever reached.
  */
object GraphTraversal {

  private val Result = StructType(Seq(
    StructField("id", StringType), StructField("hops", IntegerType, nullable = false)))

  /** @param edges  (from_id, to_id)
    * @param starts (id) seed set
    * @return (id STRING, hops INT NOT NULL) — every node reachable within
    *         `maxHops`, with the minimal hop count (starts themselves at
    *         hop 0), as ONE materialized cache. Inside a
    *         [[CacheTracker.scope]] that cache belongs to the scope;
    *         outside one, `result.unpersist()` releases everything the call
    *         pinned. The RDDs persisted per hop are released before return;
    *         the adjacency is never persisted.
    */
  def reachableWithin(edges: DataFrame, starts: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0)
    val spark = edges.sparkSession
    val byId = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val pinned = mutable.ListBuffer.empty[RDD[_]]
    def pin[T](rdd: RDD[T]): RDD[T] = { pinned += rdd; rdd.persist(StorageLevel.MEMORY_AND_DISK) }
    try {
      lazy val adjacency = nonNull(edges, "from_id", "to_id")
        .map(r => (r.getUTF8String(0).toString, r.getUTF8String(1).toString)).partitionBy(byId)
      val start = pin(nonNull(starts, "id").map(r => (r.getUTF8String(0).toString, 0))
        .reduceByKey(byId, (a, _) => a))
      // sets(k): the ids first reached at hop k, disjoint, all keyed by byId
      val sets = mutable.ArrayBuffer[RDD[(String, Int)]](start)
      var reachedNothing = false
      while (sets.length <= maxHops && !reachedNothing) {
        val hop = sets.length
        val next = expand(adjacency, sets.last, spark.sparkContext.union(sets.toSeq), hop, byId)
        sets += next
        if (hop < maxHops) reachedNothing = pin(next).count() == 0
      }
      val rows = spark.sparkContext.union(sets.toSeq).map { case (id, h) => Row(id, h) }
      val result = CacheTracker.cached(spark.createDataFrame(rows, Result))
      try result.rdd.count()
      catch { case e: Throwable => if (!CacheTracker.inScope) result.unpersist(); throw e }
      result
    } finally pinned.foreach(_.unpersist(blocking = false))
  }

  /** The rows of `df`'s `cols`, as strings, where none of them is NULL:
    * the plan's internal rows, read before the next row replaces them.
    */
  private def nonNull(df: DataFrame, cols: String*): RDD[InternalRow] =
    df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
      .select(cols.map(c => col(c).cast("string")): _*).queryExecution.toRdd

  /** Hop `hop`: the ids the `frontier` reaches over `adjacency` that are not
    * in `visited`, keyed by `byId`. All three inputs are keyed by `byId`.
    */
  private def expand(adjacency: RDD[(String, String)], frontier: RDD[(String, Int)],
                     visited: RDD[(String, Int)], hop: Int,
                     byId: HashPartitioner): RDD[(String, Int)] =
    adjacency.zipPartitions(frontier) { (edges, front) =>
      val from = front.map(_._1).toSet
      edges.collect { case (f, t) if from(f) => (t, hop) }
    }.reduceByKey(byId, (a, _) => a)
      .zipPartitions(visited, preservesPartitioning = true) { (reached, old) =>
        val seen = old.map(_._1).toSet
        reached.filterNot { case (id, _) => seen(id) }
      }
}
