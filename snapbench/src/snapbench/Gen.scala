package snapbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Seeded graph-export generator and its plain-Scala oracle.
  *
  * A [[Shape]] fixes the table set and every row count: which kinds exist,
  * how many nodes each has, which kind pairs are linked, and at which edge
  * positions an edge dangles or loops back to its own node. The seed only
  * changes ids, link targets and property values, so every seed commits
  * the same tables with the same row counts and runs the same queries.
  */
final case class Shape(
    prefix: String,
    kinds: Int,
    nodesPerKind: Int,
    links: Seq[(Int, Int)],
    fanout: Int,
    selfLoops: Boolean) {
  def kind(i: Int): String = s"${prefix}k$i"
}

object Shape {
  /** One of the four `wide_parquet` sources: 3 root kinds in a ring with
    * one chord; 200 nodes per kind, one edge per node and link. */
  def wide(i: Int): Shape =
    Shape(s"w${i}_", 3, 200, Seq((0, 1), (1, 2), (2, 0), (0, 2)), 1, selfLoops = false)

  /** The single `deep_sqlite` source: 3 root kinds in a ring, 2500 nodes
    * per kind, fan-out 2, 1% self-loops. */
  val deep: Shape = Shape("d_", 3, 2500, Seq((0, 1), (1, 2), (2, 0)), 2, selfLoops = true)

  /** The small graph the self-test commits through `Runner.run`. */
  val tiny: Shape = Shape("t_", 3, 40, Seq((0, 1), (1, 2), (2, 0), (0, 2)), 2, selfLoops = true)
}

/** One generated node: its table, id and the projected property values. */
final case class GNode(kind: String, id: String, name: String, size: Long, state: String,
                       labels: Seq[String], cores: Long, zone: String, flags: Seq[String],
                       attrs: Seq[(String, Long)], tags: Seq[(String, String)])

final case class GEdge(from: String, to: String)

/** A generated source: the export lines plus the records they encode. */
final case class GenSource(shape: Shape, nodes: IndexedSeq[GNode], edges: IndexedSeq[GEdge]) {
  def kindFqns: Seq[String] = (0 until shape.kinds).map(shape.kind)
}

object Gen {
  /** Every 50th edge (2%) points at an id no node has. */
  def dangles(edgeIndex: Int): Boolean = edgeIndex % 50 == 49
  /** Every 100th edge (1%) of a self-loop shape points back at its source. */
  def loops(shape: Shape, edgeIndex: Int): Boolean = shape.selfLoops && edgeIndex % 100 == 7

  private val States = Array("running", "stopped", "pending", "terminated")
  private val Zones = Array("zone-a", "zone-b", "zone-c")
  private val Words = Array("web", "db", "cache", "batch", "edge", "core", "gpu", "spot")

  /** splitmix64: a fixed, platform-independent stream for a given seed. */
  final class Rng(seed: Long) {
    private var s = seed
    def next(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def below(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
    def hex8(): String = f"${next() & 0xFFFFFFFFL}%08x"
  }

  def source(shape: Shape, seed: Long): GenSource = {
    val rng = new Rng(seed * 1000003L + shape.prefix.hashCode)
    val byKind = (0 until shape.kinds).map { k =>
      val fqn = shape.kind(k)
      (0 until shape.nodesPerKind).map { i =>
        val labels = Seq.fill(rng.below(4))(Words(rng.below(Words.length)))
        val flags = Seq.fill(1 + rng.below(2))(Words(rng.below(Words.length)))
        val attrs = Seq("cpu" -> (1L + rng.below(16)), "mem" -> (1L + rng.below(64))) ++
          (if (rng.below(2) == 0) Seq("iops" -> rng.below(5000).toLong) else Nil)
        GNode(fqn, s"$fqn-${rng.hex8()}$i", s"node-${rng.hex8()}", rng.below(1000).toLong,
          States(rng.below(States.length)), labels, 1L + rng.below(32),
          Zones(rng.below(Zones.length)), flags, attrs,
          Seq("owner" -> s"team-${rng.below(7)}", "env" -> (if (rng.below(2) == 0) "prod" else "dev")))
      }
    }
    var e = 0
    val edges = mutable.ArrayBuffer.empty[GEdge]
    for ((a, b) <- shape.links; j <- 0 until shape.nodesPerKind; _ <- 0 until shape.fanout) {
      val from = byKind(a)(j).id
      val to =
        if (dangles(e)) s"ghost-${rng.hex8()}$e"
        else if (loops(shape, e)) from
        else byKind(b)(rng.below(shape.nodesPerKind)).id
      edges += GEdge(from, to)
      e += 1
    }
    GenSource(shape, byKind.flatten, edges.toIndexedSeq)
  }

  private def q(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }

  private def kindLine(fqn: String, bases: Seq[String], root: Boolean, props: Seq[(String, String, Boolean)]) =
    s"""{"type":"kind","fqn":${q(fqn)},"bases":${bases.map(q).mkString("[", ",", "]")},""" +
      s""""aggregate_root":$root,"properties":""" +
      props.map { case (n, k, r) => s"""{"name":${q(n)},"kind":${q(k)},"required":$r}""" }
        .mkString("[", ",", "]") + "}"

  /** The export as JSON lines: the kind model (a non-root base kind every
    * root inherits from, a non-root complex kind used as a struct
    * property), then nodes, then edges. */
  def exportLines(src: GenSource): Iterator[String] = {
    val p = src.shape.prefix
    val model = Seq(
      kindLine(s"${p}resource", Nil, root = false, Seq(
        ("id", "string", true), ("name", "string", false), ("kind", "string", true),
        ("tags", "dictionary[string, string]", false), ("ctime", "datetime", false))),
      kindLine(s"${p}spec", Nil, root = false, Seq(
        ("cores", "int64", false), ("zone", "string", false), ("flags", "string[]", false)))) ++
      src.kindFqns.map(k => kindLine(k, Seq(s"${p}resource"), root = true, Seq(
        ("size", "int64", false), ("state", "string", false), ("labels", "string[]", false),
        ("spec", s"${p}spec", false), ("attrs", "dictionary[string, int64]", false))))
    val nodes = src.nodes.iterator.map { n =>
      val reported =
        s"""{"id":${q(n.id)},"name":${q(n.name)},"kind":${q(n.kind)},""" +
          s""""tags":${n.tags.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")},""" +
          s""""ctime":"2024-01-01T00:00:00Z","size":${n.size},"state":${q(n.state)},""" +
          s""""labels":${n.labels.map(q).mkString("[", ",", "]")},""" +
          s""""spec":{"cores":${n.cores},"zone":${q(n.zone)},"flags":${n.flags.map(q).mkString("[", ",", "]")}},""" +
          s""""attrs":${n.attrs.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")}}"""
      s"""{"type":"node","id":${q(n.id)},"kind":${q(n.kind)},"reported":$reported}"""
    }
    val edges = src.edges.iterator.map(e => s"""{"type":"edge","from":${q(e.from)},"to":${q(e.to)}}""")
    model.iterator ++ nodes ++ edges
  }

  def exportBytes(src: GenSource): Array[Byte] =
    exportLines(src).map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8)

  /** Writes the export as one file in `dir`; returns its size in bytes. */
  def write(src: GenSource, dir: Path): Long = {
    Files.createDirectories(dir)
    val bytes = exportBytes(src)
    Files.write(dir.resolve("export.jsonl"), bytes)
    bytes.length.toLong
  }
}

/** Expected answers, computed from the generated records without Spark. */
final case class Expected(
    tables: Map[String, Long],
    nodes: Long,
    edges: Long,
    inventory: Map[String, Set[Seq[Any]]],
    starts: Seq[String],
    reach: Set[(String, Int)])

object Oracle {
  val Hops = 2

  /** Inventory queries run on the first source's tables. */
  def inventorySql(p: String, json: Boolean): Seq[(String, String)] = {
    val join =
      s"""SELECT b.state AS state, count(*) AS n, sum(a.size) AS size_sum
         |FROM ${p}k0 a JOIN link_${p}k0_${p}k1 l ON a.id = l.from_id
         |JOIN ${p}k1 b ON b.id = l.to_id GROUP BY b.state""".stripMargin
    val group =
      s"""SELECT state, count(*) AS n, sum(size) AS size_sum, max(size) AS size_max
         |FROM ${p}k2 GROUP BY state""".stripMargin
    val nested =
      if (!json)
        s"""SELECT spec.zone AS zone, count(*) AS n, sum(spec.cores) AS cores,
           |  sum(size(labels)) AS n_labels, sum(size(spec.flags)) AS n_flags,
           |  sum(attrs['cpu']) AS cpu, sum(size(tags)) AS n_tags
           |FROM ${p}k1 GROUP BY spec.zone""".stripMargin
      else
        s"""SELECT get_json_object(spec, '$$.zone') AS zone, count(*) AS n,
           |  sum(CAST(get_json_object(spec, '$$.cores') AS BIGINT)) AS cores,
           |  sum(json_array_length(labels)) AS n_labels,
           |  sum(json_array_length(get_json_object(spec, '$$.flags'))) AS n_flags,
           |  sum(CAST(get_json_object(attrs, '$$.cpu') AS BIGINT)) AS cpu,
           |  sum(size(json_object_keys(tags))) AS n_tags
           |FROM ${p}k1 GROUP BY get_json_object(spec, '$$.zone')""".stripMargin
    Seq("inv_join" -> join, "inv_group" -> group, "inv_nested" -> nested)
  }

  def expected(sources: Seq[GenSource], startCount: Int = 5): Expected = {
    val ids: Map[String, GNode] = sources.flatMap(_.nodes.map(n => n.id -> n)).toMap
    val tables = mutable.LinkedHashMap.empty[String, Long]
    sources.foreach { s => s.kindFqns.foreach(k => tables(k) = s.nodes.count(_.kind == k).toLong) }
    val resolved = sources.flatMap(_.edges).filter(e => ids.contains(e.from) && ids.contains(e.to))
    resolved.groupBy(e => (ids(e.from).kind, ids(e.to).kind)).foreach { case ((a, b), es) =>
      tables(s"link_${a}_$b") = es.size.toLong
    }
    val s0 = sources.head
    val p = s0.shape.prefix
    def kind(i: Int) = s0.nodes.filter(_.kind == s"${p}k$i")
    val join = {
      val k0 = kind(0).map(n => n.id -> n).toMap
      val k1 = kind(1).map(n => n.id -> n).toMap
      resolved.filter(e => k0.contains(e.from) && k1.contains(e.to))
        .groupBy(e => k1(e.to).state).map { case (st, es) =>
          Seq[Any](st, es.size.toLong, es.map(e => k0(e.from).size).sum)
        }.toSet
    }
    val group = kind(2).groupBy(_.state).map { case (st, ns) =>
      Seq[Any](st, ns.size.toLong, ns.map(_.size).sum, ns.map(_.size).max)
    }.toSet
    val nested = kind(1).groupBy(_.zone).map { case (z, ns) =>
      Seq[Any](z, ns.size.toLong, ns.map(_.cores).sum, ns.map(_.labels.size.toLong).sum,
        ns.map(_.flags.size.toLong).sum, ns.map(_.attrs.toMap.apply("cpu")).sum,
        ns.map(_.tags.size.toLong).sum)
    }.toSet
    val starts = kind(0).take(startCount).map(_.id)
    val adj = resolved.groupBy(_.from).map { case (f, es) => f -> es.map(_.to) }
    val hops = mutable.LinkedHashMap.empty[String, Int]
    starts.foreach(hops(_) = 0)
    var frontier = starts.toSet
    for (h <- 1 to Hops) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(hops.contains)
      frontier.foreach(hops(_) = h)
    }
    Expected(tables.toMap, tables.filter(t => !t._1.startsWith("link_")).values.sum,
      resolved.size.toLong, Map("inv_join" -> join, "inv_group" -> group, "inv_nested" -> nested),
      starts, hops.toSet)
  }
}
