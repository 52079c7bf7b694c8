package graft.graph

import graft.model.KindModel
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A collected typed property graph (SURVEY.md §1.1): nodes carry a kind
  * plus a JSON document of properties; edges are directed (from, to) pairs.
  *
  * `nodes` schema: (id STRING, kind STRING, reported STRING/JSON)
  * `edges` schema: (from_id STRING, to_id STRING)
  */
final case class Graph(nodes: DataFrame, edges: DataFrame, model: KindModel)

/** Relational projection of the graph (reference collect.py:154-162 [D],
  * oracle tests/collect_test.py:26-40 [T]): one table per kind named
  * `<kind>`, one link table per ordered kind pair named
  * `link_<from_kind>_<to_kind>` with columns (from_id, to_id).
  *
  * Staging (`SnapshotSink.stage`) reads the node set ONCE into a scoped
  * cache ([[normalize]]); the duplicate-id check, every kind projection and
  * the id→kind side of edge resolution read that one frame. File and SQLite
  * destinations write every link table in ONE partitioned write
  * ([[writeLinksPartitioned]]) whose `from_kind=/to_kind=` directories are
  * renamed into `link_<f>_<t>` tables, so a source costs one job per kind
  * table plus a constant, however many kind pairs it has. Only JDBC, which
  * cannot rename directories into tables, writes per pair ([[linkTables]]).
  */
object GraphNormalizer {

  /** The graph itself cannot be staged: duplicate node ids, link-table
    * names that collide, or a kind model that does not project. Permanently
    * bad input — retrying cannot help — as opposed to an environmental
    * failure of the writes (which surfaces as any other exception).
    */
  final class InvalidGraphException(msg: String, cause: Throwable = null)
    extends IllegalArgumentException(msg, cause)

  private def check(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new InvalidGraphException(msg)

  /** One source after [[normalize]]: the graph with its node set cached in
    * the enclosing scope, and its kind tables.
    */
  final case class Normalized(graph: Graph, kinds: Map[String, DataFrame]) {
    /** Per-pair link tables ([[linkTables]]); the JDBC staging path. */
    def links: Map[String, DataFrame] = linkTables(graph)
  }

  /** Kind tables: project each node's JSON document onto the kind's declared
    * schema (missing properties -> NULL) — SURVEY §2.B1. The JSON parse and
    * projection run columnar via `from_json`; one pass over the node set per
    * kind, with the kind filter pushed into the scan.
    */
  def kindTables(g: Graph): Map[String, DataFrame] = {
    val kinds = g.model.kinds.filter(_.aggregateRoot).map(_.fqn)
    kinds.map { fqn =>
      val schema = g.model.toStructType(fqn)
      val projected = g.nodes
        .filter(col("kind") === fqn)
        // FAILFAST: a malformed `reported` document must throw, not emit
        // an all-NULL row (id included) that is indistinguishable from
        // real data — the ingest path guards corrupt LINES the same way;
        // a NULL reported still projects to NULLs (mode only governs
        // malformed input, not absent input)
        .withColumn("__doc",
          from_json(col("reported"), schema, Map("mode" -> "FAILFAST")))
        // getField resolves the LITERAL field name — col("__doc.a.b")
        // would parse a dotted property name as nested access and abort
        // analysis for a model the rest of the pipeline accepts
        .select(schema.fieldNames.map(f => col("__doc").getField(f).as(f)).toSeq: _*)
      fqn -> projected
    }.toMap
  }

  /** Edge endpoints resolved to kinds with two joins against the (id, kind)
    * projection; the id lookup side is broadcast when small, otherwise a
    * shuffled equi-join on id — never a driver-side collect of the edge set.
    * INNER joins by design: dangling edges are silently dropped per the
    * producer contract (docs/GRAPH_EXPORT.md conformance checklist), and so
    * is an edge whose endpoint has no kind (NULL or empty): it belongs to
    * no `link_<from>_<to>` table. [[normalize]] guards the
    * duplicate-node-id fan-out case loudly.
    */
  def resolvedEdges(g: Graph): DataFrame = {
    val idKind = g.nodes.select(col("id"), col("kind"))
      .filter(col("kind").isNotNull && col("kind") =!= "")
    g.edges
      .join(idKind.withColumnRenamed("id", "from_id").withColumnRenamed("kind", "from_kind"), "from_id")
      .join(idKind.withColumnRenamed("id", "to_id").withColumnRenamed("kind", "to_kind"), "to_id")
      .select("from_kind", "to_kind", "from_id", "to_id")
  }

  /** The checked `link_<from>_<to>` name of every kind pair, in `pairs`
    * order. Underscores in kind fqns make the flattened name ambiguous: two
    * DISTINCT pairs (a_b, c) and (a, b_c) both render `link_a_b_c`, and a
    * kind may itself be named like a link table; either way one table would
    * silently replace the other, so both fail loudly instead.
    */
  def linkNames(model: KindModel, pairs: Seq[(String, String)]): Seq[String] = {
    val names = pairs.map { case (f, t) => s"link_${f}_$t" }
    val dup = pairs.zip(names).groupBy(_._2).filter(_._2.length > 1)
    check(dup.isEmpty,
      s"distinct kind pairs collide on a link-table name: " +
        dup.map { case (n, ps) => s"$n <- ${ps.map(_._1).mkString(", ")}" }.mkString("; ") +
        " — rename a kind or the snapshot would silently lose edges")
    val clash = model.kinds.filter(_.aggregateRoot).map(_.fqn).toSet.intersect(names.toSet)
    check(clash.isEmpty,
      s"kind name(s) collide with generated link-table name(s): " +
        s"${clash.mkString(", ")} — rename the kind or the snapshot would " +
        "silently lose its table")
    names
  }

  /** Link tables keyed by `link_<from>_<to>`, one filter of the resolved
    * edge set per kind pair. The pair inventory is bounded by |kinds|^2
    * (metadata-scale) and enumerated on the driver. Staging uses this only
    * for JDBC; file and SQLite staging write [[writeLinksPartitioned]].
    */
  def linkTables(g: Graph): Map[String, DataFrame] = {
    // scoped cache: the resolved plan feeds the pair enumeration AND every
    // per-pair table — uncached, the edges×nodes double join re-executes
    // once per link table; outside a scope it degrades to that recompute
    // instead of leaking a pinned Dataset
    val resolved = graft.CacheTracker.cachedInScope(resolvedEdges(g))
    val pairs = resolved.select("from_kind", "to_kind").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    linkNames(g.model, pairs).zip(pairs).map { case (name, (f, t)) =>
      name -> resolved
        .filter(col("from_kind") === f && col("to_kind") === t)
        .select("from_id", "to_id")
    }.toMap
  }

  /** Every link table in ONE write: the resolved edge set partitioned by
    * (from_kind, to_kind) under `path`, in `format` with the destination's
    * writer `options`. No driver-side pair enumeration and no per-pair job;
    * a reader of one pair gets partition pruning
    * (`…/from_kind=<f>/to_kind=<t>`), and staging renames each pair's
    * directory into its `link_<f>_<t>` table. Returns the number of edges
    * written, observed on the write itself.
    */
  def writeLinksPartitioned(g: Graph, path: String, format: String,
                            options: Map[String, String]): Long = {
    val obs = Observation()
    resolvedEdges(g).observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").format(format).options(options)
      .partitionBy("from_kind", "to_kind").save(path)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Cache the node set in the enclosing scope, check node ids, and build
    * the kind tables. Link tables are built by the staging write
    * ([[writeLinksPartitioned]] or [[Normalized.links]]); their names are
    * checked by [[linkNames]] before anything is staged.
    */
  def normalize(g: Graph): Normalized = {
    // one parse: the duplicate-id check, every kind projection and edge
    // resolution all read this frame (a passthrough outside a scope)
    val nodes = graft.CacheTracker.cachedInScope(g.nodes)
    // Duplicate node ids, checked LOUDLY at snapshot-write time: each
    // duplicate would silently MULTIPLY its incident edges into every
    // link table (resolvedEdges joins on id). Dangling edges are NOT an
    // error: docs/GRAPH_EXPORT.md pins "dangling edges are silently
    // dropped" as the producer contract. ONE job: a map-side-combined
    // count per id, summed, with the node cache filled by the same pass —
    // as a DataFrame aggregate, adaptive execution would run the cache
    // fill, the shuffle and the result as three jobs. NULL ids group
    // together, so two NULL ids are one duplicate.
    val dupIds = nodes.select("id").rdd.map(r => (r.get(0), 1L)).reduceByKey(_ + _)
      .map { case (_, n) => n - 1 }.fold(0L)(_ + _)
    check(dupIds == 0,
      s"$dupIds duplicate node id(s) — each would multiply its incident " +
        "edges into every link table; deduplicate the node set first")
    val cg = g.copy(nodes = nodes)
    val kinds =
      try kindTables(cg)
      catch {
        case scala.util.control.NonFatal(e) => throw new InvalidGraphException(
          s"the kind model does not project to tables: ${e.getMessage}", e)
      }
    Normalized(cg, kinds)
  }

  /** JSON-lines export record shape (nodes, edges, and kind records). */
  val exportSchema: StructType = StructType(Seq(
    StructField("type", StringType), StructField("id", StringType),
    StructField("kind", StringType), StructField("reported", StringType),
    StructField("from", StringType), StructField("to", StringType),
    StructField("fqn", StringType),
    StructField("bases", ArrayType(StringType)),
    StructField("aggregate_root", BooleanType),
    StructField("properties", ArrayType(StructType(Seq(
      StructField("name", StringType), StructField("kind", StringType),
      StructField("required", BooleanType)))))))

  /** Write a [[Graph]] back out as a JSON-lines export in the same record
    * shape [[fromJsonExport]] ingests — the inverse direction: a snapshot
    * collected here can be shipped to any consumer of the reference's
    * remote-graph format, and `fromJsonExport(toJsonExport(g)) == g`
    * (pinned by GraphExportSpec). Kind records ride along so the schema
    * travels with the data; nodes and edges are written distributed
    * (`to_json` per row, text sink) — only the metadata-scale kind records
    * originate on the driver.
    */
  def toJsonExport(g: Graph, path: String): Unit = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val kindLines = g.model.kinds.map { k =>
      val props = k.properties.map(p =>
        s"""{"name":${q(p.name)},"kind":${q(p.kind)},"required":${p.required}}""")
        .mkString("[", ",", "]")
      val bases = k.bases.map(q).mkString("[", ",", "]")
      s"""{"type":"kind","fqn":${q(k.fqn)},"bases":$bases,""" +
        s""""aggregate_root":${k.aggregateRoot},"properties":$props}"""
    }
    val kinds = spark.createDataset(kindLines).toDF("value")
    // `reported` is already JSON text — splice it in RAW so the record
    // carries an embedded object ("reported":{…}), the reference format,
    // not a JSON-escaped string. to_json(struct(id)) JSON-escapes the
    // scalar without hand-rolled escaping; a NULL scalar must become the
    // literal `null` (to_json would OMIT the field, yielding `"id":,` —
    // an invalid line the re-import would silently drop).
    def jstr(c: org.apache.spark.sql.Column) = when(c.isNull, lit("null"))
      .otherwise(regexp_extract(to_json(struct(c.as("v"))), "^\\{\"v\":(.*)\\}$", 1))
    // reported must be single-line JSON (every producer in this repo emits
    // exactly that); an embedded newline would split the record across
    // lines and corrupt the export — fail loudly, never corrupt silently
    val reported = when(col("reported").rlike("[\\n\\r]"),
        raise_error(concat(lit("toJsonExport: reported contains a newline for id "), col("id"))))
      .otherwise(coalesce(col("reported"), lit("null")))
    val nodes = g.nodes.select(concat(
      lit("""{"type":"node","id":"""), jstr(col("id")),
      lit(""","kind":"""), jstr(col("kind")),
      lit(""","reported":"""), reported,
      lit("}")).as("value"))
    val edges = g.edges.select(concat(
      lit("""{"type":"edge","from":"""), jstr(col("from_id")),
      lit(""","to":"""), jstr(col("to_id")),
      lit("}")).as("value"))
    kinds.unionAll(nodes).unionAll(edges)
      .write.mode("overwrite").text(path)
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  /** Ingest a JSON-lines graph export (reference A3 remote-graph source
    * [D]): records tagged `"type":"node"` / `"type":"edge"`, plus
    * `"type":"kind"` records carrying the kind model so the schema travels
    * with the export (the reference's remote core likewise ships its model
    * with the graph). `reported` may be an embedded JSON object — Spark's
    * JSON reader captures an object into a StringType field as raw text.
    *
    * Model resolution: embedded kind records win; otherwise `fallback`;
    * otherwise the export is rejected (schemas are never guessed).
    */
  /** Reserved column that carries each unparseable export line through the
    * PERMISSIVE read so [[fromExportRecords]] can fail LOUDLY on it.
    * FAILFAST is not usable here: the reference format embeds `reported`
    * as a JSON OBJECT captured into a StringType field — legal in
    * PERMISSIVE, counted as malformed by FAILFAST — so corrupt lines must
    * be detected explicitly instead.
    */
  val CorruptCol = "_graft_corrupt"

  /** [[exportSchema]] plus the corrupt-record capture column. */
  val exportReadSchema: StructType = exportSchema.add(CorruptCol, StringType)

  /** @param strict when true, an unparseable line fails the ingest loudly
    *               instead of the contract's default drop (GRAPH_EXPORT.md
    *               "Transport") — the right mode when a truncated export
    *               silently committing a PARTIAL snapshot is worse than a
    *               failed run.
    */
  def fromJsonExport(
      spark: SparkSession,
      path: String,
      fallback: Option[KindModel] = None,
      strict: Boolean = false): Graph =
    fromExportRecords(
      spark.read.schema(exportReadSchema)
        .option("columnNameOfCorruptRecord", CorruptCol).json(path),
      fallback, strict)

  /** Split an already-read record set (batch or one micro-batch of a
    * stream) into a typed [[Graph]].
    */
  def fromExportRecords(raw0: DataFrame, fallback: Option[KindModel],
                        strict: Boolean = false): Graph = {
    // Unparseable lines: the contract default (GRAPH_EXPORT.md
    // "Transport") DROPS them — made explicit here via the corrupt-record
    // column rather than relying on type filters skipping null-filled
    // rows. Under `strict` the first such line fails the ingest (its
    // batch) loudly instead: a truncated export silently committing a
    // PARTIAL snapshot over the previous good one is the failure mode
    // strict callers are buying out of.
    val raw =
      if (!raw0.columns.contains(CorruptCol)) raw0
      else {
        if (strict) {
          // `type` rides along because Spark rejects a query whose only
          // referenced column is the internal corrupt-record column
          val bad = raw0.filter(col(CorruptCol).isNotNull)
            .select(col(CorruptCol), col("type")).limit(1).collect()
          require(bad.isEmpty,
            s"graph export contains an unparseable line: ${bad.headOption
              .map(_.getString(0).take(200)).getOrElse("")}")
        }
        raw0.filter(col(CorruptCol).isNull).drop(CorruptCol)
      }

    // kind records are metadata-scale (|kinds|, not |nodes|) — the one
    // sanctioned driver-side collect, same as the kind-pair enumeration
    import org.apache.spark.sql.Row
    val embedded = raw.filter(col("type") === "kind")
      .select("fqn", "properties", "bases", "aggregate_root").collect().toSeq.map { r =>
        require(!r.isNullAt(0), "graph export: kind record without fqn")
        // a property-less kind is legal (all columns inherited/absent)
        val props = if (r.isNullAt(1)) Seq.empty[graft.model.KindProperty]
        else r.getSeq[Row](1).map { p =>
          // validate BOTH fields here, with names — a null property kind
          // otherwise survives to KindModel.sparkType and dies there as a
          // bare NPE, far from the ingest and naming nothing
          require(!p.isNullAt(0),
            s"graph export: kind '${r.getString(0)}' has a property without a name")
          require(!p.isNullAt(1),
            s"graph export: kind '${r.getString(0)}' property '${p.getString(0)}' has no kind")
          graft.model.KindProperty(p.getString(0), p.getString(1),
            !p.isNullAt(2) && p.getBoolean(2))
        }
        // inheritance + root-ness travel with the export (absent fields
        // keep the Kind defaults: no bases, aggregate root)
        val bases = if (r.isNullAt(2)) Nil else r.getSeq[String](2)
        val root = r.isNullAt(3) || r.getBoolean(3)
        graft.model.Kind(r.getString(0), props, bases, root)
      }
    val model =
      if (embedded.nonEmpty) KindModel(embedded)
      else fallback.getOrElse(throw new IllegalArgumentException(
        "graph export carries no kind records and no fallback model was given " +
          "(expected {\"type\":\"kind\",\"fqn\":…,\"properties\":[…]} lines)"))

    Graph(
      nodes = raw.filter(col("type") === "node").select("id", "kind", "reported"),
      edges = raw.filter(col("type") === "edge")
        .select(col("from").as("from_id"), col("to").as("to_id")),
      model = model)
  }
}
