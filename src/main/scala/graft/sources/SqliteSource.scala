package graft.sources

import graft.sink.{SqliteDbReader, SqliteFormat}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graftbridge.RowsBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import java.io.File
import java.time.format.DateTimeFormatter
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

/** Reads an existing SQLite database — e.g. one produced by the reference
  * (its default destination, cloud2sql `__main__.py:60`) or by our own
  * [[graft.sink.SqliteSnapshotCommit]] — into DataFrames, so a user
  * migrating from cloud2sql can point the engine at their current exports
  * and query on.
  *
  * A SQLite file is inherently a single-node artifact (one file, page
  * chain), so ingest reads it once on the driver — the same boundary the
  * reference crosses in the other direction when it INSERTs row batches —
  * and decodes each record once, at mount, into Spark's binary row format
  * (`UnsafeRow`). Each table is a `LogicalRDD` over those bytes, packed
  * into one array per partition, with real statistics (row count, summed
  * row bytes): a query reads the rows in place, with no per-row object and
  * no conversion, and the planner broadcasts a small table in a join
  * instead of shuffling both sides. Declared column types come from
  * the stored CREATE TABLE text; SQLite cells are dynamically typed, so
  * values are coerced to the declared affinity (DATETIME/DATE text parses
  * back to Spark timestamps/dates, INTEGER-affinity booleans to long, …)
  * and a cell whose storage class cannot represent the declared type
  * degrades to NULL rather than aborting the ingest — the affinity-mismatch
  * tolerance SQLite itself has.
  */
object SqliteSource {

  /** Spark type for a declared SQLite column type (affinity rules). */
  private[sources] def sparkType(declared: String): DataType = {
    val t = declared.trim.toUpperCase
    if (t.contains("INT")) LongType
    else if (t.contains("BOOL")) LongType // stored 0/1
    else if (t.contains("DATETIME") || t.contains("TIMESTAMP")) TimestampType
    else if (t.startsWith("DATE")) DateType
    else if (Seq("REAL", "FLOA", "DOUB", "NUMERIC", "DECIMAL").exists(t.contains)) DoubleType
    else if (t.contains("BLOB")) BinaryType
    else StringType // TEXT / VARCHAR / CHAR / CLOB / unknown
  }

  // python's isoformat uses 'T'; its sqlite3 adapter uses ' ' — accept both,
  // with or without a fractional part (DateTimeFormatter is thread-safe)
  private val tsFmt = DateTimeFormatter.ofPattern(
    "yyyy-MM-dd['T'][' ']HH:mm:ss[.SSSSSS][.SSS]")

  /** Coerces a raw storage value (null | Long | Double | String | bytes)
    * to the declared Spark type. Total: an unrepresentable cell → null.
    */
  private[sources] def coerce(v: Any, dt: DataType): Any = {
    def opt[A](f: => A): Any = try f catch { case _: Exception => null }
    (v, dt) match {
      case (null, _)                    => null
      case (l: Long, LongType)          => l
      case (d: Double, LongType)        => d.toLong
      case (s: String, LongType)        => opt(s.trim.toLong)
      case (l: Long, DoubleType)        => l.toDouble
      case (d: Double, DoubleType)      => d
      case (s: String, DoubleType)      => opt(s.trim.toDouble)
      case (s: String, TimestampType)   => opt {
        val t = s.trim
        // tz-aware producers (python's sqlite3 adapter stores tz-aware
        // datetimes as `isoformat(sep=' ')` WITH offset, e.g.
        // `2023-01-01 00:00:00+00:00`) fall through to the offset parse —
        // swallowing them as null would silently erase every DATETIME of
        // a genuine reference export
        val instant =
          try LocalDateTime.parse(t, tsFmt).toInstant(ZoneOffset.UTC)
          catch { case _: Exception =>
            java.time.OffsetDateTime.parse(t.replace(' ', 'T')).toInstant }
        java.sql.Timestamp.from(instant)
      }
      case (l: Long, TimestampType)     =>
        // SQLite's own integer-datetime convention (unixepoch()) is
        // SECONDS; only a magnitude whose ×1000 would overflow the millis
        // Long (~9.2e15, i.e. nanos-epoch producers) degrades to NULL
        // rather than wrapping into a nonsense instant. Micros-epoch
        // values (~1.7e15) PASS this guard and surface as far-future
        // timestamps — visible in any query, whereas nulling everything
        // past plausible epoch-seconds would silently erase columns a
        // producer deliberately stores at higher resolution
        if (math.abs(l) < Long.MaxValue / 1000L) new java.sql.Timestamp(l * 1000L)
        else null
      case (s: String, DateType)        => opt(java.sql.Date.valueOf(LocalDate.parse(s.trim)))
      case (b: Array[Byte], BinaryType) => b
      case (b: Array[Byte], StringType) => new String(b, "UTF-8")
      case (other, StringType)          => String.valueOf(other)
      case _                            => null // storage class ⊥ declared type
    }
  }

  /** The table at `root` as a DataFrame: every record coerced and written
    * as an `UnsafeRow` here, on the driver, with no Spark job and no
    * generated class.
    */
  private def toDf(spark: SparkSession, reader: SqliteDbReader,
                   root: Int, sql: String): DataFrame = {
    val schema = StructType(SqliteFormat.columnsOf(sql).map { case (n, t) => StructField(n, sparkType(t)) })
    val types = schema.fields.map(_.dataType)
    val writer = new UnsafeRowWriter(types.length)
    val rows = reader.rowsAt(root).map { vs =>
      writer.reset()
      writer.zeroOutNullBytes()
      // SQLite legally stores SHORT records after ALTER TABLE ADD COLUMN
      // (old rows keep their pre-ALTER width): the missing cells are NULL,
      // honoring the degrade-to-NULL contract above
      types.indices.foreach(i => put(writer, i, coerce(if (i < vs.length) vs(i) else null, types(i))))
      writer.getRow.copy()
    }.toArray
    val slices = math.max(1, rows.length / 10000)
    val blobs = rows.grouped(math.max(1, (rows.length + slices - 1) / slices)).map(pack).toSeq
    val fields = types.length
    val rdd = spark.sparkContext.parallelize(blobs, math.max(1, blobs.size))
      .mapPartitions(_.flatMap(unpack(_, fields)))
    RowsBridge.frame(spark, schema, rdd,
      Statistics(sizeInBytes = BigInt(rows.map(_.getSizeInBytes.toLong).sum), rowCount = Some(BigInt(rows.length))))
  }

  /** A [[coerce]]d value (its class follows the column type) in Spark's
    * internal form, as `CatalystTypeConverters` would convert it.
    */
  private def put(writer: UnsafeRowWriter, i: Int, v: Any): Unit = v match {
    case null                  => writer.setNullAt(i)
    case l: Long               => writer.write(i, l)
    case d: Double             => writer.write(i, d)
    case s: String             => writer.write(i, UTF8String.fromString(s))
    case b: Array[Byte]        => writer.write(i, b)
    case t: java.sql.Timestamp => writer.write(i, DateTimeUtils.fromJavaTimestamp(t))
    case d: java.sql.Date      => writer.write(i, DateTimeUtils.fromJavaDate(d))
  }

  /** `rows` as one array: each row's size as a long, then its bytes, so
    * every row starts 8-byte aligned as an `UnsafeRow` must.
    */
  private def pack(rows: Array[UnsafeRow]): Array[Byte] = {
    val blob = new Array[Byte](Math.toIntExact(rows.map(8L + _.getSizeInBytes).sum))
    var at = Platform.BYTE_ARRAY_OFFSET.toLong
    rows.foreach { r =>
      Platform.putLong(blob, at, r.getSizeInBytes)
      r.writeToMemory(blob, at + 8)
      at += 8 + r.getSizeInBytes
    }
    blob
  }

  /** The rows of a [[pack]]ed array, read in place through one reused row
    * (the scan projects each row before anything keeps it).
    */
  private def unpack(blob: Array[Byte], fields: Int): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val row = new UnsafeRow(fields)
    private var at = Platform.BYTE_ARRAY_OFFSET.toLong
    private val end = at + blob.length
    def hasNext: Boolean = at < end
    def next(): InternalRow = {
      val size = Platform.getLong(blob, at).toInt
      row.pointTo(blob, at + 8, size)
      at += 8 + size
      row
    }
  }

  /** A table this reader cannot decode, with the reason: WITHOUT ROWID
    * tables store rows in index-format b-tree pages the rowid walk does
    * not read, and paren-less DDL (CREATE TABLE ... AS SELECT) declares
    * no parseable column list. One shared classifier so [[register]]'s
    * skip and [[table]]'s refusal can never disagree.
    */
  private def unsupported(name: String, sql: String): Option[String] = {
    val norm = sql.toUpperCase.replaceAll("\\s+", " ").trim
    if (norm.endsWith("WITHOUT ROWID"))
      Some(s"table '$name' is WITHOUT ROWID (index-format pages; not supported by the rowid b-tree walk)")
    else if (SqliteFormat.columnsOf(sql).isEmpty)
      Some(s"table '$name' has no parseable column list (CREATE TABLE ... AS SELECT?)")
    else None
  }

  /** One table as a DataFrame. */
  def table(spark: SparkSession, dbPath: String, name: String): DataFrame = {
    val r = new SqliteDbReader(new File(dbPath))
    try {
      val (_, root, sql) = r.masterRows.find(_._1 == name)
        .getOrElse(throw new IllegalArgumentException(s"no such table: $name"))
      // an explicitly-requested table fails LOUDLY when undecodable — a
      // silent skip here would read as "empty table"
      unsupported(name, sql).foreach(m => throw new IllegalArgumentException(m))
      toDf(spark, r, root, sql)
    } finally r.close()
  }

  /** Register every table in the database as a temp view (the SQLite
    * counterpart of [[graft.query.Snapshot.register]]). One reader, one
    * sqlite_master walk for the whole database.
    * @return registered table names
    */
  def register(spark: SparkSession, dbPath: String): Seq[String] = {
    val r = new SqliteDbReader(new File(dbPath))
    try {
      val tables = r.masterRows.sortBy(_._1)
      // whole-database ingest skips undecodable tables LOUDLY and keeps
      // going: one exotic table (WITHOUT ROWID, CREATE TABLE AS) must not
      // abort registration of every other table in the file
      val (bad, good) = tables.partition { case (name, _, sql) =>
        unsupported(name, sql).isDefined
      }
      bad.foreach { case (name, _, sql) =>
        System.err.println(s"[sqlite-source] SKIPPED: ${unsupported(name, sql).get}")
      }
      good.foreach { case (name, root, sql) =>
        toDf(spark, r, root, sql).createOrReplaceTempView(name)
      }
      good.map(_._1)
    } finally r.close()
  }
}
