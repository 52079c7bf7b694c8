package graft.sink

import graft.config.SqliteDestination
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

/** Spark → SQLite value/DDL mapping for the native file sink.
  *
  * The reference reaches SQLite through SQLAlchemy (cloud2sql util.py:62-87;
  * default destination `__main__.py:60`); we write the file directly (see
  * [[SqliteFormat]]), so this object owns the equivalent of SQLAlchemy's
  * type compilation: Spark scalar types → SQLite column affinities, and
  * JVM row values → the writer's (null | Long | Double | String | bytes)
  * storage classes. Nested columns were already JSON-encoded by
  * `SnapshotSink.flattenForSql`, matching the reference's JSON-column
  * degradation (SURVEY §1.2).
  */
object SqliteDdl {

  def columnType(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType => "INTEGER"
    case LongType                           => "BIGINT"
    case FloatType | DoubleType             => "FLOAT"
    case BooleanType                        => "BOOLEAN"
    case TimestampType | TimestampNTZType   => "DATETIME"
    case DateType                           => "DATE"
    case _: DecimalType                     => "NUMERIC"
    case BinaryType                         => "BLOB"
    case _                                  => "VARCHAR"
  }

  /** SQL-quote an identifier: wrap in double quotes, doubling any embedded
    * quote — sqlite3 itself would otherwise fail to re-parse the DDL text
    * this sink persists into sqlite_master.
    */
  def quoteIdent(name: String): String =
    "\"" + name.replace("\"", "\"\"") + "\""

  def createTable(name: String, schema: StructType): String =
    schema.fields
      .map(f => s"${quoteIdent(f.name)} ${columnType(f.dataType)}")
      .mkString(s"CREATE TABLE ${quoteIdent(name)} (", ", ", ")")

  // python sqlite3 stores datetimes as isoformat(sep=' '): no fractional
  // part when the value is whole-second, else microseconds
  private val tsWhole  = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private val tsMicros = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  private def fmtInstant(i: java.time.Instant): String =
    if (i.getNano == 0) tsWhole.format(i) else tsMicros.format(i)

  /** Normalizes a Spark Row value to the writer's storage classes. */
  def toStorage(v: Any): Any = v match {
    case null                       => null
    case b: java.lang.Boolean       => if (b) 1L else 0L
    case b: java.lang.Byte          => b.longValue
    case s: java.lang.Short         => s.longValue
    case i: java.lang.Integer       => i.longValue
    case l: java.lang.Long          => l
    case f: java.lang.Float         => f.doubleValue
    case d: java.lang.Double        => d
    case d: java.math.BigDecimal    => d.doubleValue
    case d: scala.math.BigDecimal   => d.doubleValue
    case s: String                  => s
    case b: Array[Byte]             => b
    case t: java.sql.Timestamp      => fmtInstant(t.toInstant)
    case i: java.time.Instant       => fmtInstant(i)
    // TIMESTAMP_NTZ rows arrive as LocalDateTime — format like the zoned
    // cases (isoformat sep=' '), not LocalDateTime.toString's 'T' form
    // (which even drops :00 seconds), so DATETIME columns stay uniform
    case d: java.time.LocalDateTime => fmtInstant(d.toInstant(ZoneOffset.UTC))
    case d: java.sql.Date           => d.toString
    case d: java.time.LocalDate     => d.toString
    case other                      => String.valueOf(other)
  }
}

/** Snapshot commit for the native SQLite destination. Tables were staged as
  * parquet (full write parallelism, observed row counts); the commit — the
  * inherently single-file, single-writer step — reads each staged table in
  * this process, with no Spark job: the schema from one footer
  * ([[graft.Tables.parquetFiles]]), then each data file in path order
  * through Spark's own parquet reader, one file open at a time, its rows
  * turned back into `Row`s by the encoder `collect()` uses. Memory stays
  * bounded by one reader batch. The rows go into a fresh database file,
  * which is then atomically renamed over the destination. Readers therefore
  * always see a complete snapshot: stronger than the reference's per-table
  * temp-swap, same observable guarantee (K2), and a failed run leaves the
  * previous database untouched (K3).
  */
final case class SqliteSnapshotCommit(cfg: SqliteDestination, runId: String,
                                      tables: Seq[String]) extends SnapshotCommit {

  def stagingDir: String = s"${cfg.database}.staging/$runId"

  def commit(spark: SparkSession): Unit = {
    val tmp = new File(s"${cfg.database}.tmp-$runId")
    val writer = new SqliteDbWriter(tmp)
    try {
      tables.sorted.foreach { t =>
        val (schema, files) = graft.Tables.parquetFiles(spark, s"$stagingDir/$t").getOrElse(
          throw new IllegalStateException(s"staged table `$t` ($stagingDir/$t) has no parquet file"))
        val tw = writer.table(t, SqliteDdl.createTable(t, schema))
        val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
          new StructType(), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
          spark.sessionState.newHadoopConf())
        val toRow = ExpressionEncoder(schema).resolveAndBind().createDeserializer()
        files.foreach { f =>
          val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(f), 0,
            f.getLen, Array.empty, f.getModificationTime, f.getLen))
          try rows.foreach(r => tw.addRow(toRow(r).toSeq.map(SqliteDdl.toStorage)))
          finally rows match { case c: java.io.Closeable => c.close(); case _ => () }
        }
      }
      writer.close()
      Files.move(tmp.toPath, Paths.get(cfg.database),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case e: Throwable =>
        writer.abort() // release the fd BEFORE deleting the partial file
        tmp.delete(); throw e
    } finally {
      // staging is consumed either way; the destination file is the snapshot.
      // Delete ONLY this run's subdir — a concurrent run staging against the
      // same database owns its own <runId> sibling, and stranded siblings
      // are Vacuum.vacuumSqlite's job (same discipline as _staging/<runId>).
      val fs = new org.apache.hadoop.fs.Path(stagingDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // guarded: a transient cleanup failure in this finally would
      // otherwise REPLACE the real commit exception; a stranded staging
      // subdir is Vacuum's job either way
      try fs.delete(new org.apache.hadoop.fs.Path(stagingDir), true)
      catch { case _: java.io.IOException => () }
      // opportunistic: remove the .staging root iff it is now empty
      // (non-recursive delete refuses a non-empty directory)
      try fs.delete(new org.apache.hadoop.fs.Path(s"${cfg.database}.staging"), false)
      catch { case _: java.io.IOException => () }
    }
  }
}
