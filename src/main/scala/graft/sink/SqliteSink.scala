package graft.sink

import graft.config.SqliteDestination
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.format.DateTimeFormatter
import java.time.{LocalDate, ZoneOffset}

/** Spark → SQLite value/DDL mapping for the native file sink.
  *
  * The reference reaches SQLite through SQLAlchemy (cloud2sql util.py:62-87;
  * default destination `__main__.py:60`); we write the file directly (see
  * [[SqliteFormat]]), so this object owns the equivalent of SQLAlchemy's
  * type compilation: Spark scalar types → SQLite column affinities, and
  * Spark's internal row values → SQLite records of the (NULL | INTEGER |
  * REAL | TEXT | BLOB) storage classes ([[RecordEncoder]]). Nested columns
  * were already JSON-encoded by `SnapshotSink.flattenForSql`, matching the
  * reference's JSON-column degradation (SURVEY §1.2).
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

  /** A DATETIME's text from Spark's internal microseconds (UTC for a
    * TIMESTAMP, wall-clock for a TIMESTAMP_NTZ) in the proleptic Gregorian
    * calendar, as `CAST AS STRING` and Python's `isoformat` read it.
    */
  private def datetime(micros: Long): String = {
    val i = DateTimeUtils.microsToInstant(micros)
    if (i.getNano == 0) tsWhole.format(i) else tsMicros.format(i)
  }

  /** Encodes Spark internal rows of `schema` as SQLite records, one at a
    * time into a reused [[SqliteFormat.RecordBuilder]]. The storage class
    * of each column type, as Python's sqlite3 adapters store it:
    *  - BOOLEAN and the integer types: INTEGER (a boolean as 1 or 0);
    *  - FLOAT, DOUBLE and DECIMAL: REAL;
    *  - STRING: TEXT, its UTF-8 bytes;
    *  - BINARY: BLOB;
    *  - TIMESTAMP and TIMESTAMP_NTZ: TEXT `yyyy-MM-dd HH:mm:ss[.ffffff]`
    *    ([[datetime]]); DATE: TEXT `yyyy-MM-dd` (proleptic Gregorian);
    *  - any other type: TEXT, the `String.valueOf` of its external value.
    *
    * Nested columns never reach it: `SnapshotSink.flattenForSql` encodes
    * them as JSON text first.
    */
  final class RecordEncoder(schema: StructType) {
    private val types = schema.fields.map(_.dataType)
    private val toExternal = types.map(CatalystTypeConverters.createToScalaConverter)
    private val record = new SqliteFormat.RecordBuilder

    /** Encodes `row`; returns the record's length, its bytes being
      * `bytes(0 until length)` until the next call.
      */
    def apply(row: InternalRow): Int = {
      record.clear()
      var i = 0
      while (i < types.length) {
        if (row.isNullAt(i)) record.putNull()
        else types(i) match {
          case BooleanType                      => record.putLong(if (row.getBoolean(i)) 1L else 0L)
          case ByteType                         => record.putLong(row.getByte(i).toLong)
          case ShortType                        => record.putLong(row.getShort(i).toLong)
          case IntegerType                      => record.putLong(row.getInt(i).toLong)
          case LongType                         => record.putLong(row.getLong(i))
          case FloatType                        => record.putDouble(row.getFloat(i).toDouble)
          case DoubleType                       => record.putDouble(row.getDouble(i))
          case d: DecimalType                   =>
            record.putDouble(row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.doubleValue)
          case _: StringType                    => putUtf8(row.getUTF8String(i))
          case BinaryType                       => record.putBlob(row.getBinary(i))
          case TimestampType | TimestampNTZType => record.putText(datetime(row.getLong(i)))
          case DateType                         => record.putText(LocalDate.ofEpochDay(row.getInt(i).toLong).toString)
          case dt                               => record.putText(String.valueOf(toExternal(i)(row.get(i, dt))))
        }
        i += 1
      }
      record.finish()
    }

    def bytes: Array[Byte] = record.bytes

    // copied as they are when valid UTF-8; otherwise as Java decodes them,
    // each malformed sequence replaced by U+FFFD
    private def putUtf8(s: UTF8String): Unit =
      if (s.isValid) {
        val at = record.text(s.numBytes)
        s.writeToMemory(record.bodyBytes, Platform.BYTE_ARRAY_OFFSET + at.toLong)
      } else record.putText(s.toString)
  }
}

/** Snapshot commit for the native SQLite destination. Tables were staged
  * as SQLite records ([[SqliteRecordFormat]]): full write parallelism,
  * every row encoded on the executor that produced it, observed row
  * counts. The commit — the inherently single-file, single-writer step —
  * runs in this process with no Spark job: for each table, in name order,
  * it takes the DDL from the first staged file's header, then appends each
  * file's records, files in path order, to the table's pages as they are.
  * Memory stays bounded by one page and one record. The records go into a
  * fresh database file, which is then atomically renamed over the
  * destination. Readers therefore always see a complete snapshot: stronger
  * than the reference's per-table temp-swap, same observable guarantee
  * (K2), and a failed run leaves the previous database untouched (K3).
  */
final case class SqliteSnapshotCommit(cfg: SqliteDestination, runId: String,
                                      tables: Seq[String]) extends SnapshotCommit {

  def stagingDir: String = s"${cfg.database}.staging/$runId"

  def commit(spark: SparkSession): Unit = {
    val fs = new Path(stagingDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new File(s"${cfg.database}.tmp-$runId")
    val writer = new SqliteDbWriter(tmp)
    try {
      tables.sorted.foreach { t =>
        val files = SqliteRecordFormat.stagedFiles(fs, new Path(s"$stagingDir/$t"))
        if (files.isEmpty)
          throw new IllegalStateException(s"staged table `$t` ($stagingDir/$t) has no record file")
        files.foldLeft(Option.empty[(StructType, writer.TableWriter)]) { (table, f) =>
          val in = new SqliteRecordFormat.Reader(fs, f)
          try {
            val (schema, tw) =
              table.getOrElse(in.schema -> writer.table(t, SqliteDdl.createTable(t, in.schema)))
            if (in.schema != schema)
              throw new IllegalStateException(s"staged file $f of table `$t` has schema " +
                s"${in.schema.simpleString}, not ${schema.simpleString}")
            in.foreach(tw.addPayload)
            Some(schema -> tw)
          } finally in.close()
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
      // guarded: a transient cleanup failure in this finally would
      // otherwise REPLACE the real commit exception; a stranded staging
      // subdir is Vacuum's job either way
      try fs.delete(new Path(stagingDir), true)
      catch { case _: java.io.IOException => () }
      // opportunistic: remove the .staging root iff it is now empty
      // (non-recursive delete refuses a non-empty directory)
      try fs.delete(new Path(s"${cfg.database}.staging"), false)
      catch { case _: java.io.IOException => () }
    }
  }
}
