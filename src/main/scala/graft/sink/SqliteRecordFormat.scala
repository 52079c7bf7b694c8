package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.nio.charset.StandardCharsets.UTF_8

/** The staging format of the native SQLite destination: each write task's
  * rows as the SQLite records the commit stores, encoded once, on the
  * executor that produces them ([[SqliteDdl.RecordEncoder]]). The commit
  * ([[SqliteSnapshotCommit]]) then only packs pages: it appends each
  * payload as it is, with no decoding and no Spark job.
  *
  * A file is a header, then one entry per row; integers are big-endian:
  *  - the 8 bytes [[SqliteRecordFormat.Magic]];
  *  - the length (int32) and UTF-8 bytes of the table's schema as JSON;
  *  - per row, the record's length (int32) and bytes.
  *
  * Write-only: nothing but the commit reads these files, and they are
  * deleted once it ends. Records are uncompressed.
  */
final class SqliteRecordFormat extends FileFormat {

  override def inferSchema(spark: SparkSession, options: Map[String, String],
                           files: Seq[org.apache.hadoop.fs.FileStatus]): Option[StructType] =
    throw new UnsupportedOperationException(s"$this is write-only")

  override def supportDataType(dataType: DataType): Boolean = dataType match {
    case _: StructType | _: ArrayType | _: MapType => false
    case _                                         => true
  }

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = SqliteRecordFormat.Writers

  override def toString: String = "SqliteRecords"
}

object SqliteRecordFormat {

  val Magic: Array[Byte] = "GRAFTSQ1".getBytes(UTF_8)

  private object Writers extends OutputWriterFactory {
    override def getFileExtension(context: TaskAttemptContext): String = ".sqlrec"
    override def newInstance(path: String, dataSchema: StructType,
                             context: TaskAttemptContext): OutputWriter =
      new Writer(path, dataSchema, context)
  }

  private final class Writer(val path: String, schema: StructType, context: TaskAttemptContext)
      extends OutputWriter {
    private val encode = new SqliteDdl.RecordEncoder(schema)
    private val out = {
      val p = new Path(path)
      new DataOutputStream(new BufferedOutputStream(
        p.getFileSystem(context.getConfiguration).create(p, false), 1 << 16))
    }
    private val json = schema.json.getBytes(UTF_8)
    out.write(Magic)
    out.writeInt(json.length)
    out.write(json)

    override def write(row: InternalRow): Unit = {
      val n = encode(row)
      out.writeInt(n)
      out.write(encode.bytes, 0, n)
    }

    override def close(): Unit = out.close()
  }

  /** The staged files of the table directory `dir`, in path order: its
    * files, less Spark's markers and hidden files (names starting with `_`
    * or `.`). A subdirectory is another table's (a kind whose name extends
    * this one's as a path).
    */
  def stagedFiles(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .sortBy(_.toString)

  /** One staged file, open for reading; its header is read and checked
    * on opening. Close it when done.
    */
  final class Reader(fs: FileSystem, val path: Path) extends AutoCloseable {
    private val in = new DataInputStream(new BufferedInputStream(fs.open(path), 1 << 16))
    private var buf = new Array[Byte](256)

    val schema: StructType =
      try {
        val magic = new Array[Byte](Magic.length)
        in.readFully(magic)
        val n = in.readInt()
        if (!java.util.Arrays.equals(magic, Magic) || n <= 0 || n > (64 << 20)) throw badHeader(null)
        val json = new Array[Byte](n)
        in.readFully(json)
        DataType.fromJson(new String(json, UTF_8)).asInstanceOf[StructType]
      } catch {
        case e: IllegalStateException => in.close(); throw e
        case e: Exception => in.close(); throw badHeader(e)
      }

    private def badHeader(cause: Throwable) =
      new IllegalStateException(s"$path is not a staged SQLite record file (bad header)", cause)

    /** Calls `f(bytes, length)` with each record in file order; `bytes` is
      * reused from one record to the next.
      */
    def foreach(f: (Array[Byte], Int) => Unit): Unit = {
      var first = in.read()
      while (first >= 0) {
        val n = (first << 24) | (in.read() << 16) | (in.read() << 8) | in.read()
        if (n < 0) throw new EOFException(s"$path: truncated record length")
        if (n > buf.length) buf = new Array[Byte](math.max(n, 2 * buf.length))
        in.readFully(buf, 0, n)
        f(buf, n)
        first = in.read()
      }
    }

    override def close(): Unit = in.close()
  }
}
