package graft

import java.nio.file.Files
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import graft.config.{SqliteDest, SqliteDestination}
import graft.query.Snapshot
import graft.sink.{SnapshotSink, SqliteDbReader, SqliteSnapshotCommit}
import graft.sources.SqliteSource
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.readParquet]] resolves a parquet path's schema from one footer
  * read in-process, without a Spark job. This spec pins that the result is
  * exactly Spark's own non-merging inference, that every path it does not
  * handle keeps Spark's behaviour, and that the mount runs no inference job.
  * The SQLite commit, which reads staged SQLite records rather than
  * parquet, is pinned here too: it runs no job at all and commits each
  * staged row in its column type's storage class.
  */
class ParquetReadSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def sameSchema(path: String): Unit = {
    val mine = Tables.readParquet(spark, path).schema
    val sparks = spark.read.parquet(path).schema
    assert(mine == sparks, s"$path:\n  loader: ${mine.treeString}\n  spark:  ${sparks.treeString}")
  }

  /** A kind-table-like frame: nested struct, array and map columns, and
    * column names with a dot, a backtick and non-ASCII letters.
    */
  private def kindTable: DataFrame =
    spark.range(5).select(
      col("id").cast("string").as("id"),
      struct(col("id").as("n"), lit("x").as("a.b")).as("spec"),
      array(col("id"), col("id") + 1).as("labels"),
      map(lit("k"), col("id").cast("string")).as("tags"),
      (col("id") * 2).as("size.bytes"),
      lit("v").as("we`ird"),
      lit(1.5).as("größe_名前"))

  test("Spark-written kind table: nested, dotted, backticked and unicode names") {
    val p = s"${tmp("graft-pq-kind")}/t"
    kindTable.repartition(3).write.parquet(p)
    sameSchema(p)
    assert(Tables.readParquet(spark, p).count() == 5)
  }

  test("Spark-written empty DataFrame") {
    val p = s"${tmp("graft-pq-empty")}/t"
    kindTable.filter(lit(false)).write.parquet(p)
    sameSchema(p)
    assert(Tables.readParquet(spark, p).count() == 0)
  }

  test("pandas-written benchmark tables take the converter path") {
    val files = new java.io.File("snapbench/data/sf0.01").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.nonEmpty)
    files.foreach(f => sameSchema(f.getPath))
  }

  test("partitioned directories and schema merging keep Spark's own read") {
    val base = tmp("graft-pq-part")
    spark.range(4).select(col("id"), (col("id") % 2).as("p"))
      .write.partitionBy("p").parquet(s"$base/parted")
    sameSchema(s"$base/parted")

    val evolved = s"$base/evolved"
    spark.range(2).select(col("id")).write.parquet(evolved)
    spark.range(2).select(col("id"), lit("y").as("extra"))
      .write.mode("append").parquet(evolved)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      sameSchema(evolved)
      assert(Tables.readParquet(spark, evolved).schema.fieldNames.toSet == Set("id", "extra"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a directory with no data file raises Spark's AnalysisException") {
    val empty = tmp("graft-pq-nodata")
    val onlyMarker = tmp("graft-pq-marker")
    Files.createFile(java.nio.file.Paths.get(onlyMarker, "_SUCCESS"))
    Seq(empty, onlyMarker, s"$empty/missing").foreach { p =>
      val mine = intercept[AnalysisException](Tables.readParquet(spark, p))
      val sparks = intercept[AnalysisException](spark.read.parquet(p))
      assert(mine.getCondition == sparks.getCondition, p)
      assert(mine.getMessage == sparks.getMessage, p)
    }
  }

  /** Spark jobs launched by `body` on this thread (jobs of other suites
    * carry another job group and never count).
    */
  private def jobsIn(body: => Unit): Int = JobCounter.of(spark)(body).jobs.toInt

  test("Snapshot.register mounts a 6-table snapshot with 0 Spark jobs") {
    val base = tmp("graft-pq-mount")
    val names = (1 to 6).map(i => s"kind_$i")
    names.foreach(t => kindTable.write.parquet(s"$base/current/$t"))
    var mounted = Seq.empty[String]
    assert(jobsIn { mounted = Snapshot.register(spark, base) } == 0)
    assert(mounted == names)
    assert(spark.table("kind_3").count() == 5)
  }

  test("SqliteSnapshotCommit runs no Spark job") {
    val dir = tmp("graft-pq-sqlite")
    val cfg = SqliteDestination(s"$dir/snap.db")
    val tables = Seq("alpha", "beta", "gamma")
    val commit = SqliteSnapshotCommit(cfg, "run1", tables)
    tables.zipWithIndex.foreach { case (t, i) =>
      SnapshotSink.writeTable(spark.range(i + 2).select(col("id"), col("id").cast("string").as("name"))
        .coalesce(1), SqliteDest(cfg), s"${commit.stagingDir}/$t")
    }
    assert(jobsIn(commit.commit(spark)) == 0)
    assert(SqliteSource.register(spark, cfg.database).sorted == tables)
    assert(spark.table("gamma").count() == 4)
  }

  private val wholeSecond = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val fractional = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** The storage class Python's sqlite3 adapters give a `collect()` value
    * taken with java.time values: the oracle of the commit's records.
    */
  private def toStorage(v: Any): Any = v match {
    case null                       => null
    case b: Boolean                 => if (b) 1L else 0L
    case b: Byte                    => b.toLong
    case s: Short                   => s.toLong
    case i: Int                     => i.toLong
    case l: Long                    => l
    case f: Float                   => f.toDouble
    case d: Double                  => d
    case d: java.math.BigDecimal    => d.doubleValue
    case s: String                  => s
    case b: Array[Byte]             => b
    case i: Instant                 => toStorage(LocalDateTime.ofInstant(i, ZoneOffset.UTC))
    case t: LocalDateTime           => (if (t.getNano == 0) wholeSecond else fractional).format(t)
    case d: LocalDate               => d.toString
  }

  test("SqliteSnapshotCommit commits each staged row as toStorage of its collect()") {
    val dir = tmp("graft-pq-sqlite-types")
    val cfg = SqliteDestination(s"$dir/snap.db")
    val commit = SqliteSnapshotCommit(cfg, "run1", Seq("typed", "empty"))
    // one column per SqliteDdl.columnType class, NULL on every 5th row
    def orNull(c: Column) = when(col("id") % 5 =!= 4, c)
    val micros = col("id") * 86399000000L + when(col("id") % 2 === 1, lit(123456L)).otherwise(lit(0L))
    val typed = spark.range(40).select(
      orNull(col("id") % 2 === 0).as("flag"),
      orNull(col("id").cast("byte")).as("tiny"),
      orNull((col("id") * 7).cast("short")).as("small"),
      orNull(col("id").cast("int") - 20).as("int"),
      orNull(col("id") * 1000000007L).as("long"),
      orNull(col("id").cast("float") / 3).as("float"),
      orNull(col("id").cast("double") / 7).as("double"),
      orNull((col("id") / 8).cast("decimal(12,3)")).as("dec"),
      orNull(concat(lit("s-"), col("id").cast("string"), lit("-ü京"))).as("str"),
      orNull(col("id").cast("string").cast("binary")).as("bin"),
      // whole-second on even rows, fractional on odd ones
      orNull(timestamp_micros(micros)).as("ts"),
      orNull(timestamp_micros(micros).cast("timestamp_ntz")).as("ntz"),
      orNull(date_add(lit("1999-12-30").cast("date"), col("id").cast("int"))).as("day"))
    val tables = Map("typed" -> typed.repartition(3), "empty" -> typed.filter(lit(false)))
    // several part files, and a table with no row
    tables.foreach { case (t, df) => SnapshotSink.writeTable(df, SqliteDest(cfg), s"${commit.stagingDir}/$t") }
    assert(new java.io.File(s"${commit.stagingDir}/typed").list().count(_.endsWith(".sqlrec")) == 3)
    // bytes compare by content
    def multiset(rows: Iterator[Seq[Any]]) = rows
      .map(_.map { case b: Array[Byte] => b.toSeq; case v => v })
      .toSeq.groupBy(identity).map { case (r, n) => r -> n.size }
    spark.conf.set("spark.sql.datetime.java8API.enabled", "true")
    // toDF: a Dataset's row encoder reads the setting when it is built
    val want = try tables.map { case (t, df) =>
      t -> (df.columns.toSeq, multiset(df.toDF().collect().iterator.map(_.toSeq.map(toStorage))))
    } finally spark.conf.unset("spark.sql.datetime.java8API.enabled")
    assert(want("typed")._2.values.sum == 40 && want("empty")._2.isEmpty)
    assert(jobsIn(commit.commit(spark)) == 0)
    val r = new SqliteDbReader(new java.io.File(cfg.database))
    try {
      r.verifyAll()
      want.foreach { case (t, (columns, rows)) =>
        assert(r.columns(t) == columns, t)
        assert(multiset(r.rows(t)) == rows, t)
      }
    } finally r.close()
  }
}
