package graft

import java.nio.file.Files

import graft.config.SqliteDestination
import graft.query.Snapshot
import graft.sink.SqliteSnapshotCommit
import graft.sources.SqliteSource
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.readParquet]] resolves a parquet path's schema from one footer
  * read in-process, without a Spark job. This spec pins that the result is
  * exactly Spark's own non-merging inference, that every path it does not
  * handle keeps Spark's behaviour, and that the mount and the SQLite commit
  * run no inference job.
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

  test("SqliteSnapshotCommit runs one job per staged single-partition table") {
    val dir = tmp("graft-pq-sqlite")
    val cfg = SqliteDestination(s"$dir/snap.db")
    val tables = Seq("alpha", "beta", "gamma")
    val commit = SqliteSnapshotCommit(cfg, "run1", tables)
    tables.zipWithIndex.foreach { case (t, i) =>
      spark.range(i + 2).select(col("id"), col("id").cast("string").as("name"))
        .coalesce(1).write.parquet(s"${commit.stagingDir}/$t")
    }
    assert(jobsIn(commit.commit(spark)) == tables.size)
    assert(SqliteSource.register(spark, cfg.database).sorted == tables)
    assert(spark.table("gamma").count() == 4)
  }
}
