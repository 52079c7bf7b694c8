package graft.sink

import graft.SparkSuite
import graft.config.{SqliteDest, SqliteDestination}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

/** The SQLite destination's staging and commit: rows staged as SQLite
  * records ([[SqliteRecordFormat]]) commit to the database file that
  * writing the same values row by row through [[SqliteDbWriter]] builds;
  * a bad staged file fails the commit and changes nothing; DATETIME and
  * DATE text does not depend on the session's java.time setting.
  */
class SqliteStagingSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def stageAndCommit(db: String, runId: String, tables: Seq[(String, DataFrame)]): Unit = {
    val cfg = SqliteDestination(db)
    val commit = SqliteSnapshotCommit(cfg, runId, tables.map(_._1))
    tables.foreach { case (t, df) => SnapshotSink.writeTable(df, SqliteDest(cfg), s"${commit.stagingDir}/$t") }
    commit.commit(spark)
  }

  test("a table with overflow rows spanning many leaves commits as SqliteDbWriter writes it") {
    val dir = Files.createTempDirectory("graft-sqlite-staging").toString
    // every 250th row carries 9 KB of text: a record of three pages
    val rows = spark.range(3000).select(
      col("id"),
      when(col("id") % 250 === 7, repeat(lit("overflow-"), 1000))
        .otherwise(concat(lit("row-"), col("id").cast("string"))).as("text"),
      (col("id") / 3.0).as("x")).coalesce(1)
    stageAndCommit(s"$dir/staged.db", "run1", Seq("wide" -> rows))

    val direct = new File(s"$dir/direct.db")
    val w = new SqliteDbWriter(direct)
    val tw = w.table("wide", SqliteDdl.createTable("wide", rows.schema))
    rows.collect().foreach(r => tw.addRow(Seq(r.getLong(0), r.getString(1), r.getDouble(2))))
    w.close()
    val staged = new File(s"$dir/staged.db")
    assert(java.util.Arrays.equals(Files.readAllBytes(staged.toPath), Files.readAllBytes(direct.toPath)))

    val r = new SqliteDbReader(staged)
    try {
      r.verifyAll()
      val got = r.rows("wide").toVector
      assert(got.size == 3000)
      assert(got(7) == Seq(7L, "overflow-" * 1000, 7 / 3.0))
      assert(got(2999) == Seq(2999L, "row-2999", 2999 / 3.0))
      // about 20 leaves, 2 overflow pages for each of the 12 long rows
      assert(r.pageCount > 40, "many leaves and overflow pages")
    } finally r.close()
  }

  test("a staged file with a bad header fails the commit and keeps the previous database") {
    val dir = Files.createTempDirectory("graft-sqlite-badheader").toString
    val db = s"$dir/snap.db"
    val frame = spark.range(10).select(col("id")).coalesce(1)
    stageAndCommit(db, "run1", Seq("t" -> frame))
    val before = Files.readAllBytes(new File(db).toPath)

    val cfg = SqliteDestination(db)
    val commit = SqliteSnapshotCommit(cfg, "run2", Seq("t"))
    SnapshotSink.writeTable(frame, SqliteDest(cfg), s"${commit.stagingDir}/t")
    val staged = new File(s"${commit.stagingDir}/t").listFiles().filter(_.getName.endsWith(".sqlrec"))
    assert(staged.length == 1)
    Files.write(staged.head.toPath, "not a record file".getBytes("UTF-8"))
    // the checksum file would otherwise fail the read before the header
    new File(staged.head.getParent, s".${staged.head.getName}.crc").delete()
    val e = intercept[IllegalStateException](commit.commit(spark))
    assert(e.getMessage.contains("bad header") && e.getMessage.contains(staged.head.getName), e.getMessage)
    assert(java.util.Arrays.equals(Files.readAllBytes(new File(db).toPath), before))
    assert(!new File(s"$db.tmp-run2").exists())
    assert(!new File(commit.stagingDir).exists(), "staging consumed")
  }

  test("DATETIME and DATE before 1582 commit proleptic Gregorian text under either java.time setting") {
    val dir = Files.createTempDirectory("graft-sqlite-julian").toString
    Seq("false", "true").foreach { java8 =>
      spark.conf.set("spark.sql.datetime.java8API.enabled", java8)
      try {
        val db = s"$dir/java8-$java8.db"
        stageAndCommit(db, "run1", Seq("t" -> spark.sql(
          "SELECT TIMESTAMP '1000-01-01 00:00:00' AS ts, TIMESTAMP_NTZ '1000-01-01 00:00:00' AS ntz, " +
            "DATE '1000-01-01' AS day, TIMESTAMP '1000-01-01 00:00:00.25' AS frac")))
        val r = new SqliteDbReader(new File(db))
        try assert(r.rows("t").toSeq ==
          Seq(Seq("1000-01-01 00:00:00", "1000-01-01 00:00:00", "1000-01-01", "1000-01-01 00:00:00.250000")),
          s"java8API.enabled=$java8")
        finally r.close()
      } finally spark.conf.unset("spark.sql.datetime.java8API.enabled")
    }
  }
}
