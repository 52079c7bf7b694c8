package graft.sink

import graft.config.{SqliteDest, SqliteDestination}
import org.apache.spark.sql.functions._

/** Manual check of the SQLite snapshot path at scale: stages one generated
  * table of `rows` rows (default 1,000,000; every 500th row carries 6 KB of
  * text, so its record spills to an overflow chain), commits it, and prints
  * the staging seconds, the commit seconds and the commit's rows per
  * second, once per repetition. The database is written under `dir` and
  * removed at the end.
  *
  * Run: `sbt "Test/runMain graft.sink.BigSqliteCheck /tmp/big-sqlite 1000000 3"`
  */
object BigSqliteCheck {
  def main(args: Array[String]): Unit = {
    val dir = new java.io.File(args.headOption.getOrElse("/tmp/big-sqlite"))
    val rows = args.lift(1).fold(1000000L)(_.toLong)
    val reps = args.lift(2).fold(3)(_.toInt)
    val spark = graft.Harness.session("BigSqliteCheck")
    val table = spark.range(rows).select(
      col("id").cast("string").as("id"),
      (col("id") * 7919 % 100003).as("n"),
      (col("id") / 7.0).as("x"),
      (col("id") % 3 === 0).as("flag"),
      timestamp_seconds(col("id") * 61 + 1600000000L).as("ts"),
      when(col("id") % 500 === 0, repeat(lit("0123456789abcdef"), 384))
        .otherwise(concat(lit("item-"), col("id").cast("string"))).as("text"))
    dir.mkdirs()
    val cfg = SqliteDestination(s"$dir/big.db")
    try (1 to reps).foreach { rep =>
      val commit = SqliteSnapshotCommit(cfg, s"rep$rep", Seq("items"))
      val t0 = System.nanoTime()
      val staged = SnapshotSink.writeTable(table, SqliteDest(cfg), s"${commit.stagingDir}/items")
      val t1 = System.nanoTime()
      commit.commit(spark)
      val t2 = System.nanoTime()
      val commitS = (t2 - t1) / 1e9
      println(f"rep $rep: rows $staged stage_s ${(t1 - t0) / 1e9}%.3f commit_s $commitS%.3f " +
        f"commit_rows_per_s ${staged / commitS}%.0f db_mb ${new java.io.File(cfg.database).length / 1e6}%.1f")
    } finally {
      new java.io.File(cfg.database).delete()
      spark.stop()
    }
  }
}
