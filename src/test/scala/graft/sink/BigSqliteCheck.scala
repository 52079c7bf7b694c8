package graft.sink
import graft.config.SqliteDest
import org.apache.spark.sql.SparkSession
object BigSqliteCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = graft.config.SqliteDestination("/tmp/big.db")
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.01")
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.01")
    val tables = Map("lineitem" -> li, "events" -> ev)
    tables.foreach { case (name, df) => SnapshotSink.writeTable(name, df, SqliteDest(cfg), "bigrun") }
    println("staged: " + tables.keys.mkString(", "))
    SqliteSnapshotCommit(cfg, "bigrun", tables.keys.toSeq).commit(spark)
    println("committed " + new java.io.File("/tmp/big.db").length() + " bytes")
    spark.stop()
  }
}
