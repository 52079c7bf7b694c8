package graft.sink

/** Dev check: the reader/source against externally-created databases
  * (python sqlite3): indexes/views skipped, parenthesized types parsed,
  * non-4096 page sizes read, affinity coercion incl. 'T'-separator
  * datetimes. Kept as a runnable main, not a suite — it needs /tmp
  * fixtures made by scripts (see scripts/check_sqlite.py workflow).
  */
object ReadExtCheck {
  def main(args: Array[String]): Unit = {
    val r = new SqliteDbReader(new java.io.File("/tmp/ext.db"))
    println("tables: " + r.tableNames)
    println("cols: " + r.columns("accounts"))
    r.rows("accounts").foreach(x => println(x.map(String.valueOf).mkString("|")))
    r.close()
    val r2 = new SqliteDbReader(new java.io.File("/tmp/smallpage.db"))
    println("smallpage rows: " + r2.rows("t").size + " pages: " + r2.pageCount)
    r2.close()
    val spark = graft.Main.session("ReadExtCheck", 4)
    val df = graft.sources.SqliteSource.table(spark, "/tmp/ext.db", "accounts")
    df.show(false)
    println(df.schema.map(f => f.name + ":" + f.dataType.typeName).mkString(","))
    spark.stop()
  }
}
