package graft.query

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** SQL view surface over a committed snapshot (SURVEY §7.1 step 6): the
  * product's purpose is to make the exported schema queryable with ordinary
  * SQL, so a snapshot directory mounts directly as temp views —
  * `spark.sql("SELECT … FROM example_instance JOIN link_… ON …")` works
  * immediately after `Runner.run`.
  */
object Snapshot {

  /** Register every table under `<base>/current` as a temp view.
    *
    * Each table's schema comes from one parquet footer read in the calling
    * process ([[graft.Tables.readParquet]]), so mounting a snapshot runs no
    * Spark job; the first job is the first query on a view.
    * @return the registered table names (empty if no snapshot exists)
    */
  def register(spark: SparkSession, base: String): Seq[String] = {
    val current = new Path(s"$base/current")
    val fs = current.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(current)) return Seq.empty
    val tables = fs.listStatus(current).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
    tables.foreach { t =>
      graft.Tables.readParquet(spark, s"$base/current/$t").createOrReplaceTempView(t)
    }
    tables
  }
}
