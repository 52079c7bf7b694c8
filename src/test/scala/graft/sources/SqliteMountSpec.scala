package graft.sources

import graft.JobCounter
import graft.sink.{SqliteDbReader, SqliteFormat}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.io.{ByteArrayInputStream, File}
import java.nio.file.Files
import scala.sys.process._

/** `SqliteSource`'s mount: binary rows with statistics. Its rows against
  * the `createDataFrame(parallelize(Row))` construction it replaced, and
  * the plans and costs its statistics give.
  */
class SqliteMountSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkSuite.spark

  /** A database built by the sqlite3 CLI from `sql`. */
  private def database(sql: String): String = {
    val db = Files.createTempDirectory("graft-mount").resolve("m.db").toString
    assert((s"sqlite3 $db" #< new ByteArrayInputStream(sql.getBytes("UTF-8"))).! == 0)
    db
  }

  /** The mount as it was: every record coerced into a `Row`, padded to the
    * schema, then `createDataFrame` over `parallelize`.
    */
  private def oracle(db: String, name: String): DataFrame = {
    val r = new SqliteDbReader(new File(db))
    try {
      val (_, root, sql) = r.masterRows.find(_._1 == name).get
      val schema = StructType(SqliteFormat.columnsOf(sql).map { case (n, t) =>
        StructField(n, SqliteSource.sparkType(t)) })
      val rows = r.rowsAt(root).map { vs =>
        Row.fromSeq(vs.padTo(schema.fields.length, null)
          .zip(schema.fields).map { case (v, f) => SqliteSource.coerce(v, f.dataType) })
      }.toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, rows.size / 10000)), schema)
    } finally r.close()
  }

  /** The rows of `df` as a multiset; binary cells compare by content. */
  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).groupBy(identity).map { case (k, v) => k -> v.size }

  // one column per declared affinity: INT, BOOL, DATETIME, TIMESTAMP,
  // DATE, REAL, NUMERIC, BLOB, TEXT, an unknown type and no type
  private val affinities = "(i INTEGER, b BOOLEAN, dt DATETIME, ts TIMESTAMP, d DATE, " +
    "r REAL, n NUMERIC, bl BLOB, tx TEXT, u WIDGET, nt)"
  private val columns = 11

  // every storage class, each in every column: NULL, integers (epoch
  // seconds, an overflowing epoch), reals, text that parses as each
  // type or as none, and blobs (UTF-8 or not)
  private val cells = Seq("NULL", "0", "-5", "1672531200", "9223372036854775807",
    "2.5", "-1e300", "'42'", "' 7 '", "'3.25'", "'abc'", "''", "'2023-01-01 00:00:00'",
    "'2023-01-01T12:30:00.123'", "'2023-01-01 00:00:00+02:00'", "'2023-01-02'",
    "'2023-13-45'", "'ü京'", "X'00FF'", "X''", "X'C3BC'")

  private lazy val db = database(
    s"CREATE TABLE every $affinities;\n" +
      cells.map(c => s"INSERT INTO every VALUES (${Seq.fill(columns)(c).mkString(", ")});").mkString("\n") +
      // mixed rows: cell k in column (k + shift) mod 11
      (1 to 5).map { shift =>
        val row = (0 until columns).map(i => cells((i * 7 + shift) % cells.size))
        s"\nINSERT INTO every VALUES (${row.mkString(", ")});"
      }.mkString +
      """
        |CREATE TABLE altered (a INTEGER, b TEXT);
        |INSERT INTO altered VALUES (1, 'old'), (NULL, NULL);
        |ALTER TABLE altered ADD COLUMN c DATETIME;
        |ALTER TABLE altered ADD COLUMN d REAL;
        |INSERT INTO altered VALUES (2, 'new', '2023-01-01 00:00:00', 0.5), (3, X'01', 'bad', 'x');
        |CREATE TABLE empty (x INTEGER, y TEXT);
        |CREATE TABLE big (id INTEGER, name TEXT, w REAL, body BLOB);
        |WITH RECURSIVE c(x) AS (SELECT 1 UNION ALL SELECT x + 1 FROM c WHERE x < 25000)
        |  INSERT INTO big SELECT x, 'v' || x, x * 0.5,
        |    CASE WHEN x % 5000 = 0 THEN randomblob(9000) ELSE NULL END FROM c;
        |CREATE TABLE small_a (id INTEGER, name TEXT);
        |INSERT INTO small_a VALUES (1, 'a'), (2, 'b'), (3, 'c');
        |CREATE TABLE small_b (id INTEGER, v REAL);
        |INSERT INTO small_b VALUES (1, 1.5), (3, 3.5), (4, 4.5);
        |""".stripMargin)

  private val tables = Seq("altered", "big", "empty", "every", "small_a", "small_b")

  test("register and table return the rows of the Row-based mount, per affinity and storage class") {
    assert(SqliteSource.register(spark, db) == tables)
    tables.foreach { t =>
      val want = oracle(db, t)
      Seq("register" -> spark.table(t), "table" -> SqliteSource.table(spark, db, t)).foreach {
        case (how, got) =>
          assert(got.schema == want.schema, s"$how $t")
          assert(bag(got) == bag(want), s"$how $t")
      }
    }
    val every = spark.table("every")
    assert(every.count() == cells.size + 5)
    // the affinity rules hold on the binary rows: text parses per type,
    // an unrepresentable cell is NULL, short records pad with NULL. A
    // uniform row is the one whose TEXT and untyped cells agree.
    // (SQLite itself stores '42' in a DATETIME column, NUMERIC affinity,
    // as the integer 42: epoch second 42.)
    def uniform(text: String, cols: String*): Row =
      every.where(s"tx = '$text' AND nt = '$text'").selectExpr(cols: _*).head()
    assert(uniform("42", "i", "b", "dt", "r", "n") ==
      Row(42L, 42L, new java.sql.Timestamp(42000L), 42.0, 42.0))
    assert(uniform(" 7 ", "i", "r") == Row(7L, 7.0))
    assert(uniform("abc", "i", "dt", "d", "bl") == Row(null, null, null, null))
    assert(uniform("1672531200", "dt", "ts") == Row.fromSeq(Seq.fill(2)(
      java.sql.Timestamp.from(java.time.Instant.parse("2023-01-01T00:00:00Z")))))
    assert(uniform("9223372036854775807", "i", "dt") == Row(Long.MaxValue, null))
    assert(uniform("2023-01-02", "d", "dt") == Row(java.sql.Date.valueOf("2023-01-02"), null))
    assert(uniform("ü京", "u", "bl") == Row("ü京", null))
    assert(uniform("ü", "u", "i").getString(0) == "ü") // the UTF-8 blob X'C3BC' as text
    assert(spark.table("altered").where("a = 1").head() == Row(1L, "old", null, null))
    assert(spark.table("altered").where("a = 3").select("b", "c", "d").head() == Row("\u0001", null, null))
    assert(spark.table("big").rdd.getNumPartitions == 2)
  }

  test("a mounted table carries its row count and size; small joins broadcast; self-joins resolve") {
    SqliteSource.register(spark, db)
    Seq("every" -> (cells.size + 5), "big" -> 25000, "empty" -> 0, "small_a" -> 3).foreach { case (t, n) =>
      val stats = spark.table(t).queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(n)), t)
      assert(stats.sizeInBytes < Long.MaxValue && (n == 0 || stats.sizeInBytes > 0), t)
    }
    val join = spark.sql("SELECT a.name, b.v FROM small_a a JOIN small_b b ON a.id = b.id")
    val plan = join.queryExecution.sparkPlan
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty, plan.toString)
    assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty, plan.toString)
    assert(join.collect().toSet == Set(Row("a", 1.5), Row("c", 3.5)))
    val self = spark.sql(
      "SELECT x.id, y.name FROM small_a x JOIN small_a y ON x.id + 1 = y.id")
    assert(self.collect().toSet == Set(Row(1L, "b"), Row(2L, "c")))
  }

  test("register runs no Spark job and compiles no class") {
    SqliteSource.register(spark, db) // the warm-up: the same schemas, mounted once
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var names: Seq[String] = Nil
    val counts = JobCounter.of(spark) { names = SqliteSource.register(spark, db) }
    assert(names == tables)
    assert(counts.jobs == 0, counts)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles)
  }
}
