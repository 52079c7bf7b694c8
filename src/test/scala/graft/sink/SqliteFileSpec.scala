package graft.sink

import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

/** Round-trips for the from-spec SQLite file writer: every page shape the
  * sink can produce (single leaf, interior fan-out, overflow chains,
  * multi-page sqlite_master) must read back exactly through the
  * independent reader.
  */
class SqliteFileSpec extends AnyFunSuite {

  private def tmpDb(): File = {
    val f = Files.createTempFile("graft-sqlite", ".db").toFile
    f.deleteOnExit()
    f
  }

  test("varints round-trip at every length class") {
    val values = Seq(0L, 1L, 127L, 128L, 16383L, 16384L, (1L << 21) - 1, 1L << 21,
      (1L << 28) - 1, 1L << 35, 1L << 42, 1L << 49, (1L << 56) - 1, 1L << 56,
      Long.MaxValue, -1L, Long.MinValue)
    values.foreach { v =>
      val b = SqliteFormat.putVarint(v)
      assert(b.length == SqliteFormat.varintLen(v), s"len of $v")
      val (back, n) = SqliteFormat.getVarint(b, 0)
      assert(back == v && n == b.length, s"round-trip of $v")
    }
  }

  test("records round-trip every storage class and integer width") {
    val rows: Seq[Seq[Any]] = Seq(
      Seq(null, 0L, 1L, -1L, 127L, -128L, 255L, 32767L, -32768L),
      Seq(8388607L, -8388608L, 2147483647L, -2147483648L, 140737488355327L,
        Long.MaxValue, Long.MinValue),
      Seq(3.14159, -0.0, Double.MaxValue, Double.MinPositiveValue),
      Seq("", "hello", "naïve — ünïcode ✓", "line\nbreak \u0000 nul"),
      Seq(Array[Byte](), Array[Byte](1, 2, -3, 127, -128)))
    rows.foreach { row =>
      val back = SqliteFormat.decodeRecord(SqliteFormat.encodeRecord(row))
      assert(back.length == row.length)
      row.zip(back).foreach {
        case (a: Array[Byte], b: Array[Byte]) => assert(a.sameElements(b))
        case (a, b)                           => assert(a == b, s"$a vs $b")
      }
    }
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  test("records encode to the format's bytes for every serial type") {
    val golden: Seq[(Seq[Any], String)] = Seq(
      Seq(null)                       -> "0200",
      Seq(5L)                         -> "020105",
      Seq(-1L)                        -> "0201ff",
      Seq(300L)                       -> "0202012c",
      Seq(-8388608L)                  -> "0203800000",
      Seq(2147483647L)                -> "02047fffffff",
      Seq(140737488355327L)           -> "02057fffffffffff",
      Seq(-140737488355328L)          -> "0205800000000000",
      Seq(140737488355328L)           -> "02060000800000000000",
      Seq(Long.MinValue)              -> "02068000000000000000",
      Seq(1.5)                        -> "02073ff8000000000000",
      Seq(0L)                         -> "0208",
      Seq(1L)                         -> "0209",
      Seq("")                         -> "020d",
      Seq("abc")                      -> "0213616263",
      Seq("é")                        -> "0211c3a9",
      Seq(Array[Byte]())              -> "020c",
      Seq(Array[Byte](1, -2))         -> "021001fe",
      Seq(7L, "hi", null, 0L)         -> "05011100080768 69".replace(" ", ""),
      // a 64-byte text's serial type 141 takes a two-byte varint
      Seq("x" * 64)                   -> ("03810d" + "78" * 64),
      // 127 serial bytes: the header's length 129 takes two bytes itself
      Seq.fill(127)(null)             -> ("8101" + "00" * 127))
    golden.foreach { case (values, want) =>
      assert(hex(SqliteFormat.encodeRecord(values)) == want, values.take(4))
    }
  }

  test("property: arbitrary records round-trip the serial-type codec") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val value: Gen[Any] = Gen.oneOf(
      Gen.const(null),
      Gen.chooseNum(Long.MinValue, Long.MaxValue).map(l => l: Any),
      Gen.chooseNum(-1e12, 1e12).map(d => d: Any),
      Gen.asciiPrintableStr.map(s => s: Any),
      Gen.listOf(Gen.oneOf('a', 'ü', '京', '✓')).map(_.mkString: Any),
      Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray: Any))
    val row: Gen[List[Any]] = Gen.chooseNum(0, 140).flatMap(Gen.listOfN(_, value))
    // one builder for every record, as a staging task uses it
    val reused = new SqliteFormat.RecordBuilder
    val prop = Prop.forAll(row) { r =>
      val bytes = SqliteFormat.encodeRecord(r)
      reused.clear()
      r.foreach(reused.put)
      val n = reused.finish()
      val back = SqliteFormat.decodeRecord(bytes)
      java.util.Arrays.equals(bytes, java.util.Arrays.copyOf(reused.bytes, n)) &&
        back.length == r.length && r.zip(back).forall {
          case (a: Array[Byte], b: Array[Byte]) => a.sameElements(b)
          case (a, b)                           => a == b
        }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("single-leaf table round-trips typed rows") {
    val f = tmpDb()
    val w = new SqliteDbWriter(f)
    val t = w.table("small", """CREATE TABLE "small" ("a" INTEGER, "b" VARCHAR, "c" FLOAT)""")
    t.addRow(Seq(1L, "one", 1.5))
    t.addRow(Seq(null, null, null))
    t.addRow(Seq(-42L, "minus", -2.75))
    w.close()
    val r = new SqliteDbReader(f)
    assert(r.tableNames == Seq("small"))
    assert(r.columns("small") == Seq("a", "b", "c"))
    assert(r.rows("small").toSeq == Seq(
      Seq(1L, "one", 1.5), Seq(null, null, null), Seq(-42L, "minus", -2.75)))
    r.close()
  }

  test("large table spans interior pages and keeps rowid order") {
    val f = tmpDb()
    val w = new SqliteDbWriter(f)
    val t = w.table("big", """CREATE TABLE "big" ("i" BIGINT, "pad" VARCHAR)""")
    val n = 20000
    (1 to n).foreach(i => t.addRow(Seq(i.toLong, s"row-$i-" + "x" * 120)))
    w.close()
    val r = new SqliteDbReader(f)
    val got = r.rows("big").toVector
    assert(got.size == n)
    // b-tree traversal must come back in insertion (rowid) order
    assert(got.map(_.head.asInstanceOf[Long]) == (1 to n).map(_.toLong).toVector)
    assert(got(12345)(1) == s"row-12346-" + "x" * 120)
    // sanity: this really is a multi-level tree, not one giant page
    assert(r.pageCount > 100)
    // integrity-check-style structural verification: separator keys must
    // equal left-subtree maxima (caught a real off-by-one vs sqlite3)
    r.verifyAll()
    r.close()
  }

  test("oversized payloads spill to overflow chains and read back exactly") {
    val f = tmpDb()
    val w = new SqliteDbWriter(f)
    val t = w.table("blobby", """CREATE TABLE "blobby" ("s" VARCHAR, "b" BLOB)""")
    val sizes = Seq(4000, 4061, 4062, 5000, 8200, 100000) // straddle the spill bound
    sizes.foreach { sz =>
      val s = ("ab" * sz).take(sz)
      val b = Array.tabulate[Byte](sz)(i => (i % 251).toByte)
      t.addRow(Seq(s, b))
    }
    w.close()
    val r = new SqliteDbReader(f)
    val got = r.rows("blobby").toVector
    assert(got.size == sizes.size)
    sizes.zip(got).foreach { case (sz, row) =>
      assert(row(0).asInstanceOf[String].length == sz)
      assert(row(0) == ("ab" * sz).take(sz))
      val b = row(1).asInstanceOf[Array[Byte]]
      assert(b.length == sz && b.sameElements(Array.tabulate[Byte](sz)(i => (i % 251).toByte)))
    }
    r.close()
  }

  test("hundreds of tables spill sqlite_master past page 1") {
    val f = tmpDb()
    val w = new SqliteDbWriter(f)
    (1 to 300).foreach { i =>
      val t = w.table(f"t_$i%03d", f"""CREATE TABLE "t_$i%03d" ("v" INTEGER)""")
      if (i % 3 == 0) t.addRow(Seq(i.toLong))
    }
    w.close()
    val r = new SqliteDbReader(f)
    assert(r.tableNames.size == 300)
    assert(r.rows("t_003").toSeq == Seq(Seq(3L)))
    assert(r.rows("t_001").toSeq == Seq.empty) // empty table: empty-leaf root
    r.verifyAll()
    r.close()
  }

  test("columnsOf skips table-level constraints instead of parsing phantom columns") {
    // SQLAlchemy-style DDL: constraints listed AFTER the columns
    val ddl = """CREATE TABLE t ("id" VARCHAR NOT NULL, "n" BIGINT,
                | PRIMARY KEY (id), UNIQUE("n"), CHECK (n > 0),
                | FOREIGN KEY (n) REFERENCES o(n),
                | CONSTRAINT c1 UNIQUE (id, n))""".stripMargin.replace("\n", " ")
    val cols = SqliteFormat.columnsOf(ddl)
    assert(cols.map(_._1) == Seq("id", "n"), cols)
    // a quoted column NAMED like a constraint keyword is still a column
    val ddl2 = """CREATE TABLE t2 ("primary" VARCHAR, "check" BIGINT)"""
    assert(SqliteFormat.columnsOf(ddl2).map(_._1) == Seq("primary", "check"))
  }

  test("columnsOf survives commas/parens inside single-quoted literals") {
    // a comma inside a DEFAULT string literal must not split the column
    // list, and an unbalanced '(' inside one must not corrupt the depth
    val ddl = """CREATE TABLE t ("a" VARCHAR DEFAULT 'x,y', "b" BIGINT,
                | "c" VARCHAR DEFAULT '(', "d" VARCHAR DEFAULT 'it''s, fine',
                | "e" BIGINT)""".stripMargin.replace("\n", " ")
    assert(SqliteFormat.columnsOf(ddl).map(_._1) == Seq("a", "b", "c", "d", "e"))
  }

  test("columnsOf returns empty (not a crash) for paren-less DDL") {
    assert(SqliteFormat.columnsOf("CREATE TABLE t AS SELECT 1 AS a").isEmpty)
  }

  test("identifiers with embedded quotes and parens survive DDL round-trip") {
    import org.apache.spark.sql.types._
    val tbl = """we"ird (tbl)"""
    val schema = StructType(Seq(
      StructField("""va"l""", LongType), StructField("plain", StringType)))
    val ddl = SqliteDdl.createTable(tbl, schema)
    assert(ddl.contains("\"we\"\"ird (tbl)\""), "quote doubled in stored DDL")
    val cols = SqliteFormat.columnsOf(ddl)
    assert(cols.map(_._1) == Seq("""va"l""", "plain"))
    assert(cols.map(_._2) == Seq("BIGINT", "VARCHAR"))

    val f = tmpDb()
    val w = new SqliteDbWriter(f)
    val t = w.table(tbl, ddl)
    t.addRow(Seq(1L, "x"))
    w.close()
    val r = new SqliteDbReader(f)
    assert(r.tableNames.contains(tbl))
    assert(r.rows(tbl).toSeq == Seq(Seq(1L, "x")))
    r.verifyAll()
    r.close()
  }

  test("reader rejects hot journal, un-checkpointed WAL, unknown versions") {
    val f = tmpDb()
    val w = new SqliteDbWriter(f)
    val t = w.table("t", """CREATE TABLE "t" ("v" INTEGER)""")
    t.addRow(Seq(1L))
    w.close()

    // hot rollback journal (live header magic): committed state may live
    // outside the main file
    val j = new File(f.getPath + "-journal")
    val hotMagic = Array(0xd9, 0xd5, 0x05, 0xf9, 0x20, 0xa1, 0x63, 0xd7)
      .map(_.toByte)
    Files.write(j.toPath, hotMagic ++ Array[Byte](0, 0, 0, 1))
    val e1 = intercept[IllegalArgumentException](new SqliteDbReader(f))
    assert(e1.getMessage.contains("journal"))
    // a COLD journal (zeroed header, journal_mode=PERSIST leftovers) is a
    // committed database — must read fine
    Files.write(j.toPath, Array[Byte](0, 0, 0, 0, 0, 0, 0, 0, 1, 2, 3))
    assert(new SqliteDbReader(f).rows("t").toSeq == Seq(Seq(1L)))
    assert(j.delete())

    // WAL format-version bytes + a non-empty -wal sibling
    val raf = new java.io.RandomAccessFile(f, "rw")
    raf.seek(18); raf.write(2); raf.write(2); raf.close()
    val wal = new File(f.getPath + "-wal")
    Files.write(wal.toPath, Array[Byte](1))
    val e2 = intercept[IllegalArgumentException](new SqliteDbReader(f))
    assert(e2.getMessage.contains("wal_checkpoint"))
    assert(wal.delete())

    // fully checkpointed WAL database (no -wal sibling) reads fine
    val r = new SqliteDbReader(f)
    assert(r.rows("t").toSeq == Seq(Seq(1L)))
    r.close()

    // future format versions are rejected, not misparsed
    val raf2 = new java.io.RandomAccessFile(f, "rw")
    raf2.seek(18); raf2.write(3); raf2.close()
    intercept[IllegalArgumentException](new SqliteDbReader(f))
  }

  test("file header is well-formed") {
    val f = tmpDb()
    val w = new SqliteDbWriter(f)
    val t = w.table("t", """CREATE TABLE "t" ("v" INTEGER)""")
    t.addRow(Seq(7L))
    w.close()
    val bytes = Files.readAllBytes(f.toPath)
    assert(new String(bytes, 0, 15, "ISO-8859-1") == "SQLite format 3" && bytes(15) == 0)
    assert(((bytes(16) & 0xff) << 8 | (bytes(17) & 0xff)) == 4096)
    assert(bytes(56 + 3) == 1) // UTF-8 text encoding
    val pages = SqliteFormat.readBe32(bytes, 28)
    assert(bytes.length == pages * 4096, "db size header matches file length")
  }
}
