package graft.sink

import java.io.{File, RandomAccessFile}
import scala.collection.mutable.ArrayBuffer

/** A from-scratch writer/reader for the SQLite database file format,
  * implementing the reference's DEFAULT destination (cloud2sql
  * `__main__.py:60` emits `destinations: sqlite:`) without any JDBC driver:
  * the sandbox ships none, but the format itself is public and fully
  * documented (sqlite.org/fileformat2.html), so the sink writes the file
  * directly. Staging encodes each row as its record on the executors
  * ([[RecordBuilder]], through [[SqliteRecordFormat]]); the commit appends
  * the staged records to pages ([[SqliteDbWriter.TableWriter.addPayload]]).
  *
  * Scope: exactly what the reference's ETL produces — rowid tables created
  * once and bulk-loaded in rowid order. No indexes, no freelist, no WAL,
  * no updates; readers get a well-formed database any sqlite3 build opens.
  *
  * Layout facts used (all from the public format spec):
  *  - 4096-byte pages; page 1 carries the 100-byte file header and the
  *    `sqlite_master` b-tree root.
  *  - Table b-trees: leaf pages (type 0x0D) hold (rowid, record) cells;
  *    interior pages (type 0x05) hold (child-page, max-rowid) separators
  *    plus a rightmost-child pointer.
  *  - Records: a varint header of serial types, then the value bodies.
  *  - Payloads larger than usable-35 spill to a linked overflow chain with
  *    the spec's K = M + (P-M) mod (U-4) local-size rule.
  */
object SqliteFormat {
  val PageSize = 4096
  val Usable   = PageSize // reserved-space byte in the header is 0

  /** Max payload stored fully in a table leaf cell (spec: U-35). */
  val MaxLeafLocal = Usable - 35
  /** Min local payload when a cell overflows (spec: ((U-12)*32/255)-23). */
  val MinLeafLocal = (Usable - 12) * 32 / 255 - 23

  // ---- varints (big-endian 7-bit groups, 9th byte uses all 8 bits) ----

  def varintLen(v: Long): Int = {
    if (v < 0) 9
    else {
      var x = v; var n = 1
      while (x > 0x7f && n < 9) { x >>>= 7; n += 1 }
      if (n == 9) 9 else n
    }
  }

  def putVarint(v: Long): Array[Byte] = {
    val out = new Array[Byte](varintLen(v))
    writeVarint(out, 0, v)
    out
  }

  /** Writes `v`'s varint into `b` at `off`; returns the offset after it. */
  def writeVarint(b: Array[Byte], off: Int, v: Long): Int =
    if (v >= 0 && v <= 0x7f) { b(off) = v.toByte; off + 1 }
    else if (v < 0 || (v >>> 56) != 0) {
      b(off + 8) = (v & 0xff).toByte
      var x = v >>> 8
      var i = 7
      while (i >= 0) { b(off + i) = ((x & 0x7f) | 0x80).toByte; x >>>= 7; i -= 1 }
      off + 9
    } else {
      val n = varintLen(v)
      b(off + n - 1) = (v & 0x7f).toByte
      var x = v >>> 7
      var i = n - 2
      while (i >= 0) { b(off + i) = ((x & 0x7f) | 0x80).toByte; x >>>= 7; i -= 1 }
      off + n
    }

  /** Returns (value, bytesConsumed) reading at `off`. */
  def getVarint(b: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L; var i = 0
    while (i < 8) {
      val c = b(off + i) & 0xff
      if ((c & 0x80) == 0) return ((v << 7) | c, i + 1)
      v = (v << 7) | (c & 0x7f)
      i += 1
    }
    (((v << 8) | (b(off + 8) & 0xff)), 9)
  }

  // ---- record (row) encoding: serial-type header + value bodies ----

  /** Builds one record at a time in buffers reused from record to record:
    * each value's serial type and body as it is put, then the header and
    * the bodies laid out by [[finish]]. Once the buffers have grown to the
    * widest record, building one allocates nothing.
    */
  final class RecordBuilder {
    private var serials = new Array[Long](16)
    private var columns = 0
    private var body = new Array[Byte](256)
    private var bodyLen = 0
    private var out = new Array[Byte](256)

    /** Starts the next record. */
    def clear(): Unit = { columns = 0; bodyLen = 0 }

    private def serial(st: Long): Unit = {
      if (columns == serials.length) serials = java.util.Arrays.copyOf(serials, 2 * columns)
      serials(columns) = st; columns += 1
    }

    /** Reserves `n` body bytes; returns their offset in [[bodyBytes]]. */
    private def grow(n: Int): Int = {
      if (bodyLen + n > body.length)
        body = java.util.Arrays.copyOf(body, math.max(2 * body.length, bodyLen + n))
      val at = bodyLen; bodyLen += n; at
    }

    def putNull(): Unit = serial(0L)

    def putLong(l: Long): Unit =
      if (l == 0L) serial(8L)       // schema format 4
      else if (l == 1L) serial(9L)
      else {
        val n =
          if (l >= -128 && l <= 127) 1
          else if (l >= -32768 && l <= 32767) 2
          else if (l >= -8388608 && l <= 8388607) 3
          else if (l >= Int.MinValue && l <= Int.MaxValue) 4
          else if (l >= -140737488355328L && l <= 140737488355327L) 6
          else 8
        serial(n match { case 6 => 5L; case 8 => 6L; case _ => n.toLong })
        putBe(l, n)
      }

    def putDouble(d: Double): Unit = { serial(7L); putBe(java.lang.Double.doubleToLongBits(d), 8) }

    private def putBe(v: Long, n: Int): Unit = {
      val at = grow(n)
      var i = n - 1; var x = v
      while (i >= 0) { body(at + i) = (x & 0xff).toByte; x >>= 8; i -= 1 }
    }

    def putText(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      val at = text(b.length)
      System.arraycopy(b, 0, body, at, b.length)
    }

    /** Puts a TEXT value of `len` UTF-8 bytes, which the caller writes
      * into [[bodyBytes]] at the returned offset.
      */
    def text(len: Int): Int = { serial(13L + 2L * len); grow(len) }

    def putBlob(b: Array[Byte]): Unit = {
      serial(12L + 2L * b.length)
      val at = grow(b.length)
      System.arraycopy(b, 0, body, at, b.length)
    }

    /** Accepted: null, Long, Double, String, Array[Byte]. */
    def put(v: Any): Unit = v match {
      case null           => putNull()
      case l: Long        => putLong(l)
      case d: Double      => putDouble(d)
      case s: String      => putText(s)
      case b: Array[Byte] => putBlob(b)
      case other =>
        throw new IllegalArgumentException(s"unsupported sqlite value: ${other.getClass}")
    }

    def bodyBytes: Array[Byte] = body

    /** Lays out the record put since [[clear]] and returns its length: the
      * record is `bytes(0 until length)`.
      */
    def finish(): Int = {
      var stLen = 0
      var i = 0
      while (i < columns) { stLen += varintLen(serials(i)); i += 1 }
      // header length includes its own varint — fixed point in 1-2 rounds
      var hlen = stLen + 1
      while (varintLen(hlen) != hlen - stLen) hlen = stLen + varintLen(hlen)
      val total = hlen + bodyLen
      if (total > out.length) out = new Array[Byte](math.max(2 * out.length, total))
      var o = writeVarint(out, 0, hlen)
      i = 0
      while (i < columns) { o = writeVarint(out, o, serials(i)); i += 1 }
      System.arraycopy(body, 0, out, o, bodyLen)
      total
    }

    def bytes: Array[Byte] = out
  }

  /** One record of `values` (see [[RecordBuilder.put]]). */
  def encodeRecord(values: Seq[Any]): Array[Byte] = {
    val b = new RecordBuilder
    values.foreach(b.put)
    val n = b.finish()
    java.util.Arrays.copyOf(b.bytes, n)
  }

  /** Decodes one record; ints → Long, floats → Double, text → String,
    * blob → Array[Byte], NULL → null.
    */
  def decodeRecord(payload: Array[Byte]): Seq[Any] = {
    val (hlen, h0) = getVarint(payload, 0)
    var hoff = h0
    val serials = ArrayBuffer.empty[Long]
    while (hoff < hlen) {
      val (st, n) = getVarint(payload, hoff)
      serials += st; hoff += n
    }
    var boff = hlen.toInt
    serials.toSeq.map { st =>
      def readInt(n: Int): Long = {
        var v = if ((payload(boff) & 0x80) != 0) -1L else 0L // sign-extend
        var i = 0
        while (i < n) { v = (v << 8) | (payload(boff + i) & 0xff); i += 1 }
        boff += n; v
      }
      st match {
        case 0 => null
        case 1 => readInt(1)
        case 2 => readInt(2)
        case 3 => readInt(3)
        case 4 => readInt(4)
        case 5 => readInt(6)
        case 6 => readInt(8)
        case 7 => java.lang.Double.longBitsToDouble(readInt(8))
        case 8 => 0L
        case 9 => 1L
        case t if t >= 13 && t % 2 == 1 =>
          val n = ((t - 13) / 2).toInt
          val s = new String(payload, boff, n, "UTF-8"); boff += n; s
        case t if t >= 12 && t % 2 == 0 =>
          val n = ((t - 12) / 2).toInt
          val b = java.util.Arrays.copyOfRange(payload, boff, boff + n); boff += n; b
        case t => throw new IllegalArgumentException(s"unsupported serial type $t")
      }
    }
  }

  /** (name, declaredType) pairs from a stored CREATE TABLE statement —
    * depth-aware comma split, so parenthesized types (`NUMERIC(10,2)`)
    * survive; quote-aware, so `""`-escaped identifiers (and a `(` inside a
    * quoted table name) parse the way sqlite3 would; shared by the reader
    * and [[graft.sources.SqliteSource]].
    */
  def columnsOf(sql: String): Seq[(String, String)] = {
    // first '(' outside BOTH quote kinds opens the column list (a quoted
    // table name may itself contain parens). Single-quoted SQL string
    // literals matter too: a DEFAULT 'x,y' or CHECK ('(') would otherwise
    // corrupt the depth/split tracking and silently misalign columns.
    // Toggling on every ' also handles the '' escape (leave+re-enter nets
    // to "still inside" across the pair) for delimiter-scanning purposes.
    var open = -1; var inDq = false; var inSq = false; var i = 0
    while (open < 0 && i < sql.length) {
      sql.charAt(i) match {
        case '"' if !inSq           => inDq = !inDq
        case '\'' if !inDq          => inSq = !inSq
        case '(' if !inDq && !inSq  => open = i
        case _                      =>
      }
      i += 1
    }
    val close = sql.lastIndexOf(')')
    // a stored statement without a parenthesized column list (e.g.
    // `CREATE TABLE t AS SELECT ...`) declares no columns to parse —
    // return empty and let the CALLER decide (register skips loudly,
    // table() refuses by name) instead of throwing a bare
    // StringIndexOutOfBounds that names neither table nor cause
    if (open < 0 || close < open) return Seq.empty
    val inner = sql.substring(open + 1, close)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var start = 0; inDq = false; inSq = false
    inner.zipWithIndex.foreach {
      case ('"', _) if !inSq      => inDq = !inDq
      case ('\'', _) if !inDq     => inSq = !inSq
      case ('(', _) if !inDq && !inSq => depth += 1
      case (')', _) if !inDq && !inSq => depth -= 1
      case (',', i) if !inDq && !inSq && depth == 0 =>
        parts += inner.substring(start, i); start = i + 1
      case _ =>
    }
    parts += inner.substring(start)
    // table-level constraints are NOT column definitions: SQLAlchemy-style
    // DDL ends with e.g. `PRIMARY KEY (id)` — parsing that as a column
    // would emit a phantom `PRIMARY` column silently NULL-padded on every
    // row. A quoted name (`"primary"`) starts with '"' and is never
    // filtered.
    val tableConstraint = Set("PRIMARY", "FOREIGN", "UNIQUE", "CHECK", "CONSTRAINT")
    parts.toSeq.map(_.trim).filter(_.nonEmpty)
      .filterNot { p =>
        !p.startsWith("\"") &&
          tableConstraint.contains(p.takeWhile(c => !c.isWhitespace && c != '(').toUpperCase)
      }
      .map { colDef =>
      val (name, rest) =
        if (colDef.startsWith("\"")) {
          // scan to the closing quote, un-doubling "" back to "
          val sb = new StringBuilder
          var j = 1; var closed = false
          while (!closed) {
            if (colDef.charAt(j) != '"') { sb.append(colDef.charAt(j)); j += 1 }
            else if (j + 1 < colDef.length && colDef.charAt(j + 1) == '"') { sb.append('"'); j += 2 }
            else { closed = true; j += 1 }
          }
          (sb.toString, colDef.substring(j))
        } else {
          val sp = colDef.indexOf(' ')
          if (sp < 0) (colDef, "") else (colDef.substring(0, sp), colDef.substring(sp))
        }
      (name, rest.trim)
    }
  }

  def putBe16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = ((v >> 8) & 0xff).toByte; b(off + 1) = (v & 0xff).toByte
  }
  def putBe32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >>> 24).toByte; b(off + 1) = ((v >> 16) & 0xff).toByte
    b(off + 2) = ((v >> 8) & 0xff).toByte; b(off + 3) = (v & 0xff).toByte
  }
  def readBe16(b: Array[Byte], off: Int): Int = ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
  def readBe32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) | ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
}

/** Streaming writer: tables are created one after another, rows appended in
  * rowid order; leaves flush as they fill, so driver memory stays bounded
  * by one page (+ one overflow chain) regardless of table size. `close()`
  * assembles `sqlite_master` rooted at page 1 and the 100-byte header.
  */
final class SqliteDbWriter(file: File) {
  import SqliteFormat._

  private val raf = new RandomAccessFile(file, "rw")
  raf.setLength(0)
  private var nextPage = 2 // page 1 reserved for the sqlite_master root
  private val master = ArrayBuffer.empty[(String, String, Int)] // (name, ddl, root)
  private var open: Option[TableWriter] = None

  private[sink] def allocate(): Int = { val p = nextPage; nextPage += 1; p }

  private[sink] def writePage(pageNo: Int, data: Array[Byte]): Unit = {
    require(data.length == PageSize, s"page must be $PageSize bytes")
    raf.seek((pageNo - 1).toLong * PageSize)
    raf.write(data)
  }

  /** Begin a table; the previous table (if any) is finished first. */
  def table(name: String, ddl: String): TableWriter = {
    open.foreach(_.finishInto(master))
    val t = new TableWriter(this, name, ddl)
    open = Some(t)
    t
  }

  def close(): Unit = {
    open.foreach(_.finishInto(master)); open = None
    writeMaster()
    writeHeader()
    raf.getFD.sync()
    raf.close()
  }

  /** Failure-path teardown: releases the file handle without finalizing
    * the (incomplete) database image.
    */
  def abort(): Unit = try raf.close() catch { case _: Exception => () }

  /** Builds one interior page image from an ordered child list. */
  private[sink] def buildInterior(children: Seq[(Int, Long)], reserve: Int): Array[Byte] = {
    val page = new Array[Byte](PageSize)
    val base = reserve
    page(base) = 0x05
    val cells = children.init.map { case (child, maxRowid) =>
      val c = new Array[Byte](4 + varintLen(maxRowid))
      putBe32(c, 0, child)
      writeVarint(c, 4, maxRowid)
      c
    }
    putBe16(page, base + 3, cells.size)
    putBe32(page, base + 8, children.last._1)
    var content = PageSize
    var ptr = base + 12
    cells.foreach { c =>
      content -= c.length
      System.arraycopy(c, 0, page, content, c.length)
      putBe16(page, ptr, content)
      ptr += 2
    }
    putBe16(page, base + 5, content & 0xffff)
    page
  }

  /** Packs an ordered child level into interior nodes; returns the next
    * level up. When the pack yields a single node and `rootAt` is set, the
    * node lands on that page (page-1 master root) instead of a fresh one.
    */
  private[sink] def packInterior(children: Seq[(Int, Long)], reserve: Int,
                                 rootAt: Option[Int]): Seq[(Int, Long)] = {
    val capacity = Usable - 12 - reserve
    val groups = ArrayBuffer.empty[ArrayBuffer[(Int, Long)]]
    var cur = ArrayBuffer.empty[(Int, Long)]
    var used = 0
    children.foreach { child =>
      val cost = 4 + varintLen(child._2) + 2 // cell + pointer-array slot
      if (cur.nonEmpty && used + cost > capacity) {
        groups += cur; cur = ArrayBuffer.empty; used = 0
      }
      cur += child; used += cost
    }
    if (cur.nonEmpty) groups += cur
    // an interior node needs >= 2 children (the last is the right pointer);
    // rebalance a trailing singleton by stealing from its neighbor
    if (groups.size > 1 && groups.last.size == 1) {
      val prev = groups(groups.size - 2)
      groups.last.prepend(prev.remove(prev.size - 1))
    }
    groups.toSeq.zipWithIndex.map { case (g, i) =>
      val pageNo =
        if (groups.size == 1 && rootAt.isDefined) rootAt.get else allocate()
      writePage(pageNo, buildInterior(g.toSeq, if (pageNo == 1) 100 else 0))
      (pageNo, g.last._2)
    }
  }

  /** Reduces a leaf level to a single root; returns the root page. */
  private[sink] def buildTreeAbove(leaves: Seq[(Int, Long)], reserve: Int,
                                   rootAt: Option[Int]): Int = {
    var level = leaves
    while (level.size > 1) level = packInterior(level, reserve, rootAt)
    rootAt match {
      // a pinned root (page 1) that ended as a lone non-root leaf gets a
      // zero-cell interior root over it — legal and what sqlite's own
      // balancer produces for a root that can't hold its only cell
      case Some(r) if level.head._1 != r =>
        writePage(r, buildInterior(Seq(level.head), if (r == 1) 100 else 0))
        r
      case _ => level.head._1
    }
  }

  private def writeMaster(): Unit = {
    // sqlite_master(type, name, tbl_name, rootpage, sql), root = page 1
    val mw = new TableWriter(this, "sqlite_master", "", rootReserve = 100, rootAt = Some(1))
    master.foreach { case (name, ddl, root) =>
      mw.addRow(Seq("table", name, name, root.toLong, ddl))
    }
    mw.finish()
  }

  private def writeHeader(): Unit = {
    val h = new Array[Byte](100)
    System.arraycopy("SQLite format 3\u0000".getBytes("ISO-8859-1"), 0, h, 0, 16)
    putBe16(h, 16, PageSize)
    h(18) = 1; h(19) = 1          // legacy (rollback-journal) read/write
    h(21) = 64; h(22) = 32; h(23) = 32
    putBe32(h, 24, 1)            // change counter
    putBe32(h, 28, nextPage - 1) // db size in pages
    putBe32(h, 40, 1)            // schema cookie
    putBe32(h, 44, 4)            // schema format 4
    putBe32(h, 56, 1)            // UTF-8
    putBe32(h, 92, 1)            // version-valid-for
    putBe32(h, 96, 3039000)      // written-by version
    raf.seek(0)
    raf.write(h)
    // a db of N pages must be exactly N pages long even if the tail page's
    // write was short-circuited (it never is — writePage writes full pages)
    raf.setLength((nextPage - 1).toLong * PageSize)
  }

  /** One table's streaming b-tree builder. Each cell is written straight
    * into the open leaf page, packed down from the page's end; the leaf is
    * written out when the next cell does not fit.
    */
  final class TableWriter private[sink] (db: SqliteDbWriter, name: String, ddl: String,
                                         rootReserve: Int = 0, rootAt: Option[Int] = None) {
    import SqliteFormat._
    private val leafCapacity = Usable - 8 - rootReserve
    private val leaves = ArrayBuffer.empty[(Int, Long)]
    private val leaf = new Array[Byte](PageSize)
    // a cell takes at least 5 bytes with its pointer, so at most 4088 / 5
    private val cellAt = new Array[Int](PageSize / 4)
    private var cells = 0
    private var content = PageSize // start of the lowest cell in `leaf`
    private var used = 0
    private val overflow = new Array[Byte](PageSize)
    private var rowid = 0L
    private var leafMaxRowid = 0L // rowid of the last cell CURRENTLY buffered
    private var done = false

    def addRow(values: Seq[Any]): Unit = {
      val payload = encodeRecord(values)
      addPayload(payload, payload.length)
    }

    /** Appends the record `payload(0 until length)` as the next rowid. */
    def addPayload(payload: Array[Byte], length: Int): Unit = {
      require(!done, s"table $name already finished")
      rowid += 1
      val local =
        if (length <= MaxLeafLocal) length
        else {
          val k = MinLeafLocal + (length - MinLeafLocal) % (Usable - 4)
          if (k <= MaxLeafLocal) k else MinLeafLocal
        }
      val spills = local < length
      // the overflow chain's pages come before the leaf that holds the cell
      val next = if (spills) writeOverflow(payload, length, local) else 0
      val cellLen = varintLen(length) + varintLen(rowid) + local + (if (spills) 4 else 0)
      val cost = cellLen + 2
      // flush BEFORE appending: the new row belongs to the next leaf, so
      // the flushed leaf's separator key is the previous row's id
      if (cells > 0 && used + cost > leafCapacity) flushLeaf()
      content -= cellLen
      val o = writeVarint(leaf, writeVarint(leaf, content, length), rowid)
      System.arraycopy(payload, 0, leaf, o, local)
      if (spills) putBe32(leaf, o + local, next)
      cellAt(cells) = content; cells += 1
      used += cost; leafMaxRowid = rowid
    }

    /** Writes `payload(local until length)` as an overflow chain, each page
      * be32(next) + up to U-4 payload bytes, last chunk first; returns the
      * chain's first page.
      */
    private def writeOverflow(payload: Array[Byte], length: Int, local: Int): Int = {
      var off = length
      var next = 0
      val chunk = Usable - 4
      while (off > local) {
        val start = math.max(local, off - ((off - local - 1) % chunk + 1))
        putBe32(overflow, 0, next)
        System.arraycopy(payload, start, overflow, 4, off - start)
        java.util.Arrays.fill(overflow, 4 + off - start, PageSize, 0.toByte)
        val no = db.allocate()
        db.writePage(no, overflow)
        next = no
        off = start
      }
      next
    }

    /** The open leaf as a page image with its b-tree header at `reserve`
      * (100 only for the page-1 root, after the file header).
      */
    private def leafPage(reserve: Int): Array[Byte] = {
      leaf(reserve) = 0x0d
      putBe16(leaf, reserve + 3, cells)
      putBe16(leaf, reserve + 5, content & 0xffff)
      var i = 0
      while (i < cells) { putBe16(leaf, reserve + 8 + 2 * i, cellAt(i)); i += 1 }
      leaf
    }

    private def flushLeaf(): Unit = {
      val pageNo = db.allocate()
      db.writePage(pageNo, leafPage(0))
      leaves += ((pageNo, leafMaxRowid))
      java.util.Arrays.fill(leaf, 0.toByte)
      cells = 0; content = PageSize; used = 0
    }

    /** Completes the b-tree; returns the root page number. */
    private[sink] def finish(): Int = {
      require(!done, s"table $name already finished"); done = true
      if (leaves.isEmpty && used <= leafCapacity) {
        // everything (possibly nothing) fits one leaf — it IS the root
        val pageNo = rootAt.getOrElse(db.allocate())
        db.writePage(pageNo, leafPage(if (pageNo == 1) 100 else 0))
        pageNo
      } else {
        // `used > leafCapacity` happens only for a single cell that is too
        // big for a reserved (page-1) root leaf — it always fits a plain
        // leaf (max inline cell 4074 < 4088), which then hangs off an
        // interior root on page 1.
        if (cells > 0) flushLeaf()
        db.buildTreeAbove(leaves.toSeq, rootReserve, rootAt)
      }
    }

    private[sink] def finishInto(master: ArrayBuffer[(String, String, Int)]): Unit =
      master += ((name, ddl, finish()))
  }
}

/** Minimal reader for the same format subset — used by the test suite to
  * round-trip what the sink wrote, and by ad-hoc verification tooling. It
  * understands exactly what any sqlite3 build would read: header, table
  * b-trees (interior + leaf), records, overflow chains.
  */
final class SqliteDbReader(file: File) {
  import SqliteFormat._

  private val raf = new RandomAccessFile(file, "r")

  // The header governs the geometry — read it instead of assuming the
  // writer's constants, so externally created databases parse correctly
  // (or fail loudly) rather than silently misparsing.
  private val (pageSize, usable) = {
    val h = new Array[Byte](100)
    raf.seek(0); raf.readFully(h)
    require(new String(h, 0, 15, "ISO-8859-1") == "SQLite format 3" && h(15) == 0,
      s"$file is not a SQLite database")
    val raw = readBe16(h, 16)
    val ps = if (raw == 1) 65536 else raw // header encodes 65536 as 1
    require(ps >= 512 && (ps & (ps - 1)) == 0, s"invalid page size $ps")
    val enc = readBe32(h, 56)
    require(enc == 1, s"unsupported text encoding $enc (only UTF-8)")
    // Reading the bare main file is only sound when no committed state
    // lives outside it: reject versions we don't know (>2), a hot rollback
    // journal (mid-transaction / crashed writer), and a WAL database with
    // un-checkpointed frames — in each case the on-disk pages are stale
    // and we would silently return missing or outdated rows.
    val (rv, wv) = (h(18) & 0xff, h(19) & 0xff)
    require(rv >= 1 && rv <= 2 && wv >= 1 && wv <= 2,
      s"$file: unsupported file format version (read=$rv write=$wv)")
    // a journal is HOT only when its header carries the live magic —
    // journal_mode=PERSIST leaves a committed database with a non-empty
    // journal whose header is zeroed, which is perfectly consistent
    val journal = new File(file.getPath + "-journal")
    def hotJournal: Boolean = journal.isFile && journal.length > 0 && {
      val in = new java.io.FileInputStream(journal)
      try {
        // readNBytes, not a single read(): a short read is legal for any
        // InputStream, and treating it as "not the magic" would classify
        // a genuinely hot journal as cold and ingest a mid-transaction
        // database
        val m = in.readNBytes(8)
        val magic = Array(0xd9, 0xd5, 0x05, 0xf9, 0x20, 0xa1, 0x63, 0xd7)
          .map(_.toByte)
        m.length == 8 && java.util.Arrays.equals(m, magic)
      } finally in.close()
    }
    require(!hotJournal,
      s"$file has a hot rollback journal ($journal) — the last writer is " +
        "mid-transaction or crashed; open it once with sqlite3 to recover " +
        "before ingesting")
    val wal = new File(file.getPath + "-wal")
    require(!(rv == 2 && wal.isFile && wal.length > 0),
      s"$file is a WAL-mode database with un-checkpointed frames ($wal) — " +
        "run PRAGMA wal_checkpoint(TRUNCATE) before ingesting")
    (ps, ps - (h(20) & 0xff)) // usable = page size minus reserved tail
  }
  private val maxLeafLocal = usable - 35
  private val minLeafLocal = (usable - 12) * 32 / 255 - 23

  private def readPage(no: Int): Array[Byte] = {
    val b = new Array[Byte](pageSize)
    raf.seek((no - 1).toLong * pageSize)
    raf.readFully(b)
    b
  }

  def pageCount: Int = {
    val p1 = readPage(1)
    readBe32(p1, 28)
  }

  private def walk(pageNo: Int): Iterator[(Long, Array[Byte])] = {
    val page = readPage(pageNo)
    val base = if (pageNo == 1) 100 else 0
    page(base) match {
      case 0x05 =>
        val n = readBe16(page, base + 3)
        val children = (0 until n).map { i =>
          val off = readBe16(page, base + 12 + 2 * i)
          readBe32(page, off)
        } :+ readBe32(page, base + 8)
        children.iterator.flatMap(walk)
      case 0x0d =>
        val n = readBe16(page, base + 3)
        (0 until n).iterator.map { i =>
          val off = readBe16(page, base + 8 + 2 * i)
          readCell(page, off)
        }
      case t => throw new IllegalArgumentException(s"unexpected page type $t on page $pageNo")
    }
  }

  private def readCell(page: Array[Byte], off0: Int): (Long, Array[Byte]) = {
    var off = off0
    val (p, n1) = getVarint(page, off); off += n1
    val (rowid, n2) = getVarint(page, off); off += n2
    val plen = p.toInt
    if (plen <= maxLeafLocal) {
      (rowid, java.util.Arrays.copyOfRange(page, off, off + plen))
    } else {
      val k = minLeafLocal + (plen - minLeafLocal) % (usable - 4)
      val local = if (k <= maxLeafLocal) k else minLeafLocal
      val out = new Array[Byte](plen)
      System.arraycopy(page, off, out, 0, local)
      var written = local
      var next = readBe32(page, off + local)
      while (next != 0) {
        val op = readPage(next)
        val take = math.min(usable - 4, plen - written)
        System.arraycopy(op, 4, out, written, take)
        written += take
        next = readBe32(op, 0)
      }
      require(written == plen, s"overflow chain short: $written/$plen")
      (rowid, out)
    }
  }

  /** (name, rootpage, sql) for every TABLE in sqlite_master order.
    * Index/view/trigger rows are skipped: their roots are not table
    * b-trees (views have rootpage 0, indexes use index pages).
    */
  def masterRows: Seq[(String, Int, String)] =
    walk(1).flatMap { case (_, payload) =>
      val r = decodeRecord(payload)
      if (r(0) == "table" && r(3).asInstanceOf[Long] > 0)
        Some((r(1).asInstanceOf[String], r(3).asInstanceOf[Long].toInt, r(4).asInstanceOf[String]))
      else None
    }.toSeq

  def tableNames: Seq[String] = masterRows.map(_._1)

  def rows(table: String): Iterator[Seq[Any]] = {
    val root = masterRows.find(_._1 == table)
      .getOrElse(throw new IllegalArgumentException(s"no such table: $table"))._2
    rowsAt(root)
  }

  /** Rows of the b-tree rooted at `root` — for callers that already hold
    * the sqlite_master triple and must not re-walk the master tree.
    */
  def rowsAt(root: Int): Iterator[Seq[Any]] =
    walk(root).map { case (_, payload) => decodeRecord(payload) }

  /** Structural check in the spirit of PRAGMA integrity_check: every
    * interior separator key must equal the largest rowid of its left
    * subtree and keys must strictly increase left-to-right. Returns the
    * (min, max) rowid of the subtree; throws on violation.
    */
  def verifyTree(pageNo: Int): Unit = { verifyBounds(pageNo); () }

  private def verifyBounds(pageNo: Int): Option[(Long, Long)] = {
    val page = readPage(pageNo)
    val base = if (pageNo == 1) 100 else 0
    page(base) match {
      case 0x0d =>
        val n = readBe16(page, base + 3)
        val rowids = (0 until n).map { i =>
          readCell(page, readBe16(page, base + 8 + 2 * i))._1
        }
        require(rowids == rowids.sorted, s"leaf $pageNo rowids out of order")
        if (n == 0) None else Some((rowids.head, rowids.last))
      case 0x05 =>
        val n = readBe16(page, base + 3)
        var prevKey = Long.MinValue
        var lo = Option.empty[Long]
        (0 until n).foreach { i =>
          val off = readBe16(page, base + 12 + 2 * i)
          val child = readBe32(page, off)
          val (key, _) = getVarint(page, off + 4)
          val bounds = verifyBounds(child)
          require(bounds.exists(_._2 == key),
            s"interior $pageNo cell $i: key $key != child $child max ${bounds.map(_._2)}")
          require(key > prevKey, s"interior $pageNo cell $i: key $key <= $prevKey")
          prevKey = key
          if (lo.isEmpty) lo = bounds.map(_._1)
        }
        val right = verifyBounds(readBe32(page, base + 8))
        right.foreach { case (rlo, _) =>
          require(rlo > prevKey, s"interior $pageNo: right child starts at $rlo <= $prevKey") }
        val hi = right.map(_._2).orElse(if (prevKey == Long.MinValue) None else Some(prevKey))
        hi.map(h => (lo.orElse(right.map(_._1)).get, h))
      case t => throw new IllegalArgumentException(s"unexpected page type $t")
    }
  }

  /** Verifies every b-tree in the file (sqlite_master + all tables). */
  def verifyAll(): Unit = {
    verifyTree(1)
    masterRows.foreach { case (_, root, _) => verifyTree(root) }
  }

  /** Column names parsed back out of the stored CREATE TABLE text. */
  def columns(table: String): Seq[String] = {
    val sql = masterRows.find(_._1 == table).get._3
    SqliteFormat.columnsOf(sql).map(_._1)
  }

  def close(): Unit = raf.close()
}
