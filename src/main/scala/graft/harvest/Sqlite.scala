package graft.harvest

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer

/** Minimal single-file SQLite writer (SURVEY §7 H4) — the compatibility
  * sink producing the reference's deliverable artifact, one
  * `translations.db` file (/root/reference/harvest.py:392,408;
  * README.md:16,51 "database-path: always `translations.db`").
  *
  * Implemented from the public file-format specification
  * (sqlite.org/fileformat2.html): 4096-byte pages, table b-trees (leaf
  * type 0x0D / interior 0x05) keyed by rowid, the record serial-type
  * format, and payload-overflow chains. No third-party driver — the build
  * resolves no external dependencies, and the write path is a driver-side
  * artifact export (sequential by nature: one file), NOT a data-plane
  * operator. The distributed store remains parquet; see the scale ceiling
  * guard in [[Store.writeSqliteArtifact]].
  *
  * Full schema fidelity: the artifact carries the reference DDL verbatim
  * (AUTOINCREMENT, UNIQUE, CHECK, TEXT PRIMARY KEY, the four secondary
  * indexes) with every storage structure SQLite itself would create —
  * UNIQUE/PK auto-index b-trees (`sqlite_autoindex_*`), the explicit
  * index b-trees, and the `sqlite_sequence` table for AUTOINCREMENT
  * bookkeeping. Index b-trees are true B-trees (leaf 0x0A / interior
  * 0x02): divider entries live ONLY in interior pages, with BINARY
  * collation (unsigned UTF-8 byte order) on text keys.
  */
object Sqlite {

  val PageSize = 4096
  private val Usable = PageSize // no reserved bytes per page
  /** Max inline payload on a table leaf before overflow pages kick in. */
  private val MaxLeaf = Usable - 35
  /** Max inline payload in an index cell (leaf or interior). */
  private val MaxIndex = (Usable - 12) * 64 / 255 - 23
  private val MinLeaf = (Usable - 12) * 32 / 255 - 23
  /** Leaf/interior fill threshold: computed for the worst-case header
    * offset (100, page 1) so a level that collapses into the root page
    * always fits there. Costs <2.5% page utilization — irrelevant for an
    * artifact file. */
  private def capacity(interior: Boolean): Int =
    PageSize - 100 - (if (interior) 12 else 8)

  // ------------------------------------------------------------ value model

  sealed trait V
  case object VNull extends V
  final case class VInt(v: Long) extends V
  final case class VReal(v: Double) extends V
  final case class VText(s: String) extends V
  final case class VBlob(b: Array[Byte]) extends V

  /** A database object destined for `sqlite_master`, in master-row order. */
  sealed trait DbObject

  /** One table: name, its schema DDL, and (rowid, values) rows. Rows must
    * be sorted by rowid ascending (b-tree key order). `deferred` delays the
    * b-tree build until after all non-deferred tables (for
    * `sqlite_sequence`, whose rows summarize the other tables' max ids). */
  final case class TableData(name: String, ddl: String, rows: Iterator[(Long, Seq[V])],
                             deferred: Boolean = false) extends DbObject

  /** One index over `table`: `ddl` is None for UNIQUE/PK auto-indexes
    * (SQLite stores NULL sql for those). `entries` is a thunk returning the
    * full key records (key columns + rowid), evaluated after the table's
    * rows have streamed; the writer sorts them with SQLite's BINARY record
    * collation. */
  final case class IndexData(name: String, table: String, ddl: Option[String],
                             entries: () => Seq[Seq[V]]) extends DbObject

  // -------------------------------------------------------- byte utilities

  // Every encoder below writes into an exact-size Array[Byte]: no boxed
  // byte buffers and no intermediate copies.

  private def put16(buf: Array[Byte], off: Int, v: Int): Unit = {
    buf(off) = (v >> 8).toByte; buf(off + 1) = v.toByte
  }
  private def put32(buf: Array[Byte], off: Int, v: Int): Unit = {
    buf(off) = (v >>> 24).toByte; buf(off + 1) = (v >>> 16).toByte
    buf(off + 2) = (v >>> 8).toByte; buf(off + 3) = v.toByte
  }

  /** Length of `v` as a SQLite varint: 1–9 bytes, big-endian 7-bit
    * groups; the 9th byte carries a full 8 bits. */
  private def varintLen(v: Long): Int =
    if (v >= 0 && v < 128) 1
    else if ((v >>> 56) != 0 || v < 0) 9
    else (70 - java.lang.Long.numberOfLeadingZeros(v)) / 7 // ceil(bits / 7)

  /** Write `v` as a varint at `off`; returns the offset just past it. */
  private def putVarint(buf: Array[Byte], off: Int, v0: Long): Int = {
    val n = varintLen(v0)
    var v = v0
    var i = n - 1
    if (n == 9) { buf(off + 8) = v.toByte; v >>>= 8; i = 7 }
    else { buf(off + i) = (v & 0x7f).toByte; v >>>= 7; i -= 1 }
    while (i >= 0) { buf(off + i) = ((v & 0x7f) | 0x80).toByte; v >>>= 7; i -= 1 }
    off + n
  }

  // --------------------------------------------------------- record format

  /** Body size of a non-0/1 integer: the smallest of 1, 2, 3, 4, 6, 8
    * bytes that holds it. */
  private def intLen(v: Long): Int =
    if (v >= -128 && v < 128) 1
    else if (v >= -32768 && v < 32768) 2
    else if (v >= -8388608 && v < 8388608) 3
    else if (v >= -2147483648L && v < 2147483648L) 4
    else if (v >= -140737488355328L && v < 140737488355328L) 6
    else 8

  /** One record's values with every text value UTF-8-encoded once: the
    * index sort compares these bytes, and the record encoder writes them. */
  private final class Encoded(val vs: IndexedSeq[V]) {
    val bytes: Array[Array[Byte]] = vs.iterator.map {
      case VText(s) => s.getBytes(UTF_8)
      case VBlob(b) => b
      case _ => null
    }.toArray
  }

  /** Encode one row payload in the SQLite record format (header of serial
    * types, then the value bodies). */
  private def record(e: Encoded): Array[Byte] = {
    val n = e.vs.length
    val serials = new Array[Long](n)
    var typesLen = 0
    var bodyLen = 0
    var i = 0
    while (i < n) {
      val (serial, len) = e.vs(i) match {
        case VNull => (0L, 0)
        case VInt(0L) => (8L, 0)
        case VInt(1L) => (9L, 0)
        case VInt(v) =>
          val k = intLen(v)
          (if (k <= 4) k.toLong else if (k == 6) 5L else 6L, k)
        case VReal(_) => (7L, 8)
        case VText(_) => (2L * e.bytes(i).length + 13, e.bytes(i).length)
        case VBlob(_) => (2L * e.bytes(i).length + 12, e.bytes(i).length)
      }
      serials(i) = serial
      typesLen += varintLen(serial)
      bodyLen += len
      i += 1
    }
    // the header-length varint includes itself; sizes here are < 2^14 so
    // one adjustment step reaches the fixpoint
    var hdrLen = typesLen + 1
    if (varintLen(hdrLen.toLong) + typesLen != hdrLen)
      hdrLen = typesLen + varintLen((typesLen + 2).toLong)
    val out = new Array[Byte](hdrLen + bodyLen)
    var o = putVarint(out, 0, hdrLen.toLong)
    i = 0
    while (i < n) { o = putVarint(out, o, serials(i)); i += 1 }
    i = 0
    while (i < n) {
      e.vs(i) match {
        case VInt(v) if v != 0L && v != 1L =>
          var k = intLen(v) - 1
          var x = v
          while (k >= 0) { out(o + k) = x.toByte; x >>= 8; k -= 1 }
          o += intLen(v)
        case VReal(d) =>
          val bits = java.lang.Double.doubleToLongBits(d)
          var k = 0
          while (k < 8) { out(o + k) = (bits >>> (56 - 8 * k)).toByte; k += 1 }
          o += 8
        case VText(_) | VBlob(_) =>
          val b = e.bytes(i)
          System.arraycopy(b, 0, out, o, b.length)
          o += b.length
        case _ => ()
      }
      i += 1
    }
    out
  }

  // ----------------------------------------------------------- file writer

  /** In-memory page store; page numbers are 1-based. */
  private final class Pages {
    val buf = new ArrayBuffer[Array[Byte]]()
    def alloc(): Int = {
      buf += new Array[Byte](PageSize)
      require(buf.length < 262144, // the lock-byte page lives at offset 1 GiB
        "SQLite artifact would exceed 1 GiB — this sink is an artifact export " +
          "for reference-compatible deliverables; use the parquet store at scale")
      buf.length
    }
    def apply(no: Int): Array[Byte] = buf(no - 1)
  }

  /** Write cells into a b-tree page image. `headerOffset` is 100 on page 1.
    * `cells` must be indexed: the loop reads `cells(i)`, linear on a List. */
  private def fillPage(page: Array[Byte], headerOffset: Int, pageType: Int,
                       cells: collection.IndexedSeq[Array[Byte]], rightmost: Int = 0): Unit = {
    // interior pages (table 0x05, index 0x02) carry the rightmost-child
    // pointer in a 12-byte header; leaves (0x0D, 0x0A) use 8 bytes
    val hdrSize = if (pageType == 0x05 || pageType == 0x02) 12 else 8
    val n = cells.length
    page(headerOffset) = pageType.toByte
    put16(page, headerOffset + 3, n)
    if (hdrSize == 12) put32(page, headerOffset + 8, rightmost)
    var content = PageSize
    val ptrBase = headerOffset + hdrSize
    var i = 0
    while (i < n) {
      val cell = cells(i)
      content -= cell.length
      System.arraycopy(cell, 0, page, content, cell.length)
      put16(page, ptrBase + 2 * i, content)
      i += 1
    }
    // cell-content-area start; 4096 fits in 16 bits (the 0-means-65536
    // convention only applies to 64 KiB pages)
    put16(page, headerOffset + 5, content)
  }

  /** Build one table-leaf cell; payload spills to an overflow-page chain
    * (shared [[overflowChain]]) when it exceeds the leaf threshold. */
  private def leafCell(pages: Pages, rowid: Long, payload: Array[Byte]): Array[Byte] = {
    val p = payload.length
    val inline =
      if (p <= MaxLeaf) p
      else {
        val k = MinLeaf + (p - MinLeaf) % (Usable - 4)
        if (k <= MaxLeaf) k else MinLeaf
      }
    val out = new Array[Byte](varintLen(p.toLong) + varintLen(rowid) + inline +
      (if (inline < p) 4 else 0))
    val o = putVarint(out, putVarint(out, 0, p.toLong), rowid)
    System.arraycopy(payload, 0, out, o, inline)
    if (inline < p) put32(out, o + inline, overflowChain(pages, payload, inline))
    out
  }

  // -------------------------------------------------------- index b-trees

  /** SQLite value ordering: NULL < numeric < text (BINARY: unsigned UTF-8
    * byte order) < blob. */
  private def typeRank(v: V): Int = v match {
    case VNull => 0
    case _: VInt | _: VReal => 1
    case _: VText => 2
    case _: VBlob => 3
  }

  private def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** SQLite's BINARY record collation, on records whose text was
    * encoded once ([[Encoded]]). */
  private val recordOrder: java.util.Comparator[Encoded] = (a: Encoded, b: Encoded) => {
    val n = math.min(a.vs.length, b.vs.length)
    var i = 0
    var c = 0
    while (c == 0 && i < n) {
      val x = a.vs(i)
      val y = b.vs(i)
      c = typeRank(x) - typeRank(y)
      if (c == 0) c = x match {
        case VInt(p) => y match {
          case VInt(q) => java.lang.Long.compare(p, q)
          case VReal(q) => java.lang.Double.compare(p.toDouble, q)
          case _ => 0
        }
        case VReal(p) => y match {
          case VInt(q) => java.lang.Double.compare(p, q.toDouble)
          case VReal(q) => java.lang.Double.compare(p, q)
          case _ => 0
        }
        case VText(_) | VBlob(_) => compareBytes(a.bytes(i), b.bytes(i))
        case VNull => 0
      }
      i += 1
    }
    if (c != 0) c else a.vs.length - b.vs.length
  }

  private[harvest] def compareRecords(a: Seq[V], b: Seq[V]): Int =
    recordOrder.compare(new Encoded(a.toIndexedSeq), new Encoded(b.toIndexedSeq))

  /** Inline size of an index payload (leaf and interior share the
    * threshold). */
  private def indexInline(p: Int): Int =
    if (p <= MaxIndex) p
    else {
      val k = MinLeaf + (p - MinLeaf) % (Usable - 4)
      if (k <= MaxIndex) k else MinLeaf
    }

  /** Spill `payload` beyond `inline` bytes into an overflow chain; returns
    * the first overflow page (payload must be longer than inline). */
  private def overflowChain(pages: Pages, payload: Array[Byte], inline: Int): Int = {
    val p = payload.length
    val chain = new ArrayBuffer[Int]()
    var pos = inline
    while (pos < p) { chain += pages.alloc(); pos += Usable - 4 }
    pos = inline
    var i = 0
    while (i < chain.length) {
      val page = pages(chain(i))
      val next = if (i + 1 < chain.length) chain(i + 1) else 0
      put32(page, 0, next)
      val n = math.min(Usable - 4, p - pos)
      System.arraycopy(payload, pos, page, 4, n)
      pos += n; i += 1
    }
    chain.head
  }

  /** Size an index cell without building it (so divider promotion never
    * allocates overflow pages it won't use). */
  private def indexCellSize(payloadLen: Int, withChild: Boolean): Int = {
    val inline = indexInline(payloadLen)
    (if (withChild) 4 else 0) + varintLen(payloadLen.toLong) + inline +
      (if (inline < payloadLen) 4 else 0)
  }

  private def indexCell(pages: Pages, payload: Array[Byte], child: Option[Int]): Array[Byte] = {
    val p = payload.length
    val inline = indexInline(p)
    val out = new Array[Byte](indexCellSize(p, child.isDefined))
    child.foreach(put32(out, 0, _))
    val o = putVarint(out, if (child.isDefined) 4 else 0, p.toLong)
    System.arraycopy(payload, 0, out, o, inline)
    if (inline < p) put32(out, o + inline, overflowChain(pages, payload, inline))
    out
  }

  /** Build an index b-tree from SORTED key records; returns the root page.
    * True B-tree: when a leaf fills, the next entry is promoted to the
    * parent as a divider (it appears ONLY there); same recursively for
    * interior levels. */
  private def buildIndexBtree(pages: Pages, sorted: Array[Array[Byte]]): Int = {
    if (sorted.isEmpty) {
      val no = pages.alloc()
      fillPage(pages(no), 0, 0x0A, IndexedSeq.empty)
      return no
    }
    val cap = capacity(interior = false)
    // ---- leaf level, with divider promotion. When a leaf fills, its LAST
    // entry is promoted to the parent (a true B-tree divider: ≥ everything
    // left in the leaf, < everything after) and the incoming entry starts
    // the next leaf. Every flush therefore adds exactly one child and one
    // divider, and the final leaf (always non-empty) adds the last child —
    // `dividers.length == children.length - 1` holds by construction, with
    // no dangling-divider case. Leaves hold raw payloads until flush so a
    // promoted entry never allocates overflow pages it won't use.
    var children = Vector.empty[Int]
    var dividers = Vector.empty[Array[Byte]] // raw payloads, encoded per-level
    var cur = new ArrayBuffer[Array[Byte]]() // payloads, not built cells
    var curBytes = 0
    def flushLeaf(payloads: ArrayBuffer[Array[Byte]]): Unit = {
      val cells = payloads.map(indexCell(pages, _, None))
      val no = pages.alloc()
      fillPage(pages(no), 0, 0x0A, cells)
      children :+= no
    }
    sorted.foreach { payload =>
      val size = indexCellSize(payload.length, withChild = false)
      if (cur.nonEmpty && curBytes + size + 2 > cap) {
        // a flush needs >= 2 buffered entries so the leaf stays non-empty
        // after promotion; guaranteed because max cell size (~1/4 cap)
        // means at least 3 entries fit before any overflow
        require(cur.length >= 2, "index leaf underflow: oversized cells")
        val divider = cur.remove(cur.length - 1)
        flushLeaf(cur)
        dividers :+= divider
        cur = new ArrayBuffer[Array[Byte]]()
        cur += payload
        curBytes = size + 2
      } else {
        cur += payload
        curBytes += size + 2
      }
    }
    if (cur.nonEmpty) flushLeaf(cur)

    // ---- interior levels
    val icap = capacity(interior = true)
    while (children.length > 1) {
      val nc = Vector.newBuilder[Int]
      val nd = Vector.newBuilder[Array[Byte]]
      var s = 0
      while (s < children.length) {
        // phase 1: choose the cell range by size alone (cells are built
        // only once final, so no overflow page is ever orphaned)
        var used = 0
        var e = s
        var full = false
        while (!full && e < children.length - 1) {
          val size = indexCellSize(dividers(e).length, withChild = true)
          if (e > s && used + size + 2 > icap) full = true
          else { used += size + 2; e += 1 }
        }
        // never leave a single orphan child for the next page
        if (full && children.length - (e + 1) == 1 && e - s > 1) e -= 1
        // phase 2: build
        val cells = (s until e).map(i => indexCell(pages, dividers(i), Some(children(i))))
        val no = pages.alloc()
        fillPage(pages(no), 0, 0x02, cells, rightmost = children(e))
        nc += no
        if (e < children.length - 1) nd += dividers(e) // promote upward
        s = e + 1
      }
      children = nc.result()
      dividers = nd.result()
    }
    children.head
  }

  /** Build a table b-tree from rowid-sorted rows; returns the root page
    * number. If `rootAt` is set the root level is written into that
    * pre-allocated page with `rootHeaderOffset` (100 for page 1). */
  private def buildTableBtree(pages: Pages, rows: Iterator[(Long, Seq[V])],
                              rootAt: Option[Int] = None, rootHeaderOffset: Int = 0): Int = {
    def placeRoot(pageType: Int, cells: collection.IndexedSeq[Array[Byte]], rightmost: Int = 0): Int = {
      val no = rootAt.getOrElse(pages.alloc())
      val off = if (rootAt.isDefined) rootHeaderOffset else 0
      fillPage(pages(no), off, pageType, cells, rightmost)
      no
    }

    // ---- leaf level: greedy fill into cell groups; pages are written
    // only once we know a group is NOT the root (root may live on page 1)
    val groups = new ArrayBuffer[(ArrayBuffer[Array[Byte]], Long)]()
    var cur = new ArrayBuffer[Array[Byte]]()
    var curBytes = 0
    var curMax = 0L
    def flushLeafGroup(): Unit = if (cur.nonEmpty) {
      groups += ((cur, curMax))
      cur = new ArrayBuffer[Array[Byte]]()
      curBytes = 0
    }
    while (rows.hasNext) {
      val (rowid, vs) = rows.next()
      val cell = leafCell(pages, rowid, record(new Encoded(vs.toIndexedSeq)))
      if (cur.nonEmpty && curBytes + cell.length + 2 > capacity(interior = false))
        flushLeafGroup()
      cur += cell; curBytes += cell.length + 2; curMax = rowid
    }
    flushLeafGroup()

    if (groups.isEmpty) return placeRoot(0x0D, IndexedSeq.empty) // empty table
    if (groups.length == 1) return placeRoot(0x0D, groups.head._1)

    var level: Vector[(Int, Long)] = groups.iterator.map { case (cells, maxKey) =>
      val no = pages.alloc()
      fillPage(pages(no), 0, 0x0D, cells)
      (no, maxKey)
    }.toVector

    // ---- interior levels: split children evenly into as few pages as
    // fit (conservative per-cell size: 4B child + <=9B varint + 2B ptr)
    val maxChildren = capacity(interior = true) / 15 + 1
    while (level.length > 1) {
      val nGroups = (level.length + maxChildren - 1) / maxChildren
      val base = level.length / nGroups
      val extra = level.length % nGroups
      val chunks = Vector.newBuilder[Vector[(Int, Long)]]
      var idx = 0
      var g = 0
      while (g < nGroups) {
        val size = base + (if (g < extra) 1 else 0)
        chunks += level.slice(idx, idx + size)
        idx += size; g += 1
      }
      val levelChunks = chunks.result()
      def interiorCells(chunk: Vector[(Int, Long)]): IndexedSeq[Array[Byte]] =
        chunk.dropRight(1).map { case (childNo, childMax) =>
          val b = new Array[Byte](4 + varintLen(childMax))
          put32(b, 0, childNo); putVarint(b, 4, childMax)
          b
        }
      if (nGroups == 1) {
        val chunk = levelChunks.head
        return placeRoot(0x05, interiorCells(chunk), rightmost = chunk.last._1)
      }
      level = levelChunks.map { chunk =>
        val no = pages.alloc()
        fillPage(pages(no), 0, 0x05, interiorCells(chunk), rightmost = chunk.last._1)
        (no, chunk.last._2)
      }
    }
    level.head._1 // unreachable: the nGroups == 1 branch returns
  }

  /** Write the database file: page 1 = header + `sqlite_master`, then the
    * object b-trees (and any overflow pages). Build order: plain tables,
    * then indexes and deferred tables (so a caller may fill index entries
    * and deferred rows while its table rows stream), then the master
    * table — while `sqlite_master` rows keep the declaration order.
    * Atomic: the pages go to a staging file beside `path`, which is then
    * renamed over it; a failed write deletes the staging file. */
  def writeFile(path: File, objects: Seq[DbObject]): Unit = {
    val pages = new Pages
    val masterRoot = pages.alloc() // page 1
    val roots = scala.collection.mutable.Map[String, Int]()
    objects.foreach {
      case t: TableData if !t.deferred => roots(t.name) = buildTableBtree(pages, t.rows)
      case _ => ()
    }
    objects.foreach {
      case t: TableData if t.deferred => roots(t.name) = buildTableBtree(pages, t.rows)
      case ix: IndexData =>
        val keys = ix.entries().iterator.map(e => new Encoded(e.toIndexedSeq)).toArray
        java.util.Arrays.sort(keys, recordOrder) // stable, like sortWith
        roots(ix.name) = buildIndexBtree(pages, keys.map(record))
      case _ => ()
    }
    val masterRows: Iterator[(Long, Seq[V])] = objects.zipWithIndex.map {
      case (t: TableData, i) =>
        (i + 1L, Seq(VText("table"), VText(t.name), VText(t.name),
          VInt(roots(t.name).toLong), VText(t.ddl)))
      case (ix: IndexData, i) =>
        (i + 1L, Seq(VText("index"), VText(ix.name), VText(ix.table),
          VInt(roots(ix.name).toLong), ix.ddl.map(VText(_): V).getOrElse(VNull)))
    }.iterator
    buildTableBtree(pages, masterRows, rootAt = Some(masterRoot), rootHeaderOffset = 100)

    // the 100-byte file header at the start of page 1
    val h = pages(1)
    val magic = "SQLite format 3".getBytes(UTF_8) :+ 0.toByte
    System.arraycopy(magic, 0, h, 0, 16)
    put16(h, 16, PageSize)
    h(18) = 1; h(19) = 1 // rollback-journal read/write versions
    h(20) = 0 // reserved space per page
    h(21) = 64; h(22) = 32; h(23) = 32 // payload fractions (fixed by spec)
    put32(h, 24, 1) // file change counter
    put32(h, 28, pages.buf.length) // size in pages
    put32(h, 40, 1) // schema cookie
    put32(h, 44, 1) // schema format 1
    put32(h, 56, 1) // text encoding: UTF-8
    put32(h, 92, 1) // version-valid-for == change counter
    put32(h, 96, 3045000) // written-by library version

    val parent = Option(path.getParentFile).getOrElse(new File("."))
    val tmp = new File(parent, s".${path.getName}.staging")
    try {
      val out = new BufferedOutputStream(new FileOutputStream(tmp), 1 << 20)
      try pages.buf.foreach(out.write) finally out.close()
      install(tmp, path)
    } catch { case t: Throwable => tmp.delete(); throw t }
  }

  /** Rename a finished file over `path` in one step: a reader sees the
    * old file or the new one, never neither. */
  private[harvest] def install(finished: File, path: File): Unit =
    Files.move(finished.toPath, path.toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)

  // ----------------------------------------------------------- file reader

  /** Minimal reader for round-trip verification: walks table and index
    * b-trees and decodes records (including overflow chains). Reads what
    * this writer emits plus standard SQLite b-tree files. */
  private final class Reader(path: File) {
    private val bytes = java.nio.file.Files.readAllBytes(path.toPath)
    private def u8(o: Int): Int = bytes(o) & 0xff
    private def u16(o: Int): Int = (u8(o) << 8) | u8(o + 1)
    private def u32(o: Int): Long =
      (u8(o).toLong << 24) | (u8(o + 1) << 16) | (u8(o + 2) << 8) | u8(o + 3)
    private val pageSize = u16(16)
    private def pageOff(no: Int): Int = (no - 1) * pageSize

    private def readVarint(o: Int): (Long, Int) = {
      var v = 0L
      var i = 0
      while (i < 8) {
        val b = u8(o + i)
        if ((b & 0x80) == 0) return (v << 7 | b, i + 1)
        v = v << 7 | (b & 0x7f)
        i += 1
      }
      (v << 8 | u8(o + 8), 9)
    }

    /** Inline threshold X differs between table leaves and index pages. */
    private def readPayload(o: Int, total: Long, x: Int): Array[Byte] = {
      val u = pageSize
      val inline =
        if (total <= x) total.toInt
        else {
          val m = (u - 12) * 32 / 255 - 23
          val k = m + ((total - m) % (u - 4)).toInt
          if (k <= x) k else m
        }
      val out = new java.io.ByteArrayOutputStream(total.toInt)
      out.write(bytes, o, inline)
      if (inline < total) {
        var next = u32(o + inline).toInt
        var remaining = total - inline
        while (next != 0 && remaining > 0) {
          val po = pageOff(next)
          val n = math.min(u - 4L, remaining).toInt
          out.write(bytes, po + 4, n)
          remaining -= n
          next = u32(po).toInt
        }
      }
      out.toByteArray
    }

    private def decodeRecord(payload: Array[Byte]): Seq[V] = {
      def vi(o: Int): (Long, Int) = {
        var v = 0L
        var i = 0
        while (i < 8) {
          val b = payload(o + i) & 0xff
          if ((b & 0x80) == 0) return (v << 7 | b, i + 1)
          v = v << 7 | (b & 0x7f)
          i += 1
        }
        (v << 8 | (payload(o + 8) & 0xff), 9)
      }
      val (hdrLen, n0) = vi(0)
      var ho = n0
      val types = new ArrayBuffer[Long]()
      while (ho < hdrLen) { val (t, n) = vi(ho); types += t; ho += n }
      var bo = hdrLen.toInt
      types.toSeq.map { t =>
        def sint(n: Int): Long = {
          var v = payload(bo).toLong // sign-extends
          var i = 1
          while (i < n) { v = (v << 8) | (payload(bo + i) & 0xff); i += 1 }
          bo += n
          v
        }
        t match {
          case 0 => VNull
          case 1 => VInt(sint(1))
          case 2 => VInt(sint(2))
          case 3 => VInt(sint(3))
          case 4 => VInt(sint(4))
          case 5 => VInt(sint(6))
          case 6 => VInt(sint(8))
          case 7 =>
            var bits = 0L
            var i = 0
            while (i < 8) { bits = (bits << 8) | (payload(bo + i) & 0xff); i += 1 }
            bo += 8
            VReal(java.lang.Double.longBitsToDouble(bits))
          case 8 => VInt(0L)
          case 9 => VInt(1L)
          case s if s >= 13 && s % 2 == 1 =>
            val len = ((s - 13) / 2).toInt
            val v = VText(new String(payload, bo, len, "UTF-8")); bo += len; v
          case s if s >= 12 =>
            val len = ((s - 12) / 2).toInt
            val v = VBlob(java.util.Arrays.copyOfRange(payload, bo, bo + len)); bo += len; v
          case s => throw new IllegalStateException(s"unsupported serial type $s")
        }
      }
    }

    def walkTable(pageNo: Int, out: ArrayBuffer[(Long, Seq[V])]): Unit = {
      val po = pageOff(pageNo)
      val hdr = if (pageNo == 1) po + 100 else po
      val nCells = u16(hdr + 3)
      u8(hdr) match {
        case 0x0D =>
          var i = 0
          while (i < nCells) {
            val cellOff = po + u16(hdr + 8 + 2 * i)
            val (payloadLen, n1) = readVarint(cellOff)
            val (rowid, n2) = readVarint(cellOff + n1)
            out += ((rowid, decodeRecord(readPayload(cellOff + n1 + n2, payloadLen, pageSize - 35))))
            i += 1
          }
        case 0x05 =>
          var i = 0
          while (i < nCells) {
            walkTable(u32(po + u16(hdr + 12 + 2 * i)).toInt, out)
            i += 1
          }
          walkTable(u32(hdr + 8).toInt, out)
        case t => throw new IllegalStateException(s"unexpected table page type $t at page $pageNo")
      }
    }

    /** In-order walk: interior divider entries are real entries. */
    def walkIndex(pageNo: Int, out: ArrayBuffer[Seq[V]]): Unit = {
      val po = pageOff(pageNo)
      val hdr = po
      val nCells = u16(hdr + 3)
      val xIndex = (pageSize - 12) * 64 / 255 - 23
      u8(hdr) match {
        case 0x0A =>
          var i = 0
          while (i < nCells) {
            val cellOff = po + u16(hdr + 8 + 2 * i)
            val (payloadLen, n1) = readVarint(cellOff)
            out += decodeRecord(readPayload(cellOff + n1, payloadLen, xIndex))
            i += 1
          }
        case 0x02 =>
          var i = 0
          while (i < nCells) {
            val cellOff = po + u16(hdr + 12 + 2 * i)
            walkIndex(u32(cellOff).toInt, out)
            val (payloadLen, n1) = readVarint(cellOff + 4)
            out += decodeRecord(readPayload(cellOff + 4 + n1, payloadLen, xIndex))
            i += 1
          }
          walkIndex(u32(hdr + 8).toInt, out)
        case t => throw new IllegalStateException(s"unexpected index page type $t at page $pageNo")
      }
    }

    def master(): Seq[(Long, Seq[V])] = {
      val rows = new ArrayBuffer[(Long, Seq[V])]()
      walkTable(1, rows)
      rows.toSeq
    }

    def rootOf(kind: String, name: String): Int =
      master().collectFirst {
        case (_, Seq(VText(`kind`), VText(`name`), _, VInt(r), _)) => r.toInt
      }.getOrElse(throw new NoSuchElementException(s"$kind $name not in sqlite_master"))
  }

  def readTable(path: File, table: String): Seq[(Long, Seq[V])] = {
    val r = new Reader(path)
    val rows = new ArrayBuffer[(Long, Seq[V])]()
    r.walkTable(r.rootOf("table", table), rows)
    rows.toSeq
  }

  /** Read an index b-tree's entries in key order. */
  def readIndex(path: File, index: String): Seq[Seq[V]] = {
    val r = new Reader(path)
    val out = new ArrayBuffer[Seq[V]]()
    r.walkIndex(r.rootOf("index", index), out)
    out.toSeq
  }
}
