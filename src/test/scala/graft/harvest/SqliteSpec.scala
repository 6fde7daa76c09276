package graft.harvest

import java.io.File
import graft.SparkSpec
import graft.harvest.Sqlite._

/** The single-file SQLite artifact sink (SURVEY §7 H4): record encoding,
  * b-tree construction (single leaf, interior levels, empty root),
  * overflow chains, and the Store-level export round-trip. */
class SqliteSpec extends SparkSpec {

  private def tmpDb(name: String): File = {
    val f = File.createTempFile(name, ".db")
    f.delete()
    f.deleteOnExit()
    f
  }

  test("small table round-trips every value type (H4)") {
    val db = tmpDb("small")
    val rows = Seq(
      1L -> Seq(VInt(0L), VInt(1L), VInt(-7L), VText("héllo"), VNull, VReal(2.5)),
      2L -> Seq(VInt(300L), VInt(-100000L), VInt(1L << 40), VText(""), VText("x" * 100), VReal(-0.0)),
      7L -> Seq(VInt(Long.MaxValue), VInt(Long.MinValue), VInt(42L), VNull, VBlob(Array[Byte](1, 2, 3)), VReal(1e300)))
    writeFile(db, Seq(TableData("t", "CREATE TABLE t (a,b,c,d,e,f)", rows.iterator)))
    val back = readTable(db, "t")
    assert(back.map(_._1) == Seq(1L, 2L, 7L))
    back.zip(rows).foreach { case ((_, got), (_, want)) =>
      got.zip(want).foreach {
        case (VBlob(g), VBlob(w)) => assert(g.toSeq == w.toSeq)
        case (g, w) => assert(g == w)
      }
    }
  }

  test("large table builds interior levels and preserves order (H4)") {
    val db = tmpDb("large")
    val n = 60000
    val rows = Iterator.tabulate(n)(i =>
      (i + 1L, Seq[V](VInt(i.toLong), VText(s"value-$i-${"pad" * 10}"))))
    writeFile(db, Seq(TableData("big", "CREATE TABLE big (a,b)", rows)))
    // 60k rows * ~50B cells ≈ 750+ leaf pages → at least one interior level
    assert(db.length() > 200L * PageSize)
    val back = readTable(db, "big")
    assert(back.length == n)
    assert(back.map(_._1) == (1L to n.toLong))
    assert(back(12345)._2 == Seq(VInt(12345L), VText(s"value-12345-${"pad" * 10}")))
  }

  test("oversized payloads spill to overflow chains and round-trip (H4)") {
    val db = tmpDb("overflow")
    val bigText = Iterator.tabulate(3000)(i => s"tok$i").mkString(" ") // ~20 KB, multi-page chain
    val medText = "m" * 4500 // just past the one-page threshold
    val rows = Seq(
      1L -> Seq[V](VText(bigText), VInt(1L)),
      2L -> Seq[V](VText(medText), VInt(2L)),
      3L -> Seq[V](VText("small"), VInt(3L)))
    writeFile(db, Seq(TableData("o", "CREATE TABLE o (t,n)", rows.iterator)))
    val back = readTable(db, "o")
    assert(back.map(_._1) == Seq(1L, 2L, 3L))
    assert(back(0)._2.head == VText(bigText))
    assert(back(1)._2.head == VText(medText))
    assert(back(2)._2.head == VText("small"))
  }

  test("empty tables get a valid empty root page (H4)") {
    val db = tmpDb("empty")
    writeFile(db, Seq(
      TableData("e1", "CREATE TABLE e1 (a)", Iterator.empty),
      TableData("e2", "CREATE TABLE e2 (b)", Iterator.empty)))
    assert(readTable(db, "e1").isEmpty)
    assert(readTable(db, "e2").isEmpty)
    intercept[NoSuchElementException](readTable(db, "nope"))
  }

  test("index b-trees round-trip in BINARY key order, including interior levels (H4)") {
    val db = tmpDb("index")
    val n = 20000
    val entries = scala.collection.mutable.ArrayBuffer[Seq[V]]()
    val rows = Iterator.tabulate(n) { i =>
      val rowid = i + 1L
      val key = f"key-${(i * 7919) % n}%08d-${"x" * 40}" // non-sorted insert order
      entries += Seq(VText(key), VInt(rowid))
      (rowid, Seq[V](VInt(rowid), VText(key)))
    }
    writeFile(db, Seq(
      TableData("t", "CREATE TABLE t (id INTEGER PRIMARY KEY, u TEXT UNIQUE)", rows),
      IndexData("sqlite_autoindex_t_1", "t", None, () => entries.toSeq)))
    val got = readIndex(db, "sqlite_autoindex_t_1")
    assert(got.length == n)
    // entries must come back in BINARY collation order with rowid attached
    val keys = got.map { case Seq(VText(k), VInt(_)) => k }
    assert(keys == keys.sorted) // ASCII keys: String order == UTF-8 byte order
    assert(got.map { case Seq(_, VInt(r)) => r }.toSet == (1L to n.toLong).toSet)
  }

  test("empty and multi-column indexes round-trip (H4)") {
    val db = tmpDb("index2")
    val entries = Seq(
      Seq[V](VInt(2L), VText("b"), VInt(1L)),
      Seq[V](VInt(1L), VText("z"), VInt(2L)),
      Seq[V](VInt(1L), VText("a"), VInt(3L)))
    writeFile(db, Seq(
      TableData("t", "CREATE TABLE t (id INTEGER PRIMARY KEY, a INTEGER, b TEXT, UNIQUE(a, b))",
        Seq(1L -> Seq[V](VInt(1L), VInt(2L), VText("b")),
            2L -> Seq[V](VInt(2L), VInt(1L), VText("z")),
            3L -> Seq[V](VInt(3L), VInt(1L), VText("a"))).iterator),
      IndexData("sqlite_autoindex_t_1", "t", None, () => entries),
      IndexData("idx_empty", "t", Some("CREATE INDEX idx_empty ON t(b)"), () => Seq.empty)))
    // multi-column order: (1,'a') < (1,'z') < (2,'b')
    assert(readIndex(db, "sqlite_autoindex_t_1") == Seq(
      Seq(VInt(1L), VText("a"), VInt(3L)),
      Seq(VInt(1L), VText("z"), VInt(2L)),
      Seq(VInt(2L), VText("b"), VInt(1L))))
    assert(readIndex(db, "idx_empty").isEmpty)
  }

  /** Run SQL against a db file through a REAL sqlite implementation (the
    * sqlite3 CLI if installed, else python's stdlib sqlite3) — independent
    * cross-validation of the writer, since the Scala [[Sqlite]] reader
    * shares format assumptions with it. Returns None when no real sqlite
    * is available on the host. Output lines are pipe-separated like the
    * CLI's default mode. */
  private def realSqlite(db: File, sql: String): Option[Seq[String]] = {
    import scala.sys.process._
    def works(cmd: Seq[String]): Boolean =
      try Process(cmd).!(ProcessLogger(_ => (), _ => ())) == 0
      catch { case _: Exception => false }
    val cli = Seq("/root/miniconda/bin/sqlite3", "sqlite3")
      .find(b => works(Seq(b, "--version")))
      .map(b => Seq(b, db.getPath, sql))
    val py =
      if (works(Seq("python3", "--version")))
        Some(Seq("python3", "-c",
          """import sqlite3, sys
            |con = sqlite3.connect("file:" + sys.argv[1] + "?mode=ro", uri=True)
            |for q in sys.argv[2].split(";"):
            |    if q.strip():
            |        for r in con.execute(q):
            |            print("|".join(str(v) for v in r))
            |""".stripMargin, db.getPath, sql))
      else None
    cli.orElse(py).map { cmd =>
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val err = new StringBuilder
      val code = Process(cmd).!(ProcessLogger(out += _, e => err.append(e).append('\n')))
      assert(code == 0, s"real sqlite exited $code: $err")
      out.toSeq
    }
  }

  test("a REAL sqlite implementation accepts the artifact: integrity, schema, counts (H4/A22)") {
    val storeDir = java.nio.file.Files.createTempDirectory("sqlite_xval").toString
    val src = s"$storeDir/_bindings_src"
    graft.ops.HarvestQueries.bindings(spark, sfDir).drop("doc_id")
      .write.mode("overwrite").parquet(src)
    val db = tmpDb("xval")
    HarvestJob.run(spark, HarvestJob.Config(
      "https://vocab.example.org/collection/C1", src, storeDir,
      java.sql.Timestamp.valueOf("2026-02-01 00:00:00"),
      sqliteArtifact = Some(db.getPath)))
    realSqlite(db,
      "PRAGMA integrity_check; " +
        "SELECT COUNT(*) FROM terms; SELECT COUNT(*) FROM term_fields; " +
        "SELECT name FROM sqlite_master WHERE type='table' ORDER BY name; " +
        // an indexed lookup join: exercises the written index b-trees
        "SELECT COUNT(*) FROM term_fields f JOIN terms t ON f.term_id = t.id; " +
        "SELECT name, seq FROM sqlite_sequence ORDER BY name") match {
      case None =>
        cancel("no sqlite3 CLI or python3 on this host — cross-validation skipped")
      case Some(lines) =>
        val nTerms = readTable(db, "terms").length
        val nFields = readTable(db, "term_fields").length
        assert(nTerms > 0 && nFields > 0)
        assert(lines === Seq("ok", s"$nTerms", s"$nFields") ++
          Seq("appeal_messages", "appeals", "sqlite_sequence", "term_fields",
            "terms", "translations", "users") ++
          Seq(s"$nFields",
            s"term_fields|$nFields", s"terms|$nTerms"))
    }
  }

  test("store export produces a readable six-table artifact (H4/A22)") {
    val storeDir = java.nio.file.Files.createTempDirectory("sqlite_store").toString
    val bindings = graft.ops.HarvestQueries.bindings(spark, sfDir).drop("doc_id")
    val src = s"$storeDir/_bindings_src"
    bindings.write.mode("overwrite").parquet(src)
    val db = tmpDb("artifact")
    val res = HarvestJob.run(spark, HarvestJob.Config(
      "https://vocab.example.org/collection/C1", src, storeDir,
      java.sql.Timestamp.valueOf("2026-02-01 00:00:00"),
      sqliteArtifact = Some(db.getPath)))

    val terms = readTable(db, "terms")
    val fields = readTable(db, "term_fields")
    // row counts match the parquet store tables
    assert(terms.length.toLong ==
      Store.readTableOr(spark, storeDir, "terms", Schemas.terms).count())
    assert(fields.length.toLong ==
      Store.readTableOr(spark, storeDir, "term_fields", Schemas.termFields).count())
    assert(terms.length.toLong == res.termsInserted)
    // rowid == id (the reference's AUTOINCREMENT numbering), dense from 1
    assert(terms.map(_._1) == (1L to terms.length.toLong))
    terms.foreach { case (rowid, vs) => assert(vs.head == VInt(rowid)) }
    // timestamps in the reference's CURRENT_TIMESTAMP text format
    assert(terms.head._2(2) == VText("2026-02-01 00:00:00"))
    // FK values resolve against the terms rowids
    val termIds = terms.map(_._1).toSet
    fields.foreach { case (_, vs) =>
      val VInt(termId) = vs(1): @unchecked
      assert(termIds.contains(termId))
    }
    // the four never-written tables exist and are empty
    Seq("translations", "appeals", "appeal_messages", "users").foreach(t =>
      assert(readTable(db, t).isEmpty))
    // auto-indexes carry exactly one entry per row, keyed correctly
    val uriIdx = readIndex(db, "sqlite_autoindex_terms_1")
    assert(uriIdx.length == terms.length)
    val urisFromIdx = uriIdx.map { case Seq(VText(u), VInt(_)) => u }
    assert(urisFromIdx == urisFromIdx.sorted)
    assert(urisFromIdx.toSet == terms.map(_._2(1)).collect { case VText(u) => u }.toSet)
    val fieldIdx = readIndex(db, "sqlite_autoindex_term_fields_1")
    assert(fieldIdx.length == fields.length)
    assert(readIndex(db, "idx_term_fields_term_id").length == fields.length)
    // AUTOINCREMENT bookkeeping matches the data
    assert(readTable(db, "sqlite_sequence").map(_._2) == Seq(
      Seq(VText("terms"), VInt(terms.length.toLong)),
      Seq(VText("term_fields"), VInt(fields.length.toLong))))
  }

  test("an index leaf with 300+ small cells round-trips (H4)") {
    val db = tmpDb("wideleaf")
    val n = 330 // ~9-byte cells: all 330 fit one leaf page
    def key(rowid: Long): Long = (rowid * 37) % 100 + 2
    val entries = (1L to n).map(r => Seq[V](VInt(key(r)), VInt(r)))
    writeFile(db, Seq(
      TableData("t", "CREATE TABLE t (id INTEGER PRIMARY KEY, k INTEGER)",
        (1L to n).iterator.map(r => (r, Seq[V](VInt(r), VInt(key(r)))))),
      IndexData("idx_t_k", "t", Some("CREATE INDEX idx_t_k ON t(k)"), () => entries)))
    assert(db.length() == 3L * PageSize) // master, ONE table leaf, ONE index leaf
    assert(readIndex(db, "idx_t_k") ==
      entries.sortBy { case Seq(VInt(k), VInt(r)) => (k, r); case _ => (0L, 0L) })
  }

  /** A fixed multi-table input: overflow payloads in table and index
    * cells, multi-level index b-trees, unicode text keys, reference
    * timestamp text, and a deferred table. */
  private def pinnedObjects(): Seq[DbObject] = {
    val ts = Seq("2026-01-01 00:00:00", "2026-02-01 12:34:56", "2026-10-19 23:59:59")
    val a = (1 to 3000).map { i =>
      val label =
        if (i % 700 == 0) s"long-$i-" + ("é€ÿ" * 3000) // ~20 KB: multi-page chain
        else if (i % 250 == 0) s"med-$i-" + ("m" * 4200) // just past the leaf threshold
        else s"label-${(i * 7919) % 3000}-ü-$i"
      (i.toLong, Seq[V](VInt(i.toLong), VText(label), VText(ts(i % 3)),
        if (i % 5 == 0) VNull else VReal(i / 7.0)))
    }
    val b = (1 to 2500).map { i =>
      val key =
        if (i % 400 == 0) s"wide-$i-" + ("k" * 1500) // index cell spills to overflow
        else f"key-${(i * 131) % 2500}%05d-" + ("x" * 280)
      (i * 3L, Seq[V](VInt(i * 3L), VInt((i % 97).toLong), VText(key), VText(ts(i % 2))))
    }
    val aIdx = () => a.map { case (r, vs) => Seq[V](vs(1), VInt(r)) }
    val bIdx = () => b.map { case (r, vs) => Seq[V](vs(2), VInt(r)) }
    val bMulti = () => b.map { case (r, vs) => Seq[V](vs(1), vs(3), VInt(r)) }
    Seq(
      TableData("a", "CREATE TABLE a (id INTEGER PRIMARY KEY, label TEXT, ts DATETIME, r REAL)",
        a.iterator),
      IndexData("idx_a_label", "a", Some("CREATE INDEX idx_a_label ON a(label)"), aIdx),
      TableData("seq", "CREATE TABLE seq(name,seq)",
        Iterator((1L, Seq[V](VText("a"), VInt(3000L))), (2L, Seq[V](VText("b"), VInt(7500L)))),
        deferred = true),
      TableData("b", "CREATE TABLE b (id INTEGER PRIMARY KEY, g INTEGER, k TEXT UNIQUE, ts DATETIME)",
        b.iterator),
      IndexData("sqlite_autoindex_b_1", "b", None, bIdx),
      IndexData("idx_b_g_ts", "b", Some("CREATE INDEX idx_b_g_ts ON b(g, ts)"), bMulti),
      TableData("empty", "CREATE TABLE empty (x)", Iterator.empty))
  }

  test("writeFile output on a fixed multi-table input is pinned by sha256 (H4)") {
    val db = tmpDb("pinned")
    writeFile(db, pinnedObjects())
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(java.nio.file.Files.readAllBytes(db.toPath)).map("%02x".format(_)).mkString
    assert(readIndex(db, "sqlite_autoindex_b_1").length == 2500)
    assert(readTable(db, "a").length == 3000)
    assert(sha == "b41f73c0606fe89fe053a45deab8104d108ab866a4334ec5ad7955b30a00156c") // the boxed-buffer encoder's output
  }
}
