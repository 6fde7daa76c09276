package graft.harvest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The durable store (A21/A22/A23): one Parquet directory per table under
  * a root dir, with staging-then-rename atomicity per write batch — the
  * engine's analogue of the reference's per-page SQLite transaction
  * (harvest.py:374) and `CREATE TABLE IF NOT EXISTS` bootstrap
  * (harvest.py:161-289).
  */
object Store {

  def tablePath(storeDir: String, name: String): String = s"$storeDir/$name"

  /** A23: open-or-create. Missing table → empty DataFrame with the declared
    * schema (no inference anywhere — determinism requirement). If a crash
    * interrupted a previous swap between the two renames, the retired copy
    * at `_old_<name>` is restored first — the table is never silently
    * treated as empty while data exists on disk.
    */
  def readTableOr(spark: SparkSession, storeDir: String, name: String, schema: StructType): DataFrame = {
    val path = new Path(tablePath(storeDir, name))
    val old = new Path(s"$storeDir/_old_$name")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path) && fs.exists(old)) fs.rename(old, path) // crash recovery
    if (fs.exists(path))
      spark.read.schema(schema).parquet(path.toString)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** A21/A22 + SURVEY §7 H2: write-to-staging then swap. The staging write
    * materializes the new contents while the old files are still readable
    * (read-merge-overwrite on the same path would otherwise tear); the swap
    * is rename-out then rename-in, so a crash at any point leaves either
    * the old table in place or recoverable at `_old_<name>` (see
    * [[readTableOr]]) — never a window where the table is simply gone.
    */
  /** `stagingTag`: per-writer staging suffix (r12 — two CONCURRENT
    * writers on a fixed staging name tear each other's in-flight copy:
    * each starts by deleting "the" staging dir. The streaming sink tags
    * staging with its claimed store epoch so a zombie's staging can
    * never collide with the successor's; the batch job keeps the bare
    * name).
    *
    * `fence`: re-checked ownership guard (r12 review) — the naive
    * check-once-then-swap left a SECONDS-wide window (the staging Spark
    * job) in which a stale writer that had passed its check could
    * retire a successor's newer table and delete it. The fence now runs
    * (1) after the staging write, immediately before any shared-path
    * mutation, (2) after retiring the current table — superseded here
    * ROLLS the retired table BACK instead of committing stale data —
    * and (3) after the swap, where superseded deletes the writer's own
    * just-committed copy and restores the retired one. Every guarded
    * step between fences is a filesystem metadata op (ms), not a Spark
    * job. The post-swap retraction is OWNERSHIP-CHECKED (r12, second
    * self-review pass): each write plants a UUID-named `_writer_*`
    * marker inside its staged copy and retracts `target` only while
    * that marker is present — without the check, a JVM stalled between
    * the swap and fence (3) while a successor claimed AND completed a
    * FULL write would delete the SUCCESSOR's table (whose final step
    * already dropped `_old_`), leaving nothing to restore: the one
    * interleaving where the old "delete target, restore old" rollback
    * destroyed live data instead of stale. With the check the stale
    * writer leaves the successor's table untouched and just dies. The
    * retraction is additionally gated on a correct post-retraction
    * state (r13 ADVICE + review): `_old_` present → restore it; no
    * `_old_` because this was the table's FIRST write → delete target
    * (the pre-state was "no table"); no `_old_` but a prior table
    * existed — a third writer fenced the successor into rolling the
    * stale copy BACK, consuming `_old_` — retracting would leave no
    * table at all, so the stale writer keeps its own copy in place
    * instead. Residue after both guards: a fenced writer may leave a
    * STALE-but-complete table that the live successor's next write
    * replaces, or fence (2)'s rollback may restore a retired table the
    * successor is about to retire again — both converge by
    * content-idempotence; neither destroys data. At lakehouse scale
    * this fence is the commit-owner service's job (the BatchLedger
    * trust note). */
  def writeTable(df: DataFrame, storeDir: String, name: String,
      stagingTag: String = "", fence: () => Unit = () => ()): Unit = {
    val spark = df.sparkSession
    val target = new Path(tablePath(storeDir, name))
    val staging = new Path(s"$storeDir/_staging_$name$stagingTag")
    val old = new Path(s"$storeDir/_old_$name")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(staging)) fs.delete(staging, true)
    df.write.mode("overwrite").parquet(staging.toString)
    // ownership marker for the post-swap retraction: underscore-prefixed,
    // so every parquet reader ignores it; removed after the final fence
    val writerMark =
      s"_writer_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    fs.create(new Path(staging, writerMark)).close()
    try fence()
    catch { case t: Throwable => fs.delete(staging, true); throw t }
    if (fs.exists(old)) fs.delete(old, true)
    // distinguishes the TWO no-_old_ cases at fence (3): a first-ever
    // write (no prior table — retraction restores "no table") vs a
    // third writer's rollback consuming `_old_` (keep our complete copy)
    val hadPrior = fs.exists(target)
    if (hadPrior && !fs.rename(target, old))
      throw new java.io.IOException(s"retiring old $name failed")
    try fence()
    catch {
      case t: Throwable =>
        if (fs.exists(old)) fs.rename(old, target) // roll the table back
        fs.delete(staging, true)
        throw t
    }
    if (!fs.rename(staging, target))
      throw new java.io.IOException(s"atomic swap failed for $name")
    try fence()
    catch {
      case t: Throwable =>
        // retract ONLY a copy this write still owns (the marker is gone
        // exactly when a successor's completed write replaced the table)
        // AND only while the retraction leaves a correct store (r13
        // ADVICE + review): with `_old_` present, restore it; with no
        // `_old_` because this was the table's FIRST write, deleting
        // target restores the correct "no table" pre-state; with no
        // `_old_` but a prior table existed — the three-writer
        // interleaving where a fenced successor's rollback CONSUMED
        // `_old_` (Z1 stalls here, Z2 retires Z1's table, Z2 is fenced
        // and rolls it back, marker and all) — deleting target would
        // leave the store with NO table, so the writer keeps its own
        // completed copy: stale but content-idempotent, superseded by
        // the live writer's next write.
        if (fs.exists(new Path(target, writerMark))) {
          if (fs.exists(old)) {
            fs.delete(target, true)
            fs.rename(old, target)
          } else if (!hadPrior) {
            fs.delete(target, true)
          }
        }
        throw t
    }
    fs.delete(old, true)
    fs.delete(new Path(target, writerMark), false)
  }

  /** Bootstrap any missing tables as empty Parquet with the fixed schema —
    * the reference creates all six tables even though the harvest only
    * writes two (harvest.py:215-274 have no INSERTs). `tables` limits the
    * walk: the harvest job bootstraps only the four workflow tables, so
    * the walk never touches a table its own commit is swapping. */
  def bootstrap(spark: SparkSession, storeDir: String,
      tables: Seq[(String, StructType)] = Schemas.allTables): Unit =
    tables.foreach { case (name, schema) =>
      val path = new Path(tablePath(storeDir, name))
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(path))
        writeTable(readTableOr(spark, storeDir, name, schema), storeDir, name)
    }

  // ------------------------------------------------- SQLite artifact (H4)

  private val I = "\n            " // the reference DDL's exact indentation
  /** Reference DDL, byte-for-byte as SQLite stores it after executing
    * harvest.py:188-274 (`IF NOT EXISTS` is normalized away by SQLite;
    * everything else — AUTOINCREMENT, UNIQUE, CHECK, REFERENCES,
    * whitespace — is verbatim). */
  private val sqliteDdl: Map[String, String] = Map(
    "terms" ->
      (s"CREATE TABLE terms (${I}id          INTEGER PRIMARY KEY AUTOINCREMENT,${I}uri         TEXT    NOT NULL UNIQUE," +
        s"${I}created_at  DATETIME DEFAULT CURRENT_TIMESTAMP,${I}updated_at  DATETIME DEFAULT CURRENT_TIMESTAMP\n        )"),
    "sqlite_sequence" -> "CREATE TABLE sqlite_sequence(name,seq)",
    "term_fields" ->
      (s"CREATE TABLE term_fields (${I}id            INTEGER PRIMARY KEY AUTOINCREMENT," +
        s"${I}term_id       INTEGER NOT NULL REFERENCES terms(id) ON DELETE CASCADE," +
        s"${I}field_uri     TEXT    NOT NULL,${I}field_term    TEXT    NOT NULL,${I}original_value TEXT   NOT NULL," +
        s"${I}created_at    DATETIME DEFAULT CURRENT_TIMESTAMP,${I}updated_at    DATETIME DEFAULT CURRENT_TIMESTAMP," +
        s"${I}UNIQUE(term_id, field_uri, original_value)\n        )"),
    "translations" ->
      (s"CREATE TABLE translations (${I}id             INTEGER PRIMARY KEY AUTOINCREMENT," +
        s"${I}term_field_id  INTEGER NOT NULL REFERENCES term_fields(id) ON DELETE CASCADE," +
        s"${I}language       TEXT    NOT NULL CHECK(language IN ('nl','fr','de','es','it','pt'))," +
        s"${I}value          TEXT    NOT NULL," +
        s"${I}status         TEXT    NOT NULL DEFAULT 'draft' CHECK(status IN ('draft', 'review', 'approved', 'rejected', 'merged'))," +
        s"${I}created_at     DATETIME DEFAULT CURRENT_TIMESTAMP,${I}updated_at     DATETIME DEFAULT CURRENT_TIMESTAMP," +
        s"${I}created_by     TEXT    NOT NULL,${I}modified_at    DATETIME,${I}modified_by    TEXT," +
        s"${I}reviewed_by    TEXT,${I}UNIQUE(term_field_id, language)\n        )"),
    "appeals" ->
      (s"CREATE TABLE appeals (${I}id              INTEGER PRIMARY KEY AUTOINCREMENT," +
        s"${I}translation_id  INTEGER NOT NULL REFERENCES translations(id) ON DELETE CASCADE," +
        s"${I}opened_by       TEXT    NOT NULL,${I}opened_at       DATETIME DEFAULT CURRENT_TIMESTAMP," +
        s"${I}closed_at       DATETIME," +
        s"${I}status          TEXT    NOT NULL DEFAULT 'open' CHECK(status IN ('open', 'closed', 'resolved'))," +
        s"${I}resolution      TEXT,${I}UNIQUE(translation_id, status)\n        )"),
    "appeal_messages" ->
      (s"CREATE TABLE appeal_messages (${I}id          INTEGER PRIMARY KEY AUTOINCREMENT," +
        s"${I}appeal_id   INTEGER NOT NULL REFERENCES appeals(id) ON DELETE CASCADE," +
        s"${I}author      TEXT    NOT NULL,${I}message     TEXT    NOT NULL," +
        s"${I}created_at  DATETIME DEFAULT CURRENT_TIMESTAMP\n        )"),
    "users" ->
      (s"CREATE TABLE users (${I}username    TEXT PRIMARY KEY,${I}reputation  INTEGER DEFAULT 0," +
        s"${I}joined_at   DATETIME DEFAULT CURRENT_TIMESTAMP,${I}extra       TEXT\n        )"))

  /** UNIQUE/PK auto-indexes + the reference's four explicit CREATE INDEXes
    * (harvest.py:276-287). (table, index name, key columns, sql — None for
    * auto-indexes, which SQLite stores with NULL sql.) */
  private val sqliteIndexes: Seq[(String, String, Seq[String], Option[String])] = Seq(
    ("terms", "sqlite_autoindex_terms_1", Seq("uri"), None),
    ("term_fields", "sqlite_autoindex_term_fields_1",
      Seq("term_id", "field_uri", "original_value"), None),
    ("translations", "sqlite_autoindex_translations_1", Seq("term_field_id", "language"), None),
    ("appeals", "sqlite_autoindex_appeals_1", Seq("translation_id", "status"), None),
    ("users", "sqlite_autoindex_users_1", Seq("username"), None),
    ("translations", "idx_translations_status", Seq("status"),
      Some("CREATE INDEX idx_translations_status ON translations(status)")),
    ("translations", "idx_translations_lang", Seq("language"),
      Some("CREATE INDEX idx_translations_lang ON translations(language)")),
    ("appeals", "idx_appeals_status", Seq("status"),
      Some("CREATE INDEX idx_appeals_status ON appeals(status)")),
    ("term_fields", "idx_term_fields_term_id", Seq("term_id"),
      Some("CREATE INDEX idx_term_fields_term_id ON term_fields(term_id)")))

  /** Ceiling on rows per table for the artifact export. The export holds
    * every table on the driver at once — the collected rows, their SQLite
    * values, and the whole page image (capped at 1 GiB by the writer) —
    * so it is for reference-sized deliverables: the reference commits a
    * file of a few MB. The guard runs before a table's rows are
    * collected, and fails the export instead of the driver's heap; at
    * this ceiling the parquet store is the scale path. */
  val MaxSqliteRowsPerTable = 10000000L

  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** A22/H4: export the store as ONE SQLite database file — the drop-in
    * equivalent of the reference's committed `translations.db`, including
    * every derived storage structure SQLite itself would maintain
    * (UNIQUE/PK auto-indexes, the four secondary indexes,
    * `sqlite_sequence` for AUTOINCREMENT). */
  def writeSqliteArtifact(spark: SparkSession, storeDir: String, dbPath: String): Unit =
    writeSqliteArtifact(spark,
      (name, schema) => readTableOr(spark, storeDir, name, schema), dbPath)

  /** As above, with the table contents supplied directly (by declared
    * schema) instead of read from a parquet store — lets callers export an
    * artifact from in-flight DataFrames without a store round-trip.
    *
    * Each table is collected to the driver in one job and sorted there:
    * by `id` where the table has one (id becomes the rowid, preserving the
    * reference's AUTOINCREMENT numbering), else by its first column, in
    * Spark's ascending order (nulls first, text by UTF-8 bytes) with the
    * rowid numbered in that order. `knownRows` gives tables whose row
    * count the caller already holds: the row-ceiling guard uses it and the
    * table is collected whole. Any other table is collected through a
    * limit one row past the ceiling, so the guard never needs a count job.
    * The b-tree build in [[Sqlite.writeFile]] is driver-side and
    * sequential by nature: a single file has no parallel write path. */
  def writeSqliteArtifact(spark: SparkSession, read: (String, StructType) => DataFrame,
                          dbPath: String, knownRows: Map[String, Long] = Map.empty): Unit = {
    import scala.collection.immutable.ArraySeq
    import scala.collection.mutable

    def ceiling(name: String, n: Long): Unit =
      require(n <= MaxSqliteRowsPerTable,
        s"SQLite artifact export: table $name has $n rows (> $MaxSqliteRowsPerTable); " +
          "the single-file artifact is for reference-compatible deliverables — " +
          "use the parquet store at scale")

    // every row of a harvest run carries the run's one `asOf`: format each
    // distinct timestamp once
    val stamps = mutable.HashMap[Any, Sqlite.V]()
    def stamp(t: Any): Sqlite.V = stamps.getOrElseUpdate(t, Sqlite.VText(t match {
      case t: java.sql.Timestamp => t.toLocalDateTime.format(tsFmt)
      case t: java.time.LocalDateTime => t.format(tsFmt)
      case t: java.time.Instant =>
        java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).format(tsFmt)
    }))
    def sqlValue(v: Any): Sqlite.V = v match {
      case null => Sqlite.VNull
      case l: Long => Sqlite.VInt(l)
      case i: Int => Sqlite.VInt(i.toLong)
      case s: String => Sqlite.VText(s)
      case t @ (_: java.sql.Timestamp | _: java.time.LocalDateTime | _: java.time.Instant) => stamp(t)
      case d: Double => Sqlite.VReal(d)
      case f: Float => Sqlite.VReal(f.toDouble)
      case b: Array[Byte] => Sqlite.VBlob(b)
      case other => Sqlite.VText(other.toString)
    }

    val indexEntries = mutable.Map[String, Seq[Seq[Sqlite.V]]]().withDefaultValue(Seq.empty)
    val maxRowid = mutable.Map[String, Long]().withDefaultValue(0L)

    def tableObj(name: String): Sqlite.TableData = {
      val schema = Schemas.allTables.toMap.apply(name)
      val df = read(name, schema)
      val rows = knownRows.get(name) match {
        case Some(n) => ceiling(name, n); df.collect()
        case None =>
          val r = df.limit((MaxSqliteRowsPerTable + 1).toInt).collect()
          ceiling(name, r.length.toLong); r
      }
      // field positions resolved once per table, not per row
      val at = schema.fieldNames.map(df.schema.fieldIndex)
      val idAt = schema.fieldNames.indexOf("id") match { case -1 => -1; case i => at(i) }
      val converted = rows.map { r =>
        val vs = new Array[Sqlite.V](at.length)
        var i = 0
        while (i < at.length) { vs(i) = sqlValue(r.get(at(i))); i += 1 }
        (if (idAt >= 0) r.getLong(idAt) else 0L, vs)
      }
      val keyed: Array[(Long, Array[Sqlite.V])] =
        if (idAt >= 0) converted.sortBy(_._1)
        else converted.map(_._2)
          .sortWith((a, b) => Sqlite.compareRecords(Seq(a(0)), Seq(b(0))) < 0)
          .zipWithIndex.map { case (vs, i) => (i + 1L, vs) }
      sqliteIndexes.filter(_._1 == name).foreach { case (_, idxName, keys, _) =>
        val keyAt = keys.map(schema.fieldIndex).toArray
        indexEntries(idxName) = ArraySeq.unsafeWrapArray(keyed.map { case (rowid, vs) =>
          val e = new Array[Sqlite.V](keyAt.length + 1)
          var i = 0
          while (i < keyAt.length) { e(i) = vs(keyAt(i)); i += 1 }
          e(keyAt.length) = Sqlite.VInt(rowid)
          ArraySeq.unsafeWrapArray(e)
        })
      }
      if (keyed.nonEmpty) maxRowid(name) = keyed.last._1
      Sqlite.TableData(name, sqliteDdl(name),
        keyed.iterator.map { case (rowid, vs) => (rowid, ArraySeq.unsafeWrapArray(vs)) })
    }

    // tables first: their rows fill the index entries and max rowids
    val tables = Seq("terms", "term_fields", "translations", "appeals",
      "appeal_messages", "users").map(n => n -> tableObj(n)).toMap

    // sqlite_sequence: one row per AUTOINCREMENT table that has rows, in
    // insert order
    val seqTables = Seq("terms", "term_fields", "translations", "appeals", "appeal_messages")
    val sequenceRows = seqTables.filter(maxRowid(_) > 0L).zipWithIndex.map {
      case (t, i) => (i + 1L, Seq[Sqlite.V](Sqlite.VText(t), Sqlite.VInt(maxRowid(t))))
    }

    def indexObj(name: String): Sqlite.IndexData = {
      val (table, _, _, sql) = sqliteIndexes.find(_._2 == name).get
      Sqlite.IndexData(name, table, sql, () => indexEntries(name))
    }

    // sqlite_master row order exactly as the reference's DDL produces it
    val objects: Seq[Sqlite.DbObject] = Seq(
      tables("terms"),
      indexObj("sqlite_autoindex_terms_1"),
      Sqlite.TableData("sqlite_sequence", sqliteDdl("sqlite_sequence"), sequenceRows.iterator,
        deferred = true),
      tables("term_fields"),
      indexObj("sqlite_autoindex_term_fields_1"),
      tables("translations"),
      indexObj("sqlite_autoindex_translations_1"),
      tables("appeals"),
      indexObj("sqlite_autoindex_appeals_1"),
      tables("appeal_messages"),
      tables("users"),
      indexObj("sqlite_autoindex_users_1"),
      indexObj("idx_translations_status"),
      indexObj("idx_translations_lang"),
      indexObj("idx_appeals_status"),
      indexObj("idx_term_fields_term_id"))
    Sqlite.writeFile(new java.io.File(dbPath), objects)
  }
}
