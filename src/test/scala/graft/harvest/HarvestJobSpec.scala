package graft.harvest

import graft.SparkSpec
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._

class HarvestJobSpec extends SparkSpec {
  import spark.implicits._

  private def writeBindings(path: String): Unit =
    Seq(
      ("https://v.example/t/1", Some("label one"), Some("alt1a"), Some("def one")),
      ("https://v.example/t/1", Some("label one"), Some("alt1b"), Some("def one")),
      ("https://v.example/t/2", None, None, None),
      ("https://v.example/t/3", Some("label three"), None, Some("def three")),
      ("ftp://bad.example/t/4", Some("nope"), None, None))
      .toDF("concept", "prefLabel", "altLabel", "definition")
      .write.mode("overwrite").parquet(path)

  test("end-to-end harvest, then incremental re-run is a no-op except updated_at (EP1/H2)") {
    val dir = Files.createTempDirectory("graft_store").toString
    val bindings = s"$dir/bindings.parquet"
    writeBindings(bindings)

    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val r1 = HarvestJob.run(spark, HarvestJob.Config(
      "http://vocab.nerc.ac.uk/collection/P01/current/", bindings, dir, t0))
    assert(r1.distinctTerms === 3)
    assert(r1.termsInserted === 3)
    assert(r1.termsUpdated === 0)
    assert(r1.fieldsInserted === 6) // t1: pref+2 alts+def, t3: pref+def

    val terms1 = spark.read.parquet(s"$dir/terms").orderBy("id").collect()
    assert(terms1.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))

    // all six store tables exist (A23), four stay empty
    for ((name, _) <- Schemas.allTables)
      assert(spark.read.parquet(s"$dir/$name").columns.nonEmpty, name)
    assert(spark.read.parquet(s"$dir/translations").count() === 0)

    val t1 = Timestamp.valueOf("2026-02-01 00:00:00")
    val db = new java.io.File(s"$dir/translations.db")
    val r2 = HarvestJob.run(spark, HarvestJob.Config(
      "http://vocab.nerc.ac.uk/collection/P01/current/", bindings, dir, t1,
      sqliteArtifact = Some(db.getPath)))
    assert(r2.termsInserted === 0)
    assert(r2.termsUpdated === 3) // all re-seen → updated_at bumped
    assert(r2.fieldsInserted === 0) // INSERT OR IGNORE semantics

    val terms2 = spark.read.parquet(s"$dir/terms").orderBy("id").collect()
    assert(terms2.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      terms1.map(r => (r.getLong(0), r.getString(1))).toSeq) // stable ids
    assert(terms2.forall(_.getTimestamp(3) === t1)) // bumped
    assert(terms2.forall(_.getTimestamp(2) === t0)) // created_at preserved

    val fields = spark.read.parquet(s"$dir/term_fields")
    assert(fields.count() === 6)
    assert(Validate.uniqueViolations(fields,
      Seq("term_id", "field_uri", "original_value")).count() === 0) // A20 holds

    // the artifact exports the store this run committed, not the one it read
    val dbTerms = Sqlite.readTable(db, "terms")
    assert(dbTerms.length === terms2.length)
    assert(dbTerms.forall(_._2(3) == Sqlite.VText("2026-02-01 00:00:00")))
    assert(Sqlite.readTable(db, "term_fields").length.toLong === fields.count())
  }

  test("an empty bindings file harvests nothing and reports a zero funnel") {
    val dir = Files.createTempDirectory("graft_empty").toString
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.bindings)
      .write.parquet(s"$dir/bindings.parquet")
    val r = HarvestJob.run(spark, HarvestJob.Config(collection, s"$dir/bindings.parquet",
      s"$dir/store", Timestamp.valueOf("2026-01-01 00:00:00")))
    assert(r.copy(warnings = Seq.empty) === HarvestJob.Result(0, 0, 0, 0, 0, 0, Seq.empty))
    for ((name, _) <- Schemas.allTables)
      assert(spark.read.parquet(s"$dir/store/$name").count() === 0, name)
  }

  test("invalid collection URI fails fast (A18/A25)") {
    intercept[IllegalArgumentException] {
      HarvestJob.run(spark, HarvestJob.Config("notauri", "/nonexistent", "/tmp/x",
        Timestamp.valueOf("2026-01-01 00:00:00")))
    }
  }

  test("post-write hook runs out of the data plane; failures don't fail the harvest (A24)") {
    val marker = java.io.File.createTempFile("hook", ".marker")
    marker.delete()
    assert(Main.runPostWriteHook(Some(s"touch ${marker.getPath}")) == Some(0))
    assert(marker.exists())
    marker.delete()
    // failing hook: reported exit code, no exception
    assert(Main.runPostWriteHook(Some("exit 7")) == Some(7))
    // no hook configured: nothing runs
    assert(Main.runPostWriteHook(None).isEmpty)
  }

  private val collection = "http://vocab.nerc.ac.uk/collection/P01/current/"

  private def sha256(f: java.io.File): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString

  /** Hidden artifact files (the staging copies) left in `dir`. */
  private def stagingLeft(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(n => n.startsWith(".") && n.contains("translations"))

  test("the run's translations.db equals an export of the store it committed: " +
    "first run, re-run over a non-empty workflow table, and fresh runs agree (H4)") {
    val dir = Files.createTempDirectory("graft_artifact_eq").toString
    val bindings = s"$dir/bindings.parquet"
    writeBindings(bindings)
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val store = s"$dir/store"
    val db = new java.io.File(s"$dir/translations.db")
    HarvestJob.run(spark, HarvestJob.Config(collection, bindings, store, t0,
      sqliteArtifact = Some(db.getPath)))
    val export1 = new java.io.File(s"$dir/export1.db")
    Store.writeSqliteArtifact(spark, store, export1.getPath)
    assert(sha256(db) === sha256(export1), "first run")

    // a fresh run of the same input and asOf gives the same bytes
    val fresh = new java.io.File(s"$dir/fresh.db")
    HarvestJob.run(spark, HarvestJob.Config(collection, bindings, s"$dir/store_fresh", t0,
      sqliteArtifact = Some(fresh.getPath)))
    assert(sha256(fresh) === sha256(db), "fresh run")

    // a re-run over a store whose users table already holds a row
    Store.writeTable(spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row("ana", 3, Timestamp.valueOf("2025-12-31 08:00:00"), null)),
      Schemas.users), store, "users")
    val t1 = Timestamp.valueOf("2026-02-01 00:00:00")
    HarvestJob.run(spark, HarvestJob.Config(collection, bindings, store, t1,
      sqliteArtifact = Some(db.getPath)))
    val export2 = new java.io.File(s"$dir/export2.db")
    Store.writeSqliteArtifact(spark, store, export2.getPath)
    assert(sha256(db) === sha256(export2), "re-run")
    assert(Sqlite.readTable(db, "users").map(_._2) ===
      Seq(Seq(Sqlite.VText("ana"), Sqlite.VInt(3L), Sqlite.VText("2025-12-31 08:00:00"), Sqlite.VNull)))
    assert(stagingLeft(dir).isEmpty)
  }

  test("artifact path unwritable: the run throws after committing the store, " +
    "and leaves no staging file (H4)") {
    val dir = Files.createTempDirectory("graft_artifact_fail").toString
    val bindings = s"$dir/bindings.parquet"
    writeBindings(bindings)
    // a non-empty directory where the file should go: no rename can replace it
    val blocked = new java.io.File(s"$dir/translations.db")
    blocked.mkdir()
    Files.writeString(new java.io.File(blocked, "keep").toPath, "x")
    intercept[java.io.IOException] {
      HarvestJob.run(spark, HarvestJob.Config(collection, bindings, s"$dir/store",
        Timestamp.valueOf("2026-01-01 00:00:00"), sqliteArtifact = Some(blocked.getPath)))
    }
    assert(spark.read.parquet(s"$dir/store/terms").count() === 3)
    assert(spark.read.parquet(s"$dir/store/term_fields").count() === 6)
    for ((name, _) <- Schemas.allTables)
      assert(new java.io.File(s"$dir/store/$name").isDirectory, name)
    assert(blocked.list().toSeq === Seq("keep"))
    assert(stagingLeft(dir).isEmpty)
  }

  test("commit branch throws: an existing translations.db stays byte-unchanged, " +
    "none appears where there was none, and no staging file is left (H4)") {
    val dir = Files.createTempDirectory("graft_commit_fail").toString
    val bindings = s"$dir/bindings.parquet"
    writeBindings(bindings)
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val db = new java.io.File(s"$dir/translations.db")
    HarvestJob.run(spark, HarvestJob.Config(collection, bindings, s"$dir/store", t0,
      sqliteArtifact = Some(db.getPath)))
    val before = sha256(db)
    val failing: (org.apache.spark.sql.DataFrame, String) => Unit = (df, name) =>
      if (name == "term_fields") throw new java.io.IOException("injected swap failure")
      else Store.writeTable(df, s"$dir/store", name)
    val t1 = Timestamp.valueOf("2026-02-01 00:00:00")
    val e = intercept[java.io.IOException] {
      HarvestJob.run(spark, HarvestJob.Config(collection, bindings, s"$dir/store", t1,
        sqliteArtifact = Some(db.getPath)), failing)
    }
    assert(e.getMessage === "injected swap failure")
    assert(sha256(db) === before)
    assert(stagingLeft(dir).isEmpty)

    // into a fresh store, with no artifact yet: none appears
    val db2 = new java.io.File(s"$dir/second.db")
    intercept[java.io.IOException] {
      HarvestJob.run(spark, HarvestJob.Config(collection, bindings, s"$dir/store2", t0,
        sqliteArtifact = Some(db2.getPath)), failing)
    }
    assert(!db2.exists())
    assert(new java.io.File(dir).list().toSeq.filter(_.contains("second")).isEmpty)
  }

  test("one probe enforces both uniqueness constraints; each failure names its own (A19/A20)") {
    val terms = Seq((1L, "u1"), (2L, "u1"), (3L, "u3")).toDF("id", "uri")
    val fields = Seq((1L, 1L, "f", "v"), (2L, 1L, "f", "v"), (3L, 2L, "f", "w"))
      .toDF("id", "term_id", "field_uri", "original_value")
    val e = intercept[IllegalStateException] {
      Validate.enforce(Seq(
        Validate.uniqueViolations(terms, Seq("uri")) -> "terms.uri unique",
        Validate.uniqueViolations(fields, Seq("term_id", "field_uri", "original_value")) ->
          "term_fields(term_id, field_uri, original_value) unique"))
    }
    val lines = e.getMessage.split("\n").toSeq
    assert(lines.length === 2)
    assert(lines(0).startsWith("constraint violation (terms.uri unique): "))
    assert(lines(0).contains("\"uri\":\"u1\""))
    assert(lines(1).startsWith(
      "constraint violation (term_fields(term_id, field_uri, original_value) unique): "))
    assert(lines(1).contains("\"original_value\":\"v\""))
    // clean frames pass; one violated check of two names only itself
    Validate.enforce(Seq(Validate.uniqueViolations(terms, Seq("id")) -> "terms.id unique"))
    val one = intercept[IllegalStateException] {
      Validate.enforce(Seq(
        Validate.uniqueViolations(terms, Seq("id")) -> "terms.id unique",
        Validate.uniqueViolations(terms, Seq("uri")) -> "terms.uri unique"))
    }
    assert(one.getMessage.split("\n").toSeq.map(_.takeWhile(_ != ':')) ===
      Seq("constraint violation (terms.uri unique)"))
  }
}
