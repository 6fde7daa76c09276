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
}
