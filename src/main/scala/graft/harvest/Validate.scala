package graft.harvest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Validation operators: URI gate (A18), CHECK-constraint enforcement
  * (A19), uniqueness enforcement (A20). Mirrors the semantics of
  * /root/reference/harvest.py:28-51 (validate_collection_uri) and the
  * SQLite CHECK/UNIQUE constraints at harvest.py:192,210,221-246.
  */
object Validate {
  /** harvest.py:40 — scheme gate. */
  val UriPattern = "^https?://"
  /** harvest.py:47-49 — expected-host warning (non-fatal in the reference). */
  val ExpectedHost = "vocab.nerc.ac.uk"

  /** Fail-fast collection-URI validation (A18, harvest.py:28-51):
    * raises on a non-http(s) URI, returns a warning for an unexpected host.
    *
    * Also rejects any character that could break out of a SPARQL IRI
    * literal — the URI is interpolated into `<...>` in the generated query
    * ([[graft.sources.SparqlHttp.pageQuery]]), so `>`, `<`, whitespace,
    * quotes, backslash, and control characters would inject arbitrary
    * SPARQL. (The reference interpolates unchecked, harvest.py:69-88; this
    * engine's query reaches a real networked endpoint, so the gate is
    * load-bearing, not cosmetic.) The rejected set is exactly what the
    * SPARQL IRIREF production forbids inside `<...>` — `<>"{}|^\``, the
    * backslash, whitespace, and controls; characters legal in an IRI
    * (like the apostrophe) pass. A legitimate URI percent-encodes the
    * forbidden ones. */
  def validateCollectionUri(uri: String): Option[String] = {
    if (uri == null || uri.trim.isEmpty)
      throw new IllegalArgumentException("collection URI must be non-empty")
    // before the scheme regex: an embedded newline would fail `.matches`
    // there and mask the more precise message
    uri.find(c => c == '<' || c == '>' || c == '"' || c == '{' || c == '}' ||
        c == '|' || c == '^' || c == '\\' || c == '`' ||
        c.isWhitespace || c.isControl)
      .foreach(c => throw new IllegalArgumentException(
        "invalid collection URI (character %#04x would escape the SPARQL IRI literal; percent-encode it): %s"
          .format(c.toInt, uri)))
    if (!uri.matches(UriPattern + ".*"))
      throw new IllegalArgumentException(
        s"invalid collection URI (must start with http:// or https://): $uri")
    if (!uri.contains(ExpectedHost))
      Some(s"warning: collection URI does not contain $ExpectedHost: $uri")
    else None
  }

  /** Column predicate: row-level URI validity (A18). */
  def uriValid(c: Column): Column = regexp_like(c, lit(UriPattern))

  /** CHECK-constraint filter (A19): rows whose `col` is outside `allowed`.
    * The caller decides whether violations fail the job (reference behavior:
    * sqlite3.Error → exit 1, harvest.py:477-479). */
  def checkViolations(df: DataFrame, colName: String, allowed: Seq[String]): DataFrame =
    df.filter(!col(colName).isin(allowed: _*) || col(colName).isNull)

  /** Uniqueness-constraint check (A20): groups of `keys` with >1 row.
    * Runs as one hash aggregate — no row explosion at scale. */
  def uniqueViolations(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)

  /** Assert that no (violations, description) check has a row, with ONE
    * probe job: each violation frame is tagged with its check's position
    * and rendered to JSON, the tagged union is scanned once keeping at
    * most five rows per check per partition, and the exception names
    * every violated check, each with up to five sample rows of its own. */
  def enforce(checks: Seq[(DataFrame, String)]): Unit = {
    val perCheck = 5
    val nChecks = checks.length
    val tagged = checks.zipWithIndex.map { case ((df, _), i) =>
      df.select(lit(i).as("check"),
        to_json(struct(df.columns.toSeq.map(c => col(s"`$c`")): _*)).as("row"))
    }.reduce(_ unionByName _)
    val sampled = tagged.rdd.mapPartitions { rows =>
      val seen = new Array[Int](nChecks)
      rows.filter { r =>
        val i = r.getInt(0)
        seen(i) += 1
        seen(i) <= perCheck
      }
    }.collect()
    val failures = checks.zipWithIndex.flatMap { case ((_, description), i) =>
      val sample = sampled.iterator.filter(_.getInt(0) == i).map(_.getString(1)).take(perCheck).toSeq
      if (sample.isEmpty) None
      else Some(s"constraint violation ($description): ${sample.mkString("; ")}")
    }
    if (failures.nonEmpty) throw new IllegalStateException(failures.mkString("\n"))
  }
}
