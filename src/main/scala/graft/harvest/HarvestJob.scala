package graft.harvest

import java.io.File
import java.util.concurrent.{Callable, ExecutionException, Executors, Future}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.{Failure, Try}

/** EP1 — the full harvest pipeline (/root/reference/harvest.py:383-485)
  * as one declarative DataFrame DAG:
  *
  *   bindings → validate/filter (A9/A18) → distinct (A5)
  *     → terms upsert (A10/A11/A12/A17)
  *     → melt (A14) → FK join (A13) → insert-if-absent (A15)
  *     → uniqueness probe (A19/A20), one job for both constraints
  *     → the tail, three branches at once ([[commitTail]]):
  *         the `terms` swap, then the `term_fields` swap (A21/A22);
  *         the bootstrap of the missing workflow tables (A23);
  *         `translations.db` (H4) from the two checkpointed tables,
  *         into a staging file
  *     → the staging file renamed over `translations.db`, once the store
  *       is committed
  *   + stats (A16) collected along the way
  *
  * The reference's sequential page loop disappears into source
  * partitioning; its per-row SQLite probes become two shuffle joins.
  */
object HarvestJob {

  case class Config(
      collectionUri: String,
      bindingsPath: String,
      storeDir: String,
      /** injected clock (SURVEY §7 H3) — all generated timestamps in one
        * run share this value, like CURRENT_TIMESTAMP in one transaction */
      asOf: java.sql.Timestamp,
      meltVars: Seq[String] = Seq("prefLabel", "altLabel", "definition"),
      /** H4: also export the store as one reference-compatible SQLite
        * file (the reference's `translations.db` deliverable). */
      sqliteArtifact: Option[String] = None)

  case class Result(
      bindingsRead: Long,
      validRows: Long,
      distinctTerms: Long,
      termsInserted: Long,
      termsUpdated: Long,
      fieldsInserted: Long,
      warnings: Seq[String]) {
    /** harvest.py:376-380 summary. */
    def summary: String =
      s"Harvest complete: $bindingsRead bindings, $validRows valid rows, " +
        s"$distinctTerms terms ($termsInserted new, $termsUpdated updated), " +
        s"$fieldsInserted new field values"
  }

  def run(spark: SparkSession, cfg: Config): Result =
    run(spark, cfg, Store.writeTable(_, cfg.storeDir, _))

  /** `swap(table, name)` commits one merged table; tests replace it to
    * inject a failure into the commit branch. */
  private[harvest] def run(spark: SparkSession, cfg: Config,
      swap: (DataFrame, String) => Unit): Result = {
    val warnings = Validate.validateCollectionUri(cfg.collectionUri).toSeq

    // A16 stats are collected as the data flows, not as extra jobs:
    // the raw-bindings count rides the first materialization via observe()
    // (the source is read exactly once), and every other statistic is one
    // multi-aggregate pass over an already-cached intermediate.
    val bindingsObs = org.apache.spark.sql.Observation("bindings_read")
    val bindings = Source.readBindings(spark, cfg.bindingsPath)
      .observe(bindingsObs, count(lit(1)).as("n"))
    val valid = Transform.filterValidBindings(Transform.distinctRows(bindings)).cache()
    val asOf: Column = lit(cfg.asOf)

    // (validRows, distinctTerms) in one pass — also materializes the cache,
    // which fires the bindings observation.
    val vRow = valid.agg(count(lit(1)), countDistinct(col("concept"))).head()
    val validRows = vRow.getLong(0)
    val distinctTerms = vRow.getLong(1)
    val bindingsRead = bindingsObs.get("n").asInstanceOf[Long]

    val existingTerms =
      Store.readTableOr(spark, cfg.storeDir, "terms", Schemas.terms).cache()
    // (count, max id) in one pass
    val etRow = existingTerms.agg(count(lit(1)), max(col("id"))).head()
    val existingCount = etRow.getLong(0)
    val nextTermId = (if (etRow.isNullAt(1)) 0L else etRow.getLong(1)) + 1

    // localCheckpoint, not cache (late r12 — the streaming sink's "ledger
    // prune discipline", applied to the batch job too): cache() keeps the
    // lineage back to the CURRENT store's parquet, and the first
    // writeTable swap DELETES those files before the second table is
    // written — on a cluster, recomputing a lost cached partition of
    // `allFields` (whose lineage runs through `terms` → the old terms
    // parquet) would read deleted paths. The eager checkpoint cuts the
    // lineage before any swap runs; single-JVM local mode never hit it
    // (MEMORY_AND_DISK evicts to disk, recompute needs executor loss).
    // Trade-off (r13 ADVICE): localCheckpoint blocks are UNRECOVERABLE
    // on executor loss — this converts the silent wrong-path recompute
    // into a hard job failure (fail-fast; the job re-runs idempotently).
    // Reliable checkpointing would add fault tolerance at the cost of a
    // distributed-FS round-trip per table.
    val terms = Merge.upsertTerms(
      existingTerms, valid.select(col("concept").as("uri")), asOf,
      startId = Some(nextTermId)).localCheckpoint(true)
    // (count, updated-count) in one pass
    val tRow = terms.agg(count(lit(1)),
      count(when(col("updated_at") === asOf && col("created_at") =!= asOf, 1))).head()
    val termsInserted = tRow.getLong(0) - existingCount
    val termsUpdated = tRow.getLong(1)

    val melted = Transform.meltAll(valid, cfg.meltVars)
    val resolved = Merge.resolveFk(melted, terms)
    val existingFields =
      Store.readTableOr(spark, cfg.storeDir, "term_fields", Schemas.termFields).cache()
    val efRow = existingFields.agg(count(lit(1)), max(col("id"))).head()
    val existingFieldCount = efRow.getLong(0)
    val nextFieldId = (if (efRow.isNullAt(1)) 0L else efRow.getLong(1)) + 1
    val allFields = Merge.insertIfAbsent(existingFields, resolved, asOf,
      startId = Some(nextFieldId)).localCheckpoint(true)
    val fieldCount = allFields.count()
    val fieldsInserted = fieldCount - existingFieldCount

    // Release the cached inputs now that both eager checkpoints hold the
    // merged tables, and before any write: nothing after this point reads
    // the pre-run store, and a cached plan over the same store paths would
    // serve the pre-run rows to any later reader of those paths in this
    // session. terms/allFields are checkpointed, not cached — their blocks
    // free via the ContextCleaner.
    valid.unpersist()
    existingTerms.unpersist(); existingFields.unpersist()

    // A19/A20: fail the job (like the reference's sqlite3.Error path,
    // harvest.py:477-479) if the merged store would violate its
    // uniqueness constraints.
    Validate.enforce(Seq(
      Validate.uniqueViolations(terms, Seq("uri")) -> "terms.uri unique",
      Validate.uniqueViolations(allFields, Seq("term_id", "field_uri", "original_value")) ->
        "term_fields(term_id, field_uri, original_value) unique"))

    commitTail(spark, cfg, swap,
      Seq(("terms", terms, tRow.getLong(0)), ("term_fields", allFields, fieldCount)))

    Result(bindingsRead, validRows, distinctTerms,
      termsInserted, termsUpdated, fieldsInserted, warnings)
  }

  /** The tail after the uniqueness probe, as three branches at once:
    *  - the commit chain, on the calling thread: each `merged` table is
    *    swapped in, in order;
    *  - the bootstrap of the missing workflow tables (the four the run
    *    never writes), on a helper thread;
    *  - the SQLite artifact, on a helper thread, built from the `merged`
    *    tables themselves and from the workflow tables as resolved here,
    *    before any write — so it equals the committed store by
    *    construction and reads no path the other branches write (the
    *    merged tables are checkpointed: their lineage never reaches the
    *    store files the swaps retire). It goes to a staging file beside
    *    the artifact path.
    *
    * The staging file replaces the artifact only after all three branches
    * return. If any branch throws, all three are still joined, the staging
    * file is deleted, an existing artifact is left untouched, and the
    * first failure is rethrown (the others attached as suppressed). */
  private def commitTail(spark: SparkSession, cfg: Config, swap: (DataFrame, String) => Unit,
      merged: Seq[(String, DataFrame, Long)]): Unit = {
    val mergedNames = merged.map(_._1).toSet
    val workflow = Schemas.allTables.filterNot { case (name, _) => mergedNames(name) }
    val tables = merged.map { case (name, df, _) => name -> df }.toMap ++
      workflow.map { case (name, schema) => name -> Store.readTableOr(spark, cfg.storeDir, name, schema) }
    val db = cfg.sqliteArtifact.map(new File(_).getAbsoluteFile)
    val staging = db.map(f => new File(f.getParentFile, s".${f.getName}.next"))

    val pool = Executors.newFixedThreadPool(2)
    def branch(body: => Unit): Future[Unit] = pool.submit(new Callable[Unit] { def call(): Unit = body })
    val outcomes = try {
      val bootstrap = branch(Store.bootstrap(spark, cfg.storeDir, workflow))
      val artifact = staging.map(f => branch(Store.writeSqliteArtifact(spark,
        (name, _) => tables(name), f.getPath,
        knownRows = merged.map { case (name, _, n) => name -> n }.toMap)))
      val commit = Try(merged.foreach { case (name, df, _) => swap(df, name) })
      def join(f: Future[Unit]): Try[Unit] =
        Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) }
      commit +: join(bootstrap) +: artifact.map(join).toSeq
    } finally pool.shutdown()

    outcomes.collect { case Failure(e) => e } match {
      case Seq() =>
        for (f <- staging; target <- db)
          try Sqlite.install(f, target)
          catch { case t: Throwable => f.delete(); throw t }
      case first +: rest =>
        staging.foreach(_.delete())
        rest.foreach(first.addSuppressed)
        throw first
    }
  }
}
