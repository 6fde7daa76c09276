package graft.harvest

import graft.Cut
import java.io.File
import java.util.concurrent.{Callable, ExecutionException, Executors, Future}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.{Failure, Try}

/** EP1 — the full harvest pipeline (/root/reference/harvest.py:383-485)
  * as one declarative DataFrame DAG:
  *
  *   bindings → distinct (A5) → validate/filter (A9/A18)
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
    harvest(Source.readBindings(spark, cfg.bindingsPath), cfg.storeDir, cfg.asOf,
      cfg.meltVars, cfg.sqliteArtifact, swap).copy(warnings = warnings)
  }

  /** The whole harvest of one bindings frame into the store at `storeDir`:
    * the pipeline in the header, through [[commitTail]]. The batch job,
    * the streaming sink ([[graft.streaming.Streaming.harvestSink]], one
    * call per trigger) and the a22 artifact gate all run this, so a
    * streamed store equals the batch job's by construction.
    *
    * The funnel costs no job of its own: every count is an `observe()` on
    * one of the three cuts the pipeline makes anyway, and is read only
    * after the last of them (`Observation.get` blocks until the action
    * that runs its plan finishes, so each sits inside the plan of the cut
    * meant to fire it). The two `(count, max id)` heads stay: the first
    * new id is needed before the merge plan is built. */
  private[graft] def harvest(bindings: DataFrame, storeDir: String,
      asOf: java.sql.Timestamp, meltVars: Seq[String], sqliteArtifact: Option[String],
      swap: (DataFrame, String) => Unit): Result = Cut.scope {
    val spark = bindings.sparkSession
    val at: Column = lit(asOf)
    val Seq(readObs, validObs, termsObs, fieldsObs) = Seq.fill(4)(Observation())
    // AQE prunes a stage it finds empty, and an observation in it then
    // completes with no metrics. Only single-input operators sit above
    // each observed node up to its cut, so a pruned node had no input.
    def observed(o: Observation, name: String = "n"): Long =
      o.get.getOrElse(name, 0L).asInstanceOf[Long]
    // (row count, first free id) of a store table, in one pass
    def sizeAndNextId(table: DataFrame): (Long, Long) = {
      val r = table.agg(count(lit(1)), max(col("id"))).head()
      (r.getLong(0), (if (r.isNullAt(1)) 0L else r.getLong(1)) + 1)
    }

    // Hash-partitioned by concept, so the distinct needs no shuffle of its
    // own and every row of a concept lands in one partition, where the
    // window marks its first row: that count is the distinct-term count
    // (an observed countDistinct is rejected). Eager, because the upsert
    // and the melt leg both read it.
    val firstOfConcept = row_number().over(
      Window.partitionBy(col("concept")).orderBy(col("concept"))) === 1
    val valid = Transform.filterValidBindings(Transform.distinctRows(
        bindings.repartition(col("concept")).observe(readObs, count(lit(1)).as("n"))))
      .withColumn("__first", firstOfConcept)
      .observe(validObs, count(lit(1)).as("n"), count(when(col("__first"), 1)).as("terms"))
      .drop("__first")
      .transform(Cut.eager)

    val existingTerms = Store.readTableOr(spark, storeDir, "terms", Schemas.terms)
    val (existingCount, nextTermId) = sizeAndNextId(existingTerms)

    // A cut, not a cache: the first swap deletes the current store's
    // files, which a cached frame's lineage still reads ([[Cut]]).
    val terms = Merge.upsertTerms(existingTerms, valid.select(col("concept").as("uri")), at,
        startId = Some(nextTermId))
      .observe(termsObs, count(lit(1)).as("n"),
        count(when(col("updated_at") === at && col("created_at") =!= at, 1)).as("updated"))
      .transform(Cut.eager)

    val existingFields = Store.readTableOr(spark, storeDir, "term_fields", Schemas.termFields)
    val (existingFieldCount, nextFieldId) = sizeAndNextId(existingFields)
    // eager too: the uniqueness probe and the swap both read it
    val allFields = Merge.insertIfAbsent(existingFields,
        Merge.resolveFk(Transform.meltAll(valid, meltVars), terms), at, startId = Some(nextFieldId))
      .observe(fieldsObs, count(lit(1)).as("n"))
      .transform(Cut.eager)

    val termCount = observed(termsObs)
    val fieldCount = observed(fieldsObs)

    // A19/A20: fail the job (like the reference's sqlite3.Error path,
    // harvest.py:477-479) if the merged store would violate its
    // uniqueness constraints.
    Validate.enforce(Seq(
      Validate.uniqueViolations(terms, Seq("uri")) -> "terms.uri unique",
      Validate.uniqueViolations(allFields, Seq("term_id", "field_uri", "original_value")) ->
        "term_fields(term_id, field_uri, original_value) unique"))

    commitTail(spark, storeDir, sqliteArtifact, swap,
      Seq(("terms", terms, termCount), ("term_fields", allFields, fieldCount)))

    Result(observed(readObs), observed(validObs), observed(validObs, "terms"),
      termCount - existingCount, observed(termsObs, "updated"),
      fieldCount - existingFieldCount, Seq.empty)
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
  private def commitTail(spark: SparkSession, storeDir: String, sqliteArtifact: Option[String],
      swap: (DataFrame, String) => Unit, merged: Seq[(String, DataFrame, Long)]): Unit = {
    val mergedNames = merged.map(_._1).toSet
    val workflow = Schemas.allTables.filterNot { case (name, _) => mergedNames(name) }
    val tables = merged.map { case (name, df, _) => name -> df }.toMap ++
      workflow.map { case (name, schema) => name -> Store.readTableOr(spark, storeDir, name, schema) }
    val db = sqliteArtifact.map(new File(_).getAbsoluteFile)
    val staging = db.map(f => new File(f.getParentFile, s".${f.getName}.next"))

    val pool = Executors.newFixedThreadPool(2)
    def branch(body: => Unit): Future[Unit] = pool.submit(new Callable[Unit] { def call(): Unit = body })
    val outcomes = try {
      val bootstrap = branch(Store.bootstrap(spark, storeDir, workflow))
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
