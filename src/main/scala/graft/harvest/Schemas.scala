package graft.harvest

import org.apache.spark.sql.types._

/** Typed models + StructTypes for the harvest store.
  *
  * The six-table translation-workflow schema mirrors the reference DDL
  * (/root/reference/harvest.py:188-274, documented in its README.md:60-106):
  * an EAV core (`terms`/`term_fields`) plus workflow satellites
  * (`translations`/`appeals`/`appeal_messages`/`users`).
  */
object Schemas {

  /** One SPARQL result binding row (harvest.py:74-82): only `concept` is
    * guaranteed bound; OPTIONAL properties are nullable and multi-valued
    * properties fan out into multiple rows. */
  val bindings: StructType = StructType(Seq(
    StructField("concept", StringType, nullable = false),
    StructField("prefLabel", StringType, nullable = true),
    StructField("altLabel", StringType, nullable = true),
    StructField("definition", StringType, nullable = true)))

  val terms: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("uri", StringType, nullable = false),
    StructField("created_at", TimestampType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false)))

  val termFields: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("term_id", LongType, nullable = false),
    StructField("field_uri", StringType, nullable = false),
    StructField("field_term", StringType, nullable = false),
    StructField("original_value", StringType, nullable = false),
    StructField("created_at", TimestampType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false)))

  val translations: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("term_field_id", LongType, nullable = false),
    StructField("language", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("created_at", TimestampType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false),
    StructField("created_by", StringType, nullable = true),
    StructField("modified_at", TimestampType, nullable = true),
    StructField("modified_by", StringType, nullable = true),
    StructField("reviewed_by", StringType, nullable = true)))

  val appeals: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("translation_id", LongType, nullable = false),
    StructField("opened_by", StringType, nullable = false),
    StructField("opened_at", TimestampType, nullable = true),
    StructField("closed_at", TimestampType, nullable = true),
    StructField("status", StringType, nullable = false),
    StructField("resolution", StringType, nullable = true)))

  val appealMessages: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("appeal_id", LongType, nullable = false),
    StructField("author", StringType, nullable = false),
    StructField("message", StringType, nullable = false),
    StructField("created_at", TimestampType, nullable = true)))

  val users: StructType = StructType(Seq(
    StructField("username", StringType, nullable = false),
    StructField("reputation", IntegerType, nullable = false),
    StructField("joined_at", TimestampType, nullable = true),
    StructField("extra", StringType, nullable = true)))

  /** All store tables by name, in creation order (harvest.py:188-274). */
  val allTables: Seq[(String, StructType)] = Seq(
    "terms" -> terms,
    "term_fields" -> termFields,
    "translations" -> translations,
    "appeals" -> appeals,
    "appeal_messages" -> appealMessages,
    "users" -> users)

  /** CHECK-constraint domains (harvest.py:221,223,244). */
  val allowedLanguages: Seq[String] = Seq("nl", "fr", "de", "es", "it", "pt")
  val allowedTranslationStatus: Seq[String] = Seq("draft", "review", "approved", "rejected", "merged")
  val allowedAppealStatus: Seq[String] = Seq("open", "closed", "resolved")
}
