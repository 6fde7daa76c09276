package graft.harvest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The static SKOS property → (URI, CURIE) melt configuration
  * (/root/reference/harvest.py:17-25). Seven properties are declared; the
  * reference's SELECT binds only the first three (harvest.py:74-79) but the
  * engine keeps the full mapping as config so all seven can be bound.
  */
object FieldMappings {
  private val skos = "http://www.w3.org/2004/02/skos/core#"

  /** (sparqlVar, fieldUri, fieldTerm) rows. */
  val mappings: Seq[(String, String, String)] = Seq(
    ("prefLabel", skos + "prefLabel", "skos:prefLabel"),
    ("altLabel", skos + "altLabel", "skos:altLabel"),
    ("definition", skos + "definition", "skos:definition"),
    ("notation", skos + "notation", "skos:notation"),
    ("broader", skos + "broader", "skos:broader"),
    ("narrower", skos + "narrower", "skos:narrower"),
    ("related", skos + "related", "skos:related"))

  /** Mapping as a (broadcastable) DataFrame for join-based melt. */
  def asDataFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    mappings.toDF("field_term_var", "field_uri", "field_term")
  }
}
