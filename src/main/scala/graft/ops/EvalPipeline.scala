package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Cut, Tables}

/** E2E EVALUATION-SET construction pipeline (e05) — the fifth flagship
  * composition: e01 curates the training corpus, e02 serves it, e03
  * ingests into it, e04 plans its batches — e05 builds the held-out
  * benchmark the other four must answer to. Four stages, each the
  * established portable fragment, the whole pipeline hash-gated as one
  * query:
  *
  *   1. quality gate     — token count + avg-token-length arithmetic
  *                         (the e01 stage-1 contract, language-agnostic:
  *                         an eval suite wants every language)
  *   2. leakage-safe pool — eval docs come ONLY from held-out SOURCES
  *                         (md5(source) residue ≥ 90 — the
  *                         b15_group_split test fold), so near-identical
  *                         documents from one origin can never straddle
  *                         the train/eval boundary
  *   3. decontaminate    — drop eval docs sharing any 8-gram with the
  *                         train-pool side (b12_decontaminate with the
  *                         roles REVERSED: e01 protects the bench from
  *                         the train set; e05 protects the eval set
  *                         from training leakage)
  *   4. stratified budget — per-language cap in engine-portable
  *                         md5("ev:"+doc_id) order (the b15_domain_cap
  *                         device), so the suite is language-balanced
  *                         and corpus growth never reshuffles survivors
  *
  * 100 TB shape: stage 1 is a scan-side predicate; stage 2 a scan-side
  * md5 residue; stage 3's gram join is driven by the EVAL side (a
  * held-out fraction of sources — the small side by construction; in
  * production the train grams sit in the b12 Bloom word table and the
  * probe is scan-side, zero gram shuffle); stage 4's rank window runs
  * on the already thrice-reduced eval pool, partitioned by language —
  * at extreme scale the cap becomes two-phase (scan-side md5-threshold
  * pre-cut, then the exact window on the survivors), the standard
  * distributed top-k refinement. No stage is all-pairs or
  * driver-collected.
  */
object EvalPipeline {

  /** Per-language budget of the declared gate. */
  val CapPerLang = 10

  /** The pipeline over any `(doc_id, text, lang, source)` frame. */
  def evalSuite(docs: DataFrame, capPerLang: Int = CapPerLang): DataFrame = Cut.scope {
    val spark = docs.sparkSession
    import spark.implicits._
    val nTok = size(split($"text", " "))
    val avgLen = length($"text").cast("double") / nTok.cast("double")
    val qual = docs
      .filter(nTok >= 5 && avgLen >= 3.0 && avgLen <= 12.0)
      .select($"doc_id", $"text", $"lang", $"source",
        pmod(conv(substring(md5($"source"), 1, 8), 16, 10).cast("long"),
          lit(100L)).as("gb"))
      .transform(Cut.cached) // the pool filter and the gram build both consume it
    val evalPool = qual.filter($"gb" >= 90)
    val g8 = qual.select($"doc_id", $"gb", split($"text", " ").as("toks"))
      .filter(size($"toks") >= 8)
      .select($"doc_id", $"gb", explode(expr(
        "transform(sequence(1, size(toks) - 7), i -> array_join(slice(toks, i, 8), ' '))"))
        .as("gram"))
      .distinct()
    val trainGrams = g8.filter($"gb" < 90).select($"gram").distinct()
    val contaminated = g8.filter($"gb" >= 90).join(trainGrams, Seq("gram"))
      .select($"doc_id").distinct()
    val w = Window.partitionBy($"lang").orderBy($"sel_key", $"doc_id")
    val out = evalPool.join(contaminated, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"lang", $"source",
        size(split($"text", " ")).cast("long").as("n_tokens"),
        md5(concat(lit("ev:"), $"doc_id".cast("string"))).as("sel_key"))
      .withColumn("slot", row_number().over(w))
      .filter($"slot" <= capPerLang)
      .select($"lang", $"slot", $"doc_id", $"source", $"n_tokens")
      .transform(Cut.eager) // budget-sized
    out.orderBy($"lang", $"slot")
  }

  def evalSuiteQuery(s: SparkSession, dir: String): DataFrame =
    evalSuite(Tables.documents(s, dir))

  private def oracle: String = s"""
      WITH base AS (SELECT doc_id, text, lang, source,
                      string_split(text, ' ') AS toks
                    FROM documents),
      q AS (SELECT doc_id, lang, source, toks,
              CAST(('0x' || substr(md5(source), 1, 8)) AS BIGINT) % 100 AS gb
            FROM base
            WHERE len(toks) >= 5
              AND CAST(length(text) AS DOUBLE) / len(toks) >= 3.0
              AND CAST(length(text) AS DOUBLE) / len(toks) <= 12.0),
      g8 AS (SELECT DISTINCT doc_id, gb,
               array_to_string(toks[i : i + 7], ' ') AS gram
             FROM q, UNNEST(range(1, len(toks) - 6)) AS r(i)
             WHERE len(toks) >= 8),
      tg AS (SELECT DISTINCT gram FROM g8 WHERE gb < 90),
      contam AS (SELECT DISTINCT g8.doc_id FROM g8 JOIN tg USING (gram)
                 WHERE g8.gb >= 90),
      pool AS (SELECT doc_id, lang, source,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 md5('ev:' || CAST(doc_id AS VARCHAR)) AS sel_key
               FROM q
               WHERE gb >= 90
                 AND doc_id NOT IN (SELECT doc_id FROM contam)),
      ranked AS (SELECT lang, doc_id, source, n_tokens,
                   CAST(ROW_NUMBER() OVER (PARTITION BY lang
                     ORDER BY sel_key, doc_id) AS INT) AS slot
                 FROM pool)
      SELECT lang, slot, doc_id, source, n_tokens
      FROM ranked WHERE slot <= $CapPerLang
      ORDER BY lang, slot"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e05_eval_suite" -> (evalSuiteQuery _))

  val oracles: Map[String, String] = Map(
    "e05_eval_suite" -> oracle)
}
