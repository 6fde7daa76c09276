package graft.ops

import graft.{Cut, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** e02 — RAG retrieval pipeline, the second end-to-end flagship (e01 is
  * pretraining-data curation; this is the serving-side counterpart):
  *
  *   1. LEXICAL RETRIEVAL — BM25 top-`k` per query
  *      ([[graft.text.TextAnalysis.bm25Rank]], the ln-free odds-idf
  *      variant — every factor an exact-integer ratio).
  *   2. CONTEXT DEDUP — a retrieved doc is dropped when any HIGHER-ranked
  *      retrieved doc for the same query is a 3-gram-Jaccard near-dup
  *      (threshold ½, tested as the exact-integer inequality
  *      2·|∩| ≥ |A| + |B| − |∩| — no float compare). Non-iterative by
  *      contract: "near-dup of any higher-ranked RETRIEVED doc", not of a
  *      surviving doc — keeps the stage one join, no fixpoint.
  *   3. CONTEXT PACKING — survivors re-ranked, then kept while the
  *      running token total fits the context budget (prefix property:
  *      token counts are positive, so the cumulative filter keeps a
  *      contiguous prefix per query).
  *
  * Scale: stage 1 is the corpus-wide pass (one tokenize + filtered
  * count — see bm25Rank's scaling note); stages 2–3 touch only the
  * k·|queries| retrieved rows, so their joins are retrieval-sized
  * regardless of corpus size — the standard funnel shape that keeps RAG
  * serving off the 100 TB hot path. */
object RagPipeline {

  val RetrieveK = 20
  val TokenBudget = 800

  def ragRetrieval(s: SparkSession, dir: String): DataFrame =
    ragRetrievalDocs(Tables.documents(s, dir))

  /** The pipeline over any `(doc_id, text)` frame. */
  def ragRetrievalDocs(corpus: DataFrame): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val retrieved = graft.text.TextAnalysis.bm25RankDocs(corpus, RetrieveK)
      .select($"query_id", $"rank", $"doc_id", $"score")
      // feeds candidate-pair gen (twice), the gram build's id filter, and
      // the survivor join — one materialization, retrieval-sized.
      // A cut, not a cache (r13, VERDICT r12 #5; [[graft.Cut]]): under memory
      // pressure a cache() eviction silently re-ran the BM25 corpus pass
      // per consumer — the suite's worst tail (1.9 s isolated vs 12.5 s
      // cold-cache). The eager checkpoint pins the retrieval-sized frame.
      .transform(Cut.eager)
    val docs = corpus.select($"doc_id", $"text")
    val rdocs = docs.join(retrieved.select($"doc_id").distinct(), "doc_id")
    val grams = rdocs.select($"doc_id", split($"text", " ").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(toks) - 2), i -> array_join(slice(toks, i, 3), ' '))"))
        .as("gram"))
      .distinct().transform(Cut.eager) // same eviction-recompute hazard
    val sizes = grams.groupBy($"doc_id").agg(count(lit(1)).as("ng"))
    val hi = retrieved.select($"query_id", $"rank".as("hi_rank"), $"doc_id".as("hi_doc"))
    val lo = retrieved.select($"query_id", $"rank".as("lo_rank"), $"doc_id".as("lo_doc"))
    val cand = hi.join(lo, Seq("query_id"))
      .where($"hi_rank" < $"lo_rank" && $"hi_doc" =!= $"lo_doc")
    val inter = cand
      .join(grams.toDF("hi_doc", "gram"), Seq("hi_doc"))
      .join(grams.toDF("lo_doc", "gram"), Seq("lo_doc", "gram"))
      .groupBy($"query_id", $"hi_doc", $"lo_doc").agg(count(lit(1)).as("inter"))
    val dup = inter
      .join(sizes.toDF("hi_doc", "ng_hi"), "hi_doc")
      .join(sizes.toDF("lo_doc", "ng_lo"), "lo_doc")
      .where(lit(2) * $"inter" >= $"ng_hi" + $"ng_lo" - $"inter")
      .select($"query_id", $"lo_doc".as("doc_id")).distinct()
    val kept = retrieved.join(dup, Seq("query_id", "doc_id"), "left_anti")
    val lens = docs.select($"doc_id", size(split($"text", " ")).cast("long").as("len"))
    val w = Window.partitionBy($"query_id").orderBy($"rank")
    kept.join(lens, "doc_id")
      .withColumn("final_rank", row_number().over(w))
      .withColumn("cum_toks", sum($"len").over(w))
      .where($"cum_toks" <= TokenBudget)
      .select($"query_id", $"final_rank", $"doc_id", $"score", $"len", $"cum_toks")
      .orderBy($"query_id", $"final_rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e02_rag_retrieval" -> (ragRetrieval _),
  )

  val oracles: Map[String, String] = Map(
    "e02_rag_retrieval" -> s"""
      WITH ${graft.text.TextAnalysis.Bm25RankedCtes},
      retrieved AS (SELECT query_id, "rank", doc_id, CAST(sp AS DOUBLE) / 1000000000.0 AS score
                    FROM ranked WHERE "rank" <= $RetrieveK),
      rdocs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
                WHERE doc_id IN (SELECT doc_id FROM retrieved)),
      grams AS (SELECT DISTINCT doc_id, array_to_string(toks[i : i + 2], ' ') AS gram
                FROM (SELECT * FROM rdocs WHERE len(toks) >= 3) d,
                     UNNEST(range(1, len(toks) - 1)) AS r(i)),
      sizes AS (SELECT doc_id, COUNT(*) AS ng FROM grams GROUP BY doc_id),
      cand AS (SELECT hi.query_id, hi.doc_id AS hi_doc, lo.doc_id AS lo_doc
               FROM retrieved hi JOIN retrieved lo
                 ON hi.query_id = lo.query_id AND hi."rank" < lo."rank"
                AND hi.doc_id <> lo.doc_id),
      inter AS (SELECT c.query_id, c.hi_doc, c.lo_doc, COUNT(*) AS inter
                FROM cand c
                JOIN grams ga ON ga.doc_id = c.hi_doc
                JOIN grams gb ON gb.doc_id = c.lo_doc AND gb.gram = ga.gram
                GROUP BY c.query_id, c.hi_doc, c.lo_doc),
      dup AS (SELECT DISTINCT i.query_id, i.lo_doc AS doc_id
              FROM inter i
              JOIN sizes sa ON sa.doc_id = i.hi_doc
              JOIN sizes sb ON sb.doc_id = i.lo_doc
              WHERE 2 * i.inter >= sa.ng + sb.ng - i.inter),
      kept AS (SELECT r.* FROM retrieved r
               WHERE NOT EXISTS (SELECT 1 FROM dup d
                                 WHERE d.query_id = r.query_id AND d.doc_id = r.doc_id)),
      lens2 AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len
                FROM documents),
      packed AS (SELECT query_id, doc_id, score, len,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY "rank") AS final_rank,
                   CAST(SUM(len) OVER (PARTITION BY query_id ORDER BY "rank") AS BIGINT) AS cum_toks
                 FROM kept JOIN lens2 USING (doc_id))
      SELECT query_id, final_rank, doc_id, score, len, cum_toks
      FROM packed WHERE cum_toks <= $TokenBudget
      ORDER BY query_id, final_rank
    """,
  )
}
