package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** E4 (r7): end-to-end TRAINING-BATCH planning pipeline (e04) — the
  * fourth flagship composition (e01 curates, e02 serves, e03 ingests;
  * e04 turns the curated corpus into the shuffled, packed batch manifest
  * a training job actually reads):
  *
  *   1. mixture plan  — temperature-scaled per-source quotas (the
  *                      b15_temperature_mix isqrt device) for a budget of
  *                      3/5 of the corpus, derived from the corpus itself
  *                      so the composition is scale-free; a tail source
  *                      whose flattened quota exceeds its size
  *                      contributes everything it has (the cap-at-one-
  *                      epoch convention)
  *   2. selection     — each source's quota taken in the engine-portable
  *                      md5("cap:"+doc_id) order (the b15_domain_cap
  *                      device: selection is a property of the doc's own
  *                      key, so corpus growth never reshuffles survivors)
  *   3. shuffle+shard — md5("42:"+doc_id) sort key, first-8-hex shard id
  *                      (the b15_global_shuffle device; epochs of the
  *                      same doc land apart, readers consume shards
  *                      independently)
  *   4. packing       — per-shard running token sum in shuffled order →
  *                      fixed-capacity pack ids (the b15_sequence_pack
  *                      device over the SHUFFLED order — packing after
  *                      shuffling is what keeps a pack's docs an i.i.d.
  *                      sample rather than corpus-adjacent)
  *
  * Output: the batch manifest — per (shard, pack): docs, exact token
  * sum, and distinct sources (the mixing-quality signal a data engineer
  * eyeballs first). Every stage is exact integer / portable-hash
  * arithmetic, so the WHOLE composition hash-gates end to end.
  *
  * 100 TB shape: stage 1 is one combinable count + a broadcast one-row
  * total; stage 2's windows partition by source (domain count
  * partitions); stages 3–4 partition by shard. No global sort, no
  * driver state, nothing quadratic; the manifest is pack-dimension
  * sized. */
object TrainPipeline {

  def trainingBatches(s: SparkSession, dir: String,
      numShards: Int = 4, capacity: Int = 512): DataFrame =
    trainingBatchesDocs(Tables.documents(s, dir), numShards, capacity)

  /** [[trainingBatches]] over any (doc_id, source, text) frame. */
  def trainingBatchesDocs(docs: DataFrame,
      numShards: Int = 4, capacity: Int = 512): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // stage 1: per-source quota k = (3·n_total·sk) div (5·s_total)
    val quota = Relational2.temperatureShares(docs)
      .select($"source", expr("(3L * n_total * sk) div (5L * s_total)").as("k"))
    // stage 2: take each source's quota in portable md5 order
    val wSel = Window.partitionBy($"source").orderBy($"sel_key", $"doc_id")
    val selected = docs
      .select($"doc_id", $"source",
        size(split($"text", " ")).as("ws_tokens"),
        md5(concat(lit("cap:"), $"doc_id".cast("string"))).as("sel_key"))
      .withColumn("rn", row_number().over(wSel))
      .join(broadcast(quota), Seq("source"))
      .filter($"rn" <= $"k")
    // stage 3: portable shuffle + shard
    val sharded = selected
      .withColumn("sort_key", md5(concat(lit("42:"), $"doc_id".cast("string"))))
      .withColumn("shard_id",
        pmod(conv(substring($"sort_key", 1, 8), 16, 10).cast("long"),
          lit(numShards.toLong)).cast("int"))
    // stage 4: pack by running token sum in shuffled order
    val wPack = Window.partitionBy($"shard_id").orderBy($"sort_key", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sharded
      .withColumn("cum_tokens", sum($"ws_tokens").over(wPack))
      .withColumn("pack_id",
        ceil($"cum_tokens".cast("double") / capacity).cast("int"))
      .groupBy($"shard_id", $"pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"ws_tokens").cast("long").as("sum_tokens"),
        countDistinct($"source").as("n_sources"))
      .orderBy($"shard_id", $"pack_id")
  }

  private def trainingBatchesQuery(s: SparkSession, dir: String): DataFrame =
    trainingBatches(s, dir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e04_training_batches" -> (trainingBatchesQuery _),
  )

  val oracles: Map[String, String] = Map(
    "e04_training_batches" -> """
      WITH d AS (SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
                   md5('cap:' || CAST(doc_id AS VARCHAR)) AS sel_key
                 FROM documents),
      c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY source),
      s AS (SELECT source, n_docs,
              CAST(floor(sqrt(CAST(n_docs * 100000000 AS DOUBLE))) AS BIGINT) AS sk
            FROM c),
      t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
                   CAST(SUM(sk) AS BIGINT) AS s_total FROM s),
      q AS (SELECT source, (3 * n_total * sk) // (5 * s_total) AS k
            FROM s CROSS JOIN t),
      r AS (SELECT d.*,
              ROW_NUMBER() OVER (PARTITION BY source ORDER BY sel_key, doc_id) AS rn
            FROM d),
      sel AS (SELECT r.doc_id, r.source, r.ws_tokens
              FROM r JOIN q USING (source) WHERE rn <= k),
      sh AS (SELECT *,
               md5('42:' || CAST(doc_id AS VARCHAR)) AS sort_key FROM sel),
      sh2 AS (SELECT *,
                CAST(CAST(('0x' || substr(sort_key, 1, 8)) AS BIGINT) % 4 AS INT)
                  AS shard_id
              FROM sh),
      pk AS (SELECT *,
               CAST(SUM(ws_tokens) OVER (PARTITION BY shard_id
                 ORDER BY sort_key, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             FROM sh2),
      pk2 AS (SELECT *, CAST(ceil(CAST(cum AS DOUBLE) / 512) AS INT) AS pack_id
              FROM pk)
      SELECT shard_id, pack_id, COUNT(*) AS n_docs,
             CAST(SUM(ws_tokens) AS BIGINT) AS sum_tokens,
             COUNT(DISTINCT source) AS n_sources
      FROM pk2 GROUP BY 1, 2 ORDER BY 1, 2""",
  )
}
