package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Cut, Tables}
import graft.dedup.Dedup

/** E2E pretraining-data CURATION pipeline (e01) — the library's operators
  * composed the way a real 100 TB training-data job chains them, with
  * every stage in its exact-arithmetic portable form so the WHOLE
  * pipeline — six stages deep — is DuckDB-oracle hash-gated end to end:
  *
  *   1. quality gate   — token count + avg-token-length window
  *                       (the b13_quality_score contract)
  *   2. language gate  — keep the target language
  *   3. exact dedup    — canonicalized sha256 first-wins
  *                       (b11_dedup_canonical)
  *   4. near-dedup     — portable MinHash-LSH pairs among survivors,
  *                       keep-the-smaller-id (b12_minhash_portable)
  *   5. decontaminate  — drop train docs sharing any 8-gram with the
  *                       held-out eval slice (b12_decontaminate)
  *   6. shuffle+shard  — engine-portable md5 global shuffle, de-biased
  *                       shard id, per-shard positions (b15_global_shuffle)
  *
  * 100 TB shape: stages 1–2 are scan-side predicates (pushed to the
  * parquet read); stage 3 is one map-side-combinable shuffle on the
  * 32-byte sha + a semi-join; stage 4 flows through the capped
  * candidate join (hot LSH buckets representative-linked — never B²);
  * stage 5 joins train grams against the DISTINCT bench gram set only
  * (AQE-broadcastable — the eval slice is tiny in production); stage 6
  * is a scan-side md5 + ONE per-shard window (never a global
  * row_number). No stage is all-pairs, no stage collects to the driver.
  */
object PretrainPipeline {

  /** The pipeline over any `(doc_id, text, lang)` frame. */
  def curateDocs(docs: DataFrame, keepLang: String = "en", numShards: Int = 8,
                 seed: Int = 42): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // 1+2. quality + language gates — scan-side arithmetic identical to
    // b13_quality_score (double division compare, proven cross-engine)
    val nTok = size(split($"text", " "))
    val avgLen = length($"text").cast("double") / nTok.cast("double")
    val qual = docs
      .filter($"lang" === keepLang && nTok >= 5 && avgLen >= 3.0 && avgLen <= 12.0)
      .select($"doc_id", $"text")
    // 3. canonicalized exact dedup, first (min doc_id) wins. Cached: the
    // near-dup stage consumes it twice (shingles + anti-join) and runs an
    // eager bucket-regime guard.
    val keepers = qual
      .groupBy(sha2(Dedup.canonicalText($"text"), 256).as("sha"))
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    // r16: eager checkpoint instead of cache — deduped feeds the
    // near-dup stage AND the survivor joins; a cached copy is subject
    // to storage eviction in a long session (the r2 churn lesson), and
    // an evicted block silently re-runs the scan + sha aggregate per
    // consumer. The frame is survivor-id + text, tiny.
    val deduped = qual.join(keepers, Seq("doc_id"), "left_semi")
      .transform(Cut.eager)
    // 4. near-dup removal: portable MinHash-LSH verified pairs (Jaccard
    // ≥ 0.5, division-free) among survivors; drop every doc that appears
    // as the LARGER id of a pair — the deterministic keep-first rule
    // (r16: phase-timed — the full-bench context showed this query
    // inflating far beyond its isolated wall; the phases pin which
    // stage owns the in-context seconds, the b10/b12 gate discipline)
    val pairs = graft.PhaseTimer.time("e01_pretrain_pipeline", "neardup") {
      Dedup.minHashPortable(deduped)
    }
    val nearDeduped = deduped
      .join(pairs.select($"b".as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    // 5. decontamination vs the held-out eval slice (doc_id % 50 == 0 of
    // the ORIGINAL corpus — the b12_decontaminate convention): the bench
    // slice itself never ships, and any train doc sharing an 8-gram with
    // it is dropped
    // r16: ONE materialization of the 8-gram table — the bench-slice and
    // train-side branches below both contain the explode→distinct
    // subplan, and relying on runtime exchange reuse to dedupe it proved
    // fragile in long-session context (e01's shard/decontam stage
    // measured 4.4–6.0 s in the full 297-query bench vs ~1.2 s in any
    // subset — the duplicated gram derivation is exactly the re-run
    // work). Guide §2.4: make the shared scan structural, not
    // optimizer-dependent.
    // r17 (VERDICT r16 #1, guide §2.3 shuffle fewer bytes): grams are
    // HASHED to longs scan-side — xxhash64 over the 8-token slice array
    // itself (no ~50-byte joined string is even built) — so the distinct
    // shuffle, the checkpoint, and the decontamination equi-join all
    // carry 8-byte keys instead of ~50-byte strings (the established
    // shingleHashes precedent, stage 4 of this same pipeline).
    // Equivalence: tokens come from split on ' ' so they contain no
    // separator and slice-array equality ⇔ joined-string equality; the
    // only divergence from the string join is a 64-bit cross-doc hash
    // collision (~n²/2⁶⁵ — nonexistent at gate scale, oracle-checked
    // green at both SFs; at corpus scale a collision only ever
    // over-drops into the decontamination set, the conservative
    // direction for eval hygiene).
    val g8 = docs.select($"doc_id", split($"text", " ").as("toks"))
      .filter(size($"toks") >= 8)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(toks) - 7), i -> xxhash64(slice(toks, i, 8)))"))
        .as("gram"))
      .distinct()
      .transform(Cut.eager)
    val bench = g8.filter($"doc_id" % 50 === 0).select($"gram").distinct()
    val contaminated = g8.filter($"doc_id" % 50 =!= 0).join(bench, Seq("gram"))
      .select($"doc_id").distinct()
    val clean = nearDeduped.filter($"doc_id" % 50 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // 6. portable global shuffle + de-biased shard id + per-shard position
    val w = Window.partitionBy($"shard").orderBy($"sort_key", $"doc_id")
    val out = graft.PhaseTimer.time("e01_pretrain_pipeline", "shard_finish") { clean
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tokens"),
        md5(concat(lit(s"$seed:"), $"doc_id".cast("string"))).as("sort_key"))
      .withColumn("shard",
        pmod(conv(substring($"sort_key", 1, 8), 16, 10).cast("long"),
          lit(numShards.toLong)).cast("int"))
      .withColumn("shard_pos", row_number().over(w))
      .select($"doc_id", $"n_tokens", $"shard", $"shard_pos")
      .transform(Cut.eager) // small id/stat frame
    }
    out.orderBy($"shard", $"shard_pos")
  }

  def curateQuery(s: SparkSession, dir: String): DataFrame =
    curateDocs(Tables.documents(s, dir))

  /** Generated from the SAME constants as the Spark plan
    * ([[Dedup.PortablePerms]]/[[Dedup.PortableP]]) — six stages of CTEs,
    * each the established portable fragment of its standalone oracle. */
  private def oracle: String = {
    val sigSelects = Dedup.PortablePerms.zipWithIndex.map { case ((a, b), i) =>
      s"MIN((h * $a + $b) % ${Dedup.PortableP}) AS s$i"
    }.mkString(",\n               ")
    val bandCases = (0 until 4).map { bd =>
      val key = (0 until 4).map(r => s"CAST(s${bd * 4 + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"WHEN $bd THEN $key"
    }.mkString(" ")
    s"""
      WITH base AS (SELECT doc_id, text, lang, string_split(text, ' ') AS toks
                    FROM documents),
      q AS (SELECT doc_id, text, toks FROM base
            WHERE lang = 'en' AND len(toks) >= 5
              AND CAST(length(text) AS DOUBLE) / len(toks) >= 3.0
              AND CAST(length(text) AS DOUBLE) / len(toks) <= 12.0),
      canon AS (SELECT doc_id, text, toks,
                  sha256(trim(regexp_replace(regexp_replace(lower(text),
                    '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS sha
                FROM q),
      keepers AS (SELECT MIN(doc_id) AS doc_id FROM canon GROUP BY sha),
      dd AS (SELECT c.doc_id, c.toks FROM canon c JOIN keepers k
             ON c.doc_id = k.doc_id),
      d3 AS (SELECT doc_id, toks FROM dd WHERE len(toks) >= 3),
      g AS (SELECT DISTINCT doc_id,
              CAST(('0x' || substr(md5(array_to_string(toks[i : i + 2], ' ')), 1, 12)) AS BIGINT) AS h
            FROM d3, UNNEST(range(1, len(toks) - 1)) AS r(i)),
      sig AS (SELECT doc_id,
               $sigSelects
              FROM g GROUP BY doc_id),
      bnd AS (SELECT doc_id, b AS band_idx,
               CASE b $bandCases END AS band_hash
              FROM sig, UNNEST([0, 1, 2, 3]) AS u(b)),
      cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
               FROM bnd x JOIN bnd y
                 ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
                AND x.doc_id < y.doc_id),
      szs AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
      drops AS (SELECT DISTINCT b AS doc_id FROM (
                 SELECT c.a, c.b, COUNT(*) AS inter
                 FROM cand c
                 JOIN g ga ON ga.doc_id = c.a
                 JOIN g gb ON gb.doc_id = c.b AND gb.h = ga.h
                 GROUP BY c.a, c.b) i
               JOIN szs na ON na.doc_id = i.a
               JOIN szs nb ON nb.doc_id = i.b
               WHERE i.inter * 2 >= na.n + nb.n - i.inter),
      nd AS (SELECT doc_id, toks FROM dd
             WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
      b8 AS (SELECT doc_id, toks FROM base WHERE len(toks) >= 8),
      g8 AS (SELECT DISTINCT doc_id, array_to_string(toks[i : i + 7], ' ') AS gram
             FROM b8, UNNEST(range(1, len(toks) - 6)) AS r(i)),
      bench AS (SELECT DISTINCT gram FROM g8 WHERE doc_id % 50 = 0),
      contam AS (SELECT DISTINCT g8.doc_id FROM g8 JOIN bench USING (gram)
                 WHERE g8.doc_id % 50 <> 0),
      clean AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM nd
                WHERE doc_id % 50 <> 0
                  AND doc_id NOT IN (SELECT doc_id FROM contam)),
      sh AS (SELECT doc_id, n_tokens,
               md5('42:' || CAST(doc_id AS VARCHAR)) AS sort_key FROM clean),
      o AS (SELECT doc_id, n_tokens,
              CAST(CAST(('0x' || substr(sort_key, 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
              sort_key FROM sh)
      SELECT doc_id, n_tokens, shard,
        CAST(ROW_NUMBER() OVER (PARTITION BY shard
          ORDER BY sort_key, doc_id) AS INT) AS shard_pos
      FROM o ORDER BY shard, shard_pos"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e01_pretrain_pipeline" -> (curateQuery _))

  val oracles: Map[String, String] = Map(
    "e01_pretrain_pipeline" -> oracle)
}
