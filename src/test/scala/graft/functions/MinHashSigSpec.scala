package graft.functions

import graft.SparkSpec
import graft.dedup.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check => scCheck, Parameters}

class MinHashSigSpec extends SparkSpec {
  import spark.implicits._

  private def aggSigs(docs: org.apache.spark.sql.DataFrame) =
    Dedup.minHashSignatures(Dedup.shingleHashes(docs, 3))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
  private def rowSigs(docs: org.apache.spark.sql.DataFrame) =
    Dedup.minHashSignaturesRow(docs, 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap

  test("row expression == shingleHashes+MinHashAgg on fixed cases") {
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b"),              // < 3 tokens → absent from BOTH paths
      (3L, "x x x x"),          // repeated shingles: multiset min == set min
      (4L, "ünï cödé tøk ens"), // multi-byte UTF-8 spans
      (5L, "a  b c d"))         // empty token from the double space
      .toDF("doc_id", "text")
    val a = aggSigs(docs)
    val b = rowSigs(docs)
    assert(a.keySet === Set(1L, 3L, 4L, 5L) && a === b)
  }

  test("property: row expression == agg pipeline on random token lists") {
    val tokGen = Gen.oneOf(Gen.alphaNumStr.map(_.take(5)), Gen.const(""), Gen.const("ü"))
    val docGen = Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n, tokGen))
      .map(_.mkString(" "))
    val prop = Prop.forAll(Gen.listOfN(4, docGen)) { texts: List[String] =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      aggSigs(docs) == rowSigs(docs)
    }
    val res = scCheck(Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("near-dup pipeline with row signatures finds the same pairs as the agg path") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 29).map(i => s"tok$i") :+ "changed").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, base)).toDF("doc_id", "text")
    def pairs(sigs: org.apache.spark.sql.DataFrame) =
      Dedup.candidatePairs(Dedup.lshBands(sigs))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Dedup.minHashSignaturesRow(docs, 3)) ===
      pairs(Dedup.minHashSignatures(Dedup.shingleHashes(docs, 3))))
  }

  test("row-signature plan has no shuffle before the LSH band stage") {
    val q = Dedup.minHashSignaturesRow(graft.Tables.documents(spark, sfDir))
    // an exchange-bearing plan would be WRAPPED in AdaptiveSparkPlanExec
    // (a leaf that hides children from collect) — assert not-wrapped
    // first so the exchange check below cannot pass vacuously
    assert(!q.queryExecution.executedPlan
      .isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])
    val exchanges = q.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty)
    // and the expression runs INSIDE whole-stage codegen (no fence)
    val stages = q.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(stages.exists(_.toString.contains("minhash_sig")),
      q.queryExecution.executedPlan.toString)
  }
}
