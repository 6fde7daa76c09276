package graft

import org.apache.spark.sql.SparkSession

/** Dev-only plan inspector: `runMain graft.Explain <query names...>` prints
  * each declared query's formatted physical plan at sf0.01 — the plan-audit
  * loop SURVEY §8 notes come from. NOT part of the shipped library. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    for (n <- args) {
      println(s"===== $n")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
