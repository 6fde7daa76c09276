package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated name filter for local iteration on a
    // query subset (driver runs with it unset → full dump). Blank values
    // count as unset — an empty Set would silently dump nothing.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    only.diff(SparkEntry.queries.keySet).foreach(n =>
      System.err.println(s"[verify] SPARK_GRAFT_ONLY name matches no query: $n"))
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // one Cut.scope per query: its intermediates do not outlive it
      try Cut.scope(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // r13 (VERDICT r12 #6): enforce sort totality on the dump — a query
    // whose final ORDER BY admits distinct tied rows ships a
    // plan-dependent emitted order. Runs AFTER the dump and
    // oracle_sql.json are complete (the driver's compare still sees the
    // full artifact); any hit turns the exit code red.
    val violations = SortTotality.check(spark, outDir,
      SparkEntry.oracleSql.filter { case (k, _) => only.isEmpty || only(k) })
    violations.foreach { case (name, groups) =>
      System.err.println(s"[verify][sort-totality] FAIL $name: " +
        s"$groups sort-key groups contain distinct rows (tie-ambiguous final sort)")
    }
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
