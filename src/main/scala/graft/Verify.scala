package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession(defaultCores = 4)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_QUERIES=name1,name2 restricts the dump for iteration
    // (same contract as Bench); the driver runs unfiltered.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val failed = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .count { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          false
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          true
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
    spark.stop()
    // every query still gets its dump attempt and the oracle file is
    // written, but a run with a failed query never exits 0
    if (failed > 0) {
      System.err.println(s"[verify] $failed queries failed")
      sys.exit(1)
    }
  }
}
