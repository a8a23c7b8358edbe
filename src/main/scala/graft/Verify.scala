package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = ClusterMode.configure(SparkSession.builder(), s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (the driver never sets it): comma-separated
    // query names to dump, for fast single-query oracle iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Sorted for deterministic run order; failures are reported per query,
    // the remaining dumps still run (the driver marks the missing outputs),
    // and the process exits nonzero so a partial dump can't look clean.
    var nFailed = 0
    SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        nFailed += 1
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
    spark.stop()
    if (nFailed > 0) {
      System.err.println(s"[verify] $nFailed quer${if (nFailed == 1) "y" else "ies"} failed")
      sys.exit(1)
    }
  }
}
