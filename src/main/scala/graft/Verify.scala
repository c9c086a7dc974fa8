package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare. The session's
  * partition-invariance knobs are [[Tuning.localSession]]'s. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val selected =
      if (args.length > 2) Queries.resolve(args(2).split(",").toSeq)
      else SparkEntry.queries.toSeq
    val spark = Tuning.localSession()
    // stamp which data generation this dump was computed against
    // (FIXTURES records cite it; see tools.DataGenId)
    System.err.println(
      s"[verify] datagen_id=${tools.DataGenId.of(sfDir)} dir=$sfDir")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // query-local caches must not accumulate across the catalog run
      spark.catalog.clearCache()
    }
    writeOracleJson(outDir, SparkEntry.oracleSql)
    spark.stop()
  }

  /** Writes `oracles` to `<outDir>/oracle_sql.json`, the name → SQL object
    * the DuckDB compare scripts read. */
  def writeOracleJson(outDir: String, oracles: Map[String, String]): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in oracle SQL would otherwise make the compare
    // script's json.load fail and silently skip every correctness check.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
