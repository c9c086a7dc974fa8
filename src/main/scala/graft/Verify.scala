package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare. The session's
  * partition-invariance knobs are [[Tuning.localSession]]'s. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val selected =
      if (args.length > 2) Queries.resolve(args(2).split(",").toSeq.distinct)
      else SparkEntry.queries.toSeq
    val spark = Tuning.localSession()
    // stamp which data generation this dump was computed against
    // (FIXTURES records cite it; see tools.DataGenId)
    System.err.println(
      s"[verify] datagen_id=${tools.DataGenId.of(sfDir)} dir=$sfDir")
    try dump(spark, outDir, selected.map { case (name, fn) =>
      (name, () => fn(spark, sfDir), SparkEntry.oracleSql(name)) })
    finally spark.stop()
  }

  /** The dump the DuckDB compare scripts (`scripts/perturb_compare.py`)
    * referee: each entry — (id, result, oracle SQL) — is run and
    * written to `<outDir>/<id>` as one parquet file, then the entries'
    * oracles to `<outDir>/oracle_sql.json`. An entry's old output is
    * deleted before it runs, so an entry that throws leaves no output
    * rather than a previous run's; query-local caches are cleared after
    * each entry. Throws once the dump is written if any entry failed,
    * so the calling main exits non-zero. */
  def dump(spark: SparkSession, outDir: String,
           entries: Seq[(String, () => DataFrame, String)]): Unit = {
    require(entries.map(_._1).distinct.size == entries.size, "duplicate entry ids")
    new java.io.File(outDir).mkdirs()
    val hadoopConf = spark.sessionState.newHadoopConf()
    val failed = entries.flatMap { case (id, result, _) =>
      val out = new org.apache.hadoop.fs.Path(outDir, id)
      out.getFileSystem(hadoopConf).delete(out, true)
      val err =
        try { result().coalesce(1).write.parquet(out.toString); None }
        catch { case e: Throwable =>
          System.err.println(s"[dump] $id failed: ${e.getMessage}")
          Some(id)
        }
      spark.catalog.clearCache()
      err
    }
    writeOracleJson(outDir, entries.map(e => e._1 -> e._3))
    if (failed.nonEmpty)
      throw new IllegalStateException(
        s"${failed.size} of ${entries.size} entries failed: ${failed.mkString(", ")}")
  }

  /** Writes `oracles` to `<outDir>/oracle_sql.json`, the name → SQL object
    * the DuckDB compare scripts read. */
  def writeOracleJson(outDir: String, oracles: Iterable[(String, String)]): Unit = {
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
