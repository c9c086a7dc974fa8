package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{StructType, TimestampType}

/** Loaders for the driver-generated parquet testdata tables
  * (see /root/repo/TESTDATA.md). All queries take the scale-factor
  * directory as a parameter so the same plan runs at any SF.
  *
  * At cluster scale these would be partitioned/bucketed tables in a
  * catalog; filters and column pruning still push into the parquet
  * scan because every reader below is a plain declarative scan.
  *
  * Schema cache: inferring a parquet schema launches one Spark job per
  * read, so each table's inferred `StructType` is kept here and later
  * reads pass it to `spark.read.schema(...)`, which launches none. The
  * key is the qualified path plus the explicitly set
  * `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` confs (with the
  * two confs this loader forces, below), since those change what
  * inference returns. Each entry keeps the path's listing, (name,
  * length, mtime) of every child of a directory or of the file itself,
  * read with one `listStatus` on every call; a changed listing (a
  * rewritten table) infers again and replaces the entry. The cache is
  * process-wide and thread-safe: hits take no lock, and inference runs
  * under one lock because it scopes a session conf. */
object Tables {
  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"
  private val NtzKey   = "spark.sql.parquet.inferTimestampNTZ.enabled"

  private final case class Key(path: String, confs: Map[String, String])
  private final case class Entry(listing: Map[String, (Long, Long)], schema: StructType)
  private val schemas = new ConcurrentHashMap[Key, Entry]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts has shipped as both TIMESTAMP(NANOS) and timestamp[us]
    // parquet across testdata generations; read NANOS as epoch-nanos
    // LongType and widen a µs timestamp to the same epoch-nanos Long,
    // so every downstream query sees one stable `ts: LONG` contract
    // (DuckDB oracle side uses epoch_ns(ts), which yields the identical
    // value for either physical type).
    // nanosAsLong has no per-read data source option, and execution
    // reads NANOS columns under it too, so it must stay a session conf;
    // it only affects TIMESTAMP(NANOS) physical columns, which nothing
    // outside the events table ships.
    spark.conf.set(NanosKey, "true")
    val file = s"$sfDir/$name.parquet"
    val path = new Path(file)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val key = Key(fs.makeQualified(path).toString,
      spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      } ++ Map(NanosKey -> "true", NtzKey -> "false"))
    // a missing path lists as empty, so inference raises Spark's own error
    val listing =
      try fs.listStatus(path).map(s => s.getPath.getName -> ((s.getLen, s.getModificationTime))).toMap
      catch { case _: java.io.FileNotFoundException => Map.empty[String, (Long, Long)] }
    val schema = Option(schemas.get(key)).filter(_.listing == listing) match {
      case Some(hit) => hit.schema
      case None =>
        val inferred = infer(spark, file)
        schemas.put(key, Entry(listing, inferred))
        inferred
    }
    val df = spark.read.schema(schema).parquet(file)
    // The epoch-nanos ts contract is specific to the events table; do not
    // rewrite a TimestampType `ts` on any other (future) table.
    if (name == "events" && schema.find(_.name == "ts").exists(_.dataType == TimestampType))
      df.withColumn("ts", unix_micros(col("ts")) * 1000L)
    else df
  }

  /** µs-precision parquet timestamps carry isAdjustedToUTC=false, which
    * inference would surface as TIMESTAMP_NTZ; with NTZ inference off the
    * stored int64 micros read as UTC instants, so `unix_micros` recovers
    * exactly the stored value independent of session timezone. Spark 4.1
    * has no per-read option for this (the "inferTimestampNTZ" reader
    * option is ignored), so the session conf is overridden around this
    * one-time inference only and then restored: execution honors the
    * schema passed to the reader, so other parquet readers sharing the
    * SparkSession keep their TIMESTAMP_NTZ semantics. Serialized so two
    * concurrent inferences cannot restore each other's override. */
  private def infer(spark: SparkSession, path: String): StructType = synchronized {
    val ntzPrev = spark.conf.getOption(NtzKey)
    spark.conf.set(NtzKey, "false")
    try spark.read.parquet(path).schema
    finally ntzPrev match {
      case Some(v) => spark.conf.set(NtzKey, v)
      case None    => spark.conf.unset(NtzKey)
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
