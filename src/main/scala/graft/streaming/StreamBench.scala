package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.functions._

import graft.Tables
import graft.model._
import graft.sources.DocumentSink

/** Counting sink: measures pipeline throughput without filesystem
  * overhead per document (the real Firestore sink is network-bound
  * anyway; this isolates the engine's share). */
final class CountingSink extends DocumentSink {
  override def commitBatch(docs: Seq[DocumentSink.Doc]): Unit = {
    CountingSink.docs.add(docs.size)
    CountingSink.commits.add(1)
  }
}
object CountingSink {
  val docs = new LongAdder
  val commits = new LongAdder
}

/** End-to-end streaming throughput of the subscription pipeline
  * (route → filter-off → hash → one bucket-partitioned pass: SYNC
  * gate, 50-doc batched sink, hash-store rewrite) over the sf events
  * table via a file-stream
  * source. Stages the input as `SPARK_GRAFT_STREAM_FILES` parquet
  * files (default 50) consumed one file per trigger, so the run is a
  * sequence of uniform micro-batches; per-batch wall latency is read
  * back from the query's progress events and reported as p50/p95/max
  * alongside end-to-end docs/sec. Prints one JSON line — the
  * reference's implied ceiling is ~2 msg/s (BASELINE.md). */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nFiles = sys.env.getOrElse("SPARK_GRAFT_STREAM_FILES", "50").toInt
    // keep every micro-batch's progress (default 100 would do for 50
    // batches; pin anyway so nFiles overrides stay recorded)
    val spark = graft.Tuning.localSession(
      "spark.sql.streaming.numRecentProgressUpdates" -> s"${nFiles + 8}")

    val input = Files.createTempDirectory("sbench-in").toString
    val work = Files.createTempDirectory("sbench-work").toString

    // stage the events as the stream input (one payload per event),
    // one file per intended micro-batch
    val ev = Tables.events(spark, sfDir)
      .withColumn("kafka_topic", concat(lit("tnt."), col("event_type")))
      .withColumnRenamed("event_id", "id")
      .drop("props")
    ev.repartition(nFiles).write.mode("overwrite").parquet(input)
    val n = ev.count()

    val sub = Subscription("bench", "bench", "*",
      FbOptions(syncMode = "sync", targetPath = "_aether/entities/{topic}"))
    val job = new StreamingJob(spark, Seq(sub), "tnt", () => new CountingSink,
      s"$work/hashes", s"$work/ckpt")

    val schema = spark.read.parquet(input).schema
    val t0 = System.nanoTime()
    val q = job.start(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(input))
    q.processAllAvailable()
    val secs = (System.nanoTime() - t0) / 1e9

    // per-micro-batch wall latency (triggerExecution covers the whole
    // batch: source read → pipeline → sink commit + state merge)
    val prog = q.recentProgress.toSeq
      .filter(_.numInputRows > 0) // drop the trailing empty batch
    q.stop()
    val lat = prog.map(p =>
        p.durationMs.getOrDefault("triggerExecution", 0L).toDouble / 1e3)
      .sorted
    def pct(p: Double): Double =
      if (lat.isEmpty) -1.0
      else lat(math.min(lat.size - 1, (p * lat.size).toInt))
    val rowsPerBatch = if (prog.isEmpty) 0.0 else prog.map(_.numInputRows).sum.toDouble / prog.size

    val written = CountingSink.docs.sum()
    val commits = CountingSink.commits.sum()
    println(f"""{"metric":"stream_docs_per_sec","value":${written / secs}%.1f,"unit":"docs/sec","docs":$written,"rows":$n,"commits":$commits,"seconds":$secs%.2f,"batches":${lat.size},"rows_per_batch":$rowsPerBatch%.0f,"batch_sec_p50":${pct(0.5)}%.3f,"batch_sec_p95":${pct(0.95)}%.3f,"batch_sec_max":${if (lat.isEmpty) -1.0 else lat.last}%.3f,"sf":"$sfDir"}""")
    spark.stop()
  }
}
