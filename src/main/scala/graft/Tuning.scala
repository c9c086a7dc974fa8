package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{NioLocalFileSystem, NioLocalFs}

/** Engine-level Spark conf defaults shared by every session: the tools
  * and soaks build theirs with [[localSession]], the frozen `graft.Bench`,
  * the benchmark harness and the test session call [[engineDefaults]]
  * directly. A tuning decision is made once and every surface measures
  * the same engine.
  *
  * `spark.shuffle.sort.bypassMergeThreshold = 0` (r19 optimization,
  * guide §2.2): with the default threshold (200), every shuffle whose
  * reduce-partition count R is ≤ 200 uses the bypass-merge writer,
  * which opens R files PER MAP TASK, writes each partition to its own
  * file, then concatenates them — O(M·R) file opens/writes/mmaps per
  * shuffle. Thread dumps of the sf0.1 bench showed executor task
  * threads dominated by FileChannel map0/unmap0/write0 from exactly
  * this path; forcing the serialized (Unsafe) writer — one sorted
  * file + index per map task — cut the iterative-query family 35-55%
  * (q_pagerank 5.25→2.90 s, q_hits 8.64→3.87 s, q_sssp_bounded
  * 4.51→2.70 s, fresh-JVM min-of-2 at sf0.1/32 cores). Scale note
  * (ADVICE r19): clusters DO run small-R shuffles too (post-AQE
  * coalesced exchanges, small dimension aggregates), so threshold 0
  * engages the serialized writer there as well — writer choice is
  * semantics-neutral and at worst costs the small map-side sort+copy
  * the r19 pair-core A/B measured at ~0.1-0.4 s, while data-bearing
  * cluster shuffles (R > 200) never used the bypass path anyway.
  *
  * `fs.file.impl` / `fs.AbstractFileSystem.file.impl`: the Spark
  * distribution ships no `libhadoop`, so Hadoop's local filesystem starts
  * a `chmod` process for every file create and mkdir and `readlink`
  * processes for every `FileContext` rename (the checkpoint logs and the
  * hash-store manifest flip). In a 3 GB-heap JVM on a 4-core host one
  * checksummed create took 10-12 ms and one rename 34-45 ms that way,
  * against 0.5-0.7 ms for the create without the fork; a 6-batch
  * consumer catch-up started 862 processes. The
  * [[graft.sources.NioRawLocalFileSystem]] classes do the same through
  * NIO. A session built without `engineDefaults` gets Hadoop's forking
  * default.
  *
  * `spark.sql.streaming.pollingDelay = 1s`: [[graft.streaming.StreamingJob]]
  * starts its query with `Trigger.ProcessingTime(0)`, so the next
  * micro-batch starts as soon as the previous one ends and a catch-up
  * drain is not held to a trigger grid (with a 1 s interval a ~400 ms
  * `stream_catchup` batch idled ~600 ms before the next one). Spark's
  * micro-batch loop sleeps `pollingDelay` only after a trigger that found
  * no new data; the query reads it once, from the session conf, when it
  * starts. Spark's default is 10 ms, under which every idle job would list
  * its input directory or fetch Kafka's latest offsets 100 times a
  * second; 1 s keeps an idle source's poll at the once a second the 1 s
  * trigger gave.
  */
object Tuning {
  def engineDefaults(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      .config("spark.sql.streaming.pollingDelay", "1s")

  /** The session of every standalone tool: [[engineDefaults]] on
    * `local[SPARK_GRAFT_CPUS]` (default: the cores the JVM sees), UTC, no
    * UI, log level ERROR, then the caller's `conf`.
    *
    * The partition-invariance knobs apply to every tool:
    * `SPARK_GRAFT_SHUFFLE` (shuffle partitions, default the core count),
    * `SPARK_GRAFT_MAX_PARTITION_BYTES` (scan split size, default 128 MB)
    * and `SPARK_GRAFT_AQE` (default true). Two `graft.Verify` dumps, one
    * under adversarial values (a prime shuffle count, 1 MB splits, AQE
    * off), compared by `scripts/invariance_compare.py`, show that no
    * result depends on partition count, split boundaries or runtime
    * re-planning: the failure mode behind partition-order float drift and
    * first-wins/last-wins tie bugs. */
  def localSession(conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val b = engineDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"))
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
