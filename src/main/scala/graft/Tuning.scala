package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{NioLocalFileSystem, NioLocalFs}

/** Engine-level Spark conf defaults shared by every session-building
  * main (Bench, Verify, the measurement tools, the streaming soaks),
  * so a tuning decision is made once and every surface measures the
  * same engine.
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
  */
object Tuning {
  def engineDefaults(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
}
