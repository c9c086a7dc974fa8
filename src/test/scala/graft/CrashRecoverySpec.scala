package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.sources.JsonFileSink
import graft.streaming.StreamingJob

/** Effectively-once proof for the streaming pipeline (A25): the claim
  * rests on checkpointed source offsets + idempotent (targetPath,
  * docId)-keyed upserts + replay-stable hash gating. These specs KILL
  * a running pipeline — once cleanly between micro-batches, once
  * MID-BATCH via an injected sink failure after partial commits — and
  * assert the restarted-from-checkpoint run converges to a final sink
  * + hash-store state byte-identical to an unbroken run over the same
  * input. Matches the reference's at-least-once + idempotent-set
  * semantics (kafka.json:3-5, artifacts.py:405-406). */
class CrashRecoverySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-crash").toString

  private val sub = Subscription("s1", "s1", "t?", FbOptions(
    syncMode = "sync", targetPath = "_aether/entities/{topic}"))

  /** Three staged input files; `off` is the source-order column (the
    * Kafka-offset analog) so last-write-wins is deterministic whether
    * the files land in one micro-batch or three. Batch 2 updates doc
    * 1, batch 3 updates it again and re-sends doc 2 unchanged. */
  private def batches: Seq[DataFrame] = Seq(
    (1L to 120L).map(i => ("tnt.t1", i, s"name-$i", i * 1.5, i)),
    Seq(("tnt.t1", 1L, "name-1-v2", 9.0, 201L),
        ("tnt.t1", 121L, "name-121", 2.0, 202L)),
    Seq(("tnt.t1", 1L, "name-1-v3", 11.0, 301L),
        ("tnt.t1", 2L, "name-2", 3.0, 302L),
        ("tnt.t1", 122L, "name-122", 4.0, 303L))
  ).map(_.toDF("kafka_topic", "id", "name", "score", "off"))

  private val schema = batches.head.schema

  private def mkJob(sinkRoot: String, work: String,
      mkSink: () => graft.sources.DocumentSink): StreamingJob =
    new StreamingJob(spark, Seq(sub), "tnt", mkSink,
      s"$work/hashes", s"$work/ckpt", orderCol = Some("off"))

  /** Relative path → file content for every doc the sink wrote. */
  private def sinkState(root: String): Map[String, String] = {
    val base = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(base)) return Map.empty
    val s = java.nio.file.Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(p => p.toString.endsWith(".json"))
        .map(p => base.relativize(p).toString -> Files.readString(p)).toMap
    } finally s.close()
  }

  private def hashState(job: StreamingJob): Seq[(String, String, String)] =
    job.hashStore.load().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sorted

  /** Unbroken reference run: all files staged up front, one job. */
  private def referenceRun(): (Map[String, String], Seq[(String, String, String)]) = {
    val input = tmp(); val sinkRoot = tmp(); val work = tmp()
    batches.foreach(_.coalesce(1).write.mode("append").parquet(input))
    val job = mkJob(sinkRoot, work, () => new JsonFileSink(sinkRoot))
    val q = job.start(spark.readStream.schema(schema).parquet(input))
    try q.processAllAvailable() finally q.stop()
    (sinkState(sinkRoot), hashState(job))
  }

  test("clean stop between micro-batches + restart from checkpoint = unbroken run") {
    val (refSink, refHash) = referenceRun()
    assert(refSink.size == 122 && refHash.size == 122)

    val input = tmp(); val sinkRoot = tmp(); val work = tmp()
    batches.head.coalesce(1).write.mode("append").parquet(input)
    val jobA = mkJob(sinkRoot, work, () => new JsonFileSink(sinkRoot))
    val qA = jobA.start(spark.readStream.schema(schema).parquet(input))
    try qA.processAllAvailable() finally qA.stop()
    assert(sinkState(sinkRoot).size == 120) // first run really landed

    // stage the rest while the pipeline is DOWN, then restart from the
    // same checkpoint with a brand-new job instance
    batches.tail.foreach(_.coalesce(1).write.mode("append").parquet(input))
    val jobB = mkJob(sinkRoot, work, () => new JsonFileSink(sinkRoot))
    val qB = jobB.start(spark.readStream.schema(schema).parquet(input))
    try qB.processAllAvailable() finally qB.stop()

    assert(sinkState(sinkRoot) == refSink,
      "sink state after stop/restart diverges from the unbroken run")
    assert(hashState(jobB) == refHash,
      "hash store after stop/restart diverges from the unbroken run")
    val doc1 = sinkState(sinkRoot)("_aether/entities/t1/1.json")
    assert(doc1.contains("name-1-v3"), s"last write must win: $doc1")
  }

  test("mid-batch crash after partial sink commits + restart = unbroken run") {
    val (refSink, refHash) = referenceRun()

    val input = tmp(); val sinkRoot = tmp(); val work = tmp()
    val marker = s"$work/fail-once-marker"
    batches.foreach(_.coalesce(1).write.mode("append").parquet(input))
    // 123 docs across several partitions/commit groups: exactly one
    // commitBatch call throws (after sibling groups may have landed),
    // so the micro-batch dies with PARTIAL sink writes and NO hash
    // merge — the worst-case crash point
    val jobA = mkJob(sinkRoot, work, () => new FailOnceSink(sinkRoot, marker))
    val qA = jobA.start(spark.readStream.schema(schema).parquet(input))
    try {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qA.processAllAvailable()
      }
    } finally qA.stop()
    assert(new java.io.File(marker).exists(), "injected failure did not fire")
    val partial = sinkState(sinkRoot)
    assert(partial.size < 122,
      s"expected a partial batch, got ${partial.size} docs (failure fired too late)")
    assert(hashState(jobA).isEmpty, "hash merge must not precede a failed upsert")

    // restart from the checkpoint with a healthy sink: the failed
    // micro-batch replays in full; idempotent upserts converge
    val jobB = mkJob(sinkRoot, work, () => new JsonFileSink(sinkRoot))
    val qB = jobB.start(spark.readStream.schema(schema).parquet(input))
    try qB.processAllAvailable() finally qB.stop()

    assert(sinkState(sinkRoot) == refSink,
      "sink state after mid-batch crash + replay diverges from the unbroken run")
    assert(hashState(jobB) == refHash,
      "hash store after mid-batch crash + replay diverges from the unbroken run")
  }
}
