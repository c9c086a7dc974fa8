package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.sources.DocumentSink
import graft.streaming.{HashStore, Pipeline}

/** Sink that records every document it is asked to write, under a tag
  * (tasks of a local session run in the test JVM). */
final class RecordingSink(tag: String) extends DocumentSink {
  override def commitBatch(docs: Seq[DocumentSink.Doc]): Unit = {
    RecordingSink.docs.computeIfAbsent(tag, _ => new ConcurrentLinkedQueue[DocumentSink.Doc]())
      .addAll(docs.asJava)
    ()
  }
}
object RecordingSink {
  val docs = new ConcurrentHashMap[String, ConcurrentLinkedQueue[DocumentSink.Doc]]()
  /** The documents recorded under `tag`, forgetting them. */
  def take(tag: String): Seq[(String, String, String)] =
    Option(docs.remove(tag)).map(_.asScala.toSeq).getOrElse(Nil)
      .map(d => (d.targetPath, d.docId, d.json)).sorted
}

/** `Pipeline.batchPass` — the stream's one bucket-partitioned pass —
  * against its batch reference, `dedupeBatch` → `gateMulti` → sink
  * upsert → store upsert, over seeded random micro-batches. */
class BatchPassSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val subs = Seq(
    Subscription("fwd", "fwd", "f*", FbOptions(syncMode = "forward", targetPath = "_f/{topic}")),
    // s1 and s2 both route here: one id lands on two target paths
    Subscription("sync", "sync", "s*", FbOptions(syncMode = "sync", targetPath = "_s/{topic}")),
    Subscription("masked", "masked", "m*", FbOptions(syncMode = "sync", targetPath = "_m/{topic}",
      maskingLevels = graft.operators.Masking.DefaultLevels, maskingEmitLevel = "public")),
    Subscription("none", "none", "n*", FbOptions(syncMode = "none", targetPath = "_n/{topic}")))
  private val syncIds = Seq("sync", "masked")
  private val topics = Seq("tnt.f1", "tnt.s1", "tnt.s2", "tnt.m1", "tnt.n1")

  private def events(rows: Seq[(String, Long, String, Long)]): DataFrame =
    graft.operators.Masking.annotate(rows.toDF("kafka_topic", "id", "name", "off")
      .withColumn("secret", concat(lit("ssn-"), $"name")), Map("secret" -> "secret"))

  private def compiled(df: DataFrame): DataFrame =
    Pipeline.compileMulti(subs, "tnt", df, Seq("off"))

  private def snapshot(store: HashStore): Seq[(String, String, String)] =
    store.load().as[(String, String, String)].collect().toSeq.sorted

  /** `n` events over 12 ids × 5 topics, three versions per document:
    * duplicate keys, unchanged re-deliveries and changed versions. */
  private def randomBatch(rnd: Random, n: Int, firstOff: Long): Seq[(String, Long, String, Long)] =
    (0 until n).map { i =>
      (topics(rnd.nextInt(topics.size)), 1L + rnd.nextInt(12), s"v${rnd.nextInt(3)}", firstOff + i)
    }

  test("batchPass equals dedupeBatch → gateMulti → upsert; a replay writes no SYNC doc") {
    for (seed <- Seq(3, 17, 29)) {
      val rnd = new Random(seed)
      val root = Files.createTempDirectory("graft-pass").toString
      val store = new HashStore(spark, root, numBuckets = 4)
      // pre-seeded store: every SYNC document's v0 hash for some keys
      // (so a v0 delivery is unchanged), stale hashes for others
      val v0 = compiled(events(for (t <- topics; id <- 1L to 12L) yield (t, id, "v0", 0L)))
        .filter($"sub_id".isin(syncIds: _*))
        .select("target_path", "doc_id", "doc_hash").as[(String, String, String)].collect()
      val seeded = v0.filter(_ => rnd.nextInt(3) > 0)
        .map { case (tp, id, h) => (tp, id, if (rnd.nextInt(4) == 0) s"stale-$h" else h) }
      store.merge(seeded.toSeq.toDF("target_path", "doc_id", "doc_hash"))
      assert(snapshot(store) == seeded.toSeq.sorted)

      for (b <- 0 until 3) {
        val clue = s"seed $seed batch $b"
        val batch = compiled(events(randomBatch(rnd, 40, 1000L * (b + 1))))
        val before = snapshot(store)
        val gated = Pipeline.gateMulti(Pipeline.dedupeBatch(batch, Some("off")), subs,
          before.toDF("target_path", "doc_id", "doc_hash"))
          .select("target_path", "doc_id", "doc_json", "doc_hash", "sub_id")
          .as[(String, String, String, String, String)].collect().toSeq
        val expDocs = gated.map(g => (g._1, g._2, g._3)).sorted
        val expStore = (before.map(r => (r._1, r._2) -> r._3).toMap ++
          gated.filter(g => syncIds.contains(g._5)).map(g => (g._1, g._2) -> g._4))
          .toSeq.map { case ((tp, id), h) => (tp, id, h) }.sorted
        assert(gated.exists(g => syncIds.contains(g._5)), s"$clue: no SYNC change to test")

        val tag = s"pass-$seed-$b"
        Pipeline.batchPass(batch, subs, Some("off"), store, () => new RecordingSink(tag))
        assert(RecordingSink.take(tag) == expDocs, clue)
        assert(snapshot(store) == expStore, clue)

        // crash after the manifest flip: the batch replays against the
        // store it already published
        val manifest = Files.readString(Paths.get(root, "_manifest"))
        Pipeline.batchPass(batch, subs, Some("off"), store, () => new RecordingSink(tag))
        assert(RecordingSink.take(tag) == expDocs.filter(_._1.startsWith("_f/")), clue)
        assert(snapshot(store) == expStore, clue)
        assert(Files.readString(Paths.get(root, "_manifest")) == manifest,
          s"$clue: a replay republished the store")
      }
    }
  }

  test("without a SYNC subscription the FORWARD winners are written and the store is left alone") {
    val noSync = subs.filterNot(s => syncIds.contains(s.id))
    val root = Files.createTempDirectory("graft-pass").toString
    val store = new HashStore(spark, root, numBuckets = 4)
    val batch = Pipeline.compileMulti(noSync, "tnt",
      events(randomBatch(new Random(5), 40, 1L)), Seq("off"))
    val exp = Pipeline.gateMulti(Pipeline.dedupeBatch(batch, Some("off")), noSync, store.load())
      .select("target_path", "doc_id", "doc_json").as[(String, String, String)].collect()
      .toSeq.sorted
    assert(exp.nonEmpty)
    Pipeline.batchPass(batch, noSync, Some("off"), store, () => new RecordingSink("fwd-only"))
    assert(RecordingSink.take("fwd-only") == exp)
    assert(!Files.exists(Paths.get(root, "_manifest")))
  }

  test("the walk yields each changed bucket as it closes and commits full groups as it goes") {
    import org.apache.spark.sql.Row
    def row(bucket: Int, id: String, hash: String, src: Int) =
      Row("_s/s1", id, hash, "{}", HashStore.SyncRow, src, bucket)
    // bucket 0: 120 new keys; bucket 1: one unchanged key; bucket 2: 31 new keys
    val input = (0 until 120).map(i => row(0, s"a$i", "h", 0)) ++
      Seq(row(1, "b", "h", 0), row(1, "b", "h", 1)) ++
      (0 until 31).map(i => row(2, s"c$i", "h", 0))
    var consumed = 0
    val commits = scala.collection.mutable.ArrayBuffer.empty[Int]
    val sink = new DocumentSink {
      override def commitBatch(docs: Seq[DocumentSink.Doc]): Unit = { commits += docs.size; () }
    }
    val out = HashStore.walk(Some(() => sink))(input.iterator.map { r => consumed += 1; r })
    val first = Seq.fill(120)(out.next())
    assert(first.map(_.getInt(3)).distinct == Seq(0))
    // bucket 0 came out once the first row of bucket 1 was seen
    assert(consumed == 121)
    assert(commits == Seq(50, 50))
    val rest = out.toList
    assert(rest.map(_.getInt(3)).distinct == List(2) && rest.size == 31)
    assert(consumed == input.size)
    assert(commits == Seq(50, 50, 50, 1))
  }

  test("a store row without a batch row and a NONE winner keep their stored hash") {
    val store = new HashStore(spark, Files.createTempDirectory("graft-pass").toString,
      numBuckets = 1)
    store.merge(Seq(("_s/s1", "1", "h1"), ("_n/n1", "2", "h2"))
      .toDF("target_path", "doc_id", "doc_hash"))
    // the NONE row for key 2 wins its run and is dropped; key 3 is new
    val batch = compiled(events(Seq(("tnt.n1", 2L, "x", 1L), ("tnt.s1", 3L, "y", 2L))))
    Pipeline.batchPass(batch, subs, Some("off"), store, () => new RecordingSink("keep"))
    assert(RecordingSink.take("keep").map(d => (d._1, d._2)) == Seq(("_s/s1", "3")))
    assert(snapshot(store).map(r => (r._1, r._2)) ==
      Seq(("_n/n1", "2"), ("_s/s1", "1"), ("_s/s1", "3")))
  }
}
