package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.HashStore

class HashStoreSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-hashstore").toString

  /** bucket → CURRENT dir from the manifest (ignores header + prev). */
  private def manifest(root: String): Map[Int, String] =
    Files.readString(Paths.get(root, "_manifest")).split('\n')
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val parts = l.split('\t'); parts(0).toInt -> parts(1) }.toMap

  private def ls(root: String): Set[String] =
    Files.list(Paths.get(root)).iterator().asScala.map(_.getFileName.toString).toSet

  /** (bucket dir → (file name → mtime)) snapshot of the published store. */
  private def snapshot(root: String): Map[String, Map[String, Long]] =
    manifest(root).values.map { d =>
      d -> Files.list(Paths.get(root, d)).iterator().asScala
        .map(p => p.getFileName.toString -> p.toFile.lastModified()).toMap
    }.toMap

  private def rows(pairs: (String, String)*) =
    pairs.toSeq.toDF("doc_id", "doc_hash").withColumn("target_path", lit("t"))

  test("merge rewrites only touched buckets; untouched files stay byte-identical") {
    val root = tmp()
    val store = new HashStore(spark, root, numBuckets = 4)
    store.merge(rows((1 to 40).map(i => s"id-$i" -> s"h$i"): _*))
    assert(store.load().count() == 40)
    val before = snapshot(root)
    assert(before.size == 4) // 40 keys hash across all 4 buckets

    // one key ⇒ exactly one bucket rewritten
    val mBefore = manifest(root)
    Thread.sleep(20)
    store.merge(rows("id-1" -> "h1-CHANGED"))
    val after = snapshot(root)
    val mAfter = manifest(root)
    assert(mAfter.count { case (b, d) => mBefore(b) != d } == 1)
    // the three untouched buckets kept the SAME dirs with the SAME files
    val untouchedDirs = before.keySet.intersect(after.keySet)
    assert(untouchedDirs.size == 3)
    untouchedDirs.foreach(d => assert(before(d) == after(d)))

    // content: new hash won, everything else intact
    val loaded = store.load()
    assert(loaded.count() == 40)
    assert(loaded.filter($"doc_id" === "id-1").select("doc_hash")
      .as[String].head() == "h1-CHANGED")
  }

  test("a merge writes one data file per touched bucket dir") {
    val root = tmp()
    val store = new HashStore(spark, root, numBuckets = 4)
    store.merge(rows((1 to 200).map(i => s"id-$i" -> s"h$i"): _*))
    // stored survivors and an 8-partition update meet in every bucket
    val update = rows((101 to 300).map(i => s"id-$i" -> s"v$i"): _*).repartition(8)
    assert(update.rdd.getNumPartitions == 8)
    store.merge(update)
    val dirs = manifest(root).values
    assert(dirs.size == 4)
    dirs.foreach { d =>
      val data = Files.list(Paths.get(root, d)).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq
      assert(data.size == 1, s"$d holds ${data.mkString(", ")}")
    }
    assert(store.load().select("doc_id", "doc_hash").as[(String, String)].collect().toSet
      == ((1 to 100).map(i => s"id-$i" -> s"h$i") ++
        (101 to 300).map(i => s"id-$i" -> s"v$i")).toSet)
  }

  test("duplicate keys within one merge collapse to a single stored row") {
    val store = new HashStore(spark, tmp(), numBuckets = 2)
    store.merge(rows("a" -> "h1", "a" -> "h1", "b" -> "h2"))
    assert(store.load().count() == 2)
  }

  test("crash leftovers (orphan dirs, stale manifest tmp) are GC'd by the next merge") {
    val root = tmp()
    val store = new HashStore(spark, root, numBuckets = 2)
    store.merge(rows("a" -> "h1"))
    // simulate a merge that died after staging but before the manifest flip
    Files.createDirectory(Paths.get(root, "b0-deadbeef"))
    Files.createDirectory(Paths.get(root, ".stage-deadbeef"))
    Files.writeString(Paths.get(root, "_manifest.tmp-dead"), "junk")
    store.merge(rows("b" -> "h2"))
    val names = Files.list(Paths.get(root)).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(!names.contains("b0-deadbeef"))
    assert(!names.contains(".stage-deadbeef"))
    assert(!names.contains("_manifest.tmp-dead"))
    assert(store.load().count() == 2)
  }

  test("reopening with a different numBuckets derives the modulus from the manifest") {
    val root = tmp()
    val s1 = new HashStore(spark, root, numBuckets = 4)
    s1.merge(rows((1 to 40).map(i => s"id-$i" -> s"h$i"): _*))
    assert(Files.readString(Paths.get(root, "_manifest"))
      .linesIterator.next() == "#buckets=4")

    val s2 = new HashStore(spark, root, numBuckets = 16) // wrong on purpose
    s2.merge(rows("id-1" -> "h1-CHANGED"))
    // still a 4-bucket store: no key may land in two bucket dirs, which
    // would permanently suppress legitimate future writes
    assert(Files.readString(Paths.get(root, "_manifest"))
      .linesIterator.next() == "#buckets=4")
    val loaded = s2.load()
    assert(loaded.count() == 40)
    assert(loaded.groupBy("target_path", "doc_id").count()
      .filter($"count" > 1).count() == 0)
    assert(loaded.filter($"doc_id" === "id-1").select("doc_hash")
      .as[String].head() == "h1-CHANGED")
  }

  test("a replaced bucket's previous generation survives exactly one more merge") {
    val root = tmp()
    val store = new HashStore(spark, root, numBuckets = 1) // every merge replaces bucket 0
    store.merge(rows("a" -> "h1"))
    val gen1 = manifest(root)(0)
    store.merge(rows("a" -> "h2"))
    val gen2 = manifest(root)(0)
    assert(ls(root).contains(gen1), "previous generation kept for in-flight readers")

    store.merge(rows("a" -> "h3"))
    assert(!ls(root).contains(gen1), "N-2 generation GC'd on the next merge")
    assert(ls(root).contains(gen2))

    // the guarantee in action: a load() planned before a merge still
    // materializes afterwards (its dirs live one more generation)
    val pre = store.load()
    store.merge(rows("a" -> "h4"))
    assert(pre.filter($"doc_id" === "a").select("doc_hash").as[String].head() == "h3")
    assert(store.load().filter($"doc_id" === "a").select("doc_hash")
      .as[String].head() == "h4")
  }

  test("legacy headerless manifest with disproving bucket index is refused, not split") {
    val root = tmp()
    // simulate a pre-pinning store: no '#buckets=' header, entries up
    // to bucket 5 — a 4-bucket reopen would hash keys with the wrong
    // modulus and then pin it into the header on the next merge
    Files.createDirectories(Paths.get(root, "b5-old"))
    Files.writeString(Paths.get(root, "_manifest"), "5\tb5-old\t")
    val store = new HashStore(spark, root, numBuckets = 4)
    val e = intercept[IllegalStateException](store.merge(rows("a" -> "h1")))
    assert(e.getMessage.contains("legacy manifest"))
    // with a plausible bucket count the store opens (header written on
    // the next merge pins it going forward)
    val ok = new HashStore(spark, root, numBuckets = 8)
    ok.merge(rows("a" -> "h1"))
    assert(Files.readString(Paths.get(root, "_manifest"))
      .linesIterator.next() == "#buckets=8")
  }

  test("empty store loads empty; empty merge is a no-op") {
    val root = tmp()
    val store = new HashStore(spark, root, numBuckets = 2)
    assert(store.load().count() == 0)
    store.merge(rows())
    assert(store.load().count() == 0)
  }
}
