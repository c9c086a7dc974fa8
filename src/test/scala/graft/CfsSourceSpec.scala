package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{CfsDataSource, DocumentSink, JsonFileSink}

/** The graft-cfs DataSource V2 connector: correctness of the scan,
  * directory pruning via pushed collection equality, file pruning via
  * pushed doc_id equality, and zero-content-read column pruning. */
class CfsSourceSpec extends AnyFunSuite with SparkTestBase {

  private def freshStore(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft-cfs-spec").toString
    val sink = new JsonFileSink(root)
    sink.commitBatch(Seq(
      DocumentSink.Doc("_aether/entities/purchase", "p1", """{"v":1}"""),
      DocumentSink.Doc("_aether/entities/purchase", "p2", """{"v":2}"""),
      DocumentSink.Doc("_aether/entities/click", "c1", """{"v":3}"""),
      DocumentSink.Doc("_aether/clicks/click", "c2", """{"v":4}""")))
    root
  }

  private def read(root: String) =
    spark.read.format("graft-cfs").option("root", root).load()

  test("scan returns every (collection, doc_id, json) the sink wrote") {
    val root = freshStore()
    val rows = read(root).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows === Set(
      ("_aether/entities/purchase", "p1", """{"v":1}"""),
      ("_aether/entities/purchase", "p2", """{"v":2}"""),
      ("_aether/entities/click", "c1", """{"v":3}"""),
      ("_aether/clicks/click", "c2", """{"v":4}""")))
  }

  test("collection and doc ids read back as written; a doc id cannot reach another file") {
    val root = java.nio.file.Files.createTempDirectory("graft-cfs-ids").toString
    new JsonFileSink(root).commitBatch(Seq(
      DocumentSink.Doc("_aether/t t", "a b/c", """{"v":1}"""),
      DocumentSink.Doc("_aether/t t", "x:y", """{"v":2}""")))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val all = Set(("_aether/t t", "a b/c"), ("_aether/t t", "x:y"))
    assert(ids(read(root)) === all)
    assert(ids(read(root).filter(col("doc_id") === "a b/c")) === Set(("_aether/t t", "a b/c")))
    assert(ids(read(root).filter(col("collection") === "_aether/t t")) === all)
    assert(ids(read(freshStore()).filter(col("doc_id") === "../click/c1")) === Set.empty)
  }

  test("collection equality prunes to one partition (one directory)") {
    val root = freshStore()
    val all = read(root)
    assert(all.rdd.getNumPartitions === 3) // three collections
    val one = all.filter(col("collection") === "_aether/entities/purchase")
    assert(one.rdd.getNumPartitions === 1, "directory pruning did not happen")
    assert(one.count() === 2)
    // pushed equality must be fully handled, not just advisory
    assert(one.collect().map(_.getString(1)).sorted === Array("p1", "p2"))
  }

  test("contradictory pushed equalities return empty, not last-filter-wins") {
    val root = freshStore()
    // both equalities are pushed and fully handled; keeping only the
    // second would wrongly return purchase rows for this always-false
    // predicate
    val contradictory = read(root)
      .filter(col("collection") === "_aether/entities/click" &&
        col("collection") === "_aether/entities/purchase")
    assert(contradictory.count() === 0,
      "collection='a' AND collection='b' must be empty")
    // Stock Spark folds the contradiction at optimization time
    // (ConstantPropagation infers 'a'='b' → false, PruneFilters emits
    // an empty relation) — correct, but it means the scan-builder
    // defense is never reached by this shape. Exclude those rules so
    // BOTH equalities genuinely arrive at pushFilters through the
    // full DSv2 read path, and assert the plan VISIBLY chooses the
    // contradiction scan — zero rows by accident (last-filter-wins on
    // an empty collection) would pass a count assert but not this one.
    val prevExcluded = spark.conf.getOption("spark.sql.optimizer.excludedRules")
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConstantPropagation," +
        "org.apache.spark.sql.catalyst.optimizer.PruneFilters")
    try {
      val unfolded = read(root)
        .filter(col("collection") === "_aether/entities/click" &&
          col("collection") === "_aether/entities/purchase")
      val plan = unfolded.queryExecution.executedPlan.toString
      assert(plan.contains("CONTRADICTION"),
        s"expected the empty contradiction scan in the plan:\n$plan")
      assert(unfolded.count() === 0)
    } finally {
      prevExcluded match {
        case Some(v) => spark.conf.set("spark.sql.optimizer.excludedRules", v)
        case None => spark.conf.unset("spark.sql.optimizer.excludedRules")
      }
    }
    val docContra = read(root)
      .filter(col("doc_id") === "c1" && col("doc_id") === "c2")
    assert(docContra.count() === 0)
    // a repeated IDENTICAL equality is not a contradiction
    val same = read(root)
      .filter(col("doc_id") === "c1" && col("doc_id") === "c1")
    assert(same.count() === 1)
  }

  test("doc_id equality prunes to a single file per collection") {
    val root = freshStore()
    val df = read(root).filter(col("doc_id") === "c1")
    assert(df.collect().map(r => (r.getString(0), r.getString(2))) ===
      Array(("_aether/entities/click", """{"v":3}""")))
  }

  test("pruning the json column reads zero document bodies") {
    val root = freshStore()
    CfsDataSource.contentReads.set(0)
    val ids = read(root).select(col("collection"), col("doc_id")).collect()
    assert(ids.length === 4)
    assert(CfsDataSource.contentReads.get() === 0,
      "column pruning failed: document bodies were read for an id-only scan")
    // and the full scan does read them
    read(root).select(col("json")).collect()
    assert(CfsDataSource.contentReads.get() === 4)
  }

  test("native write path round-trips and is idempotent per doc id") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cfs-w").toString
    val df = Seq(
      ("a/b", "d1", """{"x":1}"""),
      ("a/b", "d2", """{"x":2}"""),
      ("a/c", "d1", """{"x":3}"""))
      .toDF("collection", "doc_id", "json")
    df.write.format("graft-cfs").option("root", root).mode("append").save()
    // replay the same write: idempotent upsert, not duplication
    df.write.format("graft-cfs").option("root", root).mode("append").save()
    val back = read(root).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(back === Set(
      ("a/b", "d1", """{"x":1}"""),
      ("a/b", "d2", """{"x":2}"""),
      ("a/c", "d1", """{"x":3}""")))
  }

  test("write rejects a frame without the document columns") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cfs-w2").toString
    val bad = Seq(("a", "b")).toDF("collection", "doc_id")
    val e = intercept[Exception] {
      bad.write.format("graft-cfs").option("root", root).mode("append").save()
    }
    assert(e.getMessage.contains("json") || e.getMessage.contains("schema"),
      s"unexpected error: ${e.getMessage}")
  }

  test("streaming write lands documents per micro-batch, replays converge") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft-cfs-sin").toString
    val root = java.nio.file.Files.createTempDirectory("graft-cfs-sout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cfs-ckpt").toString
    val b1 = Seq(("s/a", "d1", """{"x":1}"""), ("s/a", "d2", """{"x":2}"""))
      .toDF("collection", "doc_id", "json")
    b1.coalesce(1).write.mode("append").parquet(in)
    val stream = spark.readStream.schema(b1.schema).parquet(in)
    val q = stream.writeStream.format("graft-cfs")
      .option("root", root).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(read(root).count() === 2)
      Seq(("s/b", "d3", """{"x":3}"""), ("s/a", "d1", """{"x":1b}"""))
        .toDF("collection", "doc_id", "json")
        .coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable()
      val rows = read(root).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      // d1 upserted (last write wins), d3 appended
      assert(rows === Set(
        ("s/a", "d1", """{"x":1b}"""),
        ("s/a", "d2", """{"x":2}"""),
        ("s/b", "d3", """{"x":3}""")))
    } finally q.stop()
  }

  test("non-pushable predicates still evaluate as residual filters") {
    val root = freshStore()
    val df = read(root).filter(col("json").contains("\"v\":2"))
    assert(df.collect().map(_.getString(1)) === Array("p2"))
  }
}
