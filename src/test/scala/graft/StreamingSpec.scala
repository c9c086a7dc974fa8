package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.sources.JsonFileSink
import graft.streaming.StreamingJob

class StreamingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-stream").toString

  test("streaming pipeline: sink upserts, hash store suppresses unchanged, applies updates") {
    val input = tmp(); val sinkRoot = tmp(); val work = tmp()
    val sub = Subscription("s1", "s1", "t?", FbOptions(
      syncMode = "sync", targetPath = "_aether/entities/{topic}"))

    val batch1 = (1L to 10L).map(i => ("tnt.t1", i, s"name-$i", i * 1.5))
      .toDF("kafka_topic", "id", "name", "score")
    batch1.coalesce(1).write.mode("append").parquet(input)

    val job = new StreamingJob(spark, Seq(sub), "tnt", () => new JsonFileSink(sinkRoot),
      s"$work/hashes", s"$work/ckpt")
    val stream = spark.readStream.schema(batch1.schema).parquet(input)
    val q = job.start(stream)
    try {
      q.processAllAvailable()
      val dir = new java.io.File(s"$sinkRoot/_aether/entities/t1")
      assert(dir.list().count(_.endsWith(".json")) == 10)
      assert(job.hashStore.load().count() == 10)
      val doc1v1 = Files.readString(dir.toPath.resolve("1.json"))
      assert(doc1v1.contains("\"name\":\"name-1\""))

      // batch 2: 10 unchanged + 2 new
      val batch2 = ((1L to 10L).map(i => ("tnt.t1", i, s"name-$i", i * 1.5)) ++
        Seq(("tnt.t1", 11L, "name-11", 16.5), ("tnt.t1", 12L, "name-12", 18.0)))
        .toDF("kafka_topic", "id", "name", "score")
      batch2.coalesce(1).write.mode("append").parquet(input)
      q.processAllAvailable()
      assert(dir.list().count(_.endsWith(".json")) == 12)
      assert(job.hashStore.load().count() == 12)

      // batch 3: id=1 modified (and a same-batch duplicate of id=11 —
      // the per-batch dedup must leave exactly one stored hash for it)
      val batch3 = Seq(("tnt.t1", 1L, "name-1-CHANGED", 1.5),
                       ("tnt.t1", 11L, "name-11", 16.5),
                       ("tnt.t1", 11L, "name-11", 16.5))
        .toDF("kafka_topic", "id", "name", "score")
      batch3.coalesce(1).write.mode("append").parquet(input)
      q.processAllAvailable()
      assert(dir.list().count(_.endsWith(".json")) == 12)
      assert(job.hashStore.load().count() == 12)
      assert(job.hashStore.load().select("doc_id").distinct().count() == 12)
      val doc1v2 = Files.readString(dir.toPath.resolve("1.json"))
      assert(doc1v2.contains("name-1-CHANGED")) // changed hash ⇒ rewritten

      // batch 3: replay of batch1 — nothing should change (mtime probe)
      val mtimes = dir.listFiles().map(f => f.getName -> f.lastModified()).toMap
      Thread.sleep(20)
      batch1.coalesce(1).write.mode("append").parquet(input)
      q.processAllAvailable()
      val after = dir.listFiles().map(f => f.getName -> f.lastModified()).toMap
      // id=1 now has CHANGED hash stored; replaying the ORIGINAL doc 1
      // is a hash change again ⇒ only 1.json may be rewritten
      assert(after.filter { case (k, v) => mtimes(k) != v }.keySet.subsetOf(Set("1.json")))
    } finally q.stop()
  }

  test("a SYNC micro-batch runs at most 3 jobs, caches nothing, writes one file per bucket") {
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._

    val sinkRoot = tmp()
    val sc = spark.sparkContext
    // each job start as (streaming.sql.batchId, job group)
    val starts = new LinkedBlockingQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        starts.put((prop("streaming.sql.batchId").getOrElse(""),
          prop("spark.jobGroup.id").getOrElse("")))
      }
    }
    /** Jobs per micro-batch id started before a sentinel job: the
      * listener bus delivers job starts in order. */
    var sentinels = 0
    def jobsPerBatch(): Map[String, Int] = {
      sentinels += 1
      val group = s"pass-sentinel-$sentinels"
      sc.setJobGroup(group, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      Iterator.continually(starts.poll(60, TimeUnit.SECONDS))
        .map { s => assert(s != null, "sentinel job start never arrived"); s }
        .takeWhile(_._2 != group).filter(_._1.nonEmpty).toSeq
        .groupBy(_._1).map { case (b, js) => b -> js.size }
    }

    val persisted = sc.getPersistentRDDs.keySet
    val rows = (1L to 60L).map(i => ("tnt.t1", i, s"name-$i"))
    // new keys, then a mix of changed and unchanged ones, with a second
    // version of ids 1-7 in the same micro-batch
    val batches = Seq(rows,
      rows.map { case (t, i, n) => (t, i, if (i % 7 == 0) s"$n-v2" else n) } ++ rows.take(7))
    sc.addSparkListener(listener)
    try for (mode <- Seq("sync", "forward")) {
      val input = tmp(); val work = tmp()
      val sub = Subscription("s1", "s1", "t?", FbOptions(
        syncMode = mode, targetPath = "_aether/entities/{topic}"))
      val job = new StreamingJob(spark, Seq(sub), "tnt",
        if (mode == "sync") () => new JsonFileSink(sinkRoot) else () => new RecordingSink("stream-fwd"),
        s"$work/hashes", s"$work/ckpt")
      val q = job.start(spark.readStream.schema("kafka_topic STRING, id LONG, name STRING")
        .parquet(input))
      try for (batch <- batches) {
        val df = batch.toDF("kafka_topic", "id", "name")
        df.coalesce(1).write.mode("append").parquet(input)
        q.processAllAvailable()
        val jobs = jobsPerBatch()
        assert(jobs.nonEmpty && jobs.values.forall(_ <= 3), s"$mode jobs per micro-batch: $jobs")
        assert((sc.getPersistentRDDs.keySet -- persisted).isEmpty,
          s"a $mode micro-batch left ${sc.getPersistentRDDs.keySet -- persisted} persisted")
        val store = java.nio.file.Paths.get(work, "hashes")
        if (mode == "sync") {
          val dirs = Files.list(store).iterator().asScala.filter(Files.isDirectory(_)).toSeq
          assert(dirs.nonEmpty)
          dirs.foreach { d =>
            val data = Files.list(d).iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
            assert(data.size == 1, s"$d holds ${data.mkString(", ")}")
          }
        } else {
          val expected = graft.streaming.Pipeline.dedupeBatch(
              graft.streaming.Pipeline.compileMulti(Seq(sub), "tnt", df))
            .filter($"sub_id" === sub.id).select("target_path", "doc_id", "doc_json")
            .as[(String, String, String)].collect().toSeq.sorted
          assert(RecordingSink.take("stream-fwd") == expected)
          assert(!Files.exists(store.resolve("_manifest")))
        }
      }
      finally q.stop()
      if (mode == "sync") {
        assert(job.hashStore.load().count() == 60)
        assert(job.hashStore.load().filter($"doc_id" === "7").count() == 1)
      }
    }
    finally sc.removeSparkListener(listener)
  }

  test("routing drops topics not matching the subscription pattern") {
    val input = tmp(); val sinkRoot = tmp(); val work = tmp()
    val sub = Subscription("s2", "s2", "alpha*", FbOptions(syncMode = "forward"))
    val df = Seq(("tnt.alpha1", 1L, "x", 1.0), ("tnt.beta", 2L, "y", 2.0))
      .toDF("kafka_topic", "id", "name", "score")
    df.coalesce(1).write.mode("append").parquet(input)
    val job = new StreamingJob(spark, Seq(sub), "tnt", () => new JsonFileSink(sinkRoot),
      s"$work/hashes", s"$work/ckpt")
    val q = job.start(spark.readStream.schema(df.schema).parquet(input))
    try {
      q.processAllAvailable()
      assert(new java.io.File(s"$sinkRoot/_aether/entities/alpha1").list().length == 1)
      assert(!new java.io.File(s"$sinkRoot/_aether/entities/beta").exists())
    } finally q.stop()
  }

  test("multi-subscription job: first match wins, per-sub mask and sync mode") {
    val input = tmp(); val sinkRoot = tmp(); val work = tmp()
    // sub-a (sorts first) takes t1 with masking + sync; sub-b takes the rest, forward
    val subA = Subscription("sub-a", "a", "t1", FbOptions(
      syncMode = "sync", targetPath = "_a/{topic}",
      maskingLevels = graft.operators.Masking.DefaultLevels,
      maskingEmitLevel = "public"))
    val subB = Subscription("sub-b", "b", "t*", FbOptions(
      syncMode = "forward", targetPath = "_b/{topic}"))

    val raw = Seq(("tnt.t1", 1L, "n1", "secret1"), ("tnt.t2", 2L, "n2", "secret2"))
      .toDF("kafka_topic", "id", "name", "ssn")
    val annotated = graft.operators.Masking.annotate(raw, Map("ssn" -> "secret"))
    annotated.coalesce(1).write.mode("append").parquet(input)

    val job = new graft.streaming.StreamingJob(spark, Seq(subA, subB), "tnt",
      () => new JsonFileSink(sinkRoot), s"$work/hashes", s"$work/ckpt")
    // file streams drop metadata; re-annotate inside the stream contract
    val stream = graft.operators.Masking.annotate(
      spark.readStream.schema(annotated.schema).parquet(input), Map("ssn" -> "secret"))
    val q = job.start(stream)
    try {
      q.processAllAvailable()
      val aDoc = Files.readString(
        java.nio.file.Paths.get(sinkRoot, "_a/t1/1.json"))
      assert(aDoc.contains("\"name\":\"n1\"") && !aDoc.contains("secret1")) // masked
      val bDoc = Files.readString(
        java.nio.file.Paths.get(sinkRoot, "_b/t2/2.json"))
      assert(bDoc.contains("secret2")) // sub-b has no masking
      assert(!new java.io.File(s"$sinkRoot/_b/t1").exists()) // first match won
      // only the sync sub's hashes are stored
      assert(job.hashStore.load().select("doc_id").as[String].collect().toSeq == Seq("1"))

      // replay: sync sub suppressed, forward sub rewrites
      val before1 = new java.io.File(s"$sinkRoot/_a/t1/1.json").lastModified()
      Thread.sleep(20)
      annotated.coalesce(1).write.mode("append").parquet(input)
      q.processAllAvailable()
      assert(new java.io.File(s"$sinkRoot/_a/t1/1.json").lastModified() == before1)
    } finally q.stop()
  }

  test("nested annotated struct field is pruned from doc_json in the stream path") {
    val input = tmp(); val sinkRoot = tmp(); val work = tmp()
    val sub = Subscription("s-nest", "s-nest", "t*", FbOptions(
      syncMode = "forward", targetPath = "_n/{topic}",
      maskingLevels = graft.operators.Masking.DefaultLevels,
      maskingEmitLevel = "public"))

    // annotation lives on a NESTED field — the regression this guards:
    // the compile must keep maskProjection's rebuilt struct, not
    // re-select the original geo column
    def annotate(df: org.apache.spark.sql.DataFrame) = {
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .putString(graft.operators.Masking.DefaultAnnotation, "secret").build()
      df.select($"kafka_topic", $"id",
        struct($"geo.lat".as("lat"), $"geo.ssn".as("ssn", md)).as("geo"))
    }
    val raw = Seq(("tnt.t1", 1L, (12.5, "SSN-SECRET")))
      .toDF("kafka_topic", "id", "geo")
      .select($"kafka_topic", $"id",
        struct($"geo._1".as("lat"), $"geo._2".as("ssn")).as("geo"))
    annotate(raw).coalesce(1).write.mode("append").parquet(input)

    val job = new StreamingJob(spark, Seq(sub), "tnt", () => new JsonFileSink(sinkRoot),
      s"$work/hashes", s"$work/ckpt")
    val q = job.start(annotate(spark.readStream.schema(raw.schema).parquet(input)))
    try {
      q.processAllAvailable()
      val doc = Files.readString(java.nio.file.Paths.get(sinkRoot, "_n/t1/1.json"))
      assert(doc.contains("\"lat\":12.5"))   // sibling survives inside the struct
      assert(!doc.contains("SSN-SECRET"))    // masked nested field never serialized
    } finally q.stop()
  }

  test("full pipeline from binary Avro bytes: decode → mask → sync gate → sink") {
    val input = tmp(); val sinkRoot = tmp(); val work = tmp()
    val schemaJson =
      """{"type":"record","name":"Doc","fields":[
        |  {"name":"id","type":"long"},
        |  {"name":"name","type":["null","string"]},
        |  {"name":"ssn","type":["null","string"],"@aether_masking":"secret"}
        |]}""".stripMargin
    val sub = Subscription("s-avro", "s-avro", "t*", FbOptions(
      syncMode = "sync", targetPath = "_av/{topic}",
      maskingLevels = graft.operators.Masking.DefaultLevels,
      maskingEmitLevel = "confidential"))

    // wire format: (kafka_topic, value binary) — the reference's
    // actual message shape before its spavro decode
    val raw = Seq((1L, "alice", "SSN-HIDE-ME"), (2L, "bob", "SSN-ALSO-HIDE"))
      .toDF("id", "name", "ssn")
      .select(lit("tnt.t9").as("kafka_topic"),
        graft.functions.AvroColumns.avro_encode(
          struct($"id", $"name", $"ssn"), schemaJson).as("value"))
    raw.coalesce(1).write.mode("append").parquet(input)

    val job = new StreamingJob(spark, Seq(sub), "tnt", () => new JsonFileSink(sinkRoot),
      s"$work/hashes", s"$work/ckpt")
    val stream = spark.readStream.schema(raw.schema).parquet(input)
    val q = job.start(graft.streaming.Pipeline.decodeAvro(stream, schemaJson))
    try {
      q.processAllAvailable()
      val doc = Files.readString(java.nio.file.Paths.get(sinkRoot, "_av/t9/1.json"))
      assert(doc.contains("\"name\":\"alice\""))
      assert(!doc.contains("SSN-HIDE-ME")) // annotation came from the Avro schema
      assert(job.hashStore.load().count() == 2)

      // replay: unchanged Avro bytes ⇒ hash store suppresses the write
      val m1 = new java.io.File(s"$sinkRoot/_av/t9/1.json").lastModified()
      Thread.sleep(20)
      raw.coalesce(1).write.mode("append").parquet(input)
      q.processAllAvailable()
      assert(new java.io.File(s"$sinkRoot/_av/t9/1.json").lastModified() == m1)
    } finally q.stop()
  }

  test("registry: validation, lifecycle, logs ring") {
    val reg = new graft.streaming.JobRegistry(spark, "tnt")
    // reference unit tests: even-segment path and illegal placeholder rejected
    // (firebase/tests/test_unit.py:37-50)
    val bad1 = Subscription("b1", "b1", "t*",
      FbOptions(targetPath = "_aether/entities"))            // 2 segments
    val bad2 = Subscription("b2", "b2", "t*",
      FbOptions(targetPath = "_aether/entities/{illegal}"))  // bad placeholder
    assert(reg.addSubscription(bad1).isLeft)
    assert(reg.addSubscription(bad2).isLeft)
    assert(reg.addSubscription(Subscription("ok", "ok", "t*")).isRight)

    assert(reg.addFirebase(FirebaseInstance("fb", "fb", "http://emulator")).isRight)
    assert(reg.addJob(FirebaseJob("j1", "j1", "missing-fb", Seq("ok"))).isLeft)
    assert(reg.addJob(FirebaseJob("j1", "j1", "fb", Seq("nope"))).isLeft)
    assert(reg.addJob(FirebaseJob("j1", "j1", "fb", Seq("ok"))).isRight)
    assert(reg.getStatus("j1") == "PAUSED")
    assert(reg.listSubscribedTopics("j1") == Seq("tnt.t*"))
    (1 to 150).foreach(i => reg.log("j1", s"line $i"))
    val logs = reg.getLogs("j1")
    assert(logs.length == 100 && logs.last == "line 150" && logs.head == "line 51")
    assert(reg.getStatus("nope") == "UNKNOWN")
  }

  test("compileMulti scans the micro-batch once for a 4-subscription job") {
    import graft.streaming.Pipeline
    val input = tmp()
    val raw = Seq(
      ("tnt.alpha", 1L, "keep", 1.0), ("tnt.alpha", 2L, "drop", 2.0),
      ("tnt.beta", 3L, "x", 3.0), ("tnt.gamma", 4L, "y", 4.0),
      ("tnt.delta", 5L, "z", 5.0), ("tnt.other", 6L, "w", 6.0))
      .toDF("kafka_topic", "id", "name", "score")
    graft.operators.Masking.annotate(raw, Map("score" -> "private"),
        "aether_masking")
      .coalesce(1).write.mode("overwrite").parquet(input)
    val batch = spark.read.parquet(input)
    val subs = Seq(
      Subscription("s1", "s1", "alpha*", FbOptions(filterRequired = true,
        filterFieldPath = "name", filterPassValues = Seq("keep"))),
      Subscription("s2", "s2", "beta*", FbOptions(maskingEmitLevel = "public",
        maskingLevels = Seq("public", "private"))),
      Subscription("s3", "s3", "gamma*", FbOptions(syncMode = "sync")),
      Subscription("s4", "s4", "delta*"))

    val out = Pipeline.compileMulti(subs, "tnt", batch)
    // one scan, no per-subscription union re-reading the batch
    val plan = out.queryExecution.optimizedPlan
    assert(plan.collectLeaves().size == 1, "multi-sub compile must scan the batch once")
    assert(!plan.toString.contains("Union"), "no per-subscription union branches")

    // semantics match the per-subscription compiles (the patterns are
    // disjoint, so routing against all subs changes no row's owner)
    val expected = subs.map(sub => Pipeline.compileMulti(Seq(sub), "tnt", batch))
      .reduce(_ unionByName _).collect().toSet
    assert(out.collect().toSet == expected)
    // the masked branch really masked (score pruned from s2's doc only)
    val bySub = out.collect().map(r => r.getString(2) -> r.getString(4)).toMap
    assert(!bySub("s2").contains("score"))
    assert(bySub("s3").contains("score"))
  }

  test("compileMulti wildcard filter paths see only the payload, not routing metadata") {
    import graft.streaming.Pipeline
    // `$.*` matches every top-level PAYLOAD field; the reference
    // filters the message dict alone, so engine metadata (sub_id,
    // topic, target_path) must be invisible to the path compiler.
    val batch = Seq(("tnt.alpha", 1L, "keep"), ("tnt.alpha", 2L, "drop"))
      .toDF("kafka_topic", "id", "name")
    val subs = Seq(Subscription("s1", "s1", "alpha*", FbOptions(
      filterRequired = true, filterFieldPath = "$.*",
      // "alpha" is the routed topic value and "s1" the sub_id: if
      // metadata leaked into the match set these would pass rows
      filterPassValues = Seq("alpha", "s1", "_aether/entities/alpha", "keep"))))
    val out = Pipeline.compileMulti(subs, "tnt", batch).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("1"), "only the 'keep' row passes")
  }

  test("schema change mid-stream re-plans the decode; both generations land") {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.avro.io.EncoderFactory
    import graft.sources.{AvroSchemaBridge, SchemaRegistry}
    import graft.streaming.Pipeline

    val input = tmp(); val sinkRoot = tmp(); val work = tmp()
    val v1 = """{"type":"record","name":"E","fields":[
      |{"name":"id","type":"long"},
      |{"name":"name","type":"string"}]}""".stripMargin.replace("\n", "")
    val v2 = """{"type":"record","name":"E","fields":[
      |{"name":"id","type":"long"},
      |{"name":"name","type":"string"},
      |{"name":"extra","type":["null","string"],"default":null}]}"""
      .stripMargin.replace("\n", "")

    def encode(schemaJson: String, fields: Map[String, Any]): Array[Byte] = {
      val s = new Schema.Parser().parse(schemaJson)
      val rec = new GenericData.Record(s)
      fields.foreach { case (k, v) => rec.put(k, v) }
      val buf = new java.io.ByteArrayOutputStream()
      val enc = EncoderFactory.get().directBinaryEncoder(buf, null)
      new GenericDatumWriter[GenericData.Record](s).write(rec, enc)
      enc.flush(); buf.toByteArray
    }
    def fp(s: String) = AvroSchemaBridge.fingerprint(s).toString

    // the "current schema" side-channel a real deploy reads from its
    // registry — the test evolves it mid-stream
    @volatile var gens: Seq[String] = Seq(v1)
    @volatile var changes = 0
    val decoder = new Pipeline.SchemaAwareDecoder(new SchemaRegistry(), "t1",
      () => gens, onChange = (_, _) => changes += 1)

    val sub = Subscription("sv", "sv", "t?", FbOptions(targetPath = "_aether/entities/{topic}"))
    val job = new StreamingJob(spark, Seq(sub), "tnt", () => new JsonFileSink(sinkRoot),
      s"$work/hashes", s"$work/ckpt", preBatch = Some(decoder))

    val gen1 = (1L to 3L).map(i =>
      ("tnt.t1", fp(v1), encode(v1, Map("id" -> i, "name" -> s"n$i"))))
      .toDF("kafka_topic", "schema_fp", "value")
    gen1.coalesce(1).write.mode("append").parquet(input)
    val q = job.start(spark.readStream.schema(gen1.schema).parquet(input))
    try {
      q.processAllAvailable()
      val dir = new java.io.File(s"$sinkRoot/_aether/entities/t1")
      assert(dir.list().count(_.endsWith(".json")) == 3)

      // EVOLVE: new generation appears; next batch carries v2 bytes
      // plus one v1-encoded straggler — all must decode
      gens = Seq(v1, v2)
      val gen2 = Seq(
        ("tnt.t1", fp(v2), encode(v2, Map("id" -> 4L, "name" -> "n4", "extra" -> "x4"))),
        ("tnt.t1", fp(v2), encode(v2, Map("id" -> 5L, "name" -> "n5", "extra" -> "x5"))),
        ("tnt.t1", fp(v1), encode(v1, Map("id" -> 6L, "name" -> "n6"))))
        .toDF("kafka_topic", "schema_fp", "value")
      gen2.coalesce(1).write.mode("append").parquet(input)
      q.processAllAvailable()

      assert(changes == 1, s"expected exactly one observed evolution, got $changes")
      assert(dir.list().count(_.endsWith(".json")) == 6)
      val doc4 = Files.readString(new java.io.File(dir, "4.json").toPath)
      assert(doc4.contains("\"extra\":\"x4\""), doc4)
      // the straggler decoded under the evolved reader: defaulted field
      val doc6 = Files.readString(new java.io.File(dir, "6.json").toPath)
      assert(doc6.contains("\"id\":6") && doc6.contains("\"name\":\"n6\""), doc6)
      // pre-evolution docs were produced under v1 and are untouched
      val doc1 = Files.readString(new java.io.File(dir, "1.json").toPath)
      assert(doc1.contains("\"name\":\"n1\"") && !doc1.contains("extra"), doc1)
    } finally q.stop()
  }

  test("registry: SYNC mode runs end-to-end; double start rejected; strict schema optional") {
    val input = tmp(); val sinkRoot = tmp(); val work = tmp()
    val reg = new graft.streaming.JobRegistry(spark, "tnt")
    val sub = Subscription("ssync", "ssync", "t?", FbOptions(
      syncMode = "sync", targetPath = "_aether/entities/{topic}"))
    assert(reg.addSubscription(sub).isRight) // engine modes accepted by default
    assert(reg.addFirebase(FirebaseInstance("fb", "fb", "http://emulator")).isRight)
    assert(reg.addJob(FirebaseJob("js", "js", "fb", Seq("ssync"))).isRight)

    val batch = Seq(("tnt.t1", 1L, "a", 1.0), ("tnt.t1", 2L, "b", 2.0))
      .toDF("kafka_topic", "id", "name", "score")
    batch.coalesce(1).write.mode("append").parquet(input)
    val stream = spark.readStream.schema(batch.schema).parquet(input)
    val started = reg.startJob("js", stream, () => new JsonFileSink(sinkRoot), work)
    assert(started.isRight)
    val q = started.toOption.get
    try {
      // second start while running must be rejected, not silently
      // replace the tracked handle
      assert(reg.startJob("js", stream, () => new JsonFileSink(sinkRoot), work)
        == Left(Seq("job: 'js' already running")))
      q.processAllAvailable()
      assert(reg.getStatus("js") == "NORMAL")
      val dir = new java.io.File(s"$sinkRoot/_aether/entities/t1")
      assert(dir.list().count(_.endsWith(".json")) == 2)
      // the SYNC gate merged hashes — the flagship path ran through the registry
      assert(new java.io.File(s"$work/hashstore-tnt-js/_manifest").exists())
    } finally q.stop()
    assert(reg.getStatus("js") == "STOPPED") // inactive ⇒ restart allowed again

    // schema-strict contract (schemas.py:284) still available
    val strict = new graft.streaming.JobRegistry(spark, "tnt", Validation.SchemaSyncModes)
    assert(strict.addSubscription(sub).isLeft)
    assert(strict.addSubscription(Subscription("f1", "f1", "t*")).isRight)
  }

  test("a backlog drains back-to-back: no trigger grid between catch-up micro-batches") {
    val input = tmp(); val sinkRoot = tmp(); val work = tmp()
    val reg = new graft.streaming.JobRegistry(spark, "tnt")
    val sub = Subscription("sdrain", "sdrain", "t?", FbOptions(
      syncMode = "sync", targetPath = "_aether/entities/{topic}"))
    assert(reg.addSubscription(sub).isRight)
    assert(reg.addFirebase(FirebaseInstance("fb", "fb", "http://emulator")).isRight)
    assert(reg.addJob(FirebaseJob("jd", "jd", "fb", Seq("sdrain"))).isRight)

    val files = 6
    (0 until files).foreach { f =>
      (1L to 20L).map(i => ("tnt.t1", f * 100L + i, s"name-$f-$i")).toDF("kafka_topic", "id", "name")
        .coalesce(1).write.mode("append").parquet(input)
    }
    val stream = spark.readStream.schema("kafka_topic STRING, id LONG, name STRING")
      .option("maxFilesPerTrigger", "1").parquet(input)
    val q = reg.startJob("jd", stream, () => new JsonFileSink(sinkRoot), work).toOption.get
    try {
      q.processAllAvailable()
      val data = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId).toSeq
      assert(data.size == files, data.map(_.batchId))
      def startMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
        java.time.Instant.parse(p.timestamp).toEpochMilli
      // idle time between one data batch's end and the next one's start;
      // a 1 s trigger grid makes it ~1000 ms minus the batch time. The
      // first batch (code generation in a cold JVM) may outlast the grid
      // interval, which hides the grid, so the gaps start after it.
      val gaps = data.drop(1).sliding(2).map { case Seq(a, b) =>
        startMs(b) - (startMs(a) + a.durationMs.get("triggerExecution"))
      }.toSeq.sorted
      val median = (gaps((gaps.size - 1) / 2) + gaps(gaps.size / 2)) / 2.0
      assert(median < 250, s"gaps between catch-up batches (ms): $gaps")
      assert(new java.io.File(s"$sinkRoot/_aether/entities/t1").list().count(_.endsWith(".json"))
        == files * 20)
    } finally q.stop()
  }

  test("an engineDefaults session polls an idle source once a second") {
    // read by every streaming query when it starts: the sleep after a
    // trigger that found no new data
    assert(spark.sessionState.conf.streamingPollingDelay == 1000L)
  }

  test("start refuses a stream whose session polls an idle source more than once a second") {
    val input = tmp(); val sinkRoot = tmp(); val work = tmp()
    val sub = Subscription("s1", "s1", "t?", FbOptions(syncMode = "forward"))
    val df = Seq(("tnt.t1", 1L, "x", 1.0)).toDF("kafka_topic", "id", "name", "score")
    df.coalesce(1).write.mode("append").parquet(input)
    val job = new StreamingJob(spark, Seq(sub), "tnt", () => new JsonFileSink(sinkRoot),
      s"$work/hashes", s"$work/ckpt")
    val fast = spark.newSession()
    fast.conf.set("spark.sql.streaming.pollingDelay", "10ms")
    val err = intercept[IllegalArgumentException](
      job.start(fast.readStream.schema(df.schema).parquet(input)))
    assert(err.getMessage.contains("Tuning.engineDefaults"), err.getMessage)
    // the same job starts on a stream of the engineDefaults session
    val q = job.start(spark.readStream.schema(df.schema).parquet(input))
    try {
      q.processAllAvailable()
      assert(new java.io.File(s"$sinkRoot/_aether/entities/t1").list().length == 1)
    } finally q.stop()
  }

  test("topic discovery: tenant filter + prefix strip; broker failure surfaces as Left") {
    import graft.sources.{StaticTopicCatalog, TopicCatalog}
    // list_topics semantics (artifacts.py:409-424): only this tenant's
    // topics, prefix stripped; other tenants and non-matching names out
    val broker = new StaticTopicCatalog(Seq(
      "tnt.alpha", "tnt.beta", "other.gamma", "tntx", "unprefixed"))
    val reg = new graft.streaming.JobRegistry(spark, "tnt", topicCatalog = broker)
    assert(reg.listTopics() == Right(Seq("alpha", "beta")))
    // wildcard-capturable names survive the strip intact
    assert(TopicCatalog.tenantTopics(Seq("t.Name1", "t.Name2", "t2.Name3"), "t")
      == Seq("Name1", "Name2"))
    // broker failure → Left (reference: KafkaException → HTTP 500 wrap)
    val down = new graft.streaming.JobRegistry(spark, "tnt",
      topicCatalog = new TopicCatalog {
        def allTopics(): Seq[String] = throw new RuntimeException("broker down")
      })
    assert(down.listTopics().isLeft)
  }

  private def eventually(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (cond) return true
      Thread.sleep(100)
    }
    cond
  }

  test("supervisor: failed query flips to RECONFIGURE, restarts with backoff, recovers") {
    val input = tmp(); val sinkRoot = tmp(); val work = tmp()
    val marker = s"$work/fail-once-marker"
    val reg = new graft.streaming.JobRegistry(spark, "tnt",
      restartBackoffMs = 200, maxBackoffMs = 1000)
    assert(reg.addSubscription(Subscription("sr", "sr", "t?")).isRight)
    assert(reg.addFirebase(FirebaseInstance("fb", "fb", "http://emulator")).isRight)
    assert(reg.addJob(FirebaseJob("jr", "jr", "fb", Seq("sr"))).isRight)

    val batch = Seq(("tnt.t1", 1L, "a"), ("tnt.t1", 2L, "b"))
      .toDF("kafka_topic", "id", "name")
    batch.coalesce(1).write.mode("append").parquet(input)
    val stream = spark.readStream.schema(batch.schema).parquet(input)
    // first commit throws (reference analog: ConsumerHttpException mid
    // poll, artifacts.py:276-281); replays succeed after the marker
    val started = reg.startJob("jr", stream, () => new FailOnceSink(sinkRoot, marker), work)
    assert(started.isRight)
    try {
      // the injected failure kills the first run
      try started.toOption.get.processAllAvailable()
      catch { case _: Exception => }
      // supervisor notices, flags RECONFIGURE, restarts, and the
      // replayed batch lands in the sink
      assert(eventually(30000) {
        val dir = new java.io.File(s"$sinkRoot/_aether/entities/t1")
        dir.exists() && dir.list().count(_.endsWith(".json")) == 2
      }, s"sink never recovered; logs: ${reg.getLogs("jr").mkString(" | ")}")
      assert(eventually(30000)(reg.getStatus("jr") == "NORMAL"),
        s"status ${reg.getStatus("jr")}; logs: ${reg.getLogs("jr").mkString(" | ")}")
      val logs = reg.getLogs("jr")
      assert(logs.exists(_.contains("query failed")), logs.mkString(" | "))
      assert(logs.exists(_.contains("status RECONFIGURE")), logs.mkString(" | "))
      assert(logs.exists(_.contains("restarted")), logs.mkString(" | "))
      // listener-fed entries (started/progress) reach the ring too;
      // progress events are posted asynchronously, so wait for one
      assert(logs.exists(_.startsWith("query started")), logs.mkString(" | "))
      assert(eventually(30000)(reg.getLogs("jr").exists(_.startsWith("progress:"))),
        reg.getLogs("jr").mkString(" | "))
    } finally reg.pauseJob("jr")
    // paused: supervisor must not resurrect it
    assert(reg.getStatus("jr") == "PAUSED")
    // resume rebuilds the query from the stored start args + checkpoint
    val resumed = reg.resumeJob("jr")
    assert(resumed.isRight, resumed)
    try assert(eventually(30000)(reg.getStatus("jr") == "NORMAL"))
    finally reg.pauseJob("jr")
  }

  test("supervisor restart storm: permanent failure keeps state bounded, backoff monotone, then STOPPED") {
    val input = tmp(); val work = tmp()
    val maxRestarts = 4
    val reg = new graft.streaming.JobRegistry(spark, "tnt",
      restartBackoffMs = 100, maxBackoffMs = 400, maxRestarts = maxRestarts)
    assert(reg.addSubscription(Subscription("ss", "ss", "t?")).isRight)
    assert(reg.addFirebase(FirebaseInstance("fs", "fs", "http://emulator")).isRight)
    assert(reg.addJob(FirebaseJob("js2", "js2", "fs", Seq("ss"))).isRight)

    val batch = Seq(("tnt.t1", 1L, "a")).toDF("kafka_topic", "id", "name")
    batch.coalesce(1).write.mode("append").parquet(input)
    val stream = spark.readStream.schema(batch.schema).parquet(input)
    // every commit throws: the supervisor must retry maxRestarts times
    // with doubling (capped) delays and then give up
    val started = reg.startJob("js2", stream, () => new AlwaysFailSink, work)
    assert(started.isRight, started)
    try {
      try started.toOption.get.processAllAvailable()
      catch { case _: Exception => }
      // "STOPPED" alone also covers a merely-inactive query, so gate on
      // the supervisor's give-up line landing in the ring first
      assert(eventually(60000)(reg.getLogs("js2").exists(_.contains("giving up after"))),
        s"supervisor never gave up; logs: ${reg.getLogs("js2").mkString(" | ")}")
      assert(reg.getStatus("js2") == "STOPPED",
        s"status ${reg.getStatus("js2")} after give-up")

      val logs = reg.getLogs("js2")
      // exactly maxRestarts scheduled retries, then the give-up line
      val delayRe = """restart #(\d+) in (\d+) ms""".r
      val delays = logs.flatMap(l => delayRe.findFirstMatchIn(l)
        .map(m => (m.group(1).toInt, m.group(2).toLong)))
      assert(delays.map(_._1) == (1 to maxRestarts).toSeq,
        s"attempt sequence: $delays; logs: ${logs.mkString(" | ")}")
      // backoff doubles 100→200→400 and stays capped at maxBackoffMs
      assert(delays.map(_._2) == Seq(100L, 200L, 400L, 400L),
        s"delays not monotone-doubling-capped: $delays")
      assert(logs.exists(_.contains("giving up after")), logs.mkString(" | "))

      // a restart STORM must not accumulate one query per dead attempt:
      // the registry holds one run for the job, and that run holds only
      // the query of the latest started attempt
      val startedRuns = logs.flatMap(l => """query started \(run ([-0-9a-f]+)\)""".r
        .findFirstMatchIn(l).map(m => java.util.UUID.fromString(m.group(1))))
      assert(startedRuns.distinct.size > 1, logs.mkString(" | "))
      assert(reg.heldRuns == Map("js2" -> Some(startedRuns.last)),
        s"held: ${reg.heldRuns}; started: $startedRuns")

      // /health reports the job that gave up
      val cp = new graft.streaming.ControlPlane(reg).start()
      try {
        val health = java.net.http.HttpClient.newHttpClient().send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"${cp.address}/health")).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        assert(health.body() == """{"healthy":false,"jobs":{"js2":"STOPPED"}}""", health.body())
      } finally cp.stop()
    } finally { try reg.pauseJob("js2") catch { case _: Exception => } }
  }
}

/** Sink whose EVERY commit throws — drives the restart-storm spec. */
final class AlwaysFailSink extends graft.sources.DocumentSink {
  override def commitBatch(docs: Seq[graft.sources.DocumentSink.Doc]): Unit =
    throw new RuntimeException("injected permanent sink failure (test)")
}

/** Sink whose FIRST commit throws (marker file arbitrates across
  * executor threads/replays) — everything after succeeds. */
final class FailOnceSink(root: String, marker: String) extends graft.sources.DocumentSink {
  private def inner = new JsonFileSink(root)
  override def commitBatch(docs: Seq[graft.sources.DocumentSink.Doc]): Unit = {
    val m = new java.io.File(marker)
    if (m.createNewFile()) throw new RuntimeException("injected sink failure (test)")
    inner.commitBatch(docs)
  }
}
