package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.model._
import graft.sources.JsonFileSink

/** Runnable end-to-end demo of the streaming pipeline: two micro-
  * batches through a file-stream source with SYNC change detection.
  * Prints the sink layout and hash-store state. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Tuning.engineDefaults(SparkSession.builder()).master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val input = Files.createTempDirectory("demo-in").toString
    val sinkRoot = Files.createTempDirectory("demo-sink").toString
    val work = Files.createTempDirectory("demo-work").toString

    val sub = Subscription("demo-sub", "demo", "t*",
      FbOptions(syncMode = "sync", targetPath = "_aether/entities/{topic}"))
    println(s"validation: ${Validation.validateSubscription(sub)}")

    val b1 = (1L to 5L).map(i => ("tnt.topicA", i, s"v$i")).toDF("kafka_topic", "id", "payload")
    b1.coalesce(1).write.mode("append").parquet(input)

    val job = new StreamingJob(spark, Seq(sub), "tnt", () => new JsonFileSink(sinkRoot),
      s"$work/hashes", s"$work/ckpt")
    val q = job.start(spark.readStream.schema(b1.schema).parquet(input))
    q.processAllAvailable()
    println(s"after batch1: sink=${list(sinkRoot)} hashes=${job.hashStore.load().count()}")

    // batch 2: replay + one change + one new
    val b2 = (Seq(("tnt.topicA", 1L, "v1-CHANGED"), ("tnt.topicA", 6L, "v6")) ++
      (2L to 5L).map(i => ("tnt.topicA", i, s"v$i"))).toDF("kafka_topic", "id", "payload")
    b2.coalesce(1).write.mode("append").parquet(input)
    q.processAllAvailable()
    println(s"after batch2: sink=${list(sinkRoot)} hashes=${job.hashStore.load().count()}")
    println(s"doc1=${Files.readString(java.nio.file.Paths.get(sinkRoot, "_aether/entities/topicA/1.json"))}")
    q.stop()

    // hostile doc id: must stay inside the sink root, encoded
    val hostile = new graft.sources.JsonFileSink(sinkRoot)
    hostile.commitBatch(Seq(graft.sources.DocumentSink.Doc(
      "_aether/entities/topicA", "../../escape", "{\"x\":1}")))
    val escaped = new java.io.File(sinkRoot).getParentFile.listFiles()
      .exists(_.getName.contains("escape"))
    println(s"traversal contained: ${!escaped}; sink now=${list(sinkRoot)}")

    // schema bridge + per-topic change detection (A17)
    val reg = new graft.sources.SchemaRegistry
    val v1 = """{"type":"record","name":"E","fields":[
               |{"name":"id","type":"string"},
               |{"name":"secret_field","type":["null","string"],"@aether_masking":"secret"}]}""".stripMargin
    val v2 = v1.replace("secret_field", "renamed_field")
    println(s"schema v1: ${reg.observe("topicA", v1)}; again: ${reg.observe("topicA", v1)}; evolved: ${reg.observe("topicA", v2)}")
    println(s"bridged fields: ${reg.schemaOf("topicA").get.fieldNames.mkString(",")}")

    // multi-subscription job via the registry: sub-a takes topicX
    // (masked, first match), sub-b takes everything else
    val jobs = new JobRegistry(spark, "tnt")
    println(s"adds: ${jobs.addFirebase(FirebaseInstance("fb", "fb", "http://local"))} " +
      s"${jobs.addSubscription(Subscription("sub-a", "a", "topicX",
        FbOptions(targetPath = "_a/docs/{topic}")))} " +
      s"${jobs.addSubscription(Subscription("sub-b", "b", "topic*",
        FbOptions(targetPath = "_b/docs/{topic}")))} " +
      s"${jobs.addJob(FirebaseJob("multi", "multi", "fb", Seq("sub-a", "sub-b")))}")
    val mIn = Files.createTempDirectory("demo-multi").toString
    val mSink = Files.createTempDirectory("demo-multi-sink").toString
    val mDf = Seq(("tnt.topicX", 1L, "x"), ("tnt.topicY", 2L, "y"))
      .toDF("kafka_topic", "id", "payload")
    mDf.coalesce(1).write.mode("append").parquet(mIn)
    val mWork = Files.createTempDirectory("demo-multi-work").toString
    jobs.startJob("multi", spark.readStream.schema(mDf.schema).parquet(mIn),
        () => new JsonFileSink(mSink), mWork) match {
      case Right(mq) =>
        mq.processAllAvailable()
        def ls(p: String) = { val f = new java.io.File(s"$mSink/$p")
          if (f.exists) f.list().sorted.mkString(",") else "∅" }
        println(s"multi-sub: _a/topicX=[${ls("_a/docs/topicX")}] _b/topicY=[${ls("_b/docs/topicY")}] _b/topicX=[${ls("_b/docs/topicX")}] status=${jobs.getStatus("multi")}")
        mq.stop()
      case Left(errs) => println(s"multi-sub start FAILED: $errs")
    }

    // keyed streaming state (sessionize) over a file stream
    val sessIn = Files.createTempDirectory("demo-sess").toString
    val s1 = Seq((7L, 1.5), (7L, 2.5), (8L, 1.0)).toDF("user_id", "value")
    s1.coalesce(1).write.mode("append").parquet(sessIn)
    val sq = StreamOps.startSessionQuery(spark,
      spark.readStream.schema(s1.schema).parquet(sessIn), "demo_sessions")
    sq.processAllAvailable()
    Seq((7L, 6.0)).toDF("user_id", "value").coalesce(1).write.mode("append").parquet(sessIn)
    sq.processAllAvailable()
    val sess = spark.table("demo_sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (k, v) => k -> v.maxBy(_._2) }
    println(s"sessions: ${sess.toSeq.sortBy(_._1).mkString(" ")}")
    sq.stop()
    spark.stop()
  }

  private def list(root: String): String = {
    val d = new java.io.File(s"$root/_aether/entities/topicA")
    if (!d.exists) "∅" else d.list().sorted.mkString(",")
  }
}
