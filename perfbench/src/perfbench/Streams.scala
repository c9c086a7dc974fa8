package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.model.{FbOptions, FirebaseInstance, FirebaseJob, Subscription}
import graft.operators.Masking
import graft.sources.{DocumentSink, JsonFileSink}
import graft.streaming.{HashStore, JobRegistry, Pipeline}

/** One timed sink commit, tagged with the micro-batch and the Spark stage
  * that made it. */
final case class Commit(batchId: Long, stageId: Int, start: Double, end: Double, docs: Int,
                        syncDocs: Int)

/** The document sink of a traced run: the real [[JsonFileSink]], with
  * each commit timed and tagged with its `streaming.sql.batchId`. */
final class TimedSink(root: String, syncPrefixes: Seq[String]) extends DocumentSink {
  private val inner = new JsonFileSink(root)
  override def maxSubmit: Int = inner.maxSubmit
  override def commitBatch(docs: Seq[DocumentSink.Doc]): Unit = {
    val t0 = Clock.now()
    inner.commitBatch(docs)
    val t1 = Clock.now()
    val tc = Option(TaskContext.get())
    val batch = tc.flatMap(c => Option(c.getLocalProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    TimedSink.commits.add(Commit(batch, tc.map(_.stageId()).getOrElse(-1), t0, t1, docs.size,
      docs.count(d => syncPrefixes.exists(d.targetPath.startsWith))))
  }
}
object TimedSink {
  val commits = new ConcurrentLinkedQueue[Commit]()
}

/** CPU time ([[Jvm.cpuMs]]) at the end of each micro-batch that read
  * input, from a streaming listener. */
final class BatchCpu(spark: SparkSession) extends StreamingQueryListener {
  private val at = new ConcurrentLinkedQueue[Double]()
  def start(): this.type = { spark.streams.addListener(this); this }
  def stop(): Unit = spark.streams.removeListener(this)
  def seen: Int = at.size
  /** Waits (up to 10 s) until `n` micro-batches have been seen, then stops. */
  def await(n: Int): Unit = {
    val limit = System.currentTimeMillis() + 10000L
    while (seen < n && System.currentTimeMillis() < limit) Thread.sleep(20)
    stop()
  }
  /** CPU time of each micro-batch after the first, from the end of the one before. */
  def perBatch: Seq[Double] = at.asScala.toSeq.sliding(2).collect { case Seq(x, y) => y - x }.toSeq
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) at.add(Jvm.cpuMs)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Streaming workloads: the consumer job registered and started through
  * [[JobRegistry]] over an Avro-encoded file stream, three
  * subscriptions, and a [[JsonFileSink]].
  *
  *  - `stream_catchup`, closed loop: a pre-staged backlog, one file per
  *    trigger, drained from an empty hash store.
  *  - `stream_live`, open loop: the store and sink are seeded with the
  *    base documents, then one generator thread publishes the pre-built
  *    files by atomic rename on a fixed schedule; each file is timed from
  *    when it was due to the end of the micro-batch that processed it.
  *
  * Set-up, measured five times: a fresh registry, subscriptions and job
  * started over an empty stream, until its first trigger has completed. */
object Streams {
  val Tenant = "tnt"
  val JobId = "bench"
  private val levels = Masking.DefaultLevels
  val Subs: Seq[Subscription] = Seq(
    Subscription("a_commerce", "a_commerce", "p*", FbOptions(syncMode = "sync",
      targetPath = "_aether/commerce/{topic}", maskingLevels = levels,
      maskingEmitLevel = "public")),
    Subscription("a_errors", "a_errors", "e*", FbOptions(syncMode = "forward",
      targetPath = "_aether/errors/{topic}")),
    Subscription("b_activity", "b_activity", "*", FbOptions(syncMode = "sync",
      targetPath = "_aether/activity/{topic}", filterRequired = true,
      filterFieldPath = "event_type", filterPassValues = Seq("click", "view", "signup"),
      maskingLevels = levels, maskingEmitLevel = "confidential")))
  val SyncPrefixes = Seq("_aether/commerce/", "_aether/activity/")
  private val Keys = Seq("target_path", "doc_id")

  /** A started job and where it keeps its state. */
  final case class Job(registry: JobRegistry, query: StreamingQuery, work: String,
                       sinkRoot: String, startMs: Double, startCallMs: Double) {
    def checkpoint = s"$work/checkpoint-$Tenant-$JobId"
    def store = s"$work/hashstore-$Tenant-$JobId"
    def stop(): Unit = registry.shutdown()
  }

  private def files(dir: String): Seq[Path] =
    if (!Files.isDirectory(Paths.get(dir))) Nil
    else {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }

  /** Copies `src` files into a fresh `dst`, with strictly increasing
    * modification times so the file source takes them in name order. */
  private def stage(src: Seq[Path], dst: String): Seq[Path] = {
    Files.createDirectories(Paths.get(dst))
    val t0 = System.currentTimeMillis() - 1000L * (src.size + 10)
    src.zipWithIndex.map { case (f, i) =>
      val to = Paths.get(dst).resolve(f.getFileName)
      Files.copy(f, to, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(to, FileTime.fromMillis(t0 + 1000L * i))
      to
    }
  }

  def startJob(spark: SparkSession, schemaJson: String, input: String, work: String,
               maxFiles: Option[Int], traced: Boolean): Job = {
    val t0 = Clock.now()
    val reg = new JobRegistry(spark, Tenant)
    def ok[T](e: Either[Seq[String], T]): T = e.fold(x => sys.error(x.mkString("; ")), identity)
    ok(reg.addFirebase(FirebaseInstance("fb", "bench", "https://bench.invalid")))
    Subs.foreach(s => ok(reg.addSubscription(s)))
    ok(reg.addJob(FirebaseJob(JobId, "bench", "fb", Subs.map(_.id))))
    val reader = spark.readStream.schema("kafka_topic STRING, value BINARY")
    maxFiles.foreach(n => reader.option("maxFilesPerTrigger", n.toLong))
    val stream = Pipeline.decodeAvro(reader.parquet(input), schemaJson)
    val sinkRoot = s"$work/sink"
    val mkSink: () => DocumentSink =
      if (traced) { val p = SyncPrefixes; () => new TimedSink(sinkRoot, p) }
      else () => new JsonFileSink(sinkRoot)
    val c0 = Clock.now()
    val q = ok(reg.startJob(JobId, stream, mkSink, work))
    Job(reg, q, work, sinkRoot, t0, Clock.now() - c0)
  }

  /** Micro-batches that read input, with start and end (epoch ms). */
  final case class Batch(id: Long, rows: Long, start: Double, end: Double,
                         durations: Map[String, Double])
  def batches(q: StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      Batch(p.batchId, p.numInputRows, start, start + d.getOrElse("triggerExecution", 0.0), d)
    }.sortBy(_.id)

  /** File name → micro-batch id, from the file source's offset log. */
  def fileBatches(job: Job): Map[String, Long] = {
    val pathRe = "\"path\":\"([^\"]+)\"".r
    val batchRe = "\"batchId\":(\\d+)".r
    val dir = Paths.get(s"${job.checkpoint}/sources/0")
    val s = Files.list(dir)
    // every tenth batch's log file is "<id>.compact" and holds the entries
    // of the batches before it, so the batch comes from each entry
    try s.iterator().asScala.filter(_.getFileName.toString.matches("\\d+(\\.compact)?"))
      .flatMap(f => Files.readAllLines(f).asScala).flatMap { line =>
        for (p <- pathRe.findFirstMatchIn(line); b <- batchRe.findFirstMatchIn(line))
          yield Paths.get(java.net.URI.create(p.group(1)).getPath).getFileName.toString ->
            b.group(1).toLong
      }.toMap
    finally s.close()
  }

  /** Set-up: a fresh registry, its resources and the job started over
    * an empty stream, from the first registry call until the job's first
    * trigger has completed. */
  private def setup(spark: SparkSession, a: Args, schemaJson: String, i: Int): (Double, Double) = {
    val in = s"${a.work}/setup-$i/in"
    Files.createDirectories(Paths.get(in))
    val job = startJob(spark, schemaJson, in, s"${a.work}/setup-$i", None, traced = false)
    try {
      val limit = System.currentTimeMillis() + 60000L
      while (job.query.lastProgress == null && job.query.isActive &&
          System.currentTimeMillis() < limit) Thread.sleep(2)
      job.query.exception.foreach(e => throw e)
      ((Clock.now() - job.startMs) / 1e3, job.startCallMs)
    } finally job.stop()
  }

  // ---- correctness: final sink and store against a batch recompute ----

  private def compiled(spark: SparkSession, schemaJson: String, paths: Seq[Path]): DataFrame =
    Pipeline.dedupeBatch(Pipeline.compileMulti(Subs, Tenant, Pipeline.decodeAvro(
      spark.read.schema("kafka_topic STRING, value BINARY").parquet(paths.map(_.toString): _*),
      schemaJson)))

  /** Expected final documents: the run's files win over the base files
    * per (target_path, doc_id). Returns the number of mismatches and up
    * to 20 examples. */
  def verify(spark: SparkSession, schemaJson: String, base: Seq[Path], run: Seq[Path],
             job: Job): (Long, Seq[String]) = {
    val runDocs = compiled(spark, schemaJson, run)
    val expected =
      if (base.isEmpty) runDocs
      else runDocs.unionByName(compiled(spark, schemaJson, base)
        .join(runDocs.select(Keys.map(col): _*), Keys, "left_anti"))
    val rows = expected.select("target_path", "doc_id", "doc_json", "doc_hash", "sub_id")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getString(2), r.getString(3), r.getString(4))).toMap
    val bad = scala.collection.mutable.ArrayBuffer[String]()
    // sink: {root}/{target_path}/{doc_id}.json
    val root = Paths.get(job.sinkRoot)
    val actual: Map[(String, String), String] =
      if (!Files.isDirectory(root)) Map.empty
      else {
        val w = Files.walk(root)
        try w.iterator().asScala.filter(p => p.getFileName.toString.endsWith(".json")).map { p =>
          (root.relativize(p.getParent).toString, p.getFileName.toString.stripSuffix(".json")) ->
            Files.readString(p)
        }.toMap
        finally w.close()
      }
    rows.foreach { case (k, (json, _, _)) =>
      actual.get(k) match {
        case None => bad += s"sink missing $k"
        case Some(j) if j != json => bad += s"sink differs $k"
        case _ =>
      }
    }
    actual.keys.filterNot(rows.contains).foreach(k => bad += s"sink extra $k")
    // store: SYNC subscriptions' (target_path, doc_id) → doc_hash
    val syncIds = Subs.filter(_.fbOptions.syncMode == "sync").map(_.id).toSet
    val expStore = rows.collect { case (k, (_, h, sub)) if syncIds(sub) => k -> h }
    val store = new HashStore(spark, job.store).load().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    expStore.foreach { case (k, h) =>
      if (!store.get(k).contains(h)) bad += s"store ${if (store.contains(k)) "differs" else "missing"} $k"
    }
    store.keys.filterNot(expStore.contains).foreach(k => bad += s"store extra $k")
    (bad.size.toLong, bad.take(20).toSeq)
  }

  // ---- one measured drain / schedule ----

  /** What one measured job reports. */
  final case class Measured(job: Job, batches: Seq[Batch], e2e: Map[String, Double],
                            events: Long, failed: Long, failures: Seq[String],
                            extra: Map[String, Double], windowStart: Double, windowEnd: Double)

  private def rowsOf(spark: SparkSession, fs: Seq[Path]): Long =
    if (fs.isEmpty) 0L else spark.read.parquet(fs.map(_.toString): _*).count()

  /** Closed-loop drain: one job over the warm-up files followed by the
    * measured backlog, one file per trigger. The measured window runs from
    * the end of the last warm-up micro-batch to the end of the last one. */
  def catchup(spark: SparkSession, a: Args, schemaJson: String, warmup: Seq[Path],
              backlog: Seq[Path], tag: String, traced: Boolean): Measured = {
    val work = s"${a.work}/$tag"
    val staged = stage(warmup ++ backlog, s"$work/in")
    val events = rowsOf(spark, staged.drop(warmup.size))
    val cpu = new BatchCpu(spark).start()
    val job = startJob(spark, schemaJson, s"$work/in", work, Some(1), traced)
    val limit = System.currentTimeMillis() + 150000L
    while (cpu.seen < staged.size && job.query.isActive && System.currentTimeMillis() < limit)
      Thread.sleep(50)
    job.query.processAllAvailable()
    cpu.stop()
    if (cpu.seen < staged.size) sys.error(s"$tag: ${cpu.seen} of ${staged.size} micro-batches seen")
    val all = batches(job.query)
    val peak = Jvm.retainedHeapMb(spark.sparkContext)
    job.stop()
    val bs = all.drop(warmup.size)
    val start = all.take(warmup.size).lastOption.map(_.end).getOrElse(job.startMs)
    val end = bs.map(_.end).maxOption.getOrElse(Clock.now())
    val drainS = (end - start) / 1e3
    val ms = bs.map(_.durations.getOrElse("triggerExecution", 0.0))
    val cpuMs = cpu.perBatch.drop(warmup.size - 1)
    Log(f"$tag: ${bs.size} batches, drain $drainS%.2f s")
    val (failed, why) = verify(spark, schemaJson, Nil, staged, job)
    Log(s"$tag: verified, $failed failed")
    Measured(job, bs, Map(
      "heap_retained_mb" -> peak,
      "catchup_events_per_s" -> events / drainS,
      "drain_s" -> drainS,
      "batch_ms_p50" -> Stats.hd(ms, 0.5),
      "batch_ms_tail" -> Stats.hd(ms, a.double("tail-pct")),
      "drain_cpu_s" -> cpuMs.sum / 1e3,
      "batch_cpu_ms_p50" -> Stats.hd(cpuMs, 0.5),
      "batch_cpu_ms_tail" -> Stats.hd(cpuMs, a.double("tail-pct"))),
      rowsOf(spark, staged), failed, why, Map("batches" -> bs.size.toDouble), start, end)
  }

  def live(spark: SparkSession, a: Args, schemaJson: String, base: Seq[Path],
           run: Seq[Path], tag: String, traced: Boolean): Measured = {
    val work = s"${a.work}/$tag"
    val in = s"$work/in"
    val seeded = stage(base, in)
    val pending = stage(run, s"$work/pending")
    val published = pending.map(f => Paths.get(in).resolve(f.getFileName))
    val events = rowsOf(spark, base) + rowsOf(spark, pending)
    val cpu = new BatchCpu(spark).start()
    val job = startJob(spark, schemaJson, in, work, None, traced)
    job.query.processAllAvailable() // the base documents: store and sink seeded
    // one generator thread, fixed schedule: file i is due at t0 + i / rate
    val intervalMs = 1000.0 / a.double("files-per-s")
    val t0 = Clock.now() + 200.0
    val due = pending.indices.map(i => t0 + i * intervalMs)
    val publishedAt = new Array[Double](pending.size)
    val gen = new Thread(() => {
      pending.zipWithIndex.foreach { case (f, i) =>
        val wait = due(i) - Clock.now()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        Files.setLastModifiedTime(f, FileTime.fromMillis(System.currentTimeMillis()))
        Files.move(f, published(i), StandardCopyOption.ATOMIC_MOVE)
        publishedAt(i) = Clock.now()
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val scheduleEnd = due.last
    job.query.processAllAvailable()
    val bs = batches(job.query)
    cpu.await(bs.size)
    val peak = Jvm.retainedHeapMb(spark.sparkContext)
    job.stop()
    val fileBatch = fileBatches(job)
    val batchEnd = bs.map(b => b.id -> b.end).toMap
    val names = pending.map(_.getFileName.toString)
    val lat = names.indices.map(i => batchEnd(fileBatch(names(i))) - due(i))
    val liveBatches = names.map(fileBatch).toSet
    val runBatches = bs.filter(b => liveBatches(b.id))
    val busyMs = runBatches.map(_.durations.getOrElse("triggerExecution", 0.0))
    val backlogEnd = names.indices.count(i => publishedAt(i) <= scheduleEnd &&
      batchEnd(fileBatch(names(i))) > scheduleEnd + intervalMs)
    // the micro-batches after the one that read the base documents
    val liveCpu = cpu.perBatch
    val (failed, why) = verify(spark, schemaJson, seeded, published, job)
    Measured(job, runBatches, Map(
      "heap_retained_mb" -> peak,
      "event_latency_ms_p50" -> Stats.hd(lat, 0.5),
      "event_latency_ms_p90" -> Stats.hd(lat, 0.9),
      "live_busy_s" -> busyMs.sum / 1e3,
      "live_cpu_s" -> liveCpu.sum / 1e3,
      "batch_cpu_ms_p50" -> Stats.hd(liveCpu, 0.5)),
      events, failed, why, Map(
        "files" -> names.size.toDouble,
        "live_batches" -> liveBatches.size.toDouble,
        "generator.lag_ms_max" -> names.indices.map(i => publishedAt(i) - due(i)).max,
        "stream.backlog_files_end" -> backlogEnd.toDouble),
      t0, bs.map(_.end).maxOption.getOrElse(Clock.now()))
  }

  def run(spark0: SparkSession, a: Args, restartSingleCore: () => SparkSession): Result = {
    var spark = spark0
    val data = a("data")
    val schemaJson = Files.readString(Paths.get(s"$data/event.avsc"))
    val setups = (0 until 5).map(i => setup(spark, a, schemaJson, i))
    Log("set-ups done")
    val isLive = a.workload == "stream_live"
    // catch-up drains the warm-up files, then `backlog-per-s` backlog files
    // per measured second; live publishes `files-per-s` files per second
    val warmup = files(s"$data/warm")
    def perSecond(k: String) = math.round(a.seconds * a.double(k)).toInt
    def measure(tag: String, traced: Boolean): Measured =
      if (isLive) live(spark, a, schemaJson, files(s"$data/base"),
        files(s"$data/run").take(perSecond("files-per-s")), tag, traced)
      else catchup(spark, a, schemaJson, warmup, backlog, tag, traced)
    lazy val backlog = files(s"$data/backlog").take(math.max(4, perSecond("backlog-per-s")))

    val m = measure("run", traced = false)
    val e2e = m.e2e + ("setup_s" -> Stats.median(setups.map(_._1)))
    var attempted = m.events
    var failed = m.failed
    var failures = m.failures
    val details = scala.collection.mutable.Map[String, Any](
      "setup_runs_s" -> setups.map(_._1), "batches" -> m.batches.size,
      "events" -> m.events, "batch_rows" -> m.batches.map(_.rows),
      "batch_ms" -> m.batches.map(_.durations.getOrElse("triggerExecution", 0.0))) ++ m.extra
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else {
        val rec = new Recorder(spark).install()
        TimedSink.commits.clear()
        val gc0 = Jvm.gcMs
        val t = measure("traced", traced = true)
        val gcMs = Jvm.gcMs - gc0
        rec.uninstall()
        attempted += t.events; failed += t.failed; failures ++= t.failures
        val (lay, det) = tracedLayers(spark, a, rec, t, setups.map(_._2) :+ t.job.startCallMs)
        details ++= det
        val primary = if (isLive) "live_busy_s" else "drain_s"
        var out = lay ++ Map("jvm.gc_ms" -> gcMs,
          "trace.overhead_frac" -> (t.e2e(primary) / m.e2e(primary) - 1.0),
          "generator.lag_ms_max" -> t.extra.getOrElse("generator.lag_ms_max", 0.0),
          "stream.backlog_files_end" -> t.extra.getOrElse("stream.backlog_files_end", 0.0))
        if (!isLive) {
          // single-core baseline: the same job, local[1], one warm-up file
          // and the first half of the backlog
          spark = restartSingleCore()
          val one = catchup(spark, a, schemaJson, warmup.take(1),
            backlog.take(math.max(2, backlog.size / 2)), "local1", traced = false)
          attempted += one.events; failed += one.failed; failures ++= one.failures
          out ++= Map("local1.catchup_events_per_s" -> one.e2e("catchup_events_per_s"),
            "local1.batch_ms_p50" -> one.e2e("batch_ms_p50"))
          details("local1") = one.e2e
        }
        out
      }
    Result(attempted, failed, failures, e2e, layers, details.toMap)
  }

  /** Per-layer figures of a traced job: trigger phases from progress
    * events, the jobs of each micro-batch (attributed to a pipeline step
    * around the sink's commits), the hash-store merge, the sink's timed
    * commits and the registry start. Spans: run → micro-batch →
    * phase → job → stage. */
  private def tracedLayers(spark: SparkSession, a: Args, rec: Recorder, t: Measured,
                           startCalls: Seq[Double]): (Map[String, Double], Map[String, Any]) = {
    val spans = new Spans
    val runSpan = spans.add(0, a.workload, "workload", t.windowStart, t.windowEnd)
    val phaseOrder = Seq("latestOffset" -> "latest_offset", "walCommit" -> "wal_commit",
      "getBatch" -> "get_batch", "queryPlanning" -> "query_planning",
      "addBatch" -> "add_batch", "commitOffsets" -> "commit")
    val addBatchSpan = scala.collection.mutable.Map[Long, Long]()
    val addBatchWin = scala.collection.mutable.Map[Long, (Double, Double)]()
    t.batches.foreach { b =>
      val bs = spans.add(runSpan, s"batch ${b.id}", "stream", b.start, b.end,
        Map("rows" -> b.rows))
      // phase durations only come as totals; laid out in execution order
      var at = b.start
      phaseOrder.foreach { case (k, name) =>
        b.durations.get(k).foreach { d =>
          val id = spans.add(bs, name, "stream", at, at + d)
          if (k == "addBatch") { addBatchSpan(b.id) = id; addBatchWin(b.id) = (at, at + d) }
          at += d
        }
      }
    }
    val batchJobs = rec.jobs.values.toSeq.filter(_.batchId.exists(addBatchSpan.contains))
    val byBatch = batchJobs.groupBy(_.batchId.get)
    val commits = TimedSink.commits.asScala.toSeq.filter(c => addBatchSpan.contains(c.batchId))
    val commitsByBatch = commits.groupBy(_.batchId)
    // Which pipeline step launched each micro-batch job. All jobs of a
    // micro-batch share its SQL execution and call site, so the sink's
    // commits anchor the attribution: the job whose stage ran them is the
    // upsert; the jobs started after it ended are the hash-store merge; the
    // jobs before it are the query stages the upsert reads (the SYNC gate
    // anti-join, the per-batch dedupe and the cache fills), which AQE runs
    // as jobs of their own.
    val upsertJob: Map[Long, JobRec] = byBatch.flatMap { case (b, js) =>
      val stages = commitsByBatch.getOrElse(b, Nil).map(_.stageId).toSet
      js.find(_.stageIds.exists(stages)).map(b -> _)
    }
    def kind(j: JobRec): String = upsertJob.get(j.batchId.get) match {
      case None => "unattributed"
      case Some(u) if u.jobId == j.jobId => "upsert"
      case Some(u) if j.start >= u.end => "merge"
      case Some(u) if j.start < u.start => "gate_dedupe_cache"
      case _ => "unattributed"
    }
    rec.addJobSpans(spans, "pipeline", j => j.batchId.flatMap(addBatchSpan.get),
      j => Map("kind" -> kind(j)))
    val tasksByStage = rec.taskList.groupBy(_.stageId)
    def tasksOf(js: Seq[JobRec]) = js.flatMap(_.stageIds).flatMap(s => tasksByStage.getOrElse(s, Nil))
    val dataBatches = t.batches.map(_.id).filter(addBatchSpan.contains)
    def perBatch(f: Long => Double): Double = Stats.median(dataBatches.map(f))
    // the merge, seen from outside: from the end of the upsert job to the
    // end of the micro-batch's addBatch phase
    val merges = dataBatches.flatMap { b =>
      upsertJob.get(b).map { u =>
        val mj = byBatch(b).filter(kind(_) == "merge")
        val ts = tasksOf(mj)
        val changed = commitsByBatch.getOrElse(b, Nil).map(_.syncDocs).sum
        (addBatchWin(b)._2 - u.end, ts.map(_.outBytes).sum.toDouble,
          ts.map(_.outRecords).sum.toDouble, changed.toDouble)
      }
    }
    val storeRoot = Paths.get(t.job.store)
    val storeDirs = {
      val s = Files.list(storeRoot)
      try s.iterator().asScala.count(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("b"))
      finally s.close()
    }
    val rowsIn = t.batches.map(_.rows).sum.toDouble
    val docs = commits.map(_.docs).sum.toDouble
    val jobsKinds = batchJobs.groupBy(kind).map { case (k, v) => k -> v.size }
    val windows = dataBatches.map(addBatchWin)
    val layers = Map(
      "stream.trigger_ms" -> Stats.median(t.batches.map(_.durations.getOrElse("triggerExecution", 0.0))),
      "stream.add_batch_ms" -> Stats.median(t.batches.map(_.durations.getOrElse("addBatch", 0.0))),
      "stream.get_batch_ms" -> Stats.median(t.batches.map(_.durations.getOrElse("getBatch", 0.0))),
      "stream.commit_ms" -> Stats.median(t.batches.map(_.durations.getOrElse("commitOffsets", 0.0))),
      "stream.rows_per_batch" -> Stats.median(t.batches.map(_.rows.toDouble)),
      "pipeline.jobs_per_batch" -> perBatch(b => byBatch.getOrElse(b, Nil).size.toDouble),
      "pipeline.stages_per_batch" -> perBatch(b =>
        byBatch.getOrElse(b, Nil).flatMap(_.stageIds).count(rec.stages.contains).toDouble),
      "pipeline.driver_gap_ms" -> perBatch { b =>
        val (lo, hi) = addBatchWin(b)
        (hi - lo) - Stats.coveredWithin(tasksOf(byBatch.getOrElse(b, Nil))
          .map(x => (x.launch, x.finish)), lo, hi) },
      "pipeline.shuffle_bytes_per_batch" -> perBatch(b =>
        tasksOf(byBatch.getOrElse(b, Nil)).map(_.shuffleWrite).sum.toDouble),
      "hashstore.merge_ms" -> Stats.median(merges.map(_._1)),
      "hashstore.bytes_written" -> Stats.median(merges.map(_._2)),
      "hashstore.rows" -> new HashStore(spark, t.job.store).load().count().toDouble,
      "hashstore.dirs" -> storeDirs.toDouble,
      "hashstore.write_amp" -> Stats.median(merges.filter(_._4 > 0).map(m => m._3 / m._4)),
      "sink.docs" -> docs,
      "sink.commits" -> commits.size.toDouble,
      "sink.docs_per_commit" -> (if (commits.isEmpty) 0.0 else docs / commits.size),
      "sink.commit_ms_p50" -> Stats.median(commits.map(c => c.end - c.start)),
      "sink.busy_ms" -> commits.map(c => c.end - c.start).sum,
      "gate.pass_frac" -> (if (rowsIn > 0) docs / rowsIn else 0.0),
      "registry.start_ms" -> Stats.median(startCalls)) ++
      ExecTotals(rec, batchJobs, windows, a.cores)
    val selfTime = spans.selfTimeByLayer
    TraceOut.write(a, spans, selfTime)
    (layers, Map("self_time_ms_by_layer" -> selfTime, "jobs_by_kind" -> jobsKinds,
      "traced_e2e" -> t.e2e))
  }
}
