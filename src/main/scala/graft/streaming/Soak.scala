package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.model._
import graft.sources.DocumentSink

/** Combined multi-query streaming soak — the reference's actual
  * deployment shape (one consumer process running several jobs
  * concurrently, firebase/app/artifacts.py:195-205) exercised against
  * one sustained ingest with a mid-soak whole-driver crash/restart.
  *
  * Six streaming queries run CONCURRENTLY on one SparkSession over the
  * same staged file-stream input (events + documents, one file per
  * micro-batch, staged in event-time order so watermark late-drops
  * cannot occur by construction):
  *
  *  1. the subscription pipeline (route → filter → hash → one
  *     bucket-partitioned pass: SYNC gate, batched sink, hash-store
  *     rewrite) — durable state: checkpoint + bucketed parquet hash
  *     store;
  *  2. [[StreamOps.CmsMaintainer]] over `event_type` — driver-memory
  *     sketch state;
  *  3. [[StreamOps.DriftMaintainer]] over `value` — driver-memory
  *     histogram state;
  *  4. [[StreamOps.JoinMvMaintainer]] enriching events with an
  *     event-type dimension — durable state: per-batch parquet
  *     partitions;
  *  5. watermarked session windows per user — engine state store +
  *     exactly-once file sink;
  *  6. [[StreamOps.nearDupStream]] stateful LSH over documents —
  *     flatMapGroupsWithState state store + exactly-once file sink.
  *
  * Mid-soak, ALL six are stopped at once at whatever offset each has
  * reached (the whole-driver-crash shape: every query is interrupted
  * at a DIFFERENT arbitrary point), then restarted. Recovery posture
  * differs by state class, and the soak proves both:
  *
  *  - durable / engine state (pipeline, join-MV, session windows, LSH)
  *    restarts from its OWN checkpoint — committed batches do not
  *    refire (batch-id replay gates, idempotent upserts, the file
  *    sink's transactional manifest), in-flight batches replay;
  *  - driver-memory sketches (CMS, drift) restart with a FRESH
  *    checkpoint and rebuild by full-source recompute — their merge is
  *    deterministic and associative, so recompute lands the exact
  *    batch state (the cheap-state recovery idiom: re-aggregating a
  *    bounded sketch beats persisting it every batch).
  *
  * After drain, every maintained state is compared for EXACT equality
  * against a from-scratch batch recompute over the full staged input —
  * the converged-state-equality criterion (multiset compares via
  * exceptAll both ways; sketch/histogram cell-wise).
  *
  * Mid-BATCH crash atomicity (partial sink commits, no store publish) is
  * pinned separately by CrashRecoverySpec; the soak's subject is
  * concurrent multi-query recovery + cross-query interference.
  */
object Soak {

  final case class Result(
      events: Long, docs: Long, wallSec: Double,
      crashAtPipelineBatch: Long,
      pipelineSinkCommits: Long,
      sessionsEmitted: Long, lshHits: Long,
      hashStoreOk: Boolean, cmsOk: Boolean, driftOk: Boolean,
      joinMvOk: Boolean, sessionsOk: Boolean, lshOk: Boolean,
      /** diagnostic: the soak's working dir — staged inputs and the
        * streamed sink parquet survive there for post-mortem */
      workDir: String = "",
      /** which crash shape ran: "pipeline" (stop mid-stream at an
        * arbitrary pipeline batch) or "mv-merge" (injected failure
        * inside the join-MV merge with its checkpoint uncommitted) */
      crashPoint: String = "pipeline",
      /** replayed MV batches the batch-id no-op gate absorbed */
      mvNoopReplays: Long = 0L,
      /** slowest micro-batch across all six queries and both phases
        * (triggerExecution ms) — the skew-sensitivity signal: a hot
        * session/LSH key shows up here long before it breaks a gate */
      maxBatchMs: Long = 0L,
      /** % of docs rewritten to one shared text (hot LSH bucket) */
      docSkewPct: Int = 0,
      /** Avro schema evolutions the pipeline's SchemaAwareDecoder
        * observed and re-planned across (0 = evolution mode off) */
      schemaChanges: Long = 0L,
      /** full StreamingQueryProgress JSON of the slowest batch — the
        * hot-batch attribution record (durations breakdown + state
        * operator metrics) */
      maxBatchProgress: String = "",
      /** chunk index at which the writer schema evolved (−1 = off) */
      evolveAtChunk: Long = -1L,
      /** subscription-config reconfigurations applied mid-soak
        * (resubscribe-on-diff, artifacts.py:287-300): 1 = one
        * add+remove+pattern-change event between ingest and crash */
      configChanges: Long = 0L,
      /** last pipeline batch COMMITTED under the pre-change config
        * (−1 = reconfig off); batches above it ran the final config */
      reconfigAtBatch: Long = -1L,
      /** non-default mask-ladder + overlapping-pattern config (the
        * composed-metamorphic soak shape, judge brief r19 #5) */
      maskedConfig: Boolean = false) {
    def allOk: Boolean =
      hashStoreOk && cmsOk && driftOk && joinMvOk && sessionsOk && lshOk
  }

  /** Per-run counting sink (CrashRecoverySpec-style instance counters
    * would not survive executor-side construction; local-mode shares
    * the JVM, so a keyed static registry does). */
  final class KeyedCountingSink(key: String) extends DocumentSink {
    override def commitBatch(docs: Seq[DocumentSink.Doc]): Unit =
      KeyedCountingSink.counter(key).add(docs.size)
  }
  object KeyedCountingSink {
    private val counters =
      new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
    def counter(key: String): LongAdder =
      counters.computeIfAbsent(key, _ => new LongAdder)
    /** Read the final count and drop the entry — the registry is
      * process-wide, so a run that never removes its key leaks one
      * adder per soak for the JVM lifetime. */
    def drain(key: String): Long = {
      val v = counter(key).sum()
      counters.remove(key)
      v
    }
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Number of batches the streaming checkpoint has COMMITTED (the
    * authoritative cut for config/batch alignment — progress probes
    * are asynchronous and can lag or lead the commit log). */
  private def committedBatches(ckpt: String): Long = {
    val d = new java.io.File(s"$ckpt/commits")
    Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
      .flatMap(f => scala.util.Try(f.getName.toLong).toOption)
      .reduceOption((x, y) => math.max(x, y)).map(_ + 1L).getOrElse(0L)
  }

  /** Multiset equality via symmetric exceptAll — exact, null-safe,
    * duplicate-aware. */
  private def sameMultiset(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Stage `df` as `n` sequentially-written single-file chunks split
    * by ntile over `orderCol` — chunk i holds the i-th quantile range,
    * written i-th, so the file stream (mtime order) replays the data
    * in `orderCol` order and event-time watermarks only ever advance
    * behind delivered data. Returns each chunk's max `orderCol` (the
    * watermark schedule: after the stream commits chunk k+1, the
    * engine watermark has reached max(chunk 1..k) − lateness). */
  private def stageOrdered(df: DataFrame, orderCol: String, n: Int,
      dir: String): Seq[Long] = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(orderCol))
    // materialize the sorted chunk assignment ONCE: the lazy plan
    // would re-run the global sort for every chunk write and every
    // max probe (2n sorts), and ties must land in the same chunk on
    // every evaluation
    val chunked = df.withColumn("__chunk", ntile(n).over(w))
      .localCheckpoint(true)
    val maxes = chunked.groupBy(col("__chunk"))
      .agg(max(col(orderCol)).as("m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // n > rows leaves high ntile buckets empty — stage only the
    // present ones (the watermark schedule is over actual chunks)
    val present = (1 to n).filter(maxes.contains)
    // file-source replay order is mtime order with random-name
    // tiebreak: set each chunk's mtime EXPLICITLY on a strictly
    // increasing schedule — a coarse-granularity filesystem (1s mtime
    // resolution) would tie sleep-separated writes and could replay
    // chunks out of event-time order, making watermark late-drops
    // possible
    val seen = scala.collection.mutable.Set[java.io.File]()
    val base = System.currentTimeMillis() - present.size * 1000L
    present.zipWithIndex.foreach { case (i, idx) =>
      chunked.filter(col("__chunk") === i).drop("__chunk")
        .coalesce(1).write.mode("append").parquet(dir)
      val t = java.nio.file.attribute.FileTime.fromMillis(base + idx * 1000L)
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filterNot(seen.contains).foreach { f =>
          Files.setLastModifiedTime(f.toPath, t)
          seen += f
        }
    }
    graft.operators.Rounds.releaseOf(chunked)()
    present.map(maxes)
  }

  // one subscription, SYNC mode (hash store active), wildcard topics
  private val sub = Subscription("soak", "soak", "*",
    FbOptions(syncMode = "sync", targetPath = "_aether/entities/{topic}"))

  // ---- config-reconfiguration mode (judge brief r18 → r19 #2): the
  // reference's resubscribe-on-diff (artifacts.py:287-300) is the one
  // lifecycle event never run under ingest before this round. Config A
  // has OVERLAPPING patterns under first-match-after-id-sort ("a_p"
  // wins "p*" topics, "z_all" catches the rest); the mid-soak diff
  // REMOVES the catch-all, CHANGES a_p's wildcard p* → c*, and ADDS a
  // new subscription — all three diff shapes in one event. Post-change
  // topics matching nothing are dropped (the reference unsubscribes
  // them). All sync-mode so the hash store sees both configs.
  private[streaming] val subsRcA = Seq(
    Subscription("a_p", "a_p", "p*",
      FbOptions(syncMode = "sync", targetPath = "pp/{topic}")),
    Subscription("z_all", "z_all", "*",
      FbOptions(syncMode = "sync", targetPath = "_aether/entities/{topic}")))
  private[streaming] val subsRcB = Seq(
    Subscription("a_p", "a_p", "c*",
      FbOptions(syncMode = "sync", targetPath = "pp/{topic}")),
    Subscription("m_new", "m_new", "v*",
      FbOptions(syncMode = "sync", targetPath = "vv/{topic}")))

  // ---- composed-metamorphic config (judge brief r19 #5): non-default
  // mask ladders (a default-order ladder emitting at "confidential" on
  // one sub, a REVERSED ladder emitting at "secret" on the other — the
  // two keep DIFFERENT field sets) × overlapping wildcard routing. Run
  // against dup-perturbed input for the at-least-once × non-trivial
  // config production shape.
  private[streaming] val maskedAnn: Map[String, String] =
    Map("user_id" -> "confidential", "value" -> "secret")
  private[streaming] val subsMasked = Seq(
    Subscription("a_p", "a_p", "p*",
      FbOptions(syncMode = "sync", targetPath = "pp/{topic}",
        maskingLevels = graft.operators.Masking.DefaultLevels,
        maskingEmitLevel = "confidential")),
    Subscription("z_all", "z_all", "*",
      FbOptions(syncMode = "sync", targetPath = "_aether/entities/{topic}",
        maskingLevels = graft.operators.Masking.DefaultLevels.reverse,
        maskingEmitLevel = "secret")))

  // ---- Avro schema-evolution mode (judge brief r17 → r18 #3): the
  // pipeline query ingests avro-encoded payloads instead of bare
  // columns, and the WRITER schema evolves mid-soak — v2 both ADDS a
  // defaulted column (lang) and WIDENS a type (value float → double).
  // The A17 re-plan path (Pipeline.SchemaAwareDecoder over
  // AvroSchemaBridge fingerprints) has sbt coverage in StreamingSpec;
  // here it runs under concurrent 6-query ingest with the crash
  // landing AFTER the evolution, so the hash store must stay exactly
  // equal to batch recompute across BOTH lifecycle events.
  private[streaming] val evoV1: String =
    """{"type":"record","name":"Ev","fields":[
      |{"name":"id","type":"long"},
      |{"name":"user_id","type":"long"},
      |{"name":"event_type","type":"string"},
      |{"name":"value","type":"float"}]}""".stripMargin.replace("\n", "")
  private[streaming] val evoV2: String =
    """{"type":"record","name":"Ev","fields":[
      |{"name":"id","type":"long"},
      |{"name":"user_id","type":"long"},
      |{"name":"event_type","type":"string"},
      |{"name":"value","type":"double"},
      |{"name":"lang","type":"string","default":"und"}]}""".stripMargin.replace("\n", "")

  /** Stage `df` as one file per PRECOMPUTED `chunkCol` value, written
    * (and mtime-stamped) in ascending chunk order — the
    * schema-evolution staging, where the writer-generation rule is
    * keyed on the chunk id itself so chunk↔batch alignment is exact by
    * construction (no ntile tie can move a row across the evolution
    * boundary). */
  private def stageChunked(df: DataFrame, chunkCol: String, dir: String): Unit = {
    val chunks = df.select(col(chunkCol)).distinct()
      .collect().map(_.getInt(0)).sorted
    val seen = scala.collection.mutable.Set[java.io.File]()
    val base = System.currentTimeMillis() - chunks.length * 1000L
    chunks.zipWithIndex.foreach { case (i, idx) =>
      df.filter(col(chunkCol) === i)
        .coalesce(1).write.mode("append").parquet(dir)
      val t = java.nio.file.attribute.FileTime.fromMillis(base + idx * 1000L)
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filterNot(seen.contains).foreach { f =>
          Files.setLastModifiedTime(f.toPath, t)
          seen += f
        }
    }
  }

  /** Deterministic boilerplate assigned to doc-skewed rows: long
    * enough to shingle, constant so every skewed doc lands in the
    * SAME LSH band buckets (one hot bucket holding docSkewPct% of the
    * corpus — the stateful-LSH analog of the hot session user). */
  private val hotDocText: String =
    (1 to 40).map(i => s"boiler${i % 7} plate token").mkString(" ")

  def run(spark: SparkSession, sfDir: String, nEventFiles: Int,
      nDocFiles: Int, crashPoint: String = "pipeline",
      docSkewPct: Int = 0, schemaEvolve: Boolean = false,
      reconfig: Boolean = false, maskedConfig: Boolean = false): Result = {
    require(nEventFiles >= 2, "the guaranteed-watermark band needs >=2 chunks")
    require(crashPoint == "pipeline" || crashPoint == "mv-merge",
      s"unknown crash point: $crashPoint")
    require(docSkewPct >= 0 && docSkewPct <= 100)
    require(!schemaEvolve || nEventFiles >= 4,
      "schema evolution needs the evolve chunk strictly before the crash")
    require(!reconfig || nEventFiles >= 4,
      "reconfiguration needs the config change strictly before the crash")
    require(!(reconfig && schemaEvolve) && !(maskedConfig && schemaEvolve) &&
      !(reconfig && maskedConfig),
      "reconfig / maskedConfig / schemaEvolve modes are run one at a time")
    // the pipeline's subscription sets for this run: before and after
    // the mid-soak config diff (identical when reconfig is off)
    val subs0 = if (reconfig) subsRcA else if (maskedConfig) subsMasked else Seq(sub)
    val subsFinal = if (reconfig) subsRcB else subs0
    // masked mode stamps the field classifications on every batch the
    // way a schema-registry annotation rides the stream
    val maskPre: Option[DataFrame => DataFrame] =
      if (maskedConfig)
        Some(b => graft.operators.Masking.annotate(b, maskedAnn))
      else None
    import spark.implicits._
    val t0 = System.nanoTime()
    // lock-free max-batch-duration probe (a listener that takes locks
    // can deadlock StreamExecution.start — see the jstack note in the
    // repo's verify skill); updateAndGet on an AtomicLong never blocks
    // (ms, progress-json) updated as ONE value via CAS — two separate
    // atomics let concurrent listener events record a non-slowest
    // batch's JSON against the true max (ADVICE r18)
    val maxBatch = new java.util.concurrent.atomic.AtomicReference[(Long, String)]((0L, ""))
    val probe = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      // optional full progress trace (one JSON line per micro-batch of
      // every query) — offline per-query attribution of slow batches
      private val trace = sys.env.get("SPARK_GRAFT_SOAK_PROGRESS_LOG")
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val d = e.progress.durationMs.get("triggerExecution")
        if (d != null) {
          var done = false
          while (!done) {
            val cur = maxBatch.get()
            done = d <= cur._1 || maxBatch.compareAndSet(cur, (d.toLong, e.progress.json))
          }
        }
        trace.foreach { p =>
          val line = e.progress.json + "\n"
          // synchronized append — listener events can arrive concurrently
          Soak.synchronized {
            Files.writeString(java.nio.file.Paths.get(p), line,
              java.nio.file.StandardOpenOption.CREATE,
              java.nio.file.StandardOpenOption.APPEND)
          }
        }
      }
    }
    spark.streams.addListener(probe)

    // ---- stage inputs (event-time order; docs by doc_id) ----
    val work = tmp("soak-work")
    val evIn = s"$work/in-events"; val docIn = s"$work/in-docs"
    val ev = Tables.events(spark, sfDir)
      .withColumn("kafka_topic", concat(lit("tnt."), col("event_type")))
      .withColumnRenamed("event_id", "id")
      .drop("props")
    val chunkMaxTs = stageOrdered(ev, "ts", nEventFiles, evIn)
    val docs0 = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // doc-skew: a fixed slice of the corpus shares ONE text, so the
    // stateful LSH sees a single band bucket holding docSkewPct% of
    // all docs; the batch recompute reads the same staged files, so
    // the equality gates stay exact under the hot bucket
    val docs =
      if (docSkewPct == 0) docs0
      else docs0.withColumn("text",
        when(pmod(col("doc_id"), lit(100L)) < docSkewPct, lit(hotDocText))
          .otherwise(col("text")))
    stageOrdered(docs, "doc_id", nDocFiles, docIn)
    val evSchema = spark.read.parquet(evIn).schema
    val docSchema = spark.read.parquet(docIn).schema
    val nEvents = ev.count(); val nDocs = docs.count()

    // ---- schema-evolution staging: avro-encoded payloads, writer
    // generation keyed on an EXPLICIT chunk column (1-based ntile over
    // ts) so chunk↔batch alignment is exact — chunks < evolveChunk are
    // v1-written; the evolveChunk itself mixes v2 rows with v1
    // STRAGGLERS (id % 5 == 0), which the fingerprint CaseWhen must
    // decode under the evolved reader; later chunks are all v2. ----
    val evolveChunk = if (schemaEvolve) math.max(2, nEventFiles / 4) else -1
    val avroIn = s"$work/in-avro"
    val schemaChanges = new java.util.concurrent.atomic.AtomicLong(0L)
    val evoFps = Seq(evoV1, evoV2)
      .map(s => graft.sources.AvroSchemaBridge.fingerprint(s).toString -> s)
    if (schemaEvolve) {
      import graft.functions.AvroColumns.avro_encode
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("ts"))
      val chunked = ev.withColumn("chunk", ntile(nEventFiles).over(w))
        .localCheckpoint(true)
      val genV1 = col("chunk") < evolveChunk ||
        (col("chunk") === evolveChunk && pmod(col("id"), lit(5L)) === 0)
      val v1Struct = struct(col("id"), col("user_id"), col("event_type"),
        col("value").cast("float").as("value"))
      val v2Struct = struct(col("id"), col("user_id"), col("event_type"),
        col("value"), substring(col("event_type"), 1, 2).as("lang"))
      stageChunked(chunked.select(col("kafka_topic"),
          when(genV1, lit(evoFps.head._1)).otherwise(lit(evoFps.last._1))
            .as("schema_fp"),
          when(genV1, avro_encode(v1Struct, evoV1))
            .otherwise(avro_encode(v2Struct, evoV2)).as("value"),
          col("chunk")),
        "chunk", avroIn)
      graft.operators.Rounds.releaseOf(chunked)()
    }
    def avroStream = spark.readStream
      .schema(spark.read.parquet(avroIn).schema)
      .option("maxFilesPerTrigger", "1").parquet(avroIn)
      .select(col("kafka_topic"), col("schema_fp"), col("value"))

    /** Per-launch re-planning decoder: the reference's registry reads
      * each MESSAGE's schema (artifacts.py:314-318) — the stand-in
      * sniffs the batch's fingerprints before decoding, so the
      * generation list is content-driven and deterministic under
      * crash/replay (a replayed batch re-derives the same reader). */
    def mkDecoder(): DataFrame => DataFrame = {
      val seenFps = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      seenFps.add(evoFps.head._1) // the deploy-time generation
      val inner = new Pipeline.SchemaAwareDecoder(
        new graft.sources.SchemaRegistry(), "soak-evo",
        () => evoFps.collect { case (f, s) if seenFps.contains(f) => s },
        onChange = (_, _) => { schemaChanges.incrementAndGet(); () })
      batch => {
        batch.select(col("schema_fp")).distinct().collect()
          .map(_.getString(0)).filter(f => evoFps.exists(_._1 == f))
          .foreach(seenFps.add)
        inner(batch)
      }
    }

    def evStream = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", "1").parquet(evIn)
    def docStream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(docIn)

    // event-type dimension for the join-MV (broadcast-sized)
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("type_code", xxhash64(col("event_type")))

    val sinkKey = s"soak-${System.nanoTime()}"
    val mvPath = s"$work/joinmv"

    // ---- one launch = the six concurrent queries ----
    final case class Fleet(pipeline: StreamingQuery, sessions: StreamingQuery,
        mv: StreamingQuery, qs: Seq[StreamingQuery],
        cms: StreamOps.CmsMaintainer, drift: StreamOps.DriftMaintainer,
        joinMv: StreamOps.JoinMvMaintainer)
    def startPipeline(subs: Seq[Subscription]): StreamingQuery = {
      val job = new StreamingJob(spark, subs, "tnt",
        () => new KeyedCountingSink(sinkKey),
        s"$work/hashes", s"$work/pipeline-ckpt",
        preBatch = if (schemaEvolve) Some(mkDecoder()) else maskPre)
      job.start(if (schemaEvolve) avroStream else evStream)
    }
    def launch(subs: Seq[Subscription], freshSketchCkpt: Boolean,
        mvFailAtBatch: Long = -1L,
        reuseMv: Option[StreamOps.JoinMvMaintainer] = None): Fleet = {
      val pipeline = startPipeline(subs)

      val cms = new StreamOps.CmsMaintainer(spark)
      val drift = new StreamOps.DriftMaintainer(spark, 64, 0.0, 100.0)
      // mv-merge crash mode REUSES the phase-A maintainer on restart:
      // its in-memory lastMergedBatch says the crashed batch merged,
      // while the stream checkpoint says it never committed — exactly
      // the replay the batch-id no-op gate exists to absorb
      val joinMv = reuseMv.getOrElse(
        new StreamOps.JoinMvMaintainer(spark, mvPath, Seq("event_type")))
      joinMv.failAfterMergeOfBatch = mvFailAtBatch
      joinMv.setDim(broadcast(dim))
      val sketchCkpt =
        if (freshSketchCkpt) tmp("soak-sketch-ckpt") else s"$work/sketch-ckpt"
      val qCms = StreamOps.maintainCms(
        evStream.select(col("event_type")), "event_type", cms, s"$sketchCkpt/cms")
      val qDrift = StreamOps.maintainDrift(
        evStream.select(col("value")), "value", drift, s"$sketchCkpt/drift")
      val qMv = StreamOps.maintainJoinMv(
        evStream.select(col("id"), col("event_type"), col("value")),
        joinMv, s"$work/joinmv-ckpt")
      val qSess = StreamOps.sessionWindowAgg(
          evStream, "ts", "30 minutes", "1 hour", "user_id")
        .writeStream.format("parquet")
        .option("path", s"$work/sessions")
        .option("checkpointLocation", s"$work/sessions-ckpt")
        .start()
      val qLsh = StreamOps.nearDupStream(spark, docStream).toDF()
        .writeStream.format("parquet")
        .option("path", s"$work/lsh")
        .option("checkpointLocation", s"$work/lsh-ckpt")
        .start()
      Fleet(pipeline, qSess, qMv, Seq(pipeline, qCms, qDrift, qMv, qSess, qLsh),
        cms, drift, joinMv)
    }

    // ---- phase A: run until the crash point, then stop everything at
    // once (whole-driver crash: each query at its own arbitrary
    // offset). "pipeline" = stop once the pipeline is mid-stream;
    // "mv-merge" = injected failure INSIDE the join-MV merge (partition
    // written + maintainer state updated, stream checkpoint
    // uncommitted) — the batch-id no-op gate's replay window. ----
    val crashTarget = math.max(1L, nEventFiles / 2L)
    val a0 = launch(subs0, freshSketchCkpt = false,
      mvFailAtBatch = if (crashPoint == "mv-merge") crashTarget else -1L)
    val deadline = System.nanoTime() + 300L * 1000000000L

    // ---- mid-soak RECONFIGURATION (before the crash): stop the
    // pipeline query at whatever batch it has reached, diff the
    // subscription set (remove + pattern-change + add), and restart
    // the pipeline — new StreamingJob, SAME checkpoint and hash store
    // — while the other five queries keep running. The exact cut is
    // read from the checkpoint's commits dir AFTER the stop (the
    // last batch that ran under config A), not inferred from the
    // asynchronous progress probe.
    var reconfigAt = -1L
    val a = if (!reconfig) a0 else {
      val reconfigTarget = math.max(1L, nEventFiles / 4L)
      while (Option(a0.pipeline.lastProgress)
          .forall(_.batchId < reconfigTarget) && System.nanoTime() < deadline)
        Thread.sleep(25)
      a0.pipeline.stop()
      reconfigAt = committedBatches(s"$work/pipeline-ckpt") - 1L
      val p2 = startPipeline(subsFinal)
      a0.copy(pipeline = p2, qs = p2 +: a0.qs.filterNot(_ eq a0.pipeline))
    }

    if (crashPoint == "mv-merge")
      while (a.mv.isActive && System.nanoTime() < deadline)
        Thread.sleep(25)
    else
      while (Option(a.pipeline.lastProgress)
          .forall(_.batchId < crashTarget) && System.nanoTime() < deadline)
        Thread.sleep(25)
    val crashAt =
      if (crashPoint == "mv-merge") crashTarget
      else Option(a.pipeline.lastProgress).map(_.batchId).getOrElse(-1L)
    a.qs.foreach(_.stop())

    // ---- phase B: restart. Durable/engine state resumes from its own
    // checkpoint; driver-memory sketches rebuild via full recompute
    // (fresh checkpoint). ----
    val b = launch(subsFinal, freshSketchCkpt = true,
      reuseMv = if (crashPoint == "mv-merge") Some(a.joinMv) else None)
    b.qs.foreach(_.processAllAvailable())
    b.qs.foreach(_.stop())
    val wallSec = (System.nanoTime() - t0) / 1e9

    // ---- converged-state equality vs batch recompute ----
    val batchInput = spark.read.parquet(evIn)

    // 1. pipeline hash store == batch route→mask→hash over the full
    //    input (unique ids ⇒ the store holds every doc's hash). In
    //    evolution mode the recompute models the reader SCHEDULE the
    //    content-driven sniffer pins to chunk boundaries: chunks
    //    before the evolution decode under the v1 reader (their
    //    batches saw only v1 fingerprints), everything from the
    //    evolveChunk on — v1 stragglers included — under the evolved
    //    v2 reader (float widened to double, lang defaulted to "und").
    //    Under RECONFIG the recompute models the commit-aligned config
    //    schedule: staged event files in replay (mtime) order, the
    //    first reconfigAt+1 compiled under config A, the rest under
    //    config B — exactly the batches the commit log attributes to
    //    each (one staged file per micro-batch by construction).
    val expectedHashes = {
      def hashesOf(subs: Seq[Subscription], d0: DataFrame) = {
        val d = maskPre.map(_(d0)).getOrElse(d0)
        Pipeline.dedupeBatch(Pipeline.compileMulti(subs, "tnt", d))
          .select(col("target_path"), col("doc_id"), col("doc_hash"))
      }
      if (schemaEvolve) {
        val staged = spark.read.parquet(avroIn)
        def dec(rows: DataFrame, gens: Seq[String]): DataFrame =
          new Pipeline.SchemaAwareDecoder(new graft.sources.SchemaRegistry(),
            "soak-evo-batch", () => gens)(
            rows.select(col("kafka_topic"), col("schema_fp"), col("value")))
        hashesOf(subs0, dec(staged.filter(col("chunk") < evolveChunk), Seq(evoV1)))
          .unionByName(hashesOf(subs0,
            dec(staged.filter(col("chunk") >= evolveChunk), Seq(evoV1, evoV2))))
      } else if (reconfig) {
        val files = Option(new java.io.File(evIn).listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(_.getName.endsWith(".parquet"))
          .sortBy(f => Files.getLastModifiedTime(f.toPath).toMillis)
          .map(_.getAbsolutePath)
        val nA = math.max(0L, math.min(reconfigAt + 1L, files.length.toLong)).toInt
        def part(ps: Array[String]) =
          if (ps.isEmpty) spark.read.parquet(evIn).limit(0)
          else spark.read.parquet(ps.toIndexedSeq: _*)
        hashesOf(subsRcA, part(files.take(nA)))
          .unionByName(hashesOf(subsRcB, part(files.drop(nA))))
      } else hashesOf(subs0, batchInput)
    }
    val hashStoreOk = sameMultiset(
      new HashStore(spark, s"$work/hashes").load(), expectedHashes)

    // 2. CMS == batch sketch cell-wise
    val cmsOk = sameMultiset(b.cms.counterTable,
      graft.operators.Sketches.cmsCounters(
        batchInput.select(col("event_type")), "event_type"))

    // 3. drift histogram == batch histogram in the same geometry
    val driftOk = sameMultiset(b.drift.histogram,
      b.drift.bucketed(batchInput.select(col("value")), "value"))

    // 4. join-MV == batch join (each event lands in exactly ONE batch
    //    partition: checkpointed batch ids are contiguous across the
    //    restart and replays overwrite in place)
    val joinMvOk = sameMultiset(
      b.joinMv.view.select(col("id"), col("event_type"), col("value"),
        col("type_code")),
      batchInput.select(col("id"), col("event_type"), col("value"))
        .join(dim, Seq("event_type"))
        .select(col("id"), col("event_type"), col("value"), col("type_code")))

    // 5. sessions: banded equality against the watermark SCHEDULE the
    //    ts-ordered staging pins down. Two data-derived cutoffs:
    //
    //      guaranteed = max(ts of all but the last chunk) − lateness —
    //        the watermark in force while the LAST data batch ran, so
    //        every session ending below it was committed by a batch
    //        processAllAvailable provably awaited (and is FINAL: later
    //        chunks hold strictly later events than a closed session's
    //        gap horizon, so batch recompute agrees on these rows);
    //      ceiling = max(ts) − lateness — the most any trailing
    //        no-data micro-batch could have flushed.
    //
    //    Required: guaranteed ⊆ streamed ⊆ ceiling, with multiset
    //    exceptAll so duplicates/corruption can't hide. The band
    //    between them is the tail tranche whose emission races the
    //    stop() — indeterminate on a real unbounded stream too (those
    //    sessions are still lawfully in state), so asserting it would
    //    pin scheduler timing, not semantics.
    //    The batch recompute is MATERIALIZED before the cutoff filter:
    //    Catalyst pushes a session_end predicate through the
    //    session_window aggregate as a per-row event-time prune —
    //    sound for fixed windows, NOT for merged sessions: a session
    //    STRADDLING the cut is truncated to a phantom partial (its
    //    pre-cut events alone) that then passes the filter. Found live
    //    by this soak: 5 phantom sessions at sf0.1 made the correct
    //    streamed output look wrong. Lineage cut = filter runs on the
    //    aggregate's true output.
    val streamedSessions = spark.read.parquet(s"$work/sessions")
    val batchSessions = StreamOps.sessionWindowAgg(
      batchInput, "ts", "30 minutes", "1 hour", "user_id").localCheckpoint(true)
    val sessionsEmitted = streamedSessions.count()
    def wmCut(ns: Long) =
      timestamp_micros(lit(ns / 1000L)) - expr("INTERVAL 30 minutes")
    val guaranteed = batchSessions
      .filter(col("session_end") < wmCut(chunkMaxTs.init.max))
    val ceiling = batchSessions
      .filter(col("session_end") <= wmCut(chunkMaxTs.max))
    val sessionsOk = guaranteed.exceptAll(streamedSessions).isEmpty &&
      streamedSessions.exceptAll(ceiling).isEmpty
    graft.operators.Rounds.releaseOf(batchSessions)()

    // 6. LSH: streamed band hits cover exactly the batch banding
    //    (same docs, same buckets), with exactly one first-seen
    //    representative per bucket that every member points at —
    //    rep IDENTITY is arrival-order-dependent by design, so the
    //    equality is structural, not positional
    val streamedLsh = spark.read.parquet(s"$work/lsh")
    val lshHits = streamedLsh.filter(!col("is_first")).count()
    val batchBanded = {
      import graft.operators.Dedup
      // same fused band-key expression the streaming maintainer uses
      // (r20) — the replay gate compares like against like
      Dedup.withLshBandKeys(Dedup.withShingles(
          spark.read.parquet(docIn).select(col("doc_id").cast("long"), col("text")),
          "text"))
        .select(col("band_idx"), col("band_key"), col("doc_id"))
    }
    val membersOk = sameMultiset(
      streamedLsh.select(col("band_idx"), col("band_key"), col("doc_id")),
      batchBanded)
    val bucketsOk = streamedLsh
      .groupBy(col("band_idx"), col("band_key"))
      .agg(sum(when(col("is_first"), 1L).otherwise(0L)).as("n_first"),
        count_distinct(col("rep_id")).as("n_reps"),
        max(when(col("is_first"), col("doc_id"))).as("first_doc"),
        max(col("rep_id")).as("rep"))
      .filter(col("n_first") =!= 1L || col("n_reps") =!= 1L ||
        col("first_doc") =!= col("rep"))
      .isEmpty
    val lshOk = membersOk && bucketsOk

    spark.streams.removeListener(probe)
    Result(nEvents, nDocs, wallSec, crashAt,
      KeyedCountingSink.drain(sinkKey),
      sessionsEmitted, lshHits,
      hashStoreOk, cmsOk, driftOk, joinMvOk, sessionsOk, lshOk, work,
      crashPoint, b.joinMv.noopReplays.get(), maxBatch.get()._1, docSkewPct,
      schemaChanges.get(), maxBatch.get()._2, evolveChunk.toLong,
      configChanges = if (reconfig) 1L else 0L,
      reconfigAtBatch = reconfigAt,
      maskedConfig = maskedConfig)
  }
}

/** Soak benchmark main: runs [[Soak.run]] at the env-selected SF and
  * prints ONE JSON line (the STREAMBENCH record shape). */
object SoakBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nEventFiles = sys.env.getOrElse("SPARK_GRAFT_STREAM_FILES", "24").toInt
    val nDocFiles = math.max(2, nEventFiles / 4)
    val spark = graft.Tuning.localSession(
      "spark.sql.streaming.numRecentProgressUpdates" -> s"${nEventFiles + 8}")
    val crashPoint = sys.env.getOrElse("SPARK_GRAFT_CRASH_POINT", "pipeline")
    val docSkewPct =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_DOC_SKEW_PCT", "0").toInt
    val schemaEvolve =
      sys.env.getOrElse("SPARK_GRAFT_SCHEMA_EVOLVE", "false").toBoolean
    val reconfig =
      sys.env.getOrElse("SPARK_GRAFT_SOAK_RECONFIG", "false").toBoolean
    val maskedConfig =
      sys.env.getOrElse("SPARK_GRAFT_SOAK_MASKED", "false").toBoolean
    val r = Soak.run(spark, sfDir, nEventFiles, nDocFiles, crashPoint,
      docSkewPct, schemaEvolve, reconfig, maskedConfig)
    // hot-batch attribution record on its own stderr line (the stdout
    // contract stays ONE JSON line)
    System.err.println(s"[soak] max_batch_progress=${r.maxBatchProgress}")
    println(f"""{"metric":"soak_events_per_sec","value":${r.events / r.wallSec}%.1f,"unit":"events/sec","events":${r.events},"docs":${r.docs},"seconds":${r.wallSec}%.2f,"concurrent_queries":6,"crash_point":"${r.crashPoint}","crash_at_batch":${r.crashAtPipelineBatch},"mv_noop_replays":${r.mvNoopReplays},"max_batch_ms":${r.maxBatchMs},"doc_skew_pct":${r.docSkewPct},"schema_changes":${r.schemaChanges},"evolve_at_chunk":${r.evolveAtChunk},"config_changes":${r.configChanges},"reconfig_at_batch":${r.reconfigAtBatch},"masked_config":${r.maskedConfig},"pipeline_sink_commits":${r.pipelineSinkCommits},"sessions_emitted":${r.sessionsEmitted},"lsh_hits":${r.lshHits},"hash_store_ok":${r.hashStoreOk},"cms_ok":${r.cmsOk},"drift_ok":${r.driftOk},"join_mv_ok":${r.joinMvOk},"sessions_ok":${r.sessionsOk},"lsh_ok":${r.lshOk},"all_ok":${r.allOk},"sf":"$sfDir"}""")
    spark.stop()
    if (!r.allOk) sys.exit(1)
  }
}
