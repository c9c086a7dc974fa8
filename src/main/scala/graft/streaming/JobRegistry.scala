package graft.streaming

import java.util.UUID
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.model.{FirebaseInstance, FirebaseJob, ResourceKind, Subscription, Validation}
import graft.model.ResourceKind.{Firebases, Jobs, Subscriptions}
import graft.sources.DocumentSink

/** Control plane: resource registry + job lifecycle
  * (reference A18-A23: REST resource CRUD with schema validation,
  * job pause/resume/status, last-100 log ring — artifacts.py:132-157,
  * 195-256, 409-443; README.md:138-189).
  *
  * Resources of every [[ResourceKind]] live in one definition store
  * and are validated on add (errors returned, not thrown — the
  * validate_pretty contract). Each started job has one [[Run]]: how to
  * start it again, its live query, its failure count and its
  * supervisor status; logs come from a bounded ring fed by a
  * [[StreamingQueryListener]] plus lifecycle events. Tenancy: every
  * job's topics/checkpoints are prefixed with the tenant
  * (artifacts.py:226,293-295).
  *
  * Error recovery mirrors the reference's poll loop
  * (artifacts.py:263-285): a failure flips the job to RECONFIGURE and
  * the supervisor retries after a backoff (the reference sleeps
  * 10×sleep_delay = 5 s and polls again, forever; here the backoff
  * doubles per consecutive failure up to [[maxBackoffMs]], and resets
  * once a restarted query makes progress). Intentional stop
  * (pause/remove) never triggers a restart.
  */
final class JobRegistry(spark: SparkSession, tenant: String,
    /** Sync modes a subscription may name. Defaults to the modes
      * this engine implements; pass [[Validation.SchemaSyncModes]] for
      * the reference's strict schema contract (schemas.py:284). */
    val allowedSyncModes: Set[String] = Validation.EngineSyncModes,
    /** First-retry delay after a query failure; doubles per
      * consecutive failure. Reference: sleep(self.sleep_delay * 10)
      * = 5 s, artifacts.py:281. */
    restartBackoffMs: Long = 5000,
    /** Backoff ceiling (the "bounded" in bounded backoff). */
    maxBackoffMs: Long = 60000,
    /** Give up after this many consecutive failed restarts (the
      * reference retries forever; Int.MaxValue reproduces that). */
    maxRestarts: Int = Int.MaxValue,
    /** Broker topic discovery (A20) — a fake in tests, an
      * [[graft.sources.AdminTopicCatalog]] at deploy time. */
    topicCatalog: graft.sources.TopicCatalog = graft.sources.TopicCatalog.empty,
    /** Durable registry state (the reference persists every resource
      * per-tenant in Redis via the consumer SDK, consumer.py:9-18,
      * docker-compose.yml:27-33). When set, resource definitions and
      * job start specs are mirrored into this store on every mutation
      * and re-read on construction, so a new registry over the same
      * store sees every definition — and `resume` can rebuild a job's
      * query from its persisted [[JobStartSpec]] + checkpoint after a
      * JVM restart. None = in-memory only (tests, throwaway runs). */
    store: Option[graft.sources.RtdbStore] = None) {
  // kind → id → value. TrieMaps: the listener reads jobs without the
  // registry monitor (see Run).
  private val defs: Map[ResourceKind[_], TrieMap[String, Any]] =
    ResourceKind.all.map(k => k -> TrieMap.empty[String, Any]).toMap
  private val logRing = mutable.Map[String, mutable.ArrayDeque[String]]()
  private val MaxLogs = 100 // callback_logger('JOB', stack, 100), artifacts.py:225

  /** One started job's runtime record. Its fields are volatile, not
    * monitor-guarded: Spark delivers QueryStartedEvent to listeners
    * SYNCHRONOUSLY on the thread inside DataStreamWriter.start — while
    * startJob/restart hold this registry's monitor awaiting the startup
    * latch. A listener that takes the monitor would deadlock the start;
    * lock-free reads keep the listener safe from any delivery context. */
  private final class Run(
      /** Starts the job's query from its checkpoint over the current
        * definitions: the supervised restart and `resume` both call it. */
      val launch: () => Either[Seq[String], StreamingQuery]) {
    /** The latest attempt's query, live or dead; None once paused. */
    @volatile var query: Option[StreamingQuery] = None
    /** Consecutive failures; reset once a restarted query makes progress. */
    val failures = new AtomicInteger(0)
    /** RECONFIGURE while awaiting a restart, STOPPED after giving up. */
    @volatile var status: Option[String] = None
  }
  private val runs = TrieMap[String, Run]()

  private lazy val scheduler = Executors.newSingleThreadScheduledExecutor(
    new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-job-supervisor-$tenant")
        t.setDaemon(true); t
      }
    })

  /** Reference-style consumer-group name for a job's query
    * (group_name = f'{tenant}.firebaseconsumer.{id}',
    * artifacts.py:226) — also how started/progress events (which fire
    * before the run holds the query) resolve their job. */
  private def queryNameOf(jobId: String) = s"$tenant.firebaseconsumer.$jobId"
  private def jobOfName(name: String): Option[String] = {
    val prefix = s"$tenant.firebaseconsumer."
    Option(name).filter(_.startsWith(prefix)).map(_.substring(prefix.length))
      .filter(defs(Jobs).contains)
  }
  /** The job whose run holds the query run `runId` (a paused run holds
    * none, so its stop is not a failure). */
  private def jobOfRun(runId: UUID): Option[String] =
    runs.collectFirst { case (j, r) if r.query.exists(_.runId == runId) => j }

  /** Listener feeding the per-job log ring and driving crash recovery
    * (reference: the job thread's own poll-loop logging + RECONFIGURE
    * handling, artifacts.py:263-285,434-443). */
  private val listener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      jobOfName(e.name).foreach(j => log(j, s"query started (run ${e.runId})"))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      jobOfName(e.progress.name).foreach { j =>
        // reset backoff only past batch 0: a crash-looping job that
        // always squeezes one batch in before failing must still see
        // the exponential delay engage
        if (e.progress.batchId > 0) runs.get(j).foreach(_.failures.set(0))
        log(j, s"progress: batch ${e.progress.batchId}, ${e.progress.numInputRows} rows")
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      jobOfRun(e.runId).foreach { j =>
        e.exception match {
          case Some(err) =>
            log(j, s"query failed: ${err.linesIterator.nextOption().getOrElse(err)}")
            scheduleRestart(j)
          case None => log(j, "query terminated")
        }
      }
  }
  spark.streams.addListener(listener)

  /** Job → run id of the query its run holds (test observability): a
    * run holds only its latest attempt, so supervised restarts replace
    * the dead query instead of accumulating one per attempt. */
  private[graft] def heldRuns: Map[String, Option[UUID]] =
    runs.map { case (j, r) => j -> r.query.map(_.runId) }.toMap

  private def scheduleRestart(jobId: String): Unit = synchronized {
    // paused (no query) or removed (no run) meanwhile: no restart
    runs.get(jobId).filter(_.query.nonEmpty).foreach { run =>
      if (run.failures.get() >= maxRestarts) {
        run.status = Some("STOPPED")
        log(jobId, s"giving up after ${run.failures.get()} failed restarts")
      } else {
        val attempt = run.failures.incrementAndGet()
        // status RECONFIGURE + delayed retry (artifacts.py:278-281)
        run.status = Some("RECONFIGURE")
        val delay = math.min(
          restartBackoffMs * (1L << math.min(attempt - 1, 16)), maxBackoffMs)
        log(jobId, s"status RECONFIGURE; restart #$attempt in $delay ms")
        scheduler.schedule((() => restart(jobId, run)): Runnable,
          delay, TimeUnit.MILLISECONDS): Unit
      }
    }
  }

  private def restart(jobId: String, run: Run): Unit = synchronized {
    // not paused, resumed or removed since the failure
    if (runs.get(jobId).contains(run) && run.query.exists(!_.isActive)) {
      (try run.launch() catch { case NonFatal(err) => Left(Seq(String.valueOf(err.getMessage))) }) match {
        case Right(q) =>
          run.query = Some(q)
          run.status = None
          log(jobId, s"job $jobId restarted")
        case Left(es) =>
          log(jobId, s"restart failed: ${es.mkString("; ")}")
          scheduleRestart(jobId)
      }
    }
  }

  // The ring has its own lock: the listener appends from the STREAM
  // thread during the synchronous QueryStartedEvent — while startJob
  // holds the registry monitor awaiting the start latch. Logging
  // through the registry monitor would deadlock every start.
  private val logLock = new Object

  def log(jobId: String, msg: String): Unit = logLock.synchronized {
    val ring = logRing.getOrElseUpdate(jobId, mutable.ArrayDeque.empty[String])
    ring.append(msg)
    while (ring.size > MaxLogs) { ring.removeHead(): Unit }
  }

  def getLogs(jobId: String): Seq[String] = logLock.synchronized {
    logRing.get(jobId).map(_.toSeq).getOrElse(Nil)
  }

  // ---- durable state -----------------------------------------------------
  // Mirrors every resource definition + job start spec into the
  // attached RtdbStore tree under registry/{tenant}/{kind}/{id}; the
  // constructor tail re-reads them so a registry rebuilt after a JVM
  // restart starts with every definition (jobs come back PAUSED —
  // their checkpoints and specs make `resume` continue where the old
  // process stopped).
  import org.json4s.{JValue, JNothing, JObject}
  private def rpath(kind: String, id: String) = s"registry/$tenant/$kind/$id"
  private def persist(kind: String, id: String, defn: => JValue): Unit =
    store.foreach(_.set(rpath(kind, id), defn))
  private def unpersist(kind: String, id: String): Unit =
    store.foreach(_.set(rpath(kind, id), JNothing))

  // ---- resources ---------------------------------------------------------

  /** add → Right(id) or Left(validation errors, then dangling references). */
  def add[T](kind: ResourceKind[T], t: T): Either[Seq[String], String] =
    put(kind, t, kind.validate(t, allowedSyncModes))

  /** add of a reference-shaped REST body, validated as received. */
  def addDefinition[T](kind: ResourceKind[T], defn: JValue): Either[Seq[String], String] =
    put(kind, kind.fromJson(defn), kind.validateJson(defn, allowedSyncModes))

  private def put[T](kind: ResourceKind[T], t: T, invalid: Seq[String]): Either[Seq[String], String] =
    synchronized {
      val errs = invalid ++ dangling(kind, t)
      if (errs.nonEmpty) Left(errs)
      else {
        val id = kind.id(t)
        defs(kind)(id) = t
        persist(kind.name, id, kind.definition(t))
        Right(id)
      }
    }

  /** `t`'s references to resources this registry does not hold. */
  private def dangling[T](kind: ResourceKind[T], t: T): Seq[String] =
    kind.references(t).collect { case (field, k, id) if !defs(k).contains(id) => s"$field: unknown '$id'" }

  def get[T](kind: ResourceKind[T], id: String): Option[T] =
    defs(kind).get(id).map(_.asInstanceOf[T])

  def list(kind: ResourceKind[_]): Seq[String] = defs(kind).keys.toSeq.sorted

  /** Removing a job stops it and drops its run and start spec. */
  def remove(kind: ResourceKind[_], id: String): Unit = synchronized {
    if (kind == Jobs) {
      pauseJob(id)
      runs.remove(id): Unit
      unpersist("jobspec", id)
      log(id, s"job $id removed")
    }
    defs(kind).remove(id): Unit
    unpersist(kind.name, id)
  }

  def addFirebase(fb: FirebaseInstance): Either[Seq[String], String] = add(Firebases, fb)
  def addSubscription(sub: Subscription): Either[Seq[String], String] = add(Subscriptions, sub)
  def addJob(job: FirebaseJob): Either[Seq[String], String] = add(Jobs, job)
  def getFirebase(id: String): Option[FirebaseInstance] = get(Firebases, id)
  def getSubscription(id: String): Option[Subscription] = get(Subscriptions, id)
  def getJob(id: String): Option[FirebaseJob] = get(Jobs, id)
  def listFirebases(): Seq[String] = list(Firebases)
  def listSubscriptions(): Seq[String] = list(Subscriptions)
  def listJobs(): Seq[String] = list(Jobs)
  def removeFirebase(id: String): Unit = remove(Firebases, id)
  def removeSubscription(id: String): Unit = remove(Subscriptions, id)
  def removeJob(id: String): Unit = remove(Jobs, id)

  /** Topics this tenant could subscribe to: broker metadata filtered
    * to the tenant prefix, prefix stripped (list_topics,
    * artifacts.py:409-424). Broker failure → Left (the reference
    * wraps KafkaException into an HTTP 500). */
  def listTopics(): Either[String, Seq[String]] =
    try Right(graft.sources.TopicCatalog.tenantTopics(topicCatalog.allTopics(), tenant))
    catch { case NonFatal(e) => Left(s"$e @timeout: 5") }

  def listSubscribedTopics(jobId: String): Seq[String] =
    getJob(jobId).toSeq.flatMap(_.subscriptions)
      .flatMap(getSubscription).map(s => s"$tenant.${s.topicPattern}")

  // ---- job lifecycle -----------------------------------------------------

  /** Start a job over the given stream (test/file/kafka source built
    * by the caller); all of the job's subscriptions run in one query,
    * first glob match winning (reference consumer semantics). The
    * supervisor restarts the query from its checkpoint on failure. */
  def startJob(jobId: String, stream: DataFrame, mkSink: () => DocumentSink,
               workDir: String): Either[Seq[String], StreamingQuery] =
    begin(jobId, () => getJob(jobId).toRight(Seq(s"job: unknown '$jobId'")).flatMap { job =>
      dangling(Jobs, job) match {
        case Nil =>
          val sj = new StreamingJob(spark, job.subscriptions.flatMap(getSubscription), tenant,
            mkSink, s"$workDir/hashstore-$tenant-$jobId", s"$workDir/checkpoint-$tenant-$jobId")
          Right(sj.start(stream, Some(queryNameOf(jobId))))
        case errs => Left(errs)
      }
    })

  /** Launches a new run of the job unless it is running. */
  private def begin(jobId: String, launch: () => Either[Seq[String], StreamingQuery])
      : Either[Seq[String], StreamingQuery] = synchronized {
    // a second start would silently orphan the running query's handle,
    // leaving two queries contending on one checkpoint/hash-store dir
    if (runs.get(jobId).exists(_.query.exists(_.isActive)))
      Left(Seq(s"job: '$jobId' already running"))
    else launch().map { q =>
      val run = new Run(launch)
      run.query = Some(q)
      runs(jobId) = run
      log(jobId, s"job $jobId started")
      q
    }
  }

  /** Start a job from a persistable spec: stream and sink are built
    * from config, and (when a store is attached) the spec is recorded
    * durably so `resume` still works after a JVM restart. */
  def startJob(jobId: String, spec: JobStartSpec): Either[Seq[String], StreamingQuery] =
    synchronized {
      startJob(jobId, spec.source.build(spark), () => spec.sink.build(), spec.workDir) match {
        case r @ Right(_) => persist("jobspec", jobId, spec.toJson); r
        case l => l
      }
    }

  /** Resume a paused job from its checkpoint through its run (the
    * SDK's `resume` action) — or, after a JVM restart, from the
    * persisted [[JobStartSpec]]. */
  def resumeJob(jobId: String): Either[Seq[String], StreamingQuery] = synchronized {
    runs.get(jobId) match {
      case Some(run) => begin(jobId, run.launch)
      case None =>
        store.map(_.get(rpath("jobspec", jobId))).filter(_ != JNothing) match {
          case Some(specJson) => startJob(jobId, JobStartSpec.fromJson(specJson))
          case _ => Left(Seq(s"job: '$jobId' was never started"))
        }
    }
  }

  /** Status surface (get_status, artifacts.py / README.md:151-160).
    * RECONFIGURE = failed and awaiting supervised restart
    * (JobStatus.RECONFIGURE, artifacts.py:280). */
  def getStatus(jobId: String): String = synchronized {
    val run = runs.get(jobId)
    run.flatMap(_.status).getOrElse(run.flatMap(_.query) match {
      case Some(q) if q.isActive => "NORMAL"
      case Some(_) => "STOPPED"
      case None if getJob(jobId).nonEmpty => "PAUSED"
      case None => "UNKNOWN"
    })
  }

  /** Stops the run's query without a supervised restart; the run stays
    * for `resume`. */
  private def halt(run: Run): Option[StreamingQuery] = {
    val q = run.query
    run.query = None // first: its termination must not look like a failure
    run.status = None
    q.foreach(_.stop())
    q
  }

  /** pause = stop the query, keep the definition (resume restarts). */
  def pauseJob(jobId: String): Unit = synchronized {
    runs.get(jobId).flatMap(halt).foreach(_ => log(jobId, s"job $jobId paused"))
  }

  /** Detach this registry from the shared SparkSession: stop active
    * queries (checkpoints stay intact), cancel pending supervised
    * restarts, and remove the streaming listener — so a later registry
    * over the same store is the only supervisor. Definitions, the
    * durable store, and every checkpoint are untouched: this is the
    * clean half of the kill-and-rebuild path ([[resumeJob]] continues
    * from the persisted spec + checkpoint). */
  def shutdown(): Unit = synchronized {
    runs.values.foreach(halt)
    scheduler.shutdownNow(): Unit
    spark.streams.removeListener(listener)
  }

  // ---- rehydration (constructor tail: all maps above are initialized) ----
  store.foreach { st =>
    // definitions were validated when first added; trust the mirror so
    // a schema-contract tweak can never strand persisted state
    def load[T](kind: ResourceKind[T]): Unit = st.get(s"registry/$tenant/${kind.name}") match {
      case JObject(entries) => entries.foreach { case (_, d) => val t = kind.fromJson(d); defs(kind)(kind.id(t)) = t }
      case _ =>
    }
    ResourceKind.all.foreach(load(_))
  }
}
