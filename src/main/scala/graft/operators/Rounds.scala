package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The one lifetime of every persisted intermediate: a [[Scope]].
  *
  * Persisting needs a scope — `cache`, `persist`, `persistLazy` and
  * `persistCounted` are its methods — and [[scoped]] frees what the
  * scope still holds when its block exits, newest first: on failure
  * before the exception propagates, on success after the block's
  * result has been computed. `scope.release(df)` frees one relation
  * early, e.g. an iterative operator's previous round once the next
  * has landed (without lineage truncation a round's logical plan is
  * k^rounds nodes and the DRIVER dies before any executor works).
  *
  * The lazy-result allowance: on success a scope does not free a
  * checkpointed relation its result reads (a local checkpoint's
  * blocks are its only copy, so freeing them would break the result).
  * It hands it to the enclosing scope on this thread, which frees it
  * in turn unless its own result reads it; with no enclosing scope the
  * caller holds it and the ContextCleaner reclaims it once the caller
  * drops the result (`spark.catalog.clearCache()` cannot see it). An
  * eager query result ([[graft.Queries]]' `materializeFinal`) is such
  * a relation. A `.cache()` that a returned lazy plan reads stays
  * outside any scope (a scope would free it, and the plan would
  * silently recompute it); `PersistSiteSpec` names each such site.
  *
  * Checkpointed rounds are freed through their RDDs:
  * `localCheckpoint` never registers its result with the cache
  * manager, so `Dataset.unpersist` on it is a silent no-op and only
  * `rdd.unpersist` drops the blocks, which would otherwise linger
  * until the ContextCleaner happens to GC the RDD (a 50-round peel at
  * 100 TB would meanwhile hold ~50 edge-set copies of block storage).
  *
  * Reliable rounds (`reliable = true`) go through a durable
  * `checkpoint` (pre-set checkpoint dir required) whose files survive
  * executor loss; their files are the checkpoint manager's to clean,
  * so freeing one is a no-op.
  *
  * [[Scope.persistCounted]] records each round's plan in [[PlanProbe]]
  * (as `helper:round/<n>`) when the probe is enabled, so
  * `tools.PlanDump` can show the plans the rounds ran; callers of the
  * other methods record a round with [[PlanProbe.recordRound]]. */
private[graft] object Rounds {

  /** A persisted relation, the RDDs it checkpoints, and its release. */
  private final class Held(val df: DataFrame, val rdds: Seq[RDD[_]],
      val free: () => Unit)

  final class Scope private[Rounds] () {
    private val held = scala.collection.mutable.ArrayBuffer.empty[Held]

    private def hold(df: DataFrame, rdds: Seq[RDD[_]])(free: => Unit): DataFrame = {
      held += new Held(df, rdds, () => free)
      df
    }

    /** `df.cache()`, unpersisted when released. */
    def cache(df: DataFrame): DataFrame = hold(df.cache(), Nil)(df.unpersist())

    /** A checkpoint of `df`, eager when `reliable`, lazy otherwise. */
    private def checkpoint(df: DataFrame, reliable: Boolean): DataFrame = {
      val out = if (reliable) df.checkpoint(true) else df.localCheckpoint(false)
      val rdds = checkpointRdds(out)
      hold(out, rdds)(if (!reliable) rdds.foreach(_.unpersist(blocking = false)))
    }

    /** Truncate lineage and materialize `df` now: one job over the
      * checkpoint RDD, which lands every block. A failing job leaves
      * the registered checkpoint held, so the scope frees it. */
    def persist(df: DataFrame, reliable: Boolean = false): DataFrame = {
      val out = checkpoint(df, reliable)
      if (!reliable) checkpointRdds(out).foreach(_.count())
      out
    }

    /** Lazy local checkpoint (r20): truncates lineage like [[persist]]
      * but defers block materialization to the FIRST job that computes
      * the relation — for callers whose very next action is a
      * full-scan driver scalar over the same relation (the pair core's
      * strategy gate), where the eager form pays a materialize job plus
      * a second full block-read pass for the aggregate. The caller must
      * guarantee that a full-scan job runs before any multi-consumer
      * fan-out, or consumers race to compute the plan concurrently. */
    def persistLazy(df: DataFrame): DataFrame = checkpoint(df, reliable = false)

    /** One-job round (r20, guide §2/iteration discipline): LAZILY
      * local-checkpoint `df`, then materialize it through a single
      * count-bearing aggregate — the round's blocks land AND the
      * convergence scalar returns from the SAME job, replacing the
      * eager-checkpoint-then-probe pair every iterative operator paid
      * before (2-3 driver-synchronous jobs per round → 1; at sf0.1 the
      * whole graph family was scheduling-bound on exactly these jobs —
      * 8 cores ≈ 32 cores in the r19 driver scaling block).
      *
      * `n` counts the rows satisfying `pred` (all rows when None) —
      * the aggregate scans every partition, so every block of the
      * lazy checkpoint is materialized by it, exactly as the eager
      * form would have. Values are identical by construction: the
      * probe the caller used to run separately read the same
      * materialized relation.
      *
      * Reliable rounds keep the eager durable checkpoint (files must
      * land whether or not anyone counts) and pay the separate count —
      * the cluster-durability path is unchanged. */
    def persistCounted(df: DataFrame, reliable: Boolean,
        pred: Option[Column] = None): (DataFrame, Long) = {
      // Cap the round's partition count (r20, guide §2 stragglers/tiny
      // tasks): every round shape here is `previous-round ∪ delta`, and
      // a localCheckpoint PRESERVES partitions, so the stored relation
      // grows by the delta's partition count each round — profiled at
      // 33→65→97→129→161 partitions across a 5-round BFS sweep, where
      // every per-round stage over the relation then schedules 100+
      // near-empty tasks (StageProfile: 4.5 run_s vs 0.4 cpu_s on the
      // 161-task stages — pure scheduling). `coalesce` is a NARROW cap
      // (no shuffle, merges up to the nearest exchange boundary) and the
      // width derives from the session's defaultParallelism (never a
      // constant). CoalesceExec reports UnknownPartitioning, so the cap
      // itself drops any hash partitioning the checkpoint would otherwise
      // carry; no current caller consumes the checkpoint's layout (each
      // shuffles or aggregates on its own key next).
      val capped = PlanProbe.recordRound(
        df.coalesce(df.sparkSession.sparkContext.defaultParallelism))
      val out = checkpoint(capped, reliable)
      // The count MUST stay exchange-free: a Dataset-level count/agg
      // plans a partial+final aggregate with a shuffle between, which
      // under AQE is two sequential query-stage materializations — MORE
      // driver round-trips than the eager-checkpoint-plus-isEmpty pair
      // this helper replaces (measured: q_diameter_2sweep +0.5 s with
      // the agg form). An RDD count over the (optionally filtered)
      // checkpoint plan is one single-stage job with per-partition
      // counts summed on the driver: it materializes every block AND
      // returns the scalar in one round trip.
      (out, pred.fold(out)(p => out.filter(p)).queryExecution.toRdd.count())
    }

    /** Free `df`, which this scope holds, now. */
    def release(df: DataFrame): Unit = {
      val i = held.indexWhere(_.df eq df)
      require(i >= 0, "release of a relation this scope does not hold")
      held.remove(i).free()
    }

    /** Free what is held, newest first, but hand each relation that
      * `keep` selects to `heir` (or to the caller, without one). */
    private[Rounds] def close(keep: Held => Boolean, heir: Option[Scope]): Unit = {
      held.reverseIterator.foreach { h =>
        if (!keep(h)) h.free() else heir.foreach(_.held += h)
      }
      held.clear()
    }
  }

  private val open = ThreadLocal.withInitial[List[Scope]](() => Nil)

  /** Run `body` with a fresh scope and free what it holds on exit; see
    * [[Rounds]] for what the success path keeps. */
  def scoped[A](body: Scope => A): A = {
    val scope = new Scope
    val enclosing = open.get
    open.set(scope :: enclosing)
    val res =
      try body(scope)
      catch { case e: Throwable => scope.close(_ => false, None); throw e }
      finally open.set(enclosing)
    val read = datasetsIn(res).flatMap(checkpointIds).toSet
    scope.close(_.rdds.exists(r => read(r.id)), enclosing.headOption)
    res
  }

  /** The Datasets a scope's result carries: itself, or those in a tuple
    * or case class. */
  private def datasetsIn(res: Any): Iterator[Dataset[_]] = res match {
    case d: Dataset[_] => Iterator(d)
    case p: Product if !p.isInstanceOf[IterableOnce[_]] =>
      p.productIterator.flatMap(datasetsIn)
    case _ => Iterator.empty
  }

  private def checkpointRdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectWithSubqueries { case lr: LogicalRDD => lr.rdd }

  private def checkpointIds(df: Dataset[_]): Seq[Int] = checkpointRdds(df).map(_.id)

  /** Release thunk for a relation that is ALREADY locally
    * checkpointed, for tools and soaks that hold one outside any
    * scope: unpersists EVERY checkpointed leaf in the plan. Callers
    * pass only relations whose checkpointed leaves they own; the
    * relation must not be read again. */
  def releaseOf(df: DataFrame): () => Unit = {
    val rdds = checkpointRdds(df)
    () => { rdds.foreach(_.unpersist(blocking = false)); () }
  }

  /** Ids of the persisted RDDs a materialized `df` itself reads: its
    * checkpointed leaves plus the buffers of the cached relations in
    * its optimized plan. The one persisted RDD a query may leave behind
    * must be one of these (`CacheAudit`, `CatalogReleaseSpec`). */
  def ownBlocks(df: DataFrame): Set[Int] =
    checkpointIds(df).toSet ++
      df.queryExecution.optimizedPlan.collectWithSubqueries {
        case imr: InMemoryRelation => imr.cacheBuilder.cachedColumnBuffers.id
      }
}
