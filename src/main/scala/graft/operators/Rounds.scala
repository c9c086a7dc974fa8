package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.execution.LogicalRDD

/** Round persistence for iterative fixpoint operators (k-core peel,
  * star-contraction connected components): each round eagerly
  * truncates lineage and materializes — without truncation the
  * logical plan is k^rounds nodes and the DRIVER dies before any
  * executor works — and hands back a release thunk that frees the
  * round's storage the moment the next round lands.
  *
  * Why a thunk instead of `Dataset.unpersist`: `localCheckpoint`
  * never registers the result with the cache manager, so
  * `Dataset.unpersist()` on it is a silent NO-OP — the blocks belong
  * to the underlying checkpointed RDD and only
  * `rdd.unpersist` releases them. Left alone they linger until the
  * ContextCleaner happens to GC the RDD reference; a 50-round peel at
  * 100 TB would meanwhile hold ~50 edge-set copies of block storage.
  *
  * The thunk deliberately destroys the round (a locally-checkpointed
  * RDD's blocks ARE its only copy) — call it only once nothing will
  * read that round again. Final-round results returned to callers are
  * never released here; their storage is reclaimed by the
  * ContextCleaner once the caller drops the reference (GC-driven by
  * design — `spark.catalog.clearCache()` cannot see them either).
  *
  * [[persist]] and [[persistCounted]] record each round's plan in
  * [[PlanProbe]] (as `helper:round/<n>`) when the probe is enabled, so
  * `tools.PlanDump` can show the plans the rounds ran. */
private[graft] object Rounds {

  /** Truncate + materialize one round. `reliable` routes through a
    * durable `checkpoint` (pre-set checkpoint dir required) whose
    * files survive executor loss; the release thunk is then a no-op
    * (file cleanup is the checkpoint manager's job, and replayability
    * is the point of paying for reliability). */
  def persist(df: DataFrame, reliable: Boolean): (DataFrame, () => Unit) = {
    PlanProbe.recordRound(df)
    if (reliable) (df.checkpoint(true), () => ())
    else {
      val out = df.localCheckpoint(true)
      (out, releaseOf(out))
    }
  }

  /** Lazy local checkpoint (r20): truncates lineage like [[persist]]
    * but defers block materialization to the FIRST job that computes
    * the relation — for callers whose very next action is a
    * full-scan driver scalar over the same relation (the pair core's
    * strategy gate), where the eager form pays a materialize job plus
    * a second full block-read pass for the aggregate. The caller must
    * guarantee that a full-scan job runs before any multi-consumer
    * fan-out, or consumers race to compute the plan concurrently. */
  def persistLazy(df: DataFrame): (DataFrame, () => Unit) = {
    val out = df.localCheckpoint(false)
    (out, releaseOf(out))
  }

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
      pred: Option[Column] = None): (DataFrame, () => Unit, Long) = {
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
    // The count MUST stay exchange-free: a Dataset-level count/agg
    // plans a partial+final aggregate with a shuffle between, which
    // under AQE is two sequential query-stage materializations — MORE
    // driver round-trips than the eager-checkpoint-plus-isEmpty pair
    // this helper replaces (measured: q_diameter_2sweep +0.5 s with
    // the agg form). An RDD count over the (optionally filtered)
    // checkpoint plan is one single-stage job with per-partition
    // counts summed on the driver: it materializes every block AND
    // returns the scalar in one round trip.
    def countOf(out: DataFrame): Long =
      pred.fold(out)(p => out.filter(p)).queryExecution.toRdd.count()
    if (reliable) {
      val out = capped.checkpoint(true)
      (out, () => (), countOf(out))
    } else {
      val out = capped.localCheckpoint(false)
      val release = releaseOf(out)
      // the lazy checkpoint registers its RDD before the count runs, so
      // a failing count must free the blocks its finished tasks stored
      val n = try countOf(out) catch { case e: Throwable => release(); throw e }
      (out, release, n)
    }
  }

  /** Release thunk for a relation that is ALREADY locally
    * checkpointed — e.g. a final round handed back by an iterative
    * operator ([[graft.operators.Graph.bfsHops]]) whose storage the
    * caller wants to free deterministically once it has derived and
    * materialized its own result from it, instead of waiting for the
    * ContextCleaner. Since r20 the thunk unpersists EVERY
    * checkpointed leaf in the plan, not just a bare top-level one —
    * robust to relations derived from a checkpoint (unions,
    * projections) where the old single-node match silently leaked.
    * Callers pass only relations whose checkpointed leaves they own.
    * Same destroy-once contract as [[persist]]'s thunk; no-op on
    * plans with no checkpointed leaf. */
  def releaseOf(df: DataFrame): () => Unit = {
    val rdds = df.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd
    }
    () => { rdds.foreach(_.unpersist(blocking = false)); () }
  }

  /** Registry of release thunks for the FAILURE path of a query that
    * persists intermediates before its final materialization. On the
    * success path the caller's `materializeFinal` block owns the
    * release ordering (thunks run AFTER the final lands); but if
    * anything throws in between — a gate `head()`, a bounded
    * `collect`, the final materialization itself — the persisted
    * blocks would otherwise linger until the ContextCleaner GCs them,
    * invisible to `spark.catalog.clearCache()`. [[onFailure]] runs
    * every deferred thunk (newest first) on the exception path only,
    * then rethrows. `rdd.unpersist` is idempotent, so a thunk shared
    * with the success-path block is safe either way. */
  final class ReleaseScope private[Rounds] () {
    private val thunks = scala.collection.mutable.ListBuffer.empty[() => Unit]
    def defer(t: () => Unit): Unit = { thunks += t; () }
    private[Rounds] def releaseAll(): Unit =
      thunks.reverseIterator.foreach(t => t())
  }

  def onFailure[A](body: ReleaseScope => A): A = {
    val scope = new ReleaseScope
    try body(scope)
    catch { case e: Throwable => scope.releaseAll(); throw e }
  }
}
