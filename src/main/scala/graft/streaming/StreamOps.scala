package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}

/** Streaming extensions beyond the reference's processing-time loop
  * (SURVEY Table B [ext] rows): event-time windows with watermarks and
  * custom keyed state via mapGroupsWithState. The reference has no
  * event-time concept (artifacts.py:263-285 polls in processing time);
  * these are the operators a Spark-native deployment adds for late
  * data and sessionization at scale.
  */
object StreamOps {

  /** Epoch-ns long → event-time column usable by watermarks. */
  def eventTime(df: DataFrame, nsCol: String): DataFrame =
    df.withColumn("event_time", timestamp_micros(expr(s"$nsCol div 1000")))

  /** Watermarked event-time SESSION windows (gap-based): per-key
    * sessions close when `gap` passes with no new event, and their
    * aggregate is emitted in append mode once the watermark clears the
    * session end — the streaming form of the batch `q_sessionize`
    * gap-split. Uses Spark's native `session_window`, so state merging
    * (two open sessions bridged by a late-but-in-watermark event
    * collapse into one) and eviction are handled by the engine: state
    * per key is bounded by its OPEN sessions only, and rows later than
    * the watermark are dropped rather than reopening closed sessions —
    * the property that keeps session state finite on an unbounded
    * stream.
    *
    * The emitted session bounds are wrapped in
    * [[graft.functions.PushdownBarrierExpr]]: Catalyst pushes a
    * downstream `session_end`/`session_start` filter through the
    * `session_window` aggregate as a per-row event-time prune — sound
    * for fixed windows, UNSOUND for merged sessions (a straddling
    * session truncates to a phantom partial that passes the filter;
    * found live by the r15 concurrent soak). The barrier is a
    * codegen'd runtime identity whose only effect is making the
    * aggregate's true output the earliest point such a filter can
    * apply. Filters on `keyCol` still push (sessions are per-key). */
  def sessionWindowAgg(df: DataFrame, nsCol: String, lateness: String,
      gap: String, keyCol: String): DataFrame = {
    import graft.functions.PushdownBarrier.barrier
    eventTime(df, nsCol)
      .withWatermark("event_time", lateness)
      .groupBy(session_window(col("event_time"), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col(keyCol),
        barrier(col("session_window.start")).as("session_start"),
        barrier(col("session_window.end")).as("session_end"),
        col("n_events"), col("sum_value"))
  }

  final case class SessionState(nEvents: Long, totalValue: Double)
  final case class SessionUpdate(user_id: Long, n_events: Long, total_value: Double)

  /** Running per-user session aggregates via mapGroupsWithState —
    * the keyed-state primitive backing custom streaming state
    * (hash stores, session windows, dedup-within-key). */
  def sessionize(spark: SparkSession, events: DataFrame): Dataset[SessionUpdate] = {
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[SessionState]) =>
          val prev = state.getOption.getOrElse(SessionState(0L, 0.0))
          var n = prev.nEvents
          var total = prev.totalValue
          rows.foreach { case (_, v) => n += 1; total += v }
          state.update(SessionState(n, total))
          SessionUpdate(user, n, total)
      }
  }

  /** Streaming exact dedup: drop repeats of `idCols` arriving within
    * the watermark bound — the streaming analog of the batch dedup
    * family, and the idiom for at-least-once sources whose replays
    * land close together in event time. State is keyed by `idCols`
    * and EVICTED once the watermark passes (unbounded
    * `dropDuplicates` state is the classic streaming OOM at scale;
    * the watermark bound is what makes this 100 TB-safe). */
  def dedupStream(df: DataFrame, nsCol: String, lateness: String,
      idCols: Seq[String]): DataFrame =
    eventTime(df, nsCol)
      .withWatermark("event_time", lateness)
      .dropDuplicatesWithinWatermark(idCols)

  /** Convenience: run sessionize as an update-mode memory-sink query
    * (used by tests and demos). */
  def startSessionQuery(spark: SparkSession, events: DataFrame, name: String) =
    sessionize(spark, events).writeStream
      .outputMode(OutputMode.Update)
      .format("memory").queryName(name)
      .start()

  /** Stream-stream interval join: match each left event to right
    * events for the same key within `[left.ts, left.ts + within]`.
    * Both sides carry watermarks, so Spark bounds the join state on
    * BOTH buffers — without the time bound and watermarks the state
    * grows with the stream and this is the canonical streaming OOM.
    * The watermark must be at least `within` late-bound or matches
    * are silently dropped; callers pass both explicitly to keep that
    * contract visible. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      nsCol: String, lateness: String, within: String): DataFrame = {
    val l = eventTime(left, nsCol).withWatermark("event_time", lateness)
    val r = eventTime(right, nsCol).withWatermark("event_time", lateness)
      .select(col(keyCol).as("r_key"), col("event_time").as("r_time"))
    l.join(r,
      col(keyCol) === col("r_key") &&
        col("r_time") >= col("event_time") &&
        col("r_time") <= col("event_time") + expr(s"INTERVAL $within"))
  }

  final case class BandHit(band_idx: Int, band_key: String,
      doc_id: Long, rep_id: Long, is_first: Boolean)

  /** Streaming NEAR-dup detection — the batch MinHash+LSH pipeline's
    * stateful analog. Arriving docs are shingled, minhash-signed, and
    * band-keyed with the SAME fused expressions as the batch path
    * (identical operating point, 16 bands × 4 rows), then each band
    * bucket keeps its first-seen doc id as state: a doc emitted with
    * `rep_id != doc_id` in ANY band is an LSH near-dup candidate of
    * that representative, which downstream (foreachBatch) verifies or
    * drops exactly like the batch verify stage.
    *
    * Scale shape: state is one Long per distinct band key — the same
    * cardinality the batch shuffle blocks on, bounded further by
    * `timeoutMinutes` eviction (processing-time, refreshed on access)
    * so an unbounded corpus can't accrete unbounded state. Within a
    * micro-batch, rows in each bucket are processed in doc-id order,
    * so the chosen representative is deterministic under replay. */
  def nearDupStream(spark: SparkSession, docs: DataFrame,
      timeoutMinutes: Option[Int] = None): Dataset[BandHit] = {
    import spark.implicits._
    import graft.operators.Dedup
    // fused band keys (r20): one expression computes the signature
    // and the band md5s, so the micro-batch plan can never inline the
    // k-hash chain per extracted column (the r19 wide-extract trap);
    // value parity with the batch path is pinned by DedupSpec
    val banded = Dedup.withLshBandKeys(
        Dedup.withShingles(docs.select(col("doc_id").cast("long"), col("text")), "text"))
      .select(col("doc_id"), col("band_idx"), col("band_key"))
      .as[(Long, Int, String)]
    val timeoutConf = if (timeoutMinutes.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    banded.groupByKey { case (_, idx, key) => s"$idx:$key" }
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (_: String, rows: Iterator[(Long, Int, String)], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val inBatch = rows.toArray.sortBy(_._1)
            var rep = state.getOption
            val out = inBatch.map { case (id, idx, bkey) =>
              rep match {
                case None =>
                  rep = Some(id)
                  BandHit(idx, bkey, id, id, is_first = true)
                case Some(r) =>
                  BandHit(idx, bkey, id, r, is_first = false)
              }
            }
            rep.foreach(state.update)
            timeoutMinutes.foreach(m =>
              state.setTimeoutDuration(s"$m minutes"))
            out.iterator
          }
      }
  }

  /** Streaming materialized-view maintenance: every micro-batch of
    * fact rows is summarized by `summarize` (the SAME aggregate shape
    * the MV was registered with) and merged into the registered MV
    * via [[graft.plans.MaterializedView.refresh]] — incremental view
    * maintenance driven by the stream. Per-batch cost is
    * O(|summary| + |batch summary|), never a fact-table rescan, so a
    * dashboard summary stays current under 100 TB append-only ingest
    * for the price of aggregating each batch once. The checkpoint
    * makes maintenance restartable; merging partials is not
    * idempotent, so the batch id rides along and `refresh` drops a
    * replayed id — foreachBatch's at-least-once redelivery after a
    * crash becomes effectively-once merging. Register the MV over a
    * zero-row (schema-only) snapshot of the fact location so every
    * row is accounted exactly once — by the stream. */
  def maintainMv(facts: DataFrame, mvSession: SparkSession, name: String,
      summarize: DataFrame => DataFrame, checkpoint: String) =
    eachBatch(facts, checkpoint) { (batch, batchId) =>
      graft.plans.MaterializedView.refresh(mvSession, name,
        summarize(batch), Some(batchId))
    }

  /** Start an append-mode stream over `in` that hands every non-empty
    * micro-batch and its id to `merge`. */
  private def eachBatch(in: DataFrame, checkpoint: String)(
      merge: (DataFrame, Long) => Unit): StreamingQuery =
    in.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) merge(batch, batchId)
      }
      .start()

  /** A small keyed counter table held as a driver-local DataFrame:
    * each merge adds a delta cell-wise (union + `sum(cnt)` by `keys`),
    * collects the bounded result and rebuilds it locally, which cuts
    * the streaming lineage. A batch id ≤ the last merged id no-ops, so
    * foreachBatch's at-least-once redelivery becomes effectively-once
    * merging (the [[maintainMv]] rule). */
  private final class CounterTable(spark: SparkSession, keys: Seq[String]) {
    @volatile private var table: Option[DataFrame] = None
    @volatile private var lastMergedBatch: Long = -1L

    def merge(delta: DataFrame, batchId: Long): Unit = synchronized {
      if (batchId <= lastMergedBatch) return // replayed batch: no-op
      val merged = table match {
        case None => delta
        case Some(cur) => cur.union(delta)
          .groupBy(keys.map(col): _*).agg(sum(col("cnt")).as("cnt"))
      }
      val local = merged.collect() // bounded by the caller's geometry
      table = Some(spark.createDataFrame(
        java.util.Arrays.asList(local: _*), merged.schema))
      lastMergedBatch = batchId
    }

    def current: Option[DataFrame] = table
  }

  /** Count-min sketch kept current under streaming ingest — "which
    * items are hot RIGHT NOW" without ever storing per-item state.
    * Each micro-batch contributes its own d×w counter table (built
    * distributed by [[graft.operators.Sketches.cmsCounters]], map-side
    * combined) and the maintainer merges it CELL-WISE — CMS merge is
    * exact addition, so the maintained sketch is bit-identical to the
    * batch sketch over the full history, which is what the spec pins.
    *
    * Replay safety mirrors [[maintainMv]]: a micro-batch id ≤ the
    * last merged id no-ops, so foreachBatch's at-least-once redelivery
    * becomes effectively-once merging.
    *
    * Driver state is the sketch geometry — ≤ d·w = 4096 cells,
    * CONSTANT in stream length — materialized locally each merge to
    * cut the streaming lineage (an audited bounded collect, same
    * class as the quantile bucket maps). */
  final class CmsMaintainer(spark: SparkSession) {
    private val counters = new CounterTable(spark, Seq("row_idx", "cell"))

    private[graft] def merge(delta: DataFrame, batchId: Long): Unit =
      counters.merge(delta, batchId)

    /** The maintained d×w counter table (empty before the first
      * merge). */
    def counterTable: DataFrame = counters.current.getOrElse {
      import spark.implicits._
      Seq.empty[(Int, Long, Long)].toDF("row_idx", "cell", "cnt")
    }

    /** Point-query the maintained sketch for the candidate items. */
    def estimates(candidates: DataFrame, itemCol: String): DataFrame =
      graft.operators.Sketches.cmsEstimate(candidates, itemCol, counterTable)
  }

  /** Start maintaining `store` from a streaming item relation. */
  def maintainCms(items: DataFrame, itemCol: String, store: CmsMaintainer,
      checkpoint: String) =
    eachBatch(items, checkpoint) { (batch, batchId) =>
      store.merge(graft.operators.Sketches.cmsCounters(batch, itemCol), batchId)
    }

  /** Streaming drift monitor: maintains a fixed-geometry histogram of
    * a numeric column over the stream's full history and reads out
    * the EXACT bucket-level Kolmogorov–Smirnov distance against any
    * baseline histogram on demand — the live counterpart of the batch
    * [[graft.operators.Eval.ksStatistic]] snapshot check ("has the
    * incoming value distribution drifted from last week's corpus?").
    *
    * Bucketing the support is what makes the state bounded and the
    * merge exact: per-bucket counts add associatively, so the
    * maintained table equals the batch histogram over the full
    * history regardless of micro-batch boundaries (spec-pinned), and
    * driver state is ≤ `buckets` rows — CONSTANT in stream length,
    * the same audited-bounded-collect class as [[CmsMaintainer]].
    * D over the bucketed support lower-bounds raw-value D (mass
    * moving within one bucket is invisible) — the standard
    * histogram-drift tradeoff; pick `buckets` for the resolution the
    * alarm needs. Replay safety mirrors [[maintainMv]]: batch ids ≤
    * the last merged id no-op, so at-least-once redelivery becomes
    * effectively-once merging.
    */
  final class DriftMaintainer(spark: SparkSession, buckets: Int,
      lo: Double, hi: Double) {
    import org.apache.spark.sql.expressions.Window

    private val hist = new CounterTable(spark, Seq("bucket"))

    /** (bucket, cnt) histogram of `valueCol` in this instance's
      * geometry: offset-scaled floor, clamped to [0, buckets). Used
      * for both the streamed deltas and batch baselines so the two
      * sides of [[driftVs]] always share bucket boundaries. */
    def bucketed(df: DataFrame, valueCol: String): DataFrame =
      df.select(least(lit(buckets - 1), greatest(lit(0),
          floor((col(valueCol) - lit(lo)) * buckets / (hi - lo))
            .cast("int"))).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))

    private[graft] def merge(delta: DataFrame, batchId: Long): Unit =
      hist.merge(delta, batchId)

    /** The maintained histogram (empty before the first merge). */
    def histogram: DataFrame = hist.current.getOrElse {
      import spark.implicits._
      Seq.empty[(Int, Long)].toDF("bucket", "cnt")
    }

    /** Exact KS distance between the live histogram and `baseline`
      * (a (bucket, cnt) relation in the same geometry), as one row
      * (n_live, n_base, d_ppm) with
      * d_ppm = ⌊10⁶ · max_b |cdf_live(b) − cdf_base(b)|⌋. Integer
      * arithmetic throughout, same CDF-sweep shape as the batch
      * operator; the unpartitioned window is safe by construction —
      * its input is the ≤ `buckets`-row merged histogram. */
    def driftVs(baseline: DataFrame): DataFrame = {
      val per = histogram
        .select(lit(true).as("in_a"), col("bucket"), col("cnt"))
        .unionByName(baseline
          .select(lit(false).as("in_a"), col("bucket"), col("cnt")))
        .groupBy(col("bucket"))
        .agg(sum(when(col("in_a"), col("cnt")).otherwise(0L)).as("ca"),
          sum(when(!col("in_a"), col("cnt")).otherwise(0L)).as("cb"))
      val wCum = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      per.withColumn("cum_a", sum(col("ca")).over(wCum))
        .withColumn("cum_b", sum(col("cb")).over(wCum))
        .withColumn("n_a", sum(col("ca")).over(wAll))
        .withColumn("n_b", sum(col("cb")).over(wAll))
        .withColumn("d_num", expr("abs(CAST(cum_a AS DECIMAL(38,0)) " +
          "* n_b - CAST(cum_b AS DECIMAL(38,0)) * n_a)"))
        .agg(max(col("n_a")).as("n_live"), max(col("n_b")).as("n_base"),
          expr("CAST(max(d_num) * 1000000 div (CAST(max(n_a) AS " +
            "DECIMAL(38,0)) * max(n_b)) AS BIGINT)").as("d_ppm"))
    }
  }

  /** Start maintaining `store`'s histogram from a streaming numeric
    * relation. */
  def maintainDrift(values: DataFrame, valueCol: String,
      store: DriftMaintainer, checkpoint: String) =
    eachBatch(values, checkpoint) { (batch, batchId) =>
      store.merge(store.bucketed(batch, valueCol), batchId)
    }

  /** Incrementally-maintained JOIN materialized view — the streaming
    * enrichment shape of a training-data pipeline: an append-only
    * fact stream joined against a dimension snapshot, with the result
    * kept as a queryable parquet view that only ever does Δ-sized
    * work. Append-only facts make the join delta-distributive
    * (MV ∪ (Δ ⋈ dim) = (facts ∪ Δ) ⋈ dim), so each micro-batch joins
    * ONLY its delta — no recompute, no touch of prior output. The
    * aggregate-MV counterpart lives in [[maintainMv]]/
    * [[graft.plans.MaterializedView]]; this class covers the
    * non-aggregating enrich-then-store path those can't express.
    *
    * Effectively-once layout: each batch writes (overwrite) its own
    * `batch=<id>/` partition directory, so foreachBatch's
    * at-least-once replay rewrites the SAME directory with the same
    * rows instead of appending duplicates, and [[view]] reads the
    * base path with standard partition discovery (the `batch` column
    * doubles as ingestion provenance). At 100 TB the per-batch work
    * is |Δ| join probes — broadcast the dimension via a hint on
    * `setDim` when it fits, or let AQE pick the strategy.
    *
    * Dimension semantics are AS-OF-INGEST: each delta joins the
    * snapshot current at merge time ([[setDim]] swaps it atomically
    * between batches), which is what enrichment wants — a later dim
    * correction does not silently rewrite history (replay the
    * affected batches to re-enrich, exactly like a backfill).
    */
  final class JoinMvMaintainer(spark: SparkSession, basePath: String,
      joinKeys: Seq[String]) {
    @volatile private var dim: Option[DataFrame] = None
    @volatile private var lastMergedBatch: Long = -1L

    /** Fault injection for the soak's mv-merge crash point: when set,
      * the merge of exactly this batch id throws AFTER the partition
      * write and state update but BEFORE the stream checkpoint can
      * commit — the crash window whose replay the batch-id gate below
      * must absorb. One-shot; -1 disarms. Test-only. */
    @volatile private[graft] var failAfterMergeOfBatch: Long = -1L

    /** Replayed batches absorbed by the batch-id no-op gate (observable
      * so the soak can assert the gate actually fired). */
    private[graft] val noopReplays = new java.util.concurrent.atomic.AtomicLong

    /** Install / swap the dimension snapshot used for subsequent
      * batches. Pass `broadcast(df)` when the dim fits an executor. */
    def setDim(d: DataFrame): Unit = { dim = Some(d) }

    private[graft] def merge(delta: DataFrame, batchId: Long): Unit =
      synchronized {
        if (batchId <= lastMergedBatch) { // replayed batch: no-op
          noopReplays.incrementAndGet()
          return
        }
        val d = dim.getOrElse(throw new IllegalStateException(
          "JoinMvMaintainer: setDim before starting the stream"))
        delta.join(d, joinKeys)
          .write.mode("overwrite")
          .parquet(s"${basePath.stripSuffix("/")}/batch=$batchId")
        lastMergedBatch = batchId
        if (batchId == failAfterMergeOfBatch) {
          failAfterMergeOfBatch = -1L
          throw new RuntimeException(
            s"injected crash: MV merge of batch $batchId completed, " +
              "stream checkpoint uncommitted")
        }
      }

    /** The maintained enriched view (all merged batches), with the
      * `batch` partition column as ingestion provenance. */
    def view: DataFrame = spark.read.parquet(basePath)
  }

  /** Start maintaining `store`'s enriched view from a streaming fact
    * relation. */
  def maintainJoinMv(facts: DataFrame, store: JoinMvMaintainer,
      checkpoint: String) =
    eachBatch(facts, checkpoint)(store.merge)
}
