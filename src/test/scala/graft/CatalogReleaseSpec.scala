package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Catalog-wide cache-release contract (VERDICT r13/r14 finding): a
  * catalog query that caches or locally checkpoints intermediates
  * must free them before returning. After the result is materialized,
  * at most ONE persisted RDD may remain registered with the block
  * manager — the eagerly-materialized final result (or final
  * iterative round), which the ContextCleaner reclaims once the
  * caller drops the reference (the [[operators.Rounds]] contract).
  * Anything more is a leak: a `.cache()` that the session cache holds
  * until someone calls `clearCache()`, or a locally-checkpointed
  * round whose `Dataset.unpersist` was a silent no-op — rounds× block
  * copies of executor storage at cluster scale.
  *
  * Covers every catalog query that carries a `.cache()` or a
  * multi-round `localCheckpoint` chain, on both paths: each query runs
  * once cleanly (counting the Spark jobs the query function starts),
  * then once more with the last of those jobs cancelled — for most
  * queries the final materialization, for q_sssp_bounded and
  * q_label_prop a relaxation round — and must throw leaving nothing
  * persisted.
  */
class CatalogReleaseSpec extends AnyFunSuite with SparkTestBase {

  private val covered = Seq(
    "q_pagerank",        // sym/deg/edges caches, eager final
    "q_ppr",             // sym/deg/edges caches, eager top-30
    "q_hits",            // edge cache, eager top-30
    "q_diameter_2sweep", // edge cache + two bfsHops final rounds
    "q_sssp_bounded",    // delta rounds; final dist stays (allowance)
    "q_label_prop",      // delta rounds; final labels stay (allowance)
    "q_bpe_merges",      // 6 checkpointed vocab rounds, all released
    "q_rfm_scores",      // per-user cache, eager ≤125-row final
    // round-15 CacheAudit offenders, all fixed to the same contract:
    "q_bfs_hops",        // edge cache + BFS final round, eager ordered final
    "q_triangle_count",  // dense-tier eb/adj/edge caches self-release
    "q_local_clustering",// inherits triangleCounts' self-release
    "q_dbscan",          // pair cache + CC round released, eager final
    "q_dedup_ngram",     // shared minhash-signature cache released
    "q_dedup_minhash",   // same sig-cache release
    "q_dedup_editdist",  // same sig-cache release
    "q_dedup_panel",     // same sig-cache release
    "q_minhash_calibration", // same sig-cache release
    "q_contrastive_pairs",   // same sig-cache release
    "q_dedup_clusters",  // ngram checkpoint released; CC round stays
    "q_dedup_survivors", // chain: only the CC round stays
    "q_cc_size_hist",    // chain: only the CC round stays
    "q_curation_e2e",    // chain: only the CC round stays
    // pair-support core (r16 re-tier): items persisted at EVERY SF,
    // plus smallCounts/cands (join tier) or mask (bitmap tier) —
    // tier-specific paths additionally leak-tested on big-basket
    // fixtures in PairCoreSpec
    "q_itemset_pairs",
    "q_item_lift")

  private def groupOf(e: SparkListenerJobStart): String =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  /** Jobs each covered query's function started in its clean run. */
  private val jobsStarted = scala.collection.concurrent.TrieMap.empty[String, Int]

  /** `f` and the number of Spark jobs it started. Its jobs carry a
    * unique job group; the listener bus delivers job starts in order,
    * so once the sentinel job run after `f` arrives, every job of `f`
    * has (TablesSpec's counter). */
  private def withJobCount[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"release-${java.util.UUID.randomUUID()}"
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(groupOf(e))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "release")
      val result = try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      (result, Iterator.continually(starts.poll(60, TimeUnit.SECONDS))
        .map { g => assert(g != null, "sentinel job start never arrived"); g }
        .takeWhile(_ != s"$group-end").count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  /** Resolves every table's schema once, so a query's first load of a
    * table runs no schema job in one run and not the other. */
  private lazy val tablesResolved: Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach(Tables.table(spark, sf, _))

  for (name <- covered) {
    test(s"$name leaves at most its final result persisted") {
      val sc = spark.sparkContext
      tablesResolved
      val before = sc.getPersistentRDDs.keySet
      val (res, jobs) = withJobCount(SparkEntry.queries(name)(spark, sf))
      jobsStarted(name) = jobs
      assert(res.count() >= 0)
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.size <= 1,
        s"$name left ${leaked.size} persisted RDDs registered " +
          "(expected at most the eager final result); a cache or " +
          "checkpointed round is not being released")
      // the one allowed survivor must be the RESULT's own blocks —
      // its eager final or a round its plan reads — not a stray cache
      val foreign = leaked.filterNot(operators.Rounds.ownBlocks(res))
      assert(foreign.isEmpty,
        s"$name's surviving persisted RDD(s) $foreign are not blocks " +
          "its own result reads — a leaked intermediate, not the allowance")
    }

    test(s"$name frees every persist when its last job fails") {
      val last = jobsStarted.getOrElse(name,
        fail(s"the clean run of $name did not record its job count"))
      assert(last > 0, s"$name started no job")
      val sc = spark.sparkContext
      /** One run with job `last` (and any later one) cancelled: the
        * error, or the result when the job finished before its cancel
        * landed (listener events arrive asynchronously). */
      def attempt(): Either[Throwable, org.apache.spark.sql.DataFrame] = {
        val group = s"release-fail-${java.util.UUID.randomUUID()}"
        val seen = new AtomicInteger()
        val listener = new SparkListener {
          override def onJobStart(e: SparkListenerJobStart): Unit =
            if (groupOf(e) == group && seen.incrementAndGet() >= last)
              sc.cancelJob(e.jobId)
        }
        sc.addSparkListener(listener)
        sc.setJobGroup(group, s"$name with its last job cancelled")
        try Right(SparkEntry.queries(name)(spark, sf))
        catch { case e: Exception => Left(e) }
        finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
      }
      val before = sc.getPersistentRDDs.keySet
      val err = Iterator.continually(attempt()).take(5).map {
        case Right(res) =>
          // lost the race: free what the result holds and run again
          operators.Rounds.releaseOf(res)()
          None
        case Left(e) => Some(e)
      }.collectFirst { case Some(e) => e }
        .getOrElse(fail(s"$name never failed with job $last cancelled"))
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("cancelled")), err)
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty,
        s"$name left ${leaked.size} persisted RDDs registered after its " +
          s"job $last of $last was cancelled")
    }
  }
}
