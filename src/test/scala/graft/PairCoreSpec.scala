package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Boundary battery for the candidate-first pair-support core behind
  * q_itemset_pairs / q_item_lift (`SparkEntry.supportedPairs`). The
  * core routes baskets by size (≤256 → per-basket self-join; >256 →
  * containment) and routes CONTAINMENT by big-basket census (≤62 big
  * baskets → broadcast bitmap tier; more → candidate key-join tier),
  * so every support-2 pair class must be proven against a brute-force
  * reference at the routing boundaries themselves — the driver
  * testdata never manufactures a big basket at test SF, so without
  * these fixtures the big paths would only ever run in sf1 skew
  * sweeps.
  *
  * Classes covered: small×small, small(at exactly 256)×small,
  * small×big (cross-class sum), big×big (intersection candidates),
  * big-only support-1 (must be excluded), the 256/257 size threshold,
  * and the 62/63-basket bitmap→join tier gate.
  */
class PairCoreSpec extends AnyFunSuite with SparkTestBase {

  private def writeFixture(baskets: Map[Long, Seq[Long]]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-paircore").toString
    baskets.toSeq.flatMap { case (ok, pks) => pks.map(pk => (ok, pk)) }
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  /** Brute-force support counts from the basket definitions (driver
    * side, small): every unordered pair within every basket. */
  private def expectedOf(
      baskets: Map[Long, Seq[Long]]): Map[(Long, Long), Long] = {
    val counts = scala.collection.mutable.Map[(Long, Long), Long]()
    for {
      pks <- baskets.values
      sorted = pks.distinct.sorted
      i <- sorted.indices
      j <- (i + 1) until sorted.length
    } counts((sorted(i), sorted(j))) =
      counts.getOrElse((sorted(i), sorted(j)), 0L) + 1L
    counts.filter(_._2 >= 2L).toMap
  }

  private def enginePairs(dir: String): Map[(Long, Long), Long] =
    SparkEntry.queries("q_itemset_pairs")(spark, dir)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap

  /** (orderkey → basket parts). Baskets:
    *  b1/b2: plain small, share {1,2}            → (1,2) support 2
    *  b3: EXACTLY 256 items (2000..2255)         → still small-path
    *  b6: {2000, 2001}                           → (2000,2001) support 2
    *  b4: 259 items (3000..3256 ∪ {2254,2255})   → big-path
    *      (2254,2255) also ⊂ b3                  → small+big = 2
    *  b5: 300 items (3250..3256 ∪ 4000..4292)    → big-path
    *      b4∩b5 = {3250..3256}                   → C(7,2)=21 pairs, 2 each
    *  every other b4/b5-only pair has support 1  → excluded
    *  (2 big baskets → the BITMAP containment tier) */
  private val bitmapBaskets: Map[Long, Seq[Long]] = Map(
    1L -> Seq(1L, 2L, 3L),
    2L -> Seq(1L, 2L, 4L),
    3L -> (2000L to 2255L),
    4L -> ((3000L to 3256L) ++ Seq(2254L, 2255L)),
    5L -> ((3250L to 3256L) ++ (4000L to 4292L)),
    6L -> Seq(2000L, 2001L)
  )

  /** 63 big baskets (over the 62-bitmap gate → the JOIN tier), every
    * pair of them sharing exactly {900001, 900002}; one small basket
    * adds a cross-class occurrence of that pair plus a small-only
    * pair (7, 900001). */
  private val joinTierBaskets: Map[Long, Seq[Long]] = {
    val bigs = (0 until 63).map { i =>
      (100L + i) -> (Seq(900001L, 900002L) ++
        (0 until 255).map(j => 10000L + i * 1000L + j))
    }.toMap
    bigs + (999L -> Seq(5L, 7L, 900001L, 900002L))
  }

  test("bitmap tier: expected fixture pair classes are all present") {
    val expected = expectedOf(bitmapBaskets)
    assert(expected((1L, 2L)) == 2L)          // small×small
    assert(expected((2000L, 2001L)) == 2L)    // threshold-small × small
    assert(expected((2254L, 2255L)) == 2L)    // small×big cross-class
    assert(expected.count { case ((a, b), _) =>
      a >= 3250L && b <= 3256L } == 21)       // big×big intersection
    assert(expected.size == 24)
    assert(!expected.contains((3000L, 3001L))) // big-only support 1
  }

  test("bitmap tier: q_itemset_pairs matches brute force over every routing boundary") {
    assert(enginePairs(writeFixture(bitmapBaskets)) ==
      expectedOf(bitmapBaskets))
  }

  test("join tier (63 big baskets): q_itemset_pairs matches brute force") {
    val expected = expectedOf(joinTierBaskets)
    // the gate fixture must actually exceed the bitmap census
    assert(joinTierBaskets.count(_._2.size > 256) == 63)
    assert(expected((900001L, 900002L)) == 64L) // 63 big + 1 small
    assert(!expected.contains((5L, 900001L)))   // small-only support 1
    assert(enginePairs(writeFixture(joinTierBaskets)) == expected)
  }

  private def assertNoForeignLeak(tier: String, fixtureDir: String): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val res = SparkEntry.queries("q_itemset_pairs")(spark, fixtureDir)
    assert(res.count() >= 0)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"$tier left ${leaked.size} persisted RDDs (expected at " +
        "most the eager final result)")
    val ownIds = res.queryExecution.analyzed.collectWithSubqueries {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    assert(leaked.filterNot(ownIds).isEmpty,
      s"$tier's surviving persisted RDD is not the result's own blocks")
  }

  test("bitmap tier releases every internal persist (mask/smallCounts/items)") {
    // CacheAudit/CatalogReleaseSpec audit at sf0.001 where no big
    // basket exists, so the bitmap tier's persists are only ever
    // exercised HERE — assert its release contract on the big fixture
    assertNoForeignLeak("bitmap tier", writeFixture(bitmapBaskets))
  }

  test("join tier (63 big baskets) releases every internal persist (smallCounts/cands/items)") {
    assertNoForeignLeak("join tier", writeFixture(joinTierBaskets))
  }

  test("Rounds.scoped releases its persists on failure, and on success after the result") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val boom = new RuntimeException("mid-body failure")
    val thrown = intercept[RuntimeException] {
      operators.Rounds.scoped { scope =>
        val df = scope.persist(Seq(1L, 2L, 3L).toDF("v"))
        assert(df.count() == 3)
        // the persisted round IS registered while the body runs
        assert((sc.getPersistentRDDs.keySet -- before).nonEmpty)
        throw boom
      }
    }
    assert(thrown eq boom)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "scoped did not release its persist on the failure path")
    // success path: the result is computed from the intermediate, which
    // is released once the block returns
    val total = operators.Rounds.scoped { scope =>
      val df = scope.cache(Seq(1L, 2L).toDF("v"))
      val n = df.agg(sum(col("v"))).head.getLong(0)
      assert((sc.getPersistentRDDs.keySet -- before).nonEmpty)
      n
    }
    assert(total == 3L)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "scoped did not release its persist on the success path")
    // a checkpoint the result reads leaves with it, to the caller
    val kept = operators.Rounds.scoped(_.persist(Seq(5L).toDF("v")))
    assert((sc.getPersistentRDDs.keySet -- before).size == 1)
    assert(kept.head.getLong(0) == 5L)
    operators.Rounds.releaseOf(kept)()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  /** 5 baskets × 200k items = exactly the 1M big-item bitmap-gate
    * bound; the 3-item overlap {1,2,3} is the only support≥2 pair
    * source. Validates (a) exactness at the admission bound, (b) the
    * memory envelope the bound's doc comment claims: exchange reuse
    * collapses the four withBits broadcast sites onto at most two
    * distinct builds (measured: ONE, 64 MiB dataSize), each bounded. */
  test("bitmap tier at the 1M big-item bound: exact, and two reused bounded broadcasts") {
    val baskets: Map[Long, Seq[Long]] = (0 until 5).map { i =>
      (100L + i) ->
        (Seq(1L, 2L, 3L) ++ (0 until 199997).map(j => 1000000L * (i + 1) + j))
    }.toMap
    assert(baskets.values.map(_.size.toLong).sum == 1000000L)
    val dir = writeFixture(baskets)
    operators.PlanProbe.enabled = true
    try {
      operators.PlanProbe.clear()
      val got = enginePairs(dir)
      assert(got == Map((1L, 2L) -> 5L, (1L, 3L) -> 5L, (2L, 3L) -> 5L))
      // the recorded plan is AQE-wrapped: flatten through the adaptive
      // root and every finalized query stage to reach the exchanges
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
      def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec        => Seq(s.plan)
        case other                    => other.children
      }).flatMap(flatten)
      val nodes = flatten(operators.PlanProbe.plans("q_itemset_pairs"))
      def isMaskOut(p: SparkPlan): Boolean =
        p.output.exists(a => a.name == "bits_a" || a.name == "bits_b")
      val maskBuilds = nodes.collect {
        case b: BroadcastExchangeExec if isMaskOut(b) => b
      }
      val maskReuses = nodes.collect {
        case r: ReusedExchangeExec if isMaskOut(r) => r
      }
      assert(maskBuilds.nonEmpty, "no mask broadcast found in the plan")
      val distinctBuilds = maskBuilds.distinct
      assert(distinctBuilds.size <= 2,
        s"expected ≤2 distinct mask broadcast builds (bits_a/bits_b), " +
          s"got ${distinctBuilds.size} — exchange-reuse regression " +
          "multiplies peak broadcast memory at the gate bound")
      assert(maskBuilds.size + maskReuses.size > distinctBuilds.size,
        "expected the second withBits site to reuse the first's broadcasts")
      val sizes = distinctBuilds.map(_.metrics("dataSize").value)
      assert(sizes.forall(sz => sz > 0L && sz <= 128L * 1024 * 1024),
        s"mask broadcast dataSize out of the documented envelope: $sizes")
      info(s"mask broadcast dataSize at 1M rows: ${sizes.mkString(", ")} bytes; " +
        s"${distinctBuilds.size} distinct builds, " +
        s"${maskBuilds.size + maskReuses.size} reference sites")
    } finally operators.PlanProbe.enabled = false
  }

  test("q_item_lift emits both directions of each supported pair with exact lift") {
    val rows = SparkEntry.queries("q_item_lift")(
      spark, writeFixture(bitmapBaskets)).collect()
    val directed = rows.map(r =>
      (r.getLong(r.fieldIndex("a")), r.getLong(r.fieldIndex("b")))).toSet
    // (1,2) support 2: margins c_1 = c_2 = 2, N = 6 orders
    // lift_ppm = 2*6*1e6 div (2*2) = 3_000_000, and both directions rank
    assert(directed.contains((1L, 2L)) && directed.contains((2L, 1L)))
    val lift12 = rows.find(r => r.getLong(r.fieldIndex("a")) == 1L &&
      r.getLong(r.fieldIndex("b")) == 2L).get
    assert(lift12.getLong(lift12.fieldIndex("c_ab")) == 2L)
    assert(lift12.getLong(lift12.fieldIndex("lift_ppm")) == 3000000L)
  }
}
