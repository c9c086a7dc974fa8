package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Metamorphic PROGRAM-variant harness (judge brief r16 → r17 #1).
  *
  * Every green row in CORRECTNESS_r{N} proves one plan on one shape —
  * a fixed point-probe. The reference contract is CONFIGURABLE
  * (filter values, mask levels, routing patterns are user input), so
  * the config-space around each probe is where silent breakage hides.
  * This main re-runs ~17 representative catalog queries through the
  * SAME bodies (`graft.Queries.qX` with non-default parameters — see
  * the default-arg defs in SparkEntry.scala) under two variant kinds:
  *
  *  - `shift`: semantics-shifting knobs (predicate constants moved,
  *    LIMIT/k changed, group key replaced, window widths, quantile
  *    set, funnel step sequence) with a correspondingly re-templated
  *    DuckDB oracle;
  *  - `pres`: semantics-preserving restatements (join sides swapped,
  *    filters stated above the join instead of on the scans, filter
  *    application order swapped, CUBE dims reordered) checked against
  *    the UNCHANGED base oracle — any divergence is an optimizer-
  *    equivalence bug (the q13-inner-flip / session-window-pushdown
  *    class).
  *
  * Output layout matches graft.Verify (per-variant parquet dir +
  * oracle_sql.json), so scripts/perturb_compare.py referees it
  * against DuckDB over the same base tables. PerturbSpec separately
  * pins that DEFAULT params reproduce each catalog entry bit-for-bit,
  * so the variants provably exercise the catalog's own code path.
  *
  * Usage: graft.tools.Perturb <sfDir> <outDir>
  */
object Perturb {
  import graft.{Queries, SparkEntry}

  final case class Variant(
      id: String,
      kind: String, // "shift" | "pres"
      fn: (SparkSession, String) => DataFrame,
      oracle: String)

  private def baseOracle(name: String): String = SparkEntry.oracleSql(name)

  /** Variant oracles are built by textual rewrite of the base oracle
    * SQL. A rewrite whose target substring has drifted out of the base
    * text would silently no-op and surface later as a confusing hash
    * mismatch — require the target instead, so oracle drift fails at
    * variant-construction time with the missing fragment named
    * (ADVICE r17). */
  implicit final class OracleRewrite(private val sql: String) {
    def replaceOrFail(target: String, replacement: String): String = {
      require(sql.contains(target),
        s"oracle rewrite target not found (base oracle drifted?): '$target'")
      sql.replace(target, replacement)
    }
  }

  /** The variant catalog. ids are `<base>__<knob>`. */
  def variants: Seq[Variant] = Seq(
    // ---- q1_agg: group-key reorder (pres) + predicate constant (shift)
    Variant("q1_agg__keys_swapped", "pres",
      (s, d) => Queries.q1Agg(s, d,
        keys = Seq("l_linestatus", "l_returnflag")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_linestatus, l_returnflag
        |ORDER BY l_linestatus, l_returnflag""".stripMargin),
    q1Qty(25), q1Qty(45),
    // ---- q_filter_jsonpath: filter order (pres) + constants (shift)
    Variant("q_filter_jsonpath__json_first", "pres",
      (s, d) => Queries.qFilterJsonpath(s, d, jsonFirst = true),
      baseOracle("q_filter_jsonpath")),
    jsonpathVariant("types_click", Seq("click"), Seq("1", "2", "3")),
    jsonpathVariant("ks_2_7", Seq("purchase", "click"), Seq("2", "7")),
    // ---- q_join_broadcast: side swap (pres) + region constant (shift)
    Variant("q_join_broadcast__sides_swapped", "pres",
      (s, d) => Queries.qJoinBroadcast(s, d, swapSides = true),
      baseOracle("q_join_broadcast")),
    jbRegion("region_asia", "ASIA", swap = false),
    jbRegion("region_europe_swapped", "EUROPE", swap = true),
    // ---- q_join_shuffle: filter position (pres) + constants (shift)
    Variant("q_join_shuffle__filters_above_join", "pres",
      (s, d) => Queries.qJoinShuffle(s, d, filterAfterJoin = true),
      baseOracle("q_join_shuffle")),
    jsConsts("disc_gt_005", 0.05, "F"),
    jsConsts("status_not_O", 0.02, "O"),
    // ---- q_window_ranks: ntile width + partition key (shift)
    Variant("q_window_ranks__ntile_7", "shift",
      (s, d) => Queries.qWindowRanks(s, d, ntileN = 7),
      windowRanksOracle("o_orderpriority", 7)),
    Variant("q_window_ranks__part_by_status", "shift",
      (s, d) => Queries.qWindowRanks(s, d, partKey = "o_orderstatus"),
      windowRanksOracle("o_orderstatus", 4)),
    // ---- q_topk_grouped: k (shift)
    topkK(2), topkK(11),
    // ---- q_lateral_topk: LIMIT + direction (shift)
    Variant("q_lateral_topk__k_3", "shift",
      (s, d) => Queries.qLateralTopk(s, d, k = 3),
      lateralOracle(3, "DESC")),
    Variant("q_lateral_topk__asc", "shift",
      (s, d) => Queries.qLateralTopk(s, d, asc = true),
      lateralOracle(2, "ASC")),
    // ---- q_gapfill: predicate constant (shift)
    gapfillUsers(20), gapfillUsers(100),
    // ---- q_quantile_global: quantile set + column (shift)
    Variant("q_quantile_global__p25_75", "shift",
      (s, d) => Queries.qQuantileGlobal(s, d, ps = Seq(0.25, 0.75)),
      quantileOracle("l_extendedprice", Seq(0.25, 0.75))),
    Variant("q_quantile_global__col_quantity", "shift",
      (s, d) => Queries.qQuantileGlobal(s, d, column = "l_quantity"),
      quantileOracle("l_quantity", Seq(0.5, 0.95))),
    // ---- q_agg_stats: grouping key replaced (shift)
    Variant("q_agg_stats__bucket", "shift",
      (s, d) => Queries.qAggStats(s, d, byBucket = true),
      """SELECT user_id % 16 AS bucket,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  MIN(value) AS min_value,
        |  MAX(value) AS max_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_value
        |FROM events
        |GROUP BY user_id % 16
        |ORDER BY bucket""".stripMargin),
    // ---- q_sessionize: gap constant (shift)
    sessionGap("gap_1h", 3600000000L),
    sessionGap("gap_7d", 604800000000L),
    // ---- q_funnel: step sequence (shift)
    Variant("q_funnel__view_click_purchase", "shift",
      (s, d) => Queries.qFunnel(s, d, Seq("view", "click", "purchase")),
      baseOracle("q_funnel").replaceOrFail("= 'signup'", "= 'view'")),
    // ---- q_event_paths: LIMIT + path depth (shift)
    Variant("q_event_paths__limit_25", "shift",
      (s, d) => Queries.qEventPaths(s, d, topN = 25),
      baseOracle("q_event_paths").replaceOrFail("LIMIT 10", "LIMIT 25")),
    Variant("q_event_paths__depth_2", "shift",
      (s, d) => Queries.qEventPaths(s, d, depth3 = false),
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS t, event_id,
        |    event_type FROM events),
        |p AS (SELECT event_type AS e1,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id) AS e2
        |  FROM e)
        |SELECT e1, e2, COUNT(*) AS n FROM p
        |WHERE e2 IS NOT NULL
        |GROUP BY e1, e2
        |ORDER BY n DESC, e1, e2 LIMIT 10""".stripMargin),
    // ---- q_interval_overlap: window widths (shift)
    Variant("q_interval_overlap__widths_2h_1h", "shift",
      (s, d) => Queries.qIntervalOverlapJoin(s, d,
        pWidthUs = 7200000000L, vWidthUs = 3600000000L),
      baseOracle("q_interval_overlap")
        .replaceOrFail("t_us + 3600000000 ", "t_us + 7200000000 ")
        .replaceOrFail("t_us + 1800000000 ", "t_us + 3600000000 ")),
    // ---- q_dedup_exact: duplication bound (shift)
    Variant("q_dedup_exact__dupes_500", "shift",
      (s, d) => Queries.qDedupExact(s, d, dupBound = 500),
      baseOracle("q_dedup_exact").replaceOrFail("doc_id < 100", "doc_id < 500")),
    // ---- q_pivot: pivot value list (shift)
    Variant("q_pivot__types_2", "shift",
      (s, d) => Queries.qPivot(s, d, types = Seq("click", "view")),
      """SELECT user_id,
        |  COUNT(*) FILTER (event_type = 'click') AS click,
        |  COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin),
    // ---- q_cube: dim order + join side (pres)
    Variant("q_cube__dims_swapped", "pres",
      (s, d) => Queries.qCube(s, d, dimsSwapped = true),
      baseOracle("q_cube")),
    Variant("q_cube__join_swapped", "pres",
      (s, d) => Queries.qCube(s, d, swapJoin = true),
      baseOracle("q_cube")),
    // ---- r17 continuation: families with no prior variant coverage —
    // graph (hop bound / seed set), ANN (k / query set), robust stats
    // (clip percentiles), text chunking (size/overlap), rolling
    // windows (lookback). Every knob is a default-arg param on the
    // catalog def, so the variants exercise the catalog's code path.
    Variant("q_bfs_hops__hops_2", "shift",
      (s, d) => Queries.qBfsHops(s, d, maxHops = 2),
      baseOracle("q_bfs_hops").replaceOrFail("b.d < 3", "b.d < 2")),
    Variant("q_bfs_hops__seeds_lt_40", "shift",
      (s, d) => Queries.qBfsHops(s, d, seedBound = 40L),
      baseOracle("q_bfs_hops").replaceOrFail("src < 20", "src < 40")),
    Variant("q_sssp_bounded__seeds_lt_40", "shift",
      (s, d) => Queries.qSsspBounded(s, d, seedBound = 40L),
      baseOracle("q_sssp_bounded")
        .replaceOrFail("src % 2 = 0 AND src < 20", "src % 2 = 0 AND src < 40")),
    Variant("q_ann_bruteforce__k_3", "shift",
      (s, d) => Queries.qAnnBruteforce(s, d, k = 3),
      baseOracle("q_ann_bruteforce").replaceOrFail("rnk <= 5", "rnk <= 3")),
    Variant("q_ann_bruteforce__queries_lt_25", "shift",
      (s, d) => Queries.qAnnBruteforce(s, d, queryBound = 25L),
      baseOracle("q_ann_bruteforce").replaceOrFail("a.vec_id < 10", "a.vec_id < 25")),
    Variant("q_winsorized__p05_95", "shift",
      (s, d) => Queries.qWinsorized(s, d, pLo = 0.05, pHi = 0.95),
      baseOracle("q_winsorized").replaceOrFail("0.01", "0.05")
        .replaceOrFail("0.99", "0.95")),
    Variant("q_chunk_docs__size_32_overlap_8", "shift",
      (s, d) => Queries.qChunkDocs(s, d, chunkSize = 32, overlap = 8),
      baseOracle("q_chunk_docs").replaceOrFail("<= 64", "<= 32")
        .replaceOrFail("- 64 + 47) // 48 + 1", "- 32 + 23) // 24 + 1")
        .replaceOrFail("i * 48 + 1, i * 48 + 64", "i * 24 + 1, i * 24 + 32")
        // half the stride ⇒ ~2× the chunks per doc: double the chunk-
        // index series bound so a long document can't silently truncate
        // the oracle side while the engine emits all chunks (ADVICE r17)
        .replaceOrFail("generate_series(0, 4095)", "generate_series(0, 8191)")),
    Variant("q_rolling_median__window_6", "shift",
      (s, d) => Queries.qRollingMedian(s, d, lookback = 6),
      baseOracle("q_rolling_median")
        .replaceOrFail("14 PRECEDING", "6 PRECEDING"))
  )

  private def q1Qty(c: Int): Variant =
    Variant(s"q1_agg__qty_le_$c", "shift",
      (s, d) => Queries.q1Agg(s, d, maxQty = Some(c.toDouble)),
      baseOracle("q1_agg")
        .replaceOrFail("FROM lineitem", s"FROM lineitem WHERE l_quantity <= $c"))

  private def jsonpathVariant(id: String, types: Seq[String],
      ks: Seq[String]): Variant =
    Variant(s"q_filter_jsonpath__$id", "shift",
      (s, d) => Queries.qFilterJsonpath(s, d, types = types, ks = ks),
      s"""SELECT event_id, event_type, json_extract_string(props, '$$.k') AS k
         |FROM events
         |WHERE event_type IN (${types.map(t => s"'$t'").mkString(",")})
         |  AND json_extract_string(props, '$$.k') IN (${ks.map(k => s"'$k'").mkString(",")})
         |ORDER BY event_id""".stripMargin)

  private def jbRegion(id: String, region: String, swap: Boolean): Variant =
    Variant(s"q_join_broadcast__$id", "shift",
      (s, d) => Queries.qJoinBroadcast(s, d, swapSides = swap,
        regionFilter = Some(region)),
      baseOracle("q_join_broadcast")
        .replaceOrFail("GROUP BY r_name, n_name",
          s"WHERE r_name = '$region'\nGROUP BY r_name, n_name"))

  private def jsConsts(id: String, minDisc: Double, statusNot: String): Variant =
    Variant(s"q_join_shuffle__$id", "shift",
      (s, d) => Queries.qJoinShuffle(s, d, minDiscount = minDisc,
        statusNot = statusNot),
      baseOracle("q_join_shuffle")
        .replaceOrFail("l_discount > 0.02", s"l_discount > $minDisc")
        .replaceOrFail("o_orderstatus <> 'F'", s"o_orderstatus <> '$statusNot'"))

  private def windowRanksOracle(partKey: String, ntileN: Int): String =
    s"""SELECT o_orderkey, $partKey,
       |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drank,
       |  CAST(NTILE($ntileN) OVER w AS BIGINT) AS quartile,
       |  PERCENT_RANK() OVER w AS prank,
       |  CUME_DIST() OVER w AS cdist,
       |  LEAD(o_totalprice, 1) OVER w AS next_price,
       |  FIRST_VALUE(o_totalprice) OVER w AS top_price
       |FROM orders
       |WINDOW w AS (PARTITION BY $partKey
       |             ORDER BY o_totalprice DESC, o_orderkey)
       |ORDER BY o_orderkey""".stripMargin

  private def topkK(k: Int): Variant =
    Variant(s"q_topk_grouped__k_$k", "shift",
      (s, d) => Queries.qTopkGrouped(s, d, k = k),
      baseOracle("q_topk_grouped").replaceOrFail("rk <= 5", s"rk <= $k"))

  private def lateralOracle(k: Int, dir: String): String =
    s"""SELECT n.n_name AS nation, t.c_name AS cust_name,
       |  CAST(CAST(t.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents
       |FROM nation n,
       |LATERAL (SELECT c_name, c_acctbal FROM customer c
       |         WHERE c.c_nationkey = n.n_nationkey
       |         ORDER BY c_acctbal $dir, c_name LIMIT $k) t
       |ORDER BY nation, bal_cents $dir, cust_name""".stripMargin

  private def gapfillUsers(u: Int): Variant =
    Variant(s"q_gapfill__users_lt_$u", "shift",
      (s, d) => Queries.qGapFill(s, d, maxUser = u.toLong),
      baseOracle("q_gapfill").replaceOrFail("user_id < 50", s"user_id < $u"))

  private def quantileOracle(column: String, ps: Seq[Double]): String = {
    val branches = ps.map(p =>
      s"""SELECT CAST($p AS DOUBLE) AS q, v FROM ranked
         |    WHERE rn = CAST(ceil($p * n) AS BIGINT)""".stripMargin)
    s"""WITH ranked AS (SELECT $column AS v,
       |    ROW_NUMBER() OVER (ORDER BY $column) AS rn,
       |    COUNT(*) OVER () AS n
       |  FROM lineitem WHERE $column IS NOT NULL)
       |SELECT q, v FROM (
       |  ${branches.mkString("\n  UNION ALL\n  ")})
       |ORDER BY q""".stripMargin
  }

  private def sessionGap(id: String, gapUs: Long): Variant =
    Variant(s"q_sessionize__$id", "shift",
      (s, d) => Queries.qSessionize(s, d, gapUs = gapUs),
      baseOracle("q_sessionize").replaceOrFail("> 86400000000", s"> $gapUs"))

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = graft.Tuning.localSession()
    val vs = variants
    try graft.Verify.dump(spark, outDir, vs.map(v => (v.id, () => v.fn(spark, sfDir), v.oracle)))
    finally spark.stop()
    System.err.println(s"[perturb] ${vs.size} program variants dumped " +
      s"(${vs.count(_.kind == "pres")} semantics-preserving, " +
      s"${vs.count(_.kind == "shift")} semantics-shifting)")
  }
}
