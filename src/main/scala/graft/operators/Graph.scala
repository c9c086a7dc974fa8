package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, count, expr, lit, when}

/** Graph analytics over edge relations.
  *
  * Triangle counting ships TWO exact plans behind one API, selected by
  * the measured node count — the distributed-systems version of an
  * adaptive join strategy:
  *
  *  - '''Dense/bounded-domain path''' (n ≤ `denseMaxNodes`): the
  *    undirected identity `tri(n) = ½ · Σ_{v∈N(n)} |N(n) ∩ N(v)|`
  *    computed over per-node adjacency BITMAPS (dense-ranked ids,
  *    `ceil(n/64)` longs per node). Each directed edge costs one
  *    16-word AND+popcount instead of a join probe, and — the real
  *    win — NO wedge or triangle relation is ever materialized: the
  *    plan streams |E| rows, not O(Σdeg²). On the near-complete
  *    supplier co-occurrence graph (1000 nodes, 453k edges, 271M
  *    wedges, 124M triangles at sf0.1) this replaces two SortMergeJoins
  *    over a 271M-row wedge stream with a 907k-row broadcast pipeline.
  *    Memory: adjacency table is n·n/8 bytes total (16k nodes → 32 MB
  *    broadcast), which is why the path is gated.
  *
  *  - '''Sparse/unbounded path''' (n > `denseMaxNodes`): degree
  *    orientation — direct each edge from its lower-(degree, id)
  *    endpoint to the higher, making a DAG with max out-degree
  *    O(√m) regardless of hub size — then count wedges (a→b, b→c)
  *    closed by edge (a→c). Work is O(Σ outdeg²) ≤ O(m^1.5), the
  *    100 TB-safe bound for power-law graphs; all joins are plain
  *    equi-joins that shuffle-partition on the wedge key.
  *
  * Both paths return identical results (GraphSpec cross-checks them on
  * the same graphs); the sf0.01 DuckDB oracle verifies the dispatching
  * entry end-to-end.
  */
object Graph {

  /** Per-node exact triangle participation counts.
    *
    * Cache contract: every tier returns an eager checkpoint of the
    * per-node counts (bounded by |V|) and its scope frees the internal
    * caches (edge list, id-mapped edges, adjacency bitmaps, probe
    * labels), so at most the returned result's own blocks remain
    * registered (the [[Rounds]] contract; pinned catalog-wide by
    * graft.CacheAudit).
    * Driver memory: tiers beyond "dense" run a
    * connected-components probe whose union-find shortcut may collect
    * up to [[ProbeDriverEdgeLimit]] (1M) edges on the driver; larger
    * graphs probe via distributed star contraction.
    *
    * @param edges undirected edge relation with columns `u`, `v` —
    *              distinct, no self-loops (`u < v` canonical form).
    * @return one row per node that participates in ≥1 triangle:
    *         (`node`, `n_triangles`).
    */
  def triangleCounts(edges: DataFrame,
      denseMaxNodes: Int = GateKnobs.triDenseMaxNodes): DataFrame =
    triangleCountsWithPath(edges, denseMaxNodes)._1

  /** Byte cap on the broadcast adjacency table of the dense-blocked
    * tier: totalNodes · ceil(maxComponent/64) · 8 must fit the
    * driver + every executor comfortably (Spark's own broadcast limit
    * is 8 GB; 256 MB keeps head-room at 1000-executor scale). */
  val DenseBlockedMaxAdjBytes: Long = 1L << 28

  /** Driver-edge cap for the decomposition PROBE inside
    * [[triangleCountsWithPath]]: the probe only needs component
    * labels, so it never justifies the full 5M-edge union-find
    * collect — past 1M edges it runs distributed star contraction
    * and the driver stays out of the data path entirely. */
  val ProbeDriverEdgeLimit: Long = 1000000L

  /** [[triangleCounts]] plus the dispatched path name ("dense" |
    * "dense-blocked" | "sparse") — package-private so specs and the
    * GraphScale sweep can PIN which plan the gate chose at a given
    * scale instead of inferring it from wall time.
    *
    * Three tiers, in preference order:
    *  1. "dense" (n ≤ denseMaxNodes): global bitmap plan, no
    *     component probe needed.
    *  2. "dense-blocked": n exceeds the gate but the graph DECOMPOSES
    *     — every connected component fits the dense gate, and the
    *     component-local adjacency table (totalNodes ·
    *     ceil(maxComponent/64) longs) fits
    *     [[DenseBlockedMaxAdjBytes]]. Discovered by one
    *     connected-components pass (O(m·log n) — cheap insurance
    *     against the sparse tier's O(Σoutdeg²) ≫ m). This is the tier
    *     that carries REPLICATED/COMMUNITY-STRUCTURED graphs: the
    *     sf10 scale sweep found the supplier co-occurrence graph
    *     (100 disjoint ~1k-node near-cliques, 45M edges) filling 70GB
    *     of shuffle with per-triangle rows on the sparse path — the
    *     blocked bitmap plan streams |E| rows and never materializes
    *     a wedge, exactly like tier 1, per component.
    *  3. "sparse": genuinely large connected structure — degree-
    *     oriented wedge join, O(m^1.5) worst case, the provably
    *     scalable general bound. */
  private[graft] def triangleCountsWithPath(edges: DataFrame,
      denseMaxNodes: Int = GateKnobs.triDenseMaxNodes,
      maxAdjBytes: Long = GateKnobs.triMaxAdjBytes): (DataFrame, String) =
    Rounds.scoped { scope =>
    // |V| decides the plan. Cache the canonical edge list — it is the
    // narrowest relation every downstream consumer derives from — and
    // pay the upstream edge-construction pipeline exactly once (the
    // node-count action materializes it).
    val e = scope.cache(edges)
    val nodes = e.select(F.explode(F.array(col("u"), col("v"))).as("node"))
      .distinct()
    val n = nodes.count()
    if (n <= denseMaxNodes) {
      val res = denseTriangles(e, nodes, n)
      TierProbe.record("graph.triangles", "dense")
      (res, "dense")
    }
    else {
      // Decomposition probe: only the LABELS matter here, so cap the
      // union-find shortcut's driver collect at 1M edges (not the 5M
      // default) — this is the one spot a previously driver-free
      // operator could otherwise pull a 5M-edge boxed HashMap onto the
      // driver; past the cap the probe runs distributed star
      // contraction, which is exactly as correct and never leaves the
      // executors.
      val labels = Dedup.connectedComponents(e, "u", "v",
        driverEdgeLimit = ProbeDriverEdgeLimit)
      val cmax = labels.groupBy(col("label")).agg(count(lit(1)).as("cn"))
        .agg(F.max(col("cn"))).head.getLong(0)
      val words = (cmax + 63) / 64
      if (cmax <= denseMaxNodes && n * words * 8 <= maxAdjBytes) {
        val res = componentDenseTriangles(e, labels, cmax)
        TierProbe.record("graph.triangles", "dense-blocked")
        (res, "dense-blocked")
      }
      else {
        // the probe labels only fed cmax, and the sparse plan reads
        // `edges` itself: free both before it runs
        scope.release(labels)
        scope.release(e)
        TierProbe.record("graph.triangles", "sparse")
        (orientedTriangles(edges), "sparse")
      }
    }
  }

  /** Dense path over the DIRECTED (both-ways) edge relation `both`
    * with `n` distinct nodes. Package-private so GraphSpec can force
    * it regardless of graph size.
    *
    * The per-node bitmap is packed into ONE BinaryType column
    * (ceil(n/64) LONG words via conditional `bit_or` aggregates →
    * functions.PackLongsExpr), COLLECTED once — the dense-tier gate
    * bounds the whole table to what the old plan already broadcast
    * TWICE as join builds — and attached as a broadcast lookup array.
    * The probe is then a single projection over the directed edge
    * list (functions.BitmapLookupPopcountExpr: popcount(adj[aid] &
    * adj[bid]) in one fused codegen loop): ZERO joins, zero per-edge
    * bitmap materialization. r18 measurements at sf0.1
    * (q_triangle_count, clean probe windows): per-word-column join
    * plan 7.1 s → packed-binary join plan 4.9 s → joinless lookup
    * plan, see FIXTURES r18. (The array-typed SQL form with
    * `aggregate`/`zip_with` lambdas was 5-8 s on the same input back
    * in r14: higher-order functions are interpreted and allocate per
    * element — still the reason the words build uses flat columns.) */
  private[graft] def denseTriangles(e: DataFrame, nodes: DataFrame,
      n: Long): DataFrame = Rounds.scoped { scope =>
    // dense-rank nodes to 0..n-1 so ids index bitmap bits. The
    // single-partition window is bounded by the dense-path gate
    // (n ≤ denseMaxNodes), never by the data.
    val ids = nodes.withColumn("nid",
      F.row_number().over(Window.orderBy(col("node"))).cast("long") - 1)
    // both directions from ONE scan of the cached edge list via
    // explode(array(...)) — a unionAll of two selects would read the
    // cache twice for the same rows
    val both = e.select(F.explode(F.array(
        F.struct(col("u").as("a"), col("v").as("b")),
        F.struct(col("v").as("a"), col("u").as("b")))).as("d"))
      .select(col("d.a").as("a"), col("d.b").as("b"))
    // eb feeds two consumers (adjacency build collect + probe scan)
    val eb = scope.cache(both
      .join(broadcast(ids.select(col("node").as("a"), col("nid").as("aid"))), "a")
      .join(broadcast(ids.select(col("node").as("b"), col("nid").as("bid"))), "b"))
    val words = ((n + 63) / 64).toInt
    val pre = eb.select(col("aid"), expr("bid div 64").as("w"),
      expr("shiftleft(1L, CAST(bid % 64 AS INT))").as("b"))
    val aggs = (0 until words).map(wi =>
      expr(s"bit_or(CASE WHEN w = $wi THEN b ELSE 0L END)").as(s"bm_$wi"))
    val adjArr = new Array[Array[Byte]](n.toInt)
    pre.groupBy(col("aid")).agg(aggs.head, aggs.tail: _*)
      .select(col("aid"), graft.functions.BitmapOps.pack_longs(
        (0 until words).map(wi => col(s"bm_$wi"))).as("bm"))
      .collect()
      .foreach(r => adjArr(r.getLong(0).toInt) = r.getAs[Array[Byte]](1))
    // every node has ≥1 edge by construction, but a hole must popcount
    // to 0, not NPE
    for (i <- adjArr.indices if adjArr(i) == null) adjArr(i) = Array.emptyByteArray
    val bc = e.sparkSession.sparkContext.broadcast(adjArr)
    // tri(a) = ½ Σ_{b∈N(a)} popcount(bm[a] & bm[b]): one streamed pass
    // over the directed edges. The sum is even by construction, so
    // `div 2` is exact.
    // eager per-node result (bounded by |V|) so eb and the broadcast
    // release NOW — the same self-release contract as
    // componentDenseTriangles
    val res = scope.persist(PlanProbe.record("helper:graph.denseTriangles",
      eb.select(col("a").as("node"), graft.functions.BitmapOps
          .lookup_and_popcount(col("aid"), col("bid"), bc).as("common"))
        .groupBy(col("node"))
        .agg(expr("sum(common) div 2").as("n_triangles"))
        .filter(col("n_triangles") > 0)))
    bc.destroy()
    res
  }

  /** Dense-bitmap plan per CONNECTED COMPONENT ("dense-blocked" tier):
    * identical arithmetic to [[denseTriangles]], but node ids are
    * dense-ranked WITHIN their component (a label-partitioned window —
    * never global) and every bitmap/probe key carries the component
    * label, so each node's adjacency bitmap spans only
    * ceil(maxComponent/64) words instead of ceil(totalNodes/64).
    * Edges never cross components by definition, which is what makes
    * the per-component id space sound. Same joinless probe as tier 1
    * (r18 #6): the adjacency — bounded by [[DenseBlockedMaxAdjBytes]],
    * exactly what the old plan broadcast twice as join builds — is
    * collected once into a lookup array indexed by a GLOBAL node id
    * (per-label offset + in-label rank; bits inside each bitmap stay
    * per-label ranks, and both probe endpoints share a label, so the
    * intersect is sound), and the probe streams |E| rows through one
    * projection. */
  private[graft] def componentDenseTriangles(e: DataFrame, labels: DataFrame,
      cmax: Long): DataFrame = Rounds.scoped { scope =>
    val ids = labels.withColumn("nid",
      F.row_number().over(
        Window.partitionBy(col("label")).orderBy(col("node"))).cast("long") - 1)
    // global array index = label offset + in-label rank. The offset
    // table is |labels| rows (≪ n) — a single-partition running sum
    // over it is bounded by the component COUNT, not the node count.
    val offs = ids.groupBy(col("label")).agg(F.count(F.lit(1)).as("cnt"))
      .withColumn("off", F.coalesce(F.sum(col("cnt")).over(
        Window.orderBy(col("label"))
          .rowsBetween(Window.unboundedPreceding, -1)), F.lit(0L)))
      .select(col("label"), col("off"))
    val gids = ids.join(broadcast(offs), "label")
      .select(col("node"), col("label"), col("nid"),
        (col("off") + col("nid")).as("gid"))
    val n = gids.count()
    val both = e.select(F.explode(F.array(
        F.struct(col("u").as("a"), col("v").as("b")),
        F.struct(col("v").as("a"), col("u").as("b")))).as("d"))
      .select(col("d.a").as("a"), col("d.b").as("b"))
    // the b-side id is the same component's local rank (edges stay
    // within components); gids ride in from both sides
    val eb = scope.cache(both
      .join(broadcast(gids.select(col("node").as("a"), col("label"),
        col("nid").as("aid"), col("gid").as("ga"))), "a")
      .join(broadcast(gids.select(col("node").as("b"),
        col("nid").as("bid"), col("gid").as("gb"))), "b"))
    val words = ((cmax + 63) / 64).toInt
    val pre = eb.select(col("ga"), col("aid"), expr("bid div 64").as("w"),
      expr("shiftleft(1L, CAST(bid % 64 AS INT))").as("b"))
    val aggs = (0 until words).map(wi =>
      expr(s"bit_or(CASE WHEN w = $wi THEN b ELSE 0L END)").as(s"bm_$wi"))
    val adjArr = new Array[Array[Byte]](n.toInt)
    pre.groupBy(col("ga")).agg(aggs.head, aggs.tail: _*)
      .select(col("ga"), graft.functions.BitmapOps.pack_longs(
        (0 until words).map(wi => col(s"bm_$wi"))).as("bm"))
      .collect()
      .foreach(r => adjArr(r.getLong(0).toInt) = r.getAs[Array[Byte]](1))
    for (i <- adjArr.indices if adjArr(i) == null) adjArr(i) = Array.emptyByteArray
    val bc = e.sparkSession.sparkContext.broadcast(adjArr)
    // eager per-node result (bounded by |V|) so the cache and the
    // broadcast release NOW instead of lingering until the caller's
    // clearCache
    val res = scope.persist(PlanProbe.record("helper:graph.componentDenseTriangles",
      eb.select(col("a").as("node"), graft.functions.BitmapOps
          .lookup_and_popcount(col("ga"), col("gb"), bc).as("common"))
        .groupBy(col("node"))
        .agg(expr("sum(common) div 2").as("n_triangles"))
        .filter(col("n_triangles") > 0)))
    bc.destroy()
    res
  }

  /** k-core peel — the standard graph-cleaning step before community
    * detection: repeatedly drop nodes of degree < k (each removal can
    * cascade by dragging neighbors under the threshold) until the
    * fixpoint or `maxRounds`. Returns surviving (node, degree).
    *
    * Scale shape: each round is one degree aggregate plus two
    * semi-joins on the node key — never anything pairwise — and the
    * surviving edge set is cached per round (previous round
    * unpersisted) so round r does not replay rounds 1..r−1. The
    * convergence probe is one bounded count() per round, the same
    * driver-scalar pattern as connected components. Worst case is
    * O(n) rounds (a path graph peeled from the ends — GraphSpec
    * exercises exactly that); real graphs converge in a handful —
    * which is why the PRODUCTION DEFAULT is capped at
    * [[DefaultMaxRounds]]: at 100 TB a pathological peel cascade is
    * O(n) rounds of cluster time, and a capped run that logs a
    * warning beats a job that never comes back. Pass 0 explicitly
    * for the unbounded fixpoint form.
    *
    * Lineage is TRUNCATED per round (`localCheckpoint`, or a
    * reliable checkpoint when `reliableCheckpointDir` is given, same
    * contract as [[Dedup.connectedComponents]]): each round's plan
    * references the previous round three times (degree agg + two
    * semi-joins), so without truncation the logical plan itself is
    * 3^rounds nodes — a 15-round peel OOMs the DRIVER before any
    * executor does a byte of work. Intermediate rounds unpersist
    * themselves; the FINAL round's edge set stays materialized (the
    * returned lazy plan reads it); repeated callers should clear it
    * after materializing.
    *
    * @param maxRounds 0 = run to the fixpoint; n = stop after n
    *                  peels even if not converged (gives the oracle
    *                  an exactly-unrollable bounded form). Default
    *                  [[DefaultMaxRounds]]; non-convergence at the
    *                  cap logs a warning and returns the capped
    *                  (supergraph-of-core) state. */
  def kcorePeel(edges: DataFrame, k: Int,
      maxRounds: Int = DefaultMaxRounds,
      reliableCheckpointDir: Option[String] = None): DataFrame = {
    val (res, converged, rounds) =
      kcorePeelWithStatus(edges, k, maxRounds, reliableCheckpointDir)
    if (!converged)
      log.warn(s"kcorePeel(k=$k) hit the $rounds-round cap before the " +
        "fixpoint - result is the capped peel state (a supergraph of the " +
        "true k-core). Raise maxRounds, or pass 0 for the unbounded form.")
    res
  }

  /** Production round cap for [[kcorePeel]] — generous (real graphs
    * peel in a handful of rounds) yet bounding the worst-case O(n)
    * cascade to a fixed number of cluster passes. */
  val DefaultMaxRounds: Int = 50

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** [[kcorePeel]] plus convergence status: (result, reached-fixpoint,
    * rounds-run). Package-private so GraphSpec can assert the capped
    * non-convergence path without scraping logs. The previous
    * round's blocks are released as each round lands; the scope frees
    * the live round if any round throws ([[relax]]'s shape). */
  private[graft] def kcorePeelWithStatus(edges: DataFrame, k: Int,
      maxRounds: Int,
      reliableCheckpointDir: Option[String] = None): (DataFrame, Boolean, Int) = {
    require(k >= 1, "k must be positive")
    reliableCheckpointDir.foreach(
      edges.sparkSession.sparkContext.setCheckpointDir)
    Rounds.scoped { scope =>
      // persistCounted truncates lineage and materializes the round
      // through the SAME job that returns the surviving-edge count
      // (r20 fusion: the eager-checkpoint-then-count pair cost 2
      // driver-synchronous jobs per peel round)
      def persistRound(df: DataFrame): (DataFrame, Long) =
        scope.persistCounted(df, reliableCheckpointDir.isDefined)
      var (cur, prevCount) = persistRound(edges.select(col("u"), col("v")))
      var rounds = 0
      var converged = false
      while (!converged && (maxRounds == 0 || rounds < maxRounds)) {
        val deg = cur.select(F.explode(F.array(col("u"), col("v"))).as("n"))
          .groupBy(col("n")).agg(count(lit(1)).as("d"))
        val keep = deg.filter(col("d") >= k).select(col("n"))
        val (next, nextCount) = persistRound(cur
          .join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
          .select(col("u"), col("v")))
        scope.release(cur)
        cur = next
        converged = nextCount == prevCount
        prevCount = nextCount
        rounds += 1
      }
      val res = cur.select(F.explode(F.array(col("u"), col("v"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      (res, converged, rounds)
    }
  }

  /** Sparse path: degree-oriented wedge enumeration over the
    * undirected canonical edge relation (`u < v`). */
  private[graft] def orientedTriangles(e: DataFrame): DataFrame =
    Rounds.scoped { scope =>
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // orient: src = endpoint with smaller (degree, id); total order ⇒
    // each triangle materializes as exactly one (a→b→c, a→c) pattern
    val du = deg.select(col("n").as("u"), col("d").as("du"))
    val dv = deg.select(col("n").as("v"), col("d").as("dv"))
    // read three times below (two wedge sides + closure)
    val ed = scope.cache(e.join(du, "u").join(dv, "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst")))
    val tri = ed.as("e1")
      .join(ed.as("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
      .join(ed.as("e3"), col("a") === col("e3.src") && col("c") === col("e3.dst"))
      .select(col("a"), col("b"), col("c"))
    // eager per-node result so the oriented-edge cache releases NOW
    // (same self-release contract as the dense tiers)
    scope.persist(PlanProbe.record("helper:graph.orientedTriangles",
      tri
        .select(F.explode(F.array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))))
  }

  /** Bounded-depth BFS hop distances from a source set — the
    * "how far is every node from the hubs" labeling that feeds graph
    * cleaning (drop far-periphery nodes) and feature pipelines: a
    * [[relax]] whose offer is the round number, so each node keeps its
    * first (= BFS-minimal) hop count. Returns (node, dist), which reads
    * the final round (see [[relax]]).
    * Pass `reliableCheckpointDir` on a real cluster so rounds survive
    * executor loss (same contract as [[kcorePeel]]). */
  def bfsHops(edges: DataFrame, sources: DataFrame, maxHops: Int,
      reliableCheckpointDir: Option[String] = None): DataFrame = {
    reliableCheckpointDir.foreach(
      edges.sparkSession.sparkContext.setCheckpointDir)
    relax(edges, sources.select(col("node"), lit(0L).as("v")).distinct(),
        maxHops, reliableCheckpointDir.isDefined)(r => lit(r.toLong))
      .select(col("node"), col("v").as("dist"))
  }

  /** Frontier min-relaxation fixpoint — the one round loop behind BFS
    * hops, bounded shortest paths and min-label propagation.
    *
    * `edges` carries `src`, `dst` and any edge columns the offer reads
    * (e.g. a weight `w`; none may be named `node`, `v` or `rnd`);
    * `init` is keyed by `node` with a start value `v`. Round 0 is
    * `init` tagged `rnd = 0`. Round r joins the FRONTIER — the nodes
    * whose value improved in round r-1, i.e. the `rnd = r-1` slice —
    * to `edges` on `src` and offers `offer(r)` (evaluated over the
    * edge and the frontier's `v`) to each `dst`. A node whose value
    * did not improve has already offered to every neighbor, so
    * relaxing only the frontier gives the same per-round result as
    * relaxing every labeled node, with an edge join sized by the
    * frontier instead of the labeled set.
    *
    * Each round is ONE keyed aggregate: `min(struct(v, rnd))` over the
    * previous round ∪ the offers keeps the smallest value per node,
    * ties going to the older round — the strict-improvement rule — so
    * multi-edge reaches dedup and re-reaches of settled nodes drop in
    * the same exchange, with no anti-join or broadcast of the labeled
    * set. The round is lineage-cut and materialized by
    * [[Rounds.Scope.persistCounted]], whose count of `rnd = r` rows (the
    * improved nodes) is the convergence probe: one driver-synchronous
    * job per round. Lineage truncation also keeps the plan size
    * constant in the round count and severs any init-derives-from-
    * edges lineage that would trip Spark's ambiguous-self-join check.
    *
    * Stops when `init` is empty, when a round improves nothing, or
    * after `maxRounds`. The previous round's blocks are released as
    * each round lands; the scope frees the live round if any round
    * throws. Returns the final round (node, v, rnd), `rnd` the round
    * that last improved the node; it passes to the caller's scope
    * ([[Rounds.scoped]]).
    * `reliable` routes rounds through durable checkpoints (the
    * checkpoint dir must already be set). */
  def relax(edges: DataFrame, init: DataFrame, maxRounds: Int,
      reliable: Boolean)(offer: Int => Column): DataFrame = Rounds.scoped { scope =>
    var (cur, live) = scope.persistCounted(
      init.select(col("node"), col("v"), lit(0L).as("rnd")), reliable)
    var r = 1
    while (r <= maxRounds && live > 0L) {
      val frontier = cur.filter(col("rnd") === (r - 1L))
        .select(col("node").as("src"), col("v"))
      val offers = edges.join(frontier, "src")
        .select(col("dst").as("node"), offer(r).as("v"), lit(r.toLong).as("rnd"))
      val (next, improved) = scope.persistCounted(
        cur.unionAll(offers).groupBy(col("node"))
          .agg(F.min(F.struct(col("v"), col("rnd"))).as("m"))
          .select(col("node"), col("m.v").as("v"), col("m.rnd").as("rnd")),
        reliable, pred = Some(col("rnd") === r.toLong))
      scope.release(cur)
      cur = next; live = improved
      r += 1
    }
    cur
  }

  /** Both directions of each `(a, b)` edge as `(src, dst, extra*)`,
    * from ONE scan via explode(array(struct…)) — a unionAll of two
    * selects would run the upstream edge pipeline twice. */
  def undirected(e: DataFrame, a: String, b: String, extra: String*): DataFrame = {
    def side(s: String, d: String) =
      F.struct(col(s).as("src") +: col(d).as("dst") +: extra.map(col): _*)
    e.select(F.explode(F.array(side(a, b), side(b, a))).as("d"))
      .select(col("d.src").as("src") +: col("d.dst").as("dst") +:
        extra.map(x => col(s"d.$x").as(x)): _*)
  }
}
