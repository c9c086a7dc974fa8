package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

class GraphSpec extends AnyFunSuite with SparkTestBase {

  /** Reference triangle counter: brute-force over a driver-side edge
    * set — O(n·m), fine for test graphs. */
  private def bruteCounts(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val counts = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for ((u, v) <- edges; w <- adj(u) if w > v && adj(v).contains(w)) {
      counts(u) += 1; counts(v) += 1; counts(w) += 1
    }
    counts.toMap
  }

  private def edgeDf(edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    edges.toDF("u", "v")
  }

  private def toMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // a graph with hubs, a clique, a triangle-free path, and an isolated
  // edge — exercises zero-count filtering and skewed degrees
  private val testEdges: Seq[(Long, Long)] = {
    val clique = for (i <- 0L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val hub = (10L to 30L).map(x => (7L, x)) ++ (11L to 25L).map(x => (8L, x)) ++
      Seq((7L, 8L)) // hub-hub edge closes triangles via shared leaves 11..25
    val path = Seq((40L, 41L), (41L, 42L), (42L, 43L))
    val lone = Seq((50L, 51L))
    clique ++ hub ++ path ++ lone
  }

  test("dense bitmap path matches brute force") {
    val e = edgeDf(testEdges)
    val got = toMap(Graph.triangleCounts(e, denseMaxNodes = 1000))
    val want = bruteCounts(testEdges).filter(_._2 > 0)
    assert(got == want)
  }

  test("oriented wedge path matches brute force and the dense path") {
    val e = edgeDf(testEdges)
    val oriented = toMap(Graph.orientedTriangles(e))
    val want = bruteCounts(testEdges).filter(_._2 > 0)
    assert(oriented == want)
    // forcing the gate below |V| switches to the oriented plan and
    // must not change the answer
    val viaGate = toMap(Graph.triangleCounts(e, denseMaxNodes = 3))
    assert(viaGate == want)
  }

  test("bitmap ids span word boundaries (graph wider than 64 nodes)") {
    // ring of 130 nodes with chords: triangles (i, i+1, i+2)
    val n = 130L
    val ring = (0L until n).map(i => (i, (i + 1) % n))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val chords = (0L until n).map(i => (i, (i + 2) % n))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val edges = (ring ++ chords).distinct
    val got = toMap(Graph.triangleCounts(edgeDf(edges), denseMaxNodes = 1000))
    val want = bruteCounts(edges).filter(_._2 > 0)
    assert(got == want)
    // every ring node sits in exactly 3 triangles (i-2,i-1,i), (i-1,i,i+1), (i,i+1,i+2)
    assert(got.values.toSet == Set(3L))
  }

  test("k-core peel cascades on a path graph and converges") {
    // a 10-node path has NO 2-core: endpoints peel one pair per round
    // (the adversarial O(n)-round cascade)
    val path = (0L until 9L).map(i => (i, i + 1))
    assert(Graph.kcorePeel(edgeDf(path), 2).count() == 0)
    // bounded rounds stop mid-cascade: 2 rounds strip 2 nodes per end
    val after2 = Graph.kcorePeel(edgeDf(path), 2, maxRounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after2.keySet == (2L to 7L).toSet, s"got $after2")
    assert(after2(2L) == 1 && after2(7L) == 1 && after2(4L) == 2)
    // a 4-clique with a pendant: the pendant (and only it) peels at k=3
    val clique = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val core = Graph.kcorePeel(edgeDf(clique :+ (3L, 9L)), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("k-core production cap reports non-convergence; fixpoint reports converged") {
    // 30-node path, k=2: full peel needs ~15 rounds, so a 2-round cap
    // must stop early AND say so (the kcorePeel default then logs the
    // warning on this exact status)
    val path = (0L until 29L).map(i => (i, i + 1))
    val (capped, convergedAtCap, roundsAtCap) =
      Graph.kcorePeelWithStatus(edgeDf(path), 2, maxRounds = 2)
    assert(!convergedAtCap && roundsAtCap == 2)
    // capped result is the 2-round peel state: 2 nodes stripped per end
    assert(capped.collect().map(_.getLong(0)).toSet == (2L to 27L).toSet)
    // the default cap (50) covers this cascade: converged, empty core
    val (fix, convergedDefault, _) =
      Graph.kcorePeelWithStatus(edgeDf(path), 2, Graph.DefaultMaxRounds)
    assert(convergedDefault && fix.count() == 0)
  }

  test("k-core intermediate rounds release their checkpoint blocks") {
    // Dataset.unpersist is a silent no-op on locally-checkpointed
    // rounds; Rounds.persist's release thunk frees them via the
    // underlying RDD. A 16-round peel must therefore leave at most the
    // FINAL round registered with the block manager — not one RDD per
    // round (~rounds× edge-set copies of storage at cluster scale).
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val path = (0L until 29L).map(i => (i, i + 1))
    val (res, converged, rounds) =
      Graph.kcorePeelWithStatus(edgeDf(path), 2, maxRounds = 0)
    assert(converged && rounds >= 14, s"expected a long cascade, got $rounds")
    res.count()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"${leaked.size} persisted RDDs survive a $rounds-round peel " +
        "(expected at most the final round); round releases are not firing")
  }

  test("k-core: a round that throws releases every round it persisted") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // cancel every job of this peel that starts while two rounds are
    // persisted: a round being computed on top of the live previous one
    val group = "kcore-failing-round"
    val cancelled = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group) &&
            (sc.getPersistentRDDs.keySet -- before).size >= 2) {
          cancelled.incrementAndGet()
          sc.cancelJob(e.jobId)
        }
    }
    // a 30-edge path peels one edge off each end per round: 15 rounds
    val path = (0L until 30L).map(i => (i, i + 1))
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "k-core with a failing round")
    val err = try intercept[Exception] {
      Graph.kcorePeelWithStatus(edgeDf(path), 2, maxRounds = 0)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    assert(cancelled.get > 0)
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("cancelled")), err)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "a failed k-core peel must leave no round persisted")
  }

  test("an enabled PlanProbe records every persisted round, numbered in order") {
    operators.PlanProbe.enabled = true
    operators.PlanProbe.clear()
    try {
      val path = (0L until 9L).map(i => (i, i + 1))
      val (_, converged, rounds) = Graph.kcorePeelWithStatus(edgeDf(path), 2, maxRounds = 0)
      assert(converged)
      // the input edges' round plus one per peel round
      assert(operators.PlanProbe.executions.keys.toSeq.flatMap(operators.PlanProbe.roundOf)
        .sorted == (1 to rounds + 1))
      assert(operators.PlanProbe.roundOf("helper:graph.orientedTriangles").isEmpty)
    } finally {
      operators.PlanProbe.enabled = false
      operators.PlanProbe.clear()
    }
  }

  test("bfsHops labels minimal hops and releases intermediate rounds") {
    import spark.implicits._
    val sc = spark.sparkContext
    // undirected path 0-1-2-3-4-5 with shortcut 0-3 (directed both ways)
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (0L, 3L))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val sources = Seq(0L).toDF("node")
    val before = sc.getPersistentRDDs.keySet
    val res = Graph.bfsHops(edges, sources, maxHops = 5)
    val got = res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // shortcut makes 3 a 1-hop node, so 4 is 2 and 5 is 3; 2 stays 2
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L,
      4L -> 2L, 5L -> 3L))
    // storage contract (r20 one-job rounds): only the FINAL round may
    // stay registered, and it must be the blocks the returned
    // relation reads; releaseOf must then free it deterministically
    val own = res.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    val leaked = sc.getPersistentRDDs.keySet -- before
    val foreign = leaked.filterNot(own)
    assert(foreign.isEmpty,
      s"persisted RDDs $foreign survive a 5-round BFS but are not " +
        "blocks the returned relation reads; round releases are not firing")
    assert(leaked.size <= 1,
      s"${leaked.size} persisted RDDs survive a 5-round BFS " +
        "(expected at most the final round)")
    operators.Rounds.releaseOf(res)()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "releaseOf(bfs result) must unpersist the final round")
  }

  // undirected weighted graph: a 0-1-2-3-4-5 path with a heavy 0-3
  // shortcut and a light 2-5 chord, plus a source-free component
  private val weighted: Seq[(Long, Long, Long)] = Seq((0L, 1L, 4L),
    (1L, 2L, 3L), (2L, 3L, 2L), (3L, 4L, 5L), (4L, 5L, 1L), (0L, 3L, 20L),
    (2L, 5L, 1L), (10L, 11L, 1L), (11L, 12L, 1L))

  private def weightedEdges = {
    import spark.implicits._
    Graph.undirected(weighted.toDF("u", "v", "w"), "u", "v", "w")
  }

  /** k synchronous rounds of x(v) = min(x(v), min over neighbors u of
    * step(x(u), w(u,v))) from `init` — the driver-side reference for
    * [[Graph.relax]]. */
  private def bruteRelax(init: Map[Long, Long], k: Int)(
      step: (Long, Long) => Long): Map[Long, Long] = {
    val adj = weighted.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    (1 to k).foldLeft(init) { (x, _) =>
      adj.foldLeft(x) { case (acc, (a, b, w)) =>
        x.get(a).fold(acc) { xa =>
          val o = step(xa, w)
          if (acc.get(b).forall(o < _)) acc.updated(b, o) else acc
        }
      }
    }
  }

  private def nodeValues(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select(col("node"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("relax: bounded SSSP matches Bellman-Ford; only the final round stays persisted") {
    import spark.implicits._
    val sc = spark.sparkContext
    val e = weightedEdges
    val before = sc.getPersistentRDDs.keySet
    for (k <- 1 to 5) {
      val got = Graph.relax(e, Seq((0L, 0L)).toDF("node", "v"), k,
        reliable = false)(_ => col("v") + col("w"))
      val own = got.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.size == 1 && leaked.subsetOf(own),
        s"persisted after a $k-round relax: $leaked, final round: $own")
      assert(nodeValues(got) == bruteRelax(Map(0L -> 0L), k)(_ + _),
        s"$k rounds")
      operators.Rounds.releaseOf(got)()
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    }
  }

  test("relax: k-round min-label propagation matches a driver-side reference") {
    val e = weightedEdges
    val nodes = weighted.flatMap { case (a, b, _) => Seq(a, b) }.distinct
    for (k <- 1 to 4) {
      val got = Graph.relax(e,
        e.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("v")), k,
        reliable = false)(_ => col("v"))
      assert(nodeValues(got) ==
        bruteRelax(nodes.map(n => n -> n).toMap, k)((x, _) => x), s"$k rounds")
      operators.Rounds.releaseOf(got)()
    }
  }

  test("relax: a round that throws releases every round it persisted") {
    import spark.implicits._
    val sc = spark.sparkContext
    val e = weightedEdges
    val before = sc.getPersistentRDDs.keySet
    val err = intercept[Exception] {
      Graph.relax(e, Seq((0L, 0L)).toDF("node", "v"), 5, reliable = false) {
        r => if (r == 2) raise_error(lit("offer failed")) else col("v") + col("w")
      }
    }
    assert(err.getMessage.contains("offer failed"), err.getMessage)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "a failed relax must leave no round persisted")
  }

  test("dense-blocked tier: per-component bitmaps match brute force; gate order pinned") {
    // 3 disjoint copies of the test graph: total nodes exceed the
    // dense gate, every component fits it -> dense-blocked
    val copies = (0 to 2).flatMap(c =>
      testEdges.map { case (u, v) => (u + 100L * c, v + 100L * c) })
    val want = (0 to 2).flatMap(c =>
      bruteCounts(testEdges).filter(_._2 > 0)
        .map { case (n, t) => (n + 100L * c) -> t }).toMap
    val (blocked, p1) = Graph.triangleCountsWithPath(edgeDf(copies),
      denseMaxNodes = 60)
    assert(p1 == "dense-blocked", s"expected dense-blocked, got $p1")
    assert(toMap(blocked) == want)
    spark.catalog.clearCache()
    // a component larger than the gate (the 23-node hub component)
    // forces sparse ...
    assert(Graph.triangleCountsWithPath(edgeDf(copies),
      denseMaxNodes = 10)._2 == "sparse")
    spark.catalog.clearCache()
    // ... and so does an adjacency-table byte cap too small to hold
    // totalNodes x ceil(cmax/64) words
    assert(Graph.triangleCountsWithPath(edgeDf(copies),
      denseMaxNodes = 60, maxAdjBytes = 64L)._2 == "sparse")
    spark.catalog.clearCache()
  }

  test("adaptive gates dispatch by measured size, pinned by name") {
    import spark.implicits._
    // triangles: 4 distinct nodes vs a denseMaxNodes=3 gate
    val square = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L), (0L, 2L))
    assert(Graph.triangleCountsWithPath(edgeDf(square), denseMaxNodes = 3)._2
      == "sparse")
    assert(Graph.triangleCountsWithPath(edgeDf(square), denseMaxNodes = 4)._2
      == "dense")
    // CC: the 5M driver-edge gate, scaled down to 1 edge
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val (ufLabels, m1) = graft.operators.Dedup
      .connectedComponentsWithMethod(pairs, "a", "b", driverEdgeLimit = 2L)
    val (starLabels, m2) = graft.operators.Dedup
      .connectedComponentsWithMethod(pairs, "a", "b", driverEdgeLimit = 1L)
    assert(m1 == "union-find" && m2 == "star-contraction")
    // and both sides of the gate agree on the labeling
    assert(toMap(ufLabels) == toMap(starLabels))
    // non-long keys can never take the driver path
    val strPairs = Seq(("a", "b")).toDF("a", "b")
    assert(graft.operators.Dedup
      .connectedComponentsWithMethod(strPairs, "a", "b")._2 == "star-contraction")
  }

  test("triangle-free graph yields no rows") {
    val star = (1L to 10L).map(x => (0L, x))
    assert(Graph.triangleCounts(edgeDf(star), denseMaxNodes = 1000).count() == 0)
    assert(Graph.orientedTriangles(edgeDf(star)).count() == 0)
  }

  test("persistCounted: one relation materializes, counts, and releases") {
    import spark.implicits._
    import graft.operators.Rounds
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = (0L until 100L).toDF("x")
    Rounds.scoped { scope =>
      // unfiltered count
      val (out, n) = scope.persistCounted(df, reliable = false)
      assert(n == 100L)
      // the checkpoint is materialized: reading it back needs no lineage
      assert(out.agg(sum(col("x"))).head.getLong(0) == 4950L)
      // predicate count matches a separate filter-count, from ONE job
      val (out2, n2) = scope.persistCounted(
        df.select(col("x"), (col("x") % 2).as("r")), reliable = false,
        pred = Some(col("r") === 1L))
      assert(n2 == 50L && out2.count() == 100L)
      // empty relation: pred-count is 0, not a null NPE
      val (out3, n3) = scope.persistCounted(
        df.filter(col("x") < 0L), reliable = false,
        pred = Some(col("x") === 1L))
      assert(n3 == 0L && out3.count() == 0L)
      // release frees one round now; the scope holds the other two
      scope.release(out)
      assert((sc.getPersistentRDDs.keySet -- before).size == 2)
    }
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "the scope must unpersist every round's blocks on exit")
  }

  test("persistCounted: a failing count releases the round it checkpointed") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // the lazy checkpoint is registered before its count runs; the
    // count's own predicate is what fails
    val err = intercept[Exception](operators.Rounds.scoped(_.persistCounted(
      (0L until 100L).toDF("x"), reliable = false,
      pred = Some(when(col("x") === 57L, raise_error(lit("count failed")))
        .otherwise(lit(true))))))
    assert(err.getMessage.contains("count failed"), err.getMessage)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "a failed persistCounted must not leave its round persisted")
  }
}
