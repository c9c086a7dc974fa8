package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph}

/** Data-scale exercise of the graph-family FALLBACK paths — the code
  * designated to carry the engine at 100 TB, which every driver SF
  * keeps behind its adaptive gate (all real-data graphs have ≤ 10k
  * nodes ⇒ dense-bitmap triangles; verified-pair graphs ≪ 5M edges ⇒
  * driver union-find). This sweep generates a ~200k-node / ~10M-edge
  * power-law graph ([[ScaleGen.powerLawEdges]]) so the gates dispatch
  * the SPARSE side naturally, then:
  *
  *  1. times `orientedTriangles` (via the dispatching entry, pinning
  *     path == "sparse"), star-contraction connected components
  *     (pinning method == "star-contraction"), and the capped k-core
  *     peel at data scale;
  *  2. cross-checks both fallbacks against their gated siblings on an
  *     overlapping mid-size operating point (n=8192 graph: dense vs
  *     sparse triangle plans row-identical; n=100k/2M-edge graph:
  *     union-find vs forced star contraction label-identical).
  *
  * One JSON line per step (a hang still leaves the partial record);
  * results land in FIXTURES.md per round.
  */
object GraphScale {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def jline(step: String, sec: Double, extra: String = ""): Unit =
    println(f"""{"step":"$step","sec":$sec%.1f$extra}""")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/testdata-graph")
    val spark = graft.Tuning.localSession()

    // ---- phase 1: the big sparse graph --------------------------------
    val (nNodes, draws) = (200000L, 10500000L)
    val path = s"$dir/graph_sparse.parquet"
    if (!new java.io.File(path).exists()) {
      val (_, tGen) = time {
        ScaleGen.powerLawEdges(spark, nNodes, draws)
          .repartition(32).write.mode("overwrite").parquet(path)
      }
      jline("generate", tGen)
    }
    def edges: DataFrame = spark.read.parquet(path)
    val m = edges.count()
    val n = edges.select(explode(array(col("u"), col("v"))).as("x"))
      .agg(countDistinct(col("x"))).head.getLong(0)
    val maxDeg = edges.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy("x").count().agg(max("count")).head.getLong(0)
    println(s"""{"step":"graph","nodes":$n,"edges":$m,"max_degree":$maxDeg}""")

    // sparse triangles through the dispatching entry
    val ((triNodes, triSum, triPath), tTri) = time {
      val (tri, p) = Graph.triangleCountsWithPath(edges)
      val row = tri.agg(count(lit(1)), sum(col("n_triangles"))).head
      (row.getLong(0), row.getLong(1), p)
    }
    require(triPath == "sparse",
      s"gate must dispatch sparse at n=$n, got $triPath")
    jline("triangles_sparse", tTri,
      s""","path":"$triPath","tri_nodes":$triNodes,"tri_sum":$triSum""")
    spark.catalog.clearCache()

    // star-contraction CC through the dispatching entry (m > 5M gate)
    val ((nComp, ccMethod), tCc) = time {
      val (cc, meth) = Dedup.connectedComponentsWithMethod(edges, "u", "v")
      (cc.select(col("label")).distinct().count(), meth)
    }
    require(ccMethod == "star-contraction",
      s"gate must dispatch star contraction at m=$m, got $ccMethod")
    jline("cc_star", tCc, s""","method":"$ccMethod","components":$nComp""")
    spark.catalog.clearCache()

    // capped k-core peel at data scale: one k that cascades the whole
    // graph away (longest peel), one that leaves a non-trivial core
    Seq(60, 30).foreach { k =>
      val ((coreN, converged, rounds), tCore) = time {
        val (core, c, r) =
          Graph.kcorePeelWithStatus(edges, k, Graph.DefaultMaxRounds)
        (core.count(), c, r)
      }
      jline("kcore_capped", tCore,
        s""","k":$k,"survivors":$coreN,"converged":$converged,"rounds":$rounds""")
      spark.catalog.clearCache()
    }

    // ---- phase 2: gated-vs-fallback cross-checks (mid-size) -----------
    // triangles: n=8192 sits under the dense gate; the sparse plan
    // must produce the identical relation
    val (midTriBad, tXTri) = time {
      val mid = ScaleGen.powerLawEdges(spark, 8192L, 400000L)
        .localCheckpoint(true)
      val (dense, p) = Graph.triangleCountsWithPath(mid)
      require(p == "dense", s"expected dense dispatch at n<=8192, got $p")
      val sparse = Graph.orientedTriangles(mid)
      dense.exceptAll(sparse).count() + sparse.exceptAll(dense).count()
    }
    require(midTriBad == 0, s"dense vs sparse triangle mismatch: $midTriBad rows")
    jline("xcheck_triangles", tXTri, s""","mismatches":$midTriBad""")
    spark.catalog.clearCache()

    // CC: 2M edges sits under the union-find gate; forcing the star
    // path (driverEdgeLimit=0) must produce the identical labeling
    val (ccBad, tXCc) = time {
      val mid = ScaleGen.powerLawEdges(spark, 100000L, 2000000L)
        .localCheckpoint(true)
      val (uf, m1) = Dedup.connectedComponentsWithMethod(mid, "u", "v")
      val (star, m2) = Dedup.connectedComponentsWithMethod(mid, "u", "v",
        driverEdgeLimit = 0L)
      require(m1 == "union-find" && m2 == "star-contraction",
        s"dispatch pins failed: $m1/$m2")
      uf.exceptAll(star).count() + star.exceptAll(uf).count()
    }
    require(ccBad == 0, s"union-find vs star-contraction mismatch: $ccBad rows")
    jline("xcheck_cc", tXCc, s""","mismatches":$ccBad""")
    spark.catalog.clearCache()

    // dense-blocked vs sparse on a DISJOINT-COPIES graph (the sf10
    // supplier-co-occurrence shape that broke the sparse tier): 30
    // key-shifted copies of a 4096-node graph — total n over the dense
    // gate, every component under it -> the gate must pick the blocked
    // bitmap plan, and it must equal the wedge join row-for-row
    val (dbBad, tXDb) = time {
      val copy = ScaleGen.powerLawEdges(spark, 4096L, 200000L)
      val copies = copy
        .crossJoin(broadcast(spark.range(30).select(col("id").as("c"))))
        .select((col("u") + col("c") * 10000L).as("u"),
          (col("v") + col("c") * 10000L).as("v"))
        .localCheckpoint(true)
      val (blocked, p) = Graph.triangleCountsWithPath(copies)
      require(p == "dense-blocked", s"expected dense-blocked, got $p")
      val blockedMat = blocked.localCheckpoint(true)
      spark.catalog.clearCache() // release the blocked tier's builds
      val sparse = Graph.orientedTriangles(copies)
      blockedMat.exceptAll(sparse).count() + sparse.exceptAll(blockedMat).count()
    }
    require(dbBad == 0, s"dense-blocked vs sparse mismatch: $dbBad rows")
    jline("xcheck_dense_blocked", tXDb, s""","mismatches":$dbBad""")

    spark.stop()
  }
}
