package graft.tools

import graft.{Queries, SparkEntry, Tuning, Verify}
import graft.operators.TierProbe

/** Adaptive-gate correctness sweep (judge brief r19 #1).
  *
  * Runs the gate-bearing catalog queries at a given SF, dumps each
  * result parquet (Verify's shape, so the standard DuckDB compare
  * scripts work unchanged), and — the part Verify cannot do — PINS
  * which tier each adaptive gate actually selected during the run,
  * via [[graft.operators.TierProbe]]. One JSON line per query:
  *
  * {"query":"q_triangle_count","tiers":{"graph.triangles":["dense"]}}
  *
  * Forcing a non-default tier on the same data = re-run with the
  * [[graft.operators.GateKnobs]] env knob moved (e.g.
  * SPARK_GRAFT_TRI_DENSE_MAX_NODES=1 selects the sparse tier at any
  * SF); the dumped parquet must stay oracle-exact, and the emitted
  * tier line proves the forced tier really ran.
  *
  * Usage: runMain graft.tools.GateSweep <sfDir> <outDir> [q1,q2,...]
  * (default query set = every gate-bearing catalog query). A query's old
  * output is deleted before it runs, so a query that throws leaves no
  * output to referee; the main exits non-zero naming the queries that
  * threw, after writing the rest.
  */
object GateSweep {
  /** Catalog queries that exercise at least one adaptive gate. */
  val GateQueries: Seq[String] = Seq(
    "q_triangle_count", "q_local_clustering", // graph.triangles
    "q_dedup_clusters", "q_cc_size_hist", // dedup.cc
    "q_sim_join_exact", // dedup.exactSimJoin
    "q_containment_join", // dedup.containmentJoin
    "q_itemset_pairs", "q_item_lift", // paircore
    "q_quantile_global", "q_winsorized", // quantiles.rank
    "q_weighted_quantiles") // quantiles.weightedRank

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val queries = Queries.resolve(
      if (args.length > 2) args(2).split(",").toSeq else GateQueries)
    val spark = Tuning.localSession()
    System.err.println(
      s"[gatesweep] datagen_id=${DataGenId.of(sfDir)} dir=$sfDir")
    new java.io.File(outDir).mkdirs()
    val knobs = sys.env.keys.filter(_.startsWith("SPARK_GRAFT")).toSeq.sorted
      .map(k => s""""$k":"${sys.env(k)}"""").mkString("{", ",", "}")
    val hadoopConf = spark.sessionState.newHadoopConf()
    val failed = queries.flatMap { case (name, plan) =>
      val out = new org.apache.hadoop.fs.Path(outDir, name)
      out.getFileSystem(hadoopConf).delete(out, true)
      TierProbe.clear()
      val t0 = System.nanoTime()
      val err =
        try {
          plan(spark, sfDir).coalesce(1).write.parquet(out.toString)
          null
        } catch { case e: Throwable => e.toString.takeWhile(_ != '\n') }
      spark.catalog.clearCache()
      val sec = (System.nanoTime() - t0) / 1e9
      val tiers = TierProbe.byOp.toSeq.sortBy(_._1)
        .map { case (op, ts) =>
          s""""$op":${ts.map(t => s""""$t"""").mkString("[", ",", "]")}"""
        }
        .mkString("{", ",", "}")
      println(s"""{"query":"$name","sec":${f"$sec%.1f"},"tiers":$tiers""" +
        s""","err":${if (err == null) "null" else s""""$err""""}""" +
        s""","knobs":$knobs}""")
      Option(err).map(_ => name)
    }
    // the oracle map, so the standard compare scripts run on this dump
    val names = queries.map(_._1).toSet
    Verify.writeOracleJson(outDir, SparkEntry.oracleSql.view.filterKeys(names).toMap)
    spark.stop()
    if (failed.nonEmpty)
      throw new IllegalStateException(
        s"${failed.size} of ${queries.size} queries failed: ${failed.mkString(", ")}")
  }
}
