package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spatial operators over 2-D point sets: grid-blocked fixed-radius
  * neighbor join and DBSCAN density clustering built on top of it.
  *
  * The reference engine has no spatial support; this family covers the
  * fixed-radius similarity-join shape (geo "nearby" joins, density
  * clustering, spatial dedup) that a large-scale curation pipeline
  * needs and that naive approaches turn into an O(n²) cross join.
  *
  * Scale shape: candidate generation replicates each point to the 3×3
  * block of grid cells around it and joins on the cell key — the ONLY
  * shuffle is that equi-join, sized ~9·n probe rows against n build
  * rows, and each qualifying pair is produced exactly once (the probe
  * replica in the build point's home cell). Verification is an exact
  * integer L2 test on the joined row; no pair enumeration ever happens
  * outside a cell neighborhood. With the radius chosen so expected
  * per-cell occupancy is O(1) (see [[dynamicEps2]]), output and work
  * are O(n) and the plan survives any scale-up: the cell key
  * partitions uniformly because it is derived from the data's own
  * spread.
  *
  * Determinism: coordinates are scaled to integers ONCE
  * (floor((x+1)·2²⁰) — the +1 shift keeps them positive so integer
  * `div` is the same floor-division in every engine), and all
  * distance tests compare integer squares. The grid cell width is an
  * internal tuning knob (any width ≥ ⌈√eps2⌉ yields the identical
  * result set), so it may be computed with plain doubles without
  * affecting cross-engine exactness.
  */
object Spatial {

  /** Fixed-point scale: 2²⁰ per coordinate unit. */
  val Scale: Long = 1L << 20

  /** Project two embedding dimensions to positive scaled-integer
    * coordinates: xi = floor((x+1)·2²⁰). Embeddings live in
    * (−1, 1), so xi ∈ (0, 2²¹) — always positive, `div` is floor. */
  def scaledPoints(emb: DataFrame, idCol: String = "vec_id"): DataFrame =
    emb.select(col(idCol).as("pid"),
      floor((element_at(col("embedding"), 1).cast("double") + lit(1.0)) * Scale)
        .cast("long").as("xi"),
      floor((element_at(col("embedding"), 2).cast("double") + lit(1.0)) * Scale)
        .cast("long").as("yi"))

  /** Density-invariant squared radius: eps2 = K²/n (integer div).
    * Shrinking the radius with 1/√n keeps the expected neighbor count
    * constant as the point set grows at fixed spread, so pair output
    * stays O(n) at every scale — the knob that makes a fixed-radius
    * join viable at 100 TB. Mirror in oracles as `K*K // n`. */
  def dynamicEps2(k: Long, n: Long): Long = k * k / n

  /** All unordered neighbor pairs (id_a < id_b, d2 ≤ eps2) via grid
    * blocking. Output: (id_a, id_b, d2). */
  def gridNeighborPairs(pts: DataFrame, eps2: Long): DataFrame = {
    // cell width: any integer ≥ √eps2 preserves correctness (a pair
    // within eps is then always within one cell step on each axis);
    // +1 absorbs the sqrt rounding.
    val cellW = math.ceil(math.sqrt(eps2.toDouble)).toLong + 1
    // `div` = integral floor-division on the positive scaled coords —
    // never the Column `/` operator, which is double division
    val build = pts.select(col("pid").as("id_b"), col("xi").as("xb"),
      col("yi").as("yb"),
      expr(s"xi div $cellW").as("cx"), expr(s"yi div $cellW").as("cy"))
    val probe = pts
      .select(col("pid").as("id_a"), col("xi").as("xa"), col("yi").as("ya"),
        explode(sequence(lit(-1L), lit(1L))).as("dx"),
        expr(s"xi div $cellW").as("cx0"), expr(s"yi div $cellW").as("cy0"))
      .select(col("id_a"), col("xa"), col("ya"),
        (col("cx0") + col("dx")).as("cx"),
        explode(sequence(col("cy0") - 1, col("cy0") + 1)).as("cy"))
    probe.join(build, Seq("cx", "cy"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("d2",
        (col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")))
      .filter(col("d2") <= eps2)
      .select(col("id_a"), col("id_b"), col("d2"))
  }

  /** DBSCAN over the scaled point set: a point is CORE when it has at
    * least `minPts` neighbors within eps (self excluded); clusters are
    * the connected components of the core–core neighbor graph (labels
    * via [[Dedup.connectedComponents]], rep = component-min id);
    * non-core points with ≥1 core neighbor join the MINIMUM core
    * neighbor's cluster as BORDER (the deterministic variant of
    * DBSCAN's order-dependent border rule); everything else is noise.
    *
    * Returns one row per clustered point: (pid, role, cluster_rep)
    * with role ∈ {"core","border"}. Noise points are absent.
    *
    * Scale shape: on top of the O(n) pair relation this is one degree
    * aggregate, one CC run over the (much smaller) core–core edge set,
    * and two semi/equi joins — every shuffle keyed on point id. */
  def dbscan(pts: DataFrame, eps2: Long, minPts: Long): DataFrame =
    Rounds.scoped { scope =>
    val pairs = scope.cache(gridNeighborPairs(pts, eps2)
      .select(col("id_a"), col("id_b")))
    val sym = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val core = deg.filter(col("deg") >= minPts).select(col("u").as("cid"))
    // core–core edges, plus a self-pair per core so isolated cores
    // still surface as singleton clusters (CC keeps self-pair nodes)
    val coreEdges = pairs
      .join(core.withColumnRenamed("cid", "id_a"), Seq("id_a"), "left_semi")
      .join(core.withColumnRenamed("cid", "id_b"), Seq("id_b"), "left_semi")
      .select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(core.select(col("cid").as("a"), col("cid").as("b")))
    val cc = Dedup.connectedComponents(coreEdges, "a", "b")
    val labels = cc.select(col("node").as("pid"), col("label").as("cluster_rep"))
    val coreRows = labels.withColumn("role", lit("core"))
    // border: non-core endpoint adjacent to a core endpoint; cluster =
    // min over its core neighbors' reps (deterministic)
    val borderRows = sym
      .join(core.withColumnRenamed("cid", "v"), Seq("v"), "left_semi")
      .join(core.withColumnRenamed("cid", "u"), Seq("u"), "left_anti")
      .join(labels.select(col("pid").as("v"), col("cluster_rep")), Seq("v"))
      .groupBy(col("u")).agg(min(col("cluster_rep")).as("cluster_rep"))
      .select(col("u").as("pid"), col("cluster_rep"))
      .withColumn("role", lit("border"))
    // eager point-sized result; the scope then frees the pair cache
    // AND the CC label round (labels fed the eager compute; only the
    // returned result's own blocks remain — the Rounds contract)
    scope.persist(PlanProbe.record("helper:spatial.dbscan",
      coreRows.unionByName(borderRows)
        .select(col("pid"), col("role"), col("cluster_rep"))))
  }
}
