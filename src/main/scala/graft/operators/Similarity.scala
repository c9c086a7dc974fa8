package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns.
  *
  * Determinism design: embeddings are quantized to integers
  * (floor(x*1000)), so dot products and norms are exact integer sums —
  * associative, partition-order-independent, and bit-identical across
  * engines; cosine is then a fixed sequence of IEEE double ops.
  *
  * Scale design: brute-force top-k broadcasts the (small) query set
  * against the full vector table — one pass, no shuffle of the big
  * side, ranked with a per-query window. The LSH variant buckets
  * vectors by random-hyperplane signs (±1 hyperplanes ⇒ integer dots)
  * so candidate generation becomes an equi-join on the bucket key.
  */
object Similarity {

  /** transform(embedding, x -> floor(double(x) * 1000)) as bigint. */
  val quantizeExpr: String =
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  /** vectors + qv (quantized) + norm2 (exact integer). */
  def quantized(vectors: DataFrame): DataFrame =
    vectors.withColumn("qv", expr(quantizeExpr))
      .withColumn("norm2", graft.functions.VectorOps.dot_long(col("qv"), col("qv")))

  /** Exact integer dot product of two quantized vectors (codegen'd
    * fused loop — see functions.DotLongExpr). */
  def dotExpr(a: String, b: String): Column =
    graft.functions.VectorOps.dot_long(col(a), col(b))

  /** cosine from exact integer dot + norms (deterministic doubles). */
  def cosine(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** Deterministic ±1 hyperplanes: component d of plane i is +1 iff
    * the first hex digit of md5("i:d") is even. Constants — generated
    * once on the driver, inlined into the plan (and into the oracle
    * SQL as literals). */
  def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Int]] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { i =>
      (0 until dim).map { d =>
        md.reset()
        val h = md.digest(s"$i:$d".getBytes(StandardCharsets.UTF_8))
        if (((h(0) >> 4) & 1) == 0) 1 else -1
      }
    }
  }

  /** df(qv) + exploded (band_idx, band_key) rows: banded
    * random-hyperplane LSH. Planes are grouped into bands of
    * `bandSize`; a band's key is the sign-bit integer of its planes'
    * dots (exact — integer dots on the quantized vector). Pairs that
    * agree on ANY band become near-dup candidates, so recall rises
    * with the number of bands while each band key stays selective.
    * All keys come from ONE fused [[graft.functions.BandKeysExpr]]
    * (the plane matrix is a single referenced constant, not
    * per-plane array literals — at 192 planes the literal form costs
    * seconds of analysis/codegen per query). Output column names
    * match [[Dedup.lshCandidatePairs]] so the candidate join is
    * shared with the MinHash pipeline. */
  def withHyperplaneBands(df: DataFrame, planes: Seq[Seq[Int]], bandSize: Int): DataFrame =
    df.withColumn("bk", graft.functions.VectorOps.band_keys(col("qv"), planes, bandSize))
      .select(col("*"), posexplode(col("bk")).as(Seq("band_idx", "band_key")))
      .drop("bk")

  /** IVF-style cell assignment: every vector goes to its nearest
    * centroid by quantized cosine (broadcast centroids, windowed
    * argmax with centroid-id tie-break). `centroids` must carry
    * (cent_id, cv, cn). A real deployment trains centroids with
    * k-means; any deterministic centroid set works for the index
    * structure itself — searches shuffle only on cent_id. */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = vectors.crossJoin(broadcast(centroids))
      .withColumn("cent_cos", cosine(
        graft.functions.VectorOps.dot_long(col("qv"), col("cv")),
        col("norm2"), col("cn")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cent_cos").desc, col("cent_id"))
    scored.withColumn("cell_rank", row_number().over(w))
      .filter(col("cell_rank") <= nprobe)
      .select(col("vec_id"), col("qv"), col("norm2"), col("cent_id"), col("cell_rank"))
  }

  /** Brute-force cosine top-k: broadcast queries × vectors, windowed
    * rank per query with (cos desc, neighbor id) tie-break. */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = quantized(vectors).select(col("vec_id").as("neighbor_id"),
      col("qv").as("qb"), col("norm2").as("nb"))
    val q = quantized(queries).select(col("vec_id").as("query_id"),
      col("qv").as("qa"), col("norm2").as("na"))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", cosine(dotExpr("qa", "qb"), col("na"), col("nb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("cos_sim"))
  }
}
