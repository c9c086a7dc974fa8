package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact global quantiles WITHOUT a global sort.
  *
  * At 100 TB a `percentile`/`orderBy` global quantile is a full
  * range-partitioned sort of the dataset — the single most expensive
  * shuffle Spark can run. The exact rank-k element can instead be
  * found by histogram refinement: bucket-count the value range (one
  * map-side-combined aggregation, 1024 longs per partition), locate
  * the bucket holding rank k from the driver-side cumulative sum,
  * and recurse into just that bucket. The candidate set shrinks
  * ~1000× per pass, so 100 TB resolves in 2-3 scans of geometrically
  * shrinking subsets, after which the remainder is driver-sortable.
  *
  * Deterministic: bucket assignment is fixed double arithmetic, the
  * refinement filter reuses the identical bucket expression (no
  * boundary float mismatch), and the returned value is the rank-k
  * element of the sorted multiset — unique regardless of tie order.
  * Exactness does not depend on the bucket geometry; buckets only
  * narrow where rank k lives.
  */
object Quantiles {

  /** Monotone-increasing map of IEEE-754 doubles to signed longs
    * (Lucene's sortableDoubleBits): positives keep their bit pattern,
    * negatives flip the low 63 bits. Involution, so it is its own
    * inverse. NaN maps above +Inf — consistent with Spark's
    * NaN-is-largest ordering. */
  private def ordBits(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & 0x7fffffffffffffffL)
  }
  private def fromOrd(o: Long): Double =
    java.lang.Double.longBitsToDouble(o ^ ((o >> 63) & 0x7fffffffffffffffL))

  /** The rank-k (1-based, ascending) element of `valueCol`, nulls
    * ignored. If histogram refinement stalls (mass spanning many
    * binades concentrates in one bucket every pass — possible because
    * the value-space range shrinks only 1024× per pass while doubles
    * span ~600 orders of magnitude), falls back to an exact bit-space
    * binary search: ≤64 count-aggregations over the narrowed cached
    * subset, no collect, no single-partition sort — driver memory
    * stays O(buckets) on every path. */
  def rankElement(df: DataFrame, valueCol: String, k: Long,
      buckets: Int = 1024,
      collectLimit: Long = GateKnobs.quantileCollectLimit): Double = {
    require(k >= 1, s"rank must be >= 1, got $k")
    // `+ 0.0` normalizes -0.0 to 0.0 (identity for every other double,
    // NaN included) so the bit-space fallback — which distinguishes the
    // two zero encodings — agrees with SQL value comparison, where
    // -0.0 == 0.0.
    Rounds.scoped(scope => refineRank(scope,
      scope.cache(df.select((col(valueCol).cast("double") + lit(0.0)).as("v"))
        .filter(col("v").isNotNull)), k, buckets, collectLimit))
  }

  /** [[rankElement]]'s refinement over the cached values `start`,
    * each narrowed subset cached in `scope`. */
  private def refineRank(scope: Rounds.Scope, start: DataFrame, k: Long,
      buckets: Int, collectLimit: Long): Double = {
    var cur = start
    var rank = k
    var iters = 0
    while (iters < GateKnobs.quantileRefineIters) {
      val head = cur.agg(count(lit(1)), min(col("v")), max(col("v"))).head()
      val n = head.getLong(0)
      require(rank <= n, s"rank $rank exceeds non-null count $n")
      val (lo, hi) = (head.getDouble(1), head.getDouble(2))
      if (lo == hi) { TierProbe.record("quantiles.rank", "uniform"); return lo }
      if (n <= collectLimit) {
        val arr = cur.select(col("v")).collect().map(_.getDouble(0))
        java.util.Arrays.sort(arr)
        TierProbe.record("quantiles.rank", "collect")
        return arr((rank - 1).toInt)
      }
      val width = (hi - lo) / buckets
      val bucketExpr = least(
        floor((col("v") - lit(lo)) / lit(width)).cast("int"), lit(buckets - 1))
      val counts = cur.groupBy(bucketExpr.as("b")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      var cum = 0L
      var chosen = -1
      var below = 0L
      var i = 0
      while (i < buckets && chosen < 0) {
        val c = counts.getOrElse(i, 0L)
        if (cum + c >= rank && c > 0) { chosen = i; below = cum }
        cum += c
        i += 1
      }
      require(chosen >= 0, s"rank $rank not covered by bucket counts (total $cum)")
      rank -= below
      val next = scope.cache(cur.filter(bucketExpr === chosen))
      scope.release(cur)
      cur = next
      iters += 1
    }
    // Refinement stalled (adversarial magnitude spread). Previous
    // fallback was a single-partition Window sort — an executor-OOM
    // risk when the stalled subset is still huge. Instead: binary
    // search on the ordered 64-bit double encoding. Invariant: the
    // answer's ord-bits lie in [loB, hiB]; each step one cheap
    // count-aggregation in VALUE space (`<=` on doubles). Converges
    // to the smallest double m with count(v <= m) >= rank, which the
    // discreteness of the double grid guarantees is an attained data
    // value (-0.0 already normalized away above). ≤64 passes, each
    // over the cached narrowed subset.
    TierProbe.record("quantiles.rank", "bitsearch")
    val mm = cur.agg(min(col("v")), max(col("v"))).head()
    var loB = ordBits(mm.getDouble(0))
    var hiB = ordBits(mm.getDouble(1))
    while (loB < hiB) {
      val midB = (loB & hiB) + ((loB ^ hiB) >> 1) // overflow-safe floor midpoint
      val m = fromOrd(midB)
      if (cur.filter(col("v") <= m).count() >= rank) hiB = midB
      else loB = midB + 1
    }
    fromOrd(loB)
  }

  /** (quantile, value) rows for each q: rank = ceil(q·n), the
    * lower-discrete quantile — same rank rule the oracle SQL spells
    * out with ROW_NUMBER. */
  def quantiles(df: DataFrame, valueCol: String, qs: Seq[Double]): DataFrame =
    Rounds.scoped { scope =>
    val spark = df.sparkSession
    import spark.implicits._
    // `+ 0.0` normalizes -0.0 (same contract as rankElement)
    val base = scope.cache(df.select((col(valueCol).cast("double") + lit(0.0)).as("v"))
      .filter(col("v").isNotNull))
    val n = base.count()
    // zero non-null rows ⇒ ceil(q·n) = 0, which is not a rank: the
    // quantile of an empty multiset is no rows, not a crash
    if (n == 0L) Seq.empty[(Double, Double)].toDF("q", "v")
    else if (n <= GateKnobs.quantileCollectLimit) {
      // batched collect tier (r19): every rank reads the SAME sorted
      // array, so a 5-quantile request costs ONE collect instead of
      // five full rankElement cycles (cache + head-aggregate +
      // collect each) — rankElement would have taken this exact
      // collect exit per rank anyway, so the values are identical
      // by construction. The >collectLimit path below is untouched:
      // at scale each rank still refines independently.
      val arr = base.select(col("v")).collect().map(_.getDouble(0))
      java.util.Arrays.sort(arr)
      TierProbe.record("quantiles.rank", "collect")
      qs.map { q =>
        // same rank contract as rankElement's require(1 <= k <= n):
        // an out-of-range q must fail identically on both tiers,
        // not as a bare ArrayIndexOutOfBounds (ADVICE r19)
        val k = math.ceil(q * n).toLong
        require(k >= 1 && k <= n, s"rank k=$k out of range [1, $n] (q=$q)")
        (q, arr((k - 1).toInt))
      }.toDF("q", "v")
    }
    else qs.map { q =>
      val k = math.ceil(q * n).toLong
      (q, rankElement(base, "v", k))
    }.toDF("q", "v")
  }

  /** Weighted rank element: the smallest value v such that the total
    * weight of all rows with value ≤ v reaches `k` — the same
    * histogram-refinement scheme as [[rankElement]] with COUNT
    * replaced by SUM(weight) everywhere (bucket sums, the narrowing
    * walk, the bit-space fallback's cumulative probe). Weights must
    * be non-negative integers (cast to long); zero-weight rows are
    * ignored — they cannot carry rank mass. Driver state stays
    * O(buckets) on every path; the collect fallback triggers on ROW
    * count (weight never inflates driver memory). */
  def weightedRankElement(df: DataFrame, valueCol: String, weightCol: String,
      k: Long, buckets: Int = 1024,
      collectLimit: Long = GateKnobs.quantileCollectLimit): Double = {
    require(k >= 1, s"rank must be >= 1, got $k")
    Rounds.scoped(scope => refineWeightedRank(scope, scope.cache(df
      .select((col(valueCol).cast("double") + lit(0.0)).as("v"),
        col(weightCol).cast("long").as("wt"))
      .filter(col("v").isNotNull && col("wt") > 0)), k, buckets, collectLimit))
  }

  /** [[weightedRankElement]]'s refinement over the cached (v, wt) rows
    * `start`, each narrowed subset cached in `scope`. */
  private def refineWeightedRank(scope: Rounds.Scope, start: DataFrame,
      k: Long, buckets: Int, collectLimit: Long): Double = {
    var cur = start
    var rank = k
    var iters = 0
    while (iters < GateKnobs.quantileRefineIters) {
      val head = cur
        .agg(sum(col("wt")), min(col("v")), max(col("v")), count(lit(1)))
        .head()
      val tw = head.getLong(0)
      require(rank <= tw, s"rank $rank exceeds total weight $tw")
      val (lo, hi) = (head.getDouble(1), head.getDouble(2))
      val nRows = head.getLong(3)
      if (lo == hi) { TierProbe.record("quantiles.weightedRank", "uniform"); return lo }
      if (nRows <= collectLimit) {
        TierProbe.record("quantiles.weightedRank", "collect")
        val arr = cur.select(col("v"), col("wt")).collect()
          .map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1)
        var cum = 0L
        var j = 0
        while (j < arr.length) {
          cum += arr(j)._2
          if (cum >= rank) return arr(j)._1
          j += 1
        }
        throw new IllegalStateException("unreachable: rank <= total weight")
      }
      val width = (hi - lo) / buckets
      val bucketExpr = least(
        floor((col("v") - lit(lo)) / lit(width)).cast("int"), lit(buckets - 1))
      val sums = cur.groupBy(bucketExpr.as("b")).agg(sum(col("wt")).as("c"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      var cum = 0L
      var chosen = -1
      var below = 0L
      var i = 0
      while (i < buckets && chosen < 0) {
        val c = sums.getOrElse(i, 0L)
        if (cum + c >= rank && c > 0) { chosen = i; below = cum }
        cum += c
        i += 1
      }
      require(chosen >= 0, s"rank $rank not covered by bucket sums (total $cum)")
      rank -= below
      val next = scope.cache(cur.filter(bucketExpr === chosen))
      scope.release(cur)
      cur = next
      iters += 1
    }
    // stall fallback: binary search on ordered double bits, one
    // cumulative-weight aggregate per step (≤64 passes)
    TierProbe.record("quantiles.weightedRank", "bitsearch")
    val mm = cur.agg(min(col("v")), max(col("v"))).head()
    var loB = ordBits(mm.getDouble(0))
    var hiB = ordBits(mm.getDouble(1))
    while (loB < hiB) {
      val midB = (loB & hiB) + ((loB ^ hiB) >> 1)
      val m = fromOrd(midB)
      val cw = cur.filter(col("v") <= m)
        .agg(coalesce(sum(col("wt")), lit(0L))).head().getLong(0)
      if (cw >= rank) hiB = midB else loB = midB + 1
    }
    fromOrd(loB)
  }

  /** (q, v) rows for each q at rank = ceil(q · totalWeight) — the
    * weighted lower-discrete quantile, the weight-aware analog of
    * [[quantiles]]. */
  def weightedQuantiles(df: DataFrame, valueCol: String, weightCol: String,
      qs: Seq[Double]): DataFrame = Rounds.scoped { scope =>
    val spark = df.sparkSession
    import spark.implicits._
    val base = scope.cache(df
      .select((col(valueCol).cast("double") + lit(0.0)).as("v"),
        col(weightCol).cast("long").as("wt"))
      .filter(col("v").isNotNull && col("wt") > 0))
    val head = base.agg(coalesce(sum(col("wt")), lit(0L)), count(lit(1)))
      .head()
    val tw = head.getLong(0)
    val nRows = head.getLong(1)
    // zero total weight (empty or all-zero-weight input) ⇒ no rank
    // mass anywhere: emit no rows, mirroring [[quantiles]]
    if (tw == 0L) Seq.empty[(Double, Double)].toDF("q", "v")
    else if (nRows <= GateKnobs.quantileCollectLimit) {
      // batched collect tier — one collect + cumulative walk answers
      // every rank (see [[quantiles]]); identical to the per-rank
      // weightedRankElement collect exit by construction
      val arr = base.select(col("v"), col("wt")).collect()
        .map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1)
      TierProbe.record("quantiles.weightedRank", "collect")
      def at(k: Long): Double = {
        // same rank contract as weightedRankElement's require:
        // k=0 must not silently return the minimum (ADVICE r19)
        require(k >= 1 && k <= tw,
          s"weighted rank k=$k out of range [1, $tw]")
        var cum = 0L
        var j = 0
        while (j < arr.length) {
          cum += arr(j)._2
          if (cum >= k) return arr(j)._1
          j += 1
        }
        throw new IllegalStateException("unreachable: rank <= total weight")
      }
      qs.map(q => (q, at(math.ceil(q * tw).toLong))).toDF("q", "v")
    }
    else qs.map { q =>
      val k = math.ceil(q * tw).toLong
      (q, weightedRankElement(base, "v", "wt", k))
    }.toDF("q", "v")
  }
}
