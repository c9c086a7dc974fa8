package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-step data generator: replicates a driver testdata directory
  * `factor`× with copy-isolated key remapping, producing the next
  * data decade for scale validation (the driver only ships up to
  * sf0.1; gates like the dense-triangle n≤16384 cutover, broadcast
  * thresholds, and the union-find 5M-edge cap have sf-dependent
  * operating points that only larger data exercises).
  *
  * Design: every surrogate key k becomes k·factor + c for copy
  * c ∈ [0, factor), applied consistently across fact and dimension
  * tables, so referential integrity holds and each copy is a
  * key-isolated subgraph (the same construction TPC-H scaling uses;
  * joins/aggregations see factor× rows with identical per-key
  * cardinalities). The fixed dimensions region/nation are NOT scaled,
  * matching TPC-H. Two content adjustments keep workload *shape*
  * linear instead of degenerate:
  *
  *  - `documents.text`: copies c>0 get every word tagged with `_c`.
  *    Untagged replication would make every doc a factor-clique of
  *    exact/near duplicates, exploding sim-join outputs ~factor²/2
  *    per doc (45 pairs per doc at factor 10) — not a bigger corpus,
  *    a different (pathological) workload. Tagging keeps each
  *    shingle's document frequency unchanged per copy, so Σdf² and
  *    all candidate/output sizes scale exactly linearly.
  *  - `embeddings.embedding`: copies c>0 rotate the vector by c
  *    positions — preserves norms and pairwise structure within a
  *    copy without making every point a factor-fold duplicate (which
  *    would degenerate ANN top-k into tie-breaking among clones).
  *
  * Timestamps are read/written under the session default (NTZ
  * inference on), so the output physical type matches the round-9+
  * driver generation (int64 µs, isAdjustedToUTC=false).
  */
object ScaleGen {

  def scaleTable(spark: SparkSession, name: String, df: DataFrame,
      factor: Int): DataFrame = {
    if (name == "region" || name == "nation") return df
    val copies = spark.range(factor).select(col("id").cast("int").as("c"))
    val crossed = df.crossJoin(broadcast(copies))
    def remap(k: String) = (col(k) * factor + col("c")).as(k)
    val out = name match {
      case "customer" =>
        crossed.select(remap("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"))
      case "supplier" =>
        crossed.select(remap("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"))
      case "part" =>
        crossed.select(remap("p_partkey"), col("p_name"), col("p_brand"),
          col("p_type"), col("p_size"), col("p_retailprice"))
      case "orders" =>
        crossed.select(remap("o_orderkey"), remap("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
      case "lineitem" =>
        crossed.select(remap("l_orderkey"), remap("l_partkey"),
          remap("l_suppkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"),
          col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      case "events" =>
        crossed.select(remap("event_id"), col("ts"), remap("user_id"),
          col("event_type"), col("value"), col("props"))
      case "documents" =>
        val tagged = when(col("c") === 0, col("text")).otherwise(
          concat_ws(" ", transform(split(col("text"), " "),
            w => concat(w, lit("_"), col("c")))))
        crossed.select(remap("doc_id"), tagged.as("text"), col("lang"),
          // length() returns INT; driver data ships n_chars as int64 —
          // cast, or avro encode (schema says long) rejects the column
          col("source"), length(tagged).cast("long").as("n_chars"))
      case "embeddings" =>
        val sz = size(col("embedding"))
        val r = col("c") % sz
        val rotated = when(r === 0, col("embedding")).otherwise(
          concat(slice(col("embedding"), r + 1, sz - r),
            slice(col("embedding"), lit(1), r)))
        crossed.select(remap("vec_id"), rotated.as("embedding"), col("label"))
      case other => sys.error(s"unknown table $other")
    }
    out
  }

  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Adversarial-skew mode (VERDICT r13/r15 brief #7): remap `pct`% of
    * each fact table's hot-path key to ONE value — one order carrying
    * `pct`% of all lineitems, one user carrying `pct`% of all events —
    * the Zipf-head hotspot the 100 TB design point will see, which
    * uniform key-isolated replication can never produce. The hot keys
    * are existing dimension keys (copy 0 of the minimum source key),
    * so referential integrity holds; row selection is a pure hash of
    * stable row identity (deterministic at any partitioning, so the
    * DuckDB oracle sees the identical dataset). Everything else —
    * schema, row counts, FK domains — matches the unskewed generation,
    * so every catalog query still runs and the oracle compare is the
    * same exactness gate, just on adversarial key mass. */
  def skewTable(name: String, df: DataFrame, hotOrder: Long, hotUser: Long,
      pct: Int): DataFrame = name match {
    case "lineitem" =>
      df.withColumn("l_orderkey",
        when(pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
          col("l_suppkey")), lit(100)) < pct, lit(hotOrder))
          .otherwise(col("l_orderkey")))
    case "events" =>
      df.withColumn("user_id",
        when(pmod(xxhash64(col("event_id")), lit(100)) < pct, lit(hotUser))
          .otherwise(col("user_id")))
    case _ => df
  }

  /** Scale every table from srcDir into outDir. Session timezone must
    * be UTC (asserted) — the NTZ→Timestamp normalization below relies
    * on it for instant-preserving casts. `skewPct` > 0 applies
    * [[skewTable]]'s hot-key remap on top. */
  def generate(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int, skewPct: Int = 0): Unit = {
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "ScaleGen.generate requires a UTC session timezone")
    // hot keys for skew mode: copy 0 of each dimension's minimum
    // source key — guaranteed present in the scaled dimension
    val (hotOrder, hotUser) =
      if (skewPct <= 0) (0L, 0L)
      else (spark.read.parquet(s"$srcDir/orders.parquet")
              .agg(min(col("o_orderkey"))).head.getLong(0) * factor,
            spark.read.parquet(s"$srcDir/customer.parquet")
              .agg(min(col("c_custkey"))).head.getLong(0) * factor)
    tables.foreach { t =>
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      val rows = src.count()
      // file count ∝ scaled rows: ~500k rows per file, ≥1
      val parts = math.max(1, (rows * factor / 500000L).toInt)
      val scaled =
        if (skewPct <= 0) scaleTable(spark, t, src, factor)
        else skewTable(t, scaleTable(spark, t, src, factor),
          hotOrder, hotUser, skewPct)
      // The driver's testdata is pyarrow-written: no Spark schema
      // metadata, so readers infer from the parquet physical type and
      // Tables.table's NTZ-inference-off read yields TimestampType.
      // A Spark WRITE embeds the catalyst schema in the footer, which
      // a Spark read then honors VERBATIM — TimestampNTZType would
      // sneak through the loader and break every ts consumer. Cast
      // NTZ → Timestamp (identical micros under the UTC session) so
      // the scaled directory loads exactly like driver data.
      val normalized = scaled.select(scaled.schema.fields.map { f =>
        if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
          col(f.name).cast(org.apache.spark.sql.types.TimestampType).as(f.name)
        else col(f.name)
      }.toSeq: _*)
      normalized
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      // Self-check: the LOADER-visible schema of the scaled directory
      // must equal the driver data's, field for field — this is the
      // contract every catalog query compiles against. (Caught two real
      // drifts already: TIMESTAMP_NTZ via Spark footer metadata, and
      // n_chars narrowing long→int through length().)
      val outSchema = Tables.table(spark, outDir, t).schema
      val srcSchema = Tables.table(spark, srcDir, t).schema
      require(outSchema == srcSchema,
        s"$t: scaled schema drifted from source.\n  src: $srcSchema\n  out: $outSchema")
      println(s"[scalegen] $t: $rows -> ${rows * (if (t == "region" || t == "nation") 1 else factor)} rows, $parts file(s)")
    }
  }

  /** Deterministic sparse power-law graph — the workload the dense-
    * bitmap triangle gate (n ≤ 16384) and the union-find CC gate
    * (≤ 5M driver edges) were built to refuse, so the SPARSE fallback
    * paths ([[operators.Graph.orientedTriangles]], Kiveris star
    * contraction) finally execute on data-scale input instead of toy
    * spec fixtures. Each of `draws` candidate edges picks endpoints
    * floor(n·r²) with r uniform from xxhash64 — the quadratic warp
    * concentrates mass at low ids, giving degree density f(k) ∝
    * k^(−1/2) (hub deg ≈ draws/√(n·k): ~45k at n=200k/draws=10M) —
    * then self-loops drop and (lo,hi) canonicalization + distinct
    * leaves a simple undirected graph of ~0.95·draws edges. Pure
    * projection + one distinct: generates 10M edges in seconds and
    * scales to any size. */
  def powerLawEdges(spark: SparkSession, nNodes: Long, draws: Long,
      seed: Long = 42L): DataFrame = {
    val base = spark.range(draws)
    def endpoint(salt: Int) = {
      val r = (pmod(xxhash64(col("id"), lit(seed), lit(salt)),
        lit(1L << 30)).cast("double") / (1L << 30).toDouble)
      floor(lit(nNodes.toDouble) * r * r).cast("long")
    }
    base.select(endpoint(1).as("a"), endpoint(2).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
  }

  def main(args: Array[String]): Unit = {
    val (srcDir, outDir) = (args(0), args(1))
    val factor = args(2).toInt
    // optional 4th arg: hot-key skew percentage (e.g. 20)
    val skewPct = if (args.length > 3) args(3).toInt else 0
    val spark = graft.Tuning.localSession()
    generate(spark, srcDir, outDir, factor, skewPct)
    // FIXTURES measurement records cite this id so measurements taken
    // on silently-regenerated directories can never supersede each
    // other unnoticed (r16: 199,484- vs 10,000-item hot baskets)
    System.err.println(s"[scalegen] datagen_id=${tools.DataGenId.of(outDir)} " +
      s"dir=$outDir src_datagen_id=${tools.DataGenId.of(srcDir)}")
    spark.stop()
  }
}
