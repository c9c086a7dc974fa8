package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 gets one
  * `Queries.catalog` entry: its Spark plan (`queries`) and its oracle
  * (`oracleSql`, DuckDB SQL over the same parquet tables).
  *
  * Determinism rules used throughout so the driver's hash-compare is
  * stable across engines and partition orders:
  *  - monetary/double aggregates are computed in DECIMAL(18,2) (exact,
  *    associative) and cast to DOUBLE only for the final representation;
  *  - every query ends in an ORDER BY over a unique key;
  *  - column names are aliased identically on both sides.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The full subscription pipeline (route → filter → mask →
    * path → canonical hash → sync gate) is the engine's core. */
  def entry(spark: SparkSession): DataFrame =
    Queries.qPipelineE2e(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = Queries.oracles
}

/** The query catalog. Kept separate from the driver contract so
  * operators/ sources/ functions/ modules can register here without
  * touching the entry point. */
object Queries {
  import graft.functions.GraftFunctions._
  import graft.operators._

  private val dec = DecimalType(18, 2)

  /** A persisting query's closing move: record the real final plan
    * for the plan guard ([[operators.PlanProbe]] — the returned
    * relation is a bare LogicalRDD the guard could not otherwise see
    * through) and materialize it eagerly, so the query's scope can
    * free its intermediates. The result's blocks pass to the
    * enclosing scope, or to the caller ([[operators.Rounds.scoped]]). */
  private def materializeFinal(name: String, df: DataFrame): DataFrame =
    Rounds.scoped(_.persist(operators.PlanProbe.record(name, df)))

  /** Per-JVM scratch root for queries that materialize side artifacts
    * (CSV/ORC/JSON round-trips, MV summaries, partitioned/bucketed
    * layouts): ONE root per process with one subdir per tag, so
    * repeated invocations (bench runs a warm-up pass plus two
    * measured passes) overwrite in place instead of accumulating a
    * fresh temp dir per call; the whole root is deleted on JVM exit. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-scratch")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(p.toFile)
    }
    p
  }

  /** Stable per-tag scratch dir (create-if-missing). Safe for
    * `mode("overwrite")` writers; APPEND writers must clean first
    * (use [[freshScratchDir]]). */
  private def scratchDir(tag: String): String = {
    val d = scratchRoot.resolve(tag)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  /** Scratch dir emptied before use — for queries that build a layout
    * with `mode("append")`, where reuse would double the data. */
  private def freshScratchDir(tag: String): String = {
    val d = new java.io.File(scratchDir(tag))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    Option(d.listFiles).foreach(_.foreach(rm))
    d.toString
  }

  /** Per-JVM suffix for names registered in the session catalog
    * (bucketed tables): stable within a process — reuse + overwrite —
    * but distinct across concurrent sessions sharing a metastore
    * path, so two runs cannot collide on a fixed global name. */
  private lazy val tableSuffix: String =
    java.lang.ProcessHandle.current.pid.toString

  /** TPC-H Q1-style pricing summary: hash aggregate with map-side
    * partial aggregation; no shuffle beyond the single groupBy. */
  /** Default params reproduce the catalog entry bit-for-bit
    * (PerturbSpec pins this); non-default values are driven by
    * [[graft.tools.Perturb]]'s metamorphic variants — same body, same
    * code path, perturbed constants/shape. */
  def q1Agg(s: SparkSession, dir: String,
      keys: Seq[String] = Seq("l_returnflag", "l_linestatus"),
      maxQty: Option[Double] = None): DataFrame = {
    val li = Tables.lineitem(s, dir)
    maxQty.fold(li)(q => li.filter(col("l_quantity") <= q))
      .groupBy(keys.map(col): _*)
      .agg(
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice").cast(dec) * (lit(1) - col("l_discount").cast(dec))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(keys.map(col): _*)
  }

  /** A4/A6 — JSONPath membership filter over the events stream table:
    * props is a raw JSON string; get_json_object stays in codegen and
    * the event_type predicate pushes into the parquet scan. */
  def qFilterJsonpath(s: SparkSession, dir: String,
      types: Seq[String] = Seq("purchase", "click"),
      ks: Seq[String] = Seq("1", "2", "3"),
      jsonFirst: Boolean = false): DataFrame = {
    val ev = Tables.events(s, dir)
    // jsonFirst swaps the filter application order (metamorphic:
    // semantics-preserving; predicate pushdown must make them equal)
    val filtered =
      if (jsonFirst) Filters.fieldPathFilter(
        Filters.jsonPathFilter(ev, col("props"), "$.k", ks),
        "event_type", types)
      else Filters.jsonPathFilter(
        Filters.fieldPathFilter(ev, "event_type", types),
        col("props"), "$.k", ks)
    filtered
      .select(col("event_id"), col("event_type"),
              get_json_object(col("props"), "$.k").as("k"))
      .orderBy(col("event_id"))
  }

  /** A4 deep — the full jsonpath-ng filter subset (wildcards, indexes,
    * bracketed predicates, recursive descent) over a nested document
    * built deterministically from `events`: items = 1-3 line structs,
    * meta.user carries id/vip. Each flag is a JSONPath membership
    * filter compiled to pure Catalyst expressions (functions.JsonPath);
    * the oracle mirrors the same semantics with DuckDB list lambdas. */
  def qFilterJsonpathDeep(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.JsonPath
    val doc = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .withColumn("items", expr(
        "transform(sequence(0, CAST(event_id % 3 AS INT)), i -> " +
          "named_struct('id', CAST(i AS BIGINT), " +
          "'amount', CAST((event_id % 97) * (i + 1) AS BIGINT)))"))
      .withColumn("meta", struct(
        struct(col("user_id").as("id"), (col("user_id") % 7 === 0).as("vip")).as("user"),
        col("event_type").as("kind")))
    val schema = doc.schema
    doc.select(
      col("event_id"),
      JsonPath.passPredicate(schema, "$.meta.user.id", (1 to 9).map(_.toString)).as("f_dotted"),
      JsonPath.passPredicate(schema, "$.items[*].amount", Seq("96", "192")).as("f_wild"),
      JsonPath.passPredicate(schema, "$.items[1].amount", Seq("48", "96")).as("f_index"),
      JsonPath.passPredicate(schema, "$.items[?(@.amount > 150)].id", Seq("1", "2")).as("f_pred"),
      JsonPath.passPredicate(schema, "$..id", Seq("2")).as("f_rec"),
      JsonPath.passPredicate(schema, "$.meta.user.vip", Seq("true")).as("f_vip"))
      .orderBy(col("event_id"))
  }

  /** A5 — classification masking: source=confidential, n_chars=secret;
    * emit level public ⇒ both pruned out of the scan entirely. */
  def qMaskProject(s: SparkSession, dir: String): DataFrame = {
    val annotated = Masking.annotate(Tables.documents(s, dir),
      Map("source" -> "confidential", "n_chars" -> "secret",
          "text" -> "public", "lang" -> "public"))
    Masking.maskColumns(annotated, emitLevel = "public")
      .orderBy(col("doc_id"))
  }

  /** A2/A3/A7/A8 — topic routing: tenant strip, first-match glob
    * routing (sorted by sub id), target-path templating. */
  def qRouteTopics(s: SparkSession, dir: String): DataFrame = {
    val subs = Seq(
      SubscriptionRoute("sub-01", "purchase", "_aether/entities/{topic}"),
      SubscriptionRoute("sub-02", "click", "_aether/clicks/{topic}"),
      SubscriptionRoute("sub-03", "*", "_aether/all/{topic}"))
    val ev = Tables.events(s, dir)
      .withColumn("kafka_topic", concat(lit("tnant."), col("event_type")))
    Routing.route(ev, col("kafka_topic"), "tnant", subs)
      .select(col("event_id"), col("topic"), col("sub_id"), col("target_path"))
      .orderBy(col("event_id"))
  }

  /** A11 — canonical-hash (Python json.dumps(sort_keys=True) → md5[:16])
    * of each document's JSON-shaped fields. */
  def qHashCanonical(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        canonical_hash(struct(col("doc_id"), col("lang"), col("source")))
          .as("doc_hash"))
      .orderBy(col("doc_id"))

  /** A1 — binary Avro payload decode (the reference's actual Kafka
    * input shape, artifacts.py:270-272): documents are Avro-encoded
    * into a binary `value` column (nested record + array fields), then
    * decoded back through the from_avro-equivalent expression and
    * projected. The oracle reads the same fields straight from parquet,
    * so any encode/decode value corruption breaks the hash match. */
  def qAvroDecode(s: SparkSession, dir: String): DataFrame = {
    val schemaJson =
      """{"type":"record","name":"Doc","fields":[
        |  {"name":"id","type":"long"},
        |  {"name":"text","type":["null","string"]},
        |  {"name":"lang","type":["null","string"]},
        |  {"name":"source","type":["null","string"],"@aether_masking":"confidential"},
        |  {"name":"meta","type":{"type":"record","name":"Meta","fields":[
        |    {"name":"n_chars","type":"long"},
        |    {"name":"words","type":["null",{"type":"array","items":"string"}]}]}}
        |]}""".stripMargin
    val encoded = Tables.documents(s, dir).select(
      concat(lit("tnant."), col("lang")).as("kafka_topic"),
      graft.functions.AvroColumns.avro_encode(struct(
        col("doc_id").as("id"), col("text"), col("lang"), col("source"),
        struct(col("n_chars"), split(col("text"), " ").as("words")).as("meta")),
        schemaJson).as("value"))
    graft.streaming.Pipeline.decodeAvro(encoded, schemaJson)
      .select(col("id").as("doc_id"), col("lang"), col("source"),
        col("meta").getField("n_chars").as("n_chars"),
        size(col("meta").getField("words")).cast("long").as("n_words"),
        substring(col("text"), 1, 40).as("prefix"))
      .orderBy(col("doc_id"))
  }

  /** A10–A13 — SYNC-mode change detection: left-anti join of the
    * incoming batch against the hash store on (id, hash). Store rows:
    * doc_id%3==0 current hash (unchanged ⇒ dropped), %3==1 stale hash
    * (changed ⇒ kept), %3==2 absent (new ⇒ kept). */
  def qSyncAntijoin(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val hashed = docs.select(col("doc_id"),
      canonical_hash(struct(col("doc_id"), col("lang"), col("source"))).as("doc_hash"))
    val store = hashed.filter(col("doc_id") % 3 < 2)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, col("doc_hash"))
          .otherwise(substring(md5(concat(lit("stale-"), col("doc_id").cast("string"))), 1, 16))
          .as("doc_hash"))
    SyncGate.needsUpdate(hashed, store, Seq("doc_id", "doc_hash"))
      .orderBy(col("doc_id"))
  }

  /** Multi-way join: orders⨝customer shuffle on custkey (both sides
    * large at scale), nation/region broadcast (small dims). */
  def qJoinBroadcast(s: SparkSession, dir: String,
      swapSides: Boolean = false,
      regionFilter: Option[String] = None): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r0 = Tables.region(s, dir)
    val r = regionFilter.fold(r0)(name => r0.filter(col("r_name") === name))
    // swapSides flips the fact/dim probe direction (metamorphic:
    // semantics-preserving for inner joins)
    val joined =
      if (swapSides) c.join(o, o("o_custkey") === c("c_custkey"))
      else o.join(c, o("o_custkey") === c("c_custkey"))
    joined
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Large-large shuffle join lineitem⨝orders with pre-join filter
    * pushed to both scans. */
  def qJoinShuffle(s: SparkSession, dir: String,
      minDiscount: Double = 0.02, statusNot: String = "F",
      filterAfterJoin: Boolean = false): DataFrame = {
    val li0 = Tables.lineitem(s, dir)
    val o0 = Tables.orders(s, dir)
    // filterAfterJoin states the predicates ABOVE the join instead of
    // on the scans (metamorphic: Catalyst must push them back down)
    val joined =
      if (filterAfterJoin)
        li0.join(o0, li0("l_orderkey") === o0("o_orderkey"))
          .filter(col("l_discount") > minDiscount &&
            col("o_orderstatus") =!= statusNot)
      else {
        val li = li0.filter(col("l_discount") > minDiscount)
        val o = o0.filter(col("o_orderstatus") =!= statusNot)
        li.join(o, li("l_orderkey") === o("o_orderkey"))
      }
    joined
      .groupBy(col("o_orderpriority"))
      .agg(sum((col("l_extendedprice").cast(dec) * (lit(1) - col("l_discount").cast(dec))))
             .cast("double").as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("o_orderpriority"))
  }

  /** Top-k vocabulary coverage: what fraction of token occurrences a
    * 1000-type vocabulary captures — the tokenizer-budget metric for
    * corpus curation. Coverage reported in ppm via integer division
    * (exact cross-engine). One shuffle on token; the top-k is a
    * TakeOrdered (per-partition heaps, k rows to the driver side of
    * the exchange) — an earlier form ranked via `row_number() OVER
    * (ORDER BY c DESC)`, which single-partitions the ENTIRE distinct-
    * type relation (billions of types at corpus scale); both scalar
    * branches reuse the one token-count exchange, and the final
    * combine is a 1-row×1-row broadcast cross. */
  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val k = 1000
    val counts = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val covered = counts.orderBy(col("c").desc, col("tok")).limit(k)
      .agg(sum(col("c")).as("covered"))
    counts.agg(sum(col("c")).as("total"), count(lit(1)).as("n_types"))
      .crossJoin(broadcast(covered))
      .select(lit(k.toLong).as("k"), col("covered"), col("total"), col("n_types"),
        expr("(covered * 1000000) div total").as("coverage_ppm"))
  }

  /** Corpus bigram-LM familiarity score — the in-plan stand-in for
    * model-based quality/perplexity filtering: train the LM (bigram
    * conditional frequencies) over the WHOLE corpus and score every
    * document by its mean conditional probability, all in one
    * distributed plan, no model artifact. All arithmetic is integer
    * ppm (exact in both engines): cond_ppm(w1,w2) = 1e6·C(w1,w2) div
    * C(w1·), familiarity = mean over the doc's bigram occurrences.
    * Scale shape: the bigram relation is |tokens|-sized; counts are
    * map-side-combined groupBys, and the count lookups are equi-joins
    * on (w1,w2)/(w1) — Zipf-skewed keys are exactly what AQE skew
    * splitting (on) handles. No driver state, no vocabulary cap. */
  def qNgramLmScore(s: SparkSession, dir: String): DataFrame = {
    // fused 2-word windows (an interpreted struct-building transform
    // before); the window string splits back into (w1, w2) with
    // codegen'd substring_index — tokens are split on spaces so the
    // single interior space is unambiguous
    val bigrams = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.Shingles.wordWindows(col("text"), 2)).as("bg"))
      .select(col("doc_id"), substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
      .cache() // feeds the count model AND the scoring join
    val bigCnt = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_bg"))
    val prefCnt = bigCnt.groupBy(col("w1")).agg(sum(col("c_bg")).as("c_pref"))
    bigrams
      .join(bigCnt, Seq("w1", "w2")).join(prefCnt, Seq("w1"))
      .withColumn("cond_ppm", expr("(c_bg * 1000000) div c_pref"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
           expr("sum(cond_ppm) div count(1)").as("familiarity_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Exact duplicated-span detection — the windowed-hash form of
    * suffix-array substring dedup (the "exact substring" pass of
    * training-data dedup pipelines): hash every 8-token window,
    * a window is duplicated iff its hash occurs in ≥ 2 distinct
    * docs, report per-doc duplicated-window fraction in ppm. The
    * explode factor is |tokens| (same as any shingling pass); the
    * only shuffles are the window-hash groupBy and the doc_id
    * re-aggregation — no pairwise comparison ever happens, so the
    * cost is linear in corpus size, not quadratic in duplicates. */
  def qDupSpans(s: SparkSession, dir: String): DataFrame = {
    val W = 8
    // the window relation feeds both the dup-set aggregate and the
    // per-doc rollup — cache it so the windowed explode runs once.
    // The fused wordWindows expression replaces an interpreted
    // md5-in-transform lambda; the RAW span string is the dedup key
    // (the output never exposes it, and no hash means no hash cost —
    // at cluster scale a fixed-width span digest would shrink the
    // shuffle, the one tradeoff of this form)
    val wins = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.Shingles.wordWindows(col("text"), W)).as("h"))
      .cache()
    val dup = wins.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"), lit(1L).as("is_dup"))
    wins.join(dup, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
           sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"),
           expr("(sum(coalesce(is_dup, 0)) * 1000000) div count(1)").as("dup_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Time-series downsampling to OHLC bars: per (event_type, hour)
    * the opening/closing value (first/last by deterministic
    * (t, event_id) order via min/max over a struct — lexicographic
    * struct ordering gives arg-min/arg-max WITH a tie-break, no
    * window sort needed) plus high/low/volume. One hash aggregate,
    * map-side combined; the classic resample at any scale. */
  def qOhlcBars(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000 * 1000
    Tables.events(s, dir)
      .select(col("event_type"), expr("ts div 1000").as("t"), col("event_id"),
        col("value"))
      .withColumn("hour", expr(s"t div $hourUs"))
      .groupBy(col("event_type"), col("hour"))
      .agg(
        min(struct(col("t"), col("event_id"), col("value"))).getField("value").as("open"),
        max(struct(col("t"), col("event_id"), col("value"))).getField("value").as("close"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        count(lit(1)).as("volume"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Z-order data layout + zone-map audit — the file-skipping story
    * at 100 TB: interleave the bits of two 16-bit-quantized dimensions
    * (part, supplier) into a Morton z-value, bucket rows by fixed
    * z-range into "files", and emit each file's zone map (count +
    * per-dimension min/max). Because z-locality bounds BOTH dims
    * within a bucket, a predicate on either dimension can skip most
    * files — unlike a layout sorted on one dim only. The z-value is
    * pure integer div/mod arithmetic (no engine bit operators), so
    * the SAME generated formula runs in the Spark plan and in the
    * DuckDB oracle; the whole query is projection + one hash
    * aggregate — no global sort, no window, nothing that single-
    * threads at scale (a real writer would repartitionByRange on z;
    * the zone-map math is identical). */
  def qZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select((col("l_partkey") % ZorderSql.DimMod).as("px"),
        (col("l_suppkey") % ZorderSql.DimMod).as("sx"))
      .withColumn("z", expr(ZorderSql.zExpr("px", "sx", spark = true)))
    li.withColumn("fid", expr(s"z div ${ZorderSql.FileZRange}"))
      .groupBy(col("fid"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("px")).as("min_p"), max(col("px")).as("max_p"),
        min(col("sx")).as("min_s"), max(col("sx")).as("max_s"))
      .orderBy(col("fid"))
  }

  /** Small-file compaction planning — the table-maintenance operator
    * every 100 TB table needs: given a file inventory (simulated here
    * as one file per (event_type, day) with size = row count), pack
    * consecutive files into output groups of ~target size with the
    * streaming first-fit rule bin = floor(cumulative_bytes_before /
    * target). One partitioned window (cumsum per event_type — no
    * global sort) and one hash aggregate; the plan shape is exactly
    * what a metadata-scale compactor runs, where "rows" are file
    * manifest entries, millions of them at most. */
  def qCompactionPlan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayUs = 86400L * 1000 * 1000
    val target = 500L
    val files = Tables.events(s, dir)
      .select(col("event_type"), expr(s"(ts div 1000) div $dayUs").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("bytes"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_before div $target"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("total_bytes"),
        min(col("day")).as("min_day"), max(col("day")).as("max_day"))
      .orderBy(col("event_type"), col("bin"))
  }

  /** Exact 2D skyline (Pareto frontier) of users by (total spend in
    * integer cents, event count): a user is on the frontier iff no
    * other user is ≥ on both dims and > on at least one. Two-stage
    * exact algorithm with the scale story built in:
    *  1. bucket users by x-range and take each bucket's LOCAL skyline
    *     with a partitioned range-window (suffix max of y over larger
    *     x) — fully parallel, and any point dominated within its own
    *     bucket is dominated globally, so survivors are a sliver;
    *  2. the same window UNPARTITIONED over the sliver gives the
    *     exact global frontier.
    * The oracle is the O(n²) NOT EXISTS dominance test — the window
    * algorithm must reproduce it exactly, ties and duplicates
    * included (identical points don't dominate each other: both
    * survive). */
  def qSkyline2d(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg((sum(col("value").cast(dec)) * 100).cast("bigint").as("x"),
        count(lit(1)).as("y"))
    def skyline(df: DataFrame, bucketed: Boolean): DataFrame = {
      val part = if (bucketed) Seq(col("xb")) else Seq.empty
      val wGt = Window.partitionBy(part: _*).orderBy(col("x"))
        .rangeBetween(1L, Window.unboundedFollowing)
      val wEq = Window.partitionBy(part :+ col("x"): _*)
      df.withColumn("max_y_gt", max(col("y")).over(wGt))
        .withColumn("max_y_eq", max(col("y")).over(wEq))
        .filter((col("max_y_gt").isNull || col("max_y_gt") < col("y")) &&
          col("y") === col("max_y_eq"))
        .drop("max_y_gt", "max_y_eq")
    }
    val local = skyline(pts.withColumn("xb", expr("x div 100000")), bucketed = true)
    skyline(local.drop("xb"), bucketed = false)
      .orderBy(col("user_id"))
  }

  /** CDC changelog → SCD2 dimension: treat the event stream as an
    * ordered changelog per user (op = D when value < 5, else U) and
    * build type-2 slowly-changing rows — each upsert becomes a
    * version valid from its own timestamp until the NEXT change of
    * any kind (a delete closes the open version without emitting
    * one), open-ended versions flagged current. One partitioned
    * window (lead over the per-key changelog) — the merge pattern
    * every incremental 100 TB ingest pipeline runs, with no
    * driver-side state and a single shuffle on the key. */
  def qCdcScd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("t"), col("event_id"),
        col("value"), when(col("value") < 5, "D").otherwise("U").as("op"))
      .withColumn("valid_to", lead(col("t"), 1).over(w))
      .filter(col("op") === "U")
      .select(col("user_id"), col("event_id"), col("t").as("valid_from"),
        col("valid_to"), col("value").as("val"),
        col("valid_to").isNull.as("is_current"))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
  }

  /** Transparent materialized-view rewrite (exact match): the pricing
    * rollup is materialized once as a summary parquet; the SAME
    * logical aggregate, planned through
    * [[graft.plans.MaterializedViewRule]] on an isolated child
    * session, is rewritten by the optimizer to scan the summary
    * instead of the fact table — the repeated-dashboard-query pattern
    * that turns a 100 TB fact scan into a kilobyte summary read. The
    * oracle computes the same rollup from scratch: the rewrite must
    * be value-invisible (MaterializedViewSpec asserts the plan
    * actually reads the MV and contains no Aggregate). */
  def qMvRewrite(s: SparkSession, dir: String): DataFrame = {
    val mvs = graft.plans.MaterializedView.sessionWith(s)
    def define(ss: SparkSession): DataFrame = Tables.lineitem(ss, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_price"),
        count(lit(1)).as("n_rows"))
    val path = scratchDir("mv-pricing")
    graft.plans.MaterializedView.register(mvs, "mv_pricing", define(mvs), path)
    define(mvs).orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Materialized-view ROLL-UP rewrite: a fine (returnflag,
    * linestatus) cube is materialized; the catalog query then groups
    * by returnflag only — the optimizer re-aggregates the summary
    * (sum→sum of sums, count→sum of counts, min/max→min/max) instead
    * of re-scanning the fact table. This is the decisive MV case at
    * 100 TB: one cube answers every coarser slice. All measures ride
    * integer cents (exact decimal quantization) so the roll-up
    * arithmetic is bit-identical to the oracle's from-scratch
    * aggregate. MaterializedViewSpec asserts the plan actually
    * targets the summary. */
  def qMvRollup(s: SparkSession, dir: String): DataFrame = {
    val mvs = graft.plans.MaterializedView.sessionWith(s)
    def qc = (col("l_quantity").cast(dec) * 100).cast("long")
    def pc = (col("l_extendedprice").cast(dec) * 100).cast("long")
    def fine(ss: SparkSession): DataFrame = Tables.lineitem(ss, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(qc).as("sqc"), count(lit(1)).as("n"),
        min(pc).as("mnp"), max(pc).as("mxp"))
    val path = scratchDir("mv-fine")
    graft.plans.MaterializedView.register(mvs, "mv_fine", fine(mvs), path)
    Tables.lineitem(mvs, dir)
      .groupBy(col("l_returnflag"))
      .agg(sum(qc).as("sum_qty_cents"), count(lit(1)).as("n_rows"),
        min(pc).as("min_price_cents"), max(pc).as("max_price_cents"))
      .orderBy(col("l_returnflag"))
  }

  /** Materialized-view AVG roll-up: avg is not a partial-mergeable
    * aggregate, but it is DERIVABLE when the cube carries both sum(e)
    * and count(e) — the optimizer rewrites `avg(e)` over the fact
    * table to `sum(mv.sum_e) / sum(mv.n)` over the summary. Guarded
    * to DECIMAL(p,2) measures: decimal partials re-aggregate exactly
    * and the quotient rounds once at Average's own result scale,
    * whereas double sums are partition-order sensitive (this repo's
    * correctness rule — MaterializedViewSpec proves the double form
    * refuses). Output rides integer micro-units so the oracle compare
    * is dtype-trivial; the oracle derives the identical half-up
    * rounding with exact HUGEINT arithmetic. */
  def qMvRollupAvg(s: SparkSession, dir: String): DataFrame = {
    val mvs = graft.plans.MaterializedView.sessionWith(s)
    def pc = col("l_extendedprice").cast(dec)
    def fine(ss: SparkSession): DataFrame = Tables.lineitem(ss, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(pc).as("sum_price"), count(pc).as("n_price"))
    val path = scratchDir("mv-avg-fine")
    graft.plans.MaterializedView.register(mvs, "mv_avg_fine", fine(mvs), path)
    Tables.lineitem(mvs, dir)
      .groupBy(col("l_returnflag"))
      .agg(avg(pc).as("avg_price"), count(pc).as("n_rows"))
      .select(col("l_returnflag"),
        (col("avg_price") * 1000000).cast("long").as("avg_price_micros"),
        col("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** Point-in-time join — the feature-store pattern: each fact
    * (purchase) reads the dimension value that was current at its
    * timestamp, where the dimension is the per-user changelog of
    * non-purchase events (value < 5 ⇒ tombstone: the profile reads
    * NULL until the next upsert). Implemented WITHOUT a range join:
    * changes and facts are unioned into one per-key stream and a
    * single `last(chg, ignoreNulls)` running window assigns every
    * fact the latest preceding change — one shuffle on the key, state
    * bounded by a row, immune to the O(facts × versions) blowup a
    * BETWEEN-join suffers at 100 TB. The oracle is the independent
    * formulation: a correlated latest-row-before subquery. */
  def qPitJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("t"), col("event_id"),
        col("event_type"), col("value"))
    val changes = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("t"), col("event_id"), lit(false).as("is_fact"),
        struct(when(col("value") < 5, lit(null).cast("double"))
          .otherwise(col("value")).as("v")).as("chg"))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("t"), col("event_id"), lit(true).as("is_fact"),
        lit(null).cast("struct<v:double>").as("chg"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    changes.unionByName(facts)
      .withColumn("cur", last(col("chg"), ignoreNulls = true).over(w))
      .filter(col("is_fact"))
      .select(col("user_id"), col("event_id"), col("t"),
        col("cur").getField("v").as("profile_val"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** TPC-H Q5-shape star join: revenue per region through the full
    * dimension chain region→nation→customer→orders→lineitem. The
    * three dimension joins broadcast (region 5 rows, nation 25,
    * customer ~n/4000 of lineitem) so the only shuffle-heavy join is
    * orders⋈lineitem on orderkey, followed by one partial-aggregated
    * rollup to 5 rows — the multi-join plan Catalyst should and does
    * pick, which is exactly what survives a 100 TB fact table. */
  def qStarJoin(s: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice").cast(dec) *
      (lit(1) - col("l_discount").cast(dec)))
    Tables.region(s, dir)
      .join(Tables.nation(s, dir), col("r_regionkey") === col("n_regionkey"))
      .join(Tables.customer(s, dir), col("n_nationkey") === col("c_nationkey"))
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("r_name"))
      .agg(sum(rev).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"))
  }

  /** Table reconciliation: diff two snapshots of a table (the
    * cross-replica / cross-engine audit every large pipeline runs).
    * The "drifted" snapshot is derived deterministically from orders
    * (keys ≡0 mod 97 deleted, ≡0 mod 13 repriced, a shifted-key
    * slice added); the diff is ONE full outer join on the key with
    * null-safe field comparison — no row hashing, so float-formatting
    * differences between engines can't produce phantom diffs — and a
    * per-class rollup (added/removed/changed/same) with key bounds.
    * Scale shape: one key-partitioned shuffle each side; the classify
    * + rollup is map-side combined. */
  def qTableDiff(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val left = o.select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
      col("o_totalprice").as("tp"))
    val right = o.filter(col("o_orderkey") % 97 =!= 0)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")).as("tp"))
      .unionByName(o.filter(col("o_orderkey") % 101 === 0)
        .select((col("o_orderkey") + 10000000L).as("k"),
          col("o_orderstatus").as("st"), col("o_totalprice").as("tp")))
    val l = left.select(col("k"), struct(col("st"), col("tp")).as("l"))
    val r = right.select(col("k"), struct(col("st"), col("tp")).as("r"))
    l.join(r, Seq("k"), "full_outer")
      .withColumn("class",
        when(col("l").isNull, "added")
          .when(col("r").isNull, "removed")
          .when(col("l") <=> col("r"), "same")
          .otherwise("changed"))
      .groupBy(col("class"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_key"),
        max(col("k")).as("max_key"))
      .orderBy(col("class"))
  }

  /** Global dense-id assignment WITHOUT a single-partition sort — the
    * surrogate-key backfill every warehouse needs at 100 TB, where
    * `row_number() OVER (ORDER BY key)` would funnel the table
    * through one task. Three bounded steps instead: (1) range-
    * partition by key (each partition holds a contiguous key range),
    * (2) count rows per partition and prefix-sum those ~hundreds of
    * counts into partition offsets (a window over a partition-count-
    * sized relation, broadcast back), (3) row_number WITHIN each
    * partition — fully parallel — plus the partition's offset. The
    * result is bit-identical to the oracle's global ROW_NUMBER
    * regardless of where the sampled range boundaries land, because
    * offsets are computed from actual counts. */
  def qDenseIds(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // partition count follows spark.sql.shuffle.partitions — the id
    // assignment is invariant to it (offsets come from actual counts),
    // so the same query scales from local[8] to a 1000-executor job
    // CACHED: both consumers below (the offset aggregate and the
    // per-partition row_number join) must observe IDENTICAL partition
    // boundaries. RangePartitioner SAMPLES its boundaries, so two
    // independent evaluations of this subtree can legally disagree —
    // exchange reuse usually saves us locally, but AQE replanning one
    // branch or disabled reuse would silently misalign ids. One
    // materialization feeding both branches makes the correctness
    // unconditional.
    val ranged = Tables.documents(s, dir).select(col("doc_id"))
      .repartitionByRange(col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .cache()
    val offsets = ranged.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("pid"), col("offset"))
    val wIn = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
    ranged.join(broadcast(offsets), "pid")
      .withColumn("dense_id", col("offset") + row_number().over(wIn) - 1)
      .select(col("doc_id"), col("dense_id"))
      .orderBy(col("doc_id"))
  }

  /** Path mining: the 10 most frequent 3-step event-type sequences
    * across user timelines. One partitioned window (two leads over
    * the per-user order), one hash aggregate on the path triple, and
    * a global top-k (TakeOrdered — never a full sort) — the Markov
    * transition mining shape that holds at any event volume because
    * nothing ever materializes per-user state beyond two lookahead
    * rows. */
  def qEventPaths(s: SparkSession, dir: String,
      topN: Int = 10, depth3: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val stepped = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("t"), col("event_id"),
        col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
    val (paths, keyNames) =
      if (depth3) (stepped.withColumn("e3", lead(col("event_type"), 2).over(w))
          .filter(col("e2").isNotNull && col("e3").isNotNull),
        Seq("e2", "e3"))
      else (stepped.filter(col("e2").isNotNull), Seq("e2"))
    paths
      .groupBy(col("event_type").as("e1") +: keyNames.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc +: col("e1") +: keyNames.map(col): _*)
      .limit(topN)
  }

  /** Ordered funnel analysis: signup → first click AT OR AFTER the
    * signup → first purchase at or after that click, per user. Each
    * stage is one hash aggregate keyed on user_id carrying the
    * previous stage's timestamp — three passes, but every one
    * shuffles on the SAME key, so at scale the exchange is reusable
    * and no stage is ever a self-join explosion. µs timestamps for
    * oracle parity. */
  def qFunnel(s: SparkSession, dir: String,
      steps: Seq[String] = Seq("signup", "click", "purchase")): DataFrame = {
    require(steps.length == 3)
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("t"))
    val s1 = e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === steps(0), col("t"))).as("t_signup"))
    val s2 = e.join(s1, "user_id").groupBy(col("user_id"))
      .agg(min(col("t_signup")).as("t_signup"),
        min(when(col("event_type") === steps(1) && col("t") >= col("t_signup"),
          col("t"))).as("t_click"))
    val s3 = e.join(s2, "user_id").groupBy(col("user_id"))
      .agg(min(col("t_signup")).as("t_signup"), min(col("t_click")).as("t_click"),
        min(when(col("event_type") === steps(2) && col("t") >= col("t_click"),
          col("t"))).as("t_purchase"))
    s3.agg(
      count(col("t_signup")).as("n_signup"),
      count(col("t_click")).as("n_click_after_signup"),
      count(col("t_purchase")).as("n_purchase_after_click"))
  }

  /** Cohort retention: users grouped by the week of their first
    * event; for each (cohort_week, week_offset ≤ 8) the number of
    * cohort members active that week. Two aggregates and one
    * broadcast-able join on user_id — the standard retention matrix
    * without any per-user state on the driver. */
  def qCohortRetention(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400 * 1000 * 1000
    val e = Tables.events(s, dir)
      .select(col("user_id"), expr(s"(ts div 1000) div $weekUs").as("week"))
    val first = e.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    e.distinct().join(first, "user_id")
      .withColumn("week_offset", col("week") - col("cohort_week"))
      .filter(col("week_offset") <= 8)
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Recursive CTE (Spark 4's WITH RECURSIVE): walk the implicit
    * binary tree over user ids (parent = floor(id/2)) from the root
    * and histogram the depths — transitive-closure recursion
    * executed natively by the engine's iterative union, not by a
    * hand-rolled driver loop. The oracle is the SAME recursive SQL
    * (both dialects share floor-division and UNION ALL recursion
    * semantics), so the iteration fixpoint must agree exactly. */
  def qRecursiveCte(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events_rcte")
    s.sql(
      """WITH RECURSIVE u AS (SELECT DISTINCT user_id FROM events_rcte),
        |tree(user_id, depth) AS (
        |  SELECT user_id, CAST(0 AS BIGINT) AS depth FROM u WHERE user_id = 1
        |  UNION ALL
        |  SELECT c.user_id, t.depth + 1
        |  FROM tree t JOIN u c
        |    ON CAST(FLOOR(c.user_id / 2.0) AS BIGINT) = t.user_id
        |   AND c.user_id > t.user_id)
        |SELECT depth, COUNT(*) AS n_users,
        |  MIN(user_id) AS min_id, MAX(user_id) AS max_id
        |FROM tree GROUP BY depth ORDER BY depth""".stripMargin)
  }

  /** One row per lineitem of orders⋈lineitem as a customer–supplier
    * purchase: `c` = custkey·2, `sup` = suppkey·2+1 — integer node ids
    * in one space, so every shuffle in the graph family moves
    * fixed-width longs, never strings — plus `extra` lineitem-derived
    * columns. */
  private def purchases(s: SparkSession, dir: String,
      extra: org.apache.spark.sql.Column*): DataFrame =
    Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c") +:
        (col("l_suppkey") * 2 + 1).as("sup") +: extra: _*)

  /** The customer–supplier purchase graph: distinct (c, sup) pairs of
    * [[purchases]]. */
  private def purchaseEdges(s: SparkSession, dir: String): DataFrame =
    purchases(s, dir).distinct()

  /** PageRank (3 unrolled iterations, damping 0.85) over the
    * customer↔supplier graph induced by orders×lineitem — the
    * canonical iterative-graph workload, in pure DataFrame form: per
    * iteration one join of ranks to edges on src and one groupBy on
    * dst, i.e. two key-partitioned shuffles, no driver-side state
    * beyond the node-count scalar. All rank arithmetic is integer
    * parts-per-billion (contrib = r div out_degree, damped sum =
    * 0.15·PPB div N + 85·Σcontrib div 100), so the fixpoint math is
    * bit-identical in any engine — the oracle unrolls the same three
    * iterations as CTEs. Undirected edges (both directions) mean no
    * dangling-mass correction is needed: every node has out-degree
    * ≥ 1. At 100 TB the edge list pre-partitions on src once and
    * every iteration reuses that partitioning. */
  def qPagerank(s: SparkSession, dir: String): DataFrame = Rounds.scoped { scope =>
    // the graph is read 3+ times (once per iteration): hash-partition
    // it on the join key ONCE — with the out-degree pre-attached to
    // every edge, so the loop body is exactly one join + one agg —
    // and cache. The cached partitioning satisfies every iteration's
    // join distribution, so each round shuffles only the
    // (|nodes|-sized) rank relation, never the (|edges|-sized) graph.
    // Read twice below (deg agg + join) — materialize once.
    val sym = scope.cache(Graph.undirected(purchaseEdges(s, dir), "c", "sup")
      .repartition(col("src")))
    val deg = scope.cache(sym.groupBy(col("src")).agg(count(lit(1)).as("d")))
    // deg's keys ARE the distinct node set — no separate distinct pass
    val nodes = deg.select(col("src").as("node"))
    val n = deg.count() // bounded scalar for the teleport term; also populates the caches
    var r = nodes.select(col("node"), lit(1000000000L / n).as("r"))
    for (_ <- 1 to 3) {
      // the symmetrized graph has every node as a dst (out-degree ≥ 1
      // each direction), so the contrib aggregate covers ALL nodes —
      // no nodes-relation left-join needed to reinstate zero-indegree
      // rows, and the damped update is a pure projection of it.
      // `r div d` depends only on src: attach the degree to the
      // NODE-sized rank relation instead of caching a third
      // 1.17M-row (src, dst, d) edge relation whose only job was
      // carrying d to this projection (r20, guide §2.3 — identical
      // per-edge contributions, one full columnar cache build less,
      // one long column less scanned per iteration).
      val rIn = r.withColumnRenamed("node", "src")
        .join(deg, "src")
        .select(col("src"), expr("r div d").as("cb"))
      r = sym
        .join(rIn, "src")
        .select(col("dst"), col("cb"))
        .groupBy(col("dst")).agg(sum(col("cb")).as("contrib"))
        .select(col("dst").as("node"),
          (lit(150000000L / n) + expr("(85 * contrib) div 100")).as("r"))
    }
    // eager node-sized result so the two graph caches release NOW
    // (same contract as qPpr/qHits)
    materializeFinal("q_pagerank",
      r.select(col("node"), col("r").as("rank_ppb")).orderBy(col("node")))
  }

  /** Triangle counting over the supplier co-occurrence graph (two
    * suppliers linked iff they share an order; pair explosion bounded
    * by per-order line count). Delegates to [[operators.Graph]], whose
    * adaptive plan picks adjacency-bitmap intersection for bounded
    * node domains (this graph: 1000 nodes at 91% density — the bitmap
    * path streams |E| rows instead of materializing the 271M-row
    * wedge relation the degree-oriented join needs) and falls back to
    * degree-oriented wedge enumeration, the O(m^1.5) 100 TB shape,
    * above the gate. Output: the 20 most triangle-heavy suppliers with
    * per-node participation counts — exact, verified against the
    * O(n³) 3-way-join oracle. */
  def qTriangleCount(s: SparkSession, dir: String): DataFrame = {
    // co-occurrence pairs without a self-join: ONE shuffle groups each
    // order's supplier set (≤7 members — sort_array keeps the pair
    // generation deterministic), pairs explode map-side, one more
    // shuffle dedups them. The self-join form costs two extra
    // exchanges of the same data for the same output.
    val e = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_suppkey").as("sn"))
      .groupBy(col("o")).agg(sort_array(collect_set(col("sn"))).as("ns"))
      .select(explode(col("ns")).as("u"), col("ns"))
      .select(col("u"), explode(expr("filter(ns, y -> y > u)")).as("v"))
      .distinct()
    graft.operators.Graph.triangleCounts(e)
      .select(col("node").as("supp_id"), col("n_triangles"))
      .orderBy(col("n_triangles").desc, col("supp_id"))
      .limit(20)
  }

  /** MERGE INTO semantics as one full-outer join — the warehouse
    * upsert primitive (INSERT new keys, UPDATE matched, DELETE
    * flagged), complementing q_table_diff (which reports) and
    * q_cdc_scd2 (which versions): this one APPLIES. The change feed
    * derives deterministically from the data (odd keys update +100
    * cents, keys ≡ 0 mod 97 delete, shifted keys insert), so the
    * oracle can rebuild it. One key-partitioned shuffle; each output
    * row tagged with its action. */
  def qMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .select(col("c_custkey").as("k"),
        (col("c_acctbal").cast(dec) * 100).cast("long").as("cents"))
    val changes = base
      .select(col("k"), col("cents"),
        when(col("k") % 97 === 0, "D")
          .when(col("k") % 2 === 1, "U")
          .otherwise(null).as("op"))
      .filter(col("op").isNotNull)
      .select(col("k"), col("op"), (col("cents") + 100).as("new_cents"))
      .unionAll(
        base.filter(col("k") % 1000 === 7)
          .select((col("k") + 10000000L).as("k"), lit("I").as("op"),
            lit(5000L).as("new_cents")))
    base.join(changes, Seq("k"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("k"),
        coalesce(col("new_cents"), col("cents")).as("cents"),
        coalesce(col("op"), lit("K")).as("action"))
      .orderBy(col("k"))
  }

  /** k-core peel (k=34, 3 bounded rounds) over the customer↔supplier
    * bipartite graph — the graph-cleaning step that strips low-degree
    * fringe before community/centrality analysis. Each round is a
    * degree aggregate + two semi-joins (see [[operators.Graph
    * .kcorePeel]]); the operator early-stops at the fixpoint, which
    * the 3-round-unrolled oracle must then equal because extra peel
    * rounds past convergence are no-ops. */
  def qKcore(s: SparkSession, dir: String): DataFrame = {
    val e = purchaseEdges(s, dir).select(col("c").as("u"), col("sup").as("v"))
    Graph.kcorePeel(e, 34, maxRounds = 3)
      .orderBy(col("node"))
  }

  /** Rolling time-window aggregates (RANGE frame): for every event,
    * the same user's event count and value sum over the PRECEDING
    * HOUR including this event — the feature-engineering staple
    * ("activity in the last h"). A RANGE BETWEEN frame over integer
    * epoch seconds: one shuffle on the user key, then a per-partition
    * sliding frame whose state is bounded by the window span — never
    * a self-join on an inequality (the O(n·m) shape q_range_autobin
    * exists to kill). Value rides integer cents so the rolling sum is
    * bit-exact in any engine. */
  def qRollingWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"))
      .rangeBetween(-3600L, 0L)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), expr("ts div 1000000000").as("t"),
        (col("value").cast(dec) * 100).cast("long").as("cents"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_cents_1h", sum(col("cents")).over(w))
      .select(col("user_id"), col("event_id"), col("t"),
        col("n_1h"), col("sum_cents_1h"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Per-group top-k via rank filter — written declaratively
    * (row_number over a partition, filter rk <= 5) and optimized by
    * Spark's InferWindowGroupLimit into a WindowGroupLimit physical
    * node: each partition keeps a bounded k-heap BEFORE the window
    * sort, so the shuffle carries ≤ k rows per group instead of the
    * whole group — the difference between top-k and full-sort at
    * 100 TB group sizes. Plan shape is asserted in QueriesSpec. */
  def qTopkGrouped(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(s, dir)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("event_type"), col("rk"), col("event_id"), col("value"))
      .orderBy(col("event_type"), col("rk"))
  }

  /** LATERAL correlated subquery — the per-row dependent-join
    * surface: for each nation, the top-2 customers by balance via a
    * correlated ORDER BY/LIMIT subquery. Catalyst DECORRELATES the
    * lateral into a partitioned window + filter (no per-row re-scan
    * of customer — the naive nested-loop reading the inner table
    * once per outer row is exactly what dies at 100 TB), so the
    * physical plan is one shuffle on the correlation key; cross-
    * checked against the identical LATERAL SQL in the oracle
    * engine. Complements q_topk_grouped (same semantics stated as a
    * window) and q_correlated_subquery (scalar correlation): this is
    * the TABLE-valued correlation path. */
  def qLateralTopk(s: SparkSession, dir: String,
      k: Int = 2, asc: Boolean = false): DataFrame = {
    Tables.nation(s, dir).createOrReplaceTempView("nation_v")
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    val d = if (asc) "ASC" else "DESC"
    s.sql(s"""
      SELECT n.n_name AS nation, t.c_name AS cust_name,
             CAST(CAST(t.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents
      FROM nation_v n,
      LATERAL (SELECT c_name, c_acctbal FROM customer_v c
               WHERE c.c_nationkey = n.n_nationkey
               ORDER BY c_acctbal $d, c_name LIMIT $k) t
      ORDER BY nation, bal_cents $d, cust_name""")
  }

  /** Null-semantics battery: COUNT(col) vs COUNT(*), null-safe
    * equality, COALESCE/NULLIF, and null-skipping aggregates over a
    * derived column with injected nulls — parity of the exact corner
    * rules engines most often disagree on. */
  def qNullSemantics(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .withColumn("p5", when(col("o_orderkey") % 5 === 0, col("o_totalprice")))
    o.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
           count(col("p5")).as("n_nonnull"),
           sum(when(col("p5") <=> lit(null), 1L).otherwise(0L)).as("n_nullsafe_null"),
           sum(coalesce(col("p5"), lit(0.0)).cast(dec)).cast("double").as("sum_coalesced"),
           sum(nullif(col("o_orderkey") % 5, lit(0)).cast("long")).as("sum_nullif"),
           min(col("p5")).as("min_skipnull"))
      .orderBy(col("o_orderstatus"))
  }

  /** Correlated scalar subqueries — orders priced above 2× their
    * customer's average — written as SQL and DECORRELATED by Catalyst
    * into aggregates joined back (no per-row re-execution). The
    * average is restated as price·count > 2·sum so every comparand is
    * exactly representable (a division-form average in doubles is
    * partition-order sensitive); sum runs in DECIMAL. */
  def qCorrelatedSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    s.sql("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders_v o
      WHERE o_totalprice * (
          SELECT COUNT(*) FROM orders_v o2
          WHERE o2.o_custkey = o.o_custkey)
        > 2 * (
          SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) FROM orders_v o2
          WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_orderkey""")
  }

  /** Incremental aggregation: partial aggregates of an old partition
    * and a new delta batch MERGE into the full result (count/sum add,
    * min/max combine) without rescanning the base — the pattern that
    * keeps a 100 TB rollup incremental when a day of data lands. The
    * oracle recomputes from scratch; the hash-match proves merge ≡
    * recompute (all merged stats are associative, sums in DECIMAL). */
  def qIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             sum(col("o_totalprice").cast(dec)).as("s"),
             min(col("o_totalprice")).as("mn"),
             max(col("o_totalprice")).as("mx"))
    val cut = "1996-01-01"
    val base = partial(o.filter(col("o_orderdate") < lit(cut)))
    val delta = partial(o.filter(col("o_orderdate") >= lit(cut)))
    base.unionByName(delta)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n")).as("n_orders"),
           sum(col("s")).cast("double").as("revenue"),
           min(col("mn")).as("min_price"),
           max(col("mx")).as("max_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Time-series gap filling: densify each user's hourly event counts
    * over their own [min,max] hour span, missing hours as 0 — the
    * resample step before any windowed trend/feature computation.
    * `sequence`+`explode` generates rows (per-user bounded span), the
    * observed counts left-join in; no global calendar table, no skew:
    * generation and join both key on user_id. */
  def qGapFill(s: SparkSession, dir: String, maxUser: Long = 50): DataFrame = {
    val hr = expr("ts div 3600000000000").as("hr")
    val ev = Tables.events(s, dir).filter(col("user_id") < maxUser)
      .select(col("user_id"), hr)
    val counts = ev.groupBy(col("user_id"), col("hr"))
      .agg(count(lit(1)).as("n_obs"))
    val spans = counts.groupBy(col("user_id"))
      .agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
    spans.select(col("user_id"),
        explode(sequence(col("mn"), col("mx"))).as("hr"))
      .join(counts, Seq("user_id", "hr"), "left")
      .select(col("user_id"), col("hr"),
        coalesce(col("n_obs"), lit(0L)).as("n"))
      .orderBy(col("user_id"), col("hr"))
  }

  /** Higher-order array functions (codegen'd lambda family): per-order
    * sorted quantity vector, then filter / transform / aggregate over
    * it — all-integer lambdas, so cross-engine exact. */
  def qArrayFns(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_quantity").cast("long"))).as("qs"))
      .select(col("l_orderkey"),
        size(filter(col("qs"), x => x >= 25)).cast("long").as("n_big"),
        aggregate(transform(col("qs"), x => x * 2), lit(0L), (acc, x) => acc + x)
          .as("dbl_sum"),
        element_at(col("qs"), 1).as("min_q"))
      .orderBy(col("l_orderkey"))

  /** Map-typed function family (map_from_entries / map_filter /
    * transform_values / map_entries): per-user event-type count map
    * built from an aggregate, filtered to repeated types, values
    * rescaled, then EXPLODED back to rows so the output schema is
    * dtype-trivial for the oracle (which computes the equivalent
    * relational form — a HAVING + projection — without ever building
    * a map: semantic equivalence is exactly the point). Lambdas are
    * all-integer. Map HOFs evaluate interpreted (not codegen) — fine
    * here where the maps are per-user event-type sized; keep them
    * off billion-row hot paths (the repo's expression-cost rule). */
  def qMapFns(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("event_type"), col("n"))))).as("m"))
    m.select(col("user_id"),
        explode(expr(
          "map_entries(transform_values(map_filter(m, (k, v) -> v >= 2)," +
            " (k, v) -> v * 10))")).as("e"))
      .select(col("user_id"), col("e.key").as("event_type"),
        col("e.value").as("n_x10"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Exact distinct counting through BITMAP aggregation — the
    * dense-id pattern that replaces COUNT(DISTINCT) at 100 TB: each
    * (group, 32k-id-bucket) accumulates a fixed ≤4 KB bitmap
    * map-side (bitmap_construct_agg is a partial-merge aggregate,
    * so executors OR bitmaps instead of exchanging raw keys) and
    * distinct = Σ bitmap_count over buckets. The shuffle moves
    * bounded bitmap rows — |groups|·|buckets| of them — not one row
    * per (group, key) pair, and the stored bitmaps re-aggregate
    * under rollups the way the MV keeps sum/count partials. Oracle:
    * plain COUNT(DISTINCT). */
  def qBitmapDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"),
        expr("bitmap_bucket_number(o_custkey)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").as("bm"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_customers"))
      .orderBy(col("o_orderstatus"))

  /** Semi-structured VARIANT path — Spark 4's parse-once binary
    * JSON: props parses to VARIANT, variant_get extracts a typed
    * field from the binary encoding (no re-parse per path — at scale
    * the JSON parse is paid once per row however many fields the
    * query touches, where chained get_json_object re-parses per
    * extraction). Filter + aggregate on the extracted value; the
    * oracle extracts the same path with JSON operators. */
  def qVariantExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
      .filter(col("k") % 7 === 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** XML codec round-trip — from_xml parses an XML fragment column
    * into a typed struct (the third inline codec on the board after
    * JSON and Avro). The fragment is built from supplier columns
    * with format_string, parsed back, and re-emitted flat; the
    * oracle selects the source columns directly, so the hash-match
    * proves the parse is lossless for longs and strings. */
  def qXmlRoundtrip(s: SparkSession, dir: String): DataFrame =
    Tables.supplier(s, dir)
      .select(col("s_suppkey"),
        format_string("<s><k>%d</k><n>%s</n><nk>%d</nk></s>",
          col("s_suppkey"), col("s_name"), col("s_nationkey")).as("x"))
      .select(col("s_suppkey"),
        expr("from_xml(x, 'k BIGINT, n STRING, nk BIGINT')").as("p"))
      .select(col("s_suppkey"), col("p.k").as("k"),
        col("p.n").as("s_name"), col("p.nk").as("s_nationkey"))
      .orderBy(col("s_suppkey"))

  /** Error-safe arithmetic battery — Spark 4 runs ANSI mode ON, so
    * overflow / division-by-zero ABORTS the job unless the try_
    * family absorbs it; at 100 TB "one poisoned row kills the run"
    * is operationally unacceptable, so curation pipelines spell
    * try_*. Operating point matters: a caught ANSI error costs
    * ~20 µs of error-class exception construction, so the poison
    * rate is ~1% per lane (keys divisible by a prime trip overflow /
    * a zero divisor) — realistic dirty-data odds, and the bench
    * measures the try_ guard on the CLEAN path, not exception
    * throughput. Every lane still exercises both null and non-null
    * outcomes; the oracle spells identical semantics with CASE
    * guards over HUGEINT intermediates (DuckDB has no try_
    * arithmetic — the guard itself is the semantics). */
  def qTryFns(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
        // residue 96/100 (not 0): key 0 would hit the poison branch
        // without actually overflowing (0 + Long.Max, 0 × Long.Max)
        expr("try_add(o_orderkey * 1000L, CASE WHEN o_orderkey % 97 = 96" +
          " THEN 9223372036854775807L ELSE o_custkey END)").as("t_add"),
        expr("try_multiply(o_orderkey, CASE WHEN o_orderkey % 101 = 100" +
          " THEN 9223372036854775807L ELSE 1000003L END)").as("t_mul"),
        expr("try_mod(o_orderkey, CASE WHEN o_orderkey % 103 = 0" +
          " THEN 0L ELSE o_custkey % 7 + 1 END)").as("t_mod"),
        expr("try_divide(o_orderkey, CASE WHEN o_orderkey % 107 = 0" +
          " THEN 0L ELSE o_custkey % 4 + 1 END)").as("t_div"))
      .orderBy(col("o_orderkey"))

  /** Exact global quantiles (median, p95) of lineitem extendedprice
    * WITHOUT a global sort — histogram refinement narrows to the
    * rank's bucket in one counting aggregation per pass
    * ([[Quantiles]]). Rank rule ceil(q·n) = lower-discrete quantile,
    * spelled out identically in the oracle via ROW_NUMBER. */
  def qQuantileGlobal(s: SparkSession, dir: String,
      column: String = "l_extendedprice",
      ps: Seq[Double] = Seq(0.5, 0.95)): DataFrame =
    Quantiles.quantiles(Tables.lineitem(s, dir), column, ps)
      .orderBy(col("q"))

  /** CSV source/sink round-trip: write nation as CSV (header, Spark's
    * quoting), read it back with the EXPLICIT parquet schema (no
    * inference flakiness), aggregate. The oracle aggregates the
    * parquet directly, so the hash-match proves the CSV reader/writer
    * are lossless for ints and quoted strings. */
  def qSourceCsv(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(s, dir)
    val tmp = scratchDir("csv")
    n.write.mode("overwrite").option("header", "true").csv(tmp)
    s.read.schema(n.schema).option("header", "true").csv(tmp)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_name"))
      .orderBy(col("n_regionkey"))
  }

  /** ORC source/sink round-trip on orders — the third columnar
    * format after parquet and the CFS DSv2 store. ORC round-trips
    * Spark types losslessly (stripe-level stats, predicate pushdown
    * come free from the built-in reader); the oracle aggregates the
    * original parquet, so the hash-match proves write+read fidelity
    * for longs, strings, and DECIMAL-routed sums. */
  def qSourceOrc(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val tmp = scratchDir("orc")
    o.write.mode("overwrite").orc(tmp)
    s.read.schema(o.schema).orc(tmp)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(dec)).cast("double").as("sum_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Hive-style partitioned layout + partition-PRUNED scan — the
    * first line of defense at 100 TB: orders written
    * `partitionBy(o_orderpriority)` (one directory per value), then
    * a query filtering on the partition column reads ONLY that
    * directory — the filter resolves against file PATHS at planning
    * time (`PartitionFilters` in the scan, asserted in QueriesSpec),
    * so 4/5 of the data is never opened, not even for footer reads.
    * Complements q_zorder_layout (intra-file skipping) and
    * q_bucketed_join (co-located joins); the oracle aggregates the
    * unpartitioned table with the same predicate, so the hash-match
    * also proves the partitioned write+read round-trip. */
  def qPartitionedScan(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("part")
    Tables.orders(s, dir)
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
    s.read.parquet(tmp)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum((col("o_totalprice").cast(dec) * 100).cast("long")).as("sum_cents"))
      .orderBy(col("o_orderstatus"))
  }

  /** Schema evolution via mergeSchema — the append-only table whose
    * writer gained a column mid-life (every real warehouse table):
    * an early batch lands WITHOUT `o_orderpriority`, a later batch
    * WITH it, and a `mergeSchema` read reconciles the footers —
    * early rows surface NULL for the added column, and the aggregate
    * groups them under the NULL key. The oracle synthesizes the same
    * evolution with a CASE over the unpartitioned table, so the
    * hash-match proves both the merged read and the null-group
    * semantics. */
  def qSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val tmp = freshScratchDir("evo")
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"),
        (col("o_totalprice").cast(dec) * 100).cast("long").as("cents"))
    val cut = "1998-01-01"
    o.filter(col("o_orderdate") < lit(cut))
      .select(col("o_orderkey"), col("cents"))
      .write.mode("append").parquet(tmp)
    o.filter(col("o_orderdate") >= lit(cut))
      .select(col("o_orderkey"), col("cents"), col("o_orderpriority"))
      .write.mode("append").parquet(tmp)
    s.read.option("mergeSchema", "true").parquet(tmp)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
  }

  /** Bucketed large-large join — THE repeated-join strategy at
    * 100 TB: both fact tables are written bucketed (8 buckets) AND
    * sorted on the join key, so the join AND the per-order aggregate
    * both consume the on-disk hash distribution: the physical plan
    * has ZERO `Exchange hashpartitioning` nodes (QueriesSpec asserts
    * this with broadcast disabled). Pay the layout shuffle once at
    * write time, then every subsequent join/agg on the key is
    * exchange-free — at petabyte scale this converts the dominant
    * recurring cost (two full-table shuffles per join) into a
    * one-time write. The oracle joins the raw parquet directly, so
    * the hash-match also proves the bucketed write+read is lossless. */
  def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val wh = scratchDir("bkt")
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        (col("l_quantity").cast(dec) * 100).cast("long").as("qty_cents"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li").saveAsTable(s"graft_bkt_li_$tableSuffix")
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
        (col("o_totalprice").cast(dec) * 100).cast("long").as("price_cents"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/o").saveAsTable(s"graft_bkt_o_$tableSuffix")
    s.table(s"graft_bkt_li_$tableSuffix")
      .join(s.table(s"graft_bkt_o_$tableSuffix"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("qty_cents")).as("sum_qty_cents"),
        min(col("price_cents")).as("price_cents"))
      .select(col("o_orderkey").as("okey"), col("n_items"),
        col("sum_qty_cents"), col("price_cents"))
      .orderBy(col("okey"))
  }

  /** JSON-lines source/sink round-trip on customer — doubles survive
    * because Spark serializes with shortest-round-trip repr. Proves
    * the JSON reader/writer path against the same parquet oracle. */
  def qSourceJson(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val tmp = scratchDir("json")
    c.write.mode("overwrite").json(tmp)
    s.read.schema(c.schema).json(tmp)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
           sum(col("c_acctbal").cast(dec)).cast("double").as("sum_bal"))
      .orderBy(col("c_mktsegment"))
  }

  /** Firestore-style store round-trip through the graft-cfs
    * DataSource V2 connector, BOTH directions native: documents are
    * written with `df.write.format("graft-cfs")` (executor-side
    * 50-doc sink batches, idempotent upsert per doc id — a replayed
    * task converges, so commit is a no-op), then read back as a real
    * Spark table whose scan plans one partition per collection with
    * filter pushdown and column pruning (CfsSourceSpec asserts
    * those), parsed and aggregated against the plain-SQL oracle over
    * the original table. */
  def qSourceCfs(s: SparkSession, dir: String): DataFrame = {
    val root = freshScratchDir("cfs")
    // spread before the store write (r20): the documents table
    // arrives as ONE parquet split, so the per-doc file upserts all
    // ran in a single task (StageProfile: a 1-task, 1.8 s write stage
    // while 31 cores idled — the same serial-bottleneck shape the
    // media rework fixed). The sink is an idempotent (collection,
    // doc_id) upsert, so task layout cannot change the stored bytes.
    spread(Tables.documents(s, dir)
      .select(concat(lit("col_"), col("source")).as("collection"),
        col("doc_id").cast("string").as("doc_id"),
        to_json(struct(col("lang"), col("n_chars"))).as("json")))
      .write.format("graft-cfs").option("root", root).mode("append").save()
    s.read.format("graft-cfs").option("root", root).load()
      .select(col("collection"),
        get_json_object(col("json"), "$.lang").as("lang"),
        get_json_object(col("json"), "$.n_chars").cast("long").as("n_chars"))
      .groupBy(col("collection"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("collection"), col("lang"))
  }

  /** Bloom-pruned join (semi-join reduction): a selective predicate
    * on orders leaves few keys; a Bloom filter of those keys prunes
    * lineitem BEFORE its shuffle, then the real join makes the result
    * exact (no false negatives ⇒ oracle is the plain join SQL). At
    * 100 TB this turns the probe-side exchange from full-table into
    * matching-rows-plus-ε. */
  def qBloomJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"))
    BloomJoin.prunedJoin(li, o, "l_orderkey")
      .groupBy(substring(col("o_orderdate").cast("string"), 1, 7).as("month"))
      .agg(sum((col("l_extendedprice").cast(dec) * (lit(1) - col("l_discount").cast(dec))))
             .cast("double").as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("month"))
  }

  /** Left-semi join: orders having at least one heavy lineitem. */
  def qJoinSemi(s: SparkSession, dir: String): DataFrame = {
    val heavy = Tables.lineitem(s, dir).filter(col("l_quantity") > 45)
    Tables.orders(s, dir)
      .join(heavy, col("o_orderkey") === heavy("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Left-anti join: orders with no discounted lineitem. */
  def qJoinAnti(s: SparkSession, dir: String): DataFrame = {
    val disc = Tables.lineitem(s, dir).filter(col("l_discount") > 0.05)
    Tables.orders(s, dir)
      .join(disc, col("o_orderkey") === disc("l_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .orderBy(col("o_orderkey"))
  }

  /** Window functions over the events stream table: row_number, lag,
    * and a running decimal sum per user ordered by event time. */
  def qWindowFuncs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // order by µs-truncated time: DuckDB sees the ns timestamps only at
    // µs precision, so sub-µs ordering must not influence ranks
    val w = Window.partitionBy(col("user_id"))
      .orderBy(expr("ts div 1000"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        row_number().over(w).cast("long").as("rn"),
        lag(col("value"), 1).over(w).as("prev_value"),
        sum(col("value").cast(dec)).over(wRun).cast("double").as("running_value"))
      .orderBy(col("event_id"))
  }

  /** Extended ranking-function family over a deterministic total
    * order (totalprice desc, orderkey): dense_rank, ntile, the
    * rank-ratio functions (exact rationals of small ints ⇒ bit-equal
    * doubles on any engine), lead and first_value. One shuffle on the
    * partition key; per-partition sort only. */
  def qWindowRanks(s: SparkSession, dir: String,
      partKey: String = "o_orderpriority", ntileN: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(partKey))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col(partKey),
        dense_rank().over(w).cast("long").as("drank"),
        ntile(ntileN).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        first_value(col("o_totalprice")).over(w).as("top_price"))
      .orderBy(col("o_orderkey"))
  }

  /** GROUPING SETS with explicit grouping() flags: the general form
    * rollup/cube specialize. Spark expands to one Expand + one hash
    * agg — rows × |sets| map-side, partial-agg before the shuffle. */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupingSets(
        Seq(Seq(col("n_name"), col("o_orderstatus")), Seq(col("n_name")), Seq()),
        col("n_name"), col("o_orderstatus"))
      .agg(grouping(col("n_name")).cast("long").as("g_nation"),
           grouping(col("o_orderstatus")).cast("long").as("g_status"),
           count(lit(1)).as("n_orders"),
           sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))
      .orderBy(col("g_nation"), col("g_status"),
        col("n_name").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
  }

  /** Top-k: TakeOrderedAndProject, no full sort at scale. */
  def qTopK(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .limit(10)

  /** Distinct pairs (shuffle dedup). */
  def qDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
      .orderBy(col("user_id"), col("event_type"))

  /** Set ops: (purchasers ∩ clickers) ∖ error-reporters. */
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def users(t: String) = ev.filter(col("event_type") === t).select(col("user_id"))
    val bigErrors = ev.filter(col("event_type") === "error" && col("value") > 190)
      .select(col("user_id"))
    users("purchase").intersect(users("click")).except(bigErrors)
      .orderBy(col("user_id"))
  }

  /** Scalar function parity: string/math/date kernels. */
  def qScalarFns(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        substring(col("p_name"), 1, 8).as("name8"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        (col("p_size") % 7).cast("long").as("size_mod"),
        abs(col("p_size") - 25).cast("long").as("size_dist"),
        floor(col("p_retailprice")).as("price_floor"),
        ceil(col("p_retailprice")).as("price_ceil"))
      .orderBy(col("p_partkey"))

  /** Wide→long UNPIVOT via the stack() generator — the inverse of
    * q_pivot. Map-side row generation, no shuffle at all until the
    * presentation sort; metric values ride exact integer units. */
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_partkey"), expr(
        """stack(2,
          |  'retail_cents', CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT),
          |  'size', CAST(p_size AS BIGINT)) AS (metric, val)""".stripMargin))
      .orderBy(col("p_partkey"), col("metric"))

  /** Equi-width histogram with DATA-DERIVED bounds: one aggregate
    * computes global (min, max) in exact cents, broadcast to every
    * row, and the bucket index is pure integer arithmetic —
    * least(B−1, (x−mn)·B div (mx−mn+1)) — so the layout is identical
    * in any engine. Two passes over the column (bounds + fill), both
    * map-side-combined aggregates; the histogram itself is B rows. */
  def qHistogram(s: SparkSession, dir: String): DataFrame = {
    val B = 20
    val cents = Tables.lineitem(s, dir)
      .select((col("l_extendedprice").cast(dec) * 100).cast("long").as("cents"))
    val bounds = cents.agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    cents.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        expr(s"least(CAST(${B - 1} AS BIGINT), ((cents - mn) * $B) div (mx - mn + 1))"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"))
      .orderBy(col("bucket"))
  }

  /** Simple linear regression (y = extendedprice cents on
    * x = quantity) from EXACT sufficient statistics, emitted in
    * EXACT INTEGER UNITS (slope/intercept in micro-units, r² in
    * ppb): n, Σx, Σy, Σxy, Σx², Σy² accumulate as DECIMAL(38,0) —
    * the operands are cast BEFORE the sums so the aggregation
    * accumulators themselves are decimal (a long accumulator wraps
    * at ~600k rows: Σy² ≈ 2e19 > Long.Max at sf0.1) — and every
    * derived value is a chain of exact integer multiplies and
    * truncating integer divisions. No doubles anywhere: a decimal→
    * double cast past 2^63 is 1 ulp low in the oracle engine
    * (measured — DuckDB HUGEINT→DOUBLE vs Spark's correctly-rounded
    * BigDecimal.doubleValue), so an integer-only derivation is the
    * form whose oracle parity holds at EVERY scale factor, not just
    * the gate SF. Truncation toward zero is identical in both
    * engines (all quantities here are positive). Two width limits
    * govern headroom, and both are spelled to hold far past 100 TB:
    * (1) decimal precision 38 — the widest intermediate is
    * C = n·Σy²−(Σy)² ≈ n²·var(y) ≈ n²·10¹³, under 10³⁸ to
    * n ≈ 3·10¹², i.e. sf ≈ 5·10⁵ (≈ 5 PB of lineitem); (2) Spark's
    * `div` (IntegralDivide) returns BIGINT, so every QUOTIENT must
    * fit a long — which is why r² normalizes A, B, C by n² (making
    * each quotient an intensive cov/var-sized statistic, good at any
    * sf) rather than by n (which leaves an extensive n·var quotient
    * that wraps at sf ≈ 0.15). One map-side combined aggregate over
    * the fact table; no second pass. */
  def qRegression(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    Tables.lineitem(s, dir)
      .select(col("l_quantity").cast(dec).cast("long").cast(d38).as("x"),
        (col("l_extendedprice").cast(dec) * 100).cast("long").cast(d38).as("y"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("x")).cast(d38).as("sx"), sum(col("y")).cast(d38).as("sy"),
        sum(col("x") * col("y")).cast(d38).as("sxy"),
        sum(col("x") * col("x")).cast(d38).as("sxx"),
        sum(col("y") * col("y")).cast(d38).as("syy"))
      // A/B/C are the covariance/variance numerators (×n²); slope =
      // A/B, intercept = (Σy − slope·Σx)/n, r² = A²/(B·C)
      .select(col("n"), col("sx"), col("sy"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("a"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("b"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("c"))
      .select(
        col("n").cast("long").as("n"),
        expr("CAST((a * 1000000) div b AS BIGINT)").as("slope_micro"),
        expr("""CAST((sy * 1000000 - CAST((a * 1000000) div b AS DECIMAL(38,0)) * sx)
            div n AS BIGINT)""").as("intercept_micro_cents"),
        // r² in ppb via n²-normalized terms: every div quotient is an
        // INTENSIVE statistic — scale-free, so IntegralDivide's
        // BIGINT result fits at ANY sf (dividing by n, not n², leaves
        // n·var(y) ≈ n·10¹³ in the quotient, which overflows BIGINT
        // past n ≈ 9·10⁵ ≈ sf 0.15). EVERY term is pre-scaled — a·10⁹
        // (cov·10⁹), b·10⁸ (var(x)·10⁸), c·3·10⁴ (var(y)·3·10⁴) — and
        // the scalers cancel exactly: (10⁹)²·3000/(10⁸·3·10⁴) = 10⁹.
        // Sizing (AccumulatorWidthSpec's randomized referee drove it:
        // the first revision left c unscaled, ~12 ppm; the second
        // under-scaled b at 10⁶, ~5 ppb at r²→1): worst-case relative
        // truncation for the lineitem family (varx ≥ 2·10², vary ≥
        // 8·10⁴ cents²) is εb ≤ 1/(varx·10⁸) ≈ 5e-11 and εc ≤
        // 1/(vary·3·10⁴) ≈ 4e-10 ⇒ < 1 ppb of the emitted value even
        // at r² = 1. Widths hold to n ≈ 6·10⁹ (≈100 TB of lineitem):
        // a·10⁹ ≤ 5e36, c·3·10⁴ ≤ 3e37 < 10³⁸; quotients cov·10⁹ ≤
        // 1.3e17, vary·3·10⁴ ≤ 9e17 < Long.Max; numerator A1²·3000 ≤
        // 5e37 < 10³⁸. Each div truncates toward zero identically in
        // both engines.
        expr("""CAST((CAST(CAST((a * 1000000000) div (n * n) AS DECIMAL(38,0)) *
                CAST((a * 1000000000) div (n * n) AS DECIMAL(38,0)) AS DECIMAL(38,0)) * 3000)
            div (CAST((b * 100000000) div (n * n) AS DECIMAL(38,0)) *
                CAST((c * 30000) div (n * n) AS DECIMAL(38,0))) AS BIGINT)""").as("r2_ppb"))
  }

  /** Regex + string function battery (dialect-portable subset):
    * extraction, global replacement, boolean match, padding,
    * reversal, field split — all codegen'd projections. */
  def qRegexFns(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        regexp_extract(col("text"), "([A-Za-z]+)", 1).as("first_word"),
        length(regexp_replace(col("text"), "[aeiou]", "")).cast("long").as("novowel_len"),
        col("text").rlike("data").as("has_data"),
        lpad(col("doc_id").cast("string"), 8, "0").as("id_pad"),
        reverse(col("lang")).as("lang_rev"),
        substring_index(col("text"), " ", 1).as("head_tok"))
      .orderBy(col("doc_id"))

  /** Per-column data profiling — the warehouse onboarding scan: row
    * count, null count, exact distinct count per column, plus numeric
    * range in exact cents, in ONE pass over the table (Spark expands
    * multi-distinct aggregates into one Expand-based plan — still a
    * single scan) emitted long-form via stack. */
  def qProfile(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val stats = c.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("c_name").isNull, 1L).otherwise(0L)).as("nn_name"),
      countDistinct(col("c_name")).as("nd_name"),
      sum(when(col("c_mktsegment").isNull, 1L).otherwise(0L)).as("nn_seg"),
      countDistinct(col("c_mktsegment")).as("nd_seg"),
      sum(when(col("c_nationkey").isNull, 1L).otherwise(0L)).as("nn_nat"),
      countDistinct(col("c_nationkey")).as("nd_nat"),
      sum(when(col("c_acctbal").isNull, 1L).otherwise(0L)).as("nn_bal"),
      countDistinct(col("c_acctbal")).as("nd_bal"),
      min((col("c_acctbal").cast(dec) * 100).cast("long")).as("min_bal_cents"),
      max((col("c_acctbal").cast(dec) * 100).cast("long")).as("max_bal_cents"))
    stats.select(expr(
      """stack(4,
        |  'c_name',       nn_name, nd_name, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  'c_mktsegment', nn_seg,  nd_seg,  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  'c_nationkey',  nn_nat,  nd_nat,  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  'c_acctbal',    nn_bal,  nd_bal,  min_bal_cents, max_bal_cents)
        |AS (column_name, n_nulls, n_distinct, min_cents, max_cents)""".stripMargin),
      col("n_rows"))
      .orderBy(col("column_name"))
  }

  /** Sorted-neighborhood blocking — the classic entity-resolution
    * candidate generator: rank records inside each blocking partition
    * (market segment) by a sort key (balance, key-tiebroken), pair
    * every record with the w records that FOLLOW it in rank order.
    * Scale shape: ranks come from per-segment windows (bounded
    * partitions, never a global sort) and the pair join is an
    * equi-join on rank BLOCKS (rank div w, plus the adjacent block)
    * filtered to 1 ≤ gap ≤ w — |pairs| = n·w by construction, the
    * O(n²) cross join never exists. */
  def qSortedNeighborhood(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = 3
    val ranked = Tables.customer(s, dir)
      .select(col("c_mktsegment").as("seg"), col("c_custkey").as("k"),
        (col("c_acctbal").cast(dec) * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("seg")).orderBy(col("cents"), col("k"))).cast("long"))
      .cache() // both join sides + two block keys read it
    val a = ranked.select(col("seg"), col("k").as("k_a"), col("rn").as("rn_a"),
      explode(array(expr(s"rn div $w"), expr(s"rn div $w + 1"))).as("blk"))
    val b = ranked.select(col("seg"), col("k").as("k_b"), col("rn").as("rn_b"),
      expr(s"rn div $w").as("blk"))
    a.join(b, Seq("seg", "blk"))
      .filter(col("rn_b") - col("rn_a") >= 1 && col("rn_b") - col("rn_a") <= w)
      .select(col("seg"), col("k_a"), col("k_b"),
        (col("rn_b") - col("rn_a")).as("gap"))
      .orderBy(col("seg"), col("k_a"), col("k_b"))
  }

  /** Rollup (grouping sets) over region/nation customer counts. */
  def qRollup(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
           sum(col("c_acctbal").cast(dec)).cast("double").as("sum_bal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** Event-time tumbling window (1h) aggregation — the batch analog of
    * the streaming windowed agg; ts is epoch-nanos. */
  def qEventWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(expr("ts div 3600000000000").as("hour_bucket"),
               col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(dec)).cast("double").as("sum_value"))
      .orderBy(col("hour_bucket"), col("event_type"))

  /** Exact dedup by content hash. Duplicates are synthesized
    * deterministically (shifted copies of doc_id<100) since the corpus
    * has none; keeper = min id per hash group. */
  def qDedupExact(s: SparkSession, dir: String,
      dupBound: Long = 100): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val dupes = docs.filter(col("doc_id") < dupBound)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    docs.union(dupes)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"), col("text_hash"))
      .orderBy(col("keeper_id"))
  }

  /** Widen a narrow scan before a per-row-expensive stage (shingling,
    * k-hash minhash signatures, simhash, fingerprinting): a small
    * parquet table arrives as ONE split, which packs the whole
    * signature computation into a single task — the same
    * serial-bottleneck shape the r19 media rework fixed for
    * decode (StageProfile at sf0.1 showed 1.3 s single-task stages
    * under the dedup family where 31 cores idled). No-op whenever the
    * relation already carries at least the session's default
    * parallelism: at cluster scale inputs ship hundreds of splits, so
    * this never adds a payload shuffle where the layout is already
    * parallel (guide §2.2/§8 — don't move heavy bytes you don't have
    * to). Round-robin repartition is deterministic here: Spark sorts
    * partitions locally before round-robin distribution
    * (spark.sql.execution.sortBeforeRepartition), and every consumer
    * re-keys or re-aggregates downstream. */
  private def spread(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= want) df else df.repartition(want)
  }

  /** Signature table is cached: it feeds both sides of the candidate
    * self-join plus the similarity-estimate joins (at cluster scale
    * this would be a checkpointed/persisted intermediate). The shingle
    * ARRAY column is dropped before caching — columnar-encoding
    * 100-element string arrays costs more than recomputing them from
    * the cached text with the fused ShinglesExpr where needed
    * (qDedupNgram's verify is the only consumer). */
  private def minhashSigned(scope: Rounds.Scope, s: SparkSession,
      dir: String): DataFrame = {
    val cached = scope.cache(Dedup.withMinhashSigArray(
        Dedup.withShingles(
          spread(Tables.documents(s, dir).select(col("doc_id"), col("text"))),
          "text"))
      .drop("sh"))
    // NO materialize-before-fanout here (r20, measured): an eager
    // count() that fills the cache before the consumer stages fan out
    // looked right on paper (the r19 panel profile showed consumer
    // stages blocked on the fill's per-partition cache locks with
    // zero CPU), but the within-window A/B read net NEGATIVE — panel
    // 2.94→2.80 and calibration −0.07 against minhash −0.14,
    // contrastive −0.19, curation −0.35: the racing fill overlaps
    // productively with the other consumers' independent stages, so
    // serializing it lengthens the critical path more than the lock
    // waits cost.
    Dedup.minhashColumns(cached)
  }

  /** MinHash+LSH near-duplicate candidates: k=64 hash family, 16
    * bands of 4 (threshold ≈ 0.5, background-0.2 collision ≈ 2.5% —
    * see DEDUP_TUNING.md); banding is the global blocking key (no n²
    * stage); sim_est = fraction of matching minhashes (1/64 steps). */
  def qDedupMinhash(s: SparkSession, dir: String): DataFrame = Rounds.scoped { scope =>
    val k = Dedup.MinhashK
    val sig = minhashSigned(scope, s, dir)
    val cands = Dedup.lshCandidatePairs(Dedup.withLshBands(sig), "doc_id")
    val a = sig.select(Seq(col("doc_id").as("id_a")) ++
      (0 until k).map(i => col(s"m$i").as(s"a$i")): _*)
    val b = sig.select(Seq(col("doc_id").as("id_b")) ++
      (0 until k).map(i => col(s"m$i").as(s"b$i")): _*)
    val matches = (0 until k).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
    materializeFinal("q_dedup_minhash",
      cands.join(a, "id_a").join(b, "id_b")
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          (matches.cast("double") / k.toDouble).as("sim_est"))
        .orderBy(col("doc_a"), col("doc_b")))
  }

  /** Exact 3-gram Jaccard verification over the LSH candidate set —
    * the classic two-stage near-dup pipeline (candidates from LSH,
    * exact set similarity only on candidates). */
  def qDedupNgram(s: SparkSession, dir: String): DataFrame = Rounds.scoped { scope =>
    val sig = minhashSigned(scope, s, dir)
    val cands = Dedup.lshCandidatePairs(Dedup.withLshBands(sig), "doc_id")
    // verify sides carry the cached TEXT through the candidate joins;
    // the fused ShinglesExpr evaluates ABOVE them — once per
    // candidate pair side instead of once per corpus row per side
    // (r20, guide §1.2; recomputing from text still beats
    // columnar-encoding the array column into the cache, which is
    // why minhashSigned drops it)
    val a = sig.select(col("doc_id").as("id_a"), col("text").as("text_a"))
    val b = sig.select(col("doc_id").as("id_b"), col("text").as("text_b"))
    materializeFinal("q_dedup_ngram",
      cands.join(a, "id_a").join(b, "id_b")
        .select(col("id_a"), col("id_b"),
          graft.functions.Shingles.shingles(col("text_a"), 3).as("sh_a"),
          graft.functions.Shingles.shingles(col("text_b"), 3).as("sh_b"))
        .withColumn("jaccard", Dedup.jaccard(col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b")))
  }

  /** Edit-distance verify over the SAME LSH candidate set the MinHash
    * pipeline blocks on: levenshtein is O(len²) per pair, so it can
    * only ever run on candidates, never all pairs — the blocking key
    * stays the only shuffle. Normalized similarity = 1 - dist/maxlen,
    * kept at >= 0.8 (integer distance and lengths ⇒ exact doubles). */
  def qDedupEditDistance(s: SparkSession, dir: String): DataFrame = Rounds.scoped { scope =>
    val sig = minhashSigned(scope, s, dir)
    val cands = Dedup.lshCandidatePairs(Dedup.withLshBands(sig), "doc_id")
    // any pair that can reach sim >= 0.8 has dist <= 0.2·maxlen, so the
    // bounded (threshold) levenshtein — early-abandon O(thr·len), not
    // the full O(len²) DP — returns the exact distance for every pair
    // that can pass and -1 (filtered) for the rest. The corpus-wide
    // threshold is one cheap max() over the cached signature frame.
    // max over zero rows is NULL — an empty corpus runs with thr=0
    // (cands is empty anyway) instead of an NPE on the primitive getter
    val maxLen = Option(sig.agg(max(length(col("text")))).head().get(0))
      .fold(0)(_.asInstanceOf[Int])
    val thr = math.ceil(0.2 * maxLen).toInt
    // text sides from the cached signature frame — no fresh scan
    val verified = cands
      .join(sig.select(col("doc_id").as("id_a"), col("text").as("t_a")), "id_a")
      .join(sig.select(col("doc_id").as("id_b"), col("text").as("t_b")), "id_b")
      // free per-pair prune BEFORE the DP kernel: |len_a - len_b| lower-
      // bounds edit distance, so any pair whose length gap alone exceeds
      // 0.2·maxlen can never reach sim >= 0.8 — a codegen'd filter that
      // keeps one long outlier from dragging every short pair through
      // the (corpus-wide-thresholded) levenshtein
      .filter(abs(length(col("t_a")) - length(col("t_b"))).cast("double")
        <= lit(0.2) * greatest(length(col("t_a")), length(col("t_b"))).cast("double"))
      .withColumn("edit_dist", levenshtein(col("t_a"), col("t_b"), thr).cast("long"))
      .withColumn("edit_sim",
        lit(1.0) - col("edit_dist").cast("double") /
          greatest(length(col("t_a")), length(col("t_b"))).cast("double"))
      .filter(col("edit_dist") >= 0 && col("edit_sim") >= 0.8)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("edit_dist"), col("edit_sim"))
      .orderBy(col("doc_a"), col("doc_b"))
    materializeFinal("q_dedup_editdist", verified)
  }

  /** EXACT Jaccard similarity self-join (threshold 0.5) via prefix
    * filtering — the recall-1 complement to the LSH pipeline: LSH
    * trades recall for speed (a true pair can miss every band);
    * prefix filtering finds EVERY pair with J ≥ t by blocking on the
    * first n−⌈t·n⌉+1 rarest-first canonical tokens (AllPairs/SSJoin
    * principle). Verification and the threshold test run in exact
    * integers (2·|∩| ≥ |∪|), so the oracle — a brute-force O(n²)
    * DuckDB cross join — must agree pair-for-pair, proving both the
    * filter's completeness (no lost pair) and its soundness. */
  def qSimJoinExact(s: SparkSession, dir: String): DataFrame = {
    // exploded (doc_id, shingle) tokens — the narrow relation
    // exactSimJoin caches and derives everything from. No minhash
    // signatures, no shipped arrays: intersections are COUNTED by the
    // adaptive token join (direct when Σdf² is benign — this corpus
    // has max df 25 — prefix-filtered against a Zipf head).
    // doc_id-keyed set semantics — see qContainmentJoin (r17 dup sweep)
    val tokens = Dedup.withShingles(
        Tables.documents(s, dir).select(col("doc_id"), col("text"))
          .dropDuplicates(Seq("doc_id", "text")), "text")
      .select(col("doc_id"), explode(col("sh")).as("tok"))
    Dedup.exactSimJoin(tokens, "doc_id", 1, 2)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("inter_n"), col("union_n"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Directional containment join over shingle sets: pairs where
    * ≥ half of doc A's 3-gram shingles appear in doc B (A-side sets
    * of ≥ 10 shingles) — the near-SUPERSET detector symmetric
    * Jaccard misses: a doc quoted inside a larger page scores low
    * Jaccard but high containment, and dedup wants to drop the
    * contained copy. Adaptive direct/prefix plan in
    * [[operators.Dedup.containmentJoin]]; the oracle is the
    * brute-force O(n²) cross join, so the A-side-prefix filter's
    * recall-1 claim is checked pair-for-pair. */
  def qContainmentJoin(s: SparkSession, dir: String): DataFrame = {
    // documents are keyed by doc_id: containment is over the doc's
    // token SET, so duplicate (doc_id, text) rows must not double
    // token multiplicities and inflate inter_n/n_a (r17 dup sweep);
    // the dedupe rides a doc-keyed exchange far smaller than the
    // token-keyed one the join itself pays. NO spread() here (r20):
    // the r19 round-robin repartition before the shingle explode read
    // 1.60→1.29 s in a within-window A/B but the driver bench said
    // 2.60→3.20 s and the 8-core run beat 32-core (ratio 0.73) — the
    // dropDuplicates exchange already widens the scan, so the extra
    // RoundRobinPartitioning(32) exchange was pure overhead.
    val tokens = Dedup.withShingles(
        Tables.documents(s, dir).select(col("doc_id"), col("text"))
          .dropDuplicates(Seq("doc_id", "text")), "text")
      .select(col("doc_id"), explode(col("sh")).as("tok"))
    Dedup.containmentJoin(tokens, "doc_id", 1, 2)
      .filter(col("n_a") >= 10)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("inter_n"), col("n_a"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DSIR-style importance resampling (Xie et al., "Data Selection
    * for Language Models via Importance Resampling", NeurIPS 2023 —
    * public paper; integer-exact formulation): score every document
    * by how much its word-bigram mass looks like a TARGET slice
    * (lang = 'en') versus the RAW corpus, keep the top 100. Per
    * bigram occurrence the target model contributes its target
    * count, the raw model its corpus count; a document's weight is
    * Σ target-counts / Σ raw-counts over its bigram stream. The
    * ranking is emitted as an exact INTEGER — weight_ppb =
    * ⌊num_target·10⁹ / den_raw⌋ via truncating decimal division —
    * never as a raw double: integer outputs hash identically in any
    * engine, while double→string formatting (and DuckDB's
    * HUGEINT→DOUBLE cast past 2⁶³) does not. Deterministic
    * (weight_ppb DESC, doc_id) top-k.
    *
    * Scale shape: two bigram-keyed count aggregates (the LM tables),
    * two shuffle joins of the linear bigram stream against them —
    * bigram vocab at 100 TB is far past broadcast, so the equi-join
    * shuffles on the bigram key, which AQE can re-split on skew (the
    * Zipf head) — one doc-keyed sum, and a TakeOrderedAndProject
    * top-k (never a global sort). */
  def qDsirResample(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("lang"), explode(expr(
        "CASE WHEN size(w) >= 2 THEN transform(sequence(0, size(w)-2)," +
          " i -> concat(w[i], ' ', w[i+1])) ELSE array() END")).as("bg"))
    val target = bg.filter(col("lang") === "en")
      .groupBy(col("bg")).agg(count(lit(1)).as("ct"))
    val raw = bg.groupBy(col("bg")).agg(count(lit(1)).as("cr"))
    bg.join(raw, "bg")
      .join(target, Seq("bg"), "left")
      .groupBy(col("doc_id"))
      // decimal accumulators (the q_regression lesson): cr is a
      // GLOBAL count joined per row, so a long doc whose bigrams all
      // sit in the Zipf head can push Σcr past Long.Max at corpus
      // scale even though each term fits easily
      .agg(sum(coalesce(col("ct"), lit(0L)).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("num_target"),
        sum(col("cr").cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("den_raw"))
      // integer ranking (the q_regression precedent): ppb quotient is
      // ≤ 10⁹ (num_target ≤ den_raw), so IntegralDivide's BIGINT
      // result can never overflow — the decimal(38,0) product keeps
      // 29 digits of headroom above the 10⁹ scale factor. The wide
      // decimals stay INTERNAL: both emitted diagnostics are bounded
      // by total bigram occurrences (BIGINT-safe to ~9·10¹⁸), so they
      // leave the plan as BIGINT — DECIMAL(38,0) output columns render
      // differently across engines at the driver's hash layer.
      .select(col("doc_id"),
        col("num_target").cast("long").as("num_target"),
        col("den_raw").cast("long").as("den_raw"),
        expr("CAST((num_target * 1000000000) div den_raw AS BIGINT)")
          .as("weight_ppb"))
      .orderBy(col("weight_ppb").desc, col("doc_id"))
      .limit(100)
  }

  /** Domain-mixture allocation (DoReMi-flavored — Xie et al., "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    * NeurIPS 2023, public paper; integer-exact formulation): decide
    * how a fixed training-token budget is split across data domains
    * (`source`). Each domain's weight is its size, boosted by an
    * excess-quality term — here lexical diversity (type-token ratio in
    * ppb) above the worst domain's, standing in for DoReMi's
    * excess-loss signal, which needs a proxy model this engine doesn't
    * ship. A 10,000-doc budget is then apportioned by the
    * largest-remainder (Hamilton) method: exact integer floor shares
    * plus one extra seat per highest remainder (ties → source asc) —
    * deterministic, Σalloc = budget exactly.
    *
    * Scale shape: one shuffle on (source, word) for the distinct-word
    * partial aggregate, one on source for the doc counts; the window
    * stages run on ONE row per domain — domain cardinality is bounded
    * (it's a curated mixture), so the unpartitioned windows hold a
    * bounded row set, the same class as a quantile bucket map. The
    * weight product runs in decimal(38,0) internally (n_docs·2·10⁹
    * overflows BIGINT near ~10⁹ docs/domain) and emits BIGINT. */
  def qDomainMix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val words = docs.select(col("source"), explode(split(col("text"), " ")).as("w"))
    val stats = words.groupBy(col("source")).agg(
      countDistinct(col("w")).as("distinct_words"),
      count(lit(1)).as("total_words"))
    val nd = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val wg = Window.partitionBy()
    val wr = Window.orderBy(col("rem").desc, col("source"))
    nd.join(stats, "source")
      .select(col("source"), col("n_docs"),
        expr("CAST((distinct_words * 1000000000) div total_words AS BIGINT)")
          .as("ttr_ppb"))
      .withColumn("excess", col("ttr_ppb") - min(col("ttr_ppb")).over(wg))
      .withColumn("wdec",
        expr("CAST(n_docs AS DECIMAL(38,0)) * (1000000000 + excess)"))
      .withColumn("tot", sum(col("wdec")).over(wg))
      .withColumn("basealloc", expr("CAST((wdec * 10000) div tot AS BIGINT)"))
      .withColumn("rem", expr("CAST((wdec * 10000) % tot AS DECIMAL(38,0))"))
      .withColumn("rshort", lit(10000L) - sum(col("basealloc")).over(wg))
      .withColumn("rn", row_number().over(wr).cast("long"))
      .select(col("source"), col("n_docs"), col("ttr_ppb"),
        col("wdec").cast("long").as("weight"),
        (col("basealloc") +
          when(col("rn") <= col("rshort"), 1L).otherwise(0L)).as("alloc"))
      .orderBy(col("source"))
  }

  /** Mixture MATERIALIZATION: execute a domain allocation — select,
    * per domain, exactly its allocated number of documents by
    * deterministic hash rank (md5 of the doc id: engine-neutral,
    * reshuffle-stable — the same doc set is selected on any cluster,
    * any partitioning). The allocation is the q_domain_mix largest-
    * remainder apportionment re-derived with a SCALE-FREE budget of
    * half the corpus (a fixed budget degenerates at small SF: every
    * domain keeps everything). A max-boost domain's seat count can
    * round one past its availability; the rank filter then keeps all
    * its docs — identical behavior in both engines, documented rather
    * than special-cased.
    *
    * Scale shape: the per-domain allocation relation is one row per
    * domain (broadcast side of the final join); document ranking is
    * one window partitioned BY DOMAIN — per-partition state bounded by
    * the largest domain, the same bound every per-group top-k in the
    * catalog already carries. */
  def qMixMaterialize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val words = docs.select(col("source"), explode(split(col("text"), " ")).as("w"))
    val stats = words.groupBy(col("source")).agg(
      countDistinct(col("w")).as("distinct_words"),
      count(lit(1)).as("total_words"))
    val nd = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val wg = Window.partitionBy()
    val wr = Window.orderBy(col("rem").desc, col("source"))
    val alloc = nd.join(stats, "source")
      .select(col("source"), col("n_docs"),
        expr("CAST((distinct_words * 1000000000) div total_words AS BIGINT)")
          .as("ttr_ppb"))
      .withColumn("excess", col("ttr_ppb") - min(col("ttr_ppb")).over(wg))
      .withColumn("wdec",
        expr("CAST(n_docs AS DECIMAL(38,0)) * (1000000000 + excess)"))
      .withColumn("tot", sum(col("wdec")).over(wg))
      .withColumn("budget", expr("CAST(sum(n_docs) OVER () div 2 AS BIGINT)"))
      .withColumn("basealloc", expr("CAST((wdec * budget) div tot AS BIGINT)"))
      .withColumn("rem", expr("CAST((wdec * budget) % tot AS DECIMAL(38,0))"))
      .withColumn("rshort", col("budget") - sum(col("basealloc")).over(wg))
      .withColumn("rn", row_number().over(wr).cast("long"))
      .select(col("source"),
        (col("basealloc") +
          when(col("rn") <= col("rshort"), 1L).otherwise(0L)).as("alloc"))
    val wd = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.select(col("source"), col("doc_id"))
      .withColumn("rk", row_number().over(wd).cast("long"))
      .join(broadcast(alloc), "source")
      .filter(col("rk") <= col("alloc"))
      .select(col("source"), col("doc_id"), col("rk"))
      .orderBy(col("source"), col("rk"))
  }

  /** Paragraph-level corpus dedup (CCNet-shaped — Wenzek et al.,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data", LREC 2020, public paper, dedupes at the PARAGRAPH
    * level before any document-level pass): each document is cut into
    * fixed 10-word blocks (the paragraph unit on this punctuation-free
    * synthetic text — real text would split on newline), every block
    * is content-hashed, and only the globally FIRST occurrence of each
    * distinct block survives (first = smallest (doc_id, position), the
    * deterministic arrival order). Per document the query reports how
    * many of its blocks survived and the md5 of the re-assembled
    * surviving text — boilerplate shared across documents vanishes
    * from all but its first carrier.
    *
    * Scale shape: block explode is a pure projection (reuses
    * [[operators.TextPrep.withChunks]] with overlap 0 — no shuffle);
    * first-occurrence is ONE row_number window partitioned by the
    * 128-bit block hash (shuffle keys are fixed-width digests, never
    * paragraph text); re-assembly is one groupBy(doc_id). Two
    * fine-grained shuffles total — the same shape CCNet runs over
    * Common Crawl, no global sort, no driver state. */
  def qParagraphDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val blocks = TextPrep.withChunks(docs, "text", chunkTokens = 10, overlap = 0)
      .select(col("doc_id"), col("chunk_idx").as("pos"),
        col("chunk_text").as("blk"), md5(col("chunk_text")).as("h"))
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))
    blocks.withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("kept_blocks"),
        md5(concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN rn = 1 THEN struct(pos, blk) END)), x -> x.blk)")))
          .as("kept_hash"))
      .orderBy(col("doc_id"))
  }

  /** Collocation mining by pointwise mutual information, integer-
    * exact: adjacent word pairs whose co-occurrence beats independence
    * — the classic phrase-discovery signal (Church & Hanks, CL 1990)
    * a tokenizer/vocab pipeline runs before merging multi-word units.
    * Since log is monotone, ranking by PMI == ranking by the raw
    * lift ratio p(xy)/(p(x)p(y)) = c(xy)·N_w² / (N_bg·c(x)·c(y)) —
    * emitted as truncated ppm so no transcendental ever evaluates and
    * both engines agree bit-for-bit (log would differ in ulps).
    * Min-support c(xy) ≥ 5 kills the unstable singleton tail;
    * deterministic top-50 by (lift DESC, x, y).
    *
    * Scale shape: bigram and unigram counts are map-side-combined hash
    * aggregates (one shuffle each on the gram key); the unigram
    * relation after aggregation is vocabulary-sized — broadcast to
    * both join probes — and the corpus-wide totals are a 1-row
    * broadcast. Top-k is TakeOrderedAndProject, never a global sort.
    * The ppm numerator c(xy)·N_w²·10⁶ runs in decimal(38,0): exact up
    * to N_w ≈ 10¹⁴ words with hot pairs at 10⁴ (38 digits; DuckDB's
    * HUGEINT ceiling is the same 10³⁸) — past that envelope the scale
    * constant must drop, documented rather than silently wrapped. */
  def qPmiCollocations(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val words = docs.select(split(col("text"), " ").as("w"))
    val uni = words.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c1"))
    val bgc = words.select(explode(expr(
        "CASE WHEN size(w) >= 2 THEN transform(sequence(0, size(w)-2), " +
          "i -> struct(w[i] AS x, w[i+1] AS y)) ELSE array() END")).as("b"))
      .select(col("b.x").as("x"), col("b.y").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("pair_n"))
    val totals = words.agg(
      expr("CAST(sum(size(w)) AS DECIMAL(38,0))").as("n_w"),
      expr("CAST(sum(greatest(size(w) - 1, 0)) AS DECIMAL(38,0))").as("n_bg"))
    bgc
      .join(broadcast(uni.select(col("t").as("x"), col("c1").as("cx"))), "x")
      .join(broadcast(uni.select(col("t").as("y"), col("c1").as("cy"))), "y")
      .crossJoin(broadcast(totals))
      .filter(col("pair_n") >= 5)
      .select(col("x"), col("y"), col("pair_n"),
        col("cx"), col("cy"),
        expr("CAST((CAST(pair_n AS DECIMAL(38,0)) * n_w * n_w * 1000000) div " +
          "(n_bg * CAST(cx AS DECIMAL(38,0)) * CAST(cy AS DECIMAL(38,0))) AS BIGINT)")
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("x"), col("y"))
      .limit(50)
  }

  /** Curriculum staging: bucket the corpus into 4 difficulty stages
    * at the EXACT global quartiles of a difficulty metric (here word
    * count — a curriculum schedule trains easy→hard, e.g. Bengio et
    * al., ICML 2009), and report each stage's size and bounds.
    * Quartile boundaries come from [[operators.Quantiles.quantiles]]
    * — multi-pass histogram refinement, rank = ceil(q·n), never a
    * global sort — and a document's stage is 1 + #(boundaries
    * strictly below its metric), so ties land in the lower stage
    * deterministically (a boundary value equal to another collapses
    * that stage to empty rather than double-counting).
    *
    * Scale shape: boundary extraction is O(passes) counting
    * aggregates with O(buckets) driver state (the audited
    * q_quantile_global path); the 3 boundary doubles are driver
    * literals folded into the stage projection — no join, no window —
    * and the final rollup is one 4-group hash aggregate. */
  def qCurriculum(s: SparkSession, dir: String): DataFrame = {
    // NULL docs have no curriculum stage — unfiltered, Spark's
    // size(split(NULL)) = -1 would both skew the quantile bounds and
    // dump them into stage 1 (r17 nullify metamorphic sweep)
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("m"))
    val bounds = Quantiles.quantiles(docs, "m", Seq(0.25, 0.5, 0.75))
      .orderBy(col("q")).collect().map(_.getDouble(1))
    val stage = bounds.foldLeft(lit(1L)) { (acc, b) =>
      acc + when(col("m") > lit(b), 1L).otherwise(0L)
    }
    docs.withColumn("stage", stage)
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("m")).as("min_words"), max(col("m")).as("max_words"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("stage"))
  }

  /** Incremental (batch-vs-corpus) dedup: the shape a production
    * ingest runs daily — a NEW batch of documents (here the
    * deterministic doc_id%10==9 slice) is screened against the
    * EXISTING corpus without ever re-deduping the corpus against
    * itself. Exact duplicates are found by content-hash semi-join;
    * near-duplicates by MinHash/LSH band-key collision against the
    * corpus's band index (the same 16×4 banding as q_dedup_minhash,
    * threshold ≈ 0.5). Every batch document is emitted with both
    * flags — the survivors are the rows with both zero.
    *
    * Scale shape: this is the whole point of the incremental form —
    * cost scales with |batch| + the corpus INDEX (distinct content
    * hashes + band keys, both fixed-width digests a production system
    * keeps materialized), never with corpus text. Both probes are
    * semi-joins that shuffle only digest keys; with a daily batch ≪
    * corpus the batch side broadcasts. No pair enumeration: a batch
    * doc matching a 1000-doc near-dup cluster costs one collision,
    * not 1000 pairs. */
  def qIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") % 10 === 9)
    val corpus = docs.filter(col("doc_id") % 10 =!= 9)
    val exactHits = batch.withColumn("h", md5(col("text")))
      .join(corpus.select(md5(col("text")).as("h")).distinct(), Seq("h"), "left_semi")
      .select(col("doc_id"))
    // fused band keys (r20): signature + band md5s in ONE expression,
    // so no exchange-reshaped stage can ever inline the k-hash chain
    // per extracted column (the r19 wide-extract trap this path still
    // carried via withMinhashSignature's 64-column extraction)
    def bands(df: DataFrame) =
      Dedup.withLshBandKeys(Dedup.withShingles(df, "text"))
        .select(col("doc_id"), col("band_idx"), col("band_key"))
    val nearHits = bands(batch)
      .join(bands(corpus).select(col("band_idx"), col("band_key")).distinct(),
        Seq("band_idx", "band_key"), "left_semi")
      .select(col("doc_id")).distinct()
    batch.select(col("doc_id"))
      .join(exactHits.withColumn("e", lit(1L)), Seq("doc_id"), "left")
      .join(nearHits.withColumn("nr", lit(1L)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("e"), lit(0L)).as("is_exact_dup"),
        coalesce(col("nr"), lit(0L)).as("is_near_dup"))
      .orderBy(col("doc_id"))
  }

  /** Content-defined chunk dedup: cut every document with the gear
    * rolling hash ([[graft.functions.GearChunksExpr]] — LBFS/FastCDC
    * breakpoints, shift-invariant) and report every chunk that
    * recurs across the corpus. Where q_paragraph_dedup's fixed
    * blocks lose alignment after one insertion, CDC chunks re-align
    * immediately — the standard storage/training-data trick for
    * finding shared spans between shifted near-duplicates.
    *
    * Scale shape: chunking is one codegen'd projection + explode
    * (linear, no shuffle); the only shuffle is the groupBy on chunk
    * content (bounded by corpus size, fixed-width after the md5 in
    * the projection that follows); top-100 is TakeOrderedAndProject.
    */
  def qCdcChunks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.Cdc.gearChunks(col("text"))).as("chunk"))
      .filter(length(col("chunk")) >= 16)
      .groupBy(col("chunk"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occ") >= 2)
      .select(md5(col("chunk")).as("chunk_hash"),
        length(col("chunk")).cast("long").as("chunk_len"),
        col("n_occ"), col("n_docs"))
      .orderBy(col("n_occ").desc, col("chunk_hash"))
      .limit(100)

  /** Weighted global quantiles WITHOUT a global sort: the smallest
    * value whose cumulative WEIGHT reaches ceil(q·W) — here revenue
    * percentiles weighted by quantity, the shape every "what value
    * covers half the volume" question takes. Same histogram-
    * refinement scheme as q_quantile_global with COUNT replaced by
    * SUM(weight) ([[operators.Quantiles.weightedRankElement]]):
    * O(passes) counting aggregates, O(buckets) driver state, never a
    * sort — a weighted percentile at 100 TB costs 2-3 shrinking
    * scans. */
  def qWeightedQuantiles(s: SparkSession, dir: String): DataFrame =
    Quantiles.weightedQuantiles(
      Tables.lineitem(s, dir).select(col("l_extendedprice"), col("l_quantity")),
      "l_extendedprice", "l_quantity", Seq(0.25, 0.5, 0.95))

  /** Leave-one-out source ablation: for every data domain, what the
    * corpus-level metric (mean words/doc, exact integer ppm) becomes
    * WITHOUT that domain — the bookkeeping half of a mixture ablation
    * study (the counterpart of q_domain_mix's weighting: before
    * re-weighting a domain, quantify what its removal does to the
    * aggregate). delta_ppm > 0 means the domain was dragging the
    * metric down. All leave-one-out values come from ONE aggregation:
    * LOO(mean) = (T − t_s)/(N − n_s) needs only per-source and global
    * sufficient statistics — no per-domain rescan, which is what
    * makes a 20-domain ablation one pass instead of 20.
    *
    * Scale shape: one groupBy(source) over the corpus, a 1-row
    * broadcast of the totals, arithmetic in decimal(38,0) (words·10⁶
    * passes BIGINT near 10¹³ words), BIGINT emit. */
  def qSourceAblation(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("nw"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"))
    val tot = per.agg(sum(col("n_docs")).as("t_docs"), sum(col("n_words")).as("t_words"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_words"),
        expr("CAST((CAST(t_words AS DECIMAL(38,0)) * 1000000) div t_docs AS BIGINT)")
          .as("full_mean_ppm"),
        expr("CAST((CAST(t_words - n_words AS DECIMAL(38,0)) * 1000000) div " +
          "nullif(t_docs - n_docs, 0) AS BIGINT)").as("loo_mean_ppm"))
      .withColumn("delta_ppm", col("loo_mean_ppm") - col("full_mean_ppm"))
      .orderBy(col("source"))
  }

  /** Functional-dependency discovery — the profiling question "does
    * column A determine column B?" answered exactly for a candidate
    * set, with violation counts (how broken, not just whether): a
    * governance/migration tool uses the held FDs as constraints and
    * the violated ones as data-quality findings. Each candidate is
    * one aggregation pass: group by the LHS, count distinct RHS
    * values per group, roll up groups/violations/worst-case fan-out.
    *
    * Scale shape: one map-side-combined aggregate per candidate (the
    * countDistinct expands to a two-phase agg on (lhs, rhs) — still
    * linear, no joins); candidates are independent, so Spark runs
    * the four branches of the union concurrently. */
  def qFdDiscovery(s: SparkSession, dir: String): DataFrame = {
    def fd(df: DataFrame, name: String, lhs: String, rhs: String): DataFrame =
      df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("nd"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violating"),
          max(col("nd")).as("max_rhs"))
        .select(lit(name).as("fd"), col("n_groups"), col("n_violating"),
          col("max_rhs"),
          when(col("n_violating") === 0, 1L).otherwise(0L).as("holds"))
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    fd(l, "l_orderkey->l_shipdate", "l_orderkey", "l_shipdate")
      .unionAll(fd(l, "l_partkey->l_suppkey", "l_partkey", "l_suppkey"))
      .unionAll(fd(l, "l_suppkey->l_partkey", "l_suppkey", "l_partkey"))
      .unionAll(fd(o, "o_orderkey->o_custkey", "o_orderkey", "o_custkey"))
      .orderBy(col("fd"))
  }

  /** Eval-side leakage report — the symmetric rollup of
    * q_decontaminate: per BENCHMARK item, how many of its 4-grams
    * appear in the training corpus and how many training documents
    * carry them. Decontamination scrubs the training side; this
    * drives the other decision (exclude or discount the eval item).
    * Same broadcast shape: eval shingles broadcast, corpus streams. */
  def qEvalLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    operators.TextPrep.evalLeakage(
        docs.filter(pmod(col("doc_id"), lit(13)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(13)) === 0),
        "doc_id", "text", 4)
      .orderBy(col("eval_id"))
  }

  /** Opt-in approximate-distinct rewrite, exercised end-to-end: the
    * query ASKS for an exact `count(DISTINCT o_custkey)` per order
    * status, and [[graft.plans.ApproxDistinctRule]] (registered on an
    * isolated child session) swaps the Expand-based exact pipeline —
    * whose intermediate state is one row per distinct value — for the
    * engine-deterministic 256-counter HLL estimator in the OPTIMIZER.
    * The oracle computes the same estimator in SQL, so the hash-match
    * proves the rewritten plan is the sketch, bit for bit.
    * ApproxDistinctSpec asserts the plan actually rewrote (no
    * distinct aggregate survives) and pins the non-rewrite guards. */
  def qApproxRewrite(s: SparkSession, dir: String): DataFrame = {
    val as = graft.plans.ApproxDistinct.sessionWith(s)
    Tables.orders(as, dir)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_custkeys_est"))
      .orderBy(col("o_orderstatus"))
  }

  /** Contrastive training-pair generation: (anchor, positive,
    * negatives) triplets for embedding/retrieval training. Positives
    * are VERIFIED near-duplicates (LSH candidates passing the exact
    * integer Jaccard test 2·|A∩B| ≥ |A∪B| — no double threshold to
    * wobble); each anchor takes its smallest-id verified partner.
    * Negatives are the hard part at scale: "pick k random docs per
    * anchor" naively needs an anchor×corpus pairing. Here both sides
    * hash into B buckets (md5-derived, engine-neutral) and pairing
    * happens WITHIN buckets only — per-anchor candidates are one
    * bucket of the corpus, the standard linear-cost trick (B grows
    * with the corpus, bucket size stays constant). Per anchor: 2
    * negatives from a DIFFERENT source (cheap hard-negative
    * heuristic), ranked by md5(anchor|neg) — deterministic on any
    * cluster, any partitioning.
    *
    * B is DATA-DEPENDENT — greatest(16, n_docs div 500) — so buckets
    * stay ≈500 docs at every corpus size; a fixed B would make the
    * pairing join quadratic (measured: the first sf1.0 sweep ran
    * B=16 at 15.2× the sf0.1 time; this formula restores linear).
    * The oracle computes B with the identical integer formula, so
    * determinism survives the scaling rule.
    *
    * Scale shape: candidate generation is the audited LSH banding;
    * verification touches candidates only; the negative join shuffles
    * on the bucket key; ranking windows partition per anchor and hold
    * one ≈500-row bucket. No stage is quadratic in the corpus. */
  def qContrastivePairs(s: SparkSession, dir: String): DataFrame = Rounds.scoped { scope =>
    import org.apache.spark.sql.expressions.Window
    val sig = minhashSigned(scope, s, dir)
    val cands = Dedup.lshCandidatePairs(Dedup.withLshBands(sig), "doc_id")
    val sh = Tables.documents(s, dir)
      .select(col("doc_id"), graft.functions.Shingles.shingles(col("text"), 3).as("sh"))
    val verified = cands
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("i", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("u", size(col("sh_a")) + size(col("sh_b")) - col("i"))
      .filter(col("i") * 2 >= col("u"))
      .select(col("id_a"), col("id_b"))
    val anchors = verified.select(col("id_a").as("anchor_id"), col("id_b").as("partner"))
      .unionAll(verified.select(col("id_b").as("anchor_id"), col("id_a").as("partner")))
      .groupBy(col("anchor_id")).agg(min(col("partner")).as("pos_id"))
    val ds = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val nBuckets = math.max(16L, ds.count() / 500L)
    val ab = anchors
      .join(ds.select(col("doc_id").as("anchor_id"), col("source").as("a_src")), "anchor_id")
      .withColumn("bkt", pmod(Sketches.hash32(col("anchor_id")), lit(nBuckets)))
    val nb = ds.select(col("doc_id").as("neg_id"), col("source").as("n_src"))
      .withColumn("bkt", pmod(Sketches.hash32(col("neg_id")), lit(nBuckets)))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(md5(concat(col("anchor_id").cast("string"), lit("|"),
        col("neg_id").cast("string"))), col("neg_id"))
    materializeFinal("q_contrastive_pairs",
      ab.join(nb, "bkt")
        .filter(col("n_src") =!= col("a_src") &&
          col("neg_id") =!= col("anchor_id") && col("neg_id") =!= col("pos_id"))
        .withColumn("neg_rank", row_number().over(w).cast("long"))
        .filter(col("neg_rank") <= 2)
        .select(col("anchor_id"), col("pos_id"), col("neg_id"), col("neg_rank"))
        .orderBy(col("anchor_id"), col("neg_rank")))
  }

  /** Winsorized robust aggregate: clip the value distribution at its
    * exact 1st/99th percentiles, then aggregate the clipped column —
    * the standard outlier-robust mean/sum (tail values are capped,
    * not dropped, so totals stay comparable). The clip boundaries are
    * the [[operators.Quantiles.rankElement]] exact rank elements
    * (rank = ceil(q·n), never a global sort) folded into the clip
    * projection as literals — the same no-join composition as
    * q_curriculum. One final single-group aggregate; the sum routes
    * through DECIMAL(18,2) on both engines (raw double sums are
    * partition-order sensitive). */
  def qWinsorized(s: SparkSession, dir: String,
      pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_extendedprice").as("v"))
    val n = li.filter(col("v").isNotNull).count()
    // rank = ceil(q·0) = 0 is not a rank — on an empty relation skip
    // the refinement and emit the degenerate single-row aggregate
    // (count 0, null sums) with inert clip literals
    val lo = if (n == 0L) 0.0
      else Quantiles.rankElement(li, "v", math.ceil(pLo * n).toLong)
    val hi = if (n == 0L) 0.0
      else Quantiles.rankElement(li, "v", math.ceil(pHi * n).toLong)
    li.filter(col("v").isNotNull)
      .select(
        when(col("v") < lit(lo), lit(lo))
          .when(col("v") > lit(hi), lit(hi))
          .otherwise(col("v")).as("w"),
        col("v"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("v") < lit(lo), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("v") > lit(hi), 1L).otherwise(0L)).as("n_clipped_hi"),
        sum(col("w").cast(dec)).cast("double").as("sum_winsorized"),
        min(col("w")).as("lo_bound"), max(col("w")).as("hi_bound"))
  }

  /** Markov transition matrix over the event stream: per (src, dst)
    * event-type pair, how often dst follows src for the same user,
    * with the transition probability in exact integer ppm — the
    * next-event model a product-analytics stack derives before any
    * sequence model. One lead() in a per-user window (single key
    * shuffle, same shape as q_event_paths), then a hash aggregate;
    * the per-src normalization window runs on the AGGREGATED
    * |types|² relation — bounded cardinality, not the stream. */
  def qMarkovTransitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val wSrc = Window.partitionBy(col("src"))
    Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("t"), col("event_id"),
        col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).as("n"))
      .withColumn("src_total", sum(col("n")).over(wSrc))
      .select(col("src"), col("dst"), col("n"),
        expr("CAST((n * 1000000) div src_total AS BIGINT)").as("prob_ppm"))
      .orderBy(col("src"), col("dst"))
  }

  /** Frequent item PAIRS (market-basket level 2): parts that co-occur
    * in the same order, with support counts — the Apriori second
    * level, which is where basket analysis actually starts paying.
    * Counting runs through [[supportedPairs]] — candidate-first, so a
    * degenerate mega-basket (the adversarial-skew hot order) cannot
    * pin a task with ~5·10⁷ support-1 pairs the ≥2 filter would
    * discard anyway; on normal smallint-sized baskets it reduces to
    * the classic per-basket self-join, linear in lineitems. */
  def qItemsetPairs(s: SparkSession, dir: String): DataFrame =
    Rounds.scoped { scope =>
      val items = scope.persistLazy(distinctBasketItems(s, dir))
      val (pairs, _) = supportedPairs(items, scope)
      val res = pairs
        .select(col("a").as("p_a"), col("b").as("p_b"),
          col("c_ab").as("support"))
        .orderBy(col("support").desc, col("p_a"), col("p_b"))
        .limit(50)
      materializeFinal("q_itemset_pairs", res)
    }

  /** The (ok, pk)-distinct basket item relation both pair-core
    * queries checkpoint. The dedup's exchange hash-partitions on the
    * FULL key at the engine's default parallelism, pinned against AQE
    * coalescing: the downstream per-basket self-join does its
    * CPU-bound pair explosion BEFORE any exchange, so the
    * checkpoint's partition count IS that stage's task count — AQE's
    * byte-based coalescing saw ~6 MB here and squeezed it to 5 tasks,
    * serializing the dominant stage on a 32-core host (StageProfile
    * r20: q_item_lift 3.5 s run ≈ 3.4 s CPU on 5 tasks). Width
    * derives from defaultParallelism, never a constant; the exchange
    * count is unchanged (the pinned repartition REPLACES the
    * distinct's own exchange — hash(ok, pk) satisfies the dedup
    * aggregate's clustering, so partial and final fuse in-stage). */
  private def distinctBasketItems(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .repartition(s.sparkContext.defaultParallelism, col("ok"), col("pk"))
      .distinct()

  /** Exact co-occurrence pair counts with support ≥ 2 over an
    * (ok, pk) item relation — the skew-immune candidate-first core
    * shared by [[qItemsetPairs]] and [[qItemLift]]. A pair can reach
    * support ≥ 2 only if (a) some SMALL basket (≤256 items) contains
    * it — those pairs enumerate via the volume-bounded per-basket
    * self-join — or (b) TWO big baskets contain it — those lie inside
    * a pairwise big∩big intersection. A mega-basket's support-1 pairs
    * are never materialized (the enumerate-then-count forms all die
    * on one: collect_set+explode pins ONE task — a single array row
    * cannot split; a plain self-join is join-OUTPUT explosion AQE's
    * byte-based skew split cannot see; a salted join spreads
    * generation but still aggregates ~5·10⁷ doomed pairs).
    *
    * Big-basket containment is tiered by bounded driver scalars
    * (one aggregate job over the caller-persisted `items`):
    *
    *  - **No big baskets** (every unskewed SF): the whole machinery
    *    collapses to `smallCounts.filter(≥ 2)` — one self-join + one
    *    aggregate, nothing persisted.
    *  - **Bitmap tier** (≤ 62 big baskets, ≤ 1M big items): membership
    *    of each item in the big baskets is a single BIGINT bitmap —
    *    a ≤4M-row broadcast relation — so a pair's big-basket count
    *    is `bit_count(bits(a) & bits(b))` behind two broadcast hash
    *    joins on the small-pair aggregate: no candidate set, no
    *    containment key-joins, no assembly joins, scan-shaped.
    *    Pairs living ONLY in big baskets still enumerate via the
    *    big∩big intersection (anti-joined against the small pairs so
    *    nothing double-counts).
    *  - **Join tier** (the scale-general fallback): candidates =
    *    small pairs ∪ big∩big intersection pairs; each candidate's
    *    containment count via two key joins against the big item
    *    relation. Shared intermediates are round-persisted in the
    *    caller's `scope`, which frees them after its final lands.
    *
    * `items` must be (ok, pk)-distinct and persisted by the caller —
    * eagerly, or lazily ([[operators.Rounds.Scope.persistLazy]]): the
    * gate aggregate here is the first job over it and doubles as the
    * lazy checkpoint's materializer (it feeds that gate plus up to four
    * subtrees); internal persists go into the caller's `scope` so they
    * release even when the gate `head()`, the idx collect, or the final
    * materialization throws (ADVICE r16).
    * Returns ((a, b, c_ab), nBaskets), a < b, c_ab ≥ 2,
    * exact; nBaskets = COUNT(DISTINCT ok), a bounded scalar the gate
    * aggregate already pays for (qItemLift's lift denominator N). */
  private[graft] def supportedPairs(items: DataFrame,
      scope: Rounds.Scope,
      bigBasketThreshold: Long = operators.GateKnobs.paircoreBigThreshold,
      bitmapTierMaxDistinctBig: Long = operators.GateKnobs.paircoreMaxDistinctBig,
      bitmapTierMaxBigItemsKnob: Long = operators.GateKnobs.paircoreMaxBigItems): (DataFrame, Long) = {
    // Bitmap-tier admission bound on Σ big-basket items (= mask rows).
    // Validated AT the bound (PairCoreSpec "1M big-item bound"): the
    // persisted mask canonicalizes to ONE broadcast build — measured
    // dataSize 64 MiB at 1M rows — reused at all four withBits join
    // sites (the bits_a/bits_b subtrees differ only in aliases), so
    // peak concurrent broadcast memory is one ~64 MiB relation plus
    // hash-map overhead, not the four independent 4M-entry builds the
    // old un-validated 4M bound assumed (ADVICE r16). Past 1M the
    // join tier's key-join containment is the scale-correct path
    // anyway; the measured skew design point (~200k big items) sits
    // 5× under this gate.
    // (the gate constants are default args so tier-forcing sweeps —
    // GateSweep — can pin each tier exact on real data; catalog
    // callers always use the defaults)
    val bitmapTierMaxBigItems = bitmapTierMaxBigItemsKnob
    // the split key set (baskets > 256 items) is anomalies-only by
    // construction — broadcast semi/anti beats re-shuffling the whole
    // item relation against its own size aggregate
    val basketSizes = items.groupBy(col("ok")).agg(count(lit(1)).as("bsz"))
    val bigOks = basketSizes.filter(col("bsz") > bigBasketThreshold)
    // strategy gate: THREE bounded driver scalars from ONE aggregate
    // over the per-basket sizes (r20: the total basket count rides
    // along so qItemLift's N never needs its own distinct-count
    // subtree). This is the FIRST job over `items`, so a lazily
    // checkpointed caller relation materializes its blocks here —
    // the gate doubles as the persist job (guide §2, one-job rounds).
    val gate = basketSizes.agg(
      count(lit(1)),
      coalesce(sum(when(col("bsz") > bigBasketThreshold, lit(1L))), lit(0L)),
      coalesce(sum(when(col("bsz") > bigBasketThreshold, col("bsz"))),
        lit(0L))).head()
    val nBaskets = gate.getLong(0)
    val nBig = gate.getLong(1)
    val bigItems = gate.getLong(2)
    val bigOkKeys = bigOks.select(col("ok"))
    // Zero-big collapse routes over `items` DIRECTLY: bigOkKeys is
    // empty so the anti-join would be an identity, but executing it
    // re-runs the bigOks aggregate inside the final plan — paying the
    // gate's shuffle twice (StageProfile at sf10: a redundant 363 MB
    // shuffle write + 56M-record aggregate, ~8% of the query's task
    // time, for a relation the gate already proved empty).
    val small =
      if (nBig == 0L) items
      else items.join(broadcast(bigOkKeys), Seq("ok"), "left_anti")
    val big = items.join(broadcast(bigOkKeys), Seq("ok"), "left_semi")
    def smallCountsPlan = small.select(col("ok"), col("pk").as("a"))
      .join(small.select(col("ok"), col("pk").as("b")), "ok")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_small"))
    if (nBig == 0L) {
      operators.TierProbe.record("paircore", "zero-big")
      return (smallCountsPlan.filter(col("c_small") >= 2)
        .select(col("a"), col("b"), col("c_small").as("c_ab")), nBaskets)
    }
    def interPlan = big.select(col("ok").as("okx"), col("pk"))
      .join(big.select(col("ok").as("oky"), col("pk")), "pk")
      .filter(col("okx") < col("oky"))
    def bigBigCandsPlan = interPlan
      .select(col("okx"), col("oky"), col("pk").as("a"))
      .join(interPlan.select(col("okx"), col("oky"), col("pk").as("b")),
        Seq("okx", "oky"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    if (nBig <= bitmapTierMaxDistinctBig && bigItems <= bitmapTierMaxBigItems) {
      operators.TierProbe.record("paircore", "bitmap")
      // bitmap tier: basket index 0..61 from a bounded collect (gated
      // ≤62 rows — same class as the whitelisted Bloom-word collects);
      // 62 keeps the Σ2^idx aggregate inside BIGINT with headroom
      val sess = items.sparkSession
      import sess.implicits._
      val idxDf = bigOkKeys.orderBy(col("ok")).collect()
        .map(_.getLong(0)).zipWithIndex.toSeq
        .toDF("ok", "idx")
      // each broadcast() below materializes its subtree independently
      // (two joins per withBits call site) — persist the ≤4M-row mask
      // once instead of recomputing it up to four times
      val mask = scope.persist(PlanProbe.recordRound(
        big.join(broadcast(idxDf), "ok")
          .groupBy(col("pk"))
          .agg(sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), idx) AS BIGINT)"))
            .as("bits"))))
      val withBits = (df: DataFrame) => df
        .join(broadcast(mask.select(col("pk").as("a"),
          col("bits").as("bits_a"))), Seq("a"), "left")
        .join(broadcast(mask.select(col("pk").as("b"),
          col("bits").as("bits_b"))), Seq("b"), "left")
        .withColumn("c_big", expr(
          "CAST(bit_count(coalesce(bits_a, CAST(0 AS BIGINT)) & " +
            "coalesce(bits_b, CAST(0 AS BIGINT))) AS BIGINT)"))
      val needSmallTwice = nBig >= 2L
      val smallCounts =
        if (needSmallTwice) scope.persist(PlanProbe.recordRound(smallCountsPlan))
        else smallCountsPlan
      val smallSide = withBits(smallCounts)
        .select(col("a"), col("b"),
          (col("c_small") + col("c_big")).as("c_ab"))
        .filter(col("c_ab") >= 2)
      val out =
        if (nBig < 2L) smallSide // a lone big basket adds at most 1
        else smallSide.unionByName(
          withBits(bigBigCandsPlan
            .join(smallCounts.select(col("a"), col("b")),
              Seq("a", "b"), "left_anti"))
            .select(col("a"), col("b"), col("c_big").as("c_ab"))
            .filter(col("c_ab") >= 2))
      (out, nBaskets)
    } else {
      // join tier: candidate-first with persisted shared intermediates
      operators.TierProbe.record("paircore", "join")
      val smallCounts = scope.persist(PlanProbe.recordRound(smallCountsPlan))
      val cands = scope.persist(PlanProbe.recordRound(
        smallCounts.select(col("a"), col("b")).unionByName(bigBigCandsPlan)
          .distinct()))
      val cBig = cands
        .join(big.select(col("ok"), col("pk").as("a")), "a")
        .join(big.select(col("ok"), col("pk").as("b")), Seq("b", "ok"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_big"))
      val out = cands
        .join(smallCounts, Seq("a", "b"), "left")
        .join(cBig, Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          (coalesce(col("c_small"), lit(0L)) +
            coalesce(col("c_big"), lit(0L))).as("c_ab"))
        .filter(col("c_ab") >= 2)
      (out, nBaskets)
    }
  }

  /** One-hop neighborhood aggregation (the message-passing primitive
    * a GNN feature pipeline runs): per node of the customer–supplier
    * graph, the average out-degree of its neighbors in exact integer
    * ppm. Same bipartite edge construction as q_pagerank (integer
    * node ids, both directions from one scan); degree relation joins
    * back on the edge dst — two shuffles total, both on node keys.
    * decimal(38,0) internal for the Σdeg·10⁶ product (Σdeg ≤ |E| can
    * reach 10¹² at 100 TB; ×10⁶ brushes the BIGINT ceiling). The edge
    * relation feeds BOTH the degree aggregate and the join probe, and
    * the two consumers prune differently enough that Spark does NOT
    * reuse the exchange (plan-verified: two full orders⋈lineitem +
    * distinct subtrees) — so it is cached once, the q_pagerank
    * discipline. At the test SFs the two variants measure within
    * host noise of each other; at 100 TB recomputing a fact-fact
    * join + distinct twice is strictly worse than one cached build.
    */
  def qNeighborAgg(s: SparkSession, dir: String): DataFrame = {
    val sym = Graph.undirected(purchaseEdges(s, dir), "c", "sup").cache()
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    sym.join(deg.select(col("node").as("dst"), col("deg").as("dst_deg")), "dst")
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("n_neighbors"), sum(col("dst_deg")).as("sum_deg"))
      .select(col("node"), col("n_neighbors"),
        expr("CAST((CAST(sum_deg AS DECIMAL(38,0)) * 1000000) div n_neighbors AS BIGINT)")
          .as("avg_nbr_deg_ppm"))
      .orderBy(col("node"))
  }

  /** Multi-touch attribution: for every purchase, the user's FIRST
    * and LAST marketing touch (click/view) strictly before it — the
    * two classic credit models, computed in ONE pass. Both are
    * IGNORE-NULLS window extractions over the per-user event stream
    * (rows-frame to 1 PRECEDING), so the whole query is a single
    * user-keyed shuffle + one sorted window — never an events×events
    * self-join, which is the naive formulation's quadratic trap.
    * Purchases with no preceding touch report nulls (typed columns,
    * deterministic). */
  def qAttribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type").isin("click", "view"),
      struct(col("t"), col("event_id"), col("event_type")))
    Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("t"), col("event_id"),
        col("event_type"))
      .withColumn("first_touch", first(touch, ignoreNulls = true).over(w))
      .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("first_touch.event_type").as("first_touch_type"),
        col("first_touch.event_id").as("first_touch_id"),
        col("last_touch.event_type").as("last_touch_type"),
        col("last_touch.event_id").as("last_touch_id"))
      .orderBy(col("purchase_id"))
  }

  /** Substring search through a TRIGRAM INDEX, recall-1: a document
    * containing the pattern necessarily contains every character
    * trigram of the pattern, so intersecting the pattern-trigram
    * posting lists yields a candidate set that provably misses
    * nothing; contains() verifies only candidates. The ORACLE is the
    * naive full-scan LIKE — the hash-match IS the recall-1 proof.
    * At 100 TB the posting lists of a selective pattern's trigrams
    * are orders of magnitude smaller than the corpus scan (this is
    * how pg_trgm / code-search indexes work); a deployment
    * materializes the index once and amortizes it across queries.
    * Inline — with no materialized index to probe — the posting-list
    * membership test for each pattern trigram IS `contains(text,
    * trigram)`, so the candidate filter is a fully codegen'd
    * conjunction of 13 substring probes (an earlier explode-the-
    * whole-index formulation paid an interpreted per-row HOF and ran
    * 32 s at sf1.0 for a 12-row answer; this form is one codegen'd
    * linear pass). */
  def qTrigramSearch(s: SparkSession, dir: String): DataFrame = {
    val pattern = "table key value"
    val pgrams = pattern.sliding(3).toSeq.distinct
    val candidate = pgrams.map(g => col("text").contains(lit(g))).reduce(_ && _)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .filter(candidate)
      .filter(col("text").contains(pattern))
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** The dashboard shape through the approx-distinct rewrite: ONE
    * sketched distinct count alongside EXACT companion aggregates
    * (row count, max, an integer-cents revenue sum), all riding the
    * same two-level HLL pipeline — companions travel as per-bucket
    * partials re-aggregated at the keys level, so the whole mixed
    * aggregate still shuffles constant-width rows. The oracle
    * computes the sketch AND the exact companions in SQL and joins
    * them per group: the hash-match proves the rewrite sketched ONLY
    * the distinct count. Revenue is summed in integer cents
    * (floor(price·100): Spark's double→long cast truncates while
    * DuckDB's rounds, but floor agrees everywhere, and a long sum is
    * partition-order-exact where a double sum is not). */
  def qApproxRewriteMixed(s: SparkSession, dir: String): DataFrame = {
    val as = graft.plans.ApproxDistinct.sessionWith(s)
    Tables.orders(as, dir)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_custkeys_est"),
        count(lit(1)).as("n_orders"),
        sum(expr("floor(o_totalprice * 100)")).as("sum_cents"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** BFS hop distances from hub customers over the customer–supplier
    * graph ([[operators.Graph.bfsHops]], 3 bounded rounds): every
    * node labeled with its minimal hop count from the hub set (even
    * node ids < 20 = the first ten customers). Frontier-only
    * expansion — each round shuffles the frontier, never the graph;
    * the oracle is an independent recursive CTE (UNION-deduped, so
    * no path explosion) taking MIN(depth) per node. */
  def qBfsHops(s: SparkSession, dir: String,
      maxHops: Int = 3, seedBound: Long = 20L): DataFrame = Rounds.scoped { scope =>
    // cached pre-partitioned on the BFS join key so each round
    // shuffles only the frontier, never the graph (see
    // q_diameter_2sweep's StageProfile note)
    val edges = scope.cache(Graph.undirected(purchaseEdges(s, dir), "c", "sup")
      .repartition(col("src")))
    val sources = edges.select(col("src").as("node")).distinct()
      .filter(col("node") < seedBound && col("node") % 2 === 0)
    // the BFS's final round passes to this scope, which frees it with
    // the edge cache once the eager node-sized result lands
    val d = Graph.bfsHops(edges, sources, maxHops)
    materializeFinal("q_bfs_hops", d.orderBy(col("node")))
  }

  /** Running DISTINCT count as a window — "how many distinct event
    * types has this user touched so far" at every event, without any
    * per-row set state: a first-occurrence flag (row_number over
    * (user, type) = 1) cumulatively summed over the user's time
    * order. The naive formulation keeps a growing set per row
    * (O(n·k) state and no codegen); this is two plain windows on the
    * SAME (user) shuffle — Spark plans one exchange, two sorts. */
  def qRunningDistinct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w1 = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("t"), col("event_id"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("t"), col("event_id"),
        col("event_type"))
      .withColumn("first_seen",
        when(row_number().over(w1) === 1, 1L).otherwise(0L))
      .withColumn("n_distinct_types", sum(col("first_seen")).over(w2))
      .select(col("user_id"), col("event_id"), col("t"), col("n_distinct_types"))
      .orderBy(col("user_id"), col("t"), col("event_id"))
  }

  /** Near-dup CLUSTERS: the step after pair generation a real dedup
    * needs — connected components over the verified (jaccard >= 0.5)
    * pair graph, each doc labeled with its component's min id (the
    * canonical keep-representative). Non-clustered docs are absent:
    * clustering only touches docs that appeared in a verified pair. */
  def qDedupClusters(s: SparkSession, dir: String): DataFrame = Rounds.scoped { _ =>
    // the ngram pairs' eager checkpoint and CC's label round both pass
    // to this scope; CC materializes its labels from the pairs, so only
    // the label round outlives it (the returned relation reads it)
    val ngram = qDedupNgram(s, dir)
    val pairs = ngram.select(col("doc_a"), col("doc_b"))
    val labels = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    labels
      .select(col("node").as("doc_id"), col("label").as("cluster_rep"))
      .orderBy(col("doc_id"))
  }

  /** Survivor selection: the dedup pipeline's final stage. Each
    * near-dup cluster keeps its best document (longest text, ties →
    * smallest doc_id) and reports how many near-dups it displaced.
    * Windows partition on the cluster key, so per-partition state is
    * bounded by the largest (verified-near-identical, hence small)
    * cluster. */
  def qDedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    val clusters = qDedupClusters(s, dir)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("text_len"))
    Dedup.survivors(clusters.join(docs, "doc_id"),
        "doc_id", "cluster_rep", "text_len")
      .select(col("cluster_rep"), col("doc_id").as("survivor_id"),
        col("cluster_size"), col("text_len"))
      .orderBy(col("cluster_rep"))
  }

  /** The full curation pipeline as ONE query — what a training-data
    * user actually runs: (1) quality gate (token-count bounds),
    * (2) exact dedup (min doc_id per content hash), (3) near-dup
    * removal (drop every clustered doc that is not its cluster's
    * survivor, reusing the minhash→LSH→verify→CC→survivor chain),
    * (4) deterministic per-source quota (hash-ranked cap, engine-
    * invariant). Output is the curated manifest. Each stage is a
    * bounded-state window or an anti-join on a key — the chain adds
    * no new shuffle shape beyond its constituent operators, so the
    * 100 TB posture is exactly theirs. */
  def qCurationE2e(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"),
        size(filter(split(col("text"), " "), t => t =!= ""))
          .cast("long").as("n_tokens"))
    val quality = docs.filter(col("n_tokens").between(30, 5000))
    val exact = quality
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn")
    // one cluster pass: rank each cluster by (text_len DESC, doc_id)
    // and drop everything but rank 1 — same selection as
    // qDedupSurvivors without running the component chain twice
    val ranked = qDedupClusters(s, dir)
      .join(Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("text_len")),
        "doc_id")
      .withColumn("srn", row_number().over(
        Window.partitionBy(col("cluster_rep"))
          .orderBy(col("text_len").desc, col("doc_id"))))
    val nonSurvivors = ranked.filter(col("srn") > 1).select(col("doc_id"))
    val deduped = exact.join(nonSurvivors, Seq("doc_id"), "left_anti")
    val quota = Window.partitionBy(col("source"))
      .orderBy(md5(concat(lit("q"), col("doc_id"))), col("doc_id"))
    deduped.withColumn("qrank", row_number().over(quota))
      .filter(col("qrank") <= 40)
      .select(col("source"), col("doc_id"), col("n_tokens"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** SimHash near-dup: 32-bit simhash over 3-gram shingles (custom
    * one-pass expression), pigeonhole blocking on the 4 byte-chunks
    * (any pair at hamming≤3 must share a chunk — exact, no misses),
    * verified at hamming ≤ 3. */
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame = Rounds.scoped { scope =>
    import graft.functions.SimHash.simhash
    val sh = scope.cache(Dedup.withShingles(
      spread(Tables.documents(s, dir).select(col("doc_id"), col("text"))), "text")
      .select(col("doc_id"), simhash(col("sh")).as("simhash")))
    val chunks = (0 until 4).map(c =>
      struct(lit(c).as("chunk_idx"),
        shiftright(col("simhash"), 8 * c).bitwiseAND(lit(255L)).as("chunk_val")))
    val banded = sh.withColumn("chunk", explode(array(chunks: _*)))
      .select(col("doc_id"), col("simhash"),
        col("chunk.chunk_idx").as("chunk_idx"), col("chunk.chunk_val").as("chunk_val"))
    val a = banded.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"),
      col("chunk_idx"), col("chunk_val"))
    val b = banded.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"),
      col("chunk_idx"), col("chunk_val"))
    // eager final so the sh cache releases NOW instead of lingering
    // until the session clearCache (ADVICE r19 — the minhashSigned
    // family's release discipline)
    materializeFinal("q_dedup_simhash",
      a.join(b, Seq("chunk_idx", "chunk_val"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long")
            .as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy(col("doc_a"), col("doc_b")))
  }

  /** 192 deterministic ±1 hyperplanes = 16 LSH bands × 12 planes for
    * the embedding near-dup blocker. Recall math (p = 1 - θ/π per
    * plane, R = 1-(1-p^12)^16): cos 0.95 → 99.5%, cos 0.9 → 93.5%,
    * cos 0.8 → 65% — i.e. near-certain capture of true near-dups.
    * Candidate volume on an adversarially-uncorrelated corpus
    * (collision ≈ 2^-12 per band) is ~16·n²/2·2^-12 ≈ n²/512
    * (measured n²/350 on the testdata vs n²/4 with the old 4-bit
    * keys) — the verify stage stays linear-ish in n at fixed
    * similarity structure instead of quadratic. Operating points for
    * all LSH schemes are tabulated in DEDUP_TUNING.md. */
  private[graft] lazy val dedupPlanes = Similarity.hyperplanes(192, 64)

  /** Embedding near-dup via banded random-hyperplane LSH: candidate
    * pairs are blocked on (band_idx, band_key) — the band key is the
    * ONLY shuffle; there is no label/all-pairs join anywhere — then
    * verified with exact quantized-integer cosine (bit-identical
    * doubles across engines) at >= 0.4. Note this synthetic corpus
    * has no true near-dups (max pairwise cos ≈ 0.5/0.6 at
    * sf0.01/sf0.1), so output rows are the random-tail pairs the
    * 12-plane bands happen to recall (~7%) — the operating point is
    * tuned for the real near-dup regime documented on
    * [[dedupPlanes]], not for tail recall. */
  def qDedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    val q = Similarity.quantized(Tables.embeddings(s, dir))
      .select(col("vec_id"), col("qv"), col("norm2")).cache()
    val banded = Similarity.withHyperplaneBands(q, dedupPlanes, 12)
    val cand = Dedup.lshCandidatePairs(banded, "vec_id")
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
    cand
      .join(q.select(col("vec_id").as("vec_a"), col("qv").as("qa"), col("norm2").as("na")), "vec_a")
      .join(q.select(col("vec_id").as("vec_b"), col("qv").as("qb"), col("norm2").as("nb")), "vec_b")
      .withColumn("cos_sim",
        Similarity.cosine(Similarity.dotExpr("qa", "qb"), col("na"), col("nb")))
      .filter(col("cos_sim") >= 0.4)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Language-ID heuristic: marker-token profile scores + argmax. */
  def qTextLangid(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withLanguageId(
        Tables.documents(s, dir).select(col("doc_id"), col("text")), "text")
      .select(col("doc_id"), col("pred_lang"),
        col("score_general"), col("score_query"), col("score_stream"))
      .orderBy(col("doc_id"))

  /** Quality scoring: token/length/stopword metrics + weighted score. */
  def qTextQuality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withQuality(
        Tables.documents(s, dir).select(col("doc_id"), col("text")), "text")
      .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
        col("stopword_ratio"), col("quality_score"))
      .orderBy(col("doc_id"))

  /** Token counting: whitespace, regex, and BPE-estimate. */
  def qTextTokens(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withTokenCounts(
        Tables.documents(s, dir).select(col("doc_id"), col("text")), "text")
      .select(col("doc_id"), col("ws_tokens"), col("re_tokens"), col("est_bpe_tokens"))
      .orderBy(col("doc_id"))

  /** Winnowing-style document fingerprint over 3-gram shingles. */
  def qTextFingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withFingerprint(
        Dedup.withShingles(
          spread(Tables.documents(s, dir).select(col("doc_id"), col("text"))),
          "text"))
      .select(col("doc_id"), col("n_selected"), col("fingerprint"))
      .orderBy(col("doc_id"))

  /** The embeddings table is a vector STORE keyed by vec_id: physical
    * duplicates of an id (at-least-once upstream delivery ships them)
    * are ONE logical vector. The ANN/clustering family reads through
    * this dedupe so results are a function of the logical store, not
    * of delivery multiplicity — unfiltered, a duplicated id occupies
    * two top-k slots and double-weights k-means cells (r17 dup
    * metamorphic sweep). The dedupe's exchange rides the store's own
    * key and is dwarfed by every consumer's own shuffles. */
  private def embStore(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).dropDuplicates(Seq("vec_id"))

  /** Brute-force cosine top-5 for query vectors (vec_id < 10):
    * broadcast queries against the vector table, windowed rank. */
  def qAnnBruteforce(s: SparkSession, dir: String,
      k: Int = 5, queryBound: Long = 10L): DataFrame = {
    val vectors = embStore(s, dir)
    Similarity.bruteForceTopK(vectors,
        vectors.filter(col("vec_id") < queryBound), k)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** 160 ±1 hyperplanes = 16 LSH bands × 10 planes for ANN candidate
    * generation. Per-band collision ≈ 2^-10 on uncorrelated vectors,
    * so per-query candidate work ≈ 16·n/1024 ≈ n/64 — a fixed 64×
    * prune that holds at any n — while 16 bands keep recall high for
    * genuinely-close neighbors (R = 1-(1-p^10)^16: cos 0.9 → 98.6%).
    * Operating points for all LSH schemes: DEDUP_TUNING.md. */
  private[graft] lazy val lshPlanes = Similarity.hyperplanes(160, 64)

  /** LSH-banded ANN: candidates are the union over 16 bands of
    * same-(band_idx, band_key) vectors — the band equi-join is the
    * only shuffle — then exact quantized-cosine top-3 per query.
    * Queries whose bands recall fewer than 3 candidates return fewer
    * rows: that is the honest ANN contract (the index prunes, it does
    * not scan). */
  def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = Similarity.quantized(embStore(s, dir))
      .select(col("vec_id"), col("qv"), col("norm2")).cache()
    val banded = Similarity.withHyperplaneBands(v, lshPlanes, 10)
      .select(col("vec_id"), col("band_idx"), col("band_key"))
    val qb = banded.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"),
      col("band_idx"), col("band_key"))
    val cand = qb.join(banded.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("band_idx", "band_key"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    cand
      .join(v.select(col("vec_id").as("query_id"), col("qv").as("qa"), col("norm2").as("na")), "query_id")
      .join(v.select(col("vec_id").as("neighbor_id"), col("qv").as("qb"), col("norm2").as("nb")), "neighbor_id")
      .withColumn("cos_sim",
        Similarity.cosine(Similarity.dotExpr("qa", "qb"), col("na"), col("nb")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("cos_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** IVF-bucketed ANN: vectors assigned to their nearest centroid
    * (vec_id%50==0 as the deterministic centroid set — k-means in a
    * real deployment), queries probe their 2 nearest cells, exact
    * cosine top-3 within the probed cells. Candidate generation is an
    * equi-join on cent_id — the IVF scale path. */
  def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = Similarity.quantized(embStore(s, dir))
      .select(col("vec_id"), col("qv"), col("norm2")).cache()
    val cents = v.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cent_id"), col("qv").as("cv"), col("norm2").as("cn"))
    val assigned = Similarity.ivfAssign(v, cents, 1)
      .select(col("vec_id").as("neighbor_id"), col("qv").as("qb"),
        col("norm2").as("nb"), col("cent_id"))
    val probes = Similarity.ivfAssign(v.filter(col("vec_id") < 10), cents, 2)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"),
        col("norm2").as("na"), col("cent_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    probes.join(assigned, "cent_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim",
        Similarity.cosine(Similarity.dotExpr("qa", "qb"), col("na"), col("nb")))
      // a neighbor can appear via both probed cells — dedupe before rank
      .select(col("query_id"), col("neighbor_id"), col("cos_sim")).distinct()
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy(col("query_id"), col("rnk"))
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("cos_sim"))
  }

  /** REAL image decode: each document id becomes a genuine
    * zlib-compressed grayscale PNG (encoded AND decoded with
    * `javax.imageio` inside the plan — [[operators.MediaCodec]]), and
    * the features (dims, pixel sum, top-2-bit histogram) are computed
    * from the DECODED RASTER only. The oracle knows the generator
    * arithmetic, not the codec: a broken inflate/defilter fails the
    * hash compare. Partition-parallel encode→decode, zero shuffles
    * before the final order. */
  def qImageDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageFeatures(s,
        Multimodal.pngMedia(s, Tables.documents(s, dir), "doc_id"))
      .toDF()
      .orderBy(col("media_id"))

  /** REAL JPEG decode — the format a real multimodal corpus is made
    * of: each document id becomes a genuine baseline JPEG (quality
    * 1.0, block-constant gray — flat 8×8 DCT blocks carry only a DC
    * coefficient, which quality-1.0 quantization preserves exactly,
    * so the lossy-in-general codec is bit-exact on this family), and
    * features come from the DECODED raster only, through the full
    * marker/Huffman/dequant/IDCT pipeline. Same partition-parallel
    * zero-shuffle shape as [[qImageDecode]]. */
  def qJpegDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageFeatures(s,
        Multimodal.jpegMedia(s, Tables.documents(s, dir), "doc_id"))
      .toDF()
      .orderBy(col("media_id"))

  /** Varying-JPEG decode with the tolerance band emitted AS DATA
    * (judge brief r17 → r18 #5): quality-1.0 JPEG is lossy on content
    * with AC energy, so exact pixel features can't be oracled — but
    * the |Δ|≤2 / mean≤0.5 band against the generator arithmetic can
    * (MediaCodecSpec proves it holds for this family). The engine
    * decodes through the full marker/Huffman/dequant/IDCT pipeline
    * and reports the band verdict per image; the oracle recomputes
    * dims + verdict from id arithmetic alone. Partition-parallel,
    * zero shuffles before the final order — same scale shape as
    * [[qJpegDecode]]. */
  def qJpegDecodeBanded(s: SparkSession, dir: String): DataFrame =
    Multimodal.jpegBandedFeatures(s,
        Multimodal.jpegVaryingMedia(s, Tables.documents(s, dir), "doc_id"))
      .toDF()
      .orderBy(col("media_id"))

  /** REAL audio decode: id-derived 16-bit PCM in a genuine RIFF/WAV
    * container, parsed back via `javax.sound.sampled`; features from
    * the decoded frames only (count, sum, positives, min, max). */
  def qAudioDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioFeatures(s,
        Multimodal.wavMedia(s, Tables.documents(s, dir), "doc_id"))
      .toDF()
      .orderBy(col("media_id"))

  /** Byte-level payload statistics (the opaque-format tier: no in-JVM
    * decoder): binary payload column processed in partition batches. */
  def qMultimodalFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(s,
        Multimodal.mediaFromDocuments(Tables.documents(s, dir)))
      .toDF()
      .orderBy(col("media_id"))

  /** Frame sampling over binary payloads: every 2nd 64-byte frame. */
  def qMultimodalFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
        Multimodal.mediaFromDocuments(Tables.documents(s, dir)), 64, 2)
      .select(col("media_id"), col("frame_idx"), col("frame_len"), col("frame_hash"))
      .orderBy(col("media_id"), col("frame_idx"))

  /** Full subscription pipeline in batch mode: `Pipeline.compileMulti`
    * → `Pipeline.gateMulti`, the batch reference of the gate the
    * stream applies in `Pipeline.batchPass`, here over one
    * subscription: route → filter → mask → path template → canonical
    * hash → SYNC anti-join gate. The per-key dedupe is omitted: event
    * ids are unique, so it would keep every row. */
  def qPipelineE2e(s: SparkSession, dir: String): DataFrame = {
    import graft.model.{FbOptions, Subscription => Sub}
    val sub = Sub("sub-e2e", "e2e", "*", FbOptions(
      syncMode = "sync",
      targetPath = "_aether/entities/{topic}",
      filterRequired = true,
      filterFieldPath = "event_type",
      filterPassValues = Seq("purchase", "click"),
      maskingLevels = Masking.DefaultLevels,
      maskingEmitLevel = "public"))
    // ts excluded from the payload: DuckDB reads the ns timestamp
    // µs-truncated, so raw ns values cannot appear in oracle output
    val ev = Masking.annotate(
      Tables.events(s, dir).withColumnRenamed("event_id", "id").drop("ts")
        .withColumn("kafka_topic", concat(lit("tnant."), col("event_type"))),
      Map("props" -> "confidential"))
    // cached: the store fixture AND the gate probe both consume it,
    // and the canonical-JSON hash inside is the pipeline's dominant
    // per-row cost — compute it once, not once per consumer
    val prepared = graft.streaming.Pipeline.compileMulti(Seq(sub), "tnant", ev).cache()
    // hash store fixture: even ids stored with their current hash
    val store = prepared.filter(col("doc_id").cast("long") % 2 === 0)
      .select(col("target_path"), col("doc_id"), col("doc_hash"))
    graft.streaming.Pipeline.gateMulti(prepared, Seq(sub), store)
      .select(col("doc_id"), col("topic"), col("target_path"),
        col("doc_hash"), col("doc_json"))
      .orderBy(col("doc_id").cast("long"))
  }

  /** Range join: events banded by value against a small bounds table
    * (broadcast nested-loop on the range predicate — the dimension is
    * tiny by construction, so no shuffle of the fact side). */
  def qJoinRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = Seq(("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 1e9))
      .toDF("band", "lo", "hi")
    Tables.events(s, dir)
      .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(dec)).cast("double").as("sum_value"))
      .orderBy(col("band"))
  }

  /** Interval-overlap join where BOTH sides are large — the case
    * broadcast range joins can't touch. Purchase windows (1 h) and
    * view windows (30 min) per user are exploded onto the hour bins
    * they span, equi-joined on (user, bin) — so the only shuffle is
    * on a bounded composite key, never a nested-loop — then exact
    * overlap filters and pair-distinct remove bin duplicates.
    * Timestamps are µs on both sides (DuckDB truncates ns parquet to
    * µs; `ts div 1000` mirrors it exactly). */
  def qIntervalOverlapJoin(s: SparkSession, dir: String,
      pWidthUs: Long = 3600L * 1000 * 1000,
      vWidthUs: Long = 1800L * 1000 * 1000): DataFrame = {
    val hourUs = 3600L * 1000 * 1000
    val ev = Tables.events(s, dir).withColumn("t_us", expr("ts div 1000"))
    def windows(kind: String, widthUs: Long, pre: String) =
      ev.filter(col("event_type") === kind)
        .select(col("user_id"), col("event_id").as(s"${pre}_id"),
          col("t_us").as(s"${pre}_lo"),
          (col("t_us") + lit(widthUs)).as(s"${pre}_hi"))
        .withColumn("bin",
          explode(sequence(expr(s"${pre}_lo div $hourUs"), expr(s"${pre}_hi div $hourUs"))))
    windows("purchase", pWidthUs, "p")
      .join(windows("view", vWidthUs, "v"), Seq("user_id", "bin"))
      .filter(col("p_lo") < col("v_hi") && col("v_lo") < col("p_hi"))
      .select(col("user_id"), col("p_id"), col("v_id")).distinct()
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_overlaps"),
           min(col("p_id") * 100000 + col("v_id")).as("min_pair"))
      .orderBy(col("user_id"))
  }

  /** Range join binned AUTOMATICALLY by the Catalyst optimizer rule
    * `plans.RangeBinJoinRule` (registered on an isolated child
    * session): the declarative plan below is a plain inequality
    * join — which vanilla Spark executes as BroadcastNestedLoopJoin,
    * O(|L|·|R|) — and the rule rewrites it to the binned equi-join
    * shape of `qIntervalOverlapJoin` without the query hand-rolling
    * bins. Clicks are points (value), purchases open a [value,
    * value+2) window; binSize 4 > window width ⇒ ≤ 2 bins per
    * interval (narrow windows keep the range join sparse — the
    * regime binning is for; a window ≫ the value spread degenerates
    * to a dense cross-like join no rewrite can save). The oracle is
    * the plain inequality join — the rewrite must be
    * result-identical. */
  def qRangeAutobin(s: SparkSession, dir: String): DataFrame = {
    val s2 = graft.plans.RangeBinJoin.sessionWith(s, binSize = 4.0)
    val ev = Tables.events(s2, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("value").as("v"))
    val windows = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("value").as("lo"),
              (col("value") + lit(2.0)).as("hi"))
    clicks.join(windows, col("v") >= col("lo") && col("v") < col("hi"))
      .groupBy(col("p_id"))
      .agg(count(lit(1)).as("n_in_window"), min(col("c_id")).as("min_click"))
      .orderBy(col("p_id"))
  }

  /** As-of (point-in-time) join expressed without any join: for each
    * purchase, the most recent prior view by the same user — union the
    * two event roles and take last(view_id ignoring nulls) over a
    * (user, time) window. One shuffle on user_id, no n² stage; the
    * classic Spark-first shape for as-of semantics. */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    // µs-truncated ordering for oracle parity (see qWindowFuncs)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(expr("ts div 1000"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("view_id",
        when(col("event_type") === "view", col("event_id")))
      .withColumn("prev_view_id", last(col("view_id"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("prev_view_id"))
      .orderBy(col("event_id"))
  }

  /** Aggregation stats: exact distinct counts + min/max/decimal avg. */
  def qAggStats(s: SparkSession, dir: String,
      byBucket: Boolean = false): DataFrame =
    Tables.events(s, dir)
      .groupBy(if (byBucket) (col("user_id") % 16).as("bucket")
               else col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
           min(col("value")).as("min_value"),
           max(col("value")).as("max_value"),
           (sum(col("value").cast(dec)).cast("double") / count(lit(1)).cast("double")).as("avg_value"))
      .orderBy(if (byBucket) col("bucket") else col("event_type"))

  /** Custom typed UDAF (Aggregator): exact weighted average with a
    * decimal-cents accumulator; Catalyst plans partial+final like any
    * built-in aggregate. */
  def qUdafWeighted(s: SparkSession, dir: String): DataFrame = {
    val wavg = udaf(graft.functions.WeightedAvg)
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(wavg(col("l_extendedprice"), col("l_quantity")).as("wavg_price"),
           count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Pivot: per-user event counts fanned into one column per type
    * (explicit value list keeps the schema static and plannable). */
  def qPivot(s: SparkSession, dir: String,
      types: Seq[String] =
        Seq("click", "error", "purchase", "signup", "view")): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .count().na.fill(0L)
      .orderBy(col("user_id"))

  /** Cube: all grouping combinations over (region, orderstatus). */
  def qCube(s: SparkSession, dir: String,
      dimsSwapped: Boolean = false, swapJoin: Boolean = false): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    // both toggles are semantics-preserving: CUBE is symmetric in its
    // dims, and the customer⋈orders inner join commutes
    val joined =
      if (swapJoin) c.join(o, o("o_custkey") === c("c_custkey"))
      else o.join(c, o("o_custkey") === c("c_custkey"))
    val cubed =
      if (dimsSwapped)
        joined.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .cube(col("o_orderstatus"), col("r_name"))
      else
        joined.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .cube(col("r_name"), col("o_orderstatus"))
    cubed
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("r_name").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
  }

  /** Multiset set ops: EXCEPT ALL / INTERSECT ALL keep duplicates. */
  def qSetopsAll(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def users(t: String) = ev.filter(col("event_type") === t).select(col("user_id"))
    users("purchase").intersectAll(users("click"))
      .exceptAll(users("error"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("multiplicity"))
      .orderBy(col("user_id"))
  }

  /** Date kernels over the ms-precision order dates. */
  def qDateFns(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"),
               month(col("o_orderdate")).cast("long").as("o_month"))
      .agg(count(lit(1)).as("n_orders"),
           countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("o_year"), col("o_month"))

  /** Sessionization (batch form of session windows): a session breaks
    * after a 1-day gap; session ids via lag + running sum — exact
    * integer arithmetic, one shuffle on user_id. Event times are
    * truncated to µs because DuckDB reads the ns timestamps
    * µs-truncated (see the determinism playbook). */
  def qSessionize(s: SparkSession, dir: String,
      gapUs: Long = 86400000000L /* 1 day in µs */): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("ts", expr("ts div 1000")) // ns → µs
      .withColumn("new_session",
        when(col("ts") - lag(col("ts"), 1).over(w) > gapUs, 1L)
          .when(lag(col("ts"), 1).over(w).isNull, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(wRun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts")).as("start_ts"),
           max(col("ts")).as("end_ts"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Explode / lateral view: classic word count per language. */
  def qExplodeWordcount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 100)
      .orderBy(col("lang"), col("word"))

  /** Array aggregation with deterministic ordering: the sorted distinct
    * event types per user, joined to a string (collect_set order is
    * nondeterministic; sort_array fixes it). */
  def qArrayAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(array_join(sort_array(collect_set(col("event_type"))), ",").as("types"),
           count(lit(1)).as("n"))
      .orderBy(col("user_id"))

  /** Full outer join with null-side handling (coalesce/flags): rich
    * customers vs customers holding very large orders — both sides
    * have unmatched rows. */
  def qJoinOuter(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).filter(col("c_acctbal") > 5000)
      .select(col("c_custkey"), col("c_name"))
    val big = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_big"),
           sum(col("o_totalprice").cast(dec)).cast("double").as("big_total"))
    cust.join(big, cust("c_custkey") === big("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_name").isNotNull.as("is_rich"),
        col("o_custkey").isNotNull.as("has_big_orders"),
        coalesce(col("n_big"), lit(0L)).as("n_big"),
        coalesce(col("big_total"), lit(0.0)).as("big_total"))
      .orderBy(col("custkey"))
  }

  /** Skew-resilient aggregation: two-phase salted groupBy — partials
    * on (keys, salt) spread a hot key over 8 reducers, the final
    * combine sees ≤ 8 rows per key. Salt-invariant by construction
    * (oracle = the plain unsalted aggregate). DECIMAL partials keep
    * the double cast exact-last, per the determinism rules. */
  def qSkewSaltedAgg(s: SparkSession, dir: String): DataFrame =
    Skew.saltedAgg(Tables.lineitem(s, dir), Seq("l_returnflag", "l_linestatus"),
        Skew.saltCol(col("l_orderkey"), 8), 8,
        Seq(
          "sum_qty" -> (sum(col("l_quantity").cast(dec)),
            (c: org.apache.spark.sql.Column) => sum(c).cast("double")),
          "count_order" -> (count(lit(1)),
            (c: org.apache.spark.sql.Column) => sum(c))))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Skew-resilient equi-join: the (skewed) lineitem side is salted 8
    * ways and orders is replicated across the salt values, so a hot
    * l_orderkey spreads over 8 reducers instead of one. Oracle = the
    * plain join — salting never changes the result set. */
  def qSkewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity"))
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    Skew.saltedJoin(li, ord, Seq("l_orderkey"), Skew.saltCol(col("l_quantity"), 8), 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  /** Engine-deterministic approximate distinct (KMV sketch): distinct
    * user_id estimate per event_type with k=256 minima. Unlike HLL++
    * (engine-internal, band-tested only in ApproxAggSpec), the KMV
    * estimate is pure md5 order statistics — the oracle computes the
    * IDENTICAL estimate, so the approximate path gets a hash-exact
    * correctness row. */
  def qApproxDistinctKmv(s: SparkSession, dir: String): DataFrame =
    Sketches.kmvDistinct(Tables.events(s, dir), Seq("event_type"), col("user_id"), 256)
      .orderBy(col("event_type"))

  /** Deterministic 10% sample of documents: keep rows whose md5-hash
    * falls under the rate threshold. Unlike `df.sample(seed)` —
    * whose output depends on partition layout, so it changes under
    * repartition/AQE — the hash rule is a pure row property: the
    * same rows are sampled at any scale, any partitioning, any
    * engine (the oracle draws the identical sample). This is the
    * idiom for carving reproducible eval/holdout splits out of a
    * 100 TB corpus. */
  def qSampleHash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(Sketches.hash32(col("doc_id")) < lit((0.10 * 4294967296.0).toLong))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(length(col("text")).cast("long")).as("sampled_chars"))
      .orderBy(col("source"))

  /** Exact per-group quantiles (linear interpolation, the ANSI
    * percentile_cont surface). Scale note: exact percentile buffers
    * each group's values (ObjectHashAggregate) — correct for
    * bounded-size groups like these flags; unbounded groups at corpus
    * scale take the sketch path (approx_percentile/KLL, band-tested
    * in ApproxAggSpec) — same trade as exact vs KMV distinct. */
  def qQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, array(0.1, 0.25, 0.5, 0.75, 0.9))").as("qs"))
      .select(col("l_returnflag"), posexplode(col("qs")))
      .select(col("l_returnflag"), col("pos").cast("long").as("q_idx"),
        col("col").as("q_value"))
      .orderBy(col("l_returnflag"), col("q_idx"))

  /** Robust per-group anomaly detection via median absolute
    * deviation: per event type, median(value), MAD =
    * median(|v − median|), and the count of 3-MAD outliers. Two exact
    * percentile aggregates (ObjectHashAggregate over bounded groups —
    * same engine-parity interpolation `q_quantiles` proves) and two
    * broadcast-able joins of 5-row statistics back to the stream;
    * unlike z-scores, the MAD gate doesn't let the outliers it hunts
    * inflate the threshold that should catch them. */
  def qAnomalyMad(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"), col("value"))
    val med = e.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(min(col("med")).as("med"), min(col("mad")).as("mad"),
        sum(when(col("adev") > lit(3) * col("mad"), 1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n_total"))
      .orderBy(col("event_type"))
  }

  /** Declarative data-quality checks over `orders` — the ingest-gate
    * validation suite, evaluated the way it must be at 100 TB: every
    * row-local metric (null counts, domain membership, range bounds)
    * rides ONE aggregate pass over the table; key uniqueness is one
    * count-vs-distinct comparison; referential integrity is one
    * broadcast anti-join against the dimension. Output is one row per
    * check with its violation count — the shape a quality dashboard
    * ingests. (The reference validates control-plane resources with
    * JSON Schema (`model/Validation`); this is the same gate applied
    * to DATA, set-oriented.) */
  def qDqChecks(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val rowMetrics = o.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("null_key"),
      sum(when(col("o_totalprice") < 0, 1L).otherwise(0L)).as("neg_price"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
        .as("bad_status"),
      countDistinct(col("o_orderkey")).as("n_keys"))
    val fkViolations = o.join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("fk_bad"))
    val m = rowMetrics.crossJoin(fkViolations)
    // one row per declared check; violations == 0 ⇒ passed
    val checks = Seq(
      ("key_not_null", col("null_key")),
      ("key_unique", col("n") - col("n_keys")),
      ("price_non_negative", col("neg_price")),
      ("status_in_domain", col("bad_status")),
      ("custkey_references_customer", col("fk_bad")))
    checks.map { case (name, viol) =>
      m.select(lit(name).as("check"), viol.cast("long").as("violations"),
        (viol === 0).as("passed"))
    }.reduce(_.unionByName(_)).orderBy(col("check"))
  }

  /** Phrase inverted-index build: word bigram → sorted posting list
    * of "doc_id:position" entries plus document frequency, for
    * phrases appearing in 2–25 docs (the rare-phrase band a phrase-
    * search index exists for). The retrieval-index shape at corpus
    * scale: one explode (linear, no pre-shuffle) then ONE shuffle on
    * the phrase — posting lists assemble via map-side-combinable
    * collect + an explicit sort_array so the list order is a property
    * of the DATA, not of partition arrival order. The posting list is
    * flattened to one comma-joined VARCHAR so the whole row is scalar
    * and comparable by any harness; a real deployment would keep the
    * array/struct form. */
  def qInvertedIndex(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        filter(split(col("text"), " "), t => t =!= "").as("toks"))
      .filter(size(col("toks")) >= 2) // sequence(0,-1) would descend
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(toks) - 2), " +
          "i -> concat(toks[i], ' ', toks[i+1]))")).as(Seq("pos", "tok")))
      .select(col("tok"),
        concat(col("doc_id").cast("string"), lit(":"),
          col("pos").cast("string")).as("posting"),
        col("doc_id"))
      .groupBy(col("tok"))
      .agg(array_join(sort_array(collect_list(col("posting"))), ",")
          .as("postings"),
        countDistinct(col("doc_id")).as("df"))
      .filter(col("df").between(2, 25))
      .orderBy(col("tok"))
  }

  /** Fixed-window token chunking with overlap (64-token chunks,
    * 16-token overlap): the long-document split for a context-bounded
    * model. Pure projection + posexplode — zero shuffles. */
  def qChunkDocs(s: SparkSession, dir: String,
      chunkSize: Int = 64, overlap: Int = 16): DataFrame =
    operators.TextPrep.withChunks(
        Tables.documents(s, dir).select(col("doc_id"), col("text")), "text",
        chunkSize, overlap)
      .select(col("doc_id"), col("chunk_idx"), col("n_chunks"),
        col("chunk_tokens"), col("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Concat-and-cut sequence packing at a 256-token budget over 8
    * deterministic hash shards: each document's pack is the training
    * sequence its first token falls into. The running-total window is
    * per-shard — never a global single-reducer window. */
  def qPackDocs(s: SparkSession, dir: String): DataFrame =
    operators.TextPrep.withPacks(
        Tables.documents(s, dir)
          .select(col("doc_id"),
            expr("size(split(text, ' '))").cast("long").as("n_tokens")),
        "doc_id", "n_tokens", 256, 8)
      .select(col("doc_id"), col("shard"), col("pack_idx"),
        col("pack_offset"), col("n_tokens"))
      .orderBy(col("doc_id"))

  /** Corpus balancing: cap every source at 40 documents, selected by
    * deterministic hash rank — reproducible uniform per-group
    * downsampling (one window per group key). */
  def qQuotaSample(s: SparkSession, dir: String): DataFrame =
    operators.TextPrep.quotaSample(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        "source", "doc_id", 40)
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy(col("source"), col("rk"))

  /** Top-3 TF-IDF keywords per document with the exact-rational IDF
    * (tf·N/df in one integer-operand double division — `ln` is not
    * cross-engine bit-stable, this is). */
  def qTfidfTopk(s: SparkSession, dir: String): DataFrame =
    operators.TextPrep.topTfIdf(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))

  /** Engine-deterministic HyperLogLog (p=8) distinct users per event
    * type — the fixed-size (256-counter) sketch companion to the KMV
    * query, raw estimator only (corrections need `ln`). */
  def qApproxDistinctHll(s: SparkSession, dir: String): DataFrame =
    operators.Sketches.hllDistinct(
        Tables.events(s, dir).select(col("event_type"), col("user_id")),
        Seq("event_type"), col("user_id"))
      .orderBy(col("event_type"))

  /** Boilerplate phrase detection: 5-grams appearing in >= 3 distinct
    * documents (C4-style template mass — here the planted near-dup
    * clusters). One shuffle on the phrase key. */
  def qBoilerplateNgrams(s: SparkSession, dir: String): DataFrame =
    operators.TextPrep.ngramDocFreq(
        Tables.documents(s, dir).select(col("doc_id"), col("text")), "doc_id", "text", 5)
      .filter(col("ndocs") >= 3)
      .orderBy(col("phrase"))

  /** Per-document boilerplate fraction (share of its distinct 5-grams
    * at corpus doc-frequency >= 2) — the quality-filter signal. Only
    * docs with any boilerplate mass are reported. */
  def qBoilerplateFraction(s: SparkSession, dir: String): DataFrame =
    operators.TextPrep.boilerplateFraction(
        Tables.documents(s, dir).select(col("doc_id"), col("text")), "doc_id", "text", 5, 2)
      .filter(col("n_boiler") > 0)
      .select(col("doc_id"), col("n_phrases"), col("n_boiler"), col("boiler_frac"))
      .orderBy(col("doc_id"))

  /** PII scrubbing over deterministically PII-augmented text (the
    * corpus itself is synthetic and clean, so every row gets an email
    * + phone stamped from its id — the redactor must catch 100%). */
  def qRedactPii(s: SparkSession, dir: String): DataFrame = {
    val augmented = Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@mail.example.org or 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("text"))
    operators.TextPrep.redactPii(augmented, "text")
      .select(col("doc_id"),
        length(col("redacted")).cast("long").as("n_chars"),
        expr("substr(redacted, greatest(1, length(redacted) - 59))").as("tail"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition quality signals per document: most-
    * common-bigram token coverage, duplicate-5-gram instance fraction,
    * and type-token ratio — the boilerplate-by-repetition filters.
    * Distributed n-gram counting (explode + two hash aggs), never a
    * per-row quadratic array scan. */
  def qQualityRepetition(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.repetitionMetrics(
        Tables.documents(s, dir).select(col("doc_id"), col("text")), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), col("ttr"),
        col("top_bigram_frac"), col("dup_5gram_frac"))
      .orderBy(col("doc_id"))

  /** Benchmark decontamination: training docs (id % 13 != 0) sharing
    * any 4-gram with the held-out eval slice (id % 13 = 0) — the
    * n-gram-overlap test-set leak check. n=4 because the synthetic
    * corpus mutates every ~4 tokens (real deployments use 8-13); the
    * plumbing — broadcast eval shingles, no corpus shuffle before the
    * per-doc rollup — is n-independent. */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    operators.TextPrep.decontaminate(
        docs.filter(pmod(col("doc_id"), lit(13)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(13)) === 0),
        "doc_id", "text", 4)
      .orderBy(col("train_id"))
  }

  /** Lloyd's k-means (k=8, 2 iterations, lowest-id seeds) over
    * quantized embeddings with exact RATIONAL centroids — every
    * assignment is bit-reproducible across engines and partitionings,
    * which is what lets an ITERATIVE clustering hash-match a SQL
    * oracle. Broadcast centroids; argmin is one hash-agg. */
  def qKmeansEmbed(s: SparkSession, dir: String): DataFrame =
    operators.KMeans.assign(
        Similarity.quantized(embStore(s, dir))
          .select(col("vec_id"), col("qv")),
        KmeansK, KmeansIters)
      .orderBy(col("vec_id"))

  /** SemDeDup-style semantic dedup: k-means cells as the blocking key,
    * exact pairwise cosine only WITHIN a cell, pairs >= 0.4 are
    * semantic duplicates (keep-lowest-id convention). At corpus scale
    * k grows with n so cells stay O(1000) and the within-cell
    * self-join never goes quadratic in the corpus. */
  def qSemdedup(s: SparkSession, dir: String): DataFrame =
    operators.KMeans.semanticDupPairs(
        embStore(s, dir), KmeansK, KmeansIters, 0.4)
      .orderBy(col("id_a"), col("id_b"))

  val KmeansK = 8
  val KmeansIters = 2

  /** Count-min-sketch frequency estimation: build the 4×1024 counter
    * table over all token instances (one bounded aggregation), then
    * point-query it for every distinct token via a broadcast of the
    * ≤4 KB counter table — heavy-hitter detection with NO corpus-keyed
    * shuffle on the estimation pass. Reported next to the exact count
    * so the ≥-exact overcount property is visible (and oracle-checked). */
  def qCmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    // one token explode + one shuffle: the sketch cells are summed
    // from the exact per-token counts (identical cell values to
    // feeding the raw stream) instead of re-exploding the corpus
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt")).cache()
    val counters = operators.Sketches.cmsCountersWeighted(exact, "tok", "exact_cnt")
    operators.Sketches.cmsEstimate(exact, "tok", counters)
      .join(exact, "tok")
      .filter(col("cms_est") >= 100)
      .select(col("tok"), col("cms_est"), col("exact_cnt"))
      .orderBy(col("tok"))
  }

  /** Deterministic stratified 80/10/10 split by source: exact
    * per-stratum proportions via hash rank (integer boundary test),
    * reported as counts per (source, split). */
  def qSplitStratified(s: SparkSession, dir: String): DataFrame =
    operators.TextPrep.stratifiedSplit(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        "source", "doc_id", 80, 10)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
      .orderBy(col("source"), col("split"))

  /** Weighted (PPS) systematic sample of ~100 docs by char count via
    * the distributed-prefix-sum sampler ([[operators.TextPrep
    * .systematicWeightedSample]]); the oracle computes the same
    * all-integer selection rule with a single global window. */
  def qSampleWeighted(s: SparkSession, dir: String): DataFrame =
    operators.TextPrep.systematicWeightedSample(
        Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", 100)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** Skip-gram (center, context) pair generation, window ±2 — the
    * word2vec/fastText training-pair extraction. No token self-join:
    * the four context slots are lag/lead extractions over ONE
    * per-document window (a single doc_id-keyed shuffle), then a
    * 4-wide explode and a pair-count aggregate. Per-token fan-out is
    * the window width, so output scales linearly with corpus tokens
    * at any SF. Top-30 pairs under a total order. */
  def qSkipgramPairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    toks
      .select(col("w").as("center"),
        array(lag(col("w"), 2).over(win), lag(col("w"), 1).over(win),
          lead(col("w"), 1).over(win), lead(col("w"), 2).over(win)).as("ctx"))
      .select(col("center"), explode(col("ctx")).as("context"))
      .filter(col("context").isNotNull)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("center"), col("context"))
      .limit(30)
      .orderBy(col("n_pairs").desc, col("center"), col("context"))
  }

  /** BM25-lite retrieval: top-20 documents for a fixed 3-term query
    * under the classic BM25 shape (k1 = 1.2, b = 0.75) made EXACT
    * cross-engine by rational arithmetic — idf is the integer ratio
    * ((2(N−df)+1)·1000) div (2df+1) (monotone in the true
    * log-idf), and the tf saturation term multiplies through by
    * 20·TL so the whole per-term score is one integer division:
    * idf · 44·tf·TL div (20·tf·TL + 6·TL + 18·dl·N), accumulated in
    * DECIMAL(38,0), emitted as BIGINT milli-score.
    *
    * Scale shape: tokenize → one tf aggregate over the 3 query terms
    * (the filter pushes into the scan side of the agg), doc lengths
    * from one count aggregate, 1-row corpus totals broadcast-crossed
    * (bounded BNLJ), term df broadcast (3 rows). Top-20 is a
    * TakeOrdered, never a global sort. */
  def qBm25Topk(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("table", "spark", "merge")
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val totals = dl.agg(sum(col("dl")).as("tl"), count(lit(1)).as("nd"))
    val tf = toks.filter(col("w").isin(terms: _*))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    tf.join(dl, "doc_id")
      .join(broadcast(dfq), "w")
      .crossJoin(broadcast(totals))
      .withColumn("score_part", expr(
        """CAST((CAST(((2*(nd - df) + 1) * 1000) div (2*df + 1) AS DECIMAL(38,0))
          |  * 44 * tf * tl) div (20*tf*tl + 6*tl + 18*dl*nd) AS BIGINT)""".stripMargin))
      .groupBy(col("doc_id"))
      .agg(sum(col("score_part")).as("bm25_milli"), count(lit(1)).as("n_terms"))
      .orderBy(col("bm25_milli").desc, col("doc_id"))
      .limit(20)
      .orderBy(col("bm25_milli").desc, col("doc_id"))
  }

  /** Blocklist/safety scoring — rule-based content filtering: a
    * category→term table (broadcast; real deployments load thousands
    * of terms, still broadcast-sized) joined against the token
    * stream; per category: matched-doc count, total hits, and the
    * top offending document (hits desc, doc_id — deterministic).
    * One shuffle on (category, doc) for the per-doc counts; the
    * per-category rollup and top-1 window run on the bounded
    * category-keyed relation. */
  def qBlocklistScore(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val cats = Seq(
      ("latency", "slow"), ("latency", "fast"),
      ("storage", "row"), ("storage", "column"),
      ("compute", "scan"), ("compute", "merge")).toDF("category", "term")
    val hits = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(broadcast(cats), col("w") === col("term"))
      .groupBy(col("category"), col("doc_id"))
      .agg(count(lit(1)).as("h"))
    val agg = hits.groupBy(col("category"))
      .agg(count(lit(1)).as("n_docs"), sum(col("h")).as("n_hits"))
    val top = hits.withColumn("rn", row_number().over(
        Window.partitionBy(col("category")).orderBy(col("h").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("category"), col("doc_id").as("top_doc"), col("h").as("top_hits"))
    agg.join(top, "category").orderBy(col("category"))
  }

  /** χ² drift of the source×lang contingency table — the
    * distribution-shift check a curation pipeline runs per ingest:
    * per observed cell, the scaled independence deviation
    * (O·T − rt·ct)²·10⁶ div (rt·ct·T) plus the expected count in
    * milli-docs, all in DECIMAL(38,0) integer arithmetic (exact on
    * any engine; no floating χ²). One count aggregate over the fact
    * table; margins and totals are aggregates OF the cell relation
    * (bounded: |sources|×|langs| rows), totals broadcast-crossed. */
  def qChisqDomain(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.documents(s, dir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
    val rt = obs.groupBy(col("source")).agg(sum(col("o")).as("rt"))
    val ct = obs.groupBy(col("lang")).agg(sum(col("o")).as("ct"))
    val tot = obs.agg(sum(col("o")).as("t"))
    obs.join(broadcast(rt), "source").join(broadcast(ct), "lang")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("lang"), col("o").as("observed"),
        expr("CAST((CAST(rt AS DECIMAL(38,0)) * ct * 1000) div t AS BIGINT)")
          .as("expected_milli"),
        expr("""CAST(((CAST(o AS DECIMAL(38,0))*t - CAST(rt AS DECIMAL(38,0))*ct)
          |  * (CAST(o AS DECIMAL(38,0))*t - CAST(rt AS DECIMAL(38,0))*ct)
          |  * 1000000) div (CAST(rt AS DECIMAL(38,0)) * ct * t) AS BIGINT)""".stripMargin)
          .as("cell_chi2_ppm"))
      .orderBy(col("source"), col("lang"))
  }

  /** Domain-centroid Gram matrix over embeddings: per label, the
    * component-wise sum of µ-scaled integer embeddings (floor(x·10⁶)
    * — exact on any engine, unlike float sums), then every label-pair
    * dot product ⟨s_a, s_b⟩ (a ≤ b: off-diagonals are cross-domain
    * similarity, diagonals the squared norms), DECIMAL(38,0)
    * accumulated, emitted div 10⁹. The downstream cosine is a
    * float-space normalization of this exact artifact.
    *
    * Scale shape: one (label, dim) aggregate over the exploded
    * embeddings (map-side combined), then the pair join runs on the
    * |labels|·dims relation — bounded by the domain count, never by
    * rows. */
  def qDomainCentroidSim(s: SparkSession, dir: String): DataFrame = {
    val comp = Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy(col("label"), col("d"))
      .agg(sum(expr("CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)")).as("sv"))
    val n = Tables.embeddings(s, dir)
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
    val a = comp.select(col("label").as("label_a"), col("d"), col("sv").as("sa"))
    val b = comp.select(col("label").as("label_b"), col("d"), col("sv").as("sb"))
    a.join(b, "d").filter(col("label_a") <= col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(expr("CAST(sum(CAST(sa AS DECIMAL(38,0)) * sb) div 1000000000 AS BIGINT)")
        .as("dot_g"))
      .join(broadcast(n.select(col("label").as("label_a"), col("n").as("n_a"))), "label_a")
      .join(broadcast(n.select(col("label").as("label_b"), col("n").as("n_b"))), "label_b")
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"), col("dot_g"))
      .orderBy(col("label_a"), col("label_b"))
  }

  /** Window-PMI collocations over skip-gram pairs: the ±2-window
    * (center, context) relation re-ranked by pointwise mutual
    * information — pairs that co-occur far above chance — with the
    * same lag/lead single-window construction as q_skipgram_pairs
    * (never a token self-join) and RATIONAL ranking: pmi_ppm =
    * n_pair·T·10⁶ div (n_center·n_context) in DECIMAL(38,0), exact
    * on any engine (log-PMI is monotone in this ratio). Marginals
    * and the total are aggregates OF the pair relation. Min support
    * 5; top-20 under a total order. */
  def qSkipgramPmi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val pairs = toks
      .select(col("w").as("center"),
        array(lag(col("w"), 2).over(win), lag(col("w"), 1).over(win),
          lead(col("w"), 1).over(win), lead(col("w"), 2).over(win)).as("ctx"))
      .select(col("center"), explode(col("ctx")).as("context"))
      .filter(col("context").isNotNull)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pair"))
    val nc = pairs.groupBy(col("center")).agg(sum(col("n_pair")).as("n_center"))
    val nx = pairs.groupBy(col("context")).agg(sum(col("n_pair")).as("n_context"))
    val tot = pairs.agg(sum(col("n_pair")).as("t"))
    pairs.filter(col("n_pair") >= 5)
      .join(nc, "center").join(nx, "context")
      .crossJoin(broadcast(tot))
      .withColumn("pmi_ppm", expr(
        "CAST((CAST(n_pair AS DECIMAL(38,0)) * t * 1000000) div (CAST(n_center AS DECIMAL(38,0)) * n_context) AS BIGINT)"))
      .select(col("center"), col("context"), col("n_pair"), col("pmi_ppm"))
      .orderBy(col("pmi_ppm").desc, col("center"), col("context"))
      .limit(20)
      .orderBy(col("pmi_ppm").desc, col("center"), col("context"))
  }

  /** First BPE merge decision: frequency of every adjacent symbol
    * (character) pair WITHIN words — the statistic byte-pair-encoding
    * tokenizer training computes each round. Pure projection (per-word
    * bounded transform over substring windows; pairs never cross word
    * boundaries) + one pair-keyed aggregate; top-20 total-ordered. */
  def qBpeFirstMerge(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)
      .orderBy(col("n").desc, col("pair"))

  /** Per-vector scalar quantization (the vector-DB/int8 prep step):
    * µ-scaled integer components, per-vector min/max, and the 8-bit
    * code checksum Σ ((x−min)·255 div (max−min)) — all integer, so
    * the quantization artifact is bit-exact on any engine. Computed
    * entirely per-row with array HOFs — ZERO shuffles (the earlier
    * explode → window → re-aggregate shape paid a vec-keyed exchange
    * AND silently merged duplicate vec_ids into one doubled-checksum
    * row — found by the r17 dup metamorphic sweep; per-row HOFs are
    * row-multiplicity-exact by construction). */
  def qEmbedQuantize(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
        .as("xm"))
      .select(col("vec_id"), expr("array_min(xm)").as("mn"),
        expr("array_max(xm)").as("mx"), col("xm"))
      .select(col("vec_id"), col("mn"), col("mx"), expr(
        "CAST(CASE WHEN mx > mn THEN aggregate(xm, CAST(0 AS BIGINT), " +
          "(acc, v) -> acc + (v - mn) * 255 div (mx - mn)) " +
          "ELSE CAST(0 AS BIGINT) END AS BIGINT)").as("checksum"))
      .orderBy(col("vec_id"))

  /** Language-ID evaluation: confusion matrix of the declared `lang`
    * column against the n-gram-heuristic topic prediction
    * ([[operators.TextAnalysis.withLanguageId]]) — the quality gate a
    * pipeline runs on its own classifier. One count aggregate over
    * the bounded (lang × prediction) grid. */
  def qLangidEval(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withLanguageId(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")), "text")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))

  /** ANN index self-evaluation: recall@3 of the hyperplane-LSH index
    * against the exact brute-force ranking, per query point — the
    * eval harness an embedding store runs after (re)building an
    * index, in one plan. Reuses both ANN pipelines; the only new work
    * is a semi-join of the two bounded top-k relations. */
  def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val brute = qAnnBruteforce(s, dir).filter(col("rnk") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    val lsh = qAnnLsh(s, dir).select(col("query_id"), col("neighbor_id"))
    val nl = lsh.groupBy(col("query_id")).agg(count(lit(1)).as("n_lsh"))
    val hits = lsh.join(brute, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    nl.join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("hits"))
      .select(col("query_id"), col("n_lsh"), col("hits"),
        expr("hits * 1000000 div 3").as("recall_ppm"))
      .orderBy(col("query_id"))
  }

  /** Near-dup cluster size histogram — the dedup REPORT (how much of
    * the corpus sits in 2-doc pairs vs mega-clusters) a curation run
    * publishes: component sizes from the verified-pair clustering,
    * rolled to (size, n_clusters, n_docs). Both aggregates run on the
    * bounded cluster relation. */
  def qCcSizeHist(s: SparkSession, dir: String): DataFrame =
    qDedupClusters(s, dir)
      .groupBy(col("cluster_rep")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))

  /** Half-life-decayed popularity per event type: each event weighs
    * 2^(−age_days) of a 2²⁰ unit scale — EXACT on any engine because
    * the decay is a power-of-two integer shift (1048576 div 2^b),
    * never exp()/pow() doubles. The classic trending-score shape:
    * one pass, one 1-row max-timestamp broadcast, one type-keyed
    * aggregate. */
  def qDecayPopularity(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("ts"))
    val tmax = ev.agg(max(col("ts")).as("tmax"))
    ev.crossJoin(broadcast(tmax))
      .withColumn("w", expr(
        "1048576 div shiftleft(1L, CAST(least((tmax - ts) div 86400000000000, 20) AS INT))"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("w")).as("decayed_score"))
      .orderBy(col("event_type"))
  }

  /** Null-skew-routed LEFT join: log-style FK columns are routinely
    * mostly-NULL, and a shuffle join hashes EVERY null row to one
    * partition — the classic silent skew killer. This plan routes the
    * null-key slice AROUND the join entirely (it can never match) and
    * unions it back with null build-side columns: result ≡ the plain
    * LEFT JOIN the oracle runs, but no executor ever sees the null
    * key. The matched/unmatched rollup is the reporting shape. */
  def qNullSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(when(col("value") < 1.0, lit(null)).otherwise(col("user_id")).as("k"),
        col("value"))
    val c = Tables.customer(s, dir)
      .select(col("c_custkey").as("k"), col("c_nationkey").cast("long"))
    val matched = e.filter(col("k").isNotNull).join(c, Seq("k"), "left")
    val nulls = e.filter(col("k").isNull)
      .withColumn("c_nationkey", lit(null).cast("long"))
    matched.unionByName(nulls)
      .groupBy(coalesce(col("c_nationkey"), lit(-1L)).as("nation"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(dec)).cast("double").as("sum_value"))
      .orderBy(col("nation"))
  }

  /** Sequence-packing efficiency report: per shard, how full the
    * 256-token training packs actually are (fill in ppm, integer
    * division — exact) — the metric that decides whether the packing
    * budget wastes accelerator steps. Reuses the q_pack_docs
    * assignment; the rollup runs on the bounded shard relation. */
  def qPackEfficiency(s: SparkSession, dir: String): DataFrame =
    operators.TextPrep.withPacks(
        Tables.documents(s, dir)
          .select(col("doc_id"),
            expr("size(split(text, ' '))").cast("long").as("n_tokens")),
        "doc_id", "n_tokens", 256, 8)
      .groupBy(col("shard"))
      .agg((max(col("pack_idx")) + 1).as("n_packs"),
        sum(col("n_tokens")).as("total_tokens"))
      .select(col("shard"), col("n_packs"), col("total_tokens"),
        expr("(total_tokens * 1000000) div (n_packs * 256)").as("fill_ppm"))
      .orderBy(col("shard"))

  /** Exact-duplicate ratio per source — the per-provider quality
    * report an ingest pipeline publishes: a doc is a dup if its
    * content hash appears ≥2 times ANYWHERE in the corpus (cross-
    * source dups attribute to each source holding a copy). One hash
    * aggregate + one hash-keyed join; ppm via integer division. */
  def qDupRatioBySource(s: SparkSession, dir: String): DataFrame = {
    val h = Tables.documents(s, dir)
      .select(col("source"), md5(col("text")).as("h"))
    val counts = h.groupBy(col("h")).agg(count(lit(1)).as("c"))
    h.join(counts, "h")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        expr("(n_dup_docs * 1000000) div n_docs").as("dup_ppm"))
      .orderBy(col("source"))
  }

  /** Hour-of-day activity profile: events and distinct users per
    * (hour, type) — the ops-telemetry heatmap. Epoch-nanos integer
    * bucketing (identical in both engines); one grid-keyed count +
    * distinct aggregate. */
  def qHourlyActivity(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(expr("(ts div 3600000000000) % 24").as("hour"),
        col("event_type"), col("user_id"))
      .groupBy(col("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("hour"), col("event_type"))

  // ---- evaluation / monitoring metric family (operators.Eval) ----

  /** Grouped ROC AUC of a filter signal: does document length actually
    * rank English docs above the rest, per source? Exact Mann–Whitney
    * rank-sum with tie handling — see [[operators.Eval.rocAuc]]. */
  def qScoreAuc(s: SparkSession, dir: String): DataFrame =
    operators.Eval.rocAuc(
        Tables.documents(s, dir).select(col("source"),
          (col("lang") === "en").as("is_en"), col("n_chars")),
        "source", "is_en", "n_chars")
      .orderBy(col("source"))

  /** Continuous drift monitor: exact two-sample Kolmogorov–Smirnov D
    * between the first and second half-month of `value`, per event
    * type — the snapshot-over-snapshot distribution check (chi-square
    * covers the categorical case elsewhere in the catalog). */
  def qKsDrift(s: SparkSession, dir: String): DataFrame =
    // NULL observations are not samples: without the filter they form
    // a CDF step whose position depends on engine NULL ordering
    // (Spark NULLS FIRST vs DuckDB NULLS LAST — r17 nullify sweep)
    operators.Eval.ksStatistic(
        Tables.events(s, dir).filter(col("value").isNotNull)
          .select(col("event_type"),
            (col("ts") < lit(KsCutoffNs)).as("in_a"), col("value")),
        "event_type", "in_a", "value")
      .orderBy(col("event_type"))

  /** 2024-01-16T00:00Z in epoch nanos — the mid-window snapshot split
    * for the KS drift check (events span 2024-01-01..30). */
  val KsCutoffNs: Long = 1705363200000000000L

  /** Inter-annotator agreement: Cohen's kappa between two tercile
    * labelers of document length — one reading characters, one
    * reading whitespace tokens — per source. The agreement audit run
    * before trusting any new heuristic labeler. */
  def qCohenKappa(s: SparkSession, dir: String): DataFrame =
    operators.Eval.cohenKappa(
        Tables.documents(s, dir).select(col("source"),
          when(col("n_chars") < 216, 0L).when(col("n_chars") < 379, 1L)
            .otherwise(2L).as("len_label"),
          when(size(split(col("text"), " ")) < 39, 0L)
            .when(size(split(col("text"), " ")) < 69, 1L)
            .otherwise(2L).as("wc_label")),
        "source", "len_label", "wc_label")
      .orderBy(col("source"))

  /** Retrieval eval: rank of each user's first `purchase` when their
    * events are ordered by value (desc, event-id tiebreak), plus the
    * reciprocal rank in ppm — mean the ppm column for MRR. */
  def qMrrEval(s: SparkSession, dir: String): DataFrame =
    operators.Eval.firstRelevantRank(
        Tables.events(s, dir).select(col("user_id"), col("value"),
          col("event_id"), (col("event_type") === "purchase").as("rel")),
        "user_id", Seq(col("value").desc, col("event_id")), "rel")
      .orderBy(col("user_id"))

  /** Corpus-balance dashboard: Gini concentration of per-user activity
    * within each event type — 0 = uniform engagement, →1 = all mass on
    * a few users. Exact rational form. */
  def qGiniConcentration(s: SparkSession, dir: String): DataFrame =
    operators.Eval.giniConcentration(
        Tables.events(s, dir), "event_type", "user_id")
      .orderBy(col("event_type"))

  /** Clustering quality against gold labels: purity of the k-means
    * cells over the labeled embeddings — the SemDeDup sanity check
    * that semantic cells actually align with label structure. */
  def qClusterPurity(s: SparkSession, dir: String): DataFrame = {
    val assign = operators.KMeans.assign(
        Similarity.quantized(embStore(s, dir))
          .select(col("vec_id"), col("qv")),
        KmeansK, KmeansIters)
      .select(col("vec_id"), col("cluster"))
    val labels = embStore(s, dir)
      .select(col("vec_id"), col("label"))
    operators.Eval.clusterPurity(assign.join(labels, "vec_id"),
        "cluster", "label")
      .orderBy(col("cluster"))
  }

  /** Operating-point eval: precision/recall/F1/accuracy per source of
    * the median-length threshold predicting English — the companion
    * to [[qScoreAuc]] once a threshold actually ships. */
  def qPrfEval(s: SparkSession, dir: String): DataFrame =
    operators.Eval.binaryPrf(
        Tables.documents(s, dir).select(col("source"),
          (col("lang") === "en").as("is_en"),
          (col("n_chars") >= 306).as("pred_en")),
        "source", "is_en", "pred_en")
      .orderBy(col("source"))

  /** Monotone association between the character-length and
    * token-count signals, per source: exact Spearman ρ over the
    * doc-id-tiebroken total order — the "are these two scores
    * redundant" check before retiring one. */
  def qSpearmanRho(s: SparkSession, dir: String): DataFrame =
    operators.Eval.spearmanRho(
        Tables.documents(s, dir).select(col("source"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("wc"),
          col("doc_id")),
        "source", "n_chars", "wc", "doc_id")
      .orderBy(col("source"))

  /** Calibration curve of the length score against the English label,
    * per source: ten equal-count bins, exact integer bucket cuts,
    * per-bin positive rate — monotone bins = informative score. */
  def qScoreCalibration(s: SparkSession, dir: String): DataFrame =
    operators.Eval.calibrationBins(
        Tables.documents(s, dir).select(col("source"), col("n_chars"),
          col("doc_id"), (col("lang") === "en").as("is_en")),
        "source", "n_chars", "doc_id", "is_en")
      .orderBy(col("source"), col("bucket"))

  /** Rank-correlation matrix between the first four embedding
    * dimensions, per label — the dimension-decorrelation audit of an
    * embedding space (well-trained dims carry near-independent
    * signal; ρ → 1 means redundant axes). Rank-based on purpose:
    * Pearson r² from raw sufficient statistics needs A²/(B·C) with
    * A,B,C ~ n·Σx² — past 38 digits at large SF, and staged integer
    * division loses precision whenever the two variances sit at
    * different scales. Ranks bound every moment by n³, so the
    * classical Spearman closed form stays exact DECIMAL arithmetic at
    * ANY scale factor. The rank tiebreak is `vec_id` — unique by
    * construction (the documents/lineitem synthetic tables carry full
    * duplicates, which make ANY rank-based statistic nondeterministic
    * — measured, not assumed). One exchange on the label feeds all
    * four rank windows AND the single moment aggregate computing all
    * six Σd² at once; the pair expansion runs on the |labels|-row
    * moment relation. */
  def qCorrMatrix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val names = Seq("d0", "d1", "d2", "d3")
    val src = Tables.embeddings(s, dir).select(
      col("label").cast("long").as("flag") +: col("vec_id") +:
        names.zipWithIndex.map { case (a, i) =>
          expr(s"CAST(floor(CAST(element_at(embedding, ${i + 1}) " +
            s"AS DOUBLE) * 1000) AS BIGINT)").as(a) }: _*)
    // doubled-average ranks (see Eval.spearmanRho): identical rows
    // get identical ranks, so the matrix is deterministic even under
    // full-duplicate inputs (r17 dup metamorphic sweep)
    val ranked = names.foldLeft(src) { (d, c) =>
      d.withColumn(s"r_$c",
        rank().over(Window.partitionBy(col("flag"))
          .orderBy(col(c), col("vec_id"))).cast("long") * 2 +
        count(lit(1)).over(Window.partitionBy(col("flag"), col(c),
          col("vec_id"))) - 1)
    }
    val pairNames = for { i <- names.indices; j <- names.indices if i < j }
      yield (names(i), names(j))
    val aggs = count(lit(1)).as("n") +: pairNames.map { case (x, y) =>
      sum(expr(s"CAST(r_$x - r_$y AS DECIMAL(38,0)) * (r_$x - r_$y)"))
        .as(s"sd2_${x}_$y") }
    val m = ranked.groupBy(col("flag")).agg(aggs.head, aggs.tail: _*)
    val pairStructs = pairNames.map { case (x, y) =>
      expr(s"named_struct('col_x', '$x', 'col_y', '$y', 'sd2', sd2_${x}_$y)")
    }
    m.select(col("flag"), col("n"),
        explode(array(pairStructs: _*)).as("p"))
      .filter(col("n") > 1)
      .select(col("flag"), col("p.col_x").as("col_x"),
        col("p.col_y").as("col_y"),
        expr("1000000 - CAST(p.sd2 * 6000000 div ((CAST(n AS DECIMAL(38,0))" +
          " * n * n - n) * 4) AS BIGINT)").as("rho_ppm"))
      .orderBy(col("flag"), col("col_x"), col("col_y"))
  }

  /** Exact join-size profiler: |A ⋈ B| per key-equality join computed
    * as the dot product of the two DEGREE relations — the planner's
    * "how big would this join be, and how skewed" question answered
    * WITHOUT running the join. Per join: matching keys, exact output
    * rows, and the largest single-key contribution (the skew hotspot
    * a salting strategy would target). Work is two keyed aggregates
    * plus a join of the (far smaller) degree relations — at 100 TB
    * this costs two shuffles of key-count pairs while the profiled
    * join itself might cost hours. DECIMAL(38,0) internal (da·db is
    * count·count), BIGINT emit. */
  def qJoinSizeProfile(s: SparkSession, dir: String): DataFrame = {
    def profile(name: String, a: DataFrame, ka: String,
                b: DataFrame, kb: String): DataFrame = {
      val da = a.groupBy(col(ka).as("k")).agg(count(lit(1)).as("da"))
      val db = b.groupBy(col(kb).as("k")).agg(count(lit(1)).as("db"))
      da.join(db, "k")
        .agg(count(lit(1)).as("matching_keys"),
          sum(expr("CAST(da AS DECIMAL(38,0)) * db")).as("jr"),
          max(expr("CAST(da AS DECIMAL(38,0)) * db")).as("mk"))
        .select(lit(name).as("join_name"), col("matching_keys"),
          col("jr").cast("long").as("join_rows"),
          col("mk").cast("long").as("max_key_rows"))
    }
    profile("customer_orders", Tables.customer(s, dir), "c_custkey",
        Tables.orders(s, dir), "o_custkey")
      .unionByName(profile("orders_lineitem", Tables.orders(s, dir),
        "o_orderkey", Tables.lineitem(s, dir), "l_orderkey"))
      .unionByName(profile("part_lineitem", Tables.part(s, dir),
        "p_partkey", Tables.lineitem(s, dir), "l_partkey"))
      .orderBy(col("join_name"))
  }

  /** Group-aware (leakage-free) train/val/test split: every EVENT of
    * a user lands in the split chosen by the user's md5 bucket, so no
    * user straddles splits — the eval-hygiene counterpart of
    * [[qSplitStratified]] (which splits rows; row-level splits leak
    * user signal across train and test). Emits per-split user/event
    * counts plus `leaked_users` — distinct users appearing in more
    * than one split — computed from the data rather than asserted
    * (it is 0 by construction; the column is the proof). Engine-
    * neutral assignment: md5-of-id bucket, the catalog's standard
    * reshuffle-stable selector. */
  def qGroupSplit(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_id"))
      .withColumn("b", operators.Sketches.hash32(col("user_id")) % 10)
      .withColumn("split",
        when(col("b") < 8, "train").when(col("b") < 9, "val")
          .otherwise("test"))
    val per = ev.groupBy(col("split"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
    val leaked = ev.select(col("user_id"), col("split")).distinct()
      .groupBy(col("user_id")).agg(count(lit(1)).as("ns"))
      .filter(col("ns") > 1)
      .agg(count(lit(1)).as("leaked_users"))
    per.crossJoin(leaked)
      .select(col("split"), col("n_users"), col("n_events"),
        col("leaked_users"))
      .orderBy(col("split"))
  }

  /** Forecast-quality eval in exact integers: seasonal-naive
    * prediction (same hour yesterday) of hourly event counts, scored
    * by MASE — the mean-absolute-error ratio against the one-step
    * naive baseline, the standard scale-free forecast metric, and a
    * pure ratio of integer count sums (ppm emit, no float ever).
    * One (type, hour-index) aggregate, the [[qGapFill]] dense-grid
    * idiom (per-type span + explode(sequence) — zero-count hours MUST
    * exist or "24 back" is not "same hour yesterday"), two lag
    * windows over the per-type hourly series, one rollup. */
  def qForecastEval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .select(col("event_type"), expr("ts div 3600000000000").as("hidx"))
      .groupBy(col("event_type"), col("hidx"))
      .agg(count(lit(1)).as("n_obs"))
    val dense = hourly.groupBy(col("event_type"))
      .agg(min(col("hidx")).as("mn"), max(col("hidx")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"))).as("hidx"))
      .join(hourly, Seq("event_type", "hidx"), "left")
      .select(col("event_type"), col("hidx"),
        coalesce(col("n_obs"), lit(0L)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hidx"))
    val scored = dense
      .withColumn("naive", lag(col("n"), 1).over(w))
      .withColumn("seasonal", lag(col("n"), 24).over(w))
      .filter(col("naive").isNotNull && col("seasonal").isNotNull)
    scored.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_points"),
        sum(abs(col("n") - col("seasonal"))).as("seasonal_ae"),
        sum(abs(col("n") - col("naive"))).as("naive_ae"))
      .filter(col("naive_ae") > 0)
      .select(col("event_type"), col("n_points"), col("seasonal_ae"),
        col("naive_ae"),
        expr("CAST(CAST(seasonal_ae AS DECIMAL(38,0)) * 1000000 " +
          "div naive_ae AS BIGINT)").as("mase_ppm"))
      .orderBy(col("event_type"))
  }

  /** Grid-blocked fixed-radius neighbor join over the 2-D embedding
    * projection — the spatial "nearby" join. Radius is
    * density-invariant ([[operators.Spatial.dynamicEps2]]: eps² =
    * 10¹²/n), so pair output stays O(n) at any scale; candidate
    * generation is the 3×3-cell equi-join (the only shuffle),
    * verification an exact integer L2 test. Oracle is the naive O(n²)
    * cross filter — recall 1 by construction. */
  def qGridJoin(s: SparkSession, dir: String): DataFrame = {
    val pts = operators.Spatial.scaledPoints(Tables.embeddings(s, dir))
    val eps2 = operators.Spatial.dynamicEps2(1000000L, pts.count())
    operators.Spatial.gridNeighborPairs(pts, eps2)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DBSCAN density clustering on the grid neighbor graph:
    * deg ≥ 12 ⇒ core, clusters = CC over core–core edges, border =
    * min-core-neighbor assignment (see [[operators.Spatial.dbscan]]
    * for the deterministic border rule). Emits the per-cluster
    * role census. The oracle recomputes the whole pipeline naively,
    * components via a recursive-CTE transitive closure. */
  def qDbscan(s: SparkSession, dir: String): DataFrame = {
    val pts = operators.Spatial.scaledPoints(Tables.embeddings(s, dir))
    val eps2 = operators.Spatial.dynamicEps2(1000000L, pts.count())
    operators.Spatial.dbscan(pts, eps2, 12L)
      .groupBy(col("cluster_rep"))
      .agg(sum(when(col("role") === "core", 1L).otherwise(0L)).as("n_core"),
        sum(when(col("role") === "border", 1L).otherwise(0L)).as("n_border"),
        count(lit(1)).as("n_points"))
      .orderBy(col("cluster_rep"))
  }

  /** Positional phrase search — the IR primitive a doc-level inverted
    * index ([[qInvertedIndex]]) can't answer and substring search
    * ([[qTrigramSearch]]) answers only at the byte level: find every
    * occurrence of a two-word phrase by intersecting per-term
    * positional postings on (doc, pos+1 = pos). The phrase is
    * data-derived (the corpus's most frequent bigram, ties broken
    * lexicographically) so the query is self-contained. Scale shape:
    * postings are a projection of the token explode; the 1-row phrase
    * relation broadcasts onto the term equi-joins; the only real
    * shuffle is the (doc_id, pos)-keyed intersection join, sized by
    * the two terms' posting lists, never the corpus. */
  def qPhraseSearch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos"), col("col").as("w"))
    val top1 = tok
      .withColumn("w2",
        lead(col("w"), 1).over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(col("w2").isNotNull)
      .groupBy(col("w").as("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w1"), col("w2")).limit(1)
      .select(col("w1"), col("w2"))
    val t1 = tok.join(top1.select(col("w1").as("w")), Seq("w"))
      .select(col("doc_id"), col("pos"))
    val t2 = tok.join(top1.select(col("w2").as("w")), Seq("w"))
      .select(col("doc_id"), col("pos").as("pos2"))
    t1.join(t2, t1("doc_id") === t2("doc_id") && col("pos2") === col("pos") + 1)
      .groupBy(t1("doc_id")).agg(count(lit(1)).as("n_occ"))
      .crossJoin(broadcast(top1))
      .select(col("w1"), col("w2"), col("doc_id"), col("n_occ"))
      .orderBy(col("doc_id"))
  }

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    * maximal token runs between delimiter words, word score =
    * degree/freq over phrase co-membership, phrase score = Σ member
    * word scores — here in exact ppm integers. The delimiter list is
    * frequency-derived (corpus top-10 words, the paper's own stoplist
    * generation), so the operator is self-contained and the run
    * structure is non-degenerate on any corpus. Scale shape: token
    * explode is projection-only; the 10-row stoplist broadcasts onto
    * an anti join; run ids come from a per-doc window (gaps-and-
    * islands); word stats and phrase aggregates are keyed shuffles on
    * w and (doc, run); top-20 is a TakeOrdered. */
  def qRakeKeywords(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos"), col("col").as("w"))
    val stops = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(10).select(col("w"))
    val ns = tok.join(stops, Seq("w"), "left_anti")
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val ph = ns.groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("plen"),
        expr("array_join(transform(array_sort(collect_list(struct(pos, w)))," +
          " x -> x.w), ' ')").as("phrase"))
    val member = ns.select(col("doc_id"), col("grp"), col("w"))
      .join(ph.select(col("doc_id"), col("grp"), col("plen")),
        Seq("doc_id", "grp"))
    val wscore = member.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      .select(col("w"), expr(
        "CAST(CAST(degree AS DECIMAL(38,0)) * 1000000 div freq AS BIGINT)")
        .as("score"))
    val pscore = member.join(wscore, Seq("w"))
      .groupBy(col("doc_id"), col("grp")).agg(sum(col("score")).as("score_ppm"))
    ph.join(pscore, Seq("doc_id", "grp"))
      .groupBy(col("phrase"))
      .agg(min(col("plen")).as("n_words"), count(lit(1)).as("n_occ"),
        min(col("score_ppm")).as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("phrase")).limit(20)
      .orderBy(col("score_ppm").desc, col("phrase"))
  }

  /** GAPPED length-3 sequential pattern mining over per-user event
    * streams — the PrefixSpan shape proper, in contrast to
    * [[qEventPaths]]' contiguous paths: a pattern t1→t2→t3 matches
    * positions i<j<k within a lookahead window of 4 (so events may be
    * skipped), which is what real behavioral patterns need — noise
    * events between the meaningful steps must not break the match.
    * Fan-out is bounded by construction: C(4,2)=6 position pairs per
    * anchor event, enumerated as six (lead a, lead b) column pairs
    * stacked map-side — no self-join, no candidate explosion. Support
    * = occurrence count + distinct users; top-25 by (occurrences
    * desc, pattern asc). One per-user window shuffle + one
    * pattern-keyed aggregate. */
  def qSeqPatterns(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val led = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("t1"))
      .withColumn("l1", lead(col("t1"), 1).over(w))
      .withColumn("l2", lead(col("t1"), 2).over(w))
      .withColumn("l3", lead(col("t1"), 3).over(w))
      .withColumn("l4", lead(col("t1"), 4).over(w))
    led
      .select(col("user_id"), col("t1"), expr(
        "stack(6, l1, l2, l1, l3, l1, l4, l2, l3, l2, l4, l3, l4) " +
          "AS (t2, t3)"))
      .filter(col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_occ").desc, col("t1"), col("t2"), col("t3")).limit(25)
      .orderBy(col("n_occ").desc, col("t1"), col("t2"), col("t3"))
  }

  /** Exact autocorrelation of the hourly event-count series at lags
    * 1, 2, and 24 — the seasonality diagnostic behind
    * [[qForecastEval]]'s model choice. Pearson r over (x_t, x_{t−ℓ})
    * pairs on the dense per-type hourly grid, kept exact by emitting
    * sign(N) and r² in ppm where N = nΣxy − ΣxΣy and r² =
    * N²/(D₁D₂) — pure integer arithmetic in DECIMAL(38,0), BIGINT on
    * emit. One grid build, three lag columns over one per-type
    * window, one stacked aggregate. */
  def qAutocorr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .select(col("event_type"), expr("ts div 3600000000000").as("hidx"))
      .groupBy(col("event_type"), col("hidx"))
      .agg(count(lit(1)).as("n_obs"))
    val dense = hourly.groupBy(col("event_type"))
      .agg(min(col("hidx")).as("mn"), max(col("hidx")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"))).as("hidx"))
      .join(hourly, Seq("event_type", "hidx"), "left")
      .select(col("event_type"), col("hidx"),
        coalesce(col("n_obs"), lit(0L)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hidx"))
    val lagged = dense
      .withColumn("y1", lag(col("x"), 1).over(w))
      .withColumn("y2", lag(col("x"), 2).over(w))
      .withColumn("y24", lag(col("x"), 24).over(w))
      .select(col("event_type"), col("x"),
        expr("stack(3, 1L, y1, 2L, y2, 24L, y24) AS (lag_h, y)"))
      .filter(col("y").isNotNull)
    lagged.groupBy(col("event_type"), col("lag_h"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("lag_h"), col("n_pairs"),
        expr("CAST(n_pairs AS DECIMAL(38,0)) * sxy " +
          "- CAST(sx AS DECIMAL(38,0)) * sy").as("num"),
        expr("CAST(n_pairs AS DECIMAL(38,0)) * sxx " +
          "- CAST(sx AS DECIMAL(38,0)) * sx").as("d1"),
        expr("CAST(n_pairs AS DECIMAL(38,0)) * syy " +
          "- CAST(sy AS DECIMAL(38,0)) * sy").as("d2"))
      .filter(col("d1") > 0 && col("d2") > 0)
      .select(col("event_type"), col("lag_h"), col("n_pairs"),
        when(col("num") > 0, 1L).when(col("num") < 0, -1L).otherwise(0L)
          .as("r_sign"),
        // split-scale (num·10³/d1)·(num·10³/d2) like q_assortativity:
        // keeps every intermediate under DECIMAL(38,0) at any count scale
        expr("CAST((num * 1000 div d1) * (num * 1000 div d2) AS BIGINT)")
          .as("r2_ppm"))
      .orderBy(col("event_type"), col("lag_h"))
  }

  /** CUSUM change-point detection over the per-type hourly series —
    * the level-shift counterpart of [[qAnomalyMad]]'s spike detector.
    * The scaled CUSUM n·S_t = n·P_t − t·T (P = prefix sum, T = series
    * total) is exact in integers; the change point is the position
    * maximizing |n·S_t| (ties → earliest). Emits the split position
    * plus exact pre/post mean levels in ppm. One dense-grid build,
    * one prefix-sum window per type, one bounded per-type argmax. */
  def qChangepoint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .select(col("event_type"), expr("ts div 3600000000000").as("hidx"))
      .groupBy(col("event_type"), col("hidx"))
      .agg(count(lit(1)).as("n_obs"))
    val dense = hourly.groupBy(col("event_type"))
      .agg(min(col("hidx")).as("mn"), max(col("hidx")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"))).as("hidx"))
      .join(hourly, Seq("event_type", "hidx"), "left")
      .select(col("event_type"), col("hidx"),
        coalesce(col("n_obs"), lit(0L)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hidx"))
    val pre = dense
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("p", sum(col("x")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = pre.groupBy(col("event_type"))
      .agg(max(col("p")).as("tt"), max(col("t")).as("n"))
    val scored = pre.join(tot, Seq("event_type"))
      .filter(col("t") < col("n")) // S_n = 0 by construction; exclude
      .withColumn("ns", col("n") * col("p") - col("t") * col("tt"))
      .withColumn("abs_ns", abs(col("ns")))
    val best = scored.groupBy(col("event_type"))
      .agg(max(col("abs_ns")).as("m"))
    scored.join(best, Seq("event_type"))
      .filter(col("abs_ns") === col("m"))
      .groupBy(col("event_type"))
      .agg(min(col("t")).as("cp_t"), max(col("abs_ns")).as("abs_ns"),
        max(col("n")).as("n_hours"), max(col("tt")).as("total"))
      .join(pre.select(col("event_type"), col("t").as("cp_t"), col("p")),
        Seq("event_type", "cp_t"))
      .select(col("event_type"), col("cp_t"), col("n_hours"), col("abs_ns"),
        expr("CAST(p * 1000000 div cp_t AS BIGINT)").as("pre_mean_ppm"),
        expr("CAST((total - p) * 1000000 div (n_hours - cp_t) AS BIGINT)")
          .as("post_mean_ppm"))
      .orderBy(col("event_type"))
  }

  /** Benford first-digit audit of the lineitem price column — the
    * classic fraud/data-quality screen. Observed first-significant-
    * digit shares (of exact integer cents) against the Benford
    * expectation log₁₀(1+1/d), embedded as fixed ppm literals that
    * sum to exactly 10⁶. Pure projection + 9-group aggregate. */
  def qBenfordAudit(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.lineitem(s, dir)
      .select(floor(col("l_extendedprice").cast("double") * 100)
        .cast("long").as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val tot = obs.agg(sum(col("n_obs")).as("total"))
    val benford = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
      9 -> 45757L)
    val bexpr = benford.map { case (d, p) => s"WHEN digit = $d THEN ${p}L" }
      .mkString("CASE ", " ", " END")
    obs.crossJoin(broadcast(tot))
      .select(col("digit"), col("n_obs"),
        expr("CAST(n_obs * 1000000 div total AS BIGINT)").as("obs_ppm"),
        expr(bexpr).as("benford_ppm"))
      .withColumn("dev_ppm", col("obs_ppm") - col("benford_ppm"))
      .orderBy(col("digit"))
  }

  /** Trailing-24h rolling regression slope of the hourly event count
    * — trend detection as a windowed integer least-squares fit. Over
    * each full 24-row window the denominator n²(n²−1)/12 is constant;
    * the numerator nΣty−ΣtΣy is windowed integer sums (t = absolute
    * hour index — slope is shift-invariant). Emits each type's
    * steepest rise and fall with positions (ties → earliest). Scale:
    * one dense grid, one 24-row sliding window per type, bounded
    * per-type argmax — no global pass. */
  def qRollingSlope(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .select(col("event_type"), expr("ts div 3600000000000").as("hidx"))
      .groupBy(col("event_type"), col("hidx"))
      .agg(count(lit(1)).as("n_obs"))
    val dense = hourly.groupBy(col("event_type"))
      .agg(min(col("hidx")).as("mn"), max(col("hidx")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"))).as("hidx"))
      .join(hourly, Seq("event_type", "hidx"), "left")
      .select(col("event_type"), col("hidx"),
        coalesce(col("n_obs"), lit(0L)).as("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hidx"))
      .rowsBetween(-23, Window.currentRow)
    val sl = dense
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sty", sum(col("hidx") * col("y")).over(w))
      .withColumn("st", sum(col("hidx")).over(w))
      .filter(col("nw") === 24)
      // denominator 24²·(24²−1)/12 = 27600; slope in ppm counts/hour
      .withColumn("slope_ppm", expr(
        "CAST(CAST(24 * sty - st * sy AS DECIMAL(38,0)) * 1000000 " +
          "div 27600 AS BIGINT)"))
    val agg = sl.groupBy(col("event_type"))
      .agg(max(col("slope_ppm")).as("max_slope_ppm"),
        min(col("slope_ppm")).as("min_slope_ppm"))
    val up = sl.join(agg, Seq("event_type"))
      .filter(col("slope_ppm") === col("max_slope_ppm"))
      .groupBy(col("event_type")).agg(min(col("hidx")).as("max_slope_hidx"))
    val dn = sl.join(agg, Seq("event_type"))
      .filter(col("slope_ppm") === col("min_slope_ppm"))
      .groupBy(col("event_type")).agg(min(col("hidx")).as("min_slope_hidx"))
    agg.join(up, Seq("event_type")).join(dn, Seq("event_type"))
      .select(col("event_type"), col("max_slope_ppm"), col("max_slope_hidx"),
        col("min_slope_ppm"), col("min_slope_hidx"))
      .orderBy(col("event_type"))
  }

  /** Hybrid retrieval fusion — the RAG-stack join of lexical and
    * vector search: BM25 top-50 (terms table/spark/merge, the
    * [[qBm25Topk]] integer scoring) fused with embedding top-50
    * (query = vec 0, the [[qAnnBruteforce]] quantized cosine) by
    * truncated Reciprocal Rank Fusion: rrf = Σ 10⁶ div (60+rank) —
    * per-term truncation makes the fusion score exact on any engine.
    * Both rankings are bounded top-k relations, so the fusion join
    * and final top-20 are driver-light and broadcast-sized; the heavy
    * lifting stays in the two underlying rankers. */
  def qHybridRrf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // lexical leg: BM25 scores over the fixed term set, ranked
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val totals = dl.agg(sum(col("dl")).as("tl"), count(lit(1)).as("nd"))
    val tf = toks.filter(col("w").isin("table", "spark", "merge"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val bm = tf.join(dl, "doc_id").join(broadcast(dfq), "w")
      .crossJoin(broadcast(totals))
      .withColumn("score_part", expr(
        """CAST((CAST(((2*(nd - df) + 1) * 1000) div (2*df + 1) AS DECIMAL(38,0))
          |  * 44 * tf * tl) div (20*tf*tl + 6*tl + 18*dl*nd) AS BIGINT)""".stripMargin))
      .groupBy(col("doc_id"))
      .agg(sum(col("score_part")).as("bm25_milli"))
      // top-50 via TakeOrdered FIRST; the global rank window then runs
      // on the bounded 50-row relation (PlanGuard-whitelisted)
      .orderBy(col("bm25_milli").desc, col("doc_id")).limit(50)
      .withColumn("r_bm25", row_number().over(
        Window.orderBy(col("bm25_milli").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("r_bm25"))
    // vector leg: brute-force cosine top-50 for query vector 0
    val vectors = Tables.embeddings(s, dir)
    val emb = operators.Similarity.bruteForceTopK(
        vectors, vectors.filter(col("vec_id") === 0), 50)
      .select(col("neighbor_id").as("doc_id"), col("rnk").as("r_embed"))
    bm.join(emb, Seq("doc_id"), "full_outer")
      .withColumn("rrf_ppm",
        coalesce(expr("1000000 div (60 + r_bm25)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + r_embed)"), lit(0L)))
      .select(col("doc_id"), col("rrf_ppm"), col("r_bm25"), col("r_embed"))
      .orderBy(col("rrf_ppm").desc, col("doc_id")).limit(20)
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
  }

  /** Time-weighted average (TWAP) per event type — the financial/ops
    * metric where each observation holds until the next one, so its
    * weight is its duration: twap = Σ(value·Δt)/ΣΔt. Exact: values in
    * integer cents, durations from one lead window (the per-type ΣΔt
    * telescopes to the series span), products in DECIMAL(38,0), ppm
    * emit. One per-type window + one per-type aggregate. */
  def qTwap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("event_type"), col("ts"), col("event_id"),
        floor(col("value").cast("double") * 100).cast("long").as("cents"))
      .withColumn("dt", lead(col("ts"), 1).over(w) - col("ts"))
      .filter(col("dt").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dt")).as("span_ns"),
        sum(expr("CAST(cents AS DECIMAL(38,0)) * dt")).as("wsum"))
      .select(col("event_type"), col("n_intervals"), col("span_ns"),
        expr("CAST(wsum div span_ns AS BIGINT)").as("twap_cents"))
      .orderBy(col("event_type"))
  }

  /** Quantile normalization — map every group's value distribution
    * onto the pooled global distribution (the cross-batch feature-
    * alignment op): a row at within-group rank r of n maps to the
    * global element at position ceil(r·N/n). Global positions come
    * from the [[qDenseIds]] range-partition + offset idiom (a
    * distributed sort, never a single-partition window); within-group
    * ranks from per-type windows; the position lookup is one
    * equi-join. Emits the per-type census of normalized cents (sum
    * exact in DECIMAL→BIGINT) — invariant to tie order because tied
    * rows share a value. */
  def qQuantileNormalize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // a NULL value has no quantile — rank only real observations
    // (unfiltered, NULL rows take rank positions whose end depends on
    // engine NULL ordering; r17 nullify sweep)
    val ev = Tables.events(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        floor(col("value").cast("double") * 100).cast("long").as("cents"))
    // global sorted positions, 1-based, without a global window
    val ranged = ev.select(col("cents"), col("event_id"))
      .repartitionByRange(col("cents"), col("event_id"))
      .withColumn("pid", spark_partition_id())
      .cache()
    val offsets = ranged.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("pid"), col("offset"))
    val globalPos = ranged.join(broadcast(offsets), "pid")
      .withColumn("gpos", col("offset") + row_number().over(
        Window.partitionBy(col("pid")).orderBy(col("cents"), col("event_id"))))
      .select(col("gpos"), col("cents").as("gval"))
    val wg = Window.partitionBy(col("event_type"))
      .orderBy(col("cents"), col("event_id"))
    val ranked = ev
      .withColumn("r", row_number().over(wg).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
    val bign = ev.agg(count(lit(1)).as("nn"))
    ranked.crossJoin(broadcast(bign))
      // ceil(r·N/n) = (r·N + n − 1) div n, exact in integers (the
      // product in DECIMAL(38,0): r·N overflows Long at ~10⁹ rows)
      .withColumn("gpos",
        expr("CAST((CAST(r AS DECIMAL(38,0)) * nn + n - 1) div n AS BIGINT)"))
      .join(globalPos, Seq("gpos"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("gval")).as("min_norm"), max(col("gval")).as("max_norm"),
        expr("CAST(sum(CAST(gval AS DECIMAL(38,0))) AS BIGINT)")
          .as("sum_norm"))
      .orderBy(col("event_type"))
  }

  /** Leakage-safe fit/transform standardization — the ML-pipeline
    * discipline [[qGroupSplit]] enables: per-type robust-scaling
    * stats (median, IQR as exact rank elements of integer cents) are
    * FIT on the train split only, then APPLIED to train/val/test
    * alike; fitting on the full data would leak val/test signal into
    * the transform. Emits per (split, type) standardized aggregates
    * in exact ppm. Rank elements via per-type windows (partitioned,
    * never global); the 5-row stats relation broadcasts back onto the
    * full table. */
  def qFitTransform(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fit/transform over real observations only: NULL cents otherwise
    // occupy rank positions whose end is engine NULL-ordering (r17
    // nullify sweep — same class as q_quantile_normalize)
    val ev = Tables.events(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        floor(col("value").cast("double") * 100).cast("long").as("cents"))
      .withColumn("b", operators.Sketches.hash32(col("event_id")) % 10)
      .withColumn("split",
        when(col("b") < 8, "train").when(col("b") < 9, "val")
          .otherwise("test"))
    val wg = Window.partitionBy(col("event_type"))
      .orderBy(col("cents"), col("event_id"))
    val train = ev.filter(col("split") === "train")
      .withColumn("r", row_number().over(wg).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
    val stats = train
      .filter(col("r") === expr("(n + 1) div 2") ||
        col("r") === expr("(n + 3) div 4") ||
        col("r") === expr("(3 * n + 4) div 4"))
      .groupBy(col("event_type"), col("n"))
      .agg(
        max(when(col("r") === expr("(n + 1) div 2"), col("cents"))).as("med"),
        max(when(col("r") === expr("(n + 3) div 4"), col("cents"))).as("q1"),
        max(when(col("r") === expr("(3 * n + 4) div 4"), col("cents"))).as("q3"))
      .select(col("event_type"), col("med"),
        greatest(col("q3") - col("q1"), lit(1L)).as("iqr"))
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("z_ppm", expr(
        "CAST(CAST(cents - med AS DECIMAL(38,0)) * 1000000 div iqr AS BIGINT)"))
      .groupBy(col("split"), col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        expr("CAST(sum(CAST(z_ppm AS DECIMAL(38,0))) AS BIGINT)")
          .as("sum_z_ppm"),
        min(col("z_ppm")).as("min_z_ppm"), max(col("z_ppm")).as("max_z_ppm"))
      .orderBy(col("split"), col("event_type"))
  }

  /** Personalized PageRank — [[qPagerank]]'s teleport redirected to a
    * source set (customers 0–9), the "related to THESE" ranking that
    * drives recommendations: r₀ = mass on sources only, each of 3
    * iterations damps 85% through the edge walk and returns 15% to
    * the sources. Same scale shape as PageRank: the degree-attached
    * edge relation is partitioned and cached once; each round
    * shuffles only the node-sized rank relation. Emits the top-30
    * non-source nodes (rank desc, node asc). */
  def qPpr(s: SparkSession, dir: String): DataFrame = Rounds.scoped { scope =>
    val sym = scope.cache(Graph.undirected(purchaseEdges(s, dir), "c", "sup")
      .repartition(col("src")))
    val deg = scope.cache(sym.groupBy(col("src")).agg(count(lit(1)).as("d")))
    val nodes = deg.select(col("src").as("node"))
    // source set: customer nodes 0–9 (ids 2k, k<10) present in the
    // graph. Source-ness is a PREDICATE of the node id, so every
    // relation in the loop tests it as an expression instead of
    // joining against a sources relation — the r19 plan rebuilt a
    // BroadcastExchange of the sources subtree twice per iteration
    // plus once in the final projection (7 broadcast builds + their
    // AQE stage latency for a row-identical result); a when() on the
    // node column is free (r20, guide §3 "pick the strategy
    // deliberately" — here the join itself was removable).
    val isSrc = col("node") % 2 === 0 && col("node") < 20
    val sources = nodes.filter(isSrc)
    val ns = sources.count() // bounded scalar (≤10)
    var r = nodes.filter(isSrc)
      .select(col("node"), lit(1000000000L / ns).as("r"))
    for (_ <- 1 to 3) {
      // `r div d` depends only on src, so the degree attaches to the
      // NODE-sized rank relation, not to every edge: the r19 form
      // cached a third 1.17M-row (src, dst, d) relation (sym ⋈ deg)
      // whose only purpose was carrying d to this projection — a full
      // extra columnar cache build + an extra long column scanned per
      // iteration. Per-edge contributions are identical: cb is a
      // function of src, replicated per edge either way (r20, guide
      // §2.3 shuffle/scan fewer bytes).
      val rIn = r.withColumnRenamed("node", "src")
        .join(deg, "src")
        .select(col("src"), expr("r div d").as("cb"))
      val contrib = sym
        .join(rIn, "src")
        .select(col("dst"), col("cb"))
        .groupBy(col("dst")).agg(sum(col("cb")).as("contrib"))
        .select(col("dst").as("node"),
          expr("(85 * contrib) div 100").as("walk"))
      // teleport mass returns ONLY to sources; walked mass goes anywhere
      r = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (coalesce(col("walk"), lit(0L)) +
            when(isSrc, lit(150000000L / ns))
              .otherwise(lit(0L))).as("r"))
        .filter(col("r") > 0) // sparse: untouched nodes carry no mass
    }
    // eager ≤30-row result so the two graph caches release NOW
    // (the qRfmScores pattern) instead of lingering until the caller
    // clears the session cache
    materializeFinal("q_ppr",
      r.filter(!isSrc)
        .select(col("node"), col("r").as("ppr_ppb"))
        .orderBy(col("ppr_ppb").desc, col("node")).limit(30)
        .orderBy(col("ppr_ppb").desc, col("node")))
  }

  /** Inclusion-dependency discovery (the Binder/SPIDER profiling
    * primitive behind FK inference) — the cross-table counterpart of
    * [[qFdDiscovery]]: for each candidate column pair, count distinct
    * LHS values missing from the RHS; zero missing ⇒ the inclusion
    * holds (an FK candidate). Candidates cover the star schema's true
    * FKs plus the reverse directions (true negatives — a key column
    * is rarely exhausted by its referencing table). Each pair is one
    * distinct + one anti join, both keyed shuffles; the result is one
    * row per candidate. */
  def qIndDiscovery(s: SparkSession, dir: String): DataFrame = {
    def side(df: DataFrame, c: String): DataFrame =
      df.select(col(c).as("v")).distinct()
    val cand: Seq[(String, DataFrame, DataFrame)] = Seq(
      ("orders.o_custkey<customer.c_custkey",
        side(Tables.orders(s, dir), "o_custkey"),
        side(Tables.customer(s, dir), "c_custkey")),
      ("lineitem.l_orderkey<orders.o_orderkey",
        side(Tables.lineitem(s, dir), "l_orderkey"),
        side(Tables.orders(s, dir), "o_orderkey")),
      ("lineitem.l_suppkey<supplier.s_suppkey",
        side(Tables.lineitem(s, dir), "l_suppkey"),
        side(Tables.supplier(s, dir), "s_suppkey")),
      ("lineitem.l_partkey<part.p_partkey",
        side(Tables.lineitem(s, dir), "l_partkey"),
        side(Tables.part(s, dir), "p_partkey")),
      ("customer.c_custkey<orders.o_custkey",
        side(Tables.customer(s, dir), "c_custkey"),
        side(Tables.orders(s, dir), "o_custkey")),
      ("part.p_partkey<lineitem.l_partkey",
        side(Tables.part(s, dir), "p_partkey"),
        side(Tables.lineitem(s, dir), "l_partkey")),
      ("supplier.s_suppkey<lineitem.l_suppkey",
        side(Tables.supplier(s, dir), "s_suppkey"),
        side(Tables.lineitem(s, dir), "l_suppkey")))
    cand.map { case (name, lhs, rhs) =>
      lhs.join(rhs, Seq("v"), "left_anti")
        .agg(count(lit(1)).as("n_missing"))
        .crossJoin(broadcast(lhs.agg(count(lit(1)).as("n_lhs"))))
        .select(lit(name).as("candidate"), col("n_lhs"), col("n_missing"),
          (col("n_missing") === 0L).cast("long").as("is_ind"))
    }.reduce(_ unionByName _).orderBy(col("candidate"))
  }

  /** Degree assortativity of the customer–supplier graph — do
    * high-degree nodes attach to high-degree nodes? Pearson r over
    * the (deg(u), deg(v)) pairs of every directed edge, exact via the
    * [[qAutocorr]] sign + r²-ppm integer emit. One degree aggregate,
    * two keyed joins to attach endpoint degrees, one global
    * 1-row reduce. */
  def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    val e0 = purchaseEdges(s, dir).select(col("c").as("src"), col("sup").as("dst"))
    val sym = e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
    sym
      .join(deg.select(col("src"), col("d").as("x")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("d").as("y")), Seq("dst"))
      .agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .select(col("m"),
        expr("CAST(m AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy")
          .as("num"),
        expr("CAST(m AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx")
          .as("d1"),
        expr("CAST(m AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy")
          .as("d2"))
      .select(col("m"),
        when(col("num") > 0, 1L).when(col("num") < 0, -1L).otherwise(0L)
          .as("r_sign"),
        // split-scale form: d1·d2 (and num² ≤ d1·d2, Cauchy–Schwarz)
        // overflow DECIMAL(38,0) once per-side sums pass ~10¹⁹ — the
        // sf1 sweep caught it. (num·10³/d1)·(num·10³/d2) ≈ 10⁶·r² keeps
        // every intermediate ≤ ~10²² and the product ≤ 10⁶
        when(col("d1") > 0 && col("d2") > 0,
          expr("CAST((num * 1000 div d1) * (num * 1000 div d2) AS BIGINT)"))
          .otherwise(lit(null)).as("r2_ppm"))
  }

  /** Mutual nearest-neighbor matching over the spatial grid pairs —
    * the embedding-alignment / record-matching primitive: keep (a, b)
    * only when b is a's single nearest neighbor AND a is b's (ties →
    * smaller id, so the match is deterministic). Built entirely on
    * [[operators.Spatial.gridNeighborPairs]]' O(n) candidate relation:
    * one per-id min-struct aggregate + one self-join on the candidate
    * ids. */
  def qMutualNn(s: SparkSession, dir: String): DataFrame = {
    val pts = operators.Spatial.scaledPoints(Tables.embeddings(s, dir))
    val eps2 = operators.Spatial.dynamicEps2(1000000L, pts.count())
    val pairs = operators.Spatial.gridNeighborPairs(pts, eps2)
    val sym = pairs.select(col("id_a").as("pid"), col("id_b").as("nb"),
        col("d2"))
      .unionByName(pairs.select(col("id_b").as("pid"), col("id_a").as("nb"),
        col("d2")))
    // nearest per id: min over (d2, nb) — struct min is lexicographic,
    // deterministic under ties
    val nn = sym.groupBy(col("pid"))
      .agg(min(struct(col("d2"), col("nb"))).as("m"))
      .select(col("pid"), col("m.nb").as("nn"), col("m.d2").as("d2"))
    nn.alias("a")
      .join(nn.alias("b"),
        col("a.nn") === col("b.pid") && col("b.nn") === col("a.pid") &&
          col("a.pid") < col("b.pid"))
      .select(col("a.pid").as("id_a"), col("b.pid").as("id_b"),
        col("a.d2").as("d2"))
      .orderBy(col("id_a"))
  }

  /** Multiplicative seasonal decomposition of the hourly event series:
    * per (type, hour-of-day) the seasonal index mean_h/mean_all in
    * exact ppm — the profile [[qForecastEval]]'s seasonal-naive model
    * assumes and [[qHourlyActivity]]'s raw counts don't normalize.
    * Built on the dense grid (zero-count hours are observations!);
    * one grid build, one (type, h) aggregate against a broadcast
    * per-type total. */
  def qSeasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .select(col("event_type"), expr("ts div 3600000000000").as("hidx"))
      .groupBy(col("event_type"), col("hidx"))
      .agg(count(lit(1)).as("n_obs"))
    val dense = hourly.groupBy(col("event_type"))
      .agg(min(col("hidx")).as("mn"), max(col("hidx")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"))).as("hidx"))
      .join(hourly, Seq("event_type", "hidx"), "left")
      .select(col("event_type"), col("hidx"),
        coalesce(col("n_obs"), lit(0L)).as("x"))
    val byHour = dense
      .withColumn("h", expr("hidx % 24"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n_hours"), sum(col("x")).as("sum_n"))
    val tot = dense.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nt"), sum(col("x")).as("st"))
    byHour.join(broadcast(tot), Seq("event_type"))
      .filter(col("st") > 0)
      .select(col("event_type"), col("h"), col("n_hours"), col("sum_n"),
        expr("CAST(CAST(sum_n AS DECIMAL(38,0)) * nt * 1000000 " +
          "div (CAST(n_hours AS DECIMAL(38,0)) * st) AS BIGINT)")
          .as("seasonal_ppm"))
      .orderBy(col("event_type"), col("h"))
  }

  /** Referential cascade-delete audit — the GDPR-erasure planning
    * query: given a victim set of customers (a deterministic 2% via
    * the md5 selector), report how far the delete cascades through
    * the FK chain customer→orders→lineitem BEFORE anything is
    * touched. Each hop is one semi join on the FK; the report is
    * three 1-row aggregates. The governance twin of [[qKAnonymity]]
    * (which audits what remains, this audits what leaves). */
  def qCascadeDelete(s: SparkSession, dir: String): DataFrame = {
    val victims = Tables.customer(s, dir)
      .filter(operators.Sketches.hash32(col("c_custkey")) % 50 === 0)
      .select(col("c_custkey"))
    val orders = Tables.orders(s, dir)
    val remOrders = orders.join(victims, col("o_custkey") === col("c_custkey"),
      "left_semi").select(col("o_orderkey"))
    val li = Tables.lineitem(s, dir)
    val remLi = li.join(remOrders, col("l_orderkey") === col("o_orderkey"),
      "left_semi")
    def row(name: String, total: DataFrame, removed: DataFrame): DataFrame =
      total.agg(count(lit(1)).as("rows_total"))
        .crossJoin(broadcast(removed.agg(count(lit(1)).as("rows_removed"))))
        .select(lit(name).as("table_name"), col("rows_total"),
          col("rows_removed"),
          expr("rows_removed * 1000000 div rows_total").as("removed_ppm"))
    row("customer", Tables.customer(s, dir), victims)
      .unionByName(row("orders", orders, remOrders))
      .unionByName(row("lineitem", li, remLi))
      .orderBy(col("table_name"))
  }

  /** Column-encoding advisor — the storage-layout profiling behind
    * parquet/ORC writer tuning: for each candidate lineitem column,
    * measure cardinality and run structure in the table's sort order
    * (orderkey, linenumber — the deterministic "as stored" order a
    * clustered write produces) and recommend RLE (mean run ≥ 4),
    * DICT (cardinality ≤ 1% of rows) or PLAIN. One stacked
    * projection (5 columns → rows, map-side), one per-column window
    * for run boundaries, one per-column aggregate. */
  def qEncodingAdvisor(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_linestatus"),
        expr("unix_micros(l_shipdate) div 86400000000").cast("string")
          .as("shipday"),
        floor(col("l_quantity").cast("double")).cast("long").cast("string")
          .as("qty"),
        col("l_partkey").cast("string").as("pk"))
    val stacked = li.select(col("l_orderkey"), col("l_linenumber"), expr(
      "stack(5, 'l_returnflag', l_returnflag, 'l_linestatus', l_linestatus," +
        " 'l_shipdate_day', shipday, 'l_quantity', qty, 'l_partkey', pk) " +
        "AS (col_name, v)"))
    // Run counting must NOT window per column — that is 5 partitions
    // regardless of data size (the sf1 sweep measured 120 s where the
    // catalog median is <10). r12–r18 used a sampled
    // repartitionByRange + per-pid windows with seam repair; the r19
    // profile showed that shape paying THREE full passes of the 3M-row
    // stacked relation (the range sampler's pass, the range exchange,
    // and the window's own hashpartitioning(pid) re-exchange — the
    // cache can't satisfy the window's required distribution) plus a
    // cache fill. Replaced by DETERMINISTIC bucketing on the leading
    // sort key: bkt = l_orderkey div bw is monotone in the sort order,
    // so global order ≡ (col_name, bkt, within-bucket order), the
    // window partitions by (col_name, bkt) directly — ONE exchange of
    // the stacked rows, total — and the runs + bucket-bounds aggregate
    // reuses that exact partitioning (zero further exchanges; AQE
    // confirms exchange reuse in the plan). n_runs stays invariant to
    // where bucket boundaries fall via the same ≤(#buckets) seam
    // repair, now over min/max structs computed IN the same pass.
    // Bucket width is scale-adaptive: ~8 buckets per core of the
    // session, derived from max(l_orderkey) (a bounded driver scalar,
    // the standard gate-scalar pattern) — no constant tuned to either
    // local mode or the cluster. (orderkey, linenumber) is NOT unique
    // in the synthetic lineitem (FIXTURES r12 uniqueness audit) — v in
    // the sort key makes any residual ties carry equal values.
    val par = s.sparkContext.defaultParallelism
    // cast("long") + getLong: schema-width tolerant if a future data
    // generation writes int32 orderkeys (ADVICE r19)
    val mxRow = li.agg(max(col("l_orderkey").cast("long"))).head()
    val mxOk = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
    val bw = math.max(1L, mxOk / (8L * par) + 1L)
    val bucketed = stacked.withColumn("bkt", expr(s"l_orderkey div $bw"))
    val wp = Window.partitionBy(col("col_name"), col("bkt"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("v"))
    val k = struct(col("l_orderkey"), col("l_linenumber"), col("v"))
    // one pass: per-bucket run starts (first row of the bucket counts
    // as a start) + the bucket's first/last sort-key structs for the
    // seam repair. sum(chg)/min/max partial-aggregate map-side, so the
    // only rows that move after the window exchange are ≤(#buckets)·5.
    val perBucket = bucketed
      .withColumn("pv", lag(col("v"), 1).over(wp))
      .withColumn("chg",
        when(col("pv").isNull || col("pv") =!= col("v"), 1L).otherwise(0L))
      .groupBy(col("col_name"), col("bkt"))
      .agg(sum(col("chg")).as("r"), min(k).as("first"), max(k).as("last"))
    // a run continues across a bucket seam when the previous NON-EMPTY
    // bucket's last value equals this bucket's first (empty buckets
    // can't break a run — lag over the bounds relation skips them)
    val wb = Window.partitionBy(col("col_name")).orderBy(col("bkt"))
    val starts = perBucket
      .withColumn("pl", lag(col("last"), 1).over(wb))
      .withColumn("cont", when(col("pl").isNotNull &&
        col("pl.v") === col("first.v"), 1L).otherwise(0L))
      .groupBy(col("col_name"))
      .agg((sum(col("r")) - sum(col("cont"))).as("n_runs"))
    // n is the same row count for every stacked column (stack emits
    // exactly one row per source row per column); the five distinct
    // counts come off the UNSTACKED source projection — countDistinct
    // over the IDENTICAL string expressions the stack emits, so the
    // values coincide by construction. The r19 profile caught the
    // previous countDistinct(v) riding the stacked groupBy: a mixed
    // distinct/non-distinct aggregate EXPANDS, so the whole 3M-row
    // relation crossed a second 42 MB exchange and paid a 23-CPU-s
    // final aggregate. NOTE (ADVICE r19): five countDistinct columns
    // here ALSO plan through Expand (5× the 600k-row projection) —
    // the win is the 5× smaller relation feeding it, not an avoided
    // expansion (guide §2.3 "aggregate before you shuffle").
    val dist = li.agg(count(lit(1)).as("n"),
        countDistinct(col("l_returnflag")).as("d0"),
        countDistinct(col("l_linestatus")).as("d1"),
        countDistinct(col("shipday")).as("d2"),
        countDistinct(col("qty")).as("d3"),
        countDistinct(col("pk")).as("d4"))
      .select(col("n"), expr(
        "stack(5, 'l_returnflag', d0, 'l_linestatus', d1, " +
          "'l_shipdate_day', d2, 'l_quantity', d3, 'l_partkey', d4) " +
          "AS (col_name, n_distinct)"))
    starts
      .join(broadcast(dist), Seq("col_name"))
      .select(col("col_name"), col("n"), col("n_distinct"), col("n_runs"),
        when(col("n_runs") * 4 <= col("n"), "rle")
          .when(col("n_distinct") * 100 <= col("n"), "dict")
          .otherwise("plain").as("recommended"))
      .orderBy(col("col_name"))
  }

  /** Post-stratified estimation — correct a skewed sample with known
    * population strata: the 10% md5 sample's per-type sums are
    * reweighted by N_t/n_t so the estimate matches the stratum
    * frame, the survey/eval-reweighting op. Emits per type the
    * population/sample sizes, the exact stratum weight in ppm, the
    * reweighted estimate, and the true total it chases — all integer
    * cents. Two keyed aggregates + one 5-row join. */
  def qPostStratify(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"),
        floor(col("value").cast("double") * 100).cast("long").as("cents"))
    val pop = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pop"), sum(col("cents")).as("true_cents"))
    val samp = ev.filter(operators.Sketches.hash32(col("event_id")) % 10 === 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_samp"), sum(col("cents")).as("samp_cents"))
    pop.join(samp, Seq("event_type"))
      .select(col("event_type"), col("n_pop"), col("n_samp"),
        expr("CAST(CAST(n_pop AS DECIMAL(38,0)) * 1000000 div n_samp " +
          "AS BIGINT)").as("weight_ppm"),
        expr("CAST(CAST(samp_cents AS DECIMAL(38,0)) * n_pop div n_samp " +
          "AS BIGINT)").as("est_cents"),
        col("true_cents"))
      .orderBy(col("event_type"))
  }

  /** Per-node local clustering coefficient — the graph-feature next
    * to the global [[qTriangleCount]]: cc(n) = 2·T(n)/(d(n)·(d(n)−1))
    * as an exact truncated-ppm rational. The graph is temporal user
    * proximity: u–v iff their events are within 3 positions of each
    * other in a (10-minute slot, event_type) group's time order — the
    * [[qSortedNeighborhood]] blocking idiom as a graph builder.
    * Pairing ALL users in a slot group makes edge volume quadratic in
    * group size, and group size grows linearly with the corpus (the
    * sf1 sweep measured 107 s where the catalog median is <10);
    * lead-window pairing bounds fan-out at 3 per event, so the edge
    * relation is ≤3n at every SF — one window shuffle + one dedup
    * shuffle. Per-node triangle counts come from
    * [[operators.Graph.triangleCounts]], so the cc inherits the
    * dense/oriented dispatch and its scale gates: each triangle is
    * counted once via the degree orientation, wedge work bounded by
    * the arboricity-friendly Σd² of the LOW-degree endpoints. One
    * degree aggregate + one broadcast-sized join closes it out. */
  def qLocalClustering(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = Tables.events(s, dir)
      .select(expr("ts div 600000000000").as("slot"), col("event_type"),
        col("user_id"), col("ts"), col("event_id"))
    val wp = Window.partitionBy(col("slot"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val led = g.select(col("user_id").as("a"),
      lead(col("user_id"), 1).over(wp).as("n1"),
      lead(col("user_id"), 2).over(wp).as("n2"),
      lead(col("user_id"), 3).over(wp).as("n3"))
    val e = led
      .select(col("a"), explode(array(col("n1"), col("n2"), col("n3")))
        .as("b"))
      .filter(col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    val tri = operators.Graph.triangleCounts(e)
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("degree"))
    deg.join(tri, col("n") === col("node"), "left")
      .filter(col("degree") >= 2)
      .select(col("n").as("user_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        expr("coalesce(n_triangles, 0L) * 2000000 div (degree * (degree - 1))")
          .as("cc_ppm"))
      .orderBy(col("user_id"))
  }

  /** Exact rolling median over a trailing 15-row frame per user — the
    * robust-statistics window the rolling mean family
    * ([[qRollingWindow]]) can't express with distributive aggregates.
    * Emitted as med2 = (sum of the two middle order statistics; 2×
    * the middle for odd frames) so the value stays a BIGINT on every
    * engine — no half-cent double ever enters the hash compare. The
    * frame is collected per row (collect_list over a ROWS window),
    * sorted, and indexed: O(frame log frame) per row with frame
    * pinned at 15, partitioned by user_id — per-user state, zero
    * global coordination, the same plan shape a 1000-executor run
    * wants. */
  def qRollingMedian(s: SparkSession, dir: String,
      lookback: Int = 14): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      expr("ts div 1000000000").as("t"),
      expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      .rowsBetween(-lookback, Window.currentRow)
    // n_win is the window ROW count (matches COUNT(*) OVER w), not the
    // non-null count; collect_list skips NULL cents, so the median list
    // can be SMALLER than n_win — or empty (all-null window), where
    // med2 is NULL and an unguarded element_at(win, 0) is an error.
    // Found by the r17 nullify metamorphic sweep.
    e.withColumn("win", sort_array(collect_list(col("cents")).over(w)))
      .withColumn("n_win", count(lit(1)).over(w))
      .select(col("user_id"), col("event_id"), col("t"),
        col("n_win").cast("long").as("n_win"),
        when(size(col("win")) === 0, lit(null).cast("long"))
          .otherwise(
            element_at(col("win"), expr("CAST((size(win) + 1) div 2 AS INT)")) +
            element_at(col("win"), expr("CAST(size(win) div 2 + 1 AS INT)")))
          .as("med2_cents"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Per-document character collision diversity (Rényi-2) — the
    * entropy-family quality signal that stays an EXACT rational:
    * collision probability Σc²/n² (the chance two random character
    * draws collide) is low for natural text and spikes for
    * repetitive/binary junk — the same separation Shannon entropy
    * gives, without a transcendental log ever entering the compare.
    * Chars explode map-side; two keyed aggregates with map-side
    * combine ((doc, char) then doc) — the count relation is bounded
    * by docs × alphabet, so the second shuffle is tiny. DECIMAL(38,0)
    * routing keeps Σc²·10⁶ exact far beyond any document size. */
  def qCharEntropy(s: SparkSession, dir: String): DataFrame = {
    val ch = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
      .filter(length(col("c")) > 0)
    ch.groupBy(col("doc_id"), col("c")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_ch"), count(lit(1)).as("n_distinct_ch"),
        sum(col("n") * col("n")).as("s2"))
      .select(col("doc_id"), col("n_ch"), col("n_distinct_ch"),
        expr("CAST(CAST(s2 AS DECIMAL(38,0)) * 1000000 div " +
          "(CAST(n_ch AS DECIMAL(38,0)) * n_ch) AS BIGINT)")
          .as("collision_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Zone-map pruning effectiveness: 1-D range layout vs z-order,
    * judged by a 3-predicate workload — THE data-layout decision at
    * 100 TB, quantified before any rewrite: the same rows are
    * assigned to 64 "files" under (a) a range layout on px and (b)
    * the Morton z-order of [[qZorderLayout]]; each file keeps its
    * (min,max) zone maps, and each predicate scans a file iff its
    * box overlaps the maps. The report shows the structural
    * trade-off: the range layout is maximally tight on its sort
    * dimension and USELESS off it (every file scanned), z-order is
    * moderately tight on both — the reason multi-dimension-filtered
    * tables cluster on z/Hilbert curves. All heavy work is two
    * map-side projections + one (layout, fid)-keyed aggregate; the
    * predicate sweep runs over the 128-row file inventory, and the
    * per-predicate match totals attach via a 3-row broadcast join
    * (never a nested-loop). */
  def qZonemapCompare(s: SparkSession, dir: String): DataFrame = {
    val preds = Seq(("cell_2d", 40L, 71L, 40L, 71L),
      ("px_band", 40L, 71L, 0L, 255L), ("sx_band", 0L, 255L, 40L, 71L))
    val pts = Tables.lineitem(s, dir)
      .select((col("l_partkey") % ZorderSql.DimMod).as("px"),
        ((col("l_suppkey") * 37) % ZorderSql.DimMod).as("sx"))
      .withColumn("z", expr(ZorderSql.zExpr("px", "sx", spark = true)))
    val st = pts.select(explode(array(
        struct(lit("range").as("layout"), expr("px div 4").as("fid"),
          col("px"), col("sx")),
        struct(lit("zorder").as("layout"),
          expr(s"z div ${ZorderSql.FileZRange}").as("fid"),
          col("px"), col("sx")))).as("d"))
      .select(col("d.layout"), col("d.fid"), col("d.px"), col("d.sx"))
    val files = st.groupBy(col("layout"), col("fid"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("px")).as("min_p"), max(col("px")).as("max_p"),
        min(col("sx")).as("min_s"), max(col("sx")).as("max_s"))
    def hit(plo: Long, phi: Long, slo: Long, shi: Long) =
      col("min_p") <= phi && col("max_p") >= plo &&
        col("min_s") <= shi && col("max_s") >= slo
    val aggCols = preds.flatMap { case (nm, plo, phi, slo, shi) =>
      Seq(sum(when(hit(plo, phi, slo, shi), 1L).otherwise(0L)).as(s"fs_$nm"),
        sum(when(hit(plo, phi, slo, shi), col("n_rows")).otherwise(0L))
          .as(s"rs_$nm"))
    }
    val perLayout = files.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        aggCols: _*)
    val perPred = perLayout.select(col("layout"), col("n_files"), expr(
      "stack(3, " + preds.map { case (nm, _, _, _, _) =>
        s"'$nm', fs_$nm, rs_$nm" }.mkString(", ") +
        ") AS (pred, files_scanned, rows_scanned)"))
    val matched = pts.agg(
        preds.map { case (nm, plo, phi, slo, shi) =>
          sum(when(col("px").between(plo, phi) && col("sx").between(slo, shi),
            1L).otherwise(0L)).as(s"nm_$nm")
        }.head,
        preds.map { case (nm, plo, phi, slo, shi) =>
          sum(when(col("px").between(plo, phi) && col("sx").between(slo, shi),
            1L).otherwise(0L)).as(s"nm_$nm")
        }.tail: _*)
      .select(expr("stack(3, " + preds.map { case (nm, _, _, _, _) =>
        s"'$nm', nm_$nm" }.mkString(", ") + ") AS (pred, rows_matched)"))
    perPred.join(broadcast(matched), Seq("pred"))
      .select(col("layout"), col("pred"), col("n_files"),
        col("files_scanned"), col("rows_scanned"), col("rows_matched"))
      .orderBy(col("layout"), col("pred"))
  }

  /** HITS hubs-and-authorities — the second classic link-analysis
    * ranking next to [[qPagerank]], on the directed customer→supplier
    * purchase graph: hub score rewards customers who buy from
    * authoritative suppliers, authority score rewards suppliers
    * bought by strong hubs. Two exact mutual-reinforcement rounds
    * from h₀ = 1 (a₁ = indegree, h₁ = Σ a₁, a₂ = Σ h₁, h₂ = Σ a₂),
    * every sum in DECIMAL(38,0) — the unnormalized scores grow like
    * deg³·n² and overflow int64 at corpus scale — then ONE truncating
    * division by the per-role max emits ppm BIGINTs. Scale shape:
    * each half-round is one keyed join + one keyed aggregate of the
    * edge relation (alternating on the two endpoints); the max is a
    * 1-row broadcast; top-15 per role via TakeOrdered. */
  def qHits(s: SparkSession, dir: String): DataFrame = Rounds.scoped { scope =>
    val e = scope.cache(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sup"))
      .distinct())
    val a1 = e.groupBy(col("sup"))
      .agg(expr("CAST(count(1) AS DECIMAL(38,0))").as("a1"))
    val h1 = e.join(a1, "sup").groupBy(col("c")).agg(sum(col("a1")).as("h1"))
    val a2 = e.join(h1, "c").groupBy(col("sup")).agg(sum(col("h1")).as("a2"))
    val h2 = e.join(a2, "sup").groupBy(col("c")).agg(sum(col("a2")).as("h2"))
    def topPpm(df: DataFrame, node: String, sc: String, role: String) = {
      val m = df.agg(max(col(sc)).as("m"))
      df.crossJoin(broadcast(m))
        .select(lit(role).as("role"), col(node).as("node"),
          expr(s"CAST($sc * 1000000 div m AS BIGINT)").as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("node")).limit(15)
    }
    // eager ≤30-row result so the edge cache releases NOW (the
    // qRfmScores pattern) instead of waiting on the session cache
    materializeFinal("q_hits",
      topPpm(h2, "c", "h2", "hub")
        .unionAll(topPpm(a2, "sup", "a2", "authority"))
        .orderBy(col("role"), col("score_ppm").desc, col("node")))
  }

  /** Hop-bounded multi-source weighted shortest path — Bellman-Ford
    * with 4 relaxation rounds over the undirected customer–supplier
    * graph (edge weight = cheapest shared lineitem in cents), sources
    * = customers 0–9: the "distance to nearest facility" shape, and
    * the weighted counterpart of [[qBfsHops]]' unit-hop labeling.
    * dist_{k+1}(v) = min(dist_k(v), min_u dist_k(u)+w(u,v)); ≤4-hop
    * cost is exactly what 4 rounds compute, so the result is
    * well-defined on any graph, cycles included.
    *
    * Scale shape — Bellman–Ford's standard frontier optimization:
    * each round relaxes ONLY the previous round's delta (nodes whose
    * distance improved), not the full dist relation. If dist_k(u) =
    * dist_{k-1}(u), every edge out of u was already relaxed at round
    * k, so re-relaxing it cannot improve anything — per-round results
    * are identical to full relaxation, but the edge join is sized by
    * the (shrinking) frontier's adjacency instead of the whole
    * labeled set's — the [[operators.Graph.relax]] loop with offer
    * `v + w`. The scope frees the cached edge relation on return (the
    * rounds ran eagerly); only the final dist round stays
    * materialized — the returned relation reads it (the
    * [[operators.Rounds]] contract). Weights and distances stay
    * integer cents end-to-end. */
  def qSsspBounded(s: SparkSession, dir: String,
      seedBound: Long = 20L): DataFrame = Rounds.scoped { scope =>
    val ol = purchases(s, dir,
      floor(col("l_extendedprice").cast("double") * 100).cast("long").as("cents"))
    val ew = ol.groupBy(col("c"), col("sup")).agg(min(col("cents")).as("w"))
    val e = scope.cache(Graph.undirected(ew, "c", "sup", "w")
      .repartition(col("src")))
    val dist = Graph.relax(e,
      e.select(col("src").as("node")).distinct()
        .filter(col("node") % 2 === 0 && col("node") < seedBound)
        .select(col("node"), lit(0L).as("v")),
      maxRounds = 4, reliable = false)(_ => col("v") + col("w"))
    dist.select(col("node"), col("v").as("dist_cents")).orderBy(col("node"))
  }

  /** Exact exponentially-weighted moving average — the trend smoother
    * between [[qRollingWindow]]'s flat mean and [[qRollingMedian]]'s
    * robust middle: dyadic weights 2¹⁵, 2¹⁴, … over the trailing 16
    * rows make the classic α=½ EWMA an exact integer (num = Σ lag_j ·
    * 2^(15−j), den = 2¹⁶ − 2^(16−n_win) telescopes the present
    * weights) — no float power ever enters the compare. The 16
    * coalesced lag columns ride ONE per-type window (codegen-
    * friendly, zero extra shuffles); state per row is bounded at 16
    * regardless of history length. */
  def qEwma(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir).select(col("event_type"), col("event_id"),
      expr("ts div 1000000000").as("t"),
      expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("t"), col("event_id"))
    val num = (0 to 15).map { j =>
      val v = if (j == 0) col("cents") else
        coalesce(lag(col("cents"), j).over(w), lit(0L))
      v * lit(1L << (15 - j))
    }.reduce(_ + _)
    val nwin = count(lit(1))
      .over(w.rowsBetween(-15, Window.currentRow))
    ev.select(col("event_type"), col("event_id"), col("t"),
        nwin.as("n_win"), num.as("num"))
      .select(col("event_type"), col("event_id"), col("t"), col("n_win"),
        expr("num div (65536 - (65536 div CAST(pow(2, n_win) AS BIGINT)))")
          .as("ewma_cents"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** Synchronous min-label propagation, 3 bounded rounds — the
    * community-detection primitive between [[qBfsHops]]' single-source
    * frontier and [[qDedupClusters]]' full connected components: after
    * k rounds every node carries the minimum node id within k hops,
    * so the label census shows how fast the graph collapses toward
    * its components (the mixing diagnostic). Runs on the spatial
    * grid-neighbor graph over the embedding projection (the
    * [[qGridJoin]] O(n) candidate relation — real cluster structure,
    * many components; every EVENT-derived user graph tried collapses
    * to ONE label in 3 rounds because the 150-user universe is an
    * expander — measured, degenerate); same delta-only round shape as
    * [[qSsspBounded]]: each round propagates labels out of ONLY the
    * nodes whose label improved last round (an unchanged label has
    * already been offered to every neighbor — identical per-round
    * results, frontier-sized edge join): the [[operators.Graph.relax]]
    * loop with offer `v`, the edge cache freed by the scope on return.
    * The emitted census aggregates the final node-sized label round
    * (the only block set left). */
  def qLabelProp(s: SparkSession, dir: String): DataFrame = Rounds.scoped { scope =>
    val pts = operators.Spatial.scaledPoints(Tables.embeddings(s, dir))
    val eps2 = operators.Spatial.dynamicEps2(1000000L, pts.count())
    val ew = operators.Spatial.gridNeighborPairs(pts, eps2)
      .select(col("id_a").as("u"), col("id_b").as("v"))
    val e = scope.cache(Graph.undirected(ew, "u", "v")
      .repartition(col("src")))
    val lab = Graph.relax(e,
      e.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("v")),
      maxRounds = 3, reliable = false)(_ => col("v"))
    lab.groupBy(col("v")).agg(count(lit(1)).as("n_members"))
      .select(col("v").as("label"), col("n_members"))
      .orderBy(col("label"))
  }

  /** Privacy audit: k-anonymity and l-diversity over a
    * quasi-identifier grouping — the governance gate before a corpus
    * ships. Each (source, lang, length-bucket) equivalence class
    * reports its size (k), distinct sensitive values (l — here the
    * word-count tercile), and integer violation flags for k<5 / l<2.
    * One keyed aggregate; class count is bounded by the QI domain. */
  def qKAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), col("lang"),
        expr("n_chars div 100").as("len_bucket"),
        when(size(split(col("text"), " ")) < 39, 0L)
          .when(size(split(col("text"), " ")) < 69, 1L)
          .otherwise(2L).as("sens"))
      .groupBy(col("source"), col("lang"), col("len_bucket"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("sens")).as("n_sensitive"))
      .select(col("source"), col("lang"), col("len_bucket"), col("n"),
        col("n_sensitive"),
        expr("CASE WHEN n < 5 THEN 1 ELSE 0 END").cast("long")
          .as("k_violation"),
        expr("CASE WHEN n_sensitive < 2 THEN 1 ELSE 0 END").cast("long")
          .as("l_violation"))
      .orderBy(col("source"), col("lang"), col("len_bucket"))

  /** RFM segmentation: per-user recency/frequency/monetary quintile
    * scores, rolled up to the 125-cell segment distribution. The
    * quintile boundaries come from the sort-free histogram-refinement
    * rank elements (same machinery as [[qCurriculum]]) folded in as
    * literals, so the only data-scaled work is two keyed aggregates —
    * no global sort, no ntile window. Monetary goes through
    * DECIMAL(18,2) cents; recency through epoch SECONDS so every
    * boundary is double-exact (< 2⁵³ — epoch nanos are not). */
  def qRfmScores(s: SparkSession, dir: String): DataFrame = Rounds.scoped { scope =>
    val per = scope.cache(Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(expr("ts div 1000000000")).as("r_s"),
        count(lit(1)).as("freq"),
        sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("mon")))
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    def bounds(c: String): Array[Double] =
      Quantiles.quantiles(per, c, qs).orderBy(col("q")).collect()
        .map(_.getDouble(1))
    def score(c: String, bs: Array[Double]) =
      bs.foldLeft(lit(1L)) { (acc, b) =>
        acc + when(col(c) > lit(b), 1L).otherwise(0L) }
    val (rb, fb, mb) = (bounds("r_s"), bounds("freq"), bounds("mon"))
    val out = per.withColumn("r_score", score("r_s", rb))
      .withColumn("f_score", score("freq", fb))
      .withColumn("m_score", score("mon", mb))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("mon")).as("sum_monetary_cents"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
    // eager ≤125-row result so the per-user cache (read by the
    // quantile probes above and the final plan) releases NOW
    materializeFinal("q_rfm_scores", out)
  }

  /** Lexical diversity: overall type-token ratio plus mean segmental
    * TTR over full 10-token segments (MSTTR — the length-robust form:
    * raw TTR shrinks with doc length, segmental does not). Truncated
    * ppm; segment ids come from the token position, so the only
    * shuffle is the (doc, segment)-keyed aggregate. */
  def qLexicalDiversity(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .selectExpr("doc_id", "posexplode(split(text, ' ')) AS (pos, tok)")
    val perDoc = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_types"))
    val segs = toks.withColumn("seg", expr("pos div 10"))
      .groupBy(col("doc_id"), col("seg"))
      .agg(count(lit(1)).as("sn"), countDistinct(col("tok")).as("sd"))
      .filter(col("sn") === 10)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(expr("sd * 1000000 div 10")).as("sttr_sum"))
    perDoc.join(segs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        expr("n_types * 1000000 div n_tokens").as("ttr_ppm"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        expr("sttr_sum div n_segments").as("msttr_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Per-doc n-gram novelty: fraction of a doc's distinct 3-gram
    * shingles whose FIRST corpus occurrence (by doc id) is this doc —
    * the freshness/diversity signal a curriculum or dedup pass reads
    * before adding a batch. Two aggregates keyed by shingle then doc;
    * the novel counts come straight off the first-occurrence relation
    * (no join back against the exploded corpus). */
  def qNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.withShingles(
        spread(Tables.documents(s, dir).select(col("doc_id"), col("text"))),
        "text")
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    val first = sh.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
    val tot = sh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val nov = first.groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    tot.join(nov, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("n_novel * 1000000 div n_shingles").as("novelty_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Transposition-aware near-duplicate detection: sorted-neighborhood
    * blocking on (lang, length bucket), each doc compared against the
    * next two docs in its block's doc_id order, distance = unrestricted
    * Damerau–Levenshtein over the fixed 40-char prefix (the custom
    * codegen'd [[graft.functions.DamerauLevenshteinExpr]] — Spark has
    * `levenshtein` but nothing transposition-aware). Pair volume is
    * ≤ 2n at every SF by the rank-window construction; the O(40²)
    * DP runs on the bounded prefix, never the whole document. */
  def qDedupDamerau(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      expr("n_chars div 50").as("bkt"), substring(col("text"), 1, 40).as("pre"))
    val r = d.withColumn("rk", row_number().over(
      Window.partitionBy(col("lang"), col("bkt")).orderBy(col("doc_id"))))
    val probes = r.select(col("lang"), col("bkt"), col("doc_id").as("id_a"),
        col("pre").as("pre_a"),
        explode(array(lit(1), lit(2))).as("delta"),
        col("rk"))
      .withColumn("rk_b", col("rk") + col("delta"))
    probes.join(r.select(col("lang"), col("bkt"), col("rk").as("rk_b"),
        col("doc_id").as("id_b"), col("pre").as("pre_b")),
        Seq("lang", "bkt", "rk_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.EditDistances.damerauLevenshtein(
          col("pre_a"), col("pre_b")).cast("long").as("dl"))
      .filter(col("dl") <= 22)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Link prediction by the resource-allocation index: two suppliers
    * that co-occur on many LOW-DEGREE parts are likely substitutes —
    * RA(s1,s2) = Σ_{shared part p} 1/deg(p), here in exact ppm integer
    * form (Σ 10⁶ div deg). The Adamic–Adar family's 1/log weighting is
    * transcendental; RA is its rational sibling with the same hub
    * discount, which keeps the score hash-exact across engines.
    * Scale shape: part degree is bounded by the catalog's fan-out
    * (~30 suppliers/part at EVERY SF — measured at sf0.01 and sf0.1),
    * and the deg ≤ 64 hub cap turns Σdeg² into O(64·|E|) worst case,
    * so the wedge join is linear in the edge relation. One exchange
    * on the part key serves the degree join and the self-join. */
  def qLinkPrediction(s: SparkSession, dir: String): DataFrame = {
    // ONE shuffle builds the bounded per-part supplier set (collect_set
    // dedups map-side via partial aggregation), pairs explode from the
    // sorted array (sa < sb by construction), and the score aggregate
    // is the only other exchange. The first-draft self-join form
    // (distinct → degree join → self-join on p) re-ran the distinct
    // subtree on both sides and let AQE broadcast a fact-sized
    // relation — 49.9 s at sf1 vs this plan's one pass. Hub caveat:
    // a part beyond the 64-supplier cap still materializes its full
    // set in one aggregation buffer before the size filter drops it —
    // acceptable while per-part fan-out is catalog-bounded (~30 at
    // every measured SF, the TPC-H partsupp shape); a data model with
    // unbounded hubs would want the two-pass degree-prefilter form.
    val lists = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sv"))
      .groupBy(col("p"))
      .agg(sort_array(collect_set(col("sv"))).as("svs"))
      .filter(size(col("svs")).between(2, 64))
      .select(size(col("svs")).cast("long").as("d"), col("svs"))
    lists
      .select(col("d"), col("svs"), posexplode(col("svs")).as(Seq("i", "sa")))
      .select(col("d"), col("sa"),
        explode(expr("slice(svs, i + 2, 64)")).as("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(sum(expr("1000000 div d")).as("ra_ppm"),
        count(lit(1)).as("n_shared"))
      .orderBy(col("ra_ppm").desc, col("sa"), col("sb"))
      .limit(25)
  }

  /** Decision stump (1-rule classifier) per source: the best single
    * threshold on n_chars predicting lang=='en', chosen by exact
    * integer weighted Gini impurity over 32 fixed-width candidate
    * bins. The candidate set is BOUNDED (32 per group) regardless of
    * row count — per-bin class counts come off one hash aggregate,
    * the cumulative left-side counts off one window over ≤32 rows per
    * group, so the whole search is one shuffle on the group key. Gini
    * arithmetic runs in DECIMAL(38,0) (n² ·10⁶ passes 2⁶³ past
    * sf100) and lands as ppm BIGINT. Tie → smallest bin. */
  def qDecisionStump(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir).select(col("source"), col("n_chars"),
      (col("lang") === "en").cast("long").as("pos"))
    val ext = d.groupBy(col("source")).agg(
      min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"),
      count(lit(1)).as("n"), sum(col("pos")).as("p"))
    val perBin = d.join(ext, "source")
      .select(col("source"), col("n"), col("p"),
        expr("least(31, (n_chars - mn) * 32 div (mx - mn + 1))").as("b"),
        col("pos"))
      .groupBy(col("source"), col("n"), col("p"), col("b"))
      .agg(count(lit(1)).as("cn"), sum(col("pos")).as("cp"))
    val w = Window.partitionBy(col("source")).orderBy(col("b"))
    val gini = "CAST(1000000 AS DECIMAL(38,0))"
    val cand = perBin
      .withColumn("nl", sum(col("cn")).over(w))
      .withColumn("pl", sum(col("cp")).over(w))
      .filter(col("nl") < col("n"))
      .select(col("source"), col("b"), col("nl"), col("pl"),
        (col("n") - col("nl")).as("nr"), (col("p") - col("pl")).as("pr"),
        col("n"))
      .select(col("source"), col("b"), col("nl"), col("nr"),
        expr(s"""CAST(
          (CAST(nl AS DECIMAL(38,0)) * nl - CAST(pl AS DECIMAL(38,0)) * pl
            - CAST(nl - pl AS DECIMAL(38,0)) * (nl - pl)) * $gini
            div (CAST(nl AS DECIMAL(38,0)) * n)
          + (CAST(nr AS DECIMAL(38,0)) * nr - CAST(pr AS DECIMAL(38,0)) * pr
            - CAST(nr - pr AS DECIMAL(38,0)) * (nr - pr)) * $gini
            div (CAST(nr AS DECIMAL(38,0)) * n)
          AS BIGINT)""").as("gini_ppm"))
    cand.groupBy(col("source"))
      .agg(min(struct(col("gini_ppm"), col("b"), col("nl"), col("nr")))
        .as("m"))
      .select(col("source"), col("m.b").as("split_bin"),
        col("m.nl").as("n_left"), col("m.nr").as("n_right"),
        col("m.gini_ppm").as("gini_ppm"))
      .orderBy(col("source"))
  }

  /** Nearest-centroid (Rocchio) classifier resubstitution audit:
    * per-language centroids in (n_chars, word count) space as exact
    * milli-unit integers, every doc assigned to the nearest centroid
    * by integer squared distance (tie → lexicographically smaller
    * language), emitted as the actual × predicted confusion matrix.
    * The centroid relation is one row per language — broadcast to
    * every doc row (the ONE legitimate bounded-side nested-loop in
    * this query; whitelisted in PlanGuardSpec), so the scan is a
    * single pass with no shuffle beyond the confusion aggregate. */
  def qRocchioClassify(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      col("n_chars").cast("long").as("x"),
      size(split(col("text"), " ")).cast("long").as("y"))
    val cent = d.groupBy(col("lang")).agg(
        expr("CAST(sum(x) * 1000 div count(1) AS BIGINT)").as("cx"),
        expr("CAST(sum(y) * 1000 div count(1) AS BIGINT)").as("cy"))
      .select(col("lang").as("clang"), col("cx"), col("cy"))
    d.crossJoin(broadcast(cent))
      .select(col("doc_id"), col("lang"),
        struct(((col("x") * 1000 - col("cx")) * (col("x") * 1000 - col("cx"))
          + (col("y") * 1000 - col("cy")) * (col("y") * 1000 - col("cy")))
          .as("d2"), col("clang")).as("sc"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(min(col("sc")).as("m"))
      .groupBy(col("lang").as("actual"), col("m.clang").as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("actual"), col("predicted"))
  }

  /** Leave-one-out 3-NN label audit over the embedding table: grid-
    * blocked fixed-radius neighbor pairs (the [[operators.Spatial]]
    * O(n)-output machinery, radius 2×wider than q_mutual_nn's for
    * ≥3-neighbor coverage), each point classified by the majority
    * label of its 3 nearest in-radius neighbors (distance then id
    * tiebreak; label-count tie → smaller label), scored against its
    * own label per class. Points with <3 in-radius neighbors are
    * excluded and counted — the coverage column keeps the radius
    * honest. Everything downstream of the pair join is keyed on
    * point id: two window ranks, one label join, two aggregates. */
  def qKnnLabel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
    val pts = operators.Spatial.scaledPoints(emb)
    val eps2 = operators.Spatial.dynamicEps2(2000000L, pts.count())
    val pairs = operators.Spatial.gridNeighborPairs(pts, eps2)
    val sym = pairs.select(col("id_a").as("pid"), col("id_b").as("nb"),
        col("d2"))
      .unionByName(pairs.select(col("id_b").as("pid"),
        col("id_a").as("nb"), col("d2")))
    val top3 = sym.withColumn("rn", row_number().over(
        Window.partitionBy(col("pid")).orderBy(col("d2"), col("nb"))))
      .filter(col("rn") <= 3)
      .withColumn("k", count(lit(1)).over(
        Window.partitionBy(col("pid"))))
      .filter(col("k") === 3)
    val labels = emb.select(col("vec_id"), col("label").cast("long"))
    val votes = top3
      .join(labels.withColumnRenamed("vec_id", "nb")
        .withColumnRenamed("label", "nb_label"), "nb")
      .groupBy(col("pid"), col("nb_label"))
      .agg(count(lit(1)).as("v"))
      .groupBy(col("pid"))
      .agg(min(struct((-col("v")).as("nv"), col("nb_label"))).as("m"))
      .select(col("pid").as("vec_id"), col("m.nb_label").as("pred"))
    labels.join(votes, Seq("vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_total"),
        count(col("pred")).as("n_eval"),
        sum((col("pred") === col("label")).cast("long")).as("n_correct"))
      .select(col("label"), col("n_total"), col("n_eval"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"),
        expr("CASE WHEN n_eval > 0 THEN n_correct * 1000000 div n_eval " +
          "ELSE 0 END").as("acc_ppm"))
      .orderBy(col("label"))
  }

  /** Lagged cross-correlation between the hourly click and purchase
    * series — does click volume LEAD purchase volume, and by how many
    * hours? Zero-filled dense hour grid (the events window is a fixed
    * 30 days at every SF — measured sf0.001–0.1 — so the grid is ≤720
    * rows while the COUNTS per hour grow with SF), Pearson r per lag
    * 0..6 in the exact split-scale integer form q_assortativity
    * established (sign + r²·ppm from DECIMAL(38,0) moments; one
    * hash aggregate per lag, the lag join keyed on the hour). */
  def qCrossCorr(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(expr("ts div 3600000000000").as("h"), col("event_type"))
    val cnt = ev.groupBy(col("h")).agg(
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val grid = cnt.agg(min(col("h")).as("hmin"), max(col("h")).as("hmax"))
      .select(explode(sequence(col("hmin"), col("hmax"))).as("h"))
    val full = grid.join(cnt, Seq("h"), "left")
      .na.fill(0L, Seq("x", "y"))
    val shifted = full.select(col("h"), col("x"),
        explode(sequence(lit(0L), lit(6L))).as("lag_h"))
      .withColumn("h2", col("h") + col("lag_h"))
      .join(full.select(col("h").as("h2"), col("y")), Seq("h2"))
    val dec38 = "CAST(%s AS DECIMAL(38,0))"
    val m = shifted.groupBy(col("lag_h")).agg(
      count(lit(1)).as("n"),
      sum(expr(dec38.format("x"))).as("sx"),
      sum(expr(dec38.format("y"))).as("sy"),
      sum(expr(dec38.format("x") + " * y")).as("sxy"),
      sum(expr(dec38.format("x") + " * x")).as("sxx"),
      sum(expr(dec38.format("y") + " * y")).as("syy"))
    m.select(col("lag_h"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("d1"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("d2"))
      .select(col("lag_h"), col("n"),
        expr("CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 " +
          "ELSE 0 END AS BIGINT)").as("r_sign"),
        expr("CASE WHEN d1 > 0 AND d2 > 0 THEN " +
          "CAST((num * 1000 div d1) * (num * 1000 div d2) AS BIGINT) " +
          "ELSE NULL END").as("r2_ppm"))
      .orderBy(col("lag_h"))
  }

  /** Peak detection on the hourly event series, per event type: an
    * hour is a peak when its count STRICTLY exceeds both neighbors on
    * each side AND rises ≥50% above the centered 5-hour window mean
    * (10·c ≥ 3·Σ₅, i.e. c ≥ 1.5·mean₅, in exact integer form). Runs on the zero-filled
    * dense grid so "neighbor" means adjacent HOUR, not adjacent
    * observation — on a gappy series the undensified form would call
    * isolated stragglers peaks. The grid × type cross is bounded
    * (≤720 hours × the 5-value event-type domain; whitelisted);
    * counting stays one hash aggregate at any SF. */
  def qPeakDetect(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select(expr("ts div 3600000000000").as("h"), col("event_type"))
    val cnt = ev.groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("c"))
    val grid = ev.agg(min(col("h")).as("hmin"), max(col("h")).as("hmax"))
      .select(explode(sequence(col("hmin"), col("hmax"))).as("h"))
    val dense = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(grid))
      .join(cnt, Seq("event_type", "h"), "left")
      .na.fill(0L, Seq("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    dense
      .withColumn("p1", lag(col("c"), 1).over(w))
      .withColumn("p2", lag(col("c"), 2).over(w))
      .withColumn("f1", lead(col("c"), 1).over(w))
      .withColumn("f2", lead(col("c"), 2).over(w))
      .filter(col("p2").isNotNull && col("f2").isNotNull)
      .withColumn("sum5",
        col("p2") + col("p1") + col("c") + col("f1") + col("f2"))
      .filter(col("c") > col("p1") && col("c") > col("p2") &&
        col("c") > col("f1") && col("c") > col("f2") &&
        col("c") * 10 >= col("sum5") * 3)
      .select(col("event_type"), col("h"), col("c"), col("sum5"))
      .orderBy(col("event_type"), col("h"))
  }

  /** Flesch reading-ease profile per source, in the exact milli-point
    * integer form: syllables ≈ vowel-group runs ([aeiouy]+), sentences
    * = terminal-punctuation runs (min 1), words = non-space runs, all
    * via one codegen'd regexp_count pass per doc; flesch_milli =
    * 206835 − 1015·w div s − 84600·sy div w (the classic constants
    * ×1000, staged integer division — deterministic across engines
    * where the float formula is not). One narrow aggregate per
    * source. */
  def qReadability(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        expr("greatest(1L, regexp_count(text, '\\\\S+'))").as("w"),
        expr("greatest(1L, regexp_count(text, '[.!?]+'))").as("sent"),
        expr("regexp_count(lower(text), '[aeiouy]+')").as("sy"))
      .select(col("doc_id"), col("source"),
        expr("206835 - 1015 * w div sent - 84600 * sy div w")
          .as("flesch_milli"))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(flesch_milli) div count(1)").as("avg_flesch_milli"),
        min(col("flesch_milli")).as("min_flesch_milli"),
        max(col("flesch_milli")).as("max_flesch_milli"))
      .orderBy(col("source"))
  }

  /** Welch's unequal-variance t² between the BUILDING and MACHINERY
    * segments' account balances, per nation — the A/B-test statistic
    * in exact integer form. Balances quantize to whole currency units
    * (floor; negatives exist, so the mean difference is emitted as
    * sign + magnitude and every integer division runs on non-negative
    * operands — trunc-vs-floor never bites). md_milli = |Δmean|·10³,
    * se2_micro = (v₁/n₁ + v₂/n₂)·10⁶ from DECIMAL(38,0) moments,
    * t2_milli = md_milli²·10³ div se2_micro. One aggregate over the
    * filtered customer scan; nothing joins. */
  def qWelchTtest(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(col("c_nationkey").cast("long").as("nation"),
        (col("c_mktsegment") === "BUILDING").as("is_b"),
        expr("CAST(floor(c_acctbal) AS BIGINT)").as("x"))
    val dec = (e: String) => s"CAST($e AS DECIMAL(38,0))"
    val g = c.groupBy(col("nation")).agg(
        sum(when(col("is_b"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("is_b"), col("x")).otherwise(0L)).as("s1"),
        sum(when(col("is_b"), expr(dec("x") + " * x")).otherwise(lit(0)))
          .as("q1"),
        sum(when(!col("is_b"), 1L).otherwise(0L)).as("n2"),
        sum(when(!col("is_b"), col("x")).otherwise(0L)).as("s2"),
        sum(when(!col("is_b"), expr(dec("x") + " * x")).otherwise(lit(0)))
          .as("q2"))
      .filter(col("n1") >= 2 && col("n2") >= 2)
    g.select(col("nation"), col("n1"), col("n2"),
        expr(s"${dec("s1")} * n2 - ${dec("s2")} * n1").as("dd"),
        expr(s"${dec("n1")} * q1 - ${dec("s1")} * s1").as("v1n"),
        expr(s"${dec("n2")} * q2 - ${dec("s2")} * s2").as("v2n"))
      .select(col("nation"), col("n1"), col("n2"),
        expr("CAST(CASE WHEN dd > 0 THEN 1 WHEN dd < 0 THEN -1 ELSE 0 END " +
          "AS BIGINT)").as("d_sign"),
        expr(s"CAST(abs(dd) * 1000 div (${dec("n1")} * n2) AS BIGINT)")
          .as("md_milli"),
        expr(s"""CAST(v1n * 1000000 div (${dec("n1")} * n1 * (n1 - 1))
          + v2n * 1000000 div (${dec("n2")} * n2 * (n2 - 1)) AS BIGINT)""")
          .as("se2_micro"))
      .select(col("nation"), col("n1"), col("n2"), col("d_sign"),
        col("md_milli"),
        expr("CASE WHEN se2_micro > 0 THEN " +
          s"CAST(${dec("md_milli")} * md_milli * 1000 div se2_micro " +
          "AS BIGINT) ELSE NULL END").as("t2_milli"))
      .orderBy(col("nation"))
  }

  /** Nelson–Aalen cumulative-hazard table for time-to-first-purchase:
    * per user, duration = days from first event to first purchase
    * (event) or to last observed event (censored); at each event day
    * d, hazard = d_events·10⁶ div n_risk with n_risk the users still
    * under observation, H = running sum — the survival-analysis
    * estimator that stays EXACT in integer arithmetic (Kaplan–Meier's
    * product does not). The per-user reduction is one aggregate; the
    * day table is bounded by the fixed 30-day observation window
    * (≤31 rows — the global windows run there, whitelisted). */
  def qHazardKm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(
        min(col("ts")).as("t0"), max(col("ts")).as("tlast"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
    val dur = per.select(
      when(col("tp").isNotNull,
        expr("(tp - t0) div 86400000000000"))
        .otherwise(expr("(tlast - t0) div 86400000000000")).as("d"),
      when(col("tp").isNotNull, 1L).otherwise(0L).as("e"))
    val byDay = dur.groupBy(col("d"))
      .agg(count(lit(1)).as("n_at"), sum(col("e")).as("d_ev"))
    val wCum = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byDay
      .withColumn("n_risk",
        sum(col("n_at")).over(wAll) - sum(col("n_at")).over(wCum)
          + col("n_at"))
      .withColumn("h_ppm", expr("d_ev * 1000000 div n_risk"))
      .withColumn("ch_ppm", sum(col("h_ppm")).over(wCum))
      .filter(col("d_ev") > 0)
      .select(col("d"), col("n_risk"), col("d_ev"), col("h_ppm"),
        col("ch_ppm"))
      .orderBy(col("d"))
  }

  /** Two-sample permutation test (distribution-free inference, the
    * resampling sibling of q_welch_ttest): is the BUILDING/MACHINERY
    * account-balance gap explainable by chance? 64 permuted group
    * assignments derive from md5 parity of (custkey, permutation id) —
    * deterministic on BOTH engines, which is what makes a resampling
    * procedure oracle-checkable at all — plus b=0 carrying the real
    * assignment. One explode to 65× the (filtered, two-column) scan,
    * one aggregate keyed on b, and a 1-row × 64-row comparison (the
    * whitelisted bounded cross). Statistic is the exact integer
    * |Δmean|·10³; p = (1 + #{b: stat_b ≥ stat_obs}) / 65 in ppm. */
  def qPermTest(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(col("c_custkey"),
        (col("c_mktsegment") === "BUILDING").as("is_b"),
        expr("CAST(floor(c_acctbal) AS BIGINT)").as("x"))
    val dec = (e: String) => s"CAST($e AS DECIMAL(38,0))"
    val stats = base
      .select(col("c_custkey"), col("is_b"), col("x"),
        explode(sequence(lit(0L), lit(64L))).as("b"))
      .withColumn("g", when(col("b") === 0L, col("is_b"))
        .otherwise(Sketches.hash32(
          concat(col("c_custkey").cast("string"), lit("|"),
            col("b").cast("string"))) % 2 === 0))
      .groupBy(col("b")).agg(
        sum(when(col("g"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("g"), col("x")).otherwise(0L)).as("s1"),
        sum(when(!col("g"), 1L).otherwise(0L)).as("n2"),
        sum(when(!col("g"), col("x")).otherwise(0L)).as("s2"))
      .select(col("b"),
        col("n1"), col("n2"),
        expr(s"CAST(abs(${dec("s1")} * n2 - ${dec("s2")} * n1) * 1000 " +
          s"div (${dec("n1")} * n2) AS BIGINT)").as("md_milli"))
      // 65 rows; materialized eagerly so the obs/perm split below does
      // not re-run the 65x explode-aggregate (same discipline as the
      // other bounded intermediates)
      .localCheckpoint(true)
    val obs = stats.filter(col("b") === 0L)
      .select(col("n1"), col("n2"), col("md_milli").as("obs_md_milli"))
    val perm = stats.filter(col("b") > 0L).select(col("md_milli"))
    obs.crossJoin(perm)
      .groupBy(col("n1"), col("n2"), col("obs_md_milli"))
      .agg(sum(when(col("md_milli") >= col("obs_md_milli"), 1L)
        .otherwise(0L)).as("n_ge"))
      .select(col("n1"), col("n2"), col("obs_md_milli"), col("n_ge"),
        expr("(1 + n_ge) * 1000000 div 65").as("p_ppm"))
      .orderBy(col("n1"))
  }

  /** Item-item lift recommendations: parts co-purchased within an
    * order, scored by lift = P(a,b)/(P(a)·P(b)) in exact ppm integer
    * form (c_ab·N·10⁶ div (c_a·c_b)), top-3 recommendations per item
    * with support ≥ 2.
    *
    * Pair counting runs through the skew-immune candidate-first
    * [[supportedPairs]] core (see its scaladoc for the mega-basket
    * analysis). Downstream: margins via two key joins and one
    * partitioned rank window; the lift denominator N folds in as a
    * literal from the core's gate aggregate (r20 — it was a 1-row
    * crossJoin broadcast before). */
  def qItemLift(s: SparkSession, dir: String): DataFrame =
    Rounds.scoped { scope =>
    import org.apache.spark.sql.expressions.Window
    val items = scope.persistLazy(distinctBasketItems(s, dir))
    // N = COUNT(DISTINCT ok) rides the strategy-gate aggregate inside
    // supportedPairs — a bounded scalar, so the lift projection folds
    // it as a literal instead of a distinct-count subtree + crossJoin
    // (r20: the separate subtree cost 2 extra exchanges + a broadcast
    // per run for a number the gate already knew)
    val (pairs, nOrders) = supportedPairs(items, scope)
    val margin = items.groupBy(col("pk")).agg(count(lit(1)).as("c"))
    // both directions from ONE pass over the pair relation (a union
    // would reference it twice and force an extra 7.6M-row persist at
    // the skew design point; the 2-element explode is scan-shaped)
    val directed = pairs.select(explode(array(
        struct(col("a"), col("b"), col("c_ab")),
        struct(col("b").as("a"), col("a").as("b"), col("c_ab")))).as("d"))
      .select(col("d.a").as("a"), col("d.b").as("b"),
        col("d.c_ab").as("c_ab"))
    val scored = directed
      .join(margin.select(col("pk").as("a"), col("c").as("c_a")), "a")
      .join(margin.select(col("pk").as("b"), col("c").as("c_b")), "b")
      .select(col("a"), col("b"), col("c_ab"),
        expr(s"CAST(CAST(c_ab AS DECIMAL(38,0)) * " +
          s"CAST($nOrders AS BIGINT) * 1000000 " +
          "div (CAST(c_a AS DECIMAL(38,0)) * c_b) AS BIGINT)")
          .as("lift_ppm"))
    val res = scored
      .withColumn("rk", row_number().over(Window.partitionBy(col("a"))
        .orderBy(col("lift_ppm").desc, col("b"))))
      .filter(col("rk") <= 3)
      .select(col("a"), col("rk").cast("long").as("rk"), col("b"),
        col("c_ab"), col("lift_ppm"))
      .orderBy(col("a"), col("rk"))
    materializeFinal("q_item_lift", res)
  }

  /** Consistent-hashing shard-rebalance audit: when a cluster grows
    * 8 → 9 shards, what fraction of keys move under naive mod-hash
    * placement versus a 4-vnode-per-shard hash ring? (The classic
    * answer — mod moves ~8/9 of everything, the ring moves ~1/9 —
    * here measured exactly on the md5 key hashes both engines
    * agree on.) The ring lookup is first-vnode-clockwise with
    * wraparound, evaluated per key against the 36-row vnode relation
    * (a bounded broadcast, whitelisted); per scheme one aggregate
    * emits keys moved + ppm. */
  def qConsistentShard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keys = Tables.documents(s, dir)
      .select(col("doc_id"), Sketches.hash32(col("doc_id")).as("h"))
    // vnode points for both ring sizes, derived from md5 like the key
    // hashes: ring r8 has shards 0..7, r9 adds shard 8's 4 vnodes
    val vn = (for { sh <- 0 to 8; r <- 0 to 3 } yield (sh, r))
      .toDF("sh0", "r")
      .select(col("sh0").cast("long").as("sh"),
        Sketches.hash32(concat(lit("s"), col("sh0").cast("string"),
          lit("-"), col("r").cast("string"))).as("vh"))
    // ONE pass: both ring assignments come out of one 36-row bounded
    // cross (conditional min skips shard 8's vnodes for the r8 ring;
    // min-of-struct = first vnode clockwise, wraparound via the
    // wrapped flag sorting last), and the mod comparison reads the
    // same grouped relation's key hash.
    val wrapStruct = struct((col("vh") < col("h")).as("wrapped"),
      col("vh"), col("sh"))
    val assigned = keys.crossJoin(broadcast(vn))
      .groupBy(col("doc_id"), col("h"))
      .agg(min(when(col("sh") <= 7L, wrapStruct)).as("m8"),
        min(wrapStruct).as("m9"))
      .select(col("h"), col("m8.sh").as("r8"), col("m9.sh").as("r9"))
    assigned.agg(count(lit(1)).as("n_keys"),
        sum(when(col("h") % 8 =!= col("h") % 9, 1L).otherwise(0L))
          .as("mod_moved"),
        sum(when(col("r8") =!= col("r9"), 1L).otherwise(0L))
          .as("ring_moved"))
      .select(explode(array(
        struct(lit("mod").as("scheme"), col("n_keys"),
          col("mod_moved").as("n_moved")),
        struct(lit("ring").as("scheme"), col("n_keys"),
          col("ring_moved").as("n_moved")))).as("s"))
      .select(col("s.scheme").as("scheme"), col("s.n_keys").as("n_keys"),
        col("s.n_moved").as("n_moved"),
        expr("s.n_moved * 1000000 div s.n_keys").as("moved_ppm"))
      .orderBy(col("scheme"))
  }

  /** SAX-style symbolic motif mining over the hourly event series:
    * each (event_type, day) window's 24 hourly counts rank-quantize
    * to a 4-letter alphabet (rank-SAX — the exact-integer sibling of
    * the Gaussian-breakpoint original), adjacent letters form 3-gram
    * motifs at their hour offset, and the top-5 recurring (offset,
    * motif) patterns per event type surface daily-rhythm structure.
    * Every window partitions by (type, day) — 24 rows each, bounded
    * by construction; the motif count is one hash aggregate. */
  def qSaxMotifs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select(expr("ts div 86400000000000").as("day"),
        expr("(ts div 3600000000000) % 24").as("hour"), col("event_type"))
    val grid = ev.select(col("event_type"), col("day")).distinct()
      .select(col("event_type"), col("day"),
        explode(sequence(lit(0L), lit(23L))).as("hour"))
    val cnt = ev.groupBy(col("event_type"), col("day"), col("hour"))
      .agg(count(lit(1)).as("c"))
    val dayW = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("c"), col("hour"))
    val sym = grid.join(cnt, Seq("event_type", "day", "hour"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("rn", row_number().over(dayW).cast("long"))
      .withColumn("letter", expr("(rn - 1) * 4 div 24"))
    val seqW = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("hour"))
    sym
      .withColumn("l1", lead(col("letter"), 1).over(seqW))
      .withColumn("l2", lead(col("letter"), 2).over(seqW))
      .filter(col("l2").isNotNull)
      .select(col("event_type"), col("hour"),
        concat(col("letter").cast("string"), lit("-"),
          col("l1").cast("string"), lit("-"), col("l2").cast("string"))
          .as("motif"))
      .groupBy(col("event_type"), col("hour"), col("motif"))
      .agg(count(lit(1)).as("n_days"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("n_days").desc, col("motif"), col("hour"))))
      .filter(col("rk") <= 5)
      .select(col("event_type"), col("rk").cast("long").as("rk"),
        col("hour"), col("motif"), col("n_days"))
      .orderBy(col("event_type"), col("rk"))
  }

  /** Heavy-change detection (the "deltoids" monitoring primitive):
    * users whose activity ratio between the window's first 15 days
    * and the rest shifts most, scored by the Laplace-smoothed exact
    * ratio (c₂+1)·10⁶ div (c₁+1). One aggregate keyed on user (the
    * 1-row min-day broadcast anchors "day 0" — the q_decay_popularity
    * idiom, whitelisted), two bounded TakeOrdered legs: top-10
    * risers + top-10 fallers. */
  def qHeavyChange(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(expr("ts div 86400000000000").as("day"), col("user_id"))
    val d0 = ev.agg(min(col("day")).as("d0"))
    val per = ev.crossJoin(broadcast(d0))
      .select(col("user_id"),
        (col("day") - col("d0") < 15L).as("early"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("early"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("early"), 1L).otherwise(0L)).as("c2"))
      .select(col("user_id"), col("c1"), col("c2"),
        expr("(c2 + 1) * 1000000 div (c1 + 1)").as("ratio_ppm"))
    val risers = per.orderBy(col("ratio_ppm").desc, col("user_id")).limit(10)
      .select(lit("riser").as("role"), col("user_id"), col("c1"),
        col("c2"), col("ratio_ppm"))
    val fallers = per.orderBy(col("ratio_ppm").asc, col("user_id")).limit(10)
      .select(lit("faller").as("role"), col("user_id"), col("c1"),
        col("c2"), col("ratio_ppm"))
    risers.unionByName(fallers)
      .orderBy(col("role"), col("ratio_ppm").desc, col("user_id"))
  }

  /** Order-independent table fingerprints for replication/migration
    * validation: per table, a checksum = Σ md5-derived 60-bit row
    * hashes of the canonical '|'-joined integer/string projection,
    * reduced mod 1e9+7 — two tables with equal (rows, checksum) match
    * with overwhelming probability REGARDLESS of row order or
    * partitioning, which is what makes the check shippable between
    * engines (q_table_diff finds which rows differ; this answers
    * "did the copy land?" with one row per table at scan speed). */
  def qTableChecksum(s: SparkSession, dir: String): DataFrame = {
    def sumRow(df: DataFrame, tag: String, canon: org.apache.spark.sql.Column) =
      df.select(conv(substring(md5(canon), 1, 15), 16, 10)
          .cast("long").as("h"))
        .agg(count(lit(1)).as("n_rows"),
          expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 1000000007 AS BIGINT)")
            .as("checksum"))
        .select(lit(tag).as("tbl"), col("n_rows"), col("checksum"))
    // explicit null sentinel on EVERY field: concat_ws silently skips
    // nulls (making 'a|b' ambiguous with 'a|NULL|b') while '||' concat
    // in the oracle nulls the whole row out of the sum - coalesce on
    // both sides keeps the fingerprint null-safe and engine-identical
    def f(c: org.apache.spark.sql.Column) =
      coalesce(c.cast("string"), lit("<null>"))
    val nation = sumRow(Tables.nation(s, dir), "nation",
      concat_ws("|", f(col("n_nationkey")), f(col("n_name")),
        f(col("n_regionkey"))))
    val region = sumRow(Tables.region(s, dir), "region",
      concat_ws("|", f(col("r_regionkey")), f(col("r_name"))))
    val cust = sumRow(Tables.customer(s, dir), "customer",
      concat_ws("|", f(col("c_custkey")), f(col("c_name")),
        f(col("c_nationkey")), f(col("c_mktsegment"))))
    nation.unionByName(region).unionByName(cust).orderBy(col("tbl"))
  }

  /** Iterative BPE merge training — the real tokenizer-construction
    * loop, not just the first-merge census (q_bpe_first_merge): five
    * rounds of most-frequent-adjacent-pair selection and corpus-wide
    * merge application over the frequency-weighted word vocabulary.
    * The merge step is the classic space-joined-symbols string
    * `replace` (leftmost non-overlapping on BOTH engines), which is
    * what keeps a data-dependent sequential algorithm exactly
    * SQL-expressible — the oracle unrolls the same five stages with
    * scalar subqueries for each round's winner. Each round is one
    * narrow aggregate over the VOCAB relation (bounded by language,
    * not corpus size — the scale-safe form of BPE training) plus a
    * bounded driver scalar for the winning pair; lineage is cut per
    * round (`localCheckpoint`) so round r never replays rounds 1..r−1.
    * Tie → lexicographically smaller pair. */
  def qBpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeTrain(s, dir).toDF("step", "pair", "n_merged").orderBy(col("step"))
  }

  /** The 5-round BPE trainer behind [[qBpeMerges]] and [[qBpeEncode]]:
    * (step, pair, n_merged) in step order, ≤5 entries (fewer when the
    * vocabulary collapses early). Driver state is the ≤5 merge pairs;
    * all counting is distributed and every round's checkpoint is
    * released as soon as the next round lands. */
  private def bpeTrain(s: SparkSession, dir: String): Seq[(Long, String, Long)] =
    Rounds.scoped { scope =>
    val dec = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .select(col("f"),
        trim(regexp_replace(col("w"), "(.)", "$1 ")).as("seq"))
    var cur = scope.persist(dec)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= 5 && !exhausted) {
      val top = cur
        .select(col("f"), split(col("seq"), " ").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("f"), explode(expr("transform(sequence(1, size(t) - 1), " +
          "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("f")).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(1).head(1).headOption
      top match {
        case None =>
          // vocab collapsed before round 5 — every word is a single
          // symbol, no pair left to count. Emit the completed rounds
          // (the oracle's scalar subqueries degrade the same way)
          // instead of throwing on an empty head.
          exhausted = true
        case Some(row) =>
          val p = row.getString(0)
          merges += ((step.toLong, p, row.getLong(1)))
          // sentinel-wrapped, space-ANCHORED pattern: a bare substring
          // replace can false-match across a multi-char symbol boundary
          // (seq "bc d" contains "c d"); anchoring both sides on the
          // delimiter makes only whole-symbol pairs merge. Adjacent
          // occurrences sharing a delimiter (" x y x y ") defer the
          // second merge to the next round - identical on both engines,
          // and the selection counts stay per-position.
          val next = scope.persist(cur.withColumn("seq",
            trim(org.apache.spark.sql.functions.replace(
              concat(lit(" "), col("seq"), lit(" ")),
              lit(s" $p "), lit(" " + p.replace(" ", "") + " ")))))
          scope.release(cur)
          cur = next
      }
      step += 1
    }
    merges.toSeq
  }

  /** BPE apply/encode — the scan-shaped other half of the tokenizer
    * story: tokenize the corpus with the merge list [[qBpeMerges]]'
    * 5-round trainer learns, and report per-document token counts and
    * merged-vocab coverage. The ≤5 learned pairs are driver literals
    * folded into ONE codegen'd projection (a chain of space-anchored
    * replaces — exactly the training rounds' operation, in step
    * order, so a trained word encodes to its final training state);
    * the only shuffle is the map-side-combined per-doc aggregate.
    * Linear in corpus bytes at any SF — the shape a 100 TB pipeline
    * runs daily. merged_ppm is integer-exact (BIGINT div). */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val mergePairs = bpeTrain(s, dir).map(_._2)
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
    val seq0 = trim(regexp_replace(col("w"), "(.)", "$1 "))
    val enc = mergePairs.foldLeft(seq0) { (acc, p) =>
      trim(org.apache.spark.sql.functions.replace(
        concat(lit(" "), acc, lit(" ")),
        lit(s" $p "), lit(" " + p.replace(" ", "") + " ")))
    }
    words
      .select(col("doc_id"), split(enc, " ").as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("nt"),
        expr("size(filter(t, x -> length(x) >= 2))").cast("long").as("nm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("nt")).as("n_tokens"),
        sum(col("nm")).as("n_merged"))
      .withColumn("merged_ppm", expr("n_merged * 1000000 div n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Empirical-Bayes rate shrinkage (additive smoothing toward the
    * global prior): per-user purchase rate with 100 pseudo-events of
    * the corpus-wide rate mixed in — the ranking that does NOT crown
    * a 1-for-1 user over a 90-for-100 one. Exact integer: shrunk_ppm
    * = (k·10⁶ + 100·prior_ppm) div (n + 100). One aggregate keyed on
    * user + the 1-row prior broadcast (whitelisted); top-10 raw vs
    * shrunk side by side shows the correction. */
  def qEbShrinkage(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("k"))
    val prior = per.agg(
      expr("sum(k) * 1000000 div sum(n)").as("prior_ppm"))
    per.crossJoin(broadcast(prior))
      .select(col("user_id"), col("n"), col("k"),
        expr("k * 1000000 div n").as("raw_ppm"),
        expr("(k * 1000000 + 100 * prior_ppm) div (n + 100)")
          .as("shrunk_ppm"))
      .orderBy(col("shrunk_ppm").desc, col("user_id"))
      .limit(10)
  }

  /** Ordered-set aggregate battery: per nation, the modal market
    * segment (tie → lexicographically smallest — made deterministic
    * where SQL's MODE is not) and the discrete median account balance
    * (percentile_disc semantics: the smallest VALUE whose cumulative
    * count reaches ⌈n/2⌉ — an actual data value, unlike the
    * interpolated percentile_cont family q_quantiles covers). Mode
    * via one (nation, segment) aggregate + struct-min; median via a
    * value-ordered rank filtered at (n+1) div 2. */
  def qModeDisc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables.customer(s, dir).select(
      col("c_nationkey").cast("long").as("nation"),
      col("c_mktsegment").as("seg"),
      expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("cents"),
      col("c_custkey"))
    val mode = c.groupBy(col("nation"), col("seg"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("nation"))
      .agg(min(struct((-col("cnt")).as("neg"), col("seg"))).as("m"),
        sum(col("cnt")).as("n"))
      .select(col("nation"), col("n"), col("m.seg").as("mode_seg"),
        (-col("m.neg")).as("mode_n"))
    val med = c
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("nation"))
          .orderBy(col("cents"), col("c_custkey"))))
      .withColumn("nn", count(lit(1)).over(
        Window.partitionBy(col("nation"))))
      .filter(col("rn") === expr("(nn + 1) div 2"))
      .select(col("nation"), col("cents").as("median_cents"))
    mode.join(med, "nation").orderBy(col("nation"))
  }

  /** Prefix-autocomplete index: for every 1–4 char prefix of the
    * frequency-weighted vocabulary, the top-3 completions by corpus
    * frequency (tie → lexicographic). The index relation is bounded
    * by VOCABULARY size × 4, not corpus size — the scale posture of
    * every search-index query in the catalog — and the ranking window
    * partitions by prefix. Support floor f ≥ 2 drops hapax noise. */
  def qAutocomplete(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .filter(col("f") >= 2)
    vocab
      .select(col("w"), col("f"),
        explode(sequence(lit(1), least(lit(4), length(col("w")))))
          .as("plen"))
      .select(col("w").substr(lit(1), col("plen")).as("prefix"),
        col("w"), col("f"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("prefix"))
        .orderBy(col("f").desc, col("w"))))
      .filter(col("rk") <= 3)
      .select(col("prefix"), col("rk").cast("long").as("rk"), col("w"),
        col("f"))
      .orderBy(col("prefix"), col("rk"))
  }

  /** Burstiness classification by the Fano factor (variance-to-mean
    * dispersion of the hourly arrival counts, Poisson ⇒ 1): per event
    * type over the zero-filled dense hour grid, fano_milli =
    * (H·Q − S²)·1000 div (H·S) from exact integer moments — the
    * dispersion diagnostic that decides whether rate-based alerting
    * can assume Poisson noise. Grid bounded by the fixed 30-day
    * window; one aggregate per type. */
  def qFanoBurstiness(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(expr("ts div 3600000000000").as("h"), col("event_type"))
    val grid = ev.agg(min(col("h")).as("hmin"), max(col("h")).as("hmax"))
      .select(explode(sequence(col("hmin"), col("hmax"))).as("h"))
    val cnt = ev.groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("c"))
    ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(grid))
      .join(cnt, Seq("event_type", "h"), "left")
      .na.fill(0L, Seq("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), sum(col("c")).as("s"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("q"))
      .select(col("event_type"), col("n_hours"), col("s"),
        expr("CAST((CAST(n_hours AS DECIMAL(38,0)) * q - " +
          "CAST(s AS DECIMAL(38,0)) * s) * 1000 div " +
          "(CAST(n_hours AS DECIMAL(38,0)) * s) AS BIGINT)")
          .as("fano_milli"))
      .withColumn("dispersion",
        when(col("fano_milli") > 1100L, "bursty")
          .when(col("fano_milli") < 900L, "regular")
          .otherwise("poisson-like"))
      .orderBy(col("event_type"))
  }

  /** Inter-arrival time profile per event type: discrete p50/p90 of
    * the per-user gap between consecutive events of that type, in
    * seconds — the latency-distribution read that sizes session
    * timeouts and stream watermarks. Gaps come off one user+type
    * partitioned lag; the percentile_disc ranks partition by type
    * (never global); rank r = ⌈q·n⌉ via exact integer ceil. */
  def qInterarrival(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("gap_s",
        expr("(ts - lag(ts, 1) OVER (PARTITION BY user_id, event_type " +
          "ORDER BY ts)) div 1000000000"))
      .filter(col("gap_s").isNotNull)
      .select(col("event_type"), col("gap_s"))
    // both percentile ranks read off ONE ranked pass (conditional agg,
    // no second window or self-join)
    gaps
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("gap_s"))))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
      .filter(col("rn") === expr("(n + 1) div 2") ||
        col("rn") === expr("(9 * n + 9) div 10"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("gap_s")))
          .as("p50_s"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("gap_s")))
          .as("p90_s"))
      .orderBy(col("event_type"))
  }

  /** MinHash estimator calibration: over the SAME LSH candidate set
    * the dedup family trusts, compare the k-hash Jaccard ESTIMATE
    * (matching signature positions / k) against the EXACT shingle
    * Jaccard, bucketed by exact-similarity decile — the audit that
    * tells an operator whether k is large enough for the dedup
    * threshold in use (expected |err| ≈ √(J(1−J)/k)). Everything is
    * exact integer ppm; the exact-side set sizes use |A|+|B|−|∩| so
    * no union array materializes. Same two-join shape as the verify
    * queries, candidates bounded by the LSH banding. */
  def qMinhashCalibration(s: SparkSession, dir: String): DataFrame = Rounds.scoped { scope =>
    val k = Dedup.MinhashK
    // documents are keyed by doc_id: dedupe AFTER the shared signature
    // cache (identical rows sign identically), so duplicate physical
    // rows can't quadruple every candidate pair (r17 dup sweep) while
    // the cache stays shared with the rest of the dedup family
    val sig = minhashSigned(scope, s, dir).dropDuplicates(Seq("doc_id"))
    val cands = Dedup.lshCandidatePairs(Dedup.withLshBands(sig), "doc_id")
    // text rides the candidate joins; shingling evaluates ABOVE them,
    // once per candidate pair side instead of once per corpus row per
    // side (r20 — the qDedupPanel/qDedupNgram shape, guide §1.2)
    val a = sig.select(Seq(col("doc_id").as("id_a"),
        col("text").as("text_a")) ++
      (0 until k).map(i => col(s"m$i").as(s"a$i")): _*)
    val b = sig.select(Seq(col("doc_id").as("id_b"),
        col("text").as("text_b")) ++
      (0 until k).map(i => col(s"m$i").as(s"b$i")): _*)
    val matches = (0 until k).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
    materializeFinal("q_minhash_calibration",
      cands.join(a, "id_a").join(b, "id_b")
        .select(matches.as("mt"),
          graft.functions.Shingles.shingles(col("text_a"), 3).as("sh_a"),
          graft.functions.Shingles.shingles(col("text_b"), 3).as("sh_b"))
        .select(col("mt"),
          expr("size(array_intersect(sh_a, sh_b))").cast("long").as("isz"),
          expr("size(sh_a) + size(sh_b)").cast("long").as("ssz"))
        .filter(col("ssz") > col("isz"))
        .select(expr(s"mt * 1000000 div $k").as("est_ppm"),
          expr("isz * 1000000 div (ssz - isz)").as("ex_ppm"))
        .select(expr("least(9L, ex_ppm div 100000)").as("bucket"),
          expr("abs(est_ppm - ex_ppm)").as("err"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(err) div count(1)").as("mae_ppm"),
          max(col("err")).as("max_err_ppm"))
        .orderBy(col("bucket")))
  }

  /** Fixed lexicon for the fused multi-pattern scan — substrings (not
    * whole-word terms like q_blocklist_score's), including multi-word
    * phrases, shared verbatim with the oracle SQL. */
  private val scanPatterns = Seq("scan", "merge batch", "fast table",
    "row scan", "value part", "slow", "hash value", "a a")

  /** Lexicon scan via the fused [[graft.functions.MultiPatternCountExpr]]:
    * leftmost non-overlapping occurrences of 8 substring patterns in
    * ONE pass over each document's bytes (the declarative N-`replace`
    * form materializes N stripped copies of every document per row).
    * Per (source, pattern): total occurrences + docs hit; the oracle
    * is the replace-length identity, which counts exactly the same
    * non-overlapping matches. */
  def qMultipatternScan(s: SparkSession, dir: String): DataFrame = {
    val patArr = scanPatterns.map(p => s"'$p'").mkString(",")
    // null docs can't be scanned; a source whose every doc is null is
    // not reported (posexplode would drop them anyway — the filter
    // makes the contract explicit and mirrors the oracle)
    Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        graft.functions.MultiPattern.countAll(col("text"), scanPatterns)
          .as("cnts"))
      .select(col("source"), posexplode(col("cnts")).as(Seq("pi", "n")))
      .select(col("source"),
        expr(s"element_at(array($patArr), CAST(pi + 1 AS INT))")
          .as("pattern"), col("n"))
      .groupBy(col("source"), col("pattern"))
      .agg(sum(col("n")).as("n_occ"),
        sum(when(col("n") > 0, 1L).otherwise(0L)).as("n_docs"))
      .orderBy(col("source"), col("pattern"))
  }

  /** Vocabulary growth curve (Heaps'-law diagnostic): corpus split
    * into 10 doc-id deciles; per decile the token volume and the
    * count of NEVER-BEFORE-SEEN types (first corpus occurrence by
    * bucket), with running totals — the "is more data still buying
    * vocabulary?" read a curation loop consults. First occurrences
    * come off one token-keyed aggregate; the cumulative windows run
    * on the 10-row bucket relation (whitelisted). */
  def qVocabGrowth(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val ext = docs.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .crossJoin(broadcast(ext))
      .select(expr("least(9L, (doc_id - mn) * 10 div (mx - mn + 1))")
        .as("b"), col("w"), col("doc_id"))
    val tok = toks.groupBy(col("b"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"))
    val newTypes = toks.groupBy(col("w")).agg(min(col("b")).as("fb"))
      .groupBy(col("fb").as("b")).agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tok.join(newTypes, Seq("b"), "left")
      .na.fill(0L, Seq("new_types"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .orderBy(col("b"))
  }

  /** Behavioral diversity (Gini–Simpson over a user's event-type mix,
    * exact rational): div_ppm = 10⁶ − Σc²·10⁶ div n² per user, then
    * the user census per diversity decile — the segmentation that
    * separates single-action accounts from diverse ones without any
    * transcendental entropy. Two aggregates, both keyed. */
  def qBehaviorDiversity(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("c2"))
      .select(col("user_id"),
        expr("CAST(1000000 - c2 * 1000000 div " +
          "(CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)").as("div_ppm"))
    per.select(expr("div_ppm div 100000").as("bucket"), col("div_ppm"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_users"),
        min(col("div_ppm")).as("min_div_ppm"),
        max(col("div_ppm")).as("max_div_ppm"))
      .orderBy(col("bucket"))
  }

  /** Point-in-time read over the SCD2 version table q_cdc_scd2
    * builds: the version of each user's record effective at the
    * window midpoint T (valid_from ≤ T < valid_to, open-ended rows
    * qualify) — the "what did the table say THEN" lookup that closes
    * the CDC story. Version construction is one partitioned lead
    * window; T is a 1-row aggregate broadcast (whitelisted). */
  def qScd2Read(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val v = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("t"), col("event_id"),
        col("value"), when(col("value") < 5, "D").otherwise("U").as("op"))
      .withColumn("valid_to", lead(col("t"), 1).over(w))
    val tm = v.agg(expr("(min(t) + max(t)) div 2").as("tm"))
    v.crossJoin(broadcast(tm))
      .filter(col("op") === "U" && col("t") <= col("tm") &&
        (col("valid_to").isNull || col("valid_to") > col("tm")))
      .select(col("user_id"), col("event_id"),
        col("t").as("valid_from"), col("value").as("val"))
      .orderBy(col("user_id"))
  }

  /** Dedup ensemble agreement: over the ONE LSH candidate set, four
    * independent verifiers vote — exact shingle Jaccard ≥ 0.7,
    * MinHash estimate ≥ 0.7, SimHash Hamming ≤ 8, and 40-char-prefix
    * Levenshtein ≤ 12 — and the output is the vote histogram plus
    * per-method positive counts. This is the disagreement audit that
    * tells a pipeline owner which near-dup detector is the outlier
    * before they trust any single one at 100 TB. All four signals
    * compute in the SAME two candidate joins (no extra passes). */
  def qDedupPanel(s: SparkSession, dir: String): DataFrame =
    Rounds.scoped { scope =>
    import graft.functions.{Shingles, SimHash}
    val k = Dedup.MinhashK
    // doc_id-keyed dedupe after the shared cache — see
    // qMinhashCalibration (r17 dup sweep)
    val sig = minhashSigned(scope, s, dir).dropDuplicates(Seq("doc_id"))
    val cands = Dedup.lshCandidatePairs(Dedup.withLshBands(sig), "doc_id")
    // verify sides carry only (id, TEXT, minhash cols) through the
    // candidate joins; shingling, simhash and the levenshtein prefix
    // evaluate ABOVE the joins — once per CANDIDATE PAIR side instead
    // of once per CORPUS row per side (the r19 side projections ran
    // the per-doc text work for all 5000 docs twice to serve ~256
    // surviving pairs; r20, guide §1.2 — don't compute what you throw
    // away; same text-sides shape as qDedupEditDistance).
    def side(tag: String, ms: String) = sig.select(
      Seq(col("doc_id").as(s"id_$tag"), col("text").as(s"text_$tag")) ++
        (0 until k).map(i => col(s"m$i").as(s"$ms$i")): _*)
    val matches = (0 until k).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
    // levenshtein is codepoint-based in Spark but BYTE-based in
    // DuckDB; normalizing non-ASCII codepoints to '?' makes the
    // two views coincide on ANY corpus (one '?' per codepoint on
    // both engines), not just the ASCII fixtures
    def pre(tag: String) = regexp_replace(
      substring(col(s"text_$tag"), 1, 40), "[^\\x20-\\x7E]", "?")
    val votesPlan = cands.join(side("a", "a"), "id_a").join(side("b", "b"), "id_b")
      .select(matches.as("mt"),
        Shingles.shingles(col("text_a"), 3).as("sh_a"),
        Shingles.shingles(col("text_b"), 3).as("sh_b"),
        pre("a").as("pre_a"), pre("b").as("pre_b"))
      .select(col("mt"),
        expr("CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT)").as("isz"),
        expr("CAST(size(sh_a) + size(sh_b) AS BIGINT)").as("ssz"),
        bit_count(SimHash.simhash(col("sh_a"))
          .bitwiseXOR(SimHash.simhash(col("sh_b")))).cast("long")
          .as("ham"),
        levenshtein(col("pre_a"), col("pre_b")).cast("long").as("ed"))
      .select(
        expr("CASE WHEN ssz > isz AND isz * 1000000 div (ssz - isz) " +
          ">= 700000 THEN 1L ELSE 0L END").as("v_exact"),
        expr(s"CASE WHEN mt * 1000000 div $k >= 700000 THEN 1L " +
          "ELSE 0L END").as("v_minhash"),
        expr("CASE WHEN ham <= 8 THEN 1L ELSE 0L END").as("v_simhash"),
        expr("CASE WHEN ed <= 12 THEN 1L ELSE 0L END").as("v_edit"))
    // vote histogram AND per-method counts both read `votes`, whose
    // subtree carries the per-doc shingling/simhash side projections
    // over the whole corpus — unpersisted, the two consumers PLAN the
    // tree twice and the corpus-sized text work runs twice per query
    // (r20, StageProfile: the panel's dominant stage was 155 CPU-s
    // for 256 candidate pairs; the plan dump showed the full side
    // subtree duplicated under hist and meth). One eager checkpoint
    // of the candidate-bounded vote rows runs it once (guide §5
    // caching discipline — reused AND expensive to recompute).
    val votes = scope.persist(PlanProbe.recordRound(votesPlan))
    val hist = votes
      .groupBy(expr("concat('votes_', CAST(v_exact + v_minhash + " +
        "v_simhash + v_edit AS STRING))").as("metric"))
      .agg(count(lit(1)).as("n"))
    val meth = votes.agg(sum(col("v_exact")).as("m_exact"),
        sum(col("v_minhash")).as("m_minhash"),
        sum(col("v_simhash")).as("m_simhash"),
        sum(col("v_edit")).as("m_edit"))
      .select(explode(array(
        struct(lit("m_exact").as("metric"), col("m_exact").as("n")),
        struct(lit("m_minhash").as("metric"), col("m_minhash").as("n")),
        struct(lit("m_simhash").as("metric"), col("m_simhash").as("n")),
        struct(lit("m_edit").as("metric"), col("m_edit").as("n")))).as("s"))
      .select(col("s.metric").as("metric"), col("s.n").as("n"))
    materializeFinal("q_dedup_panel",
      hist.unionByName(meth).orderBy(col("metric")))
  }

  /** Peak session concurrency per event type — the capacity question
    * ("how many sessions were ever active at once, and when?") as an
    * exact sweep-line: 30-min-gap sessionization, +1/−1 endpoint
    * deltas, a running sum ordered by (t, delta) so closings apply
    * before openings at the same second, max + earliest attaining
    * second. Every window partitions by (user, type) or type. */
  def qPeakConcurrency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uw = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("t"))
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000000000").as("t"))
    val sess = ev
      .withColumn("brk",
        when(col("t") - lag(col("t"), 1).over(uw) > 1800L || lag(col("t"), 1)
          .over(uw).isNull, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        uw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("event_type"), col("sid"))
      .agg(min(col("t")).as("st"), max(col("t")).as("en"))
    val deltas = sess.select(col("event_type"),
      explode(array(struct(col("st").as("t"), lit(1L).as("d")),
        struct((col("en") + 1L).as("t"), lit(-1L).as("d")))).as("e"))
      .select(col("event_type"), col("e.t").as("t"), col("e.d").as("d"))
    // n_sessions counts the +1 endpoints in the SAME pass as the peak
    // (a separate count over `sess` would replay the sessionization)
    deltas.withColumn("run", sum(col("d")).over(
        Window.partitionBy(col("event_type")).orderBy(col("t"), col("d"))))
      .groupBy(col("event_type"))
      .agg(sum(when(col("d") === 1L, 1L).otherwise(0L)).as("n_sessions"),
        min(struct((-col("run")).as("nr"), col("t"))).as("m"))
      .select(col("event_type"), col("n_sessions"),
        (-col("m.nr")).as("peak"), col("m.t").as("peak_at"))
      .orderBy(col("event_type"))
  }

  /** Graph diameter lower bound by the classic double-sweep: BFS from
    * a deterministic seed (min node id), re-BFS from the farthest node
    * found, report its eccentricity — the 2-approximation that costs
    * two BFS passes instead of all-pairs. Fully distributed end to
    * end: the intermediate "farthest node" is a 1-row TakeOrdered
    * relation fed straight back in as the second sweep's source set —
    * no driver collect. Both sweeps are hop-bounded (6) with the
    * frontier-only round discipline of [[operators.Graph.bfsHops]]. */
  def qDiameter2Sweep(s: SparkSession, dir: String): DataFrame = Rounds.scoped { scope =>
    // cached PRE-PARTITIONED on the BFS join key: every frontier⋈edge
    // round requires hashpartitioning(src), and an unpartitioned cache
    // makes each round re-exchange the whole graph — StageProfile at
    // sf0.1 showed 8 identical 10.5 MB edge shuffle-writes per query
    // where the design intends "shuffle the frontier, never the graph"
    // (q_pagerank's co-partitioned-cache discipline)
    val edges = scope.cache(Graph.undirected(purchaseEdges(s, dir), "c", "sup")
      .repartition(col("src")))
    val seedRow = edges.agg(min(col("src")).as("node"))
    val d1 = operators.Graph.bfsHops(edges, seedRow, 6)
    val far = d1.orderBy(col("dist").desc, col("node")).limit(1)
    val d2 = operators.Graph.bfsHops(edges, far.select(col("node")), 6)
    // eager 1-row result; the scope then frees the edge cache AND both
    // sweeps' final BFS rounds, which passed to it
    materializeFinal("q_diameter_2sweep",
      seedRow.select(col("node").as("seed"))
        .crossJoin(broadcast(far.select(col("node").as("far_node"),
          col("dist").as("ecc_seed"))))
        .crossJoin(broadcast(d2.agg(max(col("dist")).as("diameter_lb"),
          count(lit(1)).as("n_reached"))))
        .orderBy(col("seed")))
  }

  /** HLL sketch-union algebra: per-source distinct-token estimates
    * plus an 'ALL' row whose registers are the MERGE (bucket-max) of
    * every source's — demonstrated by the union formulation, which is
    * register-max merge by construction (max over concatenated
    * streams ≡ max of per-stream maxima). Each row carries the exact
    * distinct companion and the estimator's error in ppm — mergeable
    * cardinality with its honesty check, the property that lets a
    * 1000-executor cluster union per-partition sketches instead of
    * re-shuffling raw values. */
  def qHllUnion(s: SparkSession, dir: String): DataFrame = {
    val t0 = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
    val t = t0.unionByName(t0.withColumn("source", lit("ALL")))
    val est = operators.Sketches.hllDistinct(t, Seq("source"), col("w"))
    val exact = t.groupBy(col("source"))
      .agg(countDistinct(col("w")).as("exact_distinct"))
    est.join(exact, "source")
      .select(col("source"), col("n_buckets_hit"), col("hll_est"),
        col("exact_distinct"),
        expr("CAST(floor(abs(hll_est - exact_distinct) * 1000000.0 " +
          "/ exact_distinct) AS BIGINT)").as("err_ppm"))
      .orderBy(col("source"))
  }

  /** Gaps-and-islands activity streaks: each user's maximal runs of
    * CONSECUTIVE active days via the rank-difference idiom (day −
    * dense-rank-of-day is constant exactly within a consecutive run —
    * no self-join, no recursion), reporting the top-10 longest
    * streaks (ties → earlier start, smaller user). Distinct from
    * q_sessionize: calendar-day islands, not time-gap sessions. Two
    * partitioned windows + one aggregate, all keyed on user. */
  def qActivityStreaks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("dy"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("dy"))
    days
      .withColumn("isl", col("dy") - row_number().over(w))
      .groupBy(col("user_id"), col("isl"))
      .agg(count(lit(1)).as("len"), min(col("dy")).as("start_day"),
        max(col("dy")).as("end_day"))
      .select(col("user_id"), col("len"), col("start_day"), col("end_day"))
      .orderBy(col("len").desc, col("start_day"), col("user_id"))
      .limit(10)
  }

  // ------------------------------------------------------------------
  // TPC-H decorrelation shapes (VERDICT r13/r15 brief #2): the six
  // canonical correlated-subquery patterns a relational engine's
  // decorrelation is judged on, each written in the DECLARATIVE
  // decorrelated form (aggregate + join / semi / anti — never a
  // per-outer-row rescan) with the correlated SQL as the DuckDB
  // oracle. Adapted to this star schema (no partsupp /
  // commit-receipt dates / comments): supply offers come from
  // lineitem, lateness is shipdate vs orderdate. All money/quantity
  // comparisons in integer cents/centi-units (exact on both engines).
  // ------------------------------------------------------------------

  /** TPC-H Q2 shape — correlated scalar-min selection: for each
    * small-size part, the EUROPE-region supplier(s) whose offer hits
    * that part's regional minimum price. The reference pattern
    * `WHERE price = (SELECT min(price) WHERE partkey = outer.partkey)`
    * decorrelates to one per-part min aggregate joined back to the
    * offer relation on partkey (filter on the min AFTER the equi-join
    * so the join keys stay partkey-only and the agg's shuffle
    * partitioning is reusable). Region/nation dims broadcast; the
    * supplier restriction lands BEFORE the per-part aggregate so the
    * min is computed over the correlated (region-filtered) set, as in
    * the original. DISTINCT collapses multiple same-price lineitems
    * of one (part, supplier). */
  def qTpchQ2(s: SparkSession, dir: String): DataFrame = {
    val eu = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)
        .filter(col("r_name") === "EUROPE").select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"))
    val off = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        cents(col("l_extendedprice")).as("pc"))
      .join(eu, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.part(s, dir).filter(col("p_size") <= 15)
        .select(col("p_partkey")), col("l_partkey") === col("p_partkey"))
    val minPc = off.groupBy(col("p_partkey").as("mp"))
      .agg(min(col("pc")).as("min_pc"))
    off.join(minPc, col("p_partkey") === col("mp"))
      .filter(col("pc") === col("min_pc"))
      .select(col("p_partkey"), col("l_suppkey").as("s_suppkey"),
        col("s_name"), col("min_pc").as("min_price_cents"))
      .distinct()
      .orderBy(col("p_partkey"), col("s_suppkey"))
  }

  /** TPC-H Q4 shape — correlated EXISTS per order: count orders per
    * priority in one quarter having at least one line shipped >30
    * days after the order date. The EXISTS (whose predicate spans
    * BOTH sides — `l_shipdate > o_orderdate + 30`) decorrelates to a
    * LEFT SEMI join on orderkey with the cross-side inequality as a
    * residual join condition — one pass over each relation, never a
    * per-order probe. Quarter filter pushes into the orders scan. */
  def qTpchQ4(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
    val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("o_orderkey") === col("l_orderkey") &&
        datediff(col("l_shipdate"), col("o_orderdate")) > 30, "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q13 shape — outer-join count distribution: how many
    * customers placed 0, 1, 2, … qualifying orders. The qualifying
    * predicate (here: non-URGENT, standing in for the NOT LIKE
    * comment filter) applies to the ORDERS side of a LEFT OUTER join,
    * so empty customers survive with count 0 — the shape that breaks
    * engines which push outer-side predicates below the join. Two
    * keyed aggregates: per-customer count, then the count census. */
  def qTpchQ13(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    Tables.customer(s, dir).select(col("c_custkey"))
      .join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q17 shape — correlated-average threshold: total revenue of
    * brand lines ordering below 20% of that part's average quantity.
    * The correlated scalar `(SELECT 0.2*avg(quantity) WHERE partkey =
    * outer.partkey)` decorrelates to one per-part (count, sum)
    * aggregate joined back on partkey; the 20%-of-average compare
    * runs as the cross-multiplied integer form 5·n·qty < Σqty on
    * centi-units — exact on both engines, no division. The brand
    * filter restricts the part SET (the average is over every line of
    * those parts, as in the original) and is applied before the
    * aggregate so both passes scan only the brand's lines. */
  def qTpchQ17(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        cents(col("l_quantity")).as("qc"),
        cents(col("l_extendedprice")).as("pc"))
      .join(Tables.part(s, dir).filter(col("p_brand") === "Brand#23")
        .select(col("p_partkey")), col("l_partkey") === col("p_partkey"))
    val st = li.groupBy(col("l_partkey").as("ap"))
      .agg(count(lit(1)).as("n"), sum(col("qc")).as("sq"))
    li.join(st, col("l_partkey") === col("ap"))
      .filter(col("qc") * col("n") * 5 < col("sq"))
      .agg(count(lit(1)).as("n_lines"), sum(col("pc")).as("total_cents"))
      .orderBy(col("n_lines"))
  }

  /** TPC-H Q18 shape — HAVING-IN large orders: orders whose total
    * quantity clears a threshold, joined out to their customer. The
    * `o_orderkey IN (SELECT l_orderkey … HAVING sum(qty) > T)`
    * decorrelates to the HAVING aggregate used directly as a join
    * input (the aggregate already carries the sum, so the IN becomes
    * an inner join that also provides the emitted total) — map-side
    * partial aggregation shrinks lineitem to one row per order before
    * any join. Date emitted as a formatted string so both engines
    * hash identically. */
  def qTpchQ18(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), cents(col("l_quantity")).as("qc"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("qc")).as("sum_qty_centi"))
      .filter(col("sum_qty_centi") > 30000L)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        cents(col("o_totalprice")).as("total_cents"))
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("total_cents"), col("sum_qty_centi"))
      .orderBy(col("total_cents").desc, col("o_orderkey"))
  }

  /** TPC-H Q21 shape — double EXISTS / NOT-EXISTS: suppliers who were
    * the SOLE late supplier on a multi-supplier order (late = shipped
    * >90 days after the order date). The correlated pair
    * `EXISTS(other supplier) AND NOT EXISTS(other LATE supplier)`
    * decorrelates to a LEFT SEMI then a LEFT ANTI join on orderkey,
    * each with the supplier-inequality as a residual condition — the
    * late set is DISTINCT-reduced to (order, supplier) pairs first so
    * both probes and the final per-supplier count run on the reduced
    * relation, never on raw line multiplicity. Top-20 via
    * TakeOrdered. */
  def qTpchQ21(s: SparkSession, dir: String): DataFrame = {
    val late = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 90)
      .select(col("l_orderkey"), col("l_suppkey"))
      .distinct()
    val others = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
    val lateOthers = late
      .select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
    late
      .join(others, col("l_orderkey") === col("ok2") &&
        col("l_suppkey") =!= col("sk2"), "left_semi")
      .join(lateOthers, col("l_orderkey") === col("ok3") &&
        col("l_suppkey") =!= col("sk3"), "left_anti")
      .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name")).limit(20)
  }

  // integer-exact money/quantity projections shared by the TPC-H
  // family: cents = floor(price·100), percent = floor(discount·100),
  // centi-units = floor(quantity·100) — revenue in cents×percent
  // ("centi-cent") units so both engines compute identical BIGINTs.
  // Every site MUST go through cents(): the oracle compare is exact
  // only while this projection is byte-identical to the SQL form
  // CAST(floor(CAST(x AS DOUBLE)*100) AS BIGINT) on both engines.
  private def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c.cast("double") * 100).cast("long")
  private def revCc: org.apache.spark.sql.Column =
    cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))

  /** TPC-H Q3 shape — shipping-priority top-10: unshipped revenue of
    * one market segment's orders placed before / shipped after a date.
    * Three-way join narrows left-to-right (segment filter pushes into
    * the customer scan, both date filters into their scans), one
    * orderkey-grouped aggregate, top-10 via TakeOrderedAndProject —
    * never a global sort. */
  def qTpchQ3(s: SparkSession, dir: String): DataFrame = {
    val d = lit("1998-06-01").cast("timestamp")
    Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
      .join(Tables.orders(s, dir).filter(col("o_orderdate") < d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority")),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, dir).filter(col("l_shipdate") > d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"))
      .agg(sum(revCc).as("revenue_cc"))
      .orderBy(col("revenue_cc").desc, col("l_orderkey")).limit(10)
  }

  /** TPC-H Q6 shape — the forecasting-revenue-change single-scan
    * aggregate: one year, a discount band, a quantity cap, and
    * sum(price·discount). Every predicate pushes into the parquet
    * scan; the whole query is one map-side-combined aggregate — the
    * TPC-H query that measures pure scan+filter throughput. Discount
    * band compared in integer percent (floor(·100)), revenue in
    * cents×percent units. */
  def qTpchQ6(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_quantity") < 24)
      .select(cents(col("l_extendedprice")).as("pc"),
        cents(col("l_discount")).as("dpct"))
      .filter(col("dpct") >= 5L && col("dpct") <= 7L)
      .agg(sum(col("pc") * col("dpct")).as("revenue_u"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("n_lines"))
  }

  /** TPC-H Q7 shape — volume shipping between two nations: revenue of
    * lines where the supplier sits in one nation and the ordering
    * customer in the other, both directions, per year. The nation dim
    * joins twice under different roles (broadcast both); the big
    * join chain is lineitem⋈orders on orderkey then the two
    * nation-restricted dims. */
  def qTpchQ7(s: SparkSession, dir: String): DataFrame = {
    def nat(role: String) = broadcast(Tables.nation(s, dir)
      .filter(col("n_name").isin("NATION_1", "NATION_2"))
      .select(col("n_nationkey").as(s"${role}_nk"), col("n_name").as(role)))
    val sup = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(nat("supp_nation"), col("s_nationkey") === col("supp_nation_nk"))
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(nat("cust_nation"), col("c_nationkey") === col("cust_nation_nk"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
        col("l_discount"), year(col("l_shipdate")).cast("long").as("l_year"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(revCc).as("revenue_cc"), count(lit(1)).as("n_lines"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q8 shape — market share: of one region's ECONOMY-part
    * order volume, the fraction supplied from one nation, per order
    * year. Conditional-sum ratio in exact integers (ppm via BIGINT
    * division); region/nation/part dims broadcast; the two fact joins
    * shuffle on their natural keys. */
  def qTpchQ8(s: SparkSession, dir: String): DataFrame = {
    val marketNations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)
        .filter(col("r_name") === "ASIA").select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val supNation = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("snk"), col("n_name").as("sup_nation"))),
        col("s_nationkey") === col("snk"))
      .select(col("s_suppkey"), col("sup_nation"))
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(broadcast(Tables.part(s, dir)
        .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(marketNations), col("c_nationkey") === col("n_nationkey"),
        "left_semi")
      .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(sum(when(col("sup_nation") === "NATION_3", revCc).otherwise(0L))
          .as("nation_cc"),
        sum(revCc).as("total_cc"))
      .select(col("o_year"), col("nation_cc"), col("total_cc"),
        expr("CAST(CAST(nation_cc AS DECIMAL(38,0)) * 1000000 div total_cc" +
          " AS BIGINT)").as("share_ppm"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q9 shape — product-type profit by supplier nation and
    * year: for 'rod' parts, profit = revenue minus a 60%-of-retail
    * cost basis (the schema carries no partsupp supplycost), in exact
    * integer micro-units on both engines. LIKE filter pushes into the
    * part scan; part/supplier dims broadcast onto the lineitem scan;
    * orders joins on orderkey for the year. */
  def qTpchQ9(s: SparkSession, dir: String): DataFrame = {
    val profit = revCc * lit(100L) -
      lit(60L) * col("rc") * col("qc")
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"),
        cents(col("l_quantity")).as("qc"))
      .join(broadcast(Tables.part(s, dir).filter(col("p_name").like("%rod%"))
        .select(col("p_partkey"), cents(col("p_retailprice")).as("rc"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), col("o_year"))
      .agg(sum(profit).as("profit_u"), count(lit(1)).as("n_lines"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q10 shape — returned-item reporting: revenue lost to
    * returns per customer in one quarter, top 20. Quarter filter
    * pushes into the orders scan, the return flag into lineitem; one
    * customer-grouped aggregate; top-20 via TakeOrdered. */
  def qTpchQ10(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(revCc).as("lost_cc"), count(lit(1)).as("n_returned"))
      .orderBy(col("lost_cc").desc, col("c_custkey")).limit(20)
  }

  /** TPC-H Q12 shape — late-shipment priority census per line status
    * (the schema's stand-in for ship mode): among 1997 lines shipped
    * more than 30 days after their order date, how many belonged to
    * critical (1-URGENT/2-HIGH) vs other orders. One join, one
    * conditional-count aggregate — the classic two-bucket pivot. */
  def qTpchQ12(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey") &&
          datediff(col("l_shipdate"), col("o_orderdate")) > 30)
      .groupBy(col("l_linestatus"))
      .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** TPC-H Q14 shape — promotion revenue share: the fraction of one
    * month's revenue carried by PROMO-type parts, in exact ppm. Part
    * dim broadcast; single conditional-sum aggregate over the
    * month-pruned lineitem scan. */
  def qTpchQ14(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      .join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(sum(when(col("p_type") === "PROMO", revCc).otherwise(0L))
          .as("promo_cc"),
        sum(revCc).as("total_cc"))
      .select(col("promo_cc"), col("total_cc"),
        expr("CAST(CAST(promo_cc AS DECIMAL(38,0)) * 1000000 div total_cc" +
          " AS BIGINT)").as("promo_ppm"))
      .orderBy(col("promo_cc"))
  }

  /** TPC-H Q15 shape — top supplier(s): the supplier(s) whose
    * quarterly revenue equals the maximum over all suppliers. The
    * reference pattern is a view + `total = (SELECT max(total) FROM
    * view)`; decorrelated here to the per-supplier aggregate joined
    * to its own 1-row max on the VALUE (broadcast hash equi-join —
    * never a per-supplier rescan). */
  def qTpchQ15(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revCc).as("total_cc"))
    rev.join(broadcast(rev.agg(max(col("total_cc")).as("max_cc"))),
        col("total_cc") === col("max_cc"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_cc"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q16 shape — supplier-relationship census: distinct
    * suppliers offering each (brand, size) combination outside the
    * PROMO type, excluding flagged suppliers (negative account
    * balance standing in for the complaints filter) via NOT IN —
    * planned as a broadcast anti join, then a count-distinct
    * aggregate. */
  def qTpchQ16(s: SparkSession, dir: String): DataFrame = {
    val flagged = Tables.supplier(s, dir).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("bad_suppkey"))
    Tables.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(Tables.part(s, dir)
        .filter(col("p_type") =!= "PROMO" && col("p_size") <= 25)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(flagged), col("l_suppkey") === col("bad_suppkey"),
        "left_anti")
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** TPC-H Q19 shape — disjunctive bracket predicate join: three
    * (brand, size, quantity-band) OR-brackets evaluated as a residual
    * condition on the partkey equi-join, the shape that tests DNF
    * handling — the join stays a single hash join on partkey with the
    * brackets as a post-probe filter, never a union of three scans or
    * a cartesian fallback. Quantity compared in exact centi-units. */
  def qTpchQ19(s: SparkSession, dir: String): DataFrame = {
    val qc = cents(col("l_quantity"))
    val bracket =
      (col("p_brand") === "Brand#13" && col("p_size") <= 5 &&
        qc >= 100L && qc <= 1100L) ||
      (col("p_brand") === "Brand#19" && col("p_size") <= 10 &&
        qc >= 1000L && qc <= 2000L) ||
      (col("p_brand") === "Brand#23" && col("p_size") <= 15 &&
        qc >= 2000L && qc <= 3000L)
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"))
      .join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey") && bracket)
      .agg(sum(revCc).as("revenue_cc"), count(lit(1)).as("n_lines"))
      .orderBy(col("n_lines"))
  }

  /** TPC-H Q20 shape — excess-share suppliers: suppliers who shipped
    * MORE THAN HALF of some 'rod' part's total quantity. The
    * reference nests IN (parts) inside IN (partsupp with a correlated
    * quantity threshold); decorrelated to one (part, supplier)
    * aggregate + one per-part total joined back on partkey with the
    * cross-multiplied 2·sup > total compare, then a LEFT SEMI into
    * supplier — two keyed aggregates and two joins, no per-supplier
    * rescan. */
  def qTpchQ20(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        cents(col("l_quantity")).as("qc"))
      .join(broadcast(Tables.part(s, dir).filter(col("p_name").like("%rod%"))
        .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
    val perSup = li.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("qc")).as("sup_qc"))
    val perPart = li.groupBy(col("l_partkey").as("pp"))
      .agg(sum(col("qc")).as("part_qc"))
    val excess = perSup.join(perPart, col("l_partkey") === col("pp"))
      .filter(col("sup_qc") * 2 > col("part_qc"))
      .select(col("l_suppkey")).distinct()
    Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))
      .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q22 shape — global-scalar + anti-join: customers with an
    * above-average positive balance who never ordered, grouped into
    * key-derived buckets (the schema's stand-in for phone country
    * codes). The global average enters as a cross-multiplied integer
    * compare against a 1-row (sum, count) broadcast — no division,
    * engine-exact — and NOT EXISTS(orders) is a LEFT ANTI join. */
  def qTpchQ22(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), cents(col("c_acctbal")).as("bal_c"))
    val posStats = cust.filter(col("bal_c") > 0)
      .agg(sum(col("bal_c")).as("pos_sum"), count(lit(1)).as("pos_n"))
    cust.filter(col("bal_c") > 0)
      .crossJoin(broadcast(posStats))
      .filter(col("bal_c") * col("pos_n") > col("pos_sum"))
      .join(Tables.orders(s, dir).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy((col("c_custkey") % 7).as("cntry_bucket"))
      .agg(count(lit(1)).as("numcust"), sum(col("bal_c")).as("totacctbal_c"))
      .orderBy(col("cntry_bucket"))
  }

  /** A catalog query's Spark plan and its oracle. */
  final case class Entry(plan: (SparkSession, String) => DataFrame, oracle: String)

  /** Shared oracle CTEs for the shingle/minhash pipeline (DuckDB). */
  private val shingleCte =
    """w AS (SELECT doc_id, string_split(text,' ') w FROM documents),
      |sh AS (SELECT doc_id,
      |  CASE WHEN len(w) >= 3 THEN
      |    list_distinct(list_transform(generate_series(1, len(w)-2),
      |                  i -> w[i]||' '||w[i+1]||' '||w[i+2]))
      |  ELSE [] END AS sh FROM w)""".stripMargin

  private val minhashCte = {
    val r = Dedup.LshRows
    val mins = (0 until Dedup.MinhashK)
      .map(i => s"list_min(list_transform(hs, h -> (${Dedup.MinhashA(i)} * h + ${Dedup.MinhashB(i)}) % ${Dedup.MinhashP})) m$i")
      .mkString(",\n  ")
    val bandKeys = (0 until Dedup.LshBands)
      .map { b =>
        val cat = (b * r until (b + 1) * r).map(i => s"CAST(m$i AS VARCHAR)").mkString("||")
        s"WHEN $b THEN md5($cat)"
      }
      .mkString(" ")
    val bandIdxs = (0 until Dedup.LshBands).mkString(",")
    s"""$shingleCte,
       |hsh AS (SELECT doc_id,
       |  list_transform(sh, t -> ('0x'||substr(md5(t),1,8))::BIGINT) hs FROM sh),
       |sig AS (SELECT doc_id,
       |  $mins FROM hsh),
       |bands AS (SELECT doc_id, band_idx,
       |  CASE band_idx $bandKeys END band_key
       |  FROM sig, (SELECT unnest([$bandIdxs]) band_idx)),
       |cand AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
       |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx
       |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** Oracle CTE chain for iterative k-means, unrolled per iteration.
    * Mirrors [[operators.KMeans.assign]] construct-for-construct: the
    * same quantization, the same lowest-id seeds, the same exact
    * rational-centroid distance Σ(n·x−s)²/n² (integer numerator —
    * order-independent — one exact-operand division), the same
    * (dist2, cluster) argmin tie-break, the same keep-previous rule
    * for empty clusters. Ends with CTE `a$iters` = (vec_id, cluster,
    * dist2). */
  private def kmeansCte(k: Int, iters: Int): String = {
    val dist = "CAST(list_sum(list_transform(generate_series(1, len(qv)), " +
      "ii -> (n*qv[ii] - sums[ii])*(n*qv[ii] - sums[ii]))) AS DOUBLE) / CAST(n*n AS DOUBLE)"
    val head =
      s"""qk AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) qv
         |  FROM (SELECT DISTINCT vec_id, embedding, label FROM embeddings)),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) cl,
         |  qv sums, CAST(1 AS BIGINT) n
         |  FROM (SELECT vec_id, qv FROM qk ORDER BY vec_id LIMIT $k))""".stripMargin
    val rounds = (1 to iters).map { it =>
      val prev = s"c${it - 1}"
      val assignCtes =
        s"""s$it AS (SELECT vec_id, cl, $dist dist2 FROM qk, $prev),
           |a$it AS (SELECT vec_id, cl, dist2 FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cl) rn FROM s$it)
           |  WHERE rn = 1)""".stripMargin
      val updateCtes = if (it == iters) "" else
        s""",
           |u$it AS (SELECT cl, ii, CAST(SUM(qv[ii]) AS BIGINT) sx
           |  FROM a$it JOIN qk USING (vec_id), (SELECT unnest(generate_series(1, 64)) ii) g
           |  GROUP BY cl, ii),
           |us$it AS (SELECT cl, list(sx ORDER BY ii) sums FROM u$it GROUP BY cl),
           |un$it AS (SELECT cl, COUNT(*) n FROM a$it GROUP BY cl),
           |c$it AS (SELECT $prev.cl,
           |  COALESCE(us$it.sums, $prev.sums) sums, COALESCE(un$it.n, $prev.n) n
           |  FROM $prev LEFT JOIN us$it USING (cl) LEFT JOIN un$it USING (cl))""".stripMargin
      assignCtes + updateCtes
    }.mkString(",\n")
    head + ",\n" + rounds
  }

  /** Every catalog query, declared once: the name, the Spark plan, and
    * the DuckDB SQL over the same parquet tables that must return the
    * same rows. */
  val catalog: Map[String, Entry] = Map(
    // TPC-H decorrelation shapes: the oracle states each query in its
    // CORRELATED form (scalar subquery / EXISTS / IN / NOT EXISTS) so
    // the compare proves the declarative decorrelated Spark plan
    // computes the correlated semantics exactly.
    "q_tpch_q2" -> Entry(qTpchQ2 _,
      """WITH es AS (SELECT s_suppkey, s_name FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
        |off AS (SELECT l_partkey, l_suppkey, s_name,
        |    CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) pc
        |  FROM lineitem JOIN es ON l_suppkey = s_suppkey
        |  JOIN part ON l_partkey = p_partkey WHERE p_size <= 15)
        |SELECT DISTINCT o.l_partkey p_partkey, o.l_suppkey s_suppkey,
        |  o.s_name, o.pc min_price_cents
        |FROM off o
        |WHERE o.pc = (SELECT min(o2.pc) FROM off o2
        |  WHERE o2.l_partkey = o.l_partkey)
        |ORDER BY p_partkey, s_suppkey""".stripMargin),

    "q_tpch_q4" -> Entry(qTpchQ4 _,
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |    AND date_diff('day', CAST(o_orderdate AS DATE),
        |        CAST(l_shipdate AS DATE)) > 30)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    "q_tpch_q13" -> Entry(qTpchQ13 _,
      """WITH co AS (SELECT c_custkey,
        |    CAST(count(o_orderkey) AS BIGINT) c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, CAST(count(*) AS BIGINT) custdist FROM co
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),

    "q_tpch_q17" -> Entry(qTpchQ17 _,
      """WITH li AS (SELECT l_partkey,
        |    CAST(floor(CAST(l_quantity AS DOUBLE) * 100) AS BIGINT) qc,
        |    CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) pc
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#23')
        |SELECT CAST(count(*) AS BIGINT) n_lines,
        |  CAST(sum(l.pc) AS BIGINT) total_cents
        |FROM li l
        |WHERE l.qc * (SELECT count(*) FROM li l2
        |    WHERE l2.l_partkey = l.l_partkey) * 5
        |  < (SELECT sum(l3.qc) FROM li l3 WHERE l3.l_partkey = l.l_partkey)
        |ORDER BY n_lines""".stripMargin),

    "q_tpch_q18" -> Entry(qTpchQ18 _,
      """SELECT c_custkey, c_name, o_orderkey,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') order_date,
        |  CAST(floor(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)
        |    total_cents,
        |  (SELECT CAST(sum(CAST(floor(CAST(l_quantity AS DOUBLE) * 100)
        |      AS BIGINT)) AS BIGINT)
        |    FROM lineitem WHERE l_orderkey = o_orderkey) sum_qty_centi
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(floor(CAST(l_quantity AS DOUBLE) * 100)
        |    AS BIGINT)) > 30000)
        |ORDER BY total_cents DESC, o_orderkey""".stripMargin),

    "q_tpch_q21" -> Entry(qTpchQ21 _,
      """WITH late AS (SELECT DISTINCT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE date_diff('day', CAST(o_orderdate AS DATE),
        |    CAST(l_shipdate AS DATE)) > 90),
        |sole AS (SELECT * FROM late l1
        |  WHERE EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey))
        |SELECT s_name, CAST(count(*) AS BIGINT) numwait
        |FROM sole JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin),

    "q_tpch_q6" -> Entry(qTpchQ6 _,
      """WITH f AS (SELECT
        |    CAST(floor(CAST(l_extendedprice AS DOUBLE)*100) AS BIGINT) pc,
        |    CAST(floor(CAST(l_discount AS DOUBLE)*100) AS BIGINT) dpct
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |    AND l_quantity < 24)
        |SELECT CAST(sum(pc * dpct) AS BIGINT) revenue_u,
        |  CAST(count(*) AS BIGINT) n_lines
        |FROM f WHERE dpct BETWEEN 5 AND 7
        |ORDER BY n_lines""".stripMargin),

    "q_tpch_q3" -> Entry(qTpchQ3 _,
      """SELECT l_orderkey,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') order_date,
        |  o_orderpriority,
        |  CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE)*100) AS BIGINT)
        |    * (100 - CAST(floor(CAST(l_discount AS DOUBLE)*100) AS BIGINT)))
        |    AS BIGINT) revenue_cc
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_cc DESC, l_orderkey LIMIT 10""".stripMargin),

    "q_tpch_q7" -> Entry(qTpchQ7 _,
      """SELECT n1.n_name supp_nation, n2.n_name cust_nation,
        |  year(CAST(l_shipdate AS DATE)) l_year,
        |  CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE)*100) AS BIGINT)
        |    * (100 - CAST(floor(CAST(l_discount AS DOUBLE)*100) AS BIGINT)))
        |    AS BIGINT) revenue_cc,
        |  CAST(count(*) AS BIGINT) n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_1','NATION_2')
        |  AND n2.n_name IN ('NATION_1','NATION_2')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    "q_tpch_q8" -> Entry(qTpchQ8 _,
      """WITH vol AS (SELECT year(CAST(o_orderdate AS DATE)) o_year,
        |    CAST(floor(CAST(l_extendedprice AS DOUBLE)*100) AS BIGINT)
        |      * (100 - CAST(floor(CAST(l_discount AS DOUBLE)*100) AS BIGINT)) cc,
        |    sn.n_name sup_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_year,
        |  CAST(sum(CASE WHEN sup_nation = 'NATION_3' THEN cc ELSE 0 END)
        |    AS BIGINT) nation_cc,
        |  CAST(sum(cc) AS BIGINT) total_cc,
        |  CAST(sum(CASE WHEN sup_nation = 'NATION_3' THEN cc ELSE 0 END)
        |    * 1000000 // sum(cc) AS BIGINT) share_ppm
        |FROM vol GROUP BY o_year ORDER BY o_year""".stripMargin),

    "q_tpch_q9" -> Entry(qTpchQ9 _,
      """SELECT n_name nation, year(CAST(o_orderdate AS DATE)) o_year,
        |  CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE)*100) AS BIGINT)
        |      * (100 - CAST(floor(CAST(l_discount AS DOUBLE)*100) AS BIGINT))
        |      * 100
        |    - 60 * CAST(floor(CAST(p_retailprice AS DOUBLE)*100) AS BIGINT)
        |      * CAST(floor(CAST(l_quantity AS DOUBLE)*100) AS BIGINT))
        |    AS BIGINT) profit_u,
        |  CAST(count(*) AS BIGINT) n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%rod%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin),

    "q_tpch_q10" -> Entry(qTpchQ10 _,
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE)*100) AS BIGINT)
        |    * (100 - CAST(floor(CAST(l_discount AS DOUBLE)*100) AS BIGINT)))
        |    AS BIGINT) lost_cc,
        |  CAST(count(*) AS BIGINT) n_returned
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o_orderdate < TIMESTAMP '1997-10-01'
        |GROUP BY 1, 2, 3 ORDER BY lost_cc DESC, c_custkey LIMIT 20""".stripMargin),

    "q_tpch_q12" -> Entry(qTpchQ12 _,
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND date_diff('day', CAST(o_orderdate AS DATE),
        |    CAST(l_shipdate AS DATE)) > 30
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),

    "q_tpch_q14" -> Entry(qTpchQ14 _,
      """SELECT
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN
        |    CAST(floor(CAST(l_extendedprice AS DOUBLE)*100) AS BIGINT)
        |    * (100 - CAST(floor(CAST(l_discount AS DOUBLE)*100) AS BIGINT))
        |    ELSE 0 END) AS BIGINT) promo_cc,
        |  CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE)*100) AS BIGINT)
        |    * (100 - CAST(floor(CAST(l_discount AS DOUBLE)*100) AS BIGINT)))
        |    AS BIGINT) total_cc,
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN
        |    CAST(floor(CAST(l_extendedprice AS DOUBLE)*100) AS BIGINT)
        |    * (100 - CAST(floor(CAST(l_discount AS DOUBLE)*100) AS BIGINT))
        |    ELSE 0 END) * 1000000
        |    // sum(CAST(floor(CAST(l_extendedprice AS DOUBLE)*100) AS BIGINT)
        |    * (100 - CAST(floor(CAST(l_discount AS DOUBLE)*100) AS BIGINT)))
        |    AS BIGINT) promo_ppm
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |  AND l_shipdate < TIMESTAMP '1997-10-01'
        |ORDER BY promo_cc""".stripMargin),

    "q_tpch_q15" -> Entry(qTpchQ15 _,
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE)*100) AS BIGINT)
        |      * (100 - CAST(floor(CAST(l_discount AS DOUBLE)*100) AS BIGINT)))
        |      AS BIGINT) total_cc
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_cc
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_cc = (SELECT max(total_cc) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),

    "q_tpch_q16" -> Entry(qTpchQ16 _,
      """SELECT p_brand, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_type <> 'PROMO' AND p_size <= 25
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin),

    "q_tpch_q19" -> Entry(qTpchQ19 _,
      """SELECT
        |  CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE)*100) AS BIGINT)
        |    * (100 - CAST(floor(CAST(l_discount AS DOUBLE)*100) AS BIGINT)))
        |    AS BIGINT) revenue_cc,
        |  CAST(count(*) AS BIGINT) n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE
        |  (p_brand = 'Brand#13' AND p_size <= 5
        |    AND CAST(floor(CAST(l_quantity AS DOUBLE)*100) AS BIGINT)
        |      BETWEEN 100 AND 1100)
        |  OR (p_brand = 'Brand#19' AND p_size <= 10
        |    AND CAST(floor(CAST(l_quantity AS DOUBLE)*100) AS BIGINT)
        |      BETWEEN 1000 AND 2000)
        |  OR (p_brand = 'Brand#23' AND p_size <= 15
        |    AND CAST(floor(CAST(l_quantity AS DOUBLE)*100) AS BIGINT)
        |      BETWEEN 2000 AND 3000)
        |ORDER BY n_lines""".stripMargin),

    "q_tpch_q20" -> Entry(qTpchQ20 _,
      """WITH rl AS (SELECT l_partkey, l_suppkey,
        |    CAST(floor(CAST(l_quantity AS DOUBLE)*100) AS BIGINT) qc
        |  FROM lineitem WHERE l_partkey IN
        |    (SELECT p_partkey FROM part WHERE p_name LIKE '%rod%'))
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT r1.l_suppkey FROM rl r1
        |  GROUP BY r1.l_partkey, r1.l_suppkey
        |  HAVING sum(r1.qc) * 2 > (SELECT sum(r2.qc) FROM rl r2
        |    WHERE r2.l_partkey = r1.l_partkey))
        |ORDER BY s_suppkey""".stripMargin),

    "q_tpch_q22" -> Entry(qTpchQ22 _,
      """WITH c AS (SELECT c_custkey,
        |    CAST(floor(CAST(c_acctbal AS DOUBLE)*100) AS BIGINT) bal_c
        |  FROM customer)
        |SELECT c_custkey % 7 cntry_bucket,
        |  CAST(count(*) AS BIGINT) numcust,
        |  CAST(sum(bal_c) AS BIGINT) totacctbal_c
        |FROM c
        |WHERE bal_c > 0
        |  AND bal_c * (SELECT count(*) FROM c c2 WHERE c2.bal_c > 0)
        |    > (SELECT sum(c3.bal_c) FROM c c3 WHERE c3.bal_c > 0)
        |  AND NOT EXISTS
        |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY cntry_bucket""".stripMargin),

    "q_score_auc" -> Entry(qScoreAuc _,
      """WITH ps AS (SELECT source, n_chars,
        |  sum(CASE WHEN lang='en' THEN 1 ELSE 0 END) cp,
        |  sum(CASE WHEN lang='en' THEN 0 ELSE 1 END) cn
        |  FROM documents GROUP BY source, n_chars),
        |sw AS (SELECT source, cp, cn,
        |  COALESCE(sum(cn) OVER (PARTITION BY source ORDER BY n_chars
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) cnb
        |  FROM ps),
        |ag AS (SELECT source, sum(cp) n_pos, sum(cn) n_neg,
        |  sum(CAST(cp AS HUGEINT) * (2*cnb + cn)) u2s
        |  FROM sw GROUP BY source
        |  HAVING sum(cp) > 0 AND sum(cn) > 0)
        |SELECT source, CAST(n_pos AS BIGINT) n_pos,
        |  CAST(n_neg AS BIGINT) n_neg,
        |  CAST(u2s * 500000 // (CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) auc_ppm
        |FROM ag ORDER BY source""".stripMargin),

    "q_ks_drift" -> Entry(qKsDrift _,
      s"""WITH pv AS (SELECT event_type, value,
         |  sum(CASE WHEN epoch_ns(ts) < ${KsCutoffNs} THEN 1 ELSE 0 END) ca,
         |  sum(CASE WHEN epoch_ns(ts) < ${KsCutoffNs} THEN 0 ELSE 1 END) cb
         |  FROM events WHERE value IS NOT NULL GROUP BY event_type, value),
         |sw AS (SELECT event_type,
         |  sum(ca) OVER (PARTITION BY event_type ORDER BY value
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum_a,
         |  sum(cb) OVER (PARTITION BY event_type ORDER BY value
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum_b,
         |  sum(ca) OVER (PARTITION BY event_type) na,
         |  sum(cb) OVER (PARTITION BY event_type) nb
         |  FROM pv),
         |ag AS (SELECT event_type, max(na) n_a, max(nb) n_b,
         |  max(abs(CAST(cum_a AS HUGEINT)*nb - CAST(cum_b AS HUGEINT)*na)) d_num
         |  FROM sw GROUP BY event_type
         |  HAVING max(na) > 0 AND max(nb) > 0)
         |SELECT event_type, CAST(n_a AS BIGINT) n_a, CAST(n_b AS BIGINT) n_b,
         |  CAST(d_num * 1000000 // (CAST(n_a AS HUGEINT)*n_b) AS BIGINT) d_ppm
         |FROM ag ORDER BY event_type""".stripMargin),

    "q_cohen_kappa" -> Entry(qCohenKappa _,
      """WITH l AS (SELECT source,
        |  CASE WHEN n_chars < 216 THEN 0 WHEN n_chars < 379 THEN 1 ELSE 2 END len_label,
        |  CASE WHEN len(string_split(text,' ')) < 39 THEN 0
        |       WHEN len(string_split(text,' ')) < 69 THEN 1 ELSE 2 END wc_label
        |  FROM documents),
        |m AS (SELECT source, len_label, wc_label, count(*) nab FROM l GROUP BY 1,2,3),
        |r AS (SELECT source, len_label lab, sum(nab) rn FROM m GROUP BY 1,2),
        |c AS (SELECT source, wc_label lab, sum(nab) cn FROM m GROUP BY 1,2),
        |ch AS (SELECT r.source, sum(CAST(rn AS HUGEINT)*cn) chance_num
        |  FROM r JOIN c ON r.source = c.source AND r.lab = c.lab
        |  GROUP BY r.source),
        |ag AS (SELECT source, sum(nab) n,
        |  sum(CASE WHEN len_label = wc_label THEN nab ELSE 0 END) agree_n
        |  FROM m GROUP BY source)
        |SELECT ag.source, CAST(n AS BIGINT) n, CAST(agree_n AS BIGINT) agree_n,
        |  CAST(chance_num AS BIGINT) chance_num,
        |  CAST((CAST(n AS HUGEINT)*agree_n - chance_num) * 1000000
        |    // (CAST(n AS HUGEINT)*n - chance_num) AS BIGINT) kappa_ppm
        |FROM ag JOIN ch ON ag.source = ch.source
        |ORDER BY ag.source""".stripMargin),

    "q_prf_eval" -> Entry(qPrfEval _,
      """WITH p AS (SELECT source, (lang = 'en') y, (n_chars >= 306) yh
        |  FROM documents),
        |ag AS (SELECT source,
        |  sum(CASE WHEN y AND yh THEN 1 ELSE 0 END) tp,
        |  sum(CASE WHEN NOT y AND yh THEN 1 ELSE 0 END) fp,
        |  sum(CASE WHEN y AND NOT yh THEN 1 ELSE 0 END) fn,
        |  sum(CASE WHEN NOT y AND NOT yh THEN 1 ELSE 0 END) tn
        |  FROM p GROUP BY source)
        |SELECT source, CAST(tp AS BIGINT) tp, CAST(fp AS BIGINT) fp,
        |  CAST(fn AS BIGINT) fn, CAST(tn AS BIGINT) tn,
        |  CASE WHEN tp + fp > 0
        |    THEN CAST(tp * 1000000 // (tp + fp) AS BIGINT) END precision_ppm,
        |  CASE WHEN tp + fn > 0
        |    THEN CAST(tp * 1000000 // (tp + fn) AS BIGINT) END recall_ppm,
        |  CASE WHEN 2*tp + fp + fn > 0 THEN
        |    CAST(2 * tp * 1000000 // (2*tp + fp + fn) AS BIGINT) END f1_ppm,
        |  CAST((tp + tn) * 1000000 // (tp + fp + fn + tn) AS BIGINT) accuracy_ppm
        |FROM ag ORDER BY source""".stripMargin),

    // tie-robust doubled-average ranks (2·rank + |peers| − 1), the
    // engine's Eval.spearmanRho convention — row_number ranks are
    // nondeterministic on fully-duplicated rows (r17 dup sweep)
    "q_spearman_rho" -> Entry(qSpearmanRho _,
      """WITH d AS (SELECT source, n_chars,
        |  len(string_split(text,' ')) wc, doc_id FROM documents),
        |r AS (SELECT source,
        |  2*rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
        |    + count(*) OVER (PARTITION BY source, n_chars, doc_id) - 1 rx2,
        |  2*rank() OVER (PARTITION BY source ORDER BY wc, doc_id)
        |    + count(*) OVER (PARTITION BY source, wc, doc_id) - 1 ry2
        |  FROM d),
        |ag AS (SELECT source, count(*) n,
        |  sum(CAST(rx2 - ry2 AS HUGEINT) * (rx2 - ry2)) sd4 FROM r GROUP BY source)
        |SELECT source, CAST(n AS BIGINT) n, CAST(sd4 AS BIGINT) sum_d2x4,
        |  1000000 - CAST(sd4 * 6000000
        |    // ((CAST(n AS HUGEINT) * n * n - n) * 4) AS BIGINT) rho_ppm
        |FROM ag WHERE n > 1 ORDER BY source""".stripMargin),

    "q_score_calibration" -> Entry(qScoreCalibration _,
      """WITH b AS (SELECT source, n_chars, (lang = 'en') y,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) rn,
        |  count(*) OVER (PARTITION BY source) nd
        |  FROM documents),
        |g AS (SELECT source, (rn - 1) * 10 // nd bucket, count(*) n,
        |  sum(CASE WHEN y THEN 1 ELSE 0 END) n_pos,
        |  min(n_chars) score_lo, max(n_chars) score_hi
        |  FROM b GROUP BY 1, 2)
        |SELECT source, CAST(bucket AS BIGINT) bucket, CAST(n AS BIGINT) n,
        |  CAST(n_pos AS BIGINT) n_pos,
        |  CAST(n_pos * 1000000 // n AS BIGINT) pos_rate_ppm,
        |  CAST(score_lo AS BIGINT) score_lo, CAST(score_hi AS BIGINT) score_hi
        |FROM g ORDER BY source, bucket""".stripMargin),

    "q_corr_matrix" -> Entry(qCorrMatrix _, {
      val names = Seq("d0", "d1", "d2", "d3")
      val pairs = for { i <- names.indices; j <- names.indices if i < j }
        yield (names(i), names(j))
      val sd2Cols = pairs.map { case (x, y) =>
        s"sum(CAST(r_$x - r_$y AS HUGEINT) * (r_$x - r_$y)) sd2_${x}_$y"
      }.mkString(",\n  ")
      // doubled-average ranks, the engine's tie-robust convention
      val rankCols = names.map(c =>
        s"2*rank() OVER (PARTITION BY flag ORDER BY $c, vec_id) " +
          s"+ count(*) OVER (PARTITION BY flag, $c, vec_id) - 1 r_$c"
      ).mkString(",\n  ")
      val dimCols = names.zipWithIndex.map { case (a, i) =>
        s"CAST(floor(CAST(embedding[${i + 1}] AS DOUBLE) * 1000) AS BIGINT) $a"
      }.mkString(",\n  ")
      val pairUnion = pairs.map { case (x, y) =>
        s"SELECT flag, '$x' col_x, '$y' col_y, n, sd2_${x}_$y sd2 FROM m"
      }.mkString("\nUNION ALL\n")
      s"""WITH b AS (SELECT CAST(label AS BIGINT) flag, vec_id,
         |  $dimCols
         |  FROM embeddings),
         |r AS (SELECT flag,
         |  $rankCols
         |  FROM b),
         |m AS (SELECT flag, count(*) n,
         |  $sd2Cols
         |  FROM r GROUP BY flag),
         |p AS ($pairUnion)
         |SELECT flag, col_x, col_y,
         |  1000000 - CAST(sd2 * 6000000
         |    // ((CAST(n AS HUGEINT) * n * n - n) * 4) AS BIGINT) rho_ppm
         |FROM p WHERE n > 1 ORDER BY flag, col_x, col_y""".stripMargin
    }),

    "q_join_size_profile" -> Entry(qJoinSizeProfile _, {
      def one(name: String, a: String, ka: String, b: String, kb: String) =
        s"""SELECT '$name' join_name,
           |  CAST(count(*) AS BIGINT) matching_keys,
           |  CAST(sum(CAST(da AS HUGEINT) * db) AS BIGINT) join_rows,
           |  CAST(max(CAST(da AS HUGEINT) * db) AS BIGINT) max_key_rows
           |FROM (SELECT $ka k, count(*) da FROM $a GROUP BY 1) s_a
           |JOIN (SELECT $kb k, count(*) db FROM $b GROUP BY 1) s_b USING (k)""".stripMargin
      s"""${one("customer_orders", "customer", "c_custkey", "orders", "o_custkey")}
         |UNION ALL
         |${one("orders_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey")}
         |UNION ALL
         |${one("part_lineitem", "part", "p_partkey", "lineitem", "l_partkey")}
         |ORDER BY join_name""".stripMargin
    }),

    "q_group_split" -> Entry(qGroupSplit _,
      """WITH ev AS (SELECT user_id, event_id,
        |  ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8))::BIGINT % 10 b
        |  FROM events),
        |sp AS (SELECT user_id, event_id,
        |  CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val'
        |       ELSE 'test' END split FROM ev),
        |per AS (SELECT split, count(DISTINCT user_id) n_users,
        |  count(*) n_events FROM sp GROUP BY split),
        |lk AS (SELECT count(*) leaked_users FROM
        |  (SELECT user_id FROM (SELECT DISTINCT user_id, split FROM sp)
        |   GROUP BY user_id HAVING count(*) > 1))
        |SELECT split, CAST(n_users AS BIGINT) n_users,
        |  CAST(n_events AS BIGINT) n_events,
        |  CAST(leaked_users AS BIGINT) leaked_users
        |FROM per, lk ORDER BY split""".stripMargin),

    "q_forecast_eval" -> Entry(qForecastEval _,
      """WITH h AS (SELECT event_type,
        |  epoch_ns(ts) // 3600000000000 hidx, count(*) n_obs
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(hidx) mn, max(hidx) mx
        |  FROM h GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(mn, mx + 1)) hidx FROM sp),
        |d AS (SELECT g.event_type, g.hidx, COALESCE(n_obs, 0) n
        |  FROM grid g LEFT JOIN h
        |    ON g.event_type = h.event_type AND g.hidx = h.hidx),
        |sc AS (SELECT event_type, n,
        |  lag(n, 1) OVER (PARTITION BY event_type ORDER BY hidx) naive,
        |  lag(n, 24) OVER (PARTITION BY event_type ORDER BY hidx) seasonal
        |  FROM d),
        |ag AS (SELECT event_type, count(*) n_points,
        |  sum(abs(n - seasonal)) seasonal_ae, sum(abs(n - naive)) naive_ae
        |  FROM sc WHERE naive IS NOT NULL AND seasonal IS NOT NULL
        |  GROUP BY event_type)
        |SELECT event_type, CAST(n_points AS BIGINT) n_points,
        |  CAST(seasonal_ae AS BIGINT) seasonal_ae,
        |  CAST(naive_ae AS BIGINT) naive_ae,
        |  CAST(CAST(seasonal_ae AS HUGEINT) * 1000000 // naive_ae AS BIGINT) mase_ppm
        |FROM ag WHERE naive_ae > 0 ORDER BY event_type""".stripMargin),

    "q_grid_join" -> Entry(qGridJoin _,
      """WITH p AS (SELECT vec_id,
        |  CAST(floor((CAST(embedding[1] AS DOUBLE)+1.0)*1048576) AS BIGINT) xi,
        |  CAST(floor((CAST(embedding[2] AS DOUBLE)+1.0)*1048576) AS BIGINT) yi
        |  FROM embeddings),
        |nn AS (SELECT count(*) n FROM p)
        |SELECT a.vec_id id_a, b.vec_id id_b,
        |  (a.xi-b.xi)*(a.xi-b.xi)+(a.yi-b.yi)*(a.yi-b.yi) d2
        |FROM p a, p b, nn WHERE a.vec_id < b.vec_id
        |  AND (a.xi-b.xi)*(a.xi-b.xi)+(a.yi-b.yi)*(a.yi-b.yi)
        |      <= CAST(1000000 AS BIGINT)*1000000//nn.n
        |ORDER BY id_a, id_b""".stripMargin),

    // MATERIALIZED hints are load-bearing at scale: pr (the O(n²)
    // brute-force pair scan — deliberately naive, it IS the referee)
    // is referenced 3×, sym/core 2×, and DuckDB inlines
    // multiply-referenced CTEs by default, re-running the quadratic
    // scan per reference (the q_kcore exponential-inline class).
    // Semantics identical.
    "q_dbscan" -> Entry(qDbscan _,
      """WITH RECURSIVE p AS MATERIALIZED (SELECT vec_id,
        |  CAST(floor((CAST(embedding[1] AS DOUBLE)+1.0)*1048576) AS BIGINT) xi,
        |  CAST(floor((CAST(embedding[2] AS DOUBLE)+1.0)*1048576) AS BIGINT) yi
        |  FROM embeddings),
        |nn AS (SELECT count(*) n FROM p),
        |pr AS MATERIALIZED (SELECT a.vec_id ia, b.vec_id ib
        |  FROM p a, p b, nn WHERE a.vec_id < b.vec_id
        |    AND (a.xi-b.xi)*(a.xi-b.xi)+(a.yi-b.yi)*(a.yi-b.yi)
        |        <= CAST(1000000 AS BIGINT)*1000000//nn.n),
        |sym AS MATERIALIZED (SELECT ia u, ib v FROM pr UNION ALL SELECT ib, ia FROM pr),
        |deg AS (SELECT u, count(*) deg FROM sym GROUP BY u),
        |core AS MATERIALIZED (SELECT u cid FROM deg WHERE deg >= 12),
        |ce AS (SELECT ia a, ib b FROM pr
        |  WHERE ia IN (SELECT cid FROM core) AND ib IN (SELECT cid FROM core)),
        |edges AS MATERIALIZED (SELECT a u, b v FROM ce UNION SELECT b, a FROM ce),
        |reach AS (SELECT cid AS src, cid AS node FROM core
        |  UNION SELECT r.src, e.v FROM reach r JOIN edges e ON r.node = e.u),
        |lab AS MATERIALIZED (SELECT src pid, MIN(node) cluster_rep FROM reach GROUP BY src),
        |border AS (SELECT s.u pid, MIN(l.cluster_rep) cluster_rep
        |  FROM sym s JOIN core c ON s.v = c.cid JOIN lab l ON l.pid = s.v
        |  WHERE s.u NOT IN (SELECT cid FROM core) GROUP BY s.u),
        |allp AS (SELECT pid, 'core' AS role, cluster_rep FROM lab
        |  UNION ALL SELECT pid, 'border' AS role, cluster_rep FROM border)
        |SELECT cluster_rep,
        |  CAST(sum(CASE WHEN role='core' THEN 1 ELSE 0 END) AS BIGINT) n_core,
        |  CAST(sum(CASE WHEN role='border' THEN 1 ELSE 0 END) AS BIGINT) n_border,
        |  CAST(count(*) AS BIGINT) n_points
        |FROM allp GROUP BY cluster_rep ORDER BY cluster_rep""".stripMargin),

    "q_phrase_search" -> Entry(qPhraseSearch _,
      """WITH tok AS (SELECT doc_id,
        |  unnest(string_split(text,' ')) w,
        |  unnest(range(1, len(string_split(text,' '))+1)) pos
        |  FROM documents),
        |bg AS (SELECT doc_id, w w1,
        |  lead(w) OVER (PARTITION BY doc_id ORDER BY pos) w2 FROM tok),
        |top1 AS (SELECT w1, w2, count(*) cnt FROM bg WHERE w2 IS NOT NULL
        |  GROUP BY w1, w2 ORDER BY cnt DESC, w1, w2 LIMIT 1),
        |t1 AS (SELECT t.doc_id, t.pos FROM tok t JOIN top1 ON t.w = top1.w1),
        |t2 AS (SELECT t.doc_id, t.pos FROM tok t JOIN top1 ON t.w = top1.w2),
        |occ AS (SELECT t1.doc_id, count(*) n_occ FROM t1
        |  JOIN t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
        |  GROUP BY t1.doc_id)
        |SELECT top1.w1, top1.w2, occ.doc_id, CAST(n_occ AS BIGINT) n_occ
        |FROM occ, top1 ORDER BY doc_id""".stripMargin),

    "q_rake_keywords" -> Entry(qRakeKeywords _,
      """WITH tok AS (SELECT doc_id,
        |  unnest(string_split(text,' ')) w,
        |  unnest(range(1, len(string_split(text,' '))+1)) pos
        |  FROM documents),
        |stops AS (SELECT w FROM (SELECT w, count(*) c FROM tok GROUP BY w
        |  ORDER BY c DESC, w LIMIT 10)),
        |ns AS (SELECT doc_id, w, pos,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) grp
        |  FROM tok WHERE w NOT IN (SELECT w FROM stops)),
        |ph AS (SELECT doc_id, grp, count(*) plen,
        |  string_agg(w, ' ' ORDER BY pos) phrase
        |  FROM ns GROUP BY doc_id, grp),
        |member AS (SELECT ns.doc_id, ns.grp, ns.w, ph.plen
        |  FROM ns JOIN ph USING (doc_id, grp)),
        |ws AS (SELECT w, count(*) freq, sum(plen) degree FROM member
        |  GROUP BY w),
        |wscore AS (SELECT w,
        |  CAST(CAST(degree AS HUGEINT) * 1000000 // freq AS BIGINT) score
        |  FROM ws),
        |pscore AS (SELECT m.doc_id, m.grp, CAST(sum(s.score) AS BIGINT)
        |    score_ppm
        |  FROM member m JOIN wscore s USING (w) GROUP BY m.doc_id, m.grp),
        |agg AS (SELECT ph.phrase, CAST(min(ph.plen) AS BIGINT) n_words,
        |  CAST(count(*) AS BIGINT) n_occ,
        |  CAST(min(p.score_ppm) AS BIGINT) score_ppm
        |  FROM ph JOIN pscore p USING (doc_id, grp) GROUP BY ph.phrase)
        |SELECT phrase, n_words, n_occ, score_ppm FROM agg
        |ORDER BY score_ppm DESC, phrase LIMIT 20""".stripMargin),

    "q_seq_patterns" -> Entry(qSeqPatterns _,
      """WITH e AS (SELECT user_id, event_type t1,
        |  lead(event_type,1) OVER w l1, lead(event_type,2) OVER w l2,
        |  lead(event_type,3) OVER w l3, lead(event_type,4) OVER w l4
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |st AS (
        |  SELECT user_id, t1, l1 t2, l2 t3 FROM e
        |  UNION ALL SELECT user_id, t1, l1, l3 FROM e
        |  UNION ALL SELECT user_id, t1, l1, l4 FROM e
        |  UNION ALL SELECT user_id, t1, l2, l3 FROM e
        |  UNION ALL SELECT user_id, t1, l2, l4 FROM e
        |  UNION ALL SELECT user_id, t1, l3, l4 FROM e)
        |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) n_occ,
        |  CAST(count(DISTINCT user_id) AS BIGINT) n_users
        |FROM st WHERE t3 IS NOT NULL GROUP BY t1, t2, t3
        |ORDER BY n_occ DESC, t1, t2, t3 LIMIT 25""".stripMargin),

    "q_autocorr" -> Entry(qAutocorr _,
      """WITH h AS (SELECT event_type,
        |  epoch_ns(ts) // 3600000000000 hidx, count(*) n_obs
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(hidx) mn, max(hidx) mx
        |  FROM h GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(mn, mx + 1)) hidx FROM sp),
        |d AS (SELECT g.event_type, g.hidx, COALESCE(n_obs, 0) x
        |  FROM grid g LEFT JOIN h
        |    ON g.event_type = h.event_type AND g.hidx = h.hidx),
        |l AS (SELECT event_type, hidx, x,
        |  lag(x,1) OVER w y1, lag(x,2) OVER w y2, lag(x,24) OVER w y24
        |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY hidx)),
        |st AS (SELECT event_type, 1 lag_h, x, y1 y FROM l WHERE y1 IS NOT NULL
        |  UNION ALL SELECT event_type, 2, x, y2 FROM l WHERE y2 IS NOT NULL
        |  UNION ALL SELECT event_type, 24, x, y24 FROM l WHERE y24 IS NOT NULL),
        |ag AS (SELECT event_type, lag_h, count(*) n_pairs, sum(x) sx,
        |  sum(y) sy, sum(x*y) sxy, sum(x*x) sxx, sum(y*y) syy
        |  FROM st GROUP BY 1, 2),
        |fin AS (SELECT event_type, CAST(lag_h AS BIGINT) lag_h,
        |  CAST(n_pairs AS BIGINT) n_pairs,
        |  CAST(n_pairs AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy num,
        |  CAST(n_pairs AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx d1,
        |  CAST(n_pairs AS HUGEINT)*syy - CAST(sy AS HUGEINT)*sy d2
        |  FROM ag)
        |SELECT event_type, lag_h, n_pairs,
        |  CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
        |    AS BIGINT) r_sign,
        |  CAST((num * 1000 // d1) * (num * 1000 // d2) AS BIGINT) r2_ppm
        |FROM fin WHERE d1 > 0 AND d2 > 0
        |ORDER BY event_type, lag_h""".stripMargin),

    "q_changepoint" -> Entry(qChangepoint _,
      """WITH h AS (SELECT event_type,
        |  epoch_ns(ts) // 3600000000000 hidx, count(*) n_obs
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(hidx) mn, max(hidx) mx
        |  FROM h GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(mn, mx + 1)) hidx FROM sp),
        |d AS (SELECT g.event_type, g.hidx, COALESCE(n_obs, 0) x
        |  FROM grid g LEFT JOIN h
        |    ON g.event_type = h.event_type AND g.hidx = h.hidx),
        |pre AS (SELECT event_type, hidx, x,
        |  CAST(row_number() OVER w AS BIGINT) t,
        |  CAST(sum(x) OVER (PARTITION BY event_type ORDER BY hidx
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) p
        |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY hidx)),
        |tot AS (SELECT event_type, max(p) tt, max(t) n FROM pre GROUP BY 1),
        |sc AS (SELECT pre.event_type, t, p, tt, n,
        |  abs(n * p - t * tt) abs_ns
        |  FROM pre JOIN tot USING (event_type) WHERE t < n),
        |best AS (SELECT event_type, max(abs_ns) m FROM sc GROUP BY 1),
        |cp AS (SELECT sc.event_type, min(t) cp_t, max(abs_ns) abs_ns,
        |  max(n) n_hours, max(tt) total
        |  FROM sc JOIN best USING (event_type) WHERE abs_ns = m
        |  GROUP BY sc.event_type)
        |SELECT cp.event_type, cp_t, n_hours, abs_ns,
        |  CAST(p * 1000000 // cp_t AS BIGINT) pre_mean_ppm,
        |  CAST((total - p) * 1000000 // (n_hours - cp_t) AS BIGINT)
        |    post_mean_ppm
        |FROM cp JOIN pre ON pre.event_type = cp.event_type AND pre.t = cp.cp_t
        |ORDER BY cp.event_type""".stripMargin),

    "q_benford_audit" -> Entry(qBenfordAudit _,
      """WITH c AS (SELECT CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100)
        |    AS BIGINT) cents FROM lineitem),
        |o AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
        |    digit, count(*) n_obs
        |  FROM c WHERE cents > 0 GROUP BY 1),
        |t AS (SELECT CAST(sum(n_obs) AS BIGINT) total FROM o),
        |b(digit, benford_ppm) AS (VALUES (1, 301030), (2, 176091),
        |  (3, 124939), (4, 96910), (5, 79181), (6, 66947), (7, 57992),
        |  (8, 51153), (9, 45757))
        |SELECT o.digit, CAST(n_obs AS BIGINT) n_obs,
        |  CAST(n_obs * 1000000 // total AS BIGINT) obs_ppm,
        |  CAST(benford_ppm AS BIGINT) benford_ppm,
        |  CAST(n_obs * 1000000 // total - benford_ppm AS BIGINT) dev_ppm
        |FROM o JOIN b ON o.digit = b.digit CROSS JOIN t
        |ORDER BY o.digit""".stripMargin),

    "q_rolling_slope" -> Entry(qRollingSlope _,
      """WITH h AS (SELECT event_type,
        |  epoch_ns(ts) // 3600000000000 hidx, count(*) n_obs
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(hidx) mn, max(hidx) mx
        |  FROM h GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(mn, mx + 1)) hidx FROM sp),
        |d AS (SELECT g.event_type, g.hidx, COALESCE(n_obs, 0) y
        |  FROM grid g LEFT JOIN h
        |    ON g.event_type = h.event_type AND g.hidx = h.hidx),
        |sl AS (SELECT event_type, hidx,
        |  count(*) OVER w nw, sum(y) OVER w sy, sum(hidx * y) OVER w sty,
        |  sum(hidx) OVER w st
        |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY hidx
        |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
        |s2 AS (SELECT event_type, hidx,
        |  CAST(CAST(24 * sty - st * sy AS HUGEINT) * 1000000 // 27600
        |    AS BIGINT) slope_ppm
        |  FROM sl WHERE nw = 24),
        |agg AS (SELECT event_type, max(slope_ppm) max_slope_ppm,
        |  min(slope_ppm) min_slope_ppm FROM s2 GROUP BY 1),
        |up AS (SELECT s2.event_type, min(hidx) max_slope_hidx
        |  FROM s2 JOIN agg USING (event_type)
        |  WHERE slope_ppm = max_slope_ppm GROUP BY s2.event_type),
        |dn AS (SELECT s2.event_type, min(hidx) min_slope_hidx
        |  FROM s2 JOIN agg USING (event_type)
        |  WHERE slope_ppm = min_slope_ppm GROUP BY s2.event_type)
        |SELECT agg.event_type, max_slope_ppm, max_slope_hidx,
        |  min_slope_ppm, min_slope_hidx
        |FROM agg JOIN up USING (event_type) JOIN dn USING (event_type)
        |ORDER BY agg.event_type""".stripMargin),

    "q_hybrid_rrf" -> Entry(qHybridRrf _,
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |f AS (SELECT * FROM t WHERE w <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM f GROUP BY doc_id),
        |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS tl, count(*) AS nd FROM dl),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM f
        |  WHERE w IN ('table', 'spark', 'merge') GROUP BY doc_id, w),
        |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |sc AS (SELECT t2.doc_id,
        |    CAST((CAST(((2*(nd - df) + 1) * 1000) // (2*df + 1) AS HUGEINT)
        |      * 44 * tf * tl) // (20*tf*tl + 6*tl + 18*dl*nd) AS BIGINT)
        |      AS score_part
        |  FROM tf t2 JOIN dl USING (doc_id) JOIN dfq USING (w) CROSS JOIN tot),
        |bmx AS (SELECT doc_id, CAST(sum(score_part) AS BIGINT) bm25_milli
        |  FROM sc GROUP BY doc_id
        |  ORDER BY bm25_milli DESC, doc_id LIMIT 50),
        |bm AS (SELECT doc_id, CAST(row_number() OVER
        |    (ORDER BY bm25_milli DESC, doc_id) AS BIGINT) r_bm25 FROM bmx),
        |q AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) qv
        |  FROM embeddings),
        |n AS (SELECT vec_id, qv, list_dot_product(qv, qv) norm2 FROM q),
        |s AS (SELECT b.vec_id doc_id,
        |    list_dot_product(a.qv, b.qv)/(sqrt(a.norm2)*sqrt(b.norm2)) cos_sim
        |  FROM n a JOIN n b ON a.vec_id = 0 AND b.vec_id <> 0),
        |em AS (SELECT doc_id, r_embed FROM (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id)
        |      AS BIGINT) r_embed FROM s) WHERE r_embed <= 50)
        |SELECT COALESCE(bm.doc_id, em.doc_id) doc_id,
        |  COALESCE(1000000 // (60 + r_bm25), 0)
        |    + COALESCE(1000000 // (60 + r_embed), 0) rrf_ppm,
        |  r_bm25, r_embed
        |FROM bm FULL JOIN em ON bm.doc_id = em.doc_id
        |ORDER BY rrf_ppm DESC, doc_id LIMIT 20""".stripMargin),

    "q_twap" -> Entry(qTwap _,
      """WITH e AS (SELECT event_type, epoch_ns(ts) tsn, event_id,
        |  CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) cents
        |  FROM events),
        |l AS (SELECT event_type, cents,
        |  lead(tsn) OVER (PARTITION BY event_type ORDER BY tsn, event_id)
        |    - tsn dt
        |  FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) n_intervals,
        |  CAST(sum(dt) AS BIGINT) span_ns,
        |  CAST(sum(CAST(cents AS HUGEINT) * dt) // sum(dt) AS BIGINT)
        |    twap_cents
        |FROM l WHERE dt IS NOT NULL GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    "q_quantile_normalize" -> Entry(qQuantileNormalize _,
      """WITH e AS (SELECT event_type, event_id,
        |  CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) cents
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT cents gval,
        |  CAST(row_number() OVER (ORDER BY cents, event_id) AS BIGINT) gpos
        |  FROM e),
        |r AS (SELECT event_type, event_id, cents,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY cents, event_id) AS BIGINT) r,
        |  CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) n FROM e),
        |nt AS (SELECT CAST(count(*) AS BIGINT) nn FROM e),
        |j AS (SELECT event_type,
        |  CAST((CAST(r AS HUGEINT) * nt.nn + n - 1) // n AS BIGINT) gpos
        |  FROM r, nt)
        |SELECT j.event_type, CAST(count(*) AS BIGINT) n_rows,
        |  CAST(min(gval) AS BIGINT) min_norm,
        |  CAST(max(gval) AS BIGINT) max_norm,
        |  CAST(sum(CAST(gval AS HUGEINT)) AS BIGINT) sum_norm
        |FROM j JOIN g ON j.gpos = g.gpos GROUP BY j.event_type
        |ORDER BY j.event_type""".stripMargin),

    "q_fit_transform" -> Entry(qFitTransform _,
      """WITH e AS (SELECT event_type, event_id,
        |  CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) cents,
        |  ('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,8))::BIGINT % 10 b
        |  FROM events WHERE value IS NOT NULL),
        |s AS (SELECT event_type, event_id, cents,
        |  CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val'
        |       ELSE 'test' END split FROM e),
        |tr AS (SELECT event_type, event_id, cents,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY cents, event_id) AS BIGINT) r,
        |  CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) n
        |  FROM s WHERE split = 'train'),
        |st AS (SELECT event_type,
        |  max(CASE WHEN r = (n+1)//2 THEN cents END) med,
        |  greatest(max(CASE WHEN r = (3*n+4)//4 THEN cents END)
        |         - max(CASE WHEN r = (n+3)//4 THEN cents END), 1) iqr
        |  FROM tr GROUP BY event_type),
        |z AS (SELECT s.split, s.event_type,
        |  CAST(CAST(s.cents - st.med AS HUGEINT) * 1000000 // st.iqr
        |    AS BIGINT) z_ppm
        |  FROM s JOIN st USING (event_type))
        |SELECT split, event_type, CAST(count(*) AS BIGINT) n_rows,
        |  CAST(sum(CAST(z_ppm AS HUGEINT)) AS BIGINT) sum_z_ppm,
        |  CAST(min(z_ppm) AS BIGINT) min_z_ppm,
        |  CAST(max(z_ppm) AS BIGINT) max_z_ppm
        |FROM z GROUP BY split, event_type
        |ORDER BY split, event_type""".stripMargin),

    "q_ppr" -> Entry(qPpr _,
      """WITH e0 AS (SELECT DISTINCT o_custkey * 2 c, l_suppkey * 2 + 1 sup
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c src, sup dst FROM e0
        |  UNION ALL SELECT sup, c FROM e0),
        |deg AS (SELECT src, count(*) d FROM edges GROUP BY src),
        |nodes AS (SELECT src node FROM deg),
        |srcs AS (SELECT node FROM nodes WHERE node % 2 = 0 AND node < 20),
        |nsrc AS (SELECT count(*) ns FROM srcs),
        |r0 AS (SELECT node, 1000000000 // (SELECT ns FROM nsrc) r FROM srcs),
        |c1 AS (SELECT e.dst, CAST(sum(r0.r // deg.d) AS BIGINT) contrib
        |  FROM edges e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
        |  GROUP BY e.dst),
        |r1 AS (SELECT nodes.node, (85 * COALESCE(c1.contrib, 0)) // 100
        |  + CASE WHEN nodes.node IN (SELECT node FROM srcs)
        |      THEN 150000000 // (SELECT ns FROM nsrc) ELSE 0 END r
        |  FROM nodes LEFT JOIN c1 ON nodes.node = c1.dst),
        |c2 AS (SELECT e.dst, CAST(sum(r1.r // deg.d) AS BIGINT) contrib
        |  FROM edges e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
        |  GROUP BY e.dst),
        |r2 AS (SELECT nodes.node, (85 * COALESCE(c2.contrib, 0)) // 100
        |  + CASE WHEN nodes.node IN (SELECT node FROM srcs)
        |      THEN 150000000 // (SELECT ns FROM nsrc) ELSE 0 END r
        |  FROM nodes LEFT JOIN c2 ON nodes.node = c2.dst),
        |c3 AS (SELECT e.dst, CAST(sum(r2.r // deg.d) AS BIGINT) contrib
        |  FROM edges e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
        |  GROUP BY e.dst),
        |r3 AS (SELECT nodes.node, (85 * COALESCE(c3.contrib, 0)) // 100
        |  + CASE WHEN nodes.node IN (SELECT node FROM srcs)
        |      THEN 150000000 // (SELECT ns FROM nsrc) ELSE 0 END r
        |  FROM nodes LEFT JOIN c3 ON nodes.node = c3.dst)
        |SELECT node, CAST(r AS BIGINT) ppr_ppb FROM r3
        |WHERE node NOT IN (SELECT node FROM srcs) AND r > 0
        |ORDER BY ppr_ppb DESC, node LIMIT 30""".stripMargin),

    "q_ind_discovery" -> Entry(qIndDiscovery _,
      """WITH c1 AS (SELECT 'orders.o_custkey<customer.c_custkey' candidate,
        |  (SELECT count(DISTINCT o_custkey) FROM orders) n_lhs,
        |  (SELECT count(*) FROM (SELECT DISTINCT o_custkey v FROM orders)
        |   WHERE v NOT IN (SELECT c_custkey FROM customer)) n_missing),
        |c2 AS (SELECT 'lineitem.l_orderkey<orders.o_orderkey',
        |  (SELECT count(DISTINCT l_orderkey) FROM lineitem),
        |  (SELECT count(*) FROM (SELECT DISTINCT l_orderkey v FROM lineitem)
        |   WHERE v NOT IN (SELECT o_orderkey FROM orders))),
        |c3 AS (SELECT 'lineitem.l_suppkey<supplier.s_suppkey',
        |  (SELECT count(DISTINCT l_suppkey) FROM lineitem),
        |  (SELECT count(*) FROM (SELECT DISTINCT l_suppkey v FROM lineitem)
        |   WHERE v NOT IN (SELECT s_suppkey FROM supplier))),
        |c4 AS (SELECT 'lineitem.l_partkey<part.p_partkey',
        |  (SELECT count(DISTINCT l_partkey) FROM lineitem),
        |  (SELECT count(*) FROM (SELECT DISTINCT l_partkey v FROM lineitem)
        |   WHERE v NOT IN (SELECT p_partkey FROM part))),
        |c5 AS (SELECT 'customer.c_custkey<orders.o_custkey',
        |  (SELECT count(DISTINCT c_custkey) FROM customer),
        |  (SELECT count(*) FROM (SELECT DISTINCT c_custkey v FROM customer)
        |   WHERE v NOT IN (SELECT o_custkey FROM orders))),
        |c6 AS (SELECT 'part.p_partkey<lineitem.l_partkey',
        |  (SELECT count(DISTINCT p_partkey) FROM part),
        |  (SELECT count(*) FROM (SELECT DISTINCT p_partkey v FROM part)
        |   WHERE v NOT IN (SELECT l_partkey FROM lineitem))),
        |c7 AS (SELECT 'supplier.s_suppkey<lineitem.l_suppkey',
        |  (SELECT count(DISTINCT s_suppkey) FROM supplier),
        |  (SELECT count(*) FROM (SELECT DISTINCT s_suppkey v FROM supplier)
        |   WHERE v NOT IN (SELECT l_suppkey FROM lineitem))),
        |u AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2
        |  UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4
        |  UNION ALL SELECT * FROM c5 UNION ALL SELECT * FROM c6
        |  UNION ALL SELECT * FROM c7)
        |SELECT candidate, CAST(n_lhs AS BIGINT) n_lhs,
        |  CAST(n_missing AS BIGINT) n_missing,
        |  CAST(CASE WHEN n_missing = 0 THEN 1 ELSE 0 END AS BIGINT) is_ind
        |FROM u ORDER BY candidate""".stripMargin),

    "q_assortativity" -> Entry(qAssortativity _,
      """WITH e0 AS (SELECT DISTINCT o_custkey * 2 src, l_suppkey * 2 + 1 dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |sym AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src, count(*) d FROM sym GROUP BY src),
        |j AS (SELECT dx.d x, dy.d y FROM sym
        |  JOIN deg dx ON sym.src = dx.src JOIN deg dy ON sym.dst = dy.src),
        |ag AS (SELECT count(*) m, sum(x) sx, sum(y) sy,
        |  sum(CAST(x AS HUGEINT) * y) sxy, sum(CAST(x AS HUGEINT) * x) sxx,
        |  sum(CAST(y AS HUGEINT) * y) syy FROM j),
        |fin AS (SELECT CAST(m AS BIGINT) m,
        |  CAST(m AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy num,
        |  CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx d1,
        |  CAST(m AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy d2 FROM ag)
        |SELECT m,
        |  CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
        |    AS BIGINT) r_sign,
        |  CASE WHEN d1 > 0 AND d2 > 0
        |    THEN CAST((num * 1000 // d1) * (num * 1000 // d2) AS BIGINT)
        |    ELSE NULL END r2_ppm
        |FROM fin""".stripMargin),

    "q_mutual_nn" -> Entry(qMutualNn _,
      """WITH p AS (SELECT vec_id,
        |  CAST(floor((CAST(embedding[1] AS DOUBLE)+1.0)*1048576) AS BIGINT) xi,
        |  CAST(floor((CAST(embedding[2] AS DOUBLE)+1.0)*1048576) AS BIGINT) yi
        |  FROM embeddings),
        |nn0 AS (SELECT count(*) n FROM p),
        |pr AS (SELECT a.vec_id ia, b.vec_id ib,
        |  (a.xi-b.xi)*(a.xi-b.xi)+(a.yi-b.yi)*(a.yi-b.yi) d2
        |  FROM p a, p b, nn0 WHERE a.vec_id < b.vec_id
        |    AND (a.xi-b.xi)*(a.xi-b.xi)+(a.yi-b.yi)*(a.yi-b.yi)
        |        <= CAST(1000000 AS BIGINT)*1000000//nn0.n),
        |sym AS (SELECT ia pid, ib nb, d2 FROM pr
        |  UNION ALL SELECT ib, ia, d2 FROM pr),
        |nn AS (SELECT pid, nb, d2 FROM (SELECT pid, nb, d2,
        |  row_number() OVER (PARTITION BY pid ORDER BY d2, nb) rn FROM sym)
        |  WHERE rn = 1)
        |SELECT a.pid id_a, b.pid id_b, a.d2 d2
        |FROM nn a JOIN nn b
        |  ON a.nb = b.pid AND b.nb = a.pid AND a.pid < b.pid
        |ORDER BY id_a""".stripMargin),

    "q_seasonal_decompose" -> Entry(qSeasonalDecompose _,
      """WITH h AS (SELECT event_type,
        |  epoch_ns(ts) // 3600000000000 hidx, count(*) n_obs
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(hidx) mn, max(hidx) mx
        |  FROM h GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(mn, mx + 1)) hidx FROM sp),
        |d AS (SELECT g.event_type, g.hidx, COALESCE(n_obs, 0) x
        |  FROM grid g LEFT JOIN h
        |    ON g.event_type = h.event_type AND g.hidx = h.hidx),
        |bh AS (SELECT event_type, hidx % 24 h, count(*) n_hours,
        |  sum(x) sum_n FROM d GROUP BY 1, 2),
        |tt AS (SELECT event_type, count(*) nt, sum(x) st FROM d GROUP BY 1)
        |SELECT bh.event_type, CAST(h AS BIGINT) h,
        |  CAST(n_hours AS BIGINT) n_hours, CAST(sum_n AS BIGINT) sum_n,
        |  CAST(CAST(sum_n AS HUGEINT) * nt * 1000000
        |    // (CAST(n_hours AS HUGEINT) * st) AS BIGINT) seasonal_ppm
        |FROM bh JOIN tt USING (event_type) WHERE st > 0
        |ORDER BY bh.event_type, h""".stripMargin),

    "q_cascade_delete" -> Entry(qCascadeDelete _,
      """WITH v AS (SELECT c_custkey FROM customer
        |  WHERE ('0x'||substr(md5(CAST(c_custkey AS VARCHAR)),1,8))::BIGINT
        |    % 50 = 0),
        |ro AS (SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM v)),
        |rl AS (SELECT count(*) n FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM ro)),
        |u AS (
        |  SELECT 'customer' table_name,
        |    (SELECT count(*) FROM customer) rows_total,
        |    (SELECT count(*) FROM v) rows_removed
        |  UNION ALL SELECT 'orders', (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM ro)
        |  UNION ALL SELECT 'lineitem', (SELECT count(*) FROM lineitem),
        |    (SELECT n FROM rl))
        |SELECT table_name, CAST(rows_total AS BIGINT) rows_total,
        |  CAST(rows_removed AS BIGINT) rows_removed,
        |  CAST(rows_removed * 1000000 // rows_total AS BIGINT) removed_ppm
        |FROM u ORDER BY table_name""".stripMargin),

    "q_encoding_advisor" -> Entry(qEncodingAdvisor _,
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |  l_returnflag, l_linestatus,
        |  CAST(epoch_us(l_shipdate) // 86400000000 AS VARCHAR) shipday,
        |  CAST(CAST(floor(CAST(l_quantity AS DOUBLE)) AS BIGINT)
        |    AS VARCHAR) qty,
        |  CAST(l_partkey AS VARCHAR) pk FROM lineitem),
        |st AS (
        |  SELECT l_orderkey, l_linenumber, 'l_returnflag' col_name,
        |    l_returnflag v FROM li
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_linestatus',
        |    l_linestatus FROM li
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_shipdate_day',
        |    shipday FROM li
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_quantity',
        |    qty FROM li
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_partkey',
        |    pk FROM li),
        |ch AS (SELECT col_name, v,
        |  CASE WHEN lag(v) OVER w IS NULL OR lag(v) OVER w <> v
        |    THEN 1 ELSE 0 END chg
        |  FROM st WINDOW w AS (PARTITION BY col_name
        |    ORDER BY l_orderkey, l_linenumber, v)),
        |ag AS (SELECT col_name, count(*) n, count(DISTINCT v) n_distinct,
        |  sum(chg) n_runs FROM ch GROUP BY col_name)
        |SELECT col_name, CAST(n AS BIGINT) n,
        |  CAST(n_distinct AS BIGINT) n_distinct,
        |  CAST(n_runs AS BIGINT) n_runs,
        |  CASE WHEN n_runs * 4 <= n THEN 'rle'
        |       WHEN n_distinct * 100 <= n THEN 'dict'
        |       ELSE 'plain' END recommended
        |FROM ag ORDER BY col_name""".stripMargin),

    "q_post_stratify" -> Entry(qPostStratify _,
      """WITH e AS (SELECT event_type, event_id,
        |  CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) cents
        |  FROM events),
        |pop AS (SELECT event_type, count(*) n_pop,
        |  CAST(sum(cents) AS BIGINT) true_cents FROM e GROUP BY 1),
        |sa AS (SELECT event_type, count(*) n_samp,
        |  CAST(sum(cents) AS BIGINT) samp_cents FROM e
        |  WHERE ('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,8))::BIGINT
        |    % 10 = 0
        |  GROUP BY 1)
        |SELECT pop.event_type, CAST(n_pop AS BIGINT) n_pop,
        |  CAST(n_samp AS BIGINT) n_samp,
        |  CAST(CAST(n_pop AS HUGEINT) * 1000000 // n_samp AS BIGINT)
        |    weight_ppm,
        |  CAST(CAST(samp_cents AS HUGEINT) * n_pop // n_samp AS BIGINT)
        |    est_cents,
        |  true_cents
        |FROM pop JOIN sa USING (event_type) ORDER BY pop.event_type""".stripMargin),

    "q_local_clustering" -> Entry(qLocalClustering _,
      """WITH g AS (SELECT epoch_ns(ts)//600000000000 slot, event_type et,
        |  user_id u, row_number() OVER (PARTITION BY
        |    epoch_ns(ts)//600000000000, event_type
        |    ORDER BY epoch_ns(ts), event_id) rn FROM events),
        |e AS (SELECT DISTINCT least(x.u, y.u) u, greatest(x.u, y.u) v
        |  FROM g x JOIN g y ON x.slot=y.slot AND x.et=y.et
        |    AND y.rn BETWEEN x.rn+1 AND x.rn+3 AND x.u<>y.u),
        |deg AS (SELECT n, count(*) d FROM
        |  (SELECT u n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
        |t AS (SELECT e1.u a, e1.v b, e2.v c FROM e e1
        |  JOIN e e2 ON e2.u=e1.v
        |  JOIN e e3 ON e3.u=e1.u AND e3.v=e2.v),
        |tn AS (SELECT n, count(*) tri FROM (SELECT a n FROM t
        |  UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t) GROUP BY n)
        |SELECT deg.n user_id, CAST(d AS BIGINT) degree,
        |  CAST(COALESCE(tri,0) AS BIGINT) n_triangles,
        |  CAST(COALESCE(tri,0)*2000000//(d*(d-1)) AS BIGINT) cc_ppm
        |FROM deg LEFT JOIN tn ON deg.n=tn.n WHERE d>=2
        |ORDER BY user_id""".stripMargin),

    // med2 = sum of the two middle order statistics: DuckDB's even-n
    // median is (a+b)/2 in double — a dyadic rational, so 2× is the
    // exact integer a+b on any engine
    "q_rolling_median" -> Entry((s, d) => qRollingMedian(s, d),
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000000000 t,
        |  CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT) cents FROM events)
        |SELECT user_id, event_id, t,
        |  CAST(COUNT(*) OVER w AS BIGINT) n_win,
        |  CAST(2*median(cents) OVER w AS BIGINT) med2_cents
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
        |  ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin),

    "q_char_entropy" -> Entry(qCharEntropy _,
      """WITH ch AS (SELECT doc_id, unnest(string_split(text,'')) c
        |  FROM documents),
        |cc AS (SELECT doc_id, c, count(*) n FROM ch WHERE c<>''
        |  GROUP BY 1,2),
        |ag AS (SELECT doc_id, CAST(sum(n) AS BIGINT) n_ch,
        |  count(*) n_distinct_ch, sum(n*n) s2 FROM cc GROUP BY 1)
        |SELECT doc_id, n_ch, CAST(n_distinct_ch AS BIGINT) n_distinct_ch,
        |  CAST(CAST(s2 AS HUGEINT)*1000000 //
        |    (CAST(n_ch AS HUGEINT)*n_ch) AS BIGINT) collision_ppm
        |FROM ag ORDER BY doc_id""".stripMargin),

    // the identical generated Morton formula as q_zorder_layout;
    // zone-map overlap tested per (layout, file, predicate)
    "q_zonemap_compare" -> Entry(qZonemapCompare _,
      s"""WITH pts AS (SELECT l_partkey % ${ZorderSql.DimMod} px,
         |    (l_suppkey*37) % ${ZorderSql.DimMod} sx FROM lineitem),
         |pz AS (SELECT px, sx,
         |    ${ZorderSql.zExpr("px", "sx", spark = false)} AS z FROM pts),
         |st AS (SELECT 'range' layout, px//4 fid, px, sx FROM pz
         |  UNION ALL SELECT 'zorder', z//${ZorderSql.FileZRange}, px, sx
         |  FROM pz),
         |f AS (SELECT layout, fid, count(*) n_rows,
         |   min(px) min_p, max(px) max_p, min(sx) min_s, max(sx) max_s
         | FROM st GROUP BY 1,2),
         |pr AS (SELECT 'cell_2d' pred, 40 plo, 71 phi, 40 slo, 71 shi
         |  UNION ALL SELECT 'px_band', 40, 71, 0, 255
         |  UNION ALL SELECT 'sx_band', 0, 255, 40, 71),
         |m AS (SELECT pred, count(*) FILTER (WHERE px BETWEEN plo AND phi
         |    AND sx BETWEEN slo AND shi) nm
         |  FROM pts, pr GROUP BY pred)
         |SELECT layout, pred, CAST(count(*) AS BIGINT) n_files,
         |  CAST(sum(CASE WHEN min_p<=phi AND max_p>=plo AND min_s<=shi
         |    AND max_s>=slo THEN 1 ELSE 0 END) AS BIGINT) files_scanned,
         |  CAST(sum(CASE WHEN min_p<=phi AND max_p>=plo AND min_s<=shi
         |    AND max_s>=slo THEN n_rows ELSE 0 END) AS BIGINT) rows_scanned,
         |  (SELECT CAST(nm AS BIGINT) FROM m WHERE m.pred=pr.pred)
         |    rows_matched
         |FROM f, pr GROUP BY layout, pred
         |ORDER BY layout, pred""".stripMargin),

    "q_hits" -> Entry(qHits _,
      """WITH e AS (SELECT DISTINCT o_custkey c, l_suppkey sup
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |a1 AS (SELECT sup, CAST(count(*) AS HUGEINT) a1 FROM e GROUP BY sup),
        |h1 AS (SELECT c, sum(a1) h1 FROM e JOIN a1 USING (sup) GROUP BY c),
        |a2 AS (SELECT sup, sum(h1) a2 FROM e JOIN h1 USING (c) GROUP BY sup),
        |h2 AS (SELECT c, sum(a2) h2 FROM e JOIN a2 USING (sup) GROUP BY c),
        |hub AS (SELECT 'hub' AS "role", c node,
        |    CAST(h2 * 1000000 // (SELECT max(h2) FROM h2) AS BIGINT) score_ppm
        |  FROM h2 ORDER BY score_ppm DESC, node LIMIT 15),
        |auth AS (SELECT 'authority' AS "role", sup node,
        |    CAST(a2 * 1000000 // (SELECT max(a2) FROM a2) AS BIGINT) score_ppm
        |  FROM a2 ORDER BY score_ppm DESC, node LIMIT 15)
        |SELECT * FROM (SELECT * FROM hub UNION ALL SELECT * FROM auth)
        |ORDER BY "role", score_ppm DESC, node""".stripMargin),

    "q_sssp_bounded" -> Entry((s, d) => qSsspBounded(s, d),
      """WITH ol AS (SELECT o_custkey*2 c, l_suppkey*2+1 sup,
        |    CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) cents
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |ew AS (SELECT c, sup, min(cents) w FROM ol GROUP BY 1, 2),
        |e AS (SELECT c src, sup dst, w FROM ew
        |  UNION ALL SELECT sup, c, w FROM ew),
        |d0 AS (SELECT DISTINCT src node, CAST(0 AS BIGINT) d FROM e
        |  WHERE src % 2 = 0 AND src < 20),
        |d1 AS (SELECT node, min(d) d FROM (SELECT node, d FROM d0
        |  UNION ALL SELECT e.dst, d0.d + e.w FROM d0
        |  JOIN e ON e.src = d0.node) GROUP BY node),
        |d2 AS (SELECT node, min(d) d FROM (SELECT node, d FROM d1
        |  UNION ALL SELECT e.dst, d1.d + e.w FROM d1
        |  JOIN e ON e.src = d1.node) GROUP BY node),
        |d3 AS (SELECT node, min(d) d FROM (SELECT node, d FROM d2
        |  UNION ALL SELECT e.dst, d2.d + e.w FROM d2
        |  JOIN e ON e.src = d2.node) GROUP BY node),
        |d4 AS (SELECT node, min(d) d FROM (SELECT node, d FROM d3
        |  UNION ALL SELECT e.dst, d3.d + e.w FROM d3
        |  JOIN e ON e.src = d3.node) GROUP BY node)
        |SELECT node, d dist_cents FROM d4 ORDER BY node""".stripMargin),

    // dyadic alpha=1/2 EWMA: num = sum of lag_j * 2^(15-j), den
    // telescopes to 2^16 - 2^(16-n); exact integers on both engines
    "q_ewma" -> Entry(qEwma _,
      """WITH ev AS (SELECT event_type, event_id, epoch_ns(ts)//1000000000 t,
        |  CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT) cents FROM events),
        |l AS (SELECT event_type, event_id, t,
        |  CAST(COUNT(*) OVER w AS BIGINT) n_win,
        |  cents*32768
        |  + COALESCE(lag(cents, 1) OVER w, 0)*16384
        |  + COALESCE(lag(cents, 2) OVER w, 0)*8192
        |  + COALESCE(lag(cents, 3) OVER w, 0)*4096
        |  + COALESCE(lag(cents, 4) OVER w, 0)*2048
        |  + COALESCE(lag(cents, 5) OVER w, 0)*1024
        |  + COALESCE(lag(cents, 6) OVER w, 0)*512
        |  + COALESCE(lag(cents, 7) OVER w, 0)*256
        |  + COALESCE(lag(cents, 8) OVER w, 0)*128
        |  + COALESCE(lag(cents, 9) OVER w, 0)*64
        |  + COALESCE(lag(cents, 10) OVER w, 0)*32
        |  + COALESCE(lag(cents, 11) OVER w, 0)*16
        |  + COALESCE(lag(cents, 12) OVER w, 0)*8
        |  + COALESCE(lag(cents, 13) OVER w, 0)*4
        |  + COALESCE(lag(cents, 14) OVER w, 0)*2
        |  + COALESCE(lag(cents, 15) OVER w, 0) num
        |FROM ev WINDOW w AS (PARTITION BY event_type ORDER BY t, event_id
        |  ROWS BETWEEN 15 PRECEDING AND CURRENT ROW))
        |SELECT event_type, event_id, t, n_win,
        |  num // (65536 - (65536 // CAST(2**n_win AS BIGINT))) ewma_cents
        |FROM l ORDER BY event_type, event_id""".stripMargin),

    "q_label_prop" -> Entry(qLabelProp _,
      """WITH p AS (SELECT vec_id,
        |  CAST(floor((CAST(embedding[1] AS DOUBLE)+1.0)*1048576) AS BIGINT) xi,
        |  CAST(floor((CAST(embedding[2] AS DOUBLE)+1.0)*1048576) AS BIGINT) yi
        |  FROM embeddings),
        |nn AS (SELECT count(*) n FROM p),
        |ew AS (SELECT a.vec_id u, b.vec_id v FROM p a, p b, nn
        |  WHERE a.vec_id < b.vec_id
        |  AND (a.xi-b.xi)*(a.xi-b.xi)+(a.yi-b.yi)*(a.yi-b.yi)
        |      <= CAST(1000000 AS BIGINT)*1000000//nn.n),
        |e AS (SELECT u src, v dst FROM ew UNION ALL SELECT v, u FROM ew),
        |l0 AS (SELECT DISTINCT src node, src lab FROM e),
        |l1 AS (SELECT node, min(lab) lab FROM (SELECT node, lab FROM l0
        |  UNION ALL SELECT e.dst, l0.lab FROM l0
        |  JOIN e ON e.src = l0.node) GROUP BY node),
        |l2 AS (SELECT node, min(lab) lab FROM (SELECT node, lab FROM l1
        |  UNION ALL SELECT e.dst, l1.lab FROM l1
        |  JOIN e ON e.src = l1.node) GROUP BY node),
        |l3 AS (SELECT node, min(lab) lab FROM (SELECT node, lab FROM l2
        |  UNION ALL SELECT e.dst, l2.lab FROM l2
        |  JOIN e ON e.src = l2.node) GROUP BY node)
        |SELECT lab AS "label", CAST(count(*) AS BIGINT) n_members FROM l3
        |GROUP BY lab ORDER BY "label"""".stripMargin),

    "q_k_anonymity" -> Entry(qKAnonymity _,
      """WITH q AS (SELECT source, lang, n_chars // 100 len_bucket,
        |  CASE WHEN len(string_split(text,' ')) < 39 THEN 0
        |       WHEN len(string_split(text,' ')) < 69 THEN 1 ELSE 2 END sens
        |  FROM documents),
        |g AS (SELECT source, lang, len_bucket, count(*) n,
        |  count(DISTINCT sens) n_sensitive FROM q GROUP BY 1, 2, 3)
        |SELECT source, lang, CAST(len_bucket AS BIGINT) len_bucket,
        |  CAST(n AS BIGINT) n, CAST(n_sensitive AS BIGINT) n_sensitive,
        |  CAST(CASE WHEN n < 5 THEN 1 ELSE 0 END AS BIGINT) k_violation,
        |  CAST(CASE WHEN n_sensitive < 2 THEN 1 ELSE 0 END AS BIGINT) l_violation
        |FROM g ORDER BY source, lang, len_bucket""".stripMargin),

    "q_rfm_scores" -> Entry(qRfmScores _,
      """WITH pu AS (SELECT user_id,
        |  max(epoch_ns(ts) // 1000000000) r_s, count(*) freq,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) mon
        |  FROM events GROUP BY user_id),
        |nr AS (SELECT count(*) n FROM pu),
        |rr AS (SELECT r_s v, row_number() OVER (ORDER BY r_s) rn FROM pu),
        |rf AS (SELECT freq v, row_number() OVER (ORDER BY freq) rn FROM pu),
        |rm AS (SELECT mon v, row_number() OVER (ORDER BY mon) rn FROM pu),
        |rb AS (SELECT
        |  MAX(CASE WHEN rn = CAST(ceil(0.2 * n) AS BIGINT) THEN v END) b1,
        |  MAX(CASE WHEN rn = CAST(ceil(0.4 * n) AS BIGINT) THEN v END) b2,
        |  MAX(CASE WHEN rn = CAST(ceil(0.6 * n) AS BIGINT) THEN v END) b3,
        |  MAX(CASE WHEN rn = CAST(ceil(0.8 * n) AS BIGINT) THEN v END) b4
        |  FROM rr, nr),
        |fb AS (SELECT
        |  MAX(CASE WHEN rn = CAST(ceil(0.2 * n) AS BIGINT) THEN v END) b1,
        |  MAX(CASE WHEN rn = CAST(ceil(0.4 * n) AS BIGINT) THEN v END) b2,
        |  MAX(CASE WHEN rn = CAST(ceil(0.6 * n) AS BIGINT) THEN v END) b3,
        |  MAX(CASE WHEN rn = CAST(ceil(0.8 * n) AS BIGINT) THEN v END) b4
        |  FROM rf, nr),
        |mb AS (SELECT
        |  MAX(CASE WHEN rn = CAST(ceil(0.2 * n) AS BIGINT) THEN v END) b1,
        |  MAX(CASE WHEN rn = CAST(ceil(0.4 * n) AS BIGINT) THEN v END) b2,
        |  MAX(CASE WHEN rn = CAST(ceil(0.6 * n) AS BIGINT) THEN v END) b3,
        |  MAX(CASE WHEN rn = CAST(ceil(0.8 * n) AS BIGINT) THEN v END) b4
        |  FROM rm, nr),
        |sc AS (SELECT user_id, mon,
        |  1 + CASE WHEN r_s > rb.b1 THEN 1 ELSE 0 END
        |    + CASE WHEN r_s > rb.b2 THEN 1 ELSE 0 END
        |    + CASE WHEN r_s > rb.b3 THEN 1 ELSE 0 END
        |    + CASE WHEN r_s > rb.b4 THEN 1 ELSE 0 END r_score,
        |  1 + CASE WHEN freq > fb.b1 THEN 1 ELSE 0 END
        |    + CASE WHEN freq > fb.b2 THEN 1 ELSE 0 END
        |    + CASE WHEN freq > fb.b3 THEN 1 ELSE 0 END
        |    + CASE WHEN freq > fb.b4 THEN 1 ELSE 0 END f_score,
        |  1 + CASE WHEN mon > mb.b1 THEN 1 ELSE 0 END
        |    + CASE WHEN mon > mb.b2 THEN 1 ELSE 0 END
        |    + CASE WHEN mon > mb.b3 THEN 1 ELSE 0 END
        |    + CASE WHEN mon > mb.b4 THEN 1 ELSE 0 END m_score
        |  FROM pu, rb, fb, mb)
        |SELECT CAST(r_score AS BIGINT) r_score,
        |  CAST(f_score AS BIGINT) f_score,
        |  CAST(m_score AS BIGINT) m_score,
        |  CAST(count(*) AS BIGINT) n_users,
        |  CAST(sum(mon) AS BIGINT) sum_monetary_cents
        |FROM sc GROUP BY 1, 2, 3
        |ORDER BY r_score, f_score, m_score""".stripMargin),

    "q_mrr_eval" -> Entry(qMrrEval _,
      """WITH r AS (SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY value DESC, event_id) rnk
        |  FROM events)
        |SELECT user_id, CAST(min(rnk) AS BIGINT) first_rank,
        |  CAST(1000000 // min(rnk) AS BIGINT) rr_ppm
        |FROM r WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    "q_gini_concentration" -> Entry(qGiniConcentration _,
      """WITH pu AS (SELECT event_type, user_id, count(*) x
        |  FROM events GROUP BY 1,2),
        |rk AS (SELECT event_type, user_id, x,
        |  row_number() OVER (PARTITION BY event_type ORDER BY x, user_id) i
        |  FROM pu),
        |ag AS (SELECT event_type, count(*) n_units, sum(x) total,
        |  sum(CAST(i AS HUGEINT)*x) six FROM rk GROUP BY event_type)
        |SELECT event_type, CAST(n_units AS BIGINT) n_units,
        |  CAST(total AS BIGINT) total,
        |  CAST((2*six - (n_units+1)*CAST(total AS HUGEINT)) * 1000000
        |    // (CAST(n_units AS HUGEINT)*total) AS BIGINT) gini_ppm
        |FROM ag WHERE total > 0 ORDER BY event_type""".stripMargin),

    "q_cluster_purity" -> Entry(qClusterPurity _,
      s"""WITH ${kmeansCte(Queries.KmeansK, Queries.KmeansIters)},
         |j AS (SELECT cl, label FROM a${Queries.KmeansIters}
         |  JOIN (SELECT DISTINCT vec_id, label FROM embeddings) USING (vec_id)),
         |pl AS (SELECT cl, label, count(*) nl FROM j GROUP BY 1,2),
         |top AS (SELECT cl, label, nl,
         |  row_number() OVER (PARTITION BY cl ORDER BY nl DESC, label) rn,
         |  sum(nl) OVER (PARTITION BY cl) n FROM pl)
         |SELECT cl AS cluster, CAST(n AS BIGINT) n,
         |  CAST(label AS BIGINT) majority_label,
         |  CAST(nl AS BIGINT) majority_n,
         |  CAST(nl * 1000000 // n AS BIGINT) purity_ppm
         |FROM top WHERE rn = 1 ORDER BY cluster""".stripMargin),

    "q_lexical_diversity" -> Entry(qLexicalDiversity _,
      """WITH t AS (SELECT doc_id,
        |  unnest(string_split(text,' ')) tok,
        |  unnest(range(0, len(string_split(text,' ')))) pos
        |  FROM documents),
        |pd AS (SELECT doc_id, count(*) n_tokens, count(DISTINCT tok) n_types
        |  FROM t GROUP BY doc_id),
        |sg AS (SELECT doc_id, pos // 10 seg, count(*) sn,
        |  count(DISTINCT tok) sd FROM t GROUP BY 1,2),
        |fs AS (SELECT doc_id, count(*) n_segments,
        |  sum(sd * 1000000 // 10) sttr_sum
        |  FROM sg WHERE sn = 10 GROUP BY doc_id)
        |SELECT pd.doc_id, CAST(n_tokens AS BIGINT) n_tokens,
        |  CAST(n_types AS BIGINT) n_types,
        |  CAST(n_types * 1000000 // n_tokens AS BIGINT) ttr_ppm,
        |  CAST(COALESCE(n_segments, 0) AS BIGINT) n_segments,
        |  CAST(sttr_sum // n_segments AS BIGINT) msttr_ppm
        |FROM pd LEFT JOIN fs ON pd.doc_id = fs.doc_id
        |ORDER BY pd.doc_id""".stripMargin),

    "q_ngram_novelty" -> Entry(qNgramNovelty _,
      s"""WITH ${shingleCte},
         |ex AS (SELECT doc_id, unnest(sh) shingle FROM sh),
         |fd AS (SELECT shingle, min(doc_id) first_doc FROM ex GROUP BY shingle),
         |tot AS (SELECT doc_id, count(*) n_shingles FROM ex GROUP BY doc_id),
         |nov AS (SELECT first_doc doc_id, count(*) n_novel
         |  FROM fd GROUP BY first_doc)
         |SELECT tot.doc_id, CAST(n_shingles AS BIGINT) n_shingles,
         |  CAST(COALESCE(n_novel, 0) AS BIGINT) n_novel,
         |  CAST(COALESCE(n_novel, 0) * 1000000 // n_shingles AS BIGINT) novelty_ppm
         |FROM tot LEFT JOIN nov ON tot.doc_id = nov.doc_id
         |ORDER BY tot.doc_id""".stripMargin),

    "q_quality_repetition" -> Entry(qQualityRepetition _,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
        |b AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
        |    list_transform(generate_series(1, len(toks)-1), i -> toks[i]||' '||toks[i+1])
        |  ELSE [] END) gram FROM w),
        |bt AS (SELECT doc_id, MAX(c) max_bigram FROM
        |  (SELECT doc_id, gram, COUNT(*) c FROM b GROUP BY doc_id, gram) GROUP BY doc_id),
        |f AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 5 THEN
        |    list_transform(generate_series(1, len(toks)-4),
        |      i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4])
        |  ELSE [] END) gram FROM w),
        |ft AS (SELECT doc_id, COUNT(*) t5, COUNT(DISTINCT gram) d5 FROM f GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(toks) AS BIGINT) n_tokens,
        |  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ttr,
        |  CAST(COALESCE(bt.max_bigram * 2, 0) AS DOUBLE) / CAST(len(toks) AS DOUBLE) top_bigram_frac,
        |  COALESCE(CAST(ft.t5 - ft.d5 AS DOUBLE) / CAST(ft.t5 AS DOUBLE), 0.0) dup_5gram_frac
        |FROM w LEFT JOIN bt USING (doc_id) LEFT JOIN ft USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    "q_decontaminate" -> Entry(qDecontaminate _,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |s4 AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 4 THEN
        |    list_distinct(list_transform(generate_series(1, len(w)-3),
        |      i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]))
        |  ELSE [] END) gram FROM w),
        |ev AS (SELECT doc_id eval_id, gram FROM s4 WHERE doc_id % 13 = 0),
        |tr AS (SELECT doc_id train_id, gram FROM s4 WHERE doc_id % 13 <> 0)
        |SELECT train_id, COUNT(DISTINCT tr.gram) n_shared_ngrams,
        |  COUNT(DISTINCT ev.eval_id) n_eval_docs
        |FROM tr JOIN ev USING (gram)
        |GROUP BY train_id ORDER BY train_id""".stripMargin),

    "q_kmeans_embed" -> Entry(qKmeansEmbed _,
      s"""WITH ${kmeansCte(Queries.KmeansK, Queries.KmeansIters)}
         |SELECT vec_id, cl AS cluster, dist2 FROM a${Queries.KmeansIters}
         |ORDER BY vec_id""".stripMargin),

    "q_semdedup" -> Entry(qSemdedup _,
      s"""WITH ${kmeansCte(Queries.KmeansK, Queries.KmeansIters)},
         |nn AS (SELECT vec_id, qv, list_dot_product(qv, qv) norm2 FROM qk),
         |pairs AS (SELECT a.cl, a.vec_id id_a, b.vec_id id_b,
         |    list_dot_product(na.qv, nb.qv)/(sqrt(na.norm2)*sqrt(nb.norm2)) cos_sim
         |  FROM a${Queries.KmeansIters} a JOIN a${Queries.KmeansIters} b
         |    ON a.cl = b.cl AND a.vec_id < b.vec_id
         |  JOIN nn na ON a.vec_id = na.vec_id
         |  JOIN nn nb ON b.vec_id = nb.vec_id)
         |SELECT cl AS cluster, id_a, id_b, cos_sim FROM pairs
         |WHERE cos_sim >= 0.4 ORDER BY id_a, id_b""".stripMargin),

    "q_avro_decode" -> Entry(qAvroDecode _,
      """SELECT doc_id, lang, source, n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  substr(text, 1, 40) AS prefix
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    "q1_agg" -> Entry((s, d) => q1Agg(s, d),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    "q_filter_jsonpath" -> Entry((s, d) => qFilterJsonpath(s, d),
      """SELECT event_id, event_type, json_extract_string(props, '$.k') AS k
        |FROM events
        |WHERE event_type IN ('purchase','click')
        |  AND json_extract_string(props, '$.k') IN ('1','2','3')
        |ORDER BY event_id""".stripMargin),

    // Mirrors qFilterJsonpathDeep's nested doc arithmetically: items[i] has
    // id=i, amount=(event_id%97)*(i+1) for i in 0..event_id%3; meta.user =
    // (user_id, user_id%7==0). Each JSONPath flag reduces to the same
    // membership test computed with DuckDB list lambdas.
    "q_filter_jsonpath_deep" -> Entry(qFilterJsonpathDeep _,
      """SELECT event_id,
        |  user_id IN (1,2,3,4,5,6,7,8,9) AS f_dotted,
        |  len(list_filter(generate_series(0, event_id % 3),
        |      i -> (event_id % 97) * (i + 1) IN (96, 192))) > 0 AS f_wild,
        |  (event_id % 3 >= 1) AND (event_id % 97) * 2 IN (48, 96) AS f_index,
        |  len(list_filter(generate_series(0, event_id % 3),
        |      i -> (event_id % 97) * (i + 1) > 150 AND i IN (1, 2))) > 0 AS f_pred,
        |  (event_id % 3 = 2) OR (user_id = 2) AS f_rec,
        |  user_id % 7 = 0 AS f_vip
        |FROM events
        |ORDER BY event_id""".stripMargin),

    "q_mask_project" -> Entry(qMaskProject _,
      "SELECT doc_id, text, lang FROM documents ORDER BY doc_id"),

    "q_route_topics" -> Entry(qRouteTopics _,
      """SELECT event_id, event_type AS topic,
        |  CASE WHEN event_type = 'purchase' THEN 'sub-01'
        |       WHEN event_type = 'click' THEN 'sub-02'
        |       ELSE 'sub-03' END AS sub_id,
        |  CASE WHEN event_type = 'purchase' THEN '_aether/entities/' || event_type
        |       WHEN event_type = 'click' THEN '_aether/clicks/' || event_type
        |       ELSE '_aether/all/' || event_type END AS target_path
        |FROM events
        |ORDER BY event_id""".stripMargin),

    "q_hash_canonical" -> Entry(qHashCanonical _,
      """SELECT doc_id,
        |  substr(md5('{"doc_id": ' || doc_id || ', "lang": "' || lang ||
        |             '", "source": "' || source || '"}'), 1, 16) AS doc_hash
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    "q_sync_antijoin" -> Entry(qSyncAntijoin _,
      """WITH incoming AS (
        |  SELECT doc_id,
        |    substr(md5('{"doc_id": ' || doc_id || ', "lang": "' || lang ||
        |               '", "source": "' || source || '"}'), 1, 16) AS doc_hash
        |  FROM documents
        |), store AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN doc_hash
        |         ELSE substr(md5('stale-' || doc_id), 1, 16) END AS doc_hash
        |  FROM incoming WHERE doc_id % 3 < 2
        |)
        |SELECT i.doc_id, i.doc_hash FROM incoming i
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM store s
        |  WHERE s.doc_id = i.doc_id AND s.doc_hash = i.doc_hash)
        |ORDER BY i.doc_id""".stripMargin),

    "q_join_broadcast" -> Entry((s, d) => qJoinBroadcast(s, d),
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin),

    "q_join_shuffle" -> Entry((s, d) => qJoinShuffle(s, d),
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_discount > 0.02 AND o_orderstatus <> 'F'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // rank ties broken by token string; coverage in ppm via integer
    // floor division — no float ratio crosses the engines
    "q_vocab_coverage" -> Entry(qVocabCoverage _,
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok, COUNT(*) AS c FROM t WHERE tok <> '' GROUP BY tok),
        |r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rk FROM c)
        |SELECT CAST(1000 AS BIGINT) AS k,
        |  CAST(SUM(CASE WHEN rk <= 1000 THEN c ELSE 0 END) AS BIGINT) AS covered,
        |  CAST(SUM(c) AS BIGINT) AS total,
        |  COUNT(*) AS n_types,
        |  (CAST(SUM(CASE WHEN rk <= 1000 THEN c ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(SUM(c) AS BIGINT) AS coverage_ppm
        |FROM r""".stripMargin),

    // µs timestamps on both sides (epoch_us == Spark's ts div 1000
    // for the ns-parquet column); the oracle joins by plain
    // inequality — binning must not change the result
    "q_interval_overlap" -> Entry((s, d) => qIntervalOverlapJoin(s, d),
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000 AS t_us FROM events),
        |p AS (SELECT user_id, event_id AS p_id, t_us AS p_lo,
        |    t_us + 3600000000 AS p_hi FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, event_id AS v_id, t_us AS v_lo,
        |    t_us + 1800000000 AS v_hi FROM e WHERE event_type = 'view'),
        |ov AS (SELECT DISTINCT p.user_id, p_id, v_id
        |  FROM p JOIN v ON p.user_id = v.user_id
        |  WHERE p_lo < v_hi AND v_lo < p_hi)
        |SELECT user_id, COUNT(*) AS n_overlaps,
        |  MIN(p_id * 100000 + v_id) AS min_pair
        |FROM ov GROUP BY user_id ORDER BY user_id""".stripMargin),

    // integer-ppm arithmetic end to end (1e6·C(bg) // C(prefix),
    // then // n_bigrams) — exact in both engines, no float drift;
    // DuckDB zips parallel unnests of the two shifted token slices
    "q_ngram_lm_score" -> Entry(qNgramLmScore _,
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest(toks[1:len(toks)-1]) AS w1,
        |    unnest(toks[2:len(toks)]) AS w2
        |  FROM toks WHERE len(toks) >= 2),
        |bc AS (SELECT w1, w2, COUNT(*) AS c_bg FROM bg GROUP BY w1, w2),
        |pc AS (SELECT w1, CAST(SUM(c_bg) AS BIGINT) AS c_pref FROM bc GROUP BY w1),
        |sc AS (SELECT doc_id, (c_bg * 1000000) // c_pref AS cond_ppm
        |  FROM bg JOIN bc USING (w1, w2) JOIN pc USING (w1))
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(CAST(SUM(cond_ppm) AS BIGINT) // COUNT(*) AS BIGINT) AS familiarity_ppm
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // a span is duplicated iff its 8-token window hash occurs in
    // >= 2 distinct docs; COUNT(d.h) over the left join counts the
    // doc's duplicated windows
    "q_dup_spans" -> Entry(qDupSpans _,
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents),
        |w AS (SELECT doc_id,
        |    unnest(list_transform(range(0, len(toks)-7),
        |      i -> md5(array_to_string(toks[i+1:i+8], ' ')))) AS h
        |  FROM toks WHERE len(toks) >= 8),
        |d AS (SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2)
        |SELECT w.doc_id, COUNT(*) AS n_windows,
        |  CAST(COUNT(d.h) AS BIGINT) AS n_dup,
        |  (CAST(COUNT(d.h) AS BIGINT) * 1000000) // COUNT(*) AS dup_ppm
        |FROM w LEFT JOIN d ON w.h = d.h
        |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin),

    // struct min/max mirrors Spark's lexicographic arg-min with
    // (t, event_id) tie-break exactly
    "q_ohlc_bars" -> Entry(qOhlcBars _,
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS t, event_id, value,
        |    (epoch_ns(ts) // 1000) // 3600000000 AS hour FROM events)
        |SELECT event_type, hour,
        |  (MIN(struct_pack(t := t, event_id := event_id, value := value))).value AS open,
        |  (MAX(struct_pack(t := t, event_id := event_id, value := value))).value AS close,
        |  MAX(value) AS high, MIN(value) AS low, COUNT(*) AS volume
        |FROM e GROUP BY event_type, hour
        |ORDER BY event_type, hour""".stripMargin),

    // the identical generated div/mod Morton formula, DuckDB spelling
    "q_zorder_layout" -> Entry(qZorderLayout _,
      s"""WITH q AS (SELECT l_partkey % ${ZorderSql.DimMod} AS px,
         |    l_suppkey % ${ZorderSql.DimMod} AS sx
         |    FROM lineitem),
         |z AS (SELECT px, sx, ${ZorderSql.zExpr("px", "sx", spark = false)} AS z
         |    FROM q)
         |SELECT z // ${ZorderSql.FileZRange} AS fid, COUNT(*) AS n_rows,
         |  MIN(px) AS min_p, MAX(px) AS max_p,
         |  MIN(sx) AS min_s, MAX(sx) AS max_s
         |FROM z GROUP BY fid ORDER BY fid""".stripMargin),

    // streaming first-fit: bin = cum-bytes-before // target, per
    // event_type partition
    "q_compaction_plan" -> Entry(qCompactionPlan _,
      """WITH f AS (SELECT event_type,
        |    (epoch_ns(ts) // 1000) // 86400000000 AS day, COUNT(*) AS bytes
        |  FROM events GROUP BY event_type, day),
        |b AS (SELECT *,
        |    CAST(COALESCE(SUM(bytes) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      // 500 AS bin
        |  FROM f)
        |SELECT event_type, bin, COUNT(*) AS n_files,
        |  CAST(SUM(bytes) AS BIGINT) AS total_bytes,
        |  MIN(day) AS min_day, MAX(day) AS max_day
        |FROM b GROUP BY event_type, bin
        |ORDER BY event_type, bin""".stripMargin),

    // O(n²) strict-dominance oracle for the window-based skyline
    "q_skyline_2d" -> Entry(qSkyline2d _,
      """WITH p AS (SELECT user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x,
        |    COUNT(*) AS y
        |  FROM events GROUP BY user_id)
        |SELECT user_id, x, y FROM p
        |WHERE NOT EXISTS (SELECT 1 FROM p q
        |  WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
        |ORDER BY user_id""".stripMargin),

    // lead() over the per-key changelog; deletes close versions
    // without emitting one
    "q_cdc_scd2" -> Entry(qCdcScd2 _,
      """WITH c AS (SELECT user_id, epoch_ns(ts) // 1000 AS t, event_id, value,
        |    CASE WHEN value < 5 THEN 'D' ELSE 'U' END AS op FROM events),
        |v AS (SELECT *, LEAD(t) OVER (PARTITION BY user_id
        |    ORDER BY t, event_id) AS valid_to FROM c)
        |SELECT user_id, event_id, t AS valid_from, valid_to, value AS val,
        |  (valid_to IS NULL) AS is_current
        |FROM v WHERE op = 'U'
        |ORDER BY user_id, valid_from, event_id""".stripMargin),

    // independent oracle formulation: correlated latest-change-before
    // subquery (tombstones read NULL) vs the union+window merge
    "q_pit_join" -> Entry(qPitJoin _,
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS t, event_id,
        |    event_type, value FROM events),
        |c AS (SELECT user_id, t, event_id,
        |    CASE WHEN value < 5 THEN NULL ELSE value END AS v
        |  FROM e WHERE event_type <> 'purchase'),
        |f AS (SELECT user_id, t, event_id FROM e WHERE event_type = 'purchase')
        |SELECT f.user_id, f.event_id, f.t,
        |  (SELECT v.v FROM c v WHERE v.user_id = f.user_id
        |     AND (v.t, v.event_id) < (f.t, f.event_id)
        |   ORDER BY v.t DESC, v.event_id DESC LIMIT 1) AS profile_val
        |FROM f ORDER BY user_id, event_id""".stripMargin),

    // from-scratch rollup: the MV rewrite must be value-invisible
    "q_mv_rewrite" -> Entry(qMvRewrite _,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // from-scratch coarse aggregate: the roll-up over the fine MV
    // must be value-identical (integer-cent measures, exact)
    "q_mv_rollup" -> Entry(qMvRollup _,
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_qty_cents,
        |  COUNT(*) AS n_rows,
        |  MIN(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS min_price_cents,
        |  MAX(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS max_price_cents
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // from-scratch avg in exact HUGEINT arithmetic: Spark's decimal
    // avg rounds S/N half-up at scale 6, i.e. micros =
    // floor((2*cents*10^4 + n) / (2n)) for positive sums — the MV
    // avg roll-up must reproduce it bit-exactly
    "q_mv_rollup_avg" -> Entry(qMvRollupAvg _,
      """WITH g AS (SELECT l_returnflag,
        |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS sc,
        |    COUNT(*) AS n
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  CAST((2 * sc * 10000 + n) // (2 * n) AS BIGINT) AS avg_price_micros,
        |  CAST(n AS BIGINT) AS n_rows
        |FROM g ORDER BY l_returnflag""".stripMargin),

    // two leads over the per-user order; count unique per triple so
    // (n DESC, e1, e2, e3) is a total order
    "q_event_paths" -> Entry((s, d) => qEventPaths(s, d),
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS t, event_id,
        |    event_type FROM events),
        |p AS (SELECT event_type AS e1,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id) AS e2,
        |    LEAD(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id) AS e3
        |  FROM e)
        |SELECT e1, e2, e3, COUNT(*) AS n FROM p
        |WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY e1, e2, e3
        |ORDER BY n DESC, e1, e2, e3 LIMIT 10""".stripMargin),

    // full dimension chain; decimal-routed revenue for exactness
    "q_star_join" -> Entry(qStarJoin _,
      """SELECT r_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM region
        |JOIN nation   ON r_regionkey = n_regionkey
        |JOIN customer ON n_nationkey = c_nationkey
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),

    // same drift construction; IS NOT DISTINCT FROM = Spark's <=>
    "q_table_diff" -> Entry(qTableDiff _,
      """WITH l AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    o_totalprice AS tp FROM orders),
        |r AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1
        |         ELSE o_totalprice END AS tp
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000 AS k, o_orderstatus AS st,
        |    o_totalprice AS tp FROM orders WHERE o_orderkey % 101 = 0),
        |j AS (SELECT COALESCE(l.k, r.k) AS k,
        |    l.k IS NOT NULL AS has_l, r.k IS NOT NULL AS has_r,
        |    l.st IS NOT DISTINCT FROM r.st
        |      AND l.tp IS NOT DISTINCT FROM r.tp AS eq
        |  FROM l FULL OUTER JOIN r ON l.k = r.k)
        |SELECT CASE WHEN NOT has_l THEN 'added'
        |            WHEN NOT has_r THEN 'removed'
        |            WHEN eq THEN 'same' ELSE 'changed' END AS class,
        |  COUNT(*) AS n, MIN(k) AS min_key, MAX(k) AS max_key
        |FROM j GROUP BY class ORDER BY class""".stripMargin),

    // the distributed prefix-sum assignment must equal the global
    // row_number exactly
    "q_dense_ids" -> Entry(qDenseIds _,
      """SELECT doc_id,
        |  ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS dense_id
        |FROM documents ORDER BY doc_id""".stripMargin),

    // staged funnel mins carried through user-keyed aggregates;
    // COUNT(col) skips the users who never reach a stage
    "q_funnel" -> Entry((s, d) => qFunnel(s, d),
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_ns(ts) // 1000 AS t FROM events),
        |s1 AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN t END) AS t_signup
        |  FROM e GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(t_signup) AS t_signup,
        |    MIN(CASE WHEN event_type = 'click' AND t >= t_signup THEN t END) AS t_click
        |  FROM e JOIN s1 USING (user_id) GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(t_signup) AS t_signup, MIN(t_click) AS t_click,
        |    MIN(CASE WHEN event_type = 'purchase' AND t >= t_click THEN t END) AS t_purchase
        |  FROM e JOIN s2 USING (user_id) GROUP BY e.user_id)
        |SELECT COUNT(t_signup) AS n_signup,
        |  COUNT(t_click) AS n_click_after_signup,
        |  COUNT(t_purchase) AS n_purchase_after_click
        |FROM s3""".stripMargin),

    "q_cohort_retention" -> Entry(qCohortRetention _,
      """WITH e AS (SELECT DISTINCT user_id,
        |    (epoch_ns(ts) // 1000) // 604800000000 AS week FROM events),
        |first AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY user_id)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |  COUNT(DISTINCT e.user_id) AS n_active
        |FROM e JOIN first USING (user_id)
        |WHERE week - cohort_week <= 8
        |GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin),

    // the same recursion, dialect-shared syntax — the engines must
    // reach the same fixpoint
    "q_recursive_cte" -> Entry(qRecursiveCte _,
      """WITH RECURSIVE u AS (SELECT DISTINCT user_id FROM events),
        |tree(user_id, depth) AS (
        |  SELECT user_id, CAST(0 AS BIGINT) AS depth FROM u WHERE user_id = 1
        |  UNION ALL
        |  SELECT c.user_id, t.depth + 1
        |  FROM tree t JOIN u c
        |    ON CAST(FLOOR(c.user_id / 2.0) AS BIGINT) = t.user_id
        |   AND c.user_id > t.user_id)
        |SELECT depth, COUNT(*) AS n_users,
        |  MIN(user_id) AS min_id, MAX(user_id) AS max_id
        |FROM tree GROUP BY depth ORDER BY depth""".stripMargin),

    // the same three damped iterations unrolled as CTEs; all integer
    // (ppb ranks, floor division) so both engines agree bit-for-bit
    "q_pagerank" -> Entry(qPagerank _,
      """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sup
        |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c AS src, sup AS dst FROM e0
        |          UNION ALL SELECT sup AS src, c AS dst FROM e0),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
        |nc AS (SELECT COUNT(*) AS n FROM nodes),
        |r0 AS (SELECT node, 1000000000 // (SELECT n FROM nc) AS r FROM nodes),
        |c1 AS (SELECT e.dst, CAST(SUM(r0.r // deg.d) AS BIGINT) AS contrib
        |       FROM edges e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT nodes.node,
        |         150000000 // (SELECT n FROM nc) + (85 * COALESCE(c1.contrib, 0)) // 100 AS r
        |       FROM nodes LEFT JOIN c1 ON nodes.node = c1.dst),
        |c2 AS (SELECT e.dst, CAST(SUM(r1.r // deg.d) AS BIGINT) AS contrib
        |       FROM edges e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT nodes.node,
        |         150000000 // (SELECT n FROM nc) + (85 * COALESCE(c2.contrib, 0)) // 100 AS r
        |       FROM nodes LEFT JOIN c2 ON nodes.node = c2.dst),
        |c3 AS (SELECT e.dst, CAST(SUM(r2.r // deg.d) AS BIGINT) AS contrib
        |       FROM edges e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT nodes.node,
        |         150000000 // (SELECT n FROM nc) + (85 * COALESCE(c3.contrib, 0)) // 100 AS r
        |       FROM nodes LEFT JOIN c3 ON nodes.node = c3.dst)
        |SELECT node, CAST(r AS BIGINT) AS rank_ppb FROM r3 ORDER BY node""".stripMargin),

    // brute-force 3-way-join triangle enumeration (a<b<c): the degree-
    // oriented DAG enumeration must find the identical triangle set
    "q_triangle_count" -> Entry(qTriangleCount _,
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS sn FROM lineitem),
        |e AS (SELECT DISTINCT x.sn AS u, y.sn AS v
        |      FROM li x JOIN li y ON x.o = y.o AND x.sn < y.sn),
        |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |      FROM e e1 JOIN e e2 ON e2.u = e1.v
        |      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |p AS (SELECT a AS supp_id FROM t
        |      UNION ALL SELECT b FROM t
        |      UNION ALL SELECT c FROM t)
        |SELECT supp_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |FROM p GROUP BY supp_id
        |ORDER BY n_triangles DESC, supp_id LIMIT 20""".stripMargin),

    // ANSI RANGE frames include value peers in both engines; cents
    // ride integers so the rolling sum is bit-exact
    "q_rolling_window" -> Entry(qRollingWindow _,
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events)
        |SELECT user_id, event_id, t,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(SUM(cents) OVER w AS BIGINT) AS sum_cents_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY t
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin),

    // null corner rules: COUNT(col) skips nulls, <=> is IS NOT
    // DISTINCT FROM, NULLIF(x,0), aggregates skip nulls
    "q_null_semantics" -> Entry(qNullSemantics _,
      """WITH o AS (SELECT *, CASE WHEN o_orderkey % 5 = 0
        |    THEN o_totalprice END AS p5 FROM orders)
        |SELECT o_orderstatus,
        |  COUNT(*) AS n_rows,
        |  COUNT(p5) AS n_nonnull,
        |  CAST(SUM(CASE WHEN p5 IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_null,
        |  CAST(SUM(CAST(COALESCE(p5, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_coalesced,
        |  CAST(SUM(NULLIF(o_orderkey % 5, 0)) AS BIGINT) AS sum_nullif,
        |  MIN(p5) AS min_skipnull
        |FROM o GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // identical multiplicative predicate — every comparand exactly
    // representable, so decorrelation vs direct evaluation agree
    "q_correlated_subquery" -> Entry(qCorrelatedSubquery _,
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice * (
        |    SELECT COUNT(*) FROM orders o2
        |    WHERE o2.o_custkey = o.o_custkey)
        |  > 2 * (
        |    SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) FROM orders o2
        |    WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin),

    // merge ≡ recompute for associative stats: the oracle just
    // aggregates the whole table
    "q_incremental_agg" -> Entry(qIncrementalAgg _,
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // DuckDB sees the ns timestamps via epoch_ns; integer hour ids on
    // both sides, generate_series/sequence both inclusive
    "q_gapfill" -> Entry((s, d) => qGapFill(s, d),
      """WITH h AS (SELECT user_id, epoch_ns(ts) // 3600000000000 AS hr,
        |    COUNT(*) AS n_obs
        |  FROM events WHERE user_id < 50 GROUP BY 1, 2),
        |b AS (SELECT user_id, MIN(hr) AS mn, MAX(hr) AS mx FROM h GROUP BY 1),
        |g AS (SELECT user_id, unnest(generate_series(mn, mx)) AS hr FROM b)
        |SELECT g.user_id, g.hr, COALESCE(h.n_obs, 0) AS n
        |FROM g LEFT JOIN h ON g.user_id = h.user_id AND g.hr = h.hr
        |ORDER BY g.user_id, g.hr""".stripMargin),

    // all-integer lambdas: filter/transform/aggregate mirror
    // list_filter/list_transform/list_aggregate exactly
    "q_array_fns" -> Entry(qArrayFns _,
      """WITH a AS (SELECT l_orderkey,
        |    list_sort(list(CAST(l_quantity AS BIGINT))) AS qs
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey,
        |  CAST(len(list_filter(qs, x -> x >= 25)) AS BIGINT) AS n_big,
        |  CAST(list_aggregate(list_transform(qs, x -> x * 2), 'sum') AS BIGINT) AS dbl_sum,
        |  qs[1] AS min_q
        |FROM a ORDER BY l_orderkey""".stripMargin),

    // the relational equivalent of the map build/filter/rescale —
    // the oracle never constructs a map, which is the point
    "q_map_fns" -> Entry(qMapFns _,
      """SELECT user_id, event_type,
        |  CAST(COUNT(*) * 10 AS BIGINT) AS n_x10
        |FROM events
        |GROUP BY user_id, event_type
        |HAVING COUNT(*) >= 2
        |ORDER BY user_id, event_type""".stripMargin),

    // the bitmap two-level aggregation is exchange-shape only — the
    // oracle is the plain distinct count it replaces
    "q_bitmap_distinct" -> Entry(qBitmapDistinct _,
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // same path extraction through DuckDB's JSON operators; SUM over
    // BIGINT is HUGEINT in DuckDB, so cast back (oracle-parity rule)
    "q_variant_extract" -> Entry(qVariantExtract _,
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
        |FROM events
        |WHERE CAST(props->>'$.k' AS BIGINT) % 7 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // the XML fragment is built from and parsed back to these exact
    // columns — the oracle selects them directly
    "q_xml_roundtrip" -> Entry(qXmlRoundtrip _,
      """SELECT s_suppkey, s_suppkey AS k, s_name, s_nationkey
        |FROM supplier ORDER BY s_suppkey""".stripMargin),

    // CASE guards spell try_* semantics at the same ~1% poison rate
    // (prime-keyed overflow / zero-divisor lanes); clean-lane
    // arithmetic fits BIGINT in both engines, so no HUGEINT detour
    // is needed and the guarded NULLs line up row-for-row
    "q_try_fns" -> Entry(qTryFns _,
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 97 <> 96 THEN o_orderkey * 1000 + o_custkey
        |  END AS t_add,
        |  CASE WHEN o_orderkey % 101 <> 100 THEN o_orderkey * 1000003
        |  END AS t_mul,
        |  CASE WHEN o_orderkey % 103 <> 0 THEN o_orderkey % (o_custkey % 7 + 1)
        |  END AS t_mod,
        |  CASE WHEN o_orderkey % 107 <> 0 THEN
        |    CAST(o_orderkey AS DOUBLE) / CAST(o_custkey % 4 + 1 AS DOUBLE)
        |  END AS t_div
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // the rank-k element VALUE is unique regardless of tie order, so
    // ROW_NUMBER's arbitrary tie-break is safe; ceil(q*n) mirrors the
    // Spark-side rank rule exactly
    "q_quantile_global" -> Entry((s, d) => qQuantileGlobal(s, d),
      """WITH ranked AS (SELECT l_extendedprice AS v,
        |    ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT q, v FROM (
        |  SELECT CAST(0.5 AS DOUBLE) AS q, v FROM ranked
        |    WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
        |  UNION ALL
        |  SELECT CAST(0.95 AS DOUBLE) AS q, v FROM ranked
        |    WHERE rn = CAST(ceil(0.95 * n) AS BIGINT))
        |ORDER BY q""".stripMargin),

    // round-trips go through Spark's CSV/JSON writers and readers;
    // the oracle reads the original parquet, so a hash-match proves
    // the file-format path is lossless
    "q_source_csv" -> Entry(qSourceCsv _,
      """SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),

    "q_source_json" -> Entry(qSourceJson _,
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // aggregates the original parquet; the ORC write+read round-trip
    // must be value-invisible
    "q_source_orc" -> Entry(qSourceOrc _,
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  MAX(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // the oracle synthesizes the writer's schema evolution with a
    // CASE: early rows (pre-cut) never carried the column
    "q_schema_evolution" -> Entry(qSchemaEvolution _,
      """SELECT CASE WHEN o_orderdate < DATE '1998-01-01' THEN NULL
        |    ELSE o_orderpriority END AS o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders
        |GROUP BY 1 ORDER BY o_orderpriority NULLS FIRST""".stripMargin),

    // partition layout is IO-elision only — the oracle filters the
    // unpartitioned table (also proves the partitioned round-trip)
    "q_partitioned_scan" -> Entry(qPartitionedScan _,
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // the bucketed layout is exchange-elision only — the oracle is
    // the same join+agg on the raw parquet (also proves the bucketed
    // write/read round-trip is lossless)
    "q_bucketed_join" -> Entry(qBucketedJoin _,
      """SELECT o.o_orderkey AS okey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |  MIN(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS price_cents
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderkey
        |ORDER BY okey""".stripMargin),

    // round-trips documents through the DSv2 document-store scan;
    // the oracle is the same rollup on the original table
    "q_source_cfs" -> Entry(qSourceCfs _,
      """SELECT 'col_' || source AS collection, lang,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM (SELECT DISTINCT source, doc_id, lang, n_chars FROM documents)
        |GROUP BY source, lang
        |ORDER BY collection, lang""".stripMargin),

    // Bloom pruning has no false negatives and the real join runs
    // after it, so the oracle is the plain join — the filter is pure
    // exchange-volume optimization
    "q_bloom_join" -> Entry(qBloomJoin _,
      """SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
        |GROUP BY 1 ORDER BY month""".stripMargin),

    "q_join_semi" -> Entry(qJoinSemi _,
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin),

    "q_join_anti" -> Entry(qJoinAnti _,
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
        |ORDER BY o_orderkey""".stripMargin),

    "q_window_funcs" -> Entry(qWindowFuncs _,
      """SELECT event_id, user_id,
        |  ROW_NUMBER() OVER w AS rn,
        |  LAG(value, 1) OVER w AS prev_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin),

    // rank-ratio doubles are exact rationals of small ints — bit-equal
    // across engines; ntile follows the standard first-buckets-get-+1
    // rule on both
    "q_window_ranks" -> Entry((s, d) => qWindowRanks(s, d),
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drank,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  PERCENT_RANK() OVER w AS prank,
        |  CUME_DIST() OVER w AS cdist,
        |  LEAD(o_totalprice, 1) OVER w AS next_price,
        |  FIRST_VALUE(o_totalprice) OVER w AS top_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin),

    // DuckDB ASC defaults to NULLS LAST where Spark defaults FIRST —
    // spelled out explicitly on both sides
    "q_grouping_sets" -> Entry(qGroupingSets _,
      """SELECT n_name, o_orderstatus,
        |  CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name, o_orderstatus), (n_name), ())
        |ORDER BY g_nation, g_status, n_name NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin),

    "q_topk" -> Entry(qTopK _,
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    "q_topk_grouped" -> Entry((s, d) => qTopkGrouped(s, d),
      """SELECT event_type, rk, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS rk
        |  FROM events)
        |WHERE rk <= 5
        |ORDER BY event_type, rk""".stripMargin),

    // the identical LATERAL shape — DuckDB also supports correlated
    // lateral ORDER BY/LIMIT subqueries
    "q_lateral_topk" -> Entry((s, d) => qLateralTopk(s, d),
      """SELECT n.n_name AS nation, t.c_name AS cust_name,
        |  CAST(CAST(t.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents
        |FROM nation n,
        |LATERAL (SELECT c_name, c_acctbal FROM customer c
        |         WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        |ORDER BY nation, bal_cents DESC, cust_name""".stripMargin),

    "q_distinct" -> Entry(qDistinct _,
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin),

    "q_setops" -> Entry(qSetOps _,
      """(SELECT user_id FROM events WHERE event_type = 'purchase'
        | INTERSECT
        | SELECT user_id FROM events WHERE event_type = 'click')
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'error' AND value > 190
        |ORDER BY user_id""".stripMargin),

    "q_scalar_fns" -> Entry(qScalarFns _,
      """SELECT p_partkey,
        |  UPPER(p_brand) AS brand_u,
        |  SUBSTR(p_name, 1, 8) AS name8,
        |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        |  p_brand || '|' || p_type AS brand_type,
        |  CAST(p_size % 7 AS BIGINT) AS size_mod,
        |  CAST(ABS(p_size - 25) AS BIGINT) AS size_dist,
        |  CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
        |  CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil
        |FROM part
        |ORDER BY p_partkey""".stripMargin),

    // wide→long as explicit UNION ALL (the dialect-portable dual of
    // Spark's stack generator)
    "q_unpivot" -> Entry(qUnpivot _,
      """SELECT p_partkey, 'retail_cents' AS metric,
        |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS val
        |FROM part
        |UNION ALL
        |SELECT p_partkey, 'size', CAST(p_size AS BIGINT) FROM part
        |ORDER BY p_partkey, metric""".stripMargin),

    // bucket arithmetic is integer-exact with data-derived bounds
    "q_histogram" -> Entry(qHistogram _,
      """WITH c AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |           FROM lineitem),
        |b AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx FROM c)
        |SELECT LEAST(CAST(19 AS BIGINT), ((cents - mn) * 20) // (mx - mn + 1)) AS bucket,
        |  COUNT(*) AS n_rows, MIN(cents) AS lo_cents, MAX(cents) AS hi_cents
        |FROM c, b
        |GROUP BY 1 ORDER BY bucket""".stripMargin),

    // exact HUGEINT sufficient statistics; the SAME truncating
    // integer-division chains as the Spark side derive the results
    // (r² normalized by n² so every quotient is intensive)
    "q_regression" -> Entry(qRegression _,
      """WITH s0 AS (SELECT
        |    CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS sx,
        |    CAST(SUM(y) AS HUGEINT) AS sy,
        |    CAST(SUM(CAST(x AS HUGEINT)*y) AS HUGEINT) AS sxy,
        |    CAST(SUM(CAST(x AS HUGEINT)*x) AS HUGEINT) AS sxx,
        |    CAST(SUM(CAST(y AS HUGEINT)*y) AS HUGEINT) AS syy
        |  FROM (SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS x,
        |               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |        FROM lineitem)),
        |s AS (SELECT n, sx, sy,
        |    n*sxy - sx*sy AS a, n*sxx - sx*sx AS b, n*syy - sy*sy AS c
        |  FROM s0)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST((a * 1000000) // b AS BIGINT) AS slope_micro,
        |  CAST((sy * 1000000 - ((a * 1000000) // b) * sx) // n AS BIGINT)
        |    AS intercept_micro_cents,
        |  CAST((((a * 1000000000) // (n * n)) * ((a * 1000000000) // (n * n)) * 3000)
        |    // (((b * 100000000) // (n * n)) * ((c * 30000) // (n * n)))
        |    AS BIGINT) AS r2_ppb
        |FROM s""".stripMargin),

    // one-scan profile; long form as UNION ALL rows
    "q_profile" -> Entry(qProfile _,
      """WITH s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_name,
        |  CAST(COUNT(DISTINCT c_name) AS BIGINT) AS nd_name,
        |  CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_seg,
        |  CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS nd_seg,
        |  CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_nat,
        |  CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS nd_nat,
        |  CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_bal,
        |  CAST(COUNT(DISTINCT c_acctbal) AS BIGINT) AS nd_bal,
        |  MIN(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS min_bal_cents,
        |  MAX(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS max_bal_cents
        |  FROM customer)
        |SELECT t.* , s.n_rows FROM s, LATERAL (
        |  SELECT 'c_name' AS column_name, nn_name AS n_nulls, nd_name AS n_distinct,
        |         CAST(NULL AS BIGINT) AS min_cents, CAST(NULL AS BIGINT) AS max_cents
        |  UNION ALL SELECT 'c_mktsegment', nn_seg, nd_seg, NULL, NULL
        |  UNION ALL SELECT 'c_nationkey', nn_nat, nd_nat, NULL, NULL
        |  UNION ALL SELECT 'c_acctbal', nn_bal, nd_bal, min_bal_cents, max_bal_cents) t
        |ORDER BY column_name""".stripMargin),

    // the change feed is rebuilt from the same deterministic rules
    "q_merge_upsert" -> Entry(qMergeUpsert _,
      """WITH base AS (SELECT c_custkey AS k,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM customer),
        |ch AS (
        |  SELECT k, CASE WHEN k % 97 = 0 THEN 'D' ELSE 'U' END AS op,
        |    cents + 100 AS new_cents
        |  FROM base WHERE k % 97 = 0 OR k % 2 = 1
        |  UNION ALL
        |  SELECT k + 10000000, 'I', CAST(5000 AS BIGINT) FROM base WHERE k % 1000 = 7)
        |SELECT k, COALESCE(c.new_cents, b.cents) AS cents,
        |  COALESCE(c.op, 'K') AS action
        |FROM base b FULL JOIN ch c USING (k)
        |WHERE c.op IS NULL OR c.op <> 'D'
        |ORDER BY k""".stripMargin),

    // 3 unrolled peel rounds; the engine's early-stop at the fixpoint
    // is invisible because post-convergence rounds are no-ops.
    // MATERIALIZED is load-bearing: each round references the previous
    // CTE 4x, and DuckDB inlines multiply-referenced CTEs by default —
    // the chain re-evaluates the 6M-row distinct join exponentially
    // (measured at sf1: >75 GB of spill then disk-full abort at 588 s;
    // with the hints, 2.7 s). Semantics identical.
    "q_kcore" -> Entry(qKcore _,
      """WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey*2 AS u, l_suppkey*2+1 AS v
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |k1 AS MATERIALIZED (SELECT n FROM (SELECT n, COUNT(*) d FROM
        |  (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) GROUP BY n) WHERE d >= 34),
        |e1 AS MATERIALIZED (SELECT u, v FROM e0 WHERE u IN (SELECT n FROM k1) AND v IN (SELECT n FROM k1)),
        |k2 AS MATERIALIZED (SELECT n FROM (SELECT n, COUNT(*) d FROM
        |  (SELECT u AS n FROM e1 UNION ALL SELECT v FROM e1) GROUP BY n) WHERE d >= 34),
        |e2 AS MATERIALIZED (SELECT u, v FROM e1 WHERE u IN (SELECT n FROM k2) AND v IN (SELECT n FROM k2)),
        |k3 AS MATERIALIZED (SELECT n FROM (SELECT n, COUNT(*) d FROM
        |  (SELECT u AS n FROM e2 UNION ALL SELECT v FROM e2) GROUP BY n) WHERE d >= 34),
        |e3 AS MATERIALIZED (SELECT u, v FROM e2 WHERE u IN (SELECT n FROM k3) AND v IN (SELECT n FROM k3))
        |SELECT n AS node, COUNT(*) AS degree FROM
        |  (SELECT u AS n FROM e3 UNION ALL SELECT v FROM e3)
        |GROUP BY n ORDER BY node""".stripMargin),

    // rank-banded join: pairs within w ranks, per blocking segment
    "q_sorted_neighborhood" -> Entry(qSortedNeighborhood _,
      """WITH r AS (SELECT c_mktsegment AS seg, c_custkey AS k,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT), c_custkey) AS rn
        |  FROM customer)
        |SELECT a.seg AS seg, a.k AS k_a, b.k AS k_b, CAST(b.rn - a.rn AS BIGINT) AS gap
        |FROM r a JOIN r b ON a.seg = b.seg AND b.rn - a.rn BETWEEN 1 AND 3
        |ORDER BY 1, k_a, k_b""".stripMargin),

    // DuckDB regexp_replace needs the 'g' flag to match Spark's
    // replace-all; regexp_matches is the rlike dual
    "q_regex_fns" -> Entry(qRegexFns _,
      """SELECT doc_id,
        |  regexp_extract(text, '([A-Za-z]+)', 1) AS first_word,
        |  CAST(LENGTH(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT) AS novowel_len,
        |  regexp_matches(text, 'data') AS has_data,
        |  LPAD(CAST(doc_id AS VARCHAR), 8, '0') AS id_pad,
        |  REVERSE(lang) AS lang_rev,
        |  CASE WHEN text IS NULL THEN NULL
        |       ELSE split_part(text, ' ', 1) END AS head_tok
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    "q_rollup" -> Entry(qRollup _,
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin),

    "q_event_window" -> Entry(qEventWindow _,
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY hour_bucket, event_type
        |ORDER BY hour_bucket, event_type""".stripMargin),

    "q_dedup_exact" -> Entry((s, d) => qDedupExact(s, d),
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 100)
        |SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies, md5(text) AS text_hash
        |FROM all_docs
        |GROUP BY md5(text)
        |ORDER BY keeper_id""".stripMargin),

    "q_dedup_minhash" -> Entry(qDedupMinhash _, {
      val matches = (0 until Dedup.MinhashK)
        .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $minhashCte
         |SELECT id_a AS doc_a, id_b AS doc_b,
         |  CAST($matches AS DOUBLE) / ${Dedup.MinhashK} AS sim_est
         |FROM cand
         |JOIN sig sa ON id_a = sa.doc_id
         |JOIN sig sb ON id_b = sb.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin
    }),

    // Inverted-index token self-join (Σdf² cost, not O(n²)): COUNT(*)
    // over shared distinct shingles IS |A∩B|, and any pair passing the
    // threshold must share ≥1 shingle (I=0 ⇒ 2I≥U impossible for
    // non-empty sets), so the result set is pair-for-pair identical to
    // the brute-force cross join — verified against it at sf0.001/0.01
    // (and by ContainmentPropertySpec's in-engine brute force). The
    // rewrite exists because the O(n²) list_intersect oracle timed out
    // (>90 s) at sf0.1, leaving the 10× sweep unverifiable; this form
    // completes in ~2 s there. Still an independent check: DuckDB
    // hash-join+group-by vs the engine's PPJoin prefix filter.
    // doc_id-keyed set semantics — see q_containment_join (r17 dup sweep)
    "q_sim_join_exact" -> Entry(qSimJoinExact _,
      s"""WITH ${shingleCte.replace("FROM documents",
             "FROM (SELECT DISTINCT doc_id, text FROM documents)")},
         |f AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
         |tok AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM f)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(COUNT(*) AS BIGINT) AS inter_n,
         |  CAST(a.n + b.n - COUNT(*) AS BIGINT) AS union_n
         |FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id, a.n, b.n
         |HAVING 2 * COUNT(*) >= a.n + b.n - COUNT(*)
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Directional containment via the same inverted-index form (I=0 ⇒
    // 2I≥n_a impossible for n_a≥10, so dropping non-sharing pairs loses
    // nothing); replaces the >90 s O(n²) oracle at sf0.1
    "q_containment_join" -> Entry(qContainmentJoin _,
      // documents are keyed by doc_id: duplicate rows must not double
      // token multiplicities (set semantics — r17 dup sweep); mirrors
      // the engine's dropDuplicates(doc_id, text)
      s"""WITH ${shingleCte.replace("FROM documents",
             "FROM (SELECT DISTINCT doc_id, text FROM documents)")},
         |tok AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s
         |        FROM sh WHERE len(sh) > 0)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(COUNT(*) AS BIGINT) AS inter_n,
         |  CAST(a.n AS BIGINT) AS n_a
         |FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id != b.doc_id
         |WHERE a.n >= 10
         |GROUP BY a.doc_id, b.doc_id, a.n
         |HAVING 2 * COUNT(*) >= a.n
         |ORDER BY doc_a, doc_b""".stripMargin),

    // integer-exact DSIR: per-bigram-occurrence target/raw counts,
    // ranking emitted as truncated integer ppb (never a raw double —
    // double hashing diverges across engines), deterministic top-k.
    // DuckDB `//` on non-negative HUGEINTs truncates exactly like
    // Spark's decimal `div`.
    "q_dsir_resample" -> Entry(qDsirResample _,
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') w FROM documents),
        |bg AS (SELECT doc_id, lang, unnest(CASE WHEN len(w) >= 2 THEN
        |    list_transform(generate_series(1, len(w)-1), i -> w[i]||' '||w[i+1])
        |  ELSE [] END) AS bg FROM w),
        |ct AS (SELECT bg, COUNT(*) AS ct FROM bg WHERE lang = 'en' GROUP BY bg),
        |cr AS (SELECT bg, COUNT(*) AS cr FROM bg GROUP BY bg),
        |scored AS (SELECT doc_id,
        |    CAST(SUM(COALESCE(ct.ct, 0)) AS DECIMAL(38,0)) AS num_target,
        |    CAST(SUM(cr.cr) AS DECIMAL(38,0)) AS den_raw
        |  FROM bg JOIN cr USING (bg) LEFT JOIN ct USING (bg)
        |  GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(num_target AS BIGINT) AS num_target,
        |  CAST(den_raw AS BIGINT) AS den_raw,
        |  CAST(CAST(num_target AS HUGEINT) * 1000000000
        |    // CAST(den_raw AS HUGEINT) AS BIGINT) AS weight_ppb
        |FROM scored
        |ORDER BY weight_ppb DESC, doc_id
        |LIMIT 100""".stripMargin),

    // integer-exact domain mixture: ttr ppb via truncating division,
    // HUGEINT weight product (mirrors the decimal(38,0) internal),
    // largest-remainder seat assignment with (rem DESC, source) ties
    "q_domain_mix" -> Entry(qDomainMix _,
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |stats AS (SELECT source, COUNT(DISTINCT w) AS dw, COUNT(*) AS tw
        |          FROM w GROUP BY source),
        |nd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |b AS (SELECT source, n_docs, CAST(dw * 1000000000 // tw AS BIGINT) AS ttr_ppb
        |      FROM nd JOIN stats USING (source)),
        |e AS (SELECT *, ttr_ppb - MIN(ttr_ppb) OVER () AS excess FROM b),
        |wt AS (SELECT source, n_docs, ttr_ppb,
        |         CAST(n_docs AS HUGEINT) * (1000000000 + excess) AS weight FROM e),
        |alloc AS (SELECT *,
        |    CAST(weight * 10000 // SUM(weight) OVER () AS BIGINT) AS basealloc,
        |    weight * 10000 % SUM(weight) OVER () AS rem FROM wt),
        |r AS (SELECT *, SUM(basealloc) OVER () AS sumbase,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rn FROM alloc)
        |SELECT source, n_docs, ttr_ppb, CAST(weight AS BIGINT) AS weight,
        |  CAST(basealloc + CASE WHEN rn <= 10000 - sumbase THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc
        |FROM r ORDER BY source""".stripMargin),

    // same apportionment arithmetic with a scale-free budget (half the
    // corpus), then per-domain hash-rank selection; md5-of-id ordering
    // is byte-identical across engines
    "q_mix_materialize" -> Entry(qMixMaterialize _,
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |stats AS (SELECT source, COUNT(DISTINCT w) AS dw, COUNT(*) AS tw
        |          FROM w GROUP BY source),
        |nd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |b AS (SELECT source, n_docs, CAST(dw * 1000000000 // tw AS BIGINT) AS ttr_ppb
        |      FROM nd JOIN stats USING (source)),
        |e AS (SELECT *, ttr_ppb - MIN(ttr_ppb) OVER () AS excess FROM b),
        |wt AS (SELECT source, n_docs,
        |         CAST(n_docs AS HUGEINT) * (1000000000 + excess) AS weight,
        |         SUM(n_docs) OVER () // 2 AS budget FROM e),
        |al AS (SELECT *,
        |    CAST(weight * budget // SUM(weight) OVER () AS BIGINT) AS basealloc,
        |    weight * budget % SUM(weight) OVER () AS rem FROM wt),
        |r AS (SELECT *, SUM(basealloc) OVER () AS sumbase,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rn FROM al),
        |alloc AS (SELECT source,
        |    basealloc + CASE WHEN rn <= budget - sumbase THEN 1 ELSE 0 END AS alloc
        |  FROM r),
        |ranked AS (SELECT source, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |SELECT ranked.source AS source, doc_id, rk
        |FROM ranked JOIN alloc ON ranked.source = alloc.source
        |WHERE rk <= alloc
        |ORDER BY ranked.source, rk""".stripMargin),

    // paragraph = fixed 10-word block on this punctuation-free text;
    // first occurrence = smallest (doc_id, pos); reassembled-text md5
    // makes the surviving content scalar-comparable
    "q_paragraph_dedup" -> Entry(qParagraphDedup _,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |blk AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(0, (len(w)-1)//10),
        |      i -> {'pos': i, 'blk': array_to_string(w[(i*10+1):(i*10+10)], ' ')})) AS u
        |  FROM w),
        |b AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.blk AS blk FROM blk),
        |r AS (SELECT doc_id, pos, blk,
        |    ROW_NUMBER() OVER (PARTITION BY md5(blk) ORDER BY doc_id, pos) AS rn
        |  FROM b)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_blocks,
        |  md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN blk END, ' ' ORDER BY pos), ''))
        |    AS kept_hash
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // lift ratio in exact integer ppm (log is monotone, so the PMI
    // ranking is preserved without evaluating any transcendental);
    // HUGEINT mirrors the engine's decimal(38,0) envelope
    "q_pmi_collocations" -> Entry(qPmiCollocations _,
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT t, COUNT(*) AS c1
        |        FROM (SELECT unnest(w) AS t FROM w) GROUP BY t),
        |bg AS (SELECT unnest(CASE WHEN len(w) >= 2 THEN
        |    list_transform(generate_series(1, len(w)-1), i -> {'x': w[i], 'y': w[i+1]})
        |  ELSE [] END) AS b FROM w),
        |bgc AS (SELECT b.x AS x, b.y AS y, COUNT(*) AS pair_n FROM bg GROUP BY 1, 2),
        |tot AS (SELECT SUM(len(w)) AS n_w, SUM(greatest(len(w)-1, 0)) AS n_bg FROM w)
        |SELECT x, y, CAST(pair_n AS BIGINT) AS pair_n,
        |  CAST(ux.c1 AS BIGINT) AS cx, CAST(uy.c1 AS BIGINT) AS cy,
        |  CAST(CAST(pair_n AS HUGEINT) * n_w * n_w * 1000000
        |    // (CAST(n_bg AS HUGEINT) * ux.c1 * uy.c1) AS BIGINT) AS lift_ppm
        |FROM bgc JOIN uni ux ON bgc.x = ux.t JOIN uni uy ON bgc.y = uy.t, tot
        |WHERE pair_n >= 5
        |ORDER BY lift_ppm DESC, x, y
        |LIMIT 50""".stripMargin),

    // quartile boundaries at rank = ceil(q*n) (the engine's exact
    // global-quantile rule; 0.25/0.5/0.75 are dyadic so q*n is an
    // exact double on both sides); stage = 1 + #(boundaries < m)
    "q_curriculum" -> Entry(qCurriculum _,
      """WITH m AS (SELECT doc_id, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS m
        |  FROM documents WHERE text IS NOT NULL),
        |ranked AS (SELECT m AS v, ROW_NUMBER() OVER (ORDER BY m) AS rn,
        |    COUNT(*) OVER () AS n FROM m),
        |b AS (SELECT
        |    MAX(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN v END) AS b1,
        |    MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN v END) AS b2,
        |    MAX(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN v END) AS b3
        |  FROM ranked),
        |st AS (SELECT doc_id, n_chars, m,
        |    1 + CASE WHEN m > b1 THEN 1 ELSE 0 END
        |      + CASE WHEN m > b2 THEN 1 ELSE 0 END
        |      + CASE WHEN m > b3 THEN 1 ELSE 0 END AS stage
        |  FROM m, b)
        |SELECT CAST(stage AS BIGINT) AS stage,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MIN(m) AS min_words, MAX(m) AS max_words,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM st GROUP BY stage ORDER BY stage""".stripMargin),

    // batch slice screened against the corpus's content-hash and
    // band-key indexes; bands CTE comes from the shared minhash chain
    "q_incremental_dedup" -> Entry(qIncrementalDedup _,
      s"""WITH $minhashCte,
         |bt AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 9),
         |eh AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 != 9),
         |ex AS (SELECT DISTINCT d.doc_id FROM documents d
         |       JOIN eh ON md5(d.text) = eh.h WHERE d.doc_id % 10 = 9),
         |nb AS (SELECT DISTINCT x.doc_id FROM bands x
         |       JOIN bands y ON x.band_idx = y.band_idx
         |         AND x.band_key = y.band_key AND y.doc_id % 10 != 9
         |       WHERE x.doc_id % 10 = 9)
         |SELECT bt.doc_id,
         |  CAST(CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_exact_dup,
         |  CAST(CASE WHEN nb.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_near_dup
         |FROM bt LEFT JOIN ex ON bt.doc_id = ex.doc_id
         |LEFT JOIN nb ON bt.doc_id = nb.doc_id
         |ORDER BY bt.doc_id""".stripMargin),

    // positional form of the gear recurrence: h_i depends only on the
    // last 32 chars (the *2 shift mods out), so the oracle computes it
    // as sum gear(c_j)*2^(i-j) mod 2^32 with no sequential fold; each
    // term is pre-modded so list_sum stays within BIGINT
    "q_cdc_chunks" -> Entry(qCdcChunks _,
      """WITH c AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |p AS (SELECT doc_id, text, n, unnest(generate_series(1, n)) AS i FROM c),
        |h AS (SELECT doc_id, i,
        |    list_sum(list_transform(generate_series(greatest(1, i-31), i),
        |      j -> (ord(text[j]) * 2654435761 % 4294967296)
        |           * (CAST(1 AS BIGINT) << (i - j)) % 4294967296))
        |      % 4294967296 AS hv
        |  FROM p),
        |cut AS (SELECT doc_id, i FROM h WHERE hv % 32 = 0
        |        UNION SELECT doc_id, n AS i FROM c WHERE n > 0),
        |seg AS (SELECT doc_id, i AS e,
        |          COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS b
        |        FROM cut),
        |ch AS (SELECT doc_id, substring(text, b + 1, e - b) AS chunk
        |       FROM seg JOIN c USING (doc_id) WHERE e > b)
        |SELECT md5(chunk) AS chunk_hash, CAST(length(chunk) AS BIGINT) AS chunk_len,
        |  CAST(COUNT(*) AS BIGINT) AS n_occ,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM ch WHERE length(chunk) >= 16
        |GROUP BY chunk HAVING COUNT(*) >= 2
        |ORDER BY n_occ DESC, chunk_hash LIMIT 100""".stripMargin),

    // weighted lower-discrete quantile: smallest v with cumulative
    // weight >= ceil(q*W); RANGE-framed running sum includes peers,
    // matching "weight of all rows with value <= v"
    "q_weighted_quantiles" -> Entry(qWeightedQuantiles _,
      """WITH w AS (SELECT l_extendedprice AS v, CAST(l_quantity AS BIGINT) AS wt
        |           FROM lineitem
        |           WHERE l_extendedprice IS NOT NULL AND l_quantity > 0),
        |o AS (SELECT v, SUM(wt) OVER (ORDER BY v) AS cw, SUM(wt) OVER () AS tw
        |      FROM w)
        |SELECT q, MIN(v) AS v FROM (
        |  SELECT CAST(0.25 AS DOUBLE) AS q, v FROM o
        |    WHERE cw >= ceil(0.25 * tw)
        |  UNION ALL
        |  SELECT CAST(0.5 AS DOUBLE) AS q, v FROM o
        |    WHERE cw >= ceil(0.5 * tw)
        |  UNION ALL
        |  SELECT CAST(0.95 AS DOUBLE) AS q, v FROM o
        |    WHERE cw >= ceil(0.95 * tw))
        |GROUP BY q ORDER BY q""".stripMargin),

    // LOO(mean) from sufficient statistics: (T - t_s)/(N - n_s) in
    // exact integer ppm; HUGEINT mirrors the decimal(38,0) internal
    "q_source_ablation" -> Entry(qSourceAblation _,
      """WITH d AS (SELECT source, len(string_split(text, ' ')) AS nw FROM documents),
        |per AS (SELECT source, COUNT(*) AS n_docs, SUM(nw) AS n_words
        |        FROM d GROUP BY source),
        |tot AS (SELECT SUM(n_docs) AS t_docs, SUM(n_words) AS t_words FROM per)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  CAST(CAST(t_words AS HUGEINT) * 1000000 // t_docs AS BIGINT)
        |    AS full_mean_ppm,
        |  CAST(CAST(t_words - n_words AS HUGEINT) * 1000000
        |    // nullif(t_docs - n_docs, 0) AS BIGINT) AS loo_mean_ppm,
        |  CAST(CAST(t_words - n_words AS HUGEINT) * 1000000
        |      // nullif(t_docs - n_docs, 0)
        |    - CAST(t_words AS HUGEINT) * 1000000 // t_docs AS BIGINT) AS delta_ppm
        |FROM per, tot ORDER BY source""".stripMargin),

    // each candidate FD = one grouped distinct-count rollup
    "q_fd_discovery" -> Entry(qFdDiscovery _,
      """WITH f1 AS (SELECT 'l_orderkey->l_shipdate' AS fd, COUNT(*) AS n_groups,
        |    SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_violating, MAX(nd) AS max_rhs
        |  FROM (SELECT l_orderkey, COUNT(DISTINCT l_shipdate) AS nd
        |        FROM lineitem GROUP BY l_orderkey)),
        |f2 AS (SELECT 'l_partkey->l_suppkey' AS fd, COUNT(*) AS n_groups,
        |    SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_violating, MAX(nd) AS max_rhs
        |  FROM (SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS nd
        |        FROM lineitem GROUP BY l_partkey)),
        |f3 AS (SELECT 'l_suppkey->l_partkey' AS fd, COUNT(*) AS n_groups,
        |    SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_violating, MAX(nd) AS max_rhs
        |  FROM (SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS nd
        |        FROM lineitem GROUP BY l_suppkey)),
        |f4 AS (SELECT 'o_orderkey->o_custkey' AS fd, COUNT(*) AS n_groups,
        |    SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_violating, MAX(nd) AS max_rhs
        |  FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS nd
        |        FROM orders GROUP BY o_orderkey))
        |SELECT fd, CAST(n_groups AS BIGINT) AS n_groups,
        |  CAST(n_violating AS BIGINT) AS n_violating,
        |  CAST(max_rhs AS BIGINT) AS max_rhs,
        |  CAST(CASE WHEN n_violating = 0 THEN 1 ELSE 0 END AS BIGINT) AS holds
        |FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2
        |      UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4)
        |ORDER BY fd""".stripMargin),

    // symmetric rollup of q_decontaminate, grouped by the eval item
    "q_eval_leakage" -> Entry(qEvalLeakage _,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |s4 AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 4 THEN
        |    list_distinct(list_transform(generate_series(1, len(w)-3),
        |      i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]))
        |  ELSE [] END) gram FROM w),
        |ev AS (SELECT doc_id eval_id, gram FROM s4 WHERE doc_id % 13 = 0),
        |tr AS (SELECT doc_id train_id, gram FROM s4 WHERE doc_id % 13 <> 0)
        |SELECT eval_id, COUNT(DISTINCT tr.gram) AS n_leaked_ngrams,
        |  COUNT(DISTINCT tr.train_id) AS n_train_docs
        |FROM tr JOIN ev USING (gram)
        |GROUP BY eval_id ORDER BY eval_id""".stripMargin),

    // the optimizer-rewritten HLL, mirrored in SQL: the hash-match is
    // the proof that the rewrite produced exactly the sketch
    "q_approx_rewrite" -> Entry(qApproxRewrite _, {
      import graft.operators.Sketches
      val lcTable = Sketches.HllLinearTable.map(v => s"${v}e0").mkString("[", ", ", "]")
      s"""WITH b AS (SELECT o_orderstatus, (_h >> 24) AS bucket,
         |    ${Sketches.hllRhoSql("(_h & 16777215)")} AS rho
         |  FROM (SELECT o_orderstatus,
         |    ('0x'||substr(md5(CAST(o_custkey AS VARCHAR)),1,8))::BIGINT AS _h
         |    FROM orders)),
         |m AS (SELECT o_orderstatus, bucket, MAX(rho) AS maxrho
         |  FROM b GROUP BY o_orderstatus, bucket),
         |agg AS (SELECT o_orderstatus, COUNT(*) AS n_buckets_hit,
         |    ${Sketches.HllNumerator} /
         |      (SUM(1.0 / CAST(1::BIGINT << maxrho AS DOUBLE)) + (256 - COUNT(*))) AS raw
         |  FROM m GROUP BY o_orderstatus)
         |SELECT o_orderstatus,
         |  CAST(floor(CASE WHEN raw <= ${2.5 * Sketches.HllM} AND n_buckets_hit < 256
         |       THEN ($lcTable)[256 - n_buckets_hit]
         |       ELSE raw END) AS BIGINT) AS n_custkeys_est
         |FROM agg ORDER BY o_orderstatus""".stripMargin
    }),

    // verified positives via integer jaccard (2I >= U — no double
    // threshold), hash-bucketed different-source negatives ranked by
    // md5(anchor|neg); bucket arithmetic mirrors Sketches.hash32
    "q_contrastive_pairs" -> Entry(qContrastivePairs _,
      s"""WITH $minhashCte,
         |ver AS (SELECT id_a, id_b FROM cand
         |  JOIN sh sa ON id_a = sa.doc_id JOIN sh sb ON id_b = sb.doc_id
         |  WHERE 2 * len(list_intersect(sa.sh, sb.sh)) >=
         |    len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))),
         |anch AS (SELECT anchor_id, MIN(partner) AS pos_id FROM (
         |    SELECT id_a AS anchor_id, id_b AS partner FROM ver
         |    UNION ALL SELECT id_b, id_a FROM ver)
         |  GROUP BY anchor_id),
         |ds AS (SELECT doc_id, source FROM documents),
         |bc AS (SELECT greatest(16, COUNT(*) // 500) AS b FROM documents),
         |ab AS (SELECT anchor_id, pos_id, source AS a_src,
         |    ('0x'||substr(md5(CAST(anchor_id AS VARCHAR)),1,8))::BIGINT
         |      % (SELECT b FROM bc) AS bkt
         |  FROM anch JOIN ds ON anchor_id = ds.doc_id),
         |nb AS (SELECT doc_id AS neg_id, source AS n_src,
         |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT
         |      % (SELECT b FROM bc) AS bkt
         |  FROM ds),
         |j AS (SELECT anchor_id, pos_id, neg_id,
         |    ROW_NUMBER() OVER (PARTITION BY anchor_id
         |      ORDER BY md5(CAST(anchor_id AS VARCHAR)||'|'||CAST(neg_id AS VARCHAR)),
         |        neg_id) AS rn
         |  FROM ab JOIN nb USING (bkt)
         |  WHERE n_src != a_src AND neg_id != anchor_id AND neg_id != pos_id)
         |SELECT anchor_id, pos_id, neg_id, CAST(rn AS BIGINT) AS neg_rank
         |FROM j WHERE rn <= 2 ORDER BY anchor_id, neg_rank""".stripMargin),

    // exact winsorization: clip bounds at rank ceil(q*n) (the engine's
    // rank-element rule), DECIMAL(18,2)-routed sum of the clipped col
    "q_winsorized" -> Entry((s, d) => qWinsorized(s, d),
      """WITH v AS (SELECT l_extendedprice AS v FROM lineitem
        |           WHERE l_extendedprice IS NOT NULL),
        |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn,
        |        COUNT(*) OVER () AS n FROM v),
        |b AS (SELECT
        |    MAX(CASE WHEN rn = CAST(ceil(0.01 * n) AS BIGINT) THEN v END) AS lo,
        |    MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN v END) AS hi
        |  FROM r)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
        |  CAST(SUM(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
        |  CAST(SUM(CAST(CASE WHEN v < lo THEN lo WHEN v > hi THEN hi ELSE v END
        |    AS DECIMAL(18,2))) AS DOUBLE) AS sum_winsorized,
        |  MIN(CASE WHEN v < lo THEN lo WHEN v > hi THEN hi ELSE v END) AS lo_bound,
        |  MAX(CASE WHEN v < lo THEN lo WHEN v > hi THEN hi ELSE v END) AS hi_bound
        |FROM v, b""".stripMargin),

    "q_markov_transitions" -> Entry(qMarkovTransitions _,
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS t, event_id,
        |    event_type FROM events),
        |p AS (SELECT event_type AS src,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id) AS dst
        |  FROM e),
        |tr AS (SELECT src, dst, COUNT(*) AS n FROM p
        |       WHERE dst IS NOT NULL GROUP BY src, dst)
        |SELECT src, dst, CAST(n AS BIGINT) AS n,
        |  CAST(n * 1000000 // SUM(n) OVER (PARTITION BY src) AS BIGINT)
        |    AS prob_ppm
        |FROM tr ORDER BY src, dst""".stripMargin),

    "q_itemset_pairs" -> Entry(qItemsetPairs _,
      """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |p AS (SELECT a.pk AS p_a, b.pk AS p_b
        |      FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk)
        |SELECT p_a, p_b, CAST(COUNT(*) AS BIGINT) AS support
        |FROM p GROUP BY p_a, p_b
        |HAVING COUNT(*) >= 2
        |ORDER BY support DESC, p_a, p_b LIMIT 50""".stripMargin),

    // same bipartite edge construction as q_pagerank; HUGEINT mirrors
    // the decimal(38,0) internal product
    "q_neighbor_agg" -> Entry(qNeighborAgg _,
      """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sup
        |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |sym AS (SELECT c AS src, sup AS dst FROM e0
        |        UNION ALL SELECT sup AS src, c AS dst FROM e0),
        |deg AS (SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY src)
        |SELECT s.src AS node, CAST(COUNT(*) AS BIGINT) AS n_neighbors,
        |  CAST(CAST(SUM(d.deg) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
        |    AS avg_nbr_deg_ppm
        |FROM sym s JOIN deg d ON s.dst = d.node
        |GROUP BY s.src ORDER BY node""".stripMargin),

    // first/last IGNORE NULLS over the strictly-preceding rows frame;
    // DuckDB spells the same frame and null handling
    "q_attribution" -> Entry(qAttribution _,
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS t, event_id,
        |    event_type FROM events),
        |x AS (SELECT user_id, t, event_id, event_type,
        |    FIRST_VALUE(CASE WHEN event_type IN ('click', 'view')
        |        THEN {'t': t, 'event_id': event_id, 'event_type': event_type}
        |      END IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft,
        |    LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
        |        THEN {'t': t, 'event_id': event_id, 'event_type': event_type}
        |      END IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        |  FROM e)
        |SELECT event_id AS purchase_id, user_id,
        |  ft.event_type AS first_touch_type,
        |  ft.event_id AS first_touch_id,
        |  lt.event_type AS last_touch_type,
        |  lt.event_id AS last_touch_id
        |FROM x WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin),

    // the oracle IS the naive scan — the hash-match proves the
    // trigram-index path has recall 1
    "q_trigram_search" -> Entry(qTrigramSearch _,
      """SELECT doc_id, n_chars FROM documents
        |WHERE text LIKE '%table key value%'
        |ORDER BY doc_id""".stripMargin),

    // sketch + exact companions joined per group; the hash-match
    // proves the rewrite sketched ONLY the distinct count
    "q_approx_rewrite_mixed" -> Entry(qApproxRewriteMixed _, {
      import graft.operators.Sketches
      val lcTable = Sketches.HllLinearTable.map(v => s"${v}e0").mkString("[", ", ", "]")
      s"""WITH b AS (SELECT o_orderstatus, (_h >> 24) AS bucket,
         |    ${Sketches.hllRhoSql("(_h & 16777215)")} AS rho
         |  FROM (SELECT o_orderstatus,
         |    ('0x'||substr(md5(CAST(o_custkey AS VARCHAR)),1,8))::BIGINT AS _h
         |    FROM orders)),
         |m AS (SELECT o_orderstatus, bucket, MAX(rho) AS maxrho
         |  FROM b GROUP BY o_orderstatus, bucket),
         |agg AS (SELECT o_orderstatus, COUNT(*) AS n_buckets_hit,
         |    ${Sketches.HllNumerator} /
         |      (SUM(1.0 / CAST(1::BIGINT << maxrho AS DOUBLE)) + (256 - COUNT(*))) AS raw
         |  FROM m GROUP BY o_orderstatus),
         |hll AS (SELECT o_orderstatus,
         |    CAST(floor(CASE WHEN raw <= ${2.5 * Sketches.HllM} AND n_buckets_hit < 256
         |         THEN ($lcTable)[256 - n_buckets_hit]
         |         ELSE raw END) AS BIGINT) AS n_custkeys_est
         |  FROM agg),
         |ex AS (SELECT o_orderstatus,
         |    CAST(COUNT(*) AS BIGINT) AS n_orders,
         |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |      AS sum_cents,
         |    MAX(o_totalprice) AS max_price
         |  FROM orders GROUP BY o_orderstatus)
         |SELECT o_orderstatus, n_custkeys_est, n_orders, sum_cents, max_price
         |FROM hll JOIN ex USING (o_orderstatus)
         |ORDER BY o_orderstatus""".stripMargin
    }),

    // UNION (not UNION ALL) dedupes (node, depth) pairs per step, so
    // the recursion never path-explodes; MIN(d) = BFS distance
    "q_bfs_hops" -> Entry((s, d) => qBfsHops(s, d),
      """WITH RECURSIVE
        |e0 AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sup
        |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c AS src, sup AS dst FROM e0
        |          UNION ALL SELECT sup AS src, c AS dst FROM e0),
        |bfs(node, d) AS (
        |  SELECT DISTINCT src, 0 FROM edges WHERE src < 20 AND src % 2 = 0
        |  UNION
        |  SELECT e.dst, b.d + 1 FROM bfs b JOIN edges e ON b.node = e.src
        |  WHERE b.d < 3)
        |SELECT node, CAST(MIN(d) AS BIGINT) AS dist
        |FROM bfs GROUP BY node ORDER BY node""".stripMargin),

    "q_running_distinct" -> Entry(qRunningDistinct _,
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS t, event_id,
        |    event_type FROM events),
        |f AS (SELECT user_id, t, event_id,
        |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY t, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
        |  FROM e)
        |SELECT user_id, event_id, t,
        |  CAST(SUM(first_seen) OVER (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_distinct_types
        |FROM f ORDER BY user_id, t, event_id""".stripMargin),

    "q_dedup_ngram" -> Entry(qDedupNgram _,
      s"""WITH $minhashCte
         |SELECT id_a AS doc_a, id_b AS doc_b,
         |  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |    len(list_distinct(sa.sh || sb.sh)) AS jaccard
         |FROM cand
         |JOIN sh sa ON id_a = sa.doc_id
         |JOIN sh sb ON id_b = sb.doc_id
         |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |    len(list_distinct(sa.sh || sb.sh)) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin),

    "q_dedup_simhash" -> Entry(qDedupSimhash _, {
      val terms = (0 until 32).map(j =>
        s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END)")
        .mkString(" +\n    ")
      // NULL-text docs are not dedup candidates (the engine's shingle
      // pipeline drops them); without this filter every null doc gets
      // the empty-list simhash 0 and they all band-join as exact dups
      // (r17 nullify metamorphic sweep). The minhash-family oracles
      // self-eliminate empty docs (NULL band keys never join) and need
      // no filter.
      val nonNullShingleCte =
        shingleCte.replace("FROM documents", "FROM documents WHERE text IS NOT NULL")
      s"""WITH $nonNullShingleCte,
         |h AS (SELECT doc_id, list_transform(sh, t -> ('0x'||substr(md5(t),1,8))::BIGINT) hs FROM sh),
         |sim AS (SELECT doc_id,
         |    $terms AS simhash FROM h),
         |chunks AS (SELECT doc_id, simhash, chunk_idx,
         |    (simhash >> (8 * chunk_idx)) & 255 AS chunk_val
         |  FROM sim, (SELECT unnest([0,1,2,3]) chunk_idx))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM chunks a JOIN chunks b
         |  ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
         | AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    }),

    "q_dedup_embedding" -> Entry(qDedupEmbedding _, {
      // Mirror the Spark plan's 16×12 hyperplane banding with identical
      // literals: band key = sign-bit integer of 12 exact integer dots.
      val bandSelects = Queries.dedupPlanesLiterals.grouped(12).toSeq.zipWithIndex.map {
        case (grp, bi) =>
          val v = grp.zipWithIndex.map { case (p, j) =>
            s"(CASE WHEN list_dot_product(qv, $p) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
          }.mkString(" + ")
          s"SELECT vec_id, $bi AS band_idx, $v AS band_key FROM n"
      }.mkString("\nUNION ALL\n")
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) qv
         |  FROM embeddings),
         |n AS (SELECT vec_id, qv, list_dot_product(qv, qv) norm2 FROM q),
         |banded AS (
         |$bandSelects),
         |cand AS (SELECT DISTINCT a.vec_id vec_a, b.vec_id vec_b
         |  FROM banded a JOIN banded b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b,
         |  list_dot_product(na.qv, nb.qv) / (sqrt(na.norm2) * sqrt(nb.norm2)) AS cos_sim
         |FROM cand JOIN n na ON vec_a = na.vec_id JOIN n nb ON vec_b = nb.vec_id
         |WHERE list_dot_product(na.qv, nb.qv) / (sqrt(na.norm2) * sqrt(nb.norm2)) >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin
    }),

    "q_text_langid" -> Entry(qTextLangid _,
      """WITH t AS (SELECT doc_id, list_distinct(string_split(text,' ')) toks FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(list_intersect(toks, ['the','a','of','and'])) AS DOUBLE)/len(toks) AS score_general,
        |  CAST(len(list_intersect(toks, ['query','table','scan','join','filter'])) AS DOUBLE)/len(toks) AS score_query,
        |  CAST(len(list_intersect(toks, ['stream','batch','window','event'])) AS DOUBLE)/len(toks) AS score_stream
        |FROM t)
        |SELECT doc_id,
        |  CASE WHEN score_general IS NULL THEN NULL
        |       WHEN score_general = greatest(score_general, score_query, score_stream) THEN 'general'
        |       WHEN score_query = greatest(score_general, score_query, score_stream) THEN 'query'
        |       ELSE 'stream' END AS pred_lang,
        |  score_general, score_query, score_stream
        |FROM s ORDER BY doc_id""".stripMargin),

    "q_text_quality" -> Entry(qTextQuality _,
      """WITH t AS (SELECT doc_id, text, string_split(text,' ') w FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) n_tokens,
        |  CAST(length(text) - len(w) + 1 AS DOUBLE)/len(w) avg_token_len,
        |  CAST(len(list_filter(w, t2 -> list_contains(['the','a','of','and','to'], t2))) AS DOUBLE)/len(w) stopword_ratio
        |FROM t)
        |SELECT doc_id, n_tokens, avg_token_len, stopword_ratio,
        |  least(1.0, CAST(n_tokens AS DOUBLE)/100.0)*0.5 + stopword_ratio*0.3 +
        |  least(1.0, avg_token_len/10.0)*0.2 AS quality_score
        |FROM m ORDER BY doc_id""".stripMargin),

    "q_text_tokens" -> Entry(qTextTokens _,
      """SELECT doc_id,
        |  CAST(len(string_split(text,' ')) AS BIGINT) ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) re_tokens,
        |  CAST(ceil(CAST(length(text) AS DOUBLE)/4.0) AS BIGINT) est_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // NULL text → NULL fingerprint (the engine null-propagates; the
    // old coalesce('') silently fingerprinted null docs as md5('') —
    // r17 nullify metamorphic sweep)
    "q_text_fingerprint" -> Entry(qTextFingerprint _,
      s"""WITH $shingleCte,
         |f AS (SELECT s2.doc_id, d.text IS NULL AS tnull,
         |  list_sort(list_filter(list_transform(s2.sh, t -> md5(t)), h -> substr(h,1,1) = '0')) sel
         |FROM sh s2 JOIN (SELECT DISTINCT doc_id, text FROM documents) d
         |  ON s2.doc_id = d.doc_id)
         |SELECT doc_id,
         |  CAST(CASE WHEN tnull THEN NULL ELSE len(sel) END AS BIGINT) n_selected,
         |  CASE WHEN tnull THEN NULL
         |       ELSE md5(coalesce(array_to_string(sel, ''), '')) END fingerprint
         |FROM f ORDER BY doc_id""".stripMargin),

    "q_ann_bruteforce" -> Entry((s, d) => qAnnBruteforce(s, d),
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) qv
         |  FROM (SELECT DISTINCT vec_id, embedding, label FROM embeddings)),
         |n AS (SELECT vec_id, qv, list_dot_product(qv, qv) norm2 FROM q),
         |s AS (SELECT a.vec_id query_id, b.vec_id neighbor_id,
         |    list_dot_product(a.qv, b.qv)/(sqrt(a.norm2)*sqrt(b.norm2)) cos_sim
         |  FROM n a JOIN n b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) rnk
         |  FROM s)
         |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) rnk, cos_sim
         |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),

    "q_ann_lsh" -> Entry(qAnnLsh _, {
      // Mirror the Spark plan's 16×10 hyperplane banding with
      // identical literals.
      val bandSelects = Queries.lshPlanesLiterals.grouped(10).toSeq.zipWithIndex.map {
        case (grp, bi) =>
          val v = grp.zipWithIndex.map { case (p, j) =>
            s"(CASE WHEN list_dot_product(qv, $p) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
          }.mkString(" + ")
          s"SELECT vec_id, $bi AS band_idx, $v AS band_key FROM n"
      }.mkString("\nUNION ALL\n")
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) qv
         |  FROM (SELECT DISTINCT vec_id, embedding, label FROM embeddings)),
         |n AS (SELECT vec_id, qv, list_dot_product(qv, qv) norm2 FROM q),
         |banded AS (
         |$bandSelects),
         |cand AS (SELECT DISTINCT a.vec_id query_id, b.vec_id neighbor_id
         |  FROM banded a JOIN banded b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |   AND a.vec_id < 10 AND b.vec_id <> a.vec_id),
         |s AS (SELECT query_id, neighbor_id,
         |    list_dot_product(na.qv, nb.qv)/(sqrt(na.norm2)*sqrt(nb.norm2)) cos_sim
         |  FROM cand JOIN n na ON query_id = na.vec_id JOIN n nb ON neighbor_id = nb.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) rnk
         |  FROM s)
         |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) rnk, cos_sim
         |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
    }),

    "q_ann_recall" -> Entry(qAnnRecall _, {
      val bandSelects = Queries.lshPlanesLiterals.grouped(10).toSeq.zipWithIndex.map {
        case (grp, bi) =>
          val v = grp.zipWithIndex.map { case (p, j) =>
            s"(CASE WHEN list_dot_product(qv, $p) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
          }.mkString(" + ")
          s"SELECT vec_id, $bi AS band_idx, $v AS band_key FROM n"
      }.mkString("\nUNION ALL\n")
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) qv
         |  FROM (SELECT DISTINCT vec_id, embedding, label FROM embeddings)),
         |n AS (SELECT vec_id, qv, list_dot_product(qv, qv) norm2 FROM q),
         |banded AS (
         |$bandSelects),
         |cand AS (SELECT DISTINCT a.vec_id query_id, b.vec_id neighbor_id
         |  FROM banded a JOIN banded b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |   AND a.vec_id < 10 AND b.vec_id <> a.vec_id),
         |ls AS (SELECT query_id, neighbor_id,
         |    list_dot_product(na.qv, nb.qv)/(sqrt(na.norm2)*sqrt(nb.norm2)) cos_sim
         |  FROM cand JOIN n na ON query_id = na.vec_id JOIN n nb ON neighbor_id = nb.vec_id),
         |lr AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) rnk
         |  FROM ls),
         |lsh AS (SELECT query_id, neighbor_id FROM lr WHERE rnk <= 3),
         |bs AS (SELECT a.vec_id query_id, b.vec_id neighbor_id,
         |    list_dot_product(a.qv, b.qv)/(sqrt(a.norm2)*sqrt(b.norm2)) cos_sim
         |  FROM n a JOIN n b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
         |br AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) rnk
         |  FROM bs),
         |brute AS (SELECT query_id, neighbor_id FROM br WHERE rnk <= 3),
         |nl AS (SELECT query_id, count(*) AS n_lsh FROM lsh GROUP BY query_id),
         |h AS (SELECT l.query_id, count(*) AS hits FROM lsh l
         |  JOIN brute b USING (query_id, neighbor_id) GROUP BY l.query_id)
         |SELECT query_id, n_lsh, coalesce(hits, 0) AS hits,
         |  coalesce(hits, 0) * 1000000 // 3 AS recall_ppm
         |FROM nl LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin
    }),

    "q_skipgram_pmi" -> Entry(qSkipgramPmi _,
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        |  FROM documents),
        |f AS (SELECT * FROM t WHERE w <> ''),
        |c AS (SELECT w AS center,
        |    lag(w, 2) OVER win AS c1, lag(w, 1) OVER win AS c2,
        |    lead(w, 1) OVER win AS c3, lead(w, 2) OVER win AS c4
        |  FROM f WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |p AS (SELECT center, c1 AS context FROM c WHERE c1 IS NOT NULL
        |  UNION ALL SELECT center, c2 FROM c WHERE c2 IS NOT NULL
        |  UNION ALL SELECT center, c3 FROM c WHERE c3 IS NOT NULL
        |  UNION ALL SELECT center, c4 FROM c WHERE c4 IS NOT NULL),
        |pc AS (SELECT center, context, count(*) AS n_pair FROM p
        |  GROUP BY center, context),
        |nc AS (SELECT center, CAST(sum(n_pair) AS BIGINT) AS n_center FROM pc GROUP BY center),
        |nx AS (SELECT context, CAST(sum(n_pair) AS BIGINT) AS n_context FROM pc GROUP BY context),
        |tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS t FROM pc)
        |SELECT center, context, n_pair,
        |  CAST((CAST(n_pair AS HUGEINT) * t * 1000000)
        |    // (CAST(n_center AS HUGEINT) * n_context) AS BIGINT) AS pmi_ppm
        |FROM pc JOIN nc USING (center) JOIN nx USING (context) CROSS JOIN tot
        |WHERE n_pair >= 5
        |ORDER BY pmi_ppm DESC, center, context LIMIT 20""".stripMargin),

    "q_bpe_first_merge" -> Entry(qBpeFirstMerge _,
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |f AS (SELECT w FROM w WHERE length(w) >= 2),
        |p AS (SELECT substr(w, CAST(unnest(range(1, length(w))) AS INT), 2) AS pair
        |  FROM f)
        |SELECT pair, count(*) AS n FROM p GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin),

    "q_embed_quantize" -> Entry(qEmbedQuantize _,
      """WITH m AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xm
        |  FROM embeddings),
        |s AS (SELECT vec_id, list_min(xm) AS mn, list_max(xm) AS mx, xm FROM m)
        |SELECT vec_id, mn, mx,
        |  CAST(CASE WHEN mx > mn THEN
        |    list_sum(list_transform(xm, v -> ((v - mn) * 255) // (mx - mn)))
        |  ELSE 0 END AS BIGINT) AS checksum
        |FROM s ORDER BY vec_id""".stripMargin),

    "q_langid_eval" -> Entry(qLangidEval _,
      """WITH t AS (SELECT doc_id, lang,
        |    list_distinct(string_split(text,' ')) toks FROM documents),
        |s AS (SELECT lang,
        |  CAST(len(list_intersect(toks, ['the','a','of','and'])) AS DOUBLE)/len(toks) AS score_general,
        |  CAST(len(list_intersect(toks, ['query','table','scan','join','filter'])) AS DOUBLE)/len(toks) AS score_query,
        |  CAST(len(list_intersect(toks, ['stream','batch','window','event'])) AS DOUBLE)/len(toks) AS score_stream
        |FROM t),
        |p AS (SELECT lang,
        |  CASE WHEN score_general IS NULL THEN NULL
        |       WHEN score_general = greatest(score_general, score_query, score_stream) THEN 'general'
        |       WHEN score_query = greatest(score_general, score_query, score_stream) THEN 'query'
        |       ELSE 'stream' END AS pred_lang
        |FROM s)
        |SELECT lang, pred_lang, count(*) AS n FROM p
        |GROUP BY lang, pred_lang
        |ORDER BY lang, pred_lang NULLS FIRST""".stripMargin),

    "q_image_decode" -> Entry(qImageDecode _,
      """WITH d AS (SELECT doc_id, 32 + doc_id % 32 AS width,
        |    16 + doc_id % 16 AS height,
        |    row_number() OVER () AS rid FROM documents),
        |px AS (SELECT rid, doc_id, width, height,
        |    (doc_id*7 + unnest(range(0, width*height))*13) % 256 AS v
        |  FROM d)
        |SELECT doc_id AS media_id, width, height,
        |  CAST(SUM(v) AS BIGINT) px_sum,
        |  CAST(SUM(CASE WHEN v // 64 = 0 THEN 1 ELSE 0 END) AS BIGINT) h0,
        |  CAST(SUM(CASE WHEN v // 64 = 1 THEN 1 ELSE 0 END) AS BIGINT) h1,
        |  CAST(SUM(CASE WHEN v // 64 = 2 THEN 1 ELSE 0 END) AS BIGINT) h2,
        |  CAST(SUM(CASE WHEN v // 64 = 3 THEN 1 ELSE 0 END) AS BIGINT) h3
        |FROM px GROUP BY rid, doc_id, width, height ORDER BY media_id""".stripMargin),

    // block-constant JPEG: every 8x8 block is flat, so px_sum/hK are
    // 64x the per-block generator values
    "q_jpeg_decode" -> Entry(qJpegDecode _,
      """WITH d AS (SELECT doc_id, 4 + doc_id % 4 AS bx,
        |    2 + doc_id % 2 AS by,
        |    row_number() OVER () AS rid FROM documents),
        |b AS (SELECT rid, doc_id, bx, by,
        |    (doc_id*7 + unnest(range(0, bx*by))*13) % 256 AS v
        |  FROM d)
        |SELECT doc_id AS media_id, CAST(8*bx AS BIGINT) width,
        |  CAST(8*by AS BIGINT) height,
        |  CAST(64*SUM(v) AS BIGINT) px_sum,
        |  CAST(64*SUM(CASE WHEN v // 64 = 0 THEN 1 ELSE 0 END) AS BIGINT) h0,
        |  CAST(64*SUM(CASE WHEN v // 64 = 1 THEN 1 ELSE 0 END) AS BIGINT) h1,
        |  CAST(64*SUM(CASE WHEN v // 64 = 2 THEN 1 ELSE 0 END) AS BIGINT) h2,
        |  CAST(64*SUM(CASE WHEN v // 64 = 3 THEN 1 ELSE 0 END) AS BIGINT) h3
        |FROM b GROUP BY rid, doc_id, bx, by ORDER BY media_id""".stripMargin),

    // varying JPEG (every block has AC energy): the oracle recomputes
    // the id-arithmetic dims and asserts the tolerance band VERDICT —
    // the engine computes within_band from the decoded raster, so a
    // broken Huffman/dequant/IDCT stage flips the bit and fails the hash
    "q_jpeg_decode_banded" -> Entry(qJpegDecodeBanded _,
      """SELECT doc_id AS media_id,
        |  CAST(8 * (4 + doc_id % 4) AS BIGINT) AS width,
        |  CAST(8 * (2 + doc_id % 2) AS BIGINT) AS height,
        |  CAST(64 * (4 + doc_id % 4) * (2 + doc_id % 2) AS BIGINT) AS n_px,
        |  TRUE AS within_band
        |FROM documents ORDER BY media_id""".stripMargin),

    "q_skipgram_pairs" -> Entry(qSkipgramPairs _,
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        |  FROM documents),
        |f AS (SELECT * FROM t WHERE w <> ''),
        |c AS (SELECT w AS center,
        |    lag(w, 2) OVER win AS c1, lag(w, 1) OVER win AS c2,
        |    lead(w, 1) OVER win AS c3, lead(w, 2) OVER win AS c4
        |  FROM f WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |p AS (SELECT center, c1 AS context FROM c WHERE c1 IS NOT NULL
        |  UNION ALL SELECT center, c2 FROM c WHERE c2 IS NOT NULL
        |  UNION ALL SELECT center, c3 FROM c WHERE c3 IS NOT NULL
        |  UNION ALL SELECT center, c4 FROM c WHERE c4 IS NOT NULL)
        |SELECT center, context, count(*) AS n_pairs FROM p
        |GROUP BY center, context
        |ORDER BY n_pairs DESC, center, context LIMIT 30""".stripMargin),

    "q_bm25_topk" -> Entry(qBm25Topk _,
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |f AS (SELECT * FROM t WHERE w <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM f GROUP BY doc_id),
        |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS tl, count(*) AS nd FROM dl),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM f
        |  WHERE w IN ('table', 'spark', 'merge') GROUP BY doc_id, w),
        |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |sc AS (SELECT t2.doc_id,
        |    CAST((CAST(((2*(nd - df) + 1) * 1000) // (2*df + 1) AS HUGEINT)
        |      * 44 * tf * tl) // (20*tf*tl + 6*tl + 18*dl*nd) AS BIGINT) AS score_part
        |  FROM tf t2 JOIN dl USING (doc_id) JOIN dfq USING (w) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(score_part) AS BIGINT) AS bm25_milli,
        |  count(*) AS n_terms
        |FROM sc GROUP BY doc_id
        |ORDER BY bm25_milli DESC, doc_id LIMIT 20""".stripMargin),

    "q_blocklist_score" -> Entry(qBlocklistScore _,
      """WITH cat(category, term) AS (VALUES
        |    ('latency', 'slow'), ('latency', 'fast'),
        |    ('storage', 'row'), ('storage', 'column'),
        |    ('compute', 'scan'), ('compute', 'merge')),
        |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |hits AS (SELECT category, doc_id, count(*) AS h
        |  FROM t JOIN cat ON w = term GROUP BY category, doc_id),
        |agg AS (SELECT category, count(*) AS n_docs,
        |    CAST(sum(h) AS BIGINT) AS n_hits FROM hits GROUP BY category),
        |r AS (SELECT category, doc_id, h, row_number() OVER
        |    (PARTITION BY category ORDER BY h DESC, doc_id) AS rn FROM hits)
        |SELECT category, n_docs, n_hits, doc_id AS top_doc, h AS top_hits
        |FROM agg JOIN r USING (category) WHERE rn = 1
        |ORDER BY category""".stripMargin),

    "q_chisq_domain" -> Entry(qChisqDomain _,
      """WITH obs AS (SELECT source, lang, count(*) AS o FROM documents
        |  GROUP BY source, lang),
        |rt AS (SELECT source, CAST(sum(o) AS BIGINT) AS rt FROM obs GROUP BY source),
        |ct AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY lang),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS t FROM obs)
        |SELECT source, lang, o AS observed,
        |  CAST((CAST(rt AS HUGEINT) * ct * 1000) // t AS BIGINT) AS expected_milli,
        |  CAST(((CAST(o AS HUGEINT)*t - CAST(rt AS HUGEINT)*ct)
        |    * (CAST(o AS HUGEINT)*t - CAST(rt AS HUGEINT)*ct)
        |    * 1000000) // (CAST(rt AS HUGEINT) * ct * t) AS BIGINT) AS cell_chi2_ppm
        |FROM obs JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN tot
        |ORDER BY source, lang""".stripMargin),

    "q_domain_centroid_sim" -> Entry(qDomainCentroidSim _,
      """WITH comp AS (SELECT label, unnest(range(0, len(embedding))) AS d,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS sx
        |  FROM embeddings),
        |s AS (SELECT label, d, CAST(sum(sx) AS BIGINT) AS sv FROM comp
        |  GROUP BY label, d),
        |n AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
        |p AS (SELECT a.label AS label_a, b.label AS label_b,
        |    CAST(sum(CAST(a.sv AS HUGEINT) * b.sv) // 1000000000 AS BIGINT) AS dot_g
        |  FROM s a JOIN s b ON a.d = b.d AND a.label <= b.label
        |  GROUP BY a.label, b.label)
        |SELECT label_a, label_b, na.n AS n_a, nb.n AS n_b, dot_g
        |FROM p JOIN n na ON label_a = na.label JOIN n nb ON label_b = nb.label
        |ORDER BY label_a, label_b""".stripMargin),

    "q_audio_decode" -> Entry(qAudioDecode _,
      """WITH d AS (SELECT doc_id, 400 + doc_id % 256 AS n,
        |    row_number() OVER () AS rid FROM documents),
        |s AS (SELECT rid, doc_id, n,
        |    (doc_id*31 + unnest(range(0, n))*17) % 65536 - 32768 AS v
        |  FROM d)
        |SELECT doc_id AS media_id, n AS n_samples,
        |  CAST(SUM(v) AS BIGINT) sample_sum,
        |  CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) n_positive,
        |  CAST(MIN(v) AS BIGINT) s_min, CAST(MAX(v) AS BIGINT) s_max
        |FROM s GROUP BY rid, doc_id, n ORDER BY media_id""".stripMargin),

    "q_multimodal_features" -> Entry(qMultimodalFeatures _,
      """WITH c AS (SELECT doc_id media_id, length(text) byte_len,
        |    list_transform(string_split(text, ''), ch -> ascii(ch)) codes
        |  FROM documents)
        |SELECT media_id, CAST(byte_len AS BIGINT) byte_len,
        |  CAST(list_sum(codes) AS BIGINT) byte_sum,
        |  CAST(len(list_filter(codes, c2 -> (c2 >> 6) = 0)) AS BIGINT) h0,
        |  CAST(len(list_filter(codes, c2 -> (c2 >> 6) = 1)) AS BIGINT) h1,
        |  CAST(len(list_filter(codes, c2 -> (c2 >> 6) = 2)) AS BIGINT) h2,
        |  CAST(len(list_filter(codes, c2 -> (c2 >> 6) = 3)) AS BIGINT) h3
        |FROM c ORDER BY media_id""".stripMargin),

    "q_multimodal_frames" -> Entry(qMultimodalFrames _,
      """WITH f AS (SELECT doc_id media_id, text,
        |    unnest(generate_series(0, (length(text) - 1) // 64, 2)) frame_idx
        |  FROM documents)
        |SELECT media_id, CAST(frame_idx AS BIGINT) frame_idx,
        |  CAST(length(substr(text, frame_idx * 64 + 1, 64)) AS BIGINT) frame_len,
        |  md5(substr(text, frame_idx * 64 + 1, 64)) frame_hash
        |FROM f ORDER BY media_id, frame_idx""".stripMargin),

    "q_pipeline_e2e" -> Entry(qPipelineE2e _,
      """WITH base AS (
        |  SELECT event_id id, user_id, event_type, value
        |  FROM events WHERE event_type IN ('purchase','click')),
        |h AS (SELECT *,
        |  substr(md5('{"event_type": "' || event_type || '", "id": ' || id ||
        |             ', "user_id": ' || user_id ||
        |             ', "value": ' || value::VARCHAR || '}'), 1, 16) doc_hash
        |  FROM base)
        |SELECT CAST(id AS VARCHAR) doc_id, event_type AS topic,
        |  '_aether/entities/' || event_type AS target_path, doc_hash,
        |  '{"id":' || id || ',"user_id":' || user_id ||
        |    ',"event_type":"' || event_type || '","value":' || value::VARCHAR || '}' AS doc_json
        |FROM h WHERE id % 2 = 1
        |ORDER BY id""".stripMargin),

    "q_join_range" -> Entry(qJoinRange _,
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('low', 0.0, 50.0), ('mid', 50.0, 150.0), ('high', 150.0, 1e9))
        |SELECT band, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN bands ON value >= lo AND value < hi
        |GROUP BY band
        |ORDER BY band""".stripMargin),

    // oracle is the PLAIN inequality join — the optimizer-rule
    // binning on the Spark side must be result-identical
    "q_range_autobin" -> Entry(qRangeAutobin _,
      """WITH c AS (SELECT event_id AS c_id, value AS v
        |          FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS p_id, value AS lo, value + 2.0 AS hi
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p_id, COUNT(*) AS n_in_window, MIN(c_id) AS min_click
        |FROM c JOIN p ON v >= lo AND v < hi
        |GROUP BY p_id
        |ORDER BY p_id""".stripMargin),

    "q_asof_join" -> Entry(qAsofJoin _,
      """WITH ev AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    CASE WHEN event_type = 'view' THEN event_id END AS view_id
        |  FROM events WHERE event_type IN ('purchase','view'))
        |SELECT event_id, user_id, prev_view_id FROM (
        |  SELECT event_id, user_id, event_type,
        |    LAST_VALUE(view_id IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_view_id
        |  FROM ev)
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin),

    "q_agg_stats" -> Entry((s, d) => qAggStats(s, d),
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  MIN(value) AS min_value,
        |  MAX(value) AS max_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    "q_udaf_weighted" -> Entry(qUdafWeighted _,
      """SELECT l_returnflag,
        |  (CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |                 CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0)
        |    / CAST(CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) AS wavg_price,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    "q_ann_ivf" -> Entry(qAnnIvf _,
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) qv
        |  FROM (SELECT DISTINCT vec_id, embedding, label FROM embeddings)),
        |n AS (SELECT vec_id, qv, list_dot_product(qv, qv) norm2 FROM q),
        |c AS (SELECT vec_id cent_id, qv cv, norm2 cn FROM n WHERE vec_id % 50 = 0),
        |assign AS (
        |  SELECT vec_id, cent_id, rn FROM (
        |    SELECT a.vec_id, c.cent_id,
        |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_dot_product(a.qv, c.cv)/(sqrt(a.norm2)*sqrt(c.cn)) DESC, c.cent_id) rn
        |    FROM n a, c)),
        |cand AS (
        |  SELECT DISTINCT p.vec_id query_id, a.vec_id neighbor_id
        |  FROM assign p JOIN assign a ON p.cent_id = a.cent_id
        |  WHERE a.rn = 1 AND p.rn <= 2 AND p.vec_id < 10 AND a.vec_id <> p.vec_id),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    list_dot_product(qa.qv, qb.qv)/(sqrt(qa.norm2)*sqrt(qb.norm2)) cos_sim
        |  FROM cand JOIN n qa ON query_id = qa.vec_id JOIN n qb ON neighbor_id = qb.vec_id),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, neighbor_id) rnk FROM scored)
        |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) rnk, cos_sim
        |FROM ranked WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin),

    "q_sessionize" -> Entry((s, d) => qSessionize(s, d),
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(ts) ts FROM events),
        |marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL THEN 1
        |         WHEN ts - LAG(ts) OVER w > 86400000000 THEN 1
        |         ELSE 0 END AS new_session
        |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked)
        |SELECT user_id, CAST(session_id AS BIGINT) session_id,
        |  COUNT(*) AS n_events, MIN(ts) AS start_ts, MAX(ts) AS end_ts
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),

    "q_join_outer" -> Entry(qJoinOuter _,
      """WITH cust AS (
        |  SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000),
        |big AS (
        |  SELECT o_custkey, COUNT(*) AS n_big,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS big_total
        |  FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey,
        |  c_name IS NOT NULL AS is_rich,
        |  o_custkey IS NOT NULL AS has_big_orders,
        |  coalesce(n_big, 0) AS n_big,
        |  coalesce(big_total, 0.0) AS big_total
        |FROM cust FULL JOIN big ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin),

    "q_explode_wordcount" -> Entry(qExplodeWordcount _,
      """SELECT lang, word, COUNT(*) AS cnt
        |FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY lang, word
        |HAVING COUNT(*) >= 100
        |ORDER BY lang, word""".stripMargin),

    "q_array_agg" -> Entry(qArrayAgg _,
      """SELECT user_id,
        |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
        |  COUNT(*) AS n
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin),

    "q_pivot" -> Entry((s, d) => qPivot(s, d),
      """SELECT user_id,
        |  COUNT(*) FILTER (event_type = 'click') AS click,
        |  COUNT(*) FILTER (event_type = 'error') AS error,
        |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin),

    "q_cube" -> Entry((s, d) => qCube(s, d),
      """SELECT r_name, o_orderstatus, COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE(r_name, o_orderstatus)
        |ORDER BY r_name NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin),

    "q_setops_all" -> Entry(qSetopsAll _,
      """WITH m AS (
        |  (SELECT user_id FROM events WHERE event_type = 'purchase'
        |   INTERSECT ALL
        |   SELECT user_id FROM events WHERE event_type = 'click')
        |  EXCEPT ALL
        |  SELECT user_id FROM events WHERE event_type = 'error')
        |SELECT user_id, COUNT(*) AS multiplicity FROM m
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    "q_dedup_editdist" -> Entry(qDedupEditDistance _,
      s"""WITH $minhashCte
         |SELECT id_a AS doc_a, id_b AS doc_b,
         |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
         |  1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE) /
         |    CAST(greatest(length(da.text), length(db.text)) AS DOUBLE) AS edit_sim
         |FROM cand
         |JOIN documents da ON id_a = da.doc_id
         |JOIN documents db ON id_b = db.doc_id
         |WHERE 1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE) /
         |    CAST(greatest(length(da.text), length(db.text)) AS DOUBLE) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin),

    "q_boilerplate_ngrams" -> Entry(qBoilerplateNgrams _,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(w) - 4),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]))) AS phrase
        |  FROM w WHERE len(w) >= 5)
        |SELECT phrase, COUNT(*) AS ndocs FROM sh GROUP BY phrase
        |HAVING COUNT(*) >= 3 ORDER BY phrase""".stripMargin),

    "q_boilerplate_fraction" -> Entry(qBoilerplateFraction _,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(w) - 4),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]))) AS phrase
        |  FROM w WHERE len(w) >= 5),
        |freq AS (SELECT phrase, COUNT(*) AS ndocs FROM sh GROUP BY phrase),
        |j AS (SELECT sh.doc_id, freq.ndocs FROM sh JOIN freq USING (phrase))
        |SELECT doc_id, COUNT(*) AS n_phrases,
        |  CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS boiler_frac
        |FROM j GROUP BY doc_id
        |HAVING SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) > 0
        |ORDER BY doc_id""".stripMargin),

    "q_redact_pii" -> Entry(qRedactPii _,
      """WITH a AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.org or 555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |      '\b[0-9]{3}-[0-9]{4}\b', '[PHONE]', 'g') AS redacted
        |  FROM a)
        |SELECT doc_id, CAST(length(redacted) AS BIGINT) AS n_chars,
        |  substr(redacted, greatest(1, length(redacted) - 59)) AS tail
        |FROM r ORDER BY doc_id""".stripMargin),

    // chunk windows mirrored index-for-index; the generate_series
    // bound (4095) caps docs at ~196k tokens — far above the corpus
    "q_chunk_docs" -> Entry((s, d) => qChunkDocs(s, d),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
        |d AS (SELECT doc_id, toks,
        |  CASE WHEN len(toks) <= 64 THEN 1
        |       ELSE (len(toks) - 64 + 47) // 48 + 1 END nc FROM w)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx, CAST(nc AS BIGINT) AS n_chunks,
        |  CAST(len(array_slice(toks, i * 48 + 1, i * 48 + 64)) AS BIGINT) AS chunk_tokens,
        |  array_to_string(array_slice(toks, i * 48 + 1, i * 48 + 64), ' ') AS chunk_text
        |FROM d, (SELECT unnest(generate_series(0, 4095)) AS i) g
        |WHERE i < nc
        |ORDER BY doc_id, chunk_idx""".stripMargin),

    "q_pack_docs" -> Entry(qPackDocs _,
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) n_tokens,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 8 AS shard
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens, shard,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS strt
        |  FROM t)
        |SELECT doc_id, shard, strt // 256 AS pack_idx, strt % 256 AS pack_offset,
        |  n_tokens
        |FROM c ORDER BY doc_id""".stripMargin),

    "q_quota_sample" -> Entry(qQuotaSample _,
      """WITH r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) rk
        |  FROM documents)
        |SELECT doc_id, source, rk FROM r WHERE rk <= 40
        |ORDER BY source, rk""".stripMargin),

    "q_tfidf_topk" -> Entry(qTfidfTopk _,
      """WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) tf FROM terms
        |  WHERE term <> '' GROUP BY doc_id, term),
        |dfreq AS (SELECT term, COUNT(*) df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(DISTINCT doc_id) n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS tfidf
        |  FROM tf JOIN dfreq USING (term), n),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS BIGINT) rk FROM s)
        |SELECT doc_id, term, tf, df, tfidf, rk FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin),

    // HLL mirror: identical hash, identical rho CASE ladder, exact
    // powers of two (1/(1<<rho)) so every partial sum is exact and
    // addition order cannot matter; numerator and the linear-counting
    // table are SHARED literals (ln is not cross-engine bit-stable)
    "q_approx_distinct_hll" -> Entry(qApproxDistinctHll _, {
      import graft.operators.Sketches
      val lcTable = Sketches.HllLinearTable.map(v => s"${v}e0").mkString("[", ", ", "]")
      s"""WITH b AS (SELECT event_type, (_h >> 24) AS bucket,
         |    ${Sketches.hllRhoSql("(_h & 16777215)")} AS rho
         |  FROM (SELECT event_type,
         |    ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8))::BIGINT AS _h
         |    FROM events)),
         |m AS (SELECT event_type, bucket, MAX(rho) AS maxrho
         |  FROM b GROUP BY event_type, bucket),
         |agg AS (SELECT event_type, COUNT(*) AS n_buckets_hit,
         |    ${Sketches.HllNumerator} /
         |      (SUM(1.0 / CAST(1::BIGINT << maxrho AS DOUBLE)) + (256 - COUNT(*))) AS raw
         |  FROM m GROUP BY event_type)
         |SELECT event_type, n_buckets_hit,
         |  CASE WHEN raw <= ${2.5 * Sketches.HllM} AND n_buckets_hit < 256
         |       THEN ($lcTable)[256 - n_buckets_hit]
         |       ELSE raw END AS hll_est
         |FROM agg ORDER BY event_type""".stripMargin
    }),

    "q_quantiles" -> Entry(qQuantiles _,
      """WITH q AS (SELECT l_returnflag,
        |    quantile_cont(l_quantity, [0.1, 0.25, 0.5, 0.75, 0.9]) qs
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(i - 1 AS BIGINT) AS q_idx, qs[i] AS q_value
        |FROM q, (SELECT unnest([1, 2, 3, 4, 5]) i)
        |ORDER BY l_returnflag, q_idx""".stripMargin),

    // same two-pass median/MAD; quantile_cont interpolation parity is
    // the q_quantiles-proven contract
    "q_anomaly_mad" -> Entry(qAnomalyMad _,
      """WITH e AS (SELECT event_type, value FROM events),
        |m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM e GROUP BY event_type),
        |d AS (SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
        |  FROM e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM d GROUP BY event_type)
        |SELECT d.event_type, MIN(d.med) AS med, MIN(md.mad) AS mad,
        |  CAST(SUM(CASE WHEN d.adev > 3 * md.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  COUNT(*) AS n_total
        |FROM d JOIN md USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin),

    // same five declared checks, one metrics scan + FK anti-join
    "q_dq_checks" -> Entry(qDqChecks _,
      """WITH m AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS null_key,
        |    CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS neg_price,
        |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0
        |      END) AS BIGINT) AS bad_status,
        |    COUNT(DISTINCT o_orderkey) AS n_keys
        |  FROM orders),
        |fk AS (SELECT COUNT(*) AS fk_bad FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |    WHERE c.c_custkey = o.o_custkey)),
        |c AS (
        |  SELECT 'key_not_null' AS check, null_key AS violations FROM m
        |  UNION ALL SELECT 'key_unique', n - n_keys FROM m
        |  UNION ALL SELECT 'price_non_negative', neg_price FROM m
        |  UNION ALL SELECT 'status_in_domain', bad_status FROM m
        |  UNION ALL SELECT 'custkey_references_customer', fk_bad FROM fk)
        |SELECT "check", CAST(violations AS BIGINT) AS violations,
        |  violations = 0 AS passed
        |FROM c ORDER BY "check"""".stripMargin),

    // 0-based phrase positions; string-packed postings sort binary
    // identically in both engines
    "q_inverted_index" -> Entry(qInvertedIndex _,
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |p AS (SELECT doc_id, i - 1 AS pos, toks[i] || ' ' || toks[i+1] AS tok
        |  FROM w, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 2),
        |f AS (SELECT tok,
        |    CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR) AS posting,
        |    doc_id
        |  FROM p)
        |SELECT tok,
        |  array_to_string(list_sort(list(posting)), ',') AS postings,
        |  COUNT(DISTINCT doc_id) AS df
        |FROM f GROUP BY tok
        |HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 25
        |ORDER BY tok""".stripMargin),

    // identical hash rule ⇒ identical sample on any engine
    "q_sample_hash" -> Entry(qSampleHash _,
      """SELECT source, COUNT(*) AS n_sampled,
        |  CAST(SUM(length(text)) AS BIGINT) AS sampled_chars
        |FROM documents
        |WHERE ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT < 429496729
        |GROUP BY source ORDER BY source""".stripMargin),

    // connected components mirrored as a recursive reachability
    // closure: rep(d) = min over everything reachable from d in the
    // verified-pair graph (tiny at sf0.01: ~50 nodes) — identical to
    // the min-label-propagation fixpoint by definition
    "q_dedup_clusters" -> Entry(qDedupClusters _,
      s"""WITH RECURSIVE $minhashCte,
         |verified AS (SELECT id_a, id_b
         |  FROM cand JOIN sh sa ON id_a = sa.doc_id JOIN sh sb ON id_b = sb.doc_id
         |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |      len(list_distinct(sa.sh || sb.sh)) >= 0.5),
         |edges AS (SELECT id_a u, id_b v FROM verified
         |  UNION SELECT id_b, id_a FROM verified),
         |reach AS (
         |  SELECT u AS src, u AS node FROM edges
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.node = e.u)
         |SELECT src AS doc_id, MIN(node) AS cluster_rep
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin),

    "q_cc_size_hist" -> Entry(qCcSizeHist _,
      s"""WITH RECURSIVE $minhashCte,
         |verified AS (SELECT id_a, id_b
         |  FROM cand JOIN sh sa ON id_a = sa.doc_id JOIN sh sb ON id_b = sb.doc_id
         |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |      len(list_distinct(sa.sh || sb.sh)) >= 0.5),
         |edges AS (SELECT id_a u, id_b v FROM verified
         |  UNION SELECT id_b, id_a FROM verified),
         |reach AS (
         |  SELECT u AS src, u AS node FROM edges
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.node = e.u),
         |clusters AS (SELECT src AS doc_id, MIN(node) AS cluster_rep
         |  FROM reach GROUP BY src),
         |cs AS (SELECT cluster_rep, count(*) AS cluster_size FROM clusters
         |  GROUP BY cluster_rep)
         |SELECT cluster_size, count(*) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin),

    "q_pack_efficiency" -> Entry(qPackEfficiency _,
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) n_tokens,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 8 AS shard
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens, shard,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS strt
        |  FROM t),
        |p AS (SELECT shard, CAST(max(strt // 256) + 1 AS BIGINT) AS n_packs,
        |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |  FROM c GROUP BY shard)
        |SELECT shard, n_packs, total_tokens,
        |  (total_tokens * 1000000) // (n_packs * 256) AS fill_ppm
        |FROM p ORDER BY shard""".stripMargin),

    "q_dup_ratio_by_source" -> Entry(qDupRatioBySource _,
      """WITH h AS (SELECT source, md5(text) AS h FROM documents),
        |c AS (SELECT h, count(*) AS c FROM h GROUP BY h)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |  CAST(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
        |    // count(*) AS dup_ppm
        |FROM h JOIN c USING (h)
        |GROUP BY source ORDER BY source""".stripMargin),

    "q_hourly_activity" -> Entry(qHourlyActivity _,
      """SELECT (epoch_ns(ts) // 3600000000000) % 24 AS hour, event_type,
        |  count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY hour, event_type
        |ORDER BY hour, event_type""".stripMargin),

    "q_decay_popularity" -> Entry(qDecayPopularity _,
      """WITH e AS (SELECT event_type, epoch_ns(ts) AS t FROM events),
        |m AS (SELECT max(t) AS tmax FROM e)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(1048576 // (1 << CAST(least((tmax - t) // 86400000000000, 20) AS INT)))
        |    AS BIGINT) AS decayed_score
        |FROM e CROSS JOIN m GROUP BY event_type ORDER BY event_type""".stripMargin),

    "q_null_skew_join" -> Entry(qNullSkewJoin _,
      """WITH e AS (SELECT CASE WHEN value < 1.0 THEN NULL ELSE user_id END AS k,
        |    value FROM events)
        |SELECT coalesce(CAST(c_nationkey AS BIGINT), -1) AS nation,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM e LEFT JOIN customer ON k = c_custkey
        |GROUP BY nation ORDER BY nation""".stripMargin),

    // survivor selection mirrors the cluster closure, then ranks each
    // cluster by (text_len DESC, doc_id) — same deterministic
    // tie-break as the Spark window
    "q_dedup_survivors" -> Entry(qDedupSurvivors _,
      s"""WITH RECURSIVE $minhashCte,
         |verified AS (SELECT id_a, id_b
         |  FROM cand JOIN sh sa ON id_a = sa.doc_id JOIN sh sb ON id_b = sb.doc_id
         |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |      len(list_distinct(sa.sh || sb.sh)) >= 0.5),
         |edges AS (SELECT id_a u, id_b v FROM verified
         |  UNION SELECT id_b, id_a FROM verified),
         |reach AS (
         |  SELECT u AS src, u AS node FROM edges
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.node = e.u),
         |clusters AS (SELECT src AS doc_id, MIN(node) AS cluster_rep
         |  FROM reach GROUP BY src),
         |ranked AS (SELECT c.cluster_rep, c.doc_id,
         |    CAST(length(d.text) AS BIGINT) AS text_len,
         |    COUNT(*) OVER (PARTITION BY c.cluster_rep) AS cluster_size,
         |    ROW_NUMBER() OVER (PARTITION BY c.cluster_rep
         |      ORDER BY length(d.text) DESC, c.doc_id) AS rn
         |  FROM clusters c JOIN documents d USING (doc_id))
         |SELECT cluster_rep, doc_id AS survivor_id, cluster_size, text_len
         |FROM ranked WHERE rn = 1 ORDER BY cluster_rep""".stripMargin),

    // the whole curation chain composed in one statement: the
    // near-dup stages reuse the exact minhash/cluster/survivor CTEs
    // of q_dedup_clusters / q_dedup_survivors
    "q_curation_e2e" -> Entry(qCurationE2e _,
      s"""WITH RECURSIVE $minhashCte,
         |verified AS (SELECT id_a, id_b
         |  FROM cand JOIN sh sa ON id_a = sa.doc_id JOIN sh sb ON id_b = sb.doc_id
         |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |      len(list_distinct(sa.sh || sb.sh)) >= 0.5),
         |edges AS (SELECT id_a u, id_b v FROM verified
         |  UNION SELECT id_b, id_a FROM verified),
         |reach AS (
         |  SELECT u AS src, u AS node FROM edges
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.node = e.u),
         |clusters AS (SELECT src AS doc_id, MIN(node) AS cluster_rep
         |  FROM reach GROUP BY src),
         |ranked AS (SELECT c.doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY c.cluster_rep
         |      ORDER BY length(d.text) DESC, c.doc_id) AS rn
         |  FROM clusters c JOIN documents d USING (doc_id)),
         |nonsurv AS (SELECT doc_id FROM ranked WHERE rn > 1),
         |toks AS (SELECT doc_id, source, text,
         |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |quality AS (SELECT * FROM toks WHERE n_tokens BETWEEN 30 AND 5000),
         |exact AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM quality)
         |  WHERE rn = 1),
         |dedup AS (SELECT e.* FROM exact e
         |  WHERE e.doc_id NOT IN (SELECT doc_id FROM nonsurv)),
         |sel AS (SELECT source, doc_id, n_tokens,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY md5('q' || doc_id), doc_id) AS qrank
         |  FROM dedup)
         |SELECT source, doc_id, n_tokens FROM sel WHERE qrank <= 40
         |ORDER BY source, doc_id""".stripMargin),

    // KMV mirror: identical hash (first 8 md5 hex digits), identical
    // order statistics, identical double expression — bit-exact
    "q_approx_distinct_kmv" -> Entry(qApproxDistinctKmv _,
      """WITH h AS (SELECT DISTINCT event_type,
        |    ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8))::BIGINT AS _h
        |  FROM events),
        |r AS (SELECT event_type, _h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY _h) rn FROM h)
        |SELECT event_type,
        |  CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
        |       ELSE 255.0 / (MAX(_h) / 4294967296.0) END AS n_distinct_est
        |FROM r WHERE rn <= 256
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // the salted plans must produce EXACTLY the unsalted results —
    // that invariance is the point of the oracle pair
    "q_skew_salted_agg" -> Entry(qSkewSaltedAgg _,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    "q_skew_salted_join" -> Entry(qSkewSaltedJoin _,
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // CMS mirror: same row-prefixed md5 hash32, same d×w geometry, the
    // estimate is an all-integer MIN over BIGINT counters — bit-exact
    "q_cms_heavy_hitters" -> Entry(qCmsHeavyHitters _, {
      val d = operators.Sketches.CmsD
      val w = operators.Sketches.CmsW
      val idxs = (0 until d).mkString(",")
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) tok FROM documents),
         |tf AS (SELECT tok FROM t WHERE tok <> ''),
         |cells AS (SELECT row_idx,
         |    ('0x'||substr(md5(CAST(row_idx AS VARCHAR)||':'||tok),1,8))::BIGINT % $w AS cell
         |  FROM tf CROSS JOIN (SELECT unnest([$idxs]) row_idx) r),
         |counters AS (SELECT row_idx, cell, COUNT(*) cnt FROM cells GROUP BY row_idx, cell),
         |exact AS (SELECT tok, COUNT(*) exact_cnt FROM tf GROUP BY tok),
         |est AS (SELECT tok, MIN(cnt) cms_est FROM (
         |    SELECT e.tok, c.cnt
         |    FROM exact e CROSS JOIN (SELECT unnest([$idxs]) row_idx) r
         |    JOIN counters c ON c.row_idx = r.row_idx
         |      AND c.cell = ('0x'||substr(md5(CAST(r.row_idx AS VARCHAR)||':'||e.tok),1,8))::BIGINT % $w)
         |  GROUP BY tok)
         |SELECT est.tok, est.cms_est, exact.exact_cnt
         |FROM est JOIN exact USING (tok)
         |WHERE est.cms_est >= 100
         |ORDER BY tok""".stripMargin
    }),

    // hash-rank stratified split: the boundary test is all-integer, the
    // rank ordering is (md5 hex, doc_id) in both engines
    "q_split_stratified" -> Entry(qSplitStratified _,
      """WITH r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) rk,
        |    COUNT(*) OVER (PARTITION BY source) cnt
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN rk*100 <= cnt*80 THEN 'train'
        |       WHEN rk*100 <= cnt*90 THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n, MIN(doc_id) AS min_id
        |FROM r GROUP BY source, split
        |ORDER BY source, split""".stripMargin),

    // PPS systematic sampling: selection iff the row's weight interval
    // crosses a multiple of total/k — integer floor division on both
    // engines (DuckDB //, Spark div), hash order (md5 hex, doc_id)
    "q_sample_weighted" -> Entry(qSampleWeighted _,
      """WITH c AS (SELECT doc_id, n_chars,
        |    SUM(n_chars) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w_cum,
        |    SUM(n_chars) OVER () AS w_tot
        |  FROM documents)
        |SELECT doc_id, n_chars FROM c
        |WHERE (w_cum * 100) // w_tot > ((w_cum - n_chars) * 100) // w_tot
        |ORDER BY doc_id""".stripMargin),

    "q_date_fns" -> Entry(qDateFns _,
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
        |  COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_custkey) AS n_customers
        |FROM orders
        |GROUP BY o_year, o_month
        |ORDER BY o_year, o_month""".stripMargin),

    "q_dedup_damerau" -> Entry(qDedupDamerau _,
      """WITH d AS (SELECT doc_id, lang, n_chars // 50 AS bkt,
        |    substr(text, 1, 40) AS pre FROM documents),
        |r AS (SELECT *, row_number()
        |    OVER (PARTITION BY lang, bkt ORDER BY doc_id) rk FROM d)
        |SELECT a.doc_id id_a, b.doc_id id_b,
        |  CAST(damerau_levenshtein(a.pre, b.pre) AS BIGINT) dl
        |FROM r a JOIN r b
        |  ON a.lang = b.lang AND a.bkt = b.bkt AND b.rk - a.rk IN (1, 2)
        |WHERE damerau_levenshtein(a.pre, b.pre) <= 22
        |ORDER BY id_a, id_b""".stripMargin),

    "q_link_prediction" -> Entry(qLinkPrediction _,
      """WITH e AS (SELECT DISTINCT l_partkey p, l_suppkey sv FROM lineitem),
        |deg AS (SELECT p, count(*) d FROM e GROUP BY p
        |  HAVING count(*) BETWEEN 2 AND 64),
        |pr AS (SELECT a.sv sa, b.sv sb, deg.d
        |  FROM e a JOIN deg USING (p) JOIN e b USING (p) WHERE a.sv < b.sv)
        |SELECT sa, sb, CAST(sum(1000000 // d) AS BIGINT) ra_ppm,
        |  count(*) n_shared
        |FROM pr GROUP BY sa, sb
        |ORDER BY ra_ppm DESC, sa, sb LIMIT 25""".stripMargin),

    "q_decision_stump" -> Entry(qDecisionStump _,
      """WITH d AS (SELECT source, n_chars,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END pos FROM documents),
        |ext AS (SELECT source, min(n_chars) mn, max(n_chars) mx,
        |    count(*) n, sum(pos) p FROM d GROUP BY source),
        |pb AS (SELECT d.source, n, p,
        |    least(31, (n_chars - mn) * 32 // (mx - mn + 1)) b,
        |    count(*) cn, sum(pos) cp
        |  FROM d JOIN ext USING (source) GROUP BY d.source, n, p, b),
        |cum AS (SELECT source, b, n, p,
        |    sum(cn) OVER (PARTITION BY source ORDER BY b) nl,
        |    sum(cp) OVER (PARTITION BY source ORDER BY b) pl FROM pb),
        |cand AS (SELECT source, b, nl, pl, n - nl nr, p - pl pr
        |  FROM cum WHERE nl < n),
        |sc AS (SELECT source, b, nl, nr,
        |  CAST((CAST(nl AS HUGEINT) * nl - CAST(pl AS HUGEINT) * pl
        |      - CAST(nl - pl AS HUGEINT) * (nl - pl)) * 1000000
        |      // (CAST(nl AS HUGEINT) * (nl + nr))
        |    + (CAST(nr AS HUGEINT) * nr - CAST(pr AS HUGEINT) * pr
        |      - CAST(nr - pr AS HUGEINT) * (nr - pr)) * 1000000
        |      // (CAST(nr AS HUGEINT) * (nl + nr)) AS BIGINT) gini_ppm
        |  FROM cand),
        |pick AS (SELECT source, b split_bin, CAST(nl AS BIGINT) n_left,
        |    CAST(nr AS BIGINT) n_right, gini_ppm,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY gini_ppm, b) rn FROM sc)
        |SELECT source, split_bin, n_left, n_right, gini_ppm
        |FROM pick WHERE rn = 1 ORDER BY source""".stripMargin),

    "q_rocchio_classify" -> Entry(qRocchioClassify _,
      """WITH d AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) x,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) y FROM documents),
        |cent AS (SELECT lang clang,
        |    CAST(CAST(sum(x) AS HUGEINT) * 1000 // count(*) AS BIGINT) cx,
        |    CAST(CAST(sum(y) AS HUGEINT) * 1000 // count(*) AS BIGINT) cy
        |  FROM d GROUP BY lang),
        |sc AS (SELECT doc_id, lang, clang,
        |    (x * 1000 - cx) * (x * 1000 - cx)
        |      + (y * 1000 - cy) * (y * 1000 - cy) d2
        |  FROM d CROSS JOIN cent),
        |pick AS (SELECT doc_id, lang, clang, row_number()
        |    OVER (PARTITION BY doc_id ORDER BY d2, clang) rn FROM sc)
        |SELECT lang actual, clang predicted, count(*) n
        |FROM pick WHERE rn = 1
        |GROUP BY actual, predicted ORDER BY actual, predicted""".stripMargin),

    "q_knn_label" -> Entry(qKnnLabel _,
      """WITH p AS (SELECT vec_id, CAST(label AS BIGINT) AS "label",
        |  CAST(floor((CAST(embedding[1] AS DOUBLE)+1.0)*1048576) AS BIGINT) xi,
        |  CAST(floor((CAST(embedding[2] AS DOUBLE)+1.0)*1048576) AS BIGINT) yi
        |  FROM embeddings),
        |n0 AS (SELECT count(*) n FROM p),
        |pr AS (SELECT a.vec_id ia, b.vec_id ib,
        |    (a.xi-b.xi)*(a.xi-b.xi)+(a.yi-b.yi)*(a.yi-b.yi) d2
        |  FROM p a, p b, n0 WHERE a.vec_id < b.vec_id
        |    AND (a.xi-b.xi)*(a.xi-b.xi)+(a.yi-b.yi)*(a.yi-b.yi)
        |        <= CAST(2000000 AS BIGINT) * 2000000 // n0.n),
        |sym AS (SELECT ia pid, ib nb, d2 FROM pr
        |  UNION ALL SELECT ib, ia, d2 FROM pr),
        |r AS (SELECT pid, nb,
        |    row_number() OVER (PARTITION BY pid ORDER BY d2, nb) rn,
        |    count(*) OVER (PARTITION BY pid) k FROM sym),
        |t3 AS (SELECT pid, nb FROM r WHERE rn <= 3 AND k >= 3),
        |votes AS (SELECT t3.pid, p2."label" nb_label, count(*) v
        |  FROM t3 JOIN p p2 ON t3.nb = p2.vec_id GROUP BY t3.pid, p2.label),
        |pick AS (SELECT pid, nb_label pred, row_number()
        |    OVER (PARTITION BY pid ORDER BY v DESC, nb_label) rn FROM votes),
        |pd AS (SELECT pid, pred FROM pick WHERE rn = 1)
        |SELECT p."label", count(*) n_total, count(pd.pred) n_eval,
        |  CAST(coalesce(sum(CASE WHEN pd.pred = p."label" THEN 1 END), 0)
        |    AS BIGINT) n_correct,
        |  CAST(CASE WHEN count(pd.pred) > 0
        |    THEN coalesce(sum(CASE WHEN pd.pred = p."label" THEN 1 END), 0)
        |      * 1000000 // count(pd.pred)
        |    ELSE 0 END AS BIGINT) acc_ppm
        |FROM p LEFT JOIN pd ON p.vec_id = pd.pid
        |GROUP BY p."label" ORDER BY p."label"""".stripMargin),

    "q_crosscorr" -> Entry(qCrossCorr _,
      """WITH ev AS (SELECT epoch_ns(ts) // 3600000000000 h, event_type
        |  FROM events),
        |cnt AS (SELECT h,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) x,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) y
        |  FROM ev GROUP BY h),
        |ext AS (SELECT min(h) hmin, max(h) hmax FROM cnt),
        |grid AS (SELECT unnest(generate_series(hmin, hmax)) h FROM ext),
        |f0 AS (SELECT grid.h, coalesce(x, 0) x, coalesce(y, 0) y
        |  FROM grid LEFT JOIN cnt ON grid.h = cnt.h),
        |lg AS (SELECT l.lag_h, a.x, b.y
        |  FROM f0 a
        |  CROSS JOIN (SELECT unnest(generate_series(0, 6)) lag_h) l
        |  JOIN f0 b ON b.h = a.h + l.lag_h),
        |m AS (SELECT lag_h, count(*) n,
        |    sum(CAST(x AS HUGEINT)) sx, sum(CAST(y AS HUGEINT)) sy,
        |    sum(CAST(x AS HUGEINT) * y) sxy,
        |    sum(CAST(x AS HUGEINT) * x) sxx,
        |    sum(CAST(y AS HUGEINT) * y) syy
        |  FROM lg GROUP BY lag_h),
        |fin AS (SELECT lag_h, CAST(n AS BIGINT) n,
        |    CAST(n AS HUGEINT) * sxy - sx * sy num,
        |    CAST(n AS HUGEINT) * sxx - sx * sx d1,
        |    CAST(n AS HUGEINT) * syy - sy * sy d2 FROM m)
        |SELECT CAST(lag_h AS BIGINT) lag_h, n,
        |  CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
        |    AS BIGINT) r_sign,
        |  CASE WHEN d1 > 0 AND d2 > 0
        |    THEN CAST((num * 1000 // d1) * (num * 1000 // d2) AS BIGINT)
        |    ELSE NULL END r2_ppm
        |FROM fin ORDER BY lag_h""".stripMargin),

    "q_peak_detect" -> Entry(qPeakDetect _,
      """WITH ev AS (SELECT epoch_ns(ts) // 3600000000000 h, event_type
        |  FROM events),
        |cnt AS (SELECT event_type, h, count(*) c FROM ev GROUP BY 1, 2),
        |ext AS (SELECT min(h) hmin, max(h) hmax FROM ev),
        |grid AS (SELECT unnest(generate_series(hmin, hmax)) h FROM ext),
        |ty AS (SELECT DISTINCT event_type FROM ev),
        |dense AS (SELECT ty.event_type, grid.h, coalesce(c, 0) c
        |  FROM ty CROSS JOIN grid LEFT JOIN cnt
        |    ON cnt.event_type = ty.event_type AND cnt.h = grid.h),
        |wnd AS (SELECT event_type, h, c,
        |    lag(c, 1) OVER w p1, lag(c, 2) OVER w p2,
        |    lead(c, 1) OVER w f1, lead(c, 2) OVER w f2
        |  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY h))
        |SELECT event_type, h, CAST(c AS BIGINT) c,
        |  CAST(p2 + p1 + c + f1 + f2 AS BIGINT) sum5
        |FROM wnd
        |WHERE p2 IS NOT NULL AND f2 IS NOT NULL
        |  AND c > p1 AND c > p2 AND c > f1 AND c > f2
        |  AND c * 10 >= (p2 + p1 + c + f1 + f2) * 3
        |ORDER BY event_type, h""".stripMargin),

    "q_readability" -> Entry(qReadability _,
      """WITH d AS (SELECT doc_id, source,
        |    greatest(1, CAST(len(regexp_extract_all(text, '\S+'))
        |      AS BIGINT)) w,
        |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
        |      AS BIGINT)) sent,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) sy
        |  FROM documents),
        |f AS (SELECT source,
        |    206835 - 1015 * w // sent - 84600 * sy // w fm FROM d)
        |SELECT source, count(*) n_docs,
        |  CAST(sum(fm) // count(*) AS BIGINT) avg_flesch_milli,
        |  CAST(min(fm) AS BIGINT) min_flesch_milli,
        |  CAST(max(fm) AS BIGINT) max_flesch_milli
        |FROM f GROUP BY source ORDER BY source""".stripMargin),

    "q_welch_ttest" -> Entry(qWelchTtest _,
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) nation,
        |    c_mktsegment = 'BUILDING' is_b,
        |    CAST(floor(c_acctbal) AS BIGINT) x
        |  FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |g AS (SELECT nation,
        |    sum(CASE WHEN is_b THEN 1 ELSE 0 END) n1,
        |    sum(CASE WHEN is_b THEN x ELSE 0 END) s1,
        |    sum(CASE WHEN is_b THEN CAST(x AS HUGEINT) * x ELSE 0 END) q1,
        |    sum(CASE WHEN NOT is_b THEN 1 ELSE 0 END) n2,
        |    sum(CASE WHEN NOT is_b THEN x ELSE 0 END) s2,
        |    sum(CASE WHEN NOT is_b THEN CAST(x AS HUGEINT) * x ELSE 0 END) q2
        |  FROM c GROUP BY nation HAVING n1 >= 2 AND n2 >= 2),
        |t AS (SELECT nation, CAST(n1 AS BIGINT) n1, CAST(n2 AS BIGINT) n2,
        |    CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1 dd,
        |    CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 v1n,
        |    CAST(n2 AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2 v2n
        |  FROM g),
        |u AS (SELECT nation, n1, n2,
        |    CAST(CASE WHEN dd > 0 THEN 1 WHEN dd < 0 THEN -1 ELSE 0 END
        |      AS BIGINT) d_sign,
        |    CAST(abs(dd) * 1000 // (CAST(n1 AS HUGEINT) * n2) AS BIGINT)
        |      md_milli,
        |    CAST(v1n * 1000000 // (CAST(n1 AS HUGEINT) * n1 * (n1 - 1))
        |      + v2n * 1000000 // (CAST(n2 AS HUGEINT) * n2 * (n2 - 1))
        |      AS BIGINT) se2_micro
        |  FROM t)
        |SELECT nation, n1, n2, d_sign, md_milli,
        |  CASE WHEN se2_micro > 0
        |    THEN CAST(CAST(md_milli AS HUGEINT) * md_milli * 1000
        |      // se2_micro AS BIGINT)
        |    ELSE NULL END t2_milli
        |FROM u ORDER BY nation""".stripMargin),

    "q_hazard_km" -> Entry(qHazardKm _,
      """WITH per AS (SELECT user_id, min(epoch_ns(ts)) t0,
        |    max(epoch_ns(ts)) tlast,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) tp
        |  FROM events GROUP BY user_id),
        |dur AS (SELECT CASE WHEN tp IS NOT NULL
        |      THEN (tp - t0) // 86400000000000
        |      ELSE (tlast - t0) // 86400000000000 END d,
        |    CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END e FROM per),
        |byd AS (SELECT d, count(*) n_at, sum(e) d_ev FROM dur GROUP BY d),
        |st AS (SELECT d, CAST(n_at AS BIGINT) n_at, CAST(d_ev AS BIGINT) d_ev,
        |    sum(n_at) OVER () tot,
        |    sum(n_at) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) cum
        |  FROM byd),
        |hz AS (SELECT d, CAST(tot - cum + n_at AS BIGINT) n_risk, d_ev,
        |    CAST(d_ev * 1000000 // CAST(tot - cum + n_at AS BIGINT)
        |      AS BIGINT) h_ppm FROM st),
        |fin AS (SELECT d, n_risk, d_ev, h_ppm,
        |    CAST(sum(h_ppm) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) ch_ppm FROM hz)
        |SELECT d, n_risk, d_ev, h_ppm, ch_ppm
        |FROM fin WHERE d_ev > 0 ORDER BY d""".stripMargin),

    "q_perm_test" -> Entry(qPermTest _,
      """WITH base AS (SELECT c_custkey, c_mktsegment = 'BUILDING' is_b,
        |    CAST(floor(c_acctbal) AS BIGINT) x
        |  FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |eb AS (SELECT c_custkey, is_b, x,
        |    unnest(generate_series(0, 64)) b FROM base),
        |g AS (SELECT b, CASE WHEN b = 0 THEN is_b
        |    ELSE ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '|'
        |      || CAST(b AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 END gb,
        |    x FROM eb),
        |st AS (SELECT b,
        |    sum(CASE WHEN gb THEN 1 ELSE 0 END) n1,
        |    sum(CASE WHEN gb THEN x ELSE 0 END) s1,
        |    sum(CASE WHEN NOT gb THEN 1 ELSE 0 END) n2,
        |    sum(CASE WHEN NOT gb THEN x ELSE 0 END) s2
        |  FROM g GROUP BY b),
        |md AS (SELECT b, CAST(n1 AS BIGINT) n1, CAST(n2 AS BIGINT) n2,
        |    CAST(abs(CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1)
        |      * 1000 // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) md_milli
        |  FROM st),
        |obs AS (SELECT n1, n2, md_milli obs_md_milli FROM md WHERE b = 0),
        |agg AS (SELECT obs.n1, obs.n2, obs.obs_md_milli,
        |    sum(CASE WHEN p.md_milli >= obs.obs_md_milli THEN 1 ELSE 0
        |      END) n_ge
        |  FROM obs CROSS JOIN (SELECT md_milli FROM md WHERE b > 0) p
        |  GROUP BY obs.n1, obs.n2, obs.obs_md_milli)
        |SELECT n1, n2, obs_md_milli, CAST(n_ge AS BIGINT) n_ge,
        |  (1 + CAST(n_ge AS BIGINT)) * 1000000 // 65 p_ppm
        |FROM agg ORDER BY n1""".stripMargin),

    "q_item_lift" -> Entry(qItemLift _,
      """WITH io AS (SELECT DISTINCT l_orderkey ok, l_partkey pk
        |  FROM lineitem),
        |n0 AS (SELECT count(DISTINCT ok) n_orders FROM io),
        |pr AS (SELECT a.pk a, b.pk b, count(*) c_ab
        |  FROM io a JOIN io b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
        |marg AS (SELECT pk, count(*) c FROM io GROUP BY pk),
        |dr AS (SELECT a, b, c_ab FROM pr
        |  UNION ALL SELECT b, a, c_ab FROM pr),
        |sc AS (SELECT dr.a, dr.b, c_ab,
        |    CAST(CAST(c_ab AS HUGEINT) * n_orders * 1000000
        |      // (CAST(ma.c AS HUGEINT) * mb.c) AS BIGINT) lift_ppm
        |  FROM dr JOIN marg ma ON dr.a = ma.pk
        |    JOIN marg mb ON dr.b = mb.pk CROSS JOIN n0),
        |rk AS (SELECT a, b, c_ab, lift_ppm, row_number()
        |    OVER (PARTITION BY a ORDER BY lift_ppm DESC, b) rk FROM sc)
        |SELECT a, CAST(rk AS BIGINT) rk, b, c_ab, lift_ppm
        |FROM rk WHERE rk <= 3 ORDER BY a, rk""".stripMargin),

    "q_consistent_shard" -> Entry(qConsistentShard _,
      """WITH k AS (SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT h
        |  FROM documents),
        |vn AS (SELECT sh, ('0x' || substr(md5('s' || CAST(sh AS VARCHAR)
        |      || '-' || CAST(r AS VARCHAR)), 1, 8))::BIGINT vh
        |  FROM (SELECT unnest(generate_series(0, 8)) sh) s,
        |    (SELECT unnest(generate_series(0, 3)) r) r),
        |a8 AS (SELECT doc_id, h, sh r8 FROM (
        |    SELECT k.doc_id, k.h, vn.sh, row_number() OVER (
        |      PARTITION BY k.doc_id
        |      ORDER BY (vn.vh < k.h), vn.vh, vn.sh) rn
        |    FROM k CROSS JOIN vn WHERE vn.sh <= 7) WHERE rn = 1),
        |a9 AS (SELECT doc_id, sh r9 FROM (
        |    SELECT k.doc_id, vn.sh, row_number() OVER (
        |      PARTITION BY k.doc_id
        |      ORDER BY (vn.vh < k.h), vn.vh, vn.sh) rn
        |    FROM k CROSS JOIN vn) WHERE rn = 1),
        |j AS (SELECT a8.h, a8.r8, a9.r9 FROM a8 JOIN a9 USING (doc_id)),
        |ag AS (SELECT CAST(count(*) AS BIGINT) n_keys,
        |    CAST(sum(CASE WHEN h % 8 <> h % 9 THEN 1 ELSE 0 END)
        |      AS BIGINT) mod_moved,
        |    CAST(sum(CASE WHEN r8 <> r9 THEN 1 ELSE 0 END)
        |      AS BIGINT) ring_moved FROM j)
        |SELECT * FROM (
        |  SELECT 'mod' scheme, n_keys, mod_moved n_moved,
        |    mod_moved * 1000000 // n_keys moved_ppm FROM ag
        |  UNION ALL
        |  SELECT 'ring', n_keys, ring_moved,
        |    ring_moved * 1000000 // n_keys FROM ag)
        |ORDER BY scheme""".stripMargin),

    "q_sax_motifs" -> Entry(qSaxMotifs _,
      """WITH ev AS (SELECT epoch_ns(ts) // 86400000000000 AS dy,
        |    (epoch_ns(ts) // 3600000000000) % 24 AS hour, event_type
        |  FROM events),
        |td AS (SELECT DISTINCT event_type, dy FROM ev),
        |grid AS (SELECT event_type, dy,
        |    unnest(generate_series(0, 23)) AS hour FROM td),
        |cnt AS (SELECT event_type, dy, hour, count(*) c
        |  FROM ev GROUP BY 1, 2, 3),
        |sym AS (SELECT g.event_type, g.dy, g.hour, coalesce(c, 0) c,
        |    (row_number() OVER (PARTITION BY g.event_type, g.dy
        |      ORDER BY coalesce(c, 0), g.hour) - 1) * 4 // 24 letter
        |  FROM grid g LEFT JOIN cnt ON cnt.event_type = g.event_type
        |    AND cnt.dy = g.dy AND cnt.hour = g.hour),
        |tri AS (SELECT event_type, hour,
        |    CAST(letter AS VARCHAR) || '-' || CAST(l1 AS VARCHAR)
        |      || '-' || CAST(l2 AS VARCHAR) motif
        |  FROM (SELECT event_type, hour, letter,
        |      lead(letter, 1) OVER w l1, lead(letter, 2) OVER w l2
        |    FROM sym WINDOW w AS (PARTITION BY event_type, dy
        |      ORDER BY hour))
        |  WHERE l2 IS NOT NULL),
        |mc AS (SELECT event_type, hour, motif, count(*) n_days
        |  FROM tri GROUP BY 1, 2, 3),
        |rk AS (SELECT event_type, hour, motif, n_days,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY n_days DESC, motif, hour) rk FROM mc)
        |SELECT event_type, CAST(rk AS BIGINT) rk, hour, motif, n_days
        |FROM rk WHERE rk <= 5 ORDER BY event_type, rk""".stripMargin),

    "q_heavy_change" -> Entry(qHeavyChange _,
      """WITH ev AS (SELECT epoch_ns(ts) // 86400000000000 AS dy, user_id
        |  FROM events),
        |d0 AS (SELECT min(dy) d0 FROM ev),
        |per AS (SELECT user_id,
        |    sum(CASE WHEN dy - d0.d0 < 15 THEN 1 ELSE 0 END) c1,
        |    sum(CASE WHEN dy - d0.d0 >= 15 THEN 1 ELSE 0 END) c2
        |  FROM ev CROSS JOIN d0 GROUP BY user_id),
        |r AS (SELECT user_id, CAST(c1 AS BIGINT) c1, CAST(c2 AS BIGINT) c2,
        |    (CAST(c2 AS BIGINT) + 1) * 1000000
        |      // (CAST(c1 AS BIGINT) + 1) ratio_ppm FROM per),
        |ris AS (SELECT 'riser' AS "role", user_id, c1, c2, ratio_ppm
        |  FROM r ORDER BY ratio_ppm DESC, user_id LIMIT 10),
        |fal AS (SELECT 'faller' AS "role", user_id, c1, c2, ratio_ppm
        |  FROM r ORDER BY ratio_ppm ASC, user_id LIMIT 10)
        |SELECT * FROM (SELECT * FROM ris UNION ALL SELECT * FROM fal)
        |ORDER BY "role", ratio_ppm DESC, user_id""".stripMargin),

    "q_table_checksum" -> Entry(qTableChecksum _,
      """WITH cs AS (
        |  SELECT 'customer' tbl, count(*) n_rows,
        |    CAST(sum(('0x' || substr(md5(coalesce(CAST(c_custkey AS VARCHAR), '<null>')
        |      || '|' || coalesce(c_name, '<null>')
        |      || '|' || coalesce(CAST(c_nationkey AS VARCHAR), '<null>')
        |      || '|' || coalesce(c_mktsegment, '<null>')), 1, 15))::BIGINT)
        |      % 1000000007 AS BIGINT) checksum
        |  FROM customer
        |  UNION ALL
        |  SELECT 'nation', count(*),
        |    CAST(sum(('0x' || substr(md5(coalesce(CAST(n_nationkey AS VARCHAR), '<null>')
        |      || '|' || coalesce(n_name, '<null>')
        |      || '|' || coalesce(CAST(n_regionkey AS VARCHAR), '<null>')),
        |      1, 15))::BIGINT) % 1000000007 AS BIGINT)
        |  FROM nation
        |  UNION ALL
        |  SELECT 'region', count(*),
        |    CAST(sum(('0x' || substr(md5(coalesce(CAST(r_regionkey AS VARCHAR), '<null>')
        |      || '|' || coalesce(r_name, '<null>')), 1, 15))::BIGINT)
        |      % 1000000007 AS BIGINT)
        |  FROM region)
        |SELECT tbl, n_rows, checksum FROM cs ORDER BY tbl""".stripMargin),

    "q_bpe_merges" -> Entry(qBpeMerges _,
      """WITH w0 AS (SELECT w, count(*) f FROM (
        |    SELECT unnest(string_split(text, ' ')) w FROM documents)
        |  WHERE length(w) >= 2 GROUP BY w),
        |s0 AS (SELECT f, trim(regexp_replace(w, '(.)', '\1 ', 'g')) seq
        |  FROM w0),
        |p1 AS (SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1]
        |    pair, f
        |  FROM (SELECT f, string_split(seq, ' ') l,
        |      unnest(range(1, len(string_split(seq, ' ')))) i FROM s0)),
        |a1 AS (SELECT pair, sum(f) n FROM p1 GROUP BY pair),
        |m1 AS (SELECT pair, CAST(n AS BIGINT) n FROM a1
        |  ORDER BY n DESC, pair LIMIT 1),
        |s1 AS (SELECT f, trim(replace(' ' || seq || ' ',
        |    ' ' || (SELECT pair FROM m1) || ' ',
        |    ' ' || replace((SELECT pair FROM m1), ' ', '') || ' ')) seq
        |  FROM s0),
        |p2 AS (SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1]
        |    pair, f
        |  FROM (SELECT f, string_split(seq, ' ') l,
        |      unnest(range(1, len(string_split(seq, ' ')))) i FROM s1)),
        |a2 AS (SELECT pair, sum(f) n FROM p2 GROUP BY pair),
        |m2 AS (SELECT pair, CAST(n AS BIGINT) n FROM a2
        |  ORDER BY n DESC, pair LIMIT 1),
        |s2 AS (SELECT f, trim(replace(' ' || seq || ' ',
        |    ' ' || (SELECT pair FROM m2) || ' ',
        |    ' ' || replace((SELECT pair FROM m2), ' ', '') || ' ')) seq
        |  FROM s1),
        |p3 AS (SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1]
        |    pair, f
        |  FROM (SELECT f, string_split(seq, ' ') l,
        |      unnest(range(1, len(string_split(seq, ' ')))) i FROM s2)),
        |a3 AS (SELECT pair, sum(f) n FROM p3 GROUP BY pair),
        |m3 AS (SELECT pair, CAST(n AS BIGINT) n FROM a3
        |  ORDER BY n DESC, pair LIMIT 1),
        |s3 AS (SELECT f, trim(replace(' ' || seq || ' ',
        |    ' ' || (SELECT pair FROM m3) || ' ',
        |    ' ' || replace((SELECT pair FROM m3), ' ', '') || ' ')) seq
        |  FROM s2),
        |p4 AS (SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1]
        |    pair, f
        |  FROM (SELECT f, string_split(seq, ' ') l,
        |      unnest(range(1, len(string_split(seq, ' ')))) i FROM s3)),
        |a4 AS (SELECT pair, sum(f) n FROM p4 GROUP BY pair),
        |m4 AS (SELECT pair, CAST(n AS BIGINT) n FROM a4
        |  ORDER BY n DESC, pair LIMIT 1),
        |s4 AS (SELECT f, trim(replace(' ' || seq || ' ',
        |    ' ' || (SELECT pair FROM m4) || ' ',
        |    ' ' || replace((SELECT pair FROM m4), ' ', '') || ' ')) seq
        |  FROM s3),
        |p5 AS (SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1]
        |    pair, f
        |  FROM (SELECT f, string_split(seq, ' ') l,
        |      unnest(range(1, len(string_split(seq, ' ')))) i FROM s4)),
        |a5 AS (SELECT pair, sum(f) n FROM p5 GROUP BY pair),
        |m5 AS (SELECT pair, CAST(n AS BIGINT) n FROM a5
        |  ORDER BY n DESC, pair LIMIT 1),
        |s5 AS (SELECT f, trim(replace(' ' || seq || ' ',
        |    ' ' || (SELECT pair FROM m5) || ' ',
        |    ' ' || replace((SELECT pair FROM m5), ' ', '') || ' ')) seq
        |  FROM s4),
        |fin AS (
        |  SELECT CAST(1 AS BIGINT) step, pair, n n_merged FROM m1
        |  UNION ALL SELECT 2, pair, n FROM m2
        |  UNION ALL SELECT 3, pair, n FROM m3
        |  UNION ALL SELECT 4, pair, n FROM m4
        |  UNION ALL SELECT 5, pair, n FROM m5)
        |SELECT step, pair, n_merged FROM fin ORDER BY step""".stripMargin),

    // same m1..m5 trainer chain as q_bpe_merges, then the apply: every
    // word (length >= 1 — singles tokenize too) char-split and run
    // through the 5 anchored replaces in step order; coalesce(chr(7))
    // makes a missing merge a no-op instead of a NULL-poisoning
    // pattern when the vocab collapses early
    "q_bpe_encode" -> Entry(qBpeEncode _,
      """WITH w0 AS (SELECT w, count(*) f FROM (
        |    SELECT unnest(string_split(text, ' ')) w FROM documents)
        |  WHERE length(w) >= 2 GROUP BY w),
        |s0 AS (SELECT f, trim(regexp_replace(w, '(.)', '\1 ', 'g')) seq
        |  FROM w0),
        |p1 AS (SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1]
        |    pair, f
        |  FROM (SELECT f, string_split(seq, ' ') l,
        |      unnest(range(1, len(string_split(seq, ' ')))) i FROM s0)),
        |a1 AS (SELECT pair, sum(f) n FROM p1 GROUP BY pair),
        |m1 AS (SELECT pair, CAST(n AS BIGINT) n FROM a1
        |  ORDER BY n DESC, pair LIMIT 1),
        |s1 AS (SELECT f, trim(replace(' ' || seq || ' ',
        |    ' ' || (SELECT pair FROM m1) || ' ',
        |    ' ' || replace((SELECT pair FROM m1), ' ', '') || ' ')) seq
        |  FROM s0),
        |p2 AS (SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1]
        |    pair, f
        |  FROM (SELECT f, string_split(seq, ' ') l,
        |      unnest(range(1, len(string_split(seq, ' ')))) i FROM s1)),
        |a2 AS (SELECT pair, sum(f) n FROM p2 GROUP BY pair),
        |m2 AS (SELECT pair, CAST(n AS BIGINT) n FROM a2
        |  ORDER BY n DESC, pair LIMIT 1),
        |s2 AS (SELECT f, trim(replace(' ' || seq || ' ',
        |    ' ' || (SELECT pair FROM m2) || ' ',
        |    ' ' || replace((SELECT pair FROM m2), ' ', '') || ' ')) seq
        |  FROM s1),
        |p3 AS (SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1]
        |    pair, f
        |  FROM (SELECT f, string_split(seq, ' ') l,
        |      unnest(range(1, len(string_split(seq, ' ')))) i FROM s2)),
        |a3 AS (SELECT pair, sum(f) n FROM p3 GROUP BY pair),
        |m3 AS (SELECT pair, CAST(n AS BIGINT) n FROM a3
        |  ORDER BY n DESC, pair LIMIT 1),
        |s3 AS (SELECT f, trim(replace(' ' || seq || ' ',
        |    ' ' || (SELECT pair FROM m3) || ' ',
        |    ' ' || replace((SELECT pair FROM m3), ' ', '') || ' ')) seq
        |  FROM s2),
        |p4 AS (SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1]
        |    pair, f
        |  FROM (SELECT f, string_split(seq, ' ') l,
        |      unnest(range(1, len(string_split(seq, ' ')))) i FROM s3)),
        |a4 AS (SELECT pair, sum(f) n FROM p4 GROUP BY pair),
        |m4 AS (SELECT pair, CAST(n AS BIGINT) n FROM a4
        |  ORDER BY n DESC, pair LIMIT 1),
        |s4 AS (SELECT f, trim(replace(' ' || seq || ' ',
        |    ' ' || (SELECT pair FROM m4) || ' ',
        |    ' ' || replace((SELECT pair FROM m4), ' ', '') || ' ')) seq
        |  FROM s3),
        |p5 AS (SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1]
        |    pair, f
        |  FROM (SELECT f, string_split(seq, ' ') l,
        |      unnest(range(1, len(string_split(seq, ' ')))) i FROM s4)),
        |a5 AS (SELECT pair, sum(f) n FROM p5 GROUP BY pair),
        |m5 AS (SELECT pair, CAST(n AS BIGINT) n FROM a5
        |  ORDER BY n DESC, pair LIMIT 1),
        |e0 AS (SELECT doc_id, trim(regexp_replace(w, '(.)', '\1 ', 'g')) seq
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) w
        |    FROM documents)
        |  WHERE length(w) >= 1),
        |e1 AS (SELECT doc_id, trim(replace(' ' || seq || ' ',
        |    ' ' || coalesce((SELECT pair FROM m1), chr(7)) || ' ',
        |    ' ' || replace(coalesce((SELECT pair FROM m1), chr(7)), ' ', '')
        |      || ' ')) seq FROM e0),
        |e2 AS (SELECT doc_id, trim(replace(' ' || seq || ' ',
        |    ' ' || coalesce((SELECT pair FROM m2), chr(7)) || ' ',
        |    ' ' || replace(coalesce((SELECT pair FROM m2), chr(7)), ' ', '')
        |      || ' ')) seq FROM e1),
        |e3 AS (SELECT doc_id, trim(replace(' ' || seq || ' ',
        |    ' ' || coalesce((SELECT pair FROM m3), chr(7)) || ' ',
        |    ' ' || replace(coalesce((SELECT pair FROM m3), chr(7)), ' ', '')
        |      || ' ')) seq FROM e2),
        |e4 AS (SELECT doc_id, trim(replace(' ' || seq || ' ',
        |    ' ' || coalesce((SELECT pair FROM m4), chr(7)) || ' ',
        |    ' ' || replace(coalesce((SELECT pair FROM m4), chr(7)), ' ', '')
        |      || ' ')) seq FROM e3),
        |e5 AS (SELECT doc_id, trim(replace(' ' || seq || ' ',
        |    ' ' || coalesce((SELECT pair FROM m5), chr(7)) || ' ',
        |    ' ' || replace(coalesce((SELECT pair FROM m5), chr(7)), ' ', '')
        |      || ' ')) seq FROM e4),
        |agg AS (SELECT doc_id, count(*) n_words,
        |    sum(len(string_split(seq, ' '))) n_tokens,
        |    sum(len(list_filter(string_split(seq, ' '),
        |      x -> length(x) >= 2))) n_merged
        |  FROM e5 GROUP BY doc_id)
        |SELECT doc_id, CAST(n_words AS BIGINT) n_words,
        |  CAST(n_tokens AS BIGINT) n_tokens,
        |  CAST(n_merged AS BIGINT) n_merged,
        |  CAST(CAST(n_merged AS BIGINT) * 1000000
        |    // CAST(n_tokens AS BIGINT) AS BIGINT) merged_ppm
        |FROM agg ORDER BY doc_id""".stripMargin),

    "q_eb_shrinkage" -> Entry(qEbShrinkage _,
      """WITH per AS (SELECT user_id, count(*) n,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) k
        |  FROM events GROUP BY user_id),
        |pri AS (SELECT CAST(sum(k) AS HUGEINT) * 1000000 // sum(n)
        |    prior_ppm FROM per)
        |SELECT user_id, CAST(n AS BIGINT) n, CAST(k AS BIGINT) k,
        |  CAST(CAST(k AS HUGEINT) * 1000000 // n AS BIGINT) raw_ppm,
        |  CAST((CAST(k AS HUGEINT) * 1000000 + 100 * prior_ppm)
        |    // (n + 100) AS BIGINT) shrunk_ppm
        |FROM per CROSS JOIN pri
        |ORDER BY shrunk_ppm DESC, user_id LIMIT 10""".stripMargin),

    "q_mode_disc" -> Entry(qModeDisc _,
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) nation,
        |    c_mktsegment seg,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) cents, c_custkey
        |  FROM customer),
        |mc AS (SELECT nation, seg, count(*) cnt FROM c GROUP BY 1, 2),
        |mr AS (SELECT nation, seg, cnt,
        |    row_number() OVER (PARTITION BY nation
        |      ORDER BY cnt DESC, seg) rn,
        |    sum(cnt) OVER (PARTITION BY nation) n FROM mc),
        |mo AS (SELECT nation, CAST(n AS BIGINT) n, seg mode_seg,
        |    CAST(cnt AS BIGINT) mode_n FROM mr WHERE rn = 1),
        |me AS (SELECT nation, cents median_cents FROM (
        |    SELECT nation, cents, row_number() OVER (PARTITION BY nation
        |        ORDER BY cents, c_custkey) rn,
        |      count(*) OVER (PARTITION BY nation) nn FROM c)
        |  WHERE rn = (nn + 1) // 2)
        |SELECT mo.nation, n, mode_seg, mode_n, median_cents
        |FROM mo JOIN me ON mo.nation = me.nation
        |ORDER BY mo.nation""".stripMargin),

    "q_autocomplete" -> Entry(qAutocomplete _,
      """WITH v AS (SELECT w, count(*) f FROM (
        |    SELECT unnest(string_split(text, ' ')) w FROM documents)
        |  WHERE length(w) >= 1 GROUP BY w HAVING count(*) >= 2),
        |px AS (SELECT substr(w, 1, CAST(plen AS INT)) prefix, w, f
        |  FROM (SELECT w, f,
        |      unnest(generate_series(1, least(4, length(w)))) plen FROM v)),
        |rk AS (SELECT prefix, w, f, row_number() OVER (
        |    PARTITION BY prefix ORDER BY f DESC, w) rk FROM px)
        |SELECT prefix, CAST(rk AS BIGINT) rk, w, f
        |FROM rk WHERE rk <= 3 ORDER BY prefix, rk""".stripMargin),

    "q_fano_burstiness" -> Entry(qFanoBurstiness _,
      """WITH ev AS (SELECT epoch_ns(ts) // 3600000000000 h, event_type
        |  FROM events),
        |ext AS (SELECT min(h) hmin, max(h) hmax FROM ev),
        |grid AS (SELECT unnest(generate_series(hmin, hmax)) h FROM ext),
        |ty AS (SELECT DISTINCT event_type FROM ev),
        |cnt AS (SELECT event_type, h, count(*) c FROM ev GROUP BY 1, 2),
        |dense AS (SELECT ty.event_type, grid.h, coalesce(c, 0) c
        |  FROM ty CROSS JOIN grid LEFT JOIN cnt
        |    ON cnt.event_type = ty.event_type AND cnt.h = grid.h),
        |m AS (SELECT event_type, count(*) n_hours, sum(c) s,
        |    sum(CAST(c AS HUGEINT) * c) q FROM dense GROUP BY event_type)
        |SELECT event_type, CAST(n_hours AS BIGINT) n_hours,
        |  CAST(s AS BIGINT) s,
        |  CAST((CAST(n_hours AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
        |    * 1000 // (CAST(n_hours AS HUGEINT) * s) AS BIGINT) fano_milli,
        |  CASE WHEN (CAST(n_hours AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
        |      * 1000 // (CAST(n_hours AS HUGEINT) * s) > 1100 THEN 'bursty'
        |    WHEN (CAST(n_hours AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
        |      * 1000 // (CAST(n_hours AS HUGEINT) * s) < 900 THEN 'regular'
        |    ELSE 'poisson-like' END dispersion
        |FROM m ORDER BY event_type""".stripMargin),

    // event_id tiebreak: exact-ns duplicate timestamps exist in
    // skewed data, and untied ORDER BY in a lag window is the DuckDB
    // parallel-window nondeterminism trap (see q_peak_concurrency);
    // the gap MULTISET is tie-insensitive, so the tiebreak only
    // stabilizes the oracle
    "q_interarrival" -> Entry(qInterarrival _,
      """WITH g AS (SELECT event_type,
        |    (epoch_ns(ts) - lag(epoch_ns(ts), 1) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY epoch_ns(ts), event_id))
        |      // 1000000000 gap_s
        |  FROM events),
        |gg AS (SELECT event_type, gap_s FROM g WHERE gap_s IS NOT NULL),
        |r AS (SELECT event_type, gap_s,
        |    row_number() OVER (PARTITION BY event_type ORDER BY gap_s) rn,
        |    count(*) OVER (PARTITION BY event_type) n FROM gg)
        |SELECT event_type, CAST(max(n) AS BIGINT) n,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap_s END)
        |    AS BIGINT) p50_s,
        |  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_s END)
        |    AS BIGINT) p90_s
        |FROM r WHERE rn = (n + 1) // 2 OR rn = (9 * n + 9) // 10
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    "q_minhash_calibration" -> Entry(qMinhashCalibration _, {
      val matches = (0 until Dedup.MinhashK)
        .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH ${minhashCte.replace("FROM documents",
             "FROM (SELECT DISTINCT doc_id, text FROM documents)")},
         |pr AS (SELECT
         |    CAST($matches AS BIGINT) mt,
         |    CAST(len(list_intersect(ha.sh, hb.sh)) AS BIGINT) isz,
         |    CAST(len(ha.sh) + len(hb.sh) AS BIGINT) ssz
         |  FROM cand
         |  JOIN sig sa ON id_a = sa.doc_id
         |  JOIN sig sb ON id_b = sb.doc_id
         |  JOIN sh ha ON id_a = ha.doc_id
         |  JOIN sh hb ON id_b = hb.doc_id),
         |sc AS (SELECT mt * 1000000 // ${Dedup.MinhashK} est_ppm,
         |    isz * 1000000 // (ssz - isz) ex_ppm
         |  FROM pr WHERE ssz > isz),
         |bk AS (SELECT least(9, ex_ppm // 100000) bucket,
         |    abs(est_ppm - ex_ppm) err FROM sc)
         |SELECT bucket, count(*) n_pairs,
         |  CAST(sum(err) // count(*) AS BIGINT) mae_ppm,
         |  CAST(max(err) AS BIGINT) max_err_ppm
         |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin
    }),

    "q_multipattern_scan" -> Entry(qMultipatternScan _,
      """WITH p AS (SELECT unnest(['scan','merge batch','fast table','row scan','value part','slow','hash value','a a']) pattern),
        |c AS (SELECT d.source, p.pattern,
        |    (length(d.text) - length(replace(d.text, p.pattern, '')))
        |      // length(p.pattern) n
        |  FROM documents d CROSS JOIN p
        |  WHERE d.text IS NOT NULL)
        |SELECT source, pattern, CAST(sum(n) AS BIGINT) n_occ,
        |  CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) n_docs
        |FROM c GROUP BY source, pattern
        |ORDER BY source, pattern""".stripMargin),

    "q_vocab_growth" -> Entry(qVocabGrowth _,
      """WITH ext AS (SELECT min(doc_id) mn, max(doc_id) mx FROM documents),
        |toks AS (SELECT least(9, (doc_id - mn) * 10 // (mx - mn + 1)) b,
        |    w, doc_id
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) w
        |    FROM documents) CROSS JOIN ext),
        |tok AS (SELECT b, count(*) n_tokens,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) n_docs
        |  FROM toks GROUP BY b),
        |nt AS (SELECT fb b, count(*) new_types FROM (
        |    SELECT w, min(b) fb FROM toks GROUP BY w) GROUP BY fb),
        |j AS (SELECT tok.b, n_tokens, n_docs,
        |    coalesce(new_types, 0) new_types
        |  FROM tok LEFT JOIN nt ON tok.b = nt.b)
        |SELECT b, n_tokens, n_docs, CAST(new_types AS BIGINT) new_types,
        |  CAST(sum(n_tokens) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) cum_tokens,
        |  CAST(sum(new_types) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) cum_types
        |FROM j ORDER BY b""".stripMargin),

    "q_behavior_diversity" -> Entry(qBehaviorDiversity _,
      """WITH pc AS (SELECT user_id, event_type, count(*) c
        |  FROM events GROUP BY 1, 2),
        |per AS (SELECT user_id,
        |    CAST(1000000 - sum(CAST(c AS HUGEINT) * c) * 1000000
        |      // (CAST(sum(c) AS HUGEINT) * sum(c)) AS BIGINT) div_ppm
        |  FROM pc GROUP BY user_id)
        |SELECT div_ppm // 100000 bucket, count(*) n_users,
        |  min(div_ppm) min_div_ppm, max(div_ppm) max_div_ppm
        |FROM per GROUP BY bucket ORDER BY bucket""".stripMargin),

    "q_scd2_read" -> Entry(qScd2Read _,
      """WITH v AS (SELECT user_id, epoch_ns(ts) // 1000 t, event_id,
        |    value, CASE WHEN value < 5 THEN 'D' ELSE 'U' END op
        |  FROM events),
        |w AS (SELECT user_id, t, event_id, value, op,
        |    lead(t, 1) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id) valid_to FROM v),
        |tt AS (SELECT (min(t) + max(t)) // 2 tm FROM v)
        |SELECT user_id, event_id, t valid_from, value val
        |FROM w CROSS JOIN tt
        |WHERE op = 'U' AND t <= tm AND (valid_to IS NULL OR valid_to > tm)
        |ORDER BY user_id""".stripMargin),

    "q_dedup_panel" -> Entry(qDedupPanel _, {
      val matches = (0 until Dedup.MinhashK)
        .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val terms = (0 until 32).map(j =>
        s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END)")
        .mkString(" +\n    ")
      s"""WITH ${minhashCte.replace("FROM documents",
             "FROM (SELECT DISTINCT doc_id, text FROM documents)")},
         |sim AS (SELECT doc_id,
         |    $terms AS simhash FROM hsh),
         |pre AS (SELECT doc_id, regexp_replace(substr(text, 1, 40),
         |    '[^\\x20-\\x7E]', '?', 'g') pre
         |  FROM (SELECT DISTINCT doc_id, text FROM documents)),
         |pr AS (SELECT
         |    CAST($matches AS BIGINT) mt,
         |    CAST(len(list_intersect(ha.sh, hb.sh)) AS BIGINT) isz,
         |    CAST(len(ha.sh) + len(hb.sh) AS BIGINT) ssz,
         |    CAST(bit_count(xor(sima.simhash, simb.simhash)) AS BIGINT) ham,
         |    CAST(levenshtein(pa.pre, pb.pre) AS BIGINT) ed
         |  FROM cand c
         |  JOIN sig sa ON c.id_a = sa.doc_id JOIN sig sb ON c.id_b = sb.doc_id
         |  JOIN sh ha ON c.id_a = ha.doc_id JOIN sh hb ON c.id_b = hb.doc_id
         |  JOIN sim sima ON c.id_a = sima.doc_id
         |  JOIN sim simb ON c.id_b = simb.doc_id
         |  JOIN pre pa ON c.id_a = pa.doc_id
         |  JOIN pre pb ON c.id_b = pb.doc_id),
         |v AS (SELECT
         |    CASE WHEN ssz > isz AND isz * 1000000 // (ssz - isz) >= 700000
         |      THEN 1 ELSE 0 END v_exact,
         |    CASE WHEN mt * 1000000 // ${Dedup.MinhashK} >= 700000
         |      THEN 1 ELSE 0 END v_minhash,
         |    CASE WHEN ham <= 8 THEN 1 ELSE 0 END v_simhash,
         |    CASE WHEN ed <= 12 THEN 1 ELSE 0 END v_edit
         |  FROM pr),
         |hist AS (SELECT 'votes_' ||
         |    CAST(v_exact + v_minhash + v_simhash + v_edit AS VARCHAR)
         |    metric, count(*) n FROM v GROUP BY 1),
         |meth AS (SELECT 'm_exact' metric, sum(v_exact) n FROM v
         |  UNION ALL SELECT 'm_minhash', sum(v_minhash) FROM v
         |  UNION ALL SELECT 'm_simhash', sum(v_simhash) FROM v
         |  UNION ALL SELECT 'm_edit', sum(v_edit) FROM v)
         |SELECT metric, CAST(n AS BIGINT) n
         |FROM (SELECT * FROM hist UNION ALL SELECT * FROM meth)
         |ORDER BY metric""".stripMargin
    }),

    // ev is DISTINCT: duplicate (user,type,second) rows cannot affect
    // gap sessionization or session endpoints, and they put ties in
    // the lag/cumsum windows' ORDER BY — which DuckDB's parallel
    // window execution resolves NONDETERMINISTICALLY (observed on
    // skewed sf1: n_sessions drifted ±1 run-to-run). The engine side
    // is tie-insensitive by value, so dedup only stabilizes the oracle.
    "q_peak_concurrency" -> Entry(qPeakConcurrency _,
      """WITH ev AS (SELECT DISTINCT user_id, event_type,
        |    epoch_ns(ts) // 1000000000 t FROM events),
        |br AS (SELECT user_id, event_type, t,
        |    CASE WHEN t - lag(t, 1) OVER w > 1800
        |      OR lag(t, 1) OVER w IS NULL THEN 1 ELSE 0 END brk
        |  FROM ev WINDOW w AS (PARTITION BY user_id, event_type
        |    ORDER BY t)),
        |sid AS (SELECT user_id, event_type, t,
        |    sum(brk) OVER (PARTITION BY user_id, event_type ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) sid FROM br),
        |sess AS (SELECT user_id, event_type, sid, min(t) st, max(t) en
        |  FROM sid GROUP BY 1, 2, 3),
        |deltas AS (SELECT event_type, st t, 1 d FROM sess
        |  UNION ALL SELECT event_type, en + 1, -1 FROM sess),
        |run AS (SELECT event_type, t, d,
        |    sum(d) OVER (PARTITION BY event_type ORDER BY t, d) run
        |  FROM deltas),
        |pk AS (SELECT event_type, run peak, t peak_at, row_number()
        |    OVER (PARTITION BY event_type ORDER BY run DESC, t) rn
        |  FROM run),
        |ns AS (SELECT event_type, count(*) n_sessions FROM sess GROUP BY 1)
        |SELECT ns.event_type, n_sessions, CAST(peak AS BIGINT) peak,
        |  peak_at
        |FROM ns JOIN pk ON ns.event_type = pk.event_type AND rn = 1
        |ORDER BY ns.event_type""".stripMargin),

    "q_diameter_2sweep" -> Entry(qDiameter2Sweep _,
      """WITH RECURSIVE
        |e0 AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sup
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c AS src, sup AS dst FROM e0
        |  UNION ALL SELECT sup, c FROM e0),
        |sd AS (SELECT min(src) sn FROM edges),
        |b1(node, d) AS (
        |  SELECT sn, 0 FROM sd
        |  UNION
        |  SELECT e.dst, b.d + 1 FROM b1 b JOIN edges e ON b.node = e.src
        |  WHERE b.d < 6),
        |m1 AS (SELECT node, min(d) dist FROM b1 GROUP BY node),
        |far AS (SELECT node, dist FROM m1 ORDER BY dist DESC, node LIMIT 1),
        |b2(node, d) AS (
        |  SELECT node, 0 FROM far
        |  UNION
        |  SELECT e.dst, b.d + 1 FROM b2 b JOIN edges e ON b.node = e.src
        |  WHERE b.d < 6),
        |m2 AS (SELECT node, min(d) dist FROM b2 GROUP BY node)
        |SELECT (SELECT CAST(sn AS BIGINT) FROM sd) seed,
        |  (SELECT CAST(node AS BIGINT) FROM far) far_node,
        |  (SELECT CAST(dist AS BIGINT) FROM far) ecc_seed,
        |  CAST(max(dist) AS BIGINT) diameter_lb,
        |  count(*) n_reached
        |FROM m2""".stripMargin),

    "q_hll_union" -> Entry(qHllUnion _, {
      import graft.operators.Sketches
      val lcTable = Sketches.HllLinearTable.map(v => s"${v}e0").mkString("[", ", ", "]")
      s"""WITH t0 AS (SELECT source, unnest(string_split(text, ' ')) w
         |  FROM documents),
         |t AS (SELECT source, w FROM t0
         |  UNION ALL SELECT 'ALL', w FROM t0),
         |b AS (SELECT source, (_h >> 24) AS bucket,
         |    ${Sketches.hllRhoSql("(_h & 16777215)")} AS rho
         |  FROM (SELECT source,
         |    ('0x'||substr(md5(w),1,8))::BIGINT AS _h FROM t)),
         |m AS (SELECT source, bucket, MAX(rho) AS maxrho
         |  FROM b GROUP BY source, bucket),
         |agg AS (SELECT source, COUNT(*) AS n_buckets_hit,
         |    ${Sketches.HllNumerator} /
         |      (SUM(1.0 / CAST(1::BIGINT << maxrho AS DOUBLE))
         |        + (256 - COUNT(*))) AS raw
         |  FROM m GROUP BY source),
         |est AS (SELECT source, n_buckets_hit,
         |    CASE WHEN raw <= ${2.5 * Sketches.HllM} AND n_buckets_hit < 256
         |         THEN ($lcTable)[256 - n_buckets_hit]
         |         ELSE raw END AS hll_est
         |  FROM agg),
         |ex AS (SELECT source, count(DISTINCT w) exact_distinct
         |  FROM t GROUP BY source)
         |SELECT est.source, n_buckets_hit, hll_est,
         |  CAST(exact_distinct AS BIGINT) exact_distinct,
         |  CAST(floor(abs(hll_est - exact_distinct) * 1000000.0
         |    / exact_distinct) AS BIGINT) err_ppm
         |FROM est JOIN ex ON est.source = ex.source
         |ORDER BY est.source""".stripMargin
    }),

    "q_activity_streaks" -> Entry(qActivityStreaks _,
      """WITH d AS (SELECT DISTINCT user_id,
        |    epoch_ns(ts) // 86400000000000 AS dy FROM events),
        |isl AS (SELECT user_id, dy,
        |    dy - row_number() OVER (PARTITION BY user_id ORDER BY dy) isl
        |  FROM d),
        |runs AS (SELECT user_id, count(*) len, min(dy) start_day,
        |    max(dy) end_day
        |  FROM isl GROUP BY user_id, isl)
        |SELECT user_id, len, start_day, end_day
        |FROM runs ORDER BY len DESC, start_day, user_id LIMIT 10""".stripMargin)
  )

  val all: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { case (name, e) => name -> e.plan }

  val oracles: Map[String, String] =
    catalog.map { case (name, e) => name -> e.oracle }

  /** The named queries' plans, in the order given. A name the catalog does
    * not have fails here, before any Spark work, with the valid names. */
  def resolve(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty,
      s"unknown quer${if (unknown.size == 1) "y" else "ies"}: ${unknown.mkString(", ")}; " +
        s"valid names: ${all.keys.toSeq.sorted.mkString(", ")}")
    names.map(n => n -> all(n))
  }

  /** DuckDB list literals of the ±1 LSH hyperplanes (shared with the
    * Spark plan so oracle and engine use identical constants). */
  def lshPlanesLiterals: Seq[String] =
    lshPlanes.map(_.mkString("[", ", ", "]"))

  /** DuckDB list literals of the 192 embedding-dedup banding planes. */
  def dedupPlanesLiterals: Seq[String] =
    dedupPlanes.map(_.mkString("[", ", ", "]"))
}

/** Morton z-value as engine-portable integer arithmetic: bit i of each
  * 8-bit-quantized dimension lands at output bit 2i (first dim) /
  * 2i+1 (second). Generated as pure div/mod/multiply so the identical
  * formula (modulo the integer-division spelling: Spark `div`, DuckDB
  * `//`) evaluates bit-exactly in both engines — no dependence on
  * either engine's bitwise-operator dialect. */
private[graft] object ZorderSql {
  /** Quantization: 8 bits per dimension (z spans 16 bits). */
  val Bits: Int = 8
  val DimMod: Long = 1L << Bits // 256
  /** Rows bucket into "files" by fixed z-range: 2^10 ⇒ 64 possible
    * files, each a 32×32 rectangle of the quantized (d0, d1) space. */
  val FileZRange: Long = 1L << 10
  def zExpr(d0: String, d1: String, spark: Boolean): String = {
    val idiv = if (spark) "div" else "//"
    (0 until Bits).flatMap { i =>
      Seq(s"(($d0 $idiv ${1L << i}) % 2) * ${1L << (2 * i)}",
          s"(($d1 $idiv ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
    }.mkString(" + ")
  }
}
