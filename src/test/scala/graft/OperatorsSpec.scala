package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

class OperatorsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("masking prunes annotated fields above emit level, keeps nested structure") {
    val df = Seq((1L, "t", "pub", "priv", 7)).toDF("id", "text", "keepme", "source", "n")
    val annotated = Masking.annotate(df,
      Map("source" -> "confidential", "n" -> "secret", "keepme" -> "public"))
    val masked = Masking.maskColumns(annotated, "public")
    assert(masked.columns.toSeq == Seq("id", "text", "keepme"))
    // higher emit level keeps confidential but not secret
    val masked2 = Masking.maskColumns(annotated, "confidential")
    assert(masked2.columns.toSeq == Seq("id", "text", "keepme", "source"))
  }

  test("masking handles nested structs") {
    val df = Seq((1L, ("lat", "secretval"))).toDF("id", "geo")
      .select($"id", struct($"geo._1".as("lat"),
        $"geo._2".as("hidden", new org.apache.spark.sql.types.MetadataBuilder()
          .putString(Masking.DefaultAnnotation, "secret").build())).as("geo"))
    val masked = Masking.maskColumns(df, "public")
    assert(masked.select("geo.*").columns.toSeq == Seq("lat"))
  }

  test("routing: first glob match after id sort wins; tenant stripped; path templated") {
    val subs = Seq(
      SubscriptionRoute("sub-02", "a*", "_x/{topic}"),
      SubscriptionRoute("sub-01", "ab", "_aether/entities/{topic}"))
    val df = Seq("tnt.ab", "tnt.ax", "tnt.zz").toDF("t")
    val routed = Routing.route(df, $"t", "tnt", subs)
      .select("topic", "sub_id", "target_path").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(routed.contains(("ab", "sub-01", "_aether/entities/ab"))) // sub-01 sorts first
    assert(routed.contains(("ax", "sub-02", "_x/ax")))
    assert(routed.contains(("zz", null, null))) // no match
  }

  test("globToRegex escapes regex metachars") {
    assert("a.b-1".matches(Routing.globToRegex("a.b-?")))
    assert(!"aXb-1".matches(Routing.globToRegex("a.b-?")))
    assert("anything".matches(Routing.globToRegex("*")))
  }

  test("sync gate: forward passes, consume drops, sync anti-joins") {
    import graft.model.{FbOptions, Subscription}
    import graft.streaming.Pipeline
    val subs = Seq("sync", "forward", "consume", "none").map(m =>
      Subscription(s"s-$m", m, "*", FbOptions(syncMode = m)))
    val prepared = Seq(
      ("s-sync", "p/a", "1", "h1"),    // stored, same hash: unchanged
      ("s-sync", "p/a", "2", "h2"),    // stored hash stale: changed
      ("s-sync", "p/a", "3", "h3"),    // not stored: new
      ("s-sync", "p/b", "1", "h1"),    // doc 1 on another path: a second document
      ("s-forward", "f/a", "1", "h1"), // forward ignores the store
      ("s-consume", "c/a", "4", "h4"),
      ("s-none", "n/a", "5", "h5"))
      .toDF("sub_id", "target_path", "doc_id", "doc_hash")
    val store = Seq(("p/a", "1", "h1"), ("p/a", "2", "old"), ("f/a", "1", "h1"))
      .toDF("target_path", "doc_id", "doc_hash")
    val gated = Pipeline.gateMulti(prepared, subs, store)
      .select("sub_id", "target_path", "doc_id").as[(String, String, String)]
      .collect().sorted.toSeq
    assert(gated == Seq(("s-forward", "f/a", "1"), ("s-sync", "p/a", "2"),
      ("s-sync", "p/a", "3"), ("s-sync", "p/b", "1")))
  }

  test("jsonPathFilter extracts and filters on JSON string column") {
    val df = Seq((1L, """{"k": 1}"""), (2L, """{"k": 99}""")).toDF("id", "props")
    val out = Filters.jsonPathFilter(df, $"props", "$.k", Seq("1"))
      .select("id").as[Long].collect().toSeq
    assert(out == Seq(1L))
  }

  test("rank element matches a full sort at every probed rank, incl. refinement path") {
    val rnd = new scala.util.Random(11)
    val vals = Array.fill(5000)(rnd.nextDouble() * 1000.0 - 500.0)
    val sorted = vals.sorted
    val df = vals.toSeq.toDF("x")
    // collectLimit=100 forces several histogram-refinement passes
    Seq(1L, 7L, 2500L, 4999L, 5000L).foreach { k =>
      val got = Quantiles.rankElement(df, "x", k, buckets = 16, collectLimit = 100)
      assert(got == sorted((k - 1).toInt), s"rank $k")
    }
  }

  test("rank element survives heavy duplication (stalled-bucket path)") {
    val vals = Array.fill(2000)(42.0) ++ Array(1.0, 99.0)
    val df = vals.toSeq.toDF("x")
    assert(Quantiles.rankElement(df, "x", 1L, buckets = 8, collectLimit = 10) == 1.0)
    assert(Quantiles.rankElement(df, "x", 1000L, buckets = 8, collectLimit = 10) == 42.0)
    assert(Quantiles.rankElement(df, "x", 2002L, buckets = 8, collectLimit = 10) == 99.0)
  }

  test("rank element mass-concentration stall: exact, no driver collect, no one-partition sort") {
    // Adversarial geometric chain: 40 scales 2^0, 2^-10, ..., 2^-390,
    // 50 copies each. Every histogram pass shrinks the value range only
    // 1024x, which peels off exactly ONE scale per pass, so after the
    // 20-pass budget the stalled subset still holds 1000 rows spanning
    // 20 binades (never lo==hi, never <= collectLimit). The bit-space
    // binary-search fallback must then produce the exact rank without
    // collecting: collectLimit=10 pins that the driver never
    // materializes the 1000-row subset — memory stays O(buckets).
    val vals = (0 until 40).flatMap(i =>
      Seq.fill(50)(java.lang.Math.scalb(1.0, -10 * i)))
    val df = vals.toDF("x")
    val sorted = vals.sorted.toArray
    Seq(1L, 999L, 1000L, 1001L, 2000L).foreach { kk =>
      val got = Quantiles.rankElement(df, "x", kk, buckets = 1024, collectLimit = 10)
      assert(got == sorted((kk - 1).toInt), s"rank $kk")
    }
  }

  test("rank element normalizes -0.0 so the bit-space fallback agrees with SQL order") {
    val df = Seq(-0.0, 0.0, -1.0, 1.0).toDF("x")
    val got = Quantiles.rankElement(df, "x", 2L, buckets = 8, collectLimit = 1)
    // rank-2 of {-1, -0.0, 0.0, 1} is a zero; must be +0.0 bit-exactly
    assert(java.lang.Double.doubleToLongBits(got)
      == java.lang.Double.doubleToLongBits(0.0))
  }

  test("weighted rank element: exact on ties, weight skew, and the stall fallback") {
    // heavy duplication + skewed weights: value 42 carries almost all mass
    val dup = (Seq((1.0, 1L), (99.0, 1L)) ++ Seq.fill(50)((42.0, 40L))).toDF("x", "w")
    assert(Quantiles.weightedRankElement(dup, "x", "w", 1L,
      buckets = 8, collectLimit = 5) == 1.0)
    assert(Quantiles.weightedRankElement(dup, "x", "w", 2L,
      buckets = 8, collectLimit = 5) == 42.0)
    assert(Quantiles.weightedRankElement(dup, "x", "w", 2001L,
      buckets = 8, collectLimit = 5) == 42.0)
    assert(Quantiles.weightedRankElement(dup, "x", "w", 2002L,
      buckets = 8, collectLimit = 5) == 99.0)
    // the q_quantile_global adversarial geometric chain, weighted form:
    // histogram refinement peels one binade per pass, so the 20-pass
    // budget stalls and the bit-space CUMULATIVE-WEIGHT binary search
    // must finish exactly — with collectLimit=2 pinning that the
    // driver never materializes the stalled subset
    val vals = (0 until 40).flatMap(i =>
      Seq.fill(25)((java.lang.Math.scalb(1.0, -10 * i), 2L)))
    val wdf = vals.toDF("x", "w")
    val expanded = vals.flatMap { case (v, w) => Seq.fill(w.toInt)(v) }
      .sorted.toArray
    Seq(1L, 999L, 1000L, 1001L, 2000L).foreach { kk =>
      val got = Quantiles.weightedRankElement(wdf, "x", "w", kk,
        buckets = 1024, collectLimit = 2)
      assert(got == expanded((kk - 1).toInt), s"weighted rank $kk")
    }
    // zero/negative weights carry no rank mass
    val zw = Seq((5.0, 0L), (7.0, 3L), (9.0, -2L)).toDF("x", "w")
    assert(Quantiles.weightedRankElement(zw, "x", "w", 3L,
      buckets = 8, collectLimit = 1) == 7.0)
  }

  test("csv and json round-trips preserve row counts and aggregates") {
    val csv = Queries.qSourceCsv(spark, sf).collect()
    assert(csv.map(_.getLong(1)).sum == Tables.nation(spark, sf).count())
    val json = Queries.qSourceJson(spark, sf).collect()
    assert(json.map(_.getLong(1)).sum == Tables.customer(spark, sf).count())
  }
}
