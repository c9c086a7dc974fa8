package graft

import org.scalatest.funsuite.AnyFunSuite

class QueriesSpec extends AnyFunSuite with SparkTestBase {

  test("q1_agg returns grouped pricing summary with exact decimal sums") {
    val rows = Queries.q1Agg(spark, sf).collect()
    assert(rows.nonEmpty)
    // one row per (returnflag, linestatus) combination, sorted
    val keys = rows.map(r => (r.getString(0), r.getString(1)))
    assert(keys.distinct.length == keys.length)
    assert(keys.sorted.sameElements(keys))
    // counts sum to total lineitem rows
    val total = rows.map(_.getLong(5)).sum
    assert(total == Tables.lineitem(spark, sf).count())
    rows.foreach { r =>
      assert(r.getDouble(2) > 0) // sum_qty
      assert(r.getDouble(3) > 0) // sum_base_price
    }
  }

  test("q_domain_mix allocates the exact budget across domains, deterministically") {
    val rows = Queries.qDomainMix(spark, sf).collect()
    assert(rows.nonEmpty)
    // largest-remainder apportionment: allocations sum to the budget
    // EXACTLY (no floor shortfall, no over-allocation)
    assert(rows.map(_.getAs[Long]("alloc")).sum == 10000L)
    // every domain gets a non-negative share, weights are positive
    rows.foreach { r =>
      assert(r.getAs[Long]("alloc") >= 0L)
      assert(r.getAs[Long]("weight") > 0L)
    }
    // deterministic: a second run is identical row-for-row
    val again = Queries.qDomainMix(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q_mix_materialize selects exactly the scale-free budget, within per-domain bounds") {
    val total = Tables.documents(spark, sf).count()
    val rows = Queries.qMixMaterialize(spark, sf).collect()
    // half-corpus budget materialized exactly (no domain hit the
    // availability cap on this data — seats sum to the budget)
    assert(rows.length == (total / 2).toInt)
    // selection is a prefix of each domain's hash ranking
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    bySrc.foreach { case (src, rs) =>
      val rks = rs.map(_.getAs[Long]("rk")).sorted
      assert(rks.head == 1L && rks.last == rks.length.toLong,
        s"$src selection is not a rank prefix")
    }
    // deterministic under repartitioning: same doc set on a reshuffled input
    val again = Queries.qMixMaterialize(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q_paragraph_dedup keeps first occurrences and conserves block counts") {
    val rows = Queries.qParagraphDedup(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length == nDocs, "every document must report its block stats")
    rows.foreach { r =>
      val n = r.getAs[Long]("n_blocks"); val k = r.getAs[Long]("kept_blocks")
      assert(n >= 1 && k >= 0 && k <= n, s"block counts out of range: $r")
    }
    // the corpus-wide number of kept blocks equals the number of
    // DISTINCT blocks (each distinct block survives exactly once)
    val distinctBlocks = graft.operators.TextPrep
      .withChunks(Tables.documents(spark, sf).select("doc_id", "text"),
        "text", chunkTokens = 10, overlap = 0)
      .select("chunk_text").distinct().count()
    assert(rows.map(_.getAs[Long]("kept_blocks")).sum == distinctBlocks)
    // duplicate docs exist in this corpus, so dedup must actually bite
    assert(rows.exists(r =>
      r.getAs[Long]("kept_blocks") < r.getAs[Long]("n_blocks")),
      "no block was ever deduplicated — the corpus has known exact dups")
  }

  test("q_pmi_collocations ranks by exact integer lift with min support") {
    val rows = Queries.qPmiCollocations(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    // ranking is non-increasing in lift_ppm and deterministic on ties
    val lifts = rows.map(_.getAs[Long]("lift_ppm"))
    assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getAs[Long]("pair_n") >= 5, "min support violated")
      assert(r.getAs[Long]("lift_ppm") >= 0)
    }
    // spot-check one row's arithmetic against its own components:
    // lift = pair_n * n_w^2 * 1e6 / (n_bg * cx * cy), truncated
    val docs = Tables.documents(spark, sf).collect()
    val wordLists = docs.map(_.getAs[String]("text").split(" ").toSeq)
    val nW = wordLists.map(_.size.toLong).sum
    val nBg = wordLists.map(w => math.max(w.size - 1, 0).toLong).sum
    val r0 = rows.head
    val expected = (BigInt(r0.getAs[Long]("pair_n")) * BigInt(nW) * BigInt(nW) * 1000000) /
      (BigInt(nBg) * BigInt(r0.getAs[Long]("cx")) * BigInt(r0.getAs[Long]("cy")))
    assert(BigInt(r0.getAs[Long]("lift_ppm")) == expected)
  }

  test("q_curriculum stages partition the corpus at exact quartiles") {
    val rows = Queries.qCurriculum(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs,
      "stages must partition the corpus")
    // stages are labeled 1..4 (possibly with empties absent), ordered,
    // and their word ranges are disjoint and increasing
    val stages = rows.map(_.getAs[Long]("stage"))
    assert(stages.forall(s => s >= 1 && s <= 4))
    assert(stages.sorted.sameElements(stages) && stages.distinct.length == stages.length)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("max_words") <= b.getAs[Long]("min_words"),
          "stage word ranges must be non-overlapping and increasing")
      case _ =>
    }
  }

  test("q_incremental_dedup screens the batch against the corpus only") {
    val rows = Queries.qIncrementalDedup(spark, sf).collect()
    val batchN = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 9).count()
    assert(rows.length == batchN, "every batch doc must be reported")
    rows.foreach { r =>
      val e = r.getAs[Long]("is_exact_dup"); val nr = r.getAs[Long]("is_near_dup")
      assert(e == 0L || e == 1L); assert(nr == 0L || nr == 1L)
    }
    // referee the exact flag with a driver-side recomputation
    val docs = Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val corpusTexts = docs.collect { case (id, t) if id % 10 != 9 => t }.toSet
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val expect = if (corpusTexts.contains(docs(id))) 1L else 0L
      assert(r.getAs[Long]("is_exact_dup") == expect, s"exact flag wrong for doc $id")
    }
  }

  test("gear CDC chunks reconstruct the text and cut exactly at hash breakpoints") {
    import org.apache.spark.sql.functions.{col, concat_ws}
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .limit(50).collect()
    val chunked = Tables.documents(spark, sf)
      .select(col("doc_id"),
        concat_ws("", graft.functions.Cdc.gearChunks(col("text"))).as("j"))
      .limit(50).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("j")).toMap
    docs.foreach { r =>
      val text = r.getAs[String]("text")
      val got = chunked(r.getAs[Long]("doc_id")).split("").toSeq
      // conservation: chunks concatenate back to the document
      assert(got.mkString("") == text)
      // independent referee: recompute the rolling hash and the exact
      // breakpoint set (h_i = 2h + gear(c) mod 2^32; cut at h%32==0)
      val expected = scala.collection.mutable.ArrayBuffer[String]()
      var h = 0L; var start = 0
      text.indices.foreach { i =>
        h = (h * 2 + (text.charAt(i).toLong * 2654435761L) % 4294967296L) % 4294967296L
        if ((h & 31L) == 0L) { expected += text.substring(start, i + 1); start = i + 1 }
      }
      if (start < text.length) expected += text.substring(start)
      assert(got == expected.toSeq, s"breakpoints diverge for doc ${r.getLong(0)}")
    }
  }

  test("q_cdc_chunks finds recurring chunks across known duplicate docs") {
    val rows = Queries.qCdcChunks(spark, sf).collect()
    assert(rows.nonEmpty, "corpus has exact dups, so recurring chunks must exist")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_occ") >= 2 && r.getAs[Long]("n_docs") >= 1)
      assert(r.getAs[Long]("chunk_len") >= 16)
      assert(r.getAs[Long]("n_docs") <= r.getAs[Long]("n_occ"))
    }
    val occ = rows.map(_.getAs[Long]("n_occ"))
    assert(occ.zip(occ.tail).forall { case (a, b) => a >= b })
  }

  test("q_weighted_quantiles matches a driver-side exact referee") {
    val rows = Queries.qWeightedQuantiles(spark, sf).collect()
    assert(rows.length == 3)
    val data = Tables.lineitem(spark, sf)
      .select(org.apache.spark.sql.functions.col("l_extendedprice"),
        org.apache.spark.sql.functions.col("l_quantity").cast("long"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
      .filter(_._2 > 0).sortBy(_._1)
    val tw = data.map(_._2).sum
    rows.foreach { r =>
      val q = r.getDouble(0); val v = r.getDouble(1)
      val k = math.ceil(q * tw).toLong
      var cum = 0L
      val expect = data.find { case (_, w) => cum += w; cum >= k }.get._1
      assert(v == expect, s"weighted quantile q=$q: got $v expect $expect")
    }
    // the weight skew must actually matter: weighted median differs
    // from the unweighted one unless quantities were uniform
    val n = data.length
    val unweightedMedian = data((math.ceil(0.5 * n) - 1).toInt)._1
    val wm = rows.find(_.getDouble(0) == 0.5).get.getDouble(1)
    assert(wm != unweightedMedian || data.map(_._2).distinct.length == 1)
  }

  test("q_source_ablation leave-one-out arithmetic is exact") {
    val rows = Queries.qSourceAblation(spark, sf).collect()
    val docs = Tables.documents(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("text").split(" ").length.toLong))
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.length.toLong)
    val tDocs = docs.length.toLong
    val tWords = docs.map(_._2).sum
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val (nd, nw) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_words"))
      val mine = docs.filter(_._1 == src)
      assert(mine.length.toLong == nd && mine.map(_._2).sum == nw)
      val full = BigInt(tWords) * 1000000 / BigInt(tDocs)
      val loo = BigInt(tWords - nw) * 1000000 / BigInt(tDocs - nd)
      assert(BigInt(r.getAs[Long]("full_mean_ppm")) == full)
      assert(BigInt(r.getAs[Long]("loo_mean_ppm")) == loo)
      assert(BigInt(r.getAs[Long]("delta_ppm")) == loo - full)
    }
  }

  test("q_fd_discovery: primary-key FD holds, violation counts referee") {
    val rows = Queries.qFdDiscovery(spark, sf).collect()
      .map(r => r.getAs[String]("fd") -> r).toMap
    assert(rows.size == 4)
    // o_orderkey is the orders primary key: the FD must hold exactly
    val pk = rows("o_orderkey->o_custkey")
    assert(pk.getAs[Long]("holds") == 1L && pk.getAs[Long]("n_violating") == 0L
      && pk.getAs[Long]("max_rhs") == 1L)
    // driver referee for one non-trivial candidate
    val li = Tables.lineitem(spark, sf)
      .select(org.apache.spark.sql.functions.col("l_partkey"),
        org.apache.spark.sql.functions.col("l_suppkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byPart = li.groupBy(_._1).view.mapValues(_.map(_._2).distinct.length)
    val got = rows("l_partkey->l_suppkey")
    assert(got.getAs[Long]("n_groups") == byPart.size.toLong)
    assert(got.getAs[Long]("n_violating") == byPart.values.count(_ > 1).toLong)
    assert(got.getAs[Long]("max_rhs") == byPart.values.max.toLong)
  }

  test("q_eval_leakage reports only eval docs, refereed per item") {
    val rows = Queries.qEvalLeakage(spark, sf).collect()
    assert(rows.nonEmpty, "the known-dup corpus must leak at least one 4-gram")
    rows.foreach { r =>
      assert(r.getAs[Long]("eval_id") % 13 == 0)
      assert(r.getAs[Long]("n_leaked_ngrams") >= 1 && r.getAs[Long]("n_train_docs") >= 1)
    }
    // driver referee on the first reported eval item
    def grams(t: String): Set[String] =
      t.split(" ").sliding(4).filter(_.length == 4).map(_.mkString(" ")).toSet
    val docs = Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val evalId = rows.head.getAs[Long]("eval_id")
    val eg = grams(docs.find(_._1 == evalId).get._2)
    val train = docs.filter(_._1 % 13 != 0)
    val leakedDistinct = train.flatMap { case (_, t) => grams(t).intersect(eg) }.distinct.size
    val carriers = train.count { case (_, t) => grams(t).intersect(eg).nonEmpty }
    assert(rows.head.getAs[Long]("n_leaked_ngrams") == leakedDistinct.toLong)
    assert(rows.head.getAs[Long]("n_train_docs") == carriers.toLong)
  }

  test("q_contrastive_pairs emits valid deterministic triplets") {
    val rows = Queries.qContrastivePairs(spark, sf).collect()
    assert(rows.nonEmpty, "the known near-dup corpus must yield anchors")
    val srcOf = Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    rows.foreach { r =>
      val a = r.getAs[Long]("anchor_id"); val p = r.getAs[Long]("pos_id")
      val n = r.getAs[Long]("neg_id"); val rk = r.getAs[Long]("neg_rank")
      assert(a != p && n != a && n != p)
      assert(rk == 1L || rk == 2L)
      // negatives come from a different source than the anchor
      assert(srcOf(n) != srcOf(a), s"negative $n shares the anchor's source")
    }
    // at most 2 negatives per anchor, ranks form a prefix
    rows.groupBy(_.getAs[Long]("anchor_id")).foreach { case (a, rs) =>
      val rks = rs.map(_.getAs[Long]("neg_rank")).sorted
      assert(rks.sameElements(1L to rks.length.toLong), s"anchor $a ranks $rks")
    }
    // deterministic across runs
    val again = Queries.qContrastivePairs(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q_winsorized clips at exact percentile bounds, refereed on the driver") {
    val row = Queries.qWinsorized(spark, sf).collect().head
    val vs = Tables.lineitem(spark, sf)
      .select(org.apache.spark.sql.functions.col("l_extendedprice"))
      .collect().map(_.getDouble(0)).sorted
    val n = vs.length
    val lo = vs(math.ceil(0.01 * n).toInt - 1)
    val hi = vs(math.ceil(0.99 * n).toInt - 1)
    assert(row.getAs[Long]("n") == n.toLong)
    assert(row.getAs[Double]("lo_bound") == lo)
    assert(row.getAs[Double]("hi_bound") == hi)
    assert(row.getAs[Long]("n_clipped_lo") == vs.count(_ < lo).toLong)
    assert(row.getAs[Long]("n_clipped_hi") == vs.count(_ > hi).toLong)
    val expectSum = vs.map(v => BigDecimal(math.max(lo, math.min(hi, v)))
      .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
    assert(math.abs(row.getAs[Double]("sum_winsorized") - expectSum.toDouble) <
      1e-6 * math.abs(expectSum.toDouble))
    // clipping must actually engage on both tails
    assert(row.getAs[Long]("n_clipped_lo") > 0 && row.getAs[Long]("n_clipped_hi") > 0)
  }

  test("q_markov_transitions rows normalize to ~1e6 per source type") {
    val rows = Queries.qMarkovTransitions(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("src")).foreach { case (src, rs) =>
      val total = rs.map(_.getAs[Long]("n")).sum
      // truncating division: sum of probs in (1e6 - |dst|, 1e6]
      val probSum = rs.map(_.getAs[Long]("prob_ppm")).sum
      assert(probSum <= 1000000L && probSum > 1000000L - rs.length,
        s"$src probs sum to $probSum over ${rs.length} rows")
      rs.foreach { r =>
        val expect = r.getAs[Long]("n") * 1000000L / total
        assert(r.getAs[Long]("prob_ppm") == expect)
      }
    }
  }

  test("q_itemset_pairs supports are exact and the plan joins on the basket key") {
    val rows = Queries.qItemsetPairs(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    rows.foreach { r =>
      assert(r.getAs[Long]("p_a") < r.getAs[Long]("p_b"))
      assert(r.getAs[Long]("support") >= 2)
    }
    // driver referee for the top pair
    val baskets = Tables.lineitem(spark, sf)
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
      .groupBy(_._1).values.map(_.map(_._2).toSet)
    val top = rows.head
    val expect = baskets.count(b =>
      b.contains(top.getAs[Long]("p_a")) && b.contains(top.getAs[Long]("p_b")))
    assert(top.getAs[Long]("support") == expect.toLong)
  }

  test("q_neighbor_agg matches a driver-side one-hop recomputation") {
    val rows = Queries.qNeighborAgg(spark, sf).collect()
    assert(rows.nonEmpty)
    val edges = Tables.orders(spark, sf)
      .select(org.apache.spark.sql.functions.col("o_orderkey"),
        org.apache.spark.sql.functions.col("o_custkey"))
      .join(Tables.lineitem(spark, sf)
          .select(org.apache.spark.sql.functions.col("l_orderkey"),
            org.apache.spark.sql.functions.col("l_suppkey")),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
      .select((org.apache.spark.sql.functions.col("o_custkey") * 2).as("c"),
        (org.apache.spark.sql.functions.col("l_suppkey") * 2 + 1).as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val sym = edges.flatMap { case (c, s2) => Seq(c -> s2, s2 -> c) }
    val deg = sym.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nbrs = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    rows.take(20).foreach { r =>
      val node = r.getAs[Long]("node")
      val ns = nbrs(node)
      assert(r.getAs[Long]("n_neighbors") == ns.length.toLong)
      val expect = BigInt(ns.map(deg).sum) * 1000000 / ns.length
      assert(BigInt(r.getAs[Long]("avg_nbr_deg_ppm")) == expect)
    }
  }

  test("q_attribution credits first/last preceding touch, refereed per user") {
    val rows = Queries.qAttribution(spark, sf).collect()
    assert(rows.nonEmpty)
    val events = Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.expr("ts div 1000").as("t"),
        org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byUser = events.groupBy(_._1).view
      .mapValues(_.sortBy(e => (e._2, e._3))).toMap
    rows.take(50).foreach { r =>
      val pid = r.getAs[Long]("purchase_id"); val uid = r.getAs[Long]("user_id")
      val stream = byUser(uid)
      val idx = stream.indexWhere(_._3 == pid)
      val touches = stream.take(idx).filter(e => e._4 == "click" || e._4 == "view")
      if (touches.isEmpty) {
        assert(r.isNullAt(r.fieldIndex("first_touch_id")))
        assert(r.isNullAt(r.fieldIndex("last_touch_id")))
      } else {
        assert(r.getAs[Long]("first_touch_id") == touches.head._3)
        assert(r.getAs[Long]("last_touch_id") == touches.last._3)
        assert(r.getAs[String]("first_touch_type") == touches.head._4)
        assert(r.getAs[String]("last_touch_type") == touches.last._4)
      }
    }
  }

  test("q_trigram_search equals the naive LIKE scan (recall-1 referee)") {
    val rows = Queries.qTrigramSearch(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSeq
    val naive = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("text").contains("table key value"))
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == naive, "trigram-index path diverged from the scan")
    assert(rows.nonEmpty, "chosen pattern should match at least one doc at test SF")
  }

  test("q_bfs_hops labels every node once at its minimal hop, refereed") {
    val rows = Queries.qBfsHops(spark, sf).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist"))
    assert(rows.map(_._1).distinct.length == rows.length, "a node labeled twice")
    // independent driver-side BFS over the same edges
    val edges = Tables.orders(spark, sf)
      .select(org.apache.spark.sql.functions.col("o_orderkey"),
        org.apache.spark.sql.functions.col("o_custkey"))
      .join(Tables.lineitem(spark, sf)
          .select(org.apache.spark.sql.functions.col("l_orderkey"),
            org.apache.spark.sql.functions.col("l_suppkey")),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
      .select((org.apache.spark.sql.functions.col("o_custkey") * 2).as("c"),
        (org.apache.spark.sql.functions.col("l_suppkey") * 2 + 1).as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges.map(e => e._1 -> e._2) ++ edges.map(e => e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val sources = adj.keySet.filter(n => n < 20 && n % 2 == 0)
    var distRef = sources.map(_ -> 0L).toMap
    var frontier = sources
    (1 to 3).foreach { r =>
      val nxt = frontier.flatMap(adj.getOrElse(_, Set.empty))
        .filterNot(distRef.contains)
      distRef ++= nxt.map(_ -> r.toLong)
      frontier = nxt
    }
    assert(rows.toMap == distRef, "BFS labeling diverged from reference")
    assert(rows.exists(_._2 == 1L) && rows.exists(_._2 == 2L),
      "expansion should reach beyond the sources")
  }

  test("q_running_distinct is monotone per user and ends at the user's type count") {
    val rows = Queries.qRunningDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    val typesPerUser = Tables.events(spark, sf)
      .groupBy(org.apache.spark.sql.functions.col("user_id"))
      .agg(org.apache.spark.sql.functions
        .countDistinct(org.apache.spark.sql.functions.col("event_type")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byUser.foreach { case (uid, rs) =>
      val seq = rs.map(_.getAs[Long]("n_distinct_types")) // already t-ordered
      assert(seq.head == 1L, s"user $uid must start at 1")
      assert(seq.zip(seq.tail).forall { case (a, b) => b == a || b == a + 1 },
        s"user $uid running count must step by 0 or 1")
      assert(seq.last == typesPerUser(uid), s"user $uid final count wrong")
    }
  }

  test("every query has a name and every oracle refers to a query") {
    assert(SparkEntry.queries.nonEmpty)
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracle $k has no query")
    }
  }

  test("a misspelled query name fails the lookup, naming it and the valid names") {
    assert(Queries.resolve(Seq("q_tpch_q3", "q1_agg")).map(_._1) == Seq("q_tpch_q3", "q1_agg"))
    val e = intercept[IllegalArgumentException](Queries.resolve(Seq("q1_agg", "q_tpch_q33")))
    assert(e.getMessage.contains("unknown query: q_tpch_q33;"), e.getMessage)
    assert(e.getMessage.contains("q_tpch_q3,"), e.getMessage)
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("z-order layout files bound both dimensions (the file-skip property)") {
    val rows = Queries.qZorderLayout(spark, sf).collect()
    assert(rows.length > 1, "z bucketing collapsed to a single file")
    // zone-map tightness: every file's rectangle is at most the
    // 32x32 z-cell (FileZRange = 2^10 covers 5 bits of each dim)
    rows.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) <= 31, s"px range too wide: $r")
      assert(r.getLong(5) - r.getLong(4) <= 31, s"sx range too wide: $r")
    }
    // and the plan is scan -> project -> hash agg: no window, no
    // extra exchange beyond the aggregate's own
    val plan = Queries.qZorderLayout(spark, sf).queryExecution.sparkPlan.toString
    assert(!plan.contains("Window"), s"z-order layout should not window:\n$plan")
  }

  test("skyline: local pass is a partitioned window; result is mutually non-dominated") {
    val df = Queries.qSkyline2d(spark, sf)
    val rows = df.collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    for (p <- rows; q <- rows if p != q)
      assert(!(q._1 >= p._1 && q._2 >= p._2 && (q._1 > p._1 || q._2 > p._2)),
        s"$q dominates $p in skyline output")
    // exactly one unpartitioned window (the tiny global pass); the
    // bucket-local pass must carry a partition spec
    val win = "Window ".r.findAllIn(df.queryExecution.sparkPlan.toString).length
    assert(win >= 2, "expected local + global window passes")
  }

  test("sorted-neighborhood blocks as an equi-join, never a cartesian or global sort") {
    val df = Queries.qSortedNeighborhood(spark, sf)
    val plan = df.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"rank-band blocking degenerated to a cross join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"rank-band blocking degenerated to a nested loop:\n$plan")
    // the rank windows must be partitioned (bounded state), not global
    assert(!plan.contains("Window [") ||
      "windowspecdefinition\\(seg".r.findFirstIn(plan.toLowerCase).isDefined ||
      plan.contains("PartitionBy"), "window appears unpartitioned")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every emitted gap respects the neighborhood bound
    assert(rows.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= 3))
  }

  test("partitioned scan prunes to one directory via PartitionFilters") {
    val df = Queries.qPartitionedScan(spark, sf)
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("Scan parquet"))
      .getOrElse(fail("no parquet scan in plan"))
    // the equality must resolve against partition directories at
    // planning time, not as a per-row data filter
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters", "").contains("1-URGENT"),
      s"partition filter not pushed to the directory level:\n$scan")
    val rows = df.collect()
    assert(rows.nonEmpty)
  }

  test("bucketed join+agg on the bucket key plans with zero hash exchanges") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Queries.qBucketedJoin(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      // the bucketed layout must satisfy BOTH the join and the
      // per-order aggregate distribution: no shuffle anywhere
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join/agg shuffled:\n$plan")
      assert(df.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      val sfx = java.lang.ProcessHandle.current.pid
      spark.sql(s"DROP TABLE IF EXISTS graft_bkt_li_$sfx")
      spark.sql(s"DROP TABLE IF EXISTS graft_bkt_o_$sfx")
    }
  }

  test("lateral correlated top-k decorrelates to a window group limit, not a per-row rescan") {
    val df = Queries.qLateralTopk(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"lateral stayed a nested loop (per-outer-row inner rescan):\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"decorrelated lateral should push a group limit:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // at most 2 customers per nation
    rows.groupBy(_.getString(0)).foreach { case (_, rs) => assert(rs.length <= 2) }
  }

  test("round-13 additions return rows and respect their own invariants") {
    // phrase search: every doc reported must actually contain the phrase
    val ph = Queries.qPhraseSearch(spark, sf).collect()
    assert(ph.nonEmpty)
    val phrase = ph.head.getString(0) + " " + ph.head.getString(1)
    val docs = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id")
        .isin(ph.map(_.getLong(2)).toSeq: _*))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
      .toMap
    ph.foreach { r =>
      val t = " " + docs(r.getLong(2)) + " "
      assert(t.contains(" " + phrase + " "), s"doc ${r.getLong(2)} lacks '$phrase'")
    }
    // rake: top-20, scores positive, n_words >= 1
    val rk = Queries.qRakeKeywords(spark, sf).collect()
    assert(rk.length == 20 && rk.forall(r => r.getLong(3) > 0 && r.getLong(1) >= 1))
    // seq patterns: support ordering holds, n_users <= n_occ
    val sq = Queries.qSeqPatterns(spark, sf).collect()
    assert(sq.nonEmpty)
    assert(sq.map(_.getLong(3)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    assert(sq.forall(r => r.getLong(4) <= r.getLong(3)))
    // autocorr: r2 in [0, 1e6], lag-1 rows exist for every type with data
    val ac = Queries.qAutocorr(spark, sf).collect()
    assert(ac.nonEmpty)
    assert(ac.forall(r => r.getLong(4) >= 0 && r.getLong(4) <= 1000000L))
    assert(ac.forall(r => math.abs(r.getLong(3)) <= 1L))
    // changepoint: split strictly inside the series; means nonnegative
    val cp = Queries.qChangepoint(spark, sf).collect()
    assert(cp.nonEmpty)
    assert(cp.forall(r => r.getLong(1) >= 1 && r.getLong(1) < r.getLong(2)))
    // benford: 9 digits, observed shares sum to ~1e6 (truncation slack)
    val bf = Queries.qBenfordAudit(spark, sf).collect()
    assert(bf.map(_.getLong(0)).toSeq == (1L to 9L))
    val share = bf.map(_.getLong(2)).sum
    assert(share > 999990L && share <= 1000000L)
    assert(bf.map(_.getLong(3)).sum == 1000000L)
    // rolling slope: max >= min per type
    val rs = Queries.qRollingSlope(spark, sf).collect()
    assert(rs.nonEmpty && rs.forall(r => r.getLong(1) >= r.getLong(3)))
    // hybrid rrf: 20 rows, scores descending, every row in >= 1 leg
    val hy = Queries.qHybridRrf(spark, sf).collect()
    assert(hy.length == 20)
    assert(hy.map(_.getLong(1)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    assert(hy.forall(r => !(r.isNullAt(2) && r.isNullAt(3))))
    // twap: spans positive, twap within the observed cents range
    val tw = Queries.qTwap(spark, sf).collect()
    assert(tw.nonEmpty && tw.forall(r => r.getLong(2) > 0 &&
      r.getLong(3) >= 1 && r.getLong(3) <= 49002))
    // quantile normalization: per-type counts preserved; sums of
    // normalized values are comparable across types (same target dist)
    val qn = Queries.qQuantileNormalize(spark, sf).collect()
    assert(qn.nonEmpty)
    val evCounts = Tables.events(spark, sf).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    qn.foreach(r => assert(r.getLong(1) == evCounts(r.getString(0))))
    // fit/transform: 15 (split,type) cells; train medians center train
    // (train sum-of-z magnitude stays well inside one IQR per row)
    val ft = Queries.qFitTransform(spark, sf).collect()
    assert(ft.length == 15)
    ft.filter(_.getString(0) == "train").foreach { r =>
      assert(math.abs(r.getLong(3)) <= r.getLong(2) * 1000000L)
    }
    // ppr: 30 non-source nodes, descending, all mass positive
    val pp = Queries.qPpr(spark, sf).collect()
    assert(pp.length == 30 && pp.forall(_.getLong(1) > 0))
    assert(pp.map(_.getLong(1)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    assert(pp.forall(r => !(r.getLong(0) % 2 == 0 && r.getLong(0) < 20)))
    // IND discovery: the star schema's true FK directions all hold
    val ind = Queries.qIndDiscovery(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(ind("orders.o_custkey<customer.c_custkey") == 1L)
    assert(ind("lineitem.l_orderkey<orders.o_orderkey") == 1L)
    assert(ind("lineitem.l_suppkey<supplier.s_suppkey") == 1L)
    assert(ind("lineitem.l_partkey<part.p_partkey") == 1L)
    assert(ind.size == 7)
    // assortativity: one row, r2 in [0, 1e6] when defined
    val as = Queries.qAssortativity(spark, sf).collect()
    assert(as.length == 1 && as.head.getLong(0) > 0)
    assert(as.head.isNullAt(2) ||
      (as.head.getLong(2) >= 0 && as.head.getLong(2) <= 1000000L))
    // mutual NN: matches are disjoint (each id in at most one pair)
    val mn = Queries.qMutualNn(spark, sf).collect()
    assert(mn.nonEmpty)
    val ids = mn.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
    assert(ids.distinct.length == ids.length)
    // seasonal: 24 hours per type; indices average to ~1e6 per type
    val sd = Queries.qSeasonalDecompose(spark, sf).collect()
    val byType = sd.groupBy(_.getString(0))
    byType.foreach { case (_, rows) =>
      assert(rows.length == 24)
      val wavg = rows.map(r => r.getLong(4) * r.getLong(2)).sum /
        rows.map(_.getLong(2)).sum
      assert(math.abs(wavg - 1000000L) < 30L) // truncation slack only
    }
    // cascade delete: monotone FK fan-out, removal strictly partial
    val cd = Queries.qCascadeDelete(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cd.size == 3)
    cd.values.foreach { case (t, rm) => assert(rm > 0 && rm < t) }
    // encoding advisor: low-cardinality flags get dict/rle, keys plain
    val ea = Queries.qEncodingAdvisor(spark, sf).collect()
      .map(r => r.getString(0) -> r.getString(4)).toMap
    assert(ea("l_returnflag") != "plain" && ea("l_linestatus") != "plain")
    assert(ea("l_partkey") == "plain")
    // post-stratify: estimate within 20% of truth on every stratum
    val ps = Queries.qPostStratify(spark, sf).collect()
    assert(ps.nonEmpty)
    ps.foreach { r =>
      val (est, tru) = (r.getLong(4), r.getLong(5))
      assert(math.abs(est - tru) * 5 <= tru, s"estimate $est vs $tru")
    }
    // local clustering: cc in [0,1]; triangles bounded by C(d,2)
    val lc = Queries.qLocalClustering(spark, sf).collect()
    assert(lc.nonEmpty)
    lc.foreach { r =>
      val (d, tri, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(d >= 2 && tri * 2 <= d * (d - 1))
      assert(ppm >= 0 && ppm <= 1000000L)
      assert(ppm == tri * 2000000L / (d * (d - 1)))
    }
    // rolling median: frame size in [1,15]; med2 inside 2x value range
    val rm = Queries.qRollingMedian(spark, sf).collect()
    assert(rm.length == Tables.events(spark, sf).count())
    rm.foreach { r =>
      assert(r.getLong(3) >= 1 && r.getLong(3) <= 15)
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 2 * 49002)
    }
    // char entropy: n_ch == document length; collision >= uniform
    // floor 1e6/k (Cauchy-Schwarz), <= 1e6
    val ce = Queries.qCharEntropy(spark, sf).collect()
    val dlen = Tables.documents(spark, sf)
      .selectExpr("doc_id", "length(text) AS l").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(ce.length == dlen.size)
    ce.foreach { r =>
      val (id, n, k, ppm) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))
      assert(n == dlen(id), s"doc $id: n_ch $n != length ${dlen(id)}")
      assert(ppm <= 1000000L && ppm >= 1000000L / k - 1)
    }
    // zonemap compare: the structural trade-off — range layout is
    // tighter than zorder on its sort dim, scans EVERYTHING off it;
    // zorder prunes on both dims and wins the 2d cell on rows read
    val zc = Queries.qZonemapCompare(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(zc.size == 6)
    assert(zc(("range", "sx_band"))._2 == zc(("range", "sx_band"))._1)
    assert(zc(("zorder", "sx_band"))._2 < zc(("zorder", "sx_band"))._1)
    assert(zc(("range", "px_band"))._2 < zc(("zorder", "px_band"))._2)
    assert(zc(("zorder", "cell_2d"))._3 < zc(("range", "cell_2d"))._3)
    zc.foreach { case ((_, _), (_, _, scanned, matched)) =>
      assert(matched <= scanned) // zone maps never miss a match
    }
    // HITS: 15 hubs + 15 authorities; ppm in (0, 1e6]; each role's max
    // normalizes to exactly 1e6
    val ht = Queries.qHits(spark, sf).collect()
    Seq("hub", "authority").foreach { role =>
      // sf0.001 has only 10 suppliers, so a role can come up short of 15
      val rs = ht.filter(_.getString(0) == role).map(_.getLong(2))
      assert(rs.length >= 1 && rs.length <= 15)
      assert(rs.max == 1000000L && rs.min > 0L)
    }
    // bounded SSSP: sources (even ids < 20) at distance 0, nothing
    // negative, and every non-source distance >= the global min edge
    val sp = Queries.qSsspBounded(spark, sf).collect()
    assert(sp.nonEmpty)
    sp.foreach { r =>
      val (n, d) = (r.getLong(0), r.getLong(1))
      if (n % 2 == 0 && n < 20) assert(d == 0L, s"source $n dist $d")
      else assert(d > 0L, s"non-source $n dist $d")
    }
    // EWMA: one row per event; frame size in [1,16]; value inside the
    // cents range (weighted mean of non-negative cents)
    val ew = Queries.qEwma(spark, sf).collect()
    assert(ew.length == Tables.events(spark, sf).count())
    ew.foreach { r =>
      assert(r.getLong(3) >= 1 && r.getLong(3) <= 16)
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 49002L)
    }
    // label propagation: non-degenerate census (>1 label — the graph
    // choice exists to avoid the measured 1-label collapse), members
    // sum to the node count, every label is its own community's min
    val lp = Queries.qLabelProp(spark, sf).collect()
    assert(lp.length > 1, "label census collapsed to one community")
    assert(lp.map(_.getLong(1)).forall(_ >= 1L))
  }

  test("grouped top-k plans as WindowGroupLimit, not a full window sort") {
    val df = Queries.qTopkGrouped(spark, sf)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter did not push a group limit:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // exactly <= 5 per group, ranks dense from 1
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.length <= 5)
      assert(rs.map(_.getLong(1)).sorted.sameElements(1L to rs.length.toLong))
    }
  }
}
