package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup
import graft.functions.SimHash

class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("exact dedup groups synthesized duplicates under min-id keeper") {
    val rows = Queries.qDedupExact(spark, sf).collect()
    val dupGroups = rows.filter(_.getLong(1) == 2)
    assert(dupGroups.length == 100) // the 100 shifted copies
    assert(dupGroups.forall(_.getLong(0) < 100)) // keeper is the original
  }

  test("minhash candidates include all high-jaccard pairs found by ngram verify") {
    val cand = Queries.qDedupMinhash(spark, sf).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    val verified = Queries.qDedupNgram(spark, sf).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(verified.nonEmpty)
    assert(verified.subsetOf(cand)) // ngram runs on LSH candidates by construction
    // near-identical docs must estimate high similarity
    val ests = Queries.qDedupMinhash(spark, sf).select("sim_est").as[Double].collect()
    assert(ests.exists(_ >= 0.9))
  }

  test("minhash LSH candidate volume is bounded (16 bands x 4 rows prunes quadratically)") {
    // Mirror of the embedding-side bound: with b=16, r=4 the collision
    // prob at background jaccard is tiny, so candidates must stay far
    // below n² — a parameter regression (shallow bands) fails this.
    val sig = Dedup.withMinhashSignature(Dedup.withShingles(
      Tables.documents(spark, sf).select($"doc_id", $"text"), "text"))
    val n = sig.count()
    val cands = Dedup.lshCandidatePairs(Dedup.withLshBands(sig), "doc_id").count()
    assert(cands < n * n / 200, s"candidates=$cands not < n^2/200=${n * n / 200}")
  }

  test("minhash signature is k=64 wide and sim_est has 1/64 granularity") {
    assert(Dedup.MinhashK == 64 && Dedup.LshBands * Dedup.LshRows == 64)
    val ests = Queries.qDedupMinhash(spark, sf).select("sim_est").as[Double].collect()
    assert(ests.nonEmpty)
    ests.foreach { e =>
      val steps = e * Dedup.MinhashK
      assert(math.abs(steps - math.round(steps)) < 1e-9, s"sim_est $e not a 1/64 multiple")
    }
  }

  test("simhash of identical token sets is identical; hamming pairs are symmetric-free") {
    val df = Seq((1L, Seq("a", "b", "c")), (2L, Seq("a", "b", "c")), (3L, Seq("x", "y", "z")))
      .toDF("id", "toks").select($"id", SimHash.simhash($"toks").as("h"))
    val hs = df.as[(Long, Long)].collect().toMap
    assert(hs(1L) == hs(2L))
    assert(hs(1L) != hs(3L))
    val pairs = Queries.qDedupSimhash(spark, sf).select("doc_a", "doc_b")
      .as[(Long, Long)].collect()
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.distinct.length == pairs.length)
  }

  test("embedding near-dup cosine is within [-1,1] and above threshold") {
    val sims = Queries.qDedupEmbedding(spark, sf).select("cos_sim").as[Double].collect()
    assert(sims.nonEmpty)
    assert(sims.forall(s => s >= 0.4 && s <= 1.0))
  }

  test("embedding near-dup blocks on LSH bands, never on label") {
    val df = Queries.qDedupEmbedding(spark, sf)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("label"), "plan must not join/block on the label column")
    assert(plan.contains("band_idx"), "plan should block on the LSH band key")
  }

  test("embedding LSH banding finds every identical-vector pair") {
    // Identical vectors share every band, so recall on true dups is 1.
    val base = Tables.embeddings(spark, sf).limit(20)
    val q = graft.operators.Similarity.quantized(base)
      .select($"vec_id", $"qv", $"norm2")
    val banded = graft.operators.Similarity.withHyperplaneBands(q, Queries.dedupPlanes, 12)
    val dup = banded.unionAll(banded.withColumn("vec_id", $"vec_id" + 10000L))
    val cand = Dedup.lshCandidatePairs(dup, "vec_id")
      .filter($"id_b" === $"id_a" + 10000L)
    assert(cand.count() == 20L)
  }

  test("embedding LSH candidate volume is bounded on the uncorrelated corpus") {
    // The 16×12 banding must prune quadratically: on this corpus
    // (avg cos ≈ 0) measured candidates are ~n²/350; assert the
    // n²/50 ceiling so a parameter regression (narrow keys) fails.
    val q = graft.operators.Similarity.quantized(Tables.embeddings(spark, sf))
      .select($"vec_id", $"qv", $"norm2")
    val banded = graft.operators.Similarity.withHyperplaneBands(q, Queries.dedupPlanes, 12)
    val n = q.count()
    val cands = Dedup.lshCandidatePairs(banded, "vec_id").count()
    assert(cands < n * n / 50, s"candidates=$cands not < n^2/50=${n * n / 50}")
  }

  test("edit-distance verify recovers the planted near-dup pairs on LSH candidates") {
    val rows = Queries.qDedupEditDistance(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1)) // canonical pair order
      assert(r.getDouble(3) >= 0.8 && r.getDouble(3) <= 1.0)
    }
    // the two verify lenses run on the SAME blocking and must agree on
    // the strongly-duplicated core (planted pairs are >= 0.9 jaccard)
    val ngramPairs = Queries.qDedupNgram(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val editPairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(editPairs.intersect(ngramPairs).nonEmpty)
  }

  test("edit-distance prune: length-gap filter guards the levenshtein kernel") {
    // |len_a - len_b| lower-bounds edit distance, so the cheap codegen'd
    // prune must sit in the plan guarding (short-circuiting before) the
    // O(thr·len) levenshtein kernel
    // Catalyst may keep the prune as a Filter or fold it into the join
    // condition itself — inspect both. The query eagerly materializes
    // (cache-release contract), so the REAL plan comes from PlanProbe,
    // not the returned bare-LogicalRDD relation.
    operators.PlanProbe.enabled = true
    operators.PlanProbe.clear()
    val plan =
      try {
        Queries.qDedupEditDistance(spark, sf)
        operators.PlanProbe.executions("q_dedup_editdist").optimizedPlan
      } finally {
        operators.PlanProbe.enabled = false
        operators.PlanProbe.clear()
      }
    val conds = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.toString
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.map(_.toString).getOrElse("")
    }
    assert(conds.exists(c => c.contains("abs(") && c.contains("length(")),
      s"no length-gap prune filter in plan:\n$plan")
    // when Catalyst fuses both filters into one conjunct, the prune must
    // come first so And short-circuits past the DP kernel
    conds.filter(_.contains("levenshtein")).foreach { c =>
      assert(!c.contains("abs(") || c.indexOf("abs(") < c.indexOf("levenshtein"),
        s"prune conjunct does not precede levenshtein: $c")
    }
  }

  test("prefix-filtered exact sim-join: recall 1 vs LSH, candidates bounded") {
    // completeness: every LSH+verify pair (J >= 0.5) must also be found
    // by the exact join — prefix filtering has recall 1 by theorem,
    // LSH does not, so exact ⊇ lsh-verified
    val exact = Queries.qSimJoinExact(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lshVerified = Queries.qDedupNgram(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lshVerified.nonEmpty)
    assert(lshVerified.subsetOf(exact),
      s"exact join missed LSH-verified pairs: ${lshVerified -- exact}")
    // the prefix filter must prune the pair space, not enumerate n²
    val sets = graft.operators.Dedup.withShingles(
        Tables.documents(spark, sf).select($"doc_id", $"text"), "text")
      .select($"doc_id", $"sh").filter(size($"sh") > 0)
    val n = sets.count()
    val cands = graft.operators.Dedup
      .prefixSimCandidates(sets, "doc_id", "sh", 1, 2).count()
    assert(cands < n * n / 4, s"prefix filter barely pruned: $cands of ${n * n / 2}")
  }

  test("exactSimJoin: direct and prefix-filtered plans agree pair-for-pair") {
    val tokens = graft.operators.Dedup.withShingles(
        Tables.documents(spark, sf).select($"doc_id", $"text"), "text")
      .select($"doc_id", explode($"sh").as("tok"))
    def run(maxDirect: Long) = graft.operators.Dedup
      .exactSimJoin(tokens, "doc_id", 1, 2, maxDirectPairs = maxDirect)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val direct = run(Long.MaxValue) // force the direct token-join plan
    val prefix = run(0L)            // force the prefix-filtered plan
    assert(direct.nonEmpty, "no similar pairs found at sf0.001")
    assert(direct == prefix,
      s"plans disagree: onlyDirect=${direct -- prefix} onlyPrefix=${prefix -- direct}")
  }

  test("containmentJoin: direct and A-side-prefix plans agree pair-for-pair") {
    val tokens = Dedup.withShingles(
        Tables.documents(spark, sf).select($"doc_id", $"text"), "text")
      .select($"doc_id", explode($"sh").as("tok"))
    def run(maxDirect: Long) = Dedup
      .containmentJoin(tokens, "doc_id", 1, 2, maxDirectPairs = maxDirect)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val direct = run(Long.MaxValue)
    val prefix = run(0L)
    assert(direct.nonEmpty, "no contained pairs found at sf0.001")
    assert(direct == prefix,
      s"plans disagree: onlyDirect=${direct -- prefix} onlyPrefix=${prefix -- direct}")
  }

  test("containmentJoin is directional: subset scores 1 toward superset, not back") {
    // A = {a,b,c,d,e} fully inside B = A ∪ 15 extras: C(A→B) = 1,
    // C(B→A) = 5/20 < 1/2 — only the A→B direction must survive
    val toks = (Seq.tabulate(5)(i => (1L, s"t$i")) ++
      Seq.tabulate(20)(i => (2L, s"t$i"))).toDF("doc_id", "tok")
    for (maxDirect <- Seq(Long.MaxValue, 0L)) {
      val got = Dedup.containmentJoin(toks, "doc_id", 1, 2, maxDirect)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got.toSeq == Seq((1L, 2L, 5L, 5L)),
        s"maxDirect=$maxDirect got ${got.toSeq}")
    }
  }

  test("connected components: transitive chains collapse to the min id") {
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L), (21L, 20L), (21L, 22L), (22L, 23L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("connected components: star contraction collapses a 64-chain within log-bounded rounds") {
    // A 64-node chain has diameter 63: plain min propagation needs 63
    // rounds, star contraction O(log² n). maxIters=10 only passes if
    // the contraction is doing its job.
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(chain, "doc_a", "doc_b", maxIters = 10,
        driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.length == 64)
    assert(cc.forall(_._2 == 0L))
  }

  test("connected components: star-contraction rounds release their checkpoint blocks") {
    // each contraction round is locally checkpointed; the release
    // thunks must free every round once the next lands — only the
    // materialized OUTPUT may stay registered with the block manager
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(chain, "doc_a", "doc_b", maxIters = 10,
        driverEdgeLimit = 0)
    cc.count()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"${leaked.size} persisted RDDs survive star contraction " +
        "(expected at most the materialized output); round releases are not firing")
  }

  test("connected components: non-convergence throws instead of returning split labels") {
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "doc_a", "doc_b", maxIters = 1,
        driverEdgeLimit = 0)
    }
    assert(e.getMessage.contains("did not converge"))
    // the pair and edge caches and the live round are freed on the way out
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "a non-converging connected components run left persisted RDDs")
  }

  test("connected components: reliable checkpoint path yields identical labels") {
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L), (21L, 20L), (21L, 22L), (22L, 23L))
      .toDF("doc_a", "doc_b")
    val local = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reliable = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
        reliableCheckpointDir = Some(dir), driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == reliable)
    assert(new java.io.File(dir).exists) // checkpoints actually landed on disk
  }

  test("star contraction collapses a 400-ring (the hash-min drip pathology)") {
    // a ring has no tree structure for pointer jumping to exploit —
    // hash-min + jump crawled one hop per round here; star contraction
    // must converge in O(log² n) rounds
    val n = 400L
    val ring = (0L until n).map(i => (i, (i + 1) % n)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(ring, "doc_a", "doc_b",
        maxIters = 15, driverEdgeLimit = 0)
      .as[(Long, Long)].collect()
    assert(cc.length == n)
    assert(cc.forall(_._2 == 0L))
  }

  test("driver union-find and distributed star contraction produce identical labels") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.tabulate(300)(_ => (rnd.nextLong(500).abs, rnd.nextLong(500).abs))
      .filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
    val viaDriver = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    val viaCluster = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
        driverEdgeLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver == viaCluster)
  }

  test("cluster query: every verified pair lands in one cluster; reps are members") {
    val pairs = Queries.qDedupNgram(spark, sf).select("doc_a", "doc_b")
      .as[(Long, Long)].collect()
    val clusters = Queries.qDedupClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    clusters.values.foreach(rep => assert(clusters(rep) == rep, s"rep $rep not canonical"))
  }

  test("jaccard of disjoint and identical sets") {
    val df = Seq((Seq("a", "b"), Seq("a", "b")), (Seq("a"), Seq("b")))
      .toDF("x", "y").select(Dedup.jaccard($"x", $"y").as("j"))
    assert(df.as[Double].collect().toSeq == Seq(1.0, 0.0))
  }

  test("survivors: one best row per cluster, deterministic tie-break on id") {
    val labeled = Seq(
      (1L, 100L, 50L), (2L, 100L, 80L), (3L, 100L, 80L), // cluster 100: 3 ties at 80 → id 2
      (7L, 200L, 10L)                                    // singleton cluster
    ).toDF("doc_id", "cluster_rep", "quality")
    val surv = Dedup.survivors(labeled, "doc_id", "cluster_rep", "quality")
      .select("cluster_rep", "doc_id", "cluster_size")
      .as[(Long, Long, Long)].collect().toSet
    assert(surv == Set((100L, 2L, 3L), (200L, 7L, 1L)))
  }

  test("survivor query: exactly one survivor per cluster, survivor is a member") {
    val clusters = Queries.qDedupClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    val surv = Queries.qDedupSurvivors(spark, sf)
      .select("cluster_rep", "survivor_id", "cluster_size")
      .as[(Long, Long, Long)].collect()
    val reps = clusters.values.toSet
    assert(surv.map(_._1).toSet == reps) // every cluster has exactly one survivor
    assert(surv.length == reps.size)
    surv.foreach { case (rep, id, size) =>
      assert(clusters(id) == rep, s"survivor $id not a member of cluster $rep")
      assert(size == clusters.count(_._2 == rep).toLong)
    }
  }

  test("bloom filter: no false negatives, prunedJoin equals plain join") {
    import graft.operators.BloomJoin
    val keys = (0L until 500L).map(k => k * 7919L).toDF("k")
    val bits = BloomJoin.buildBits(keys, "k", m = 1 << 14)
    val member = keys.filter(BloomJoin.mightContain($"k", bits)).count()
    assert(member == 500L) // every inserted key passes
    val probe = (0L until 20000L).toDF("k")
    val fpr = probe.filter(BloomJoin.mightContain($"k", bits)).count().toDouble / 20000
    assert(fpr < 0.2, s"false-positive rate $fpr unreasonably high")
    val joined = BloomJoin.prunedJoin(probe, keys, "k").as[Long].collect().toSet
    val expected = probe.as[Long].collect().toSet
      .intersect(keys.as[Long].collect().toSet) // {0, 7919, 15838}
    assert(joined == expected)
  }

  test("bloom probe filter runs below the join exchange (pre-shuffle prune)") {
    val plan = Queries.qBloomJoin(spark, sf).queryExecution.executedPlan.toString
    // the membership test must sit under the shuffle feeding the join:
    // in the plan tree the Filter containing the bit-array probe
    // (element_at over the literal) appears AFTER (deeper than) the
    // exchange line that consumes it
    val lines = plan.linesIterator.toVector
    val probeIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("element_at"))
    assert(probeIdx >= 0, s"no bloom probe filter in plan:\n$plan")
    // children print below their parent: the lineitem scan this
    // filter consumes must follow it with no Exchange in between —
    // i.e. the prune applies on scan output, before any shuffle
    val scanIdx = lines.indexWhere(_.contains("Scan parquet"), probeIdx)
    assert(scanIdx > probeIdx, s"no scan under the probe filter:\n$plan")
    assert(!lines.slice(probeIdx + 1, scanIdx).exists(_.contains("Exchange")),
      s"exchange between probe filter and scan:\n$plan")
  }

  test("withLshBandKeys ≡ withLshBands∘withMinhashSignature, degenerate rows included") {
    // the fused band-key expression must be row-for-row identical to
    // the signature-then-extract pipeline — including the shapes that
    // null the signature: text with < 3 words (empty shingle array)
    // and NULL text must still emit 16 rows with NULL band keys
    val docs = Seq[(Long, String)](
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "a completely different document with its own words inside"),
      (4L, "two words"), // < n words -> empty shingles -> null keys
      (5L, ""),
      (6L, null)).toDF("doc_id", "text")
    val sh = Dedup.withShingles(docs, "text")
    val old = Dedup.withLshBands(Dedup.withMinhashSignature(sh))
      .select($"doc_id", $"band_idx", $"band_key")
    val fused = Dedup.withLshBandKeys(sh)
      .select($"doc_id", $"band_idx", $"band_key")
    // schema parity (band_idx stays INT, band_key stays STRING)
    assert(fused.schema == old.schema,
      s"schema drift: ${fused.schema} vs ${old.schema}")
    val o = old.collect().map(r =>
      (r.getLong(0), r.getInt(1), Option(r.getString(2)))).sorted
    val f = fused.collect().map(r =>
      (r.getLong(0), r.getInt(1), Option(r.getString(2)))).sorted
    assert(o.length == 6 * Dedup.LshBands && f.sameElements(o),
      s"fused band keys diverge from the extract pipeline")
    // duplicate docs collide on every band; distinct docs on none
    val byDoc = f.filter(_._3.isDefined).groupBy(_._1)
    assert(byDoc(1L).map(_._3).sameElements(byDoc(2L).map(_._3)))
    assert(byDoc(1L).map(_._3).toSet.intersect(byDoc(3L).map(_._3).toSet).isEmpty)
    // degenerate docs emitted all-null keys
    Seq(4L, 5L, 6L).foreach { id =>
      val rows = f.filter(_._1 == id)
      assert(rows.length == Dedup.LshBands && rows.forall(_._3.isEmpty),
        s"doc $id must emit ${Dedup.LshBands} null-key rows")
    }
  }
}
