package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus curation: exact
  * (content-hash groupBy), MinHash+LSH near-dup candidates, exact
  * n-gram Jaccard verification over LSH candidates, and SimHash with
  * pigeonhole band blocking.
  *
  * Scale design: no O(n²) pairwise stage anywhere — candidate
  * generation is always a shuffle on a banding key (LSH band hash or
  * simhash byte-chunk), after which verification joins touch only the
  * candidate set. All token/shingle/signature work is per-row
  * projection (codegen'd array lambdas), no explode-shuffle.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Advisory check at the prefix-plan dispatch: rarest-first prefix
    * blocking can only REDUCE pair volume when the df distribution
    * has a head for prefixes to exclude. On a headless (bounded-df)
    * distribution, prefix dfs ≈ full dfs, so candidate generation
    * degenerates to ≈ Σdf² rows CARRYING positional-prune baggage —
    * strictly worse than the direct count (measured at sf10,
    * FIXTURES.md: direct 204 s where forced-prefix exhausted local
    * disk in candidate DISTINCT). The gate still dispatches by
    * volume; this logs when that dispatch lands in the regime the
    * prefix plan was not built for, so an operator sizes the shuffle
    * (or raises maxDirectPairs) instead of debugging a mystery
    * spill. */
  private def warnIfHeadless(dfreq: DataFrame, op: String): Unit = {
    val row = dfreq.agg(max(col("df")).as("m"),
      count(lit(1)).as("types")).head()
    if (!row.isNullAt(0)) {
      val (dfMax, types) = (row.getLong(0), row.getLong(1))
      // BigInt: dfMax^2*100 overflows Long for dfMax >~ 3e8, which is
      // inside the design envelope this heuristic exists for
      if (BigInt(dfMax) * BigInt(dfMax) * 100 < BigInt(types))
        log.warn(s"$op: prefix plan dispatched on a HEADLESS df " +
          s"distribution (max df $dfMax over $types token types) - " +
          "prefix blocking cannot shrink this workload; prefer raising " +
          "maxDirectPairs (direct is one narrow df^2-volume shuffle)")
    }
  }

  /** df + `sh` column: distinct word-n-gram shingles of textCol. Rows
    * with fewer than n tokens get an empty shingle set. */
  def withShingles(df: DataFrame, textCol: String, n: Int = 3): DataFrame =
    // fused codegen'd expression — the interpreted
    // array_distinct(transform(...)) formulation it replaces was the
    // dedup family's dominant cost (see ShinglesExpr)
    df.withColumn("sh", graft.functions.Shingles.shingles(col(textCol), n))

  /** Universal-hash family for minhash: h_i(x) = (a_i·x + b_i) mod p
    * over a 32-bit md5-derived base hash. ONE md5 per shingle instead
    * of k — the md5 is the cost center at scale; the k derived hashes
    * are three integer ops each. No overflow: a_i < 2^30, x < 2^32 ⇒
    * a_i·x + b_i < 2^63.
    *
    * Operating point (see DEDUP_TUNING.md): k=64 hashes banded as
    * b=16 bands × r=4 rows. S-curve threshold (1/b)^(1/r) =
    * (1/16)^(1/4) = 0.5 — matched to the 0.5-jaccard verify filter —
    * with collision prob at background jaccard 0.2 of
    * 1-(1-0.2⁴)^16 ≈ 2.5% (the old 4×2 banding collided at ~15%,
    * which goes quadratic on Zipfian-vocabulary corpora). sim_est
    * granularity is 1/64. */
  val MinhashP: Long = 2147483647L // 2^31 - 1
  val MinhashK: Int = 64
  val LshRows: Int = 4
  val LshBands: Int = MinhashK / LshRows // 16

  /** splitmix64 finalizer — a fixed, public mixing constant set; used
    * only to derive the 64 (a_i, b_i) coefficient literals below, so
    * both the Spark plan and the generated DuckDB oracle SQL embed
    * identical decimal constants. */
  private def mix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** a_i: odd, in [1, 2^30) — nonzero mod p, no 64-bit overflow. */
  val MinhashA: Seq[Long] = (0 until MinhashK).map(i => (mix64(i.toLong) & 0x3FFFFFFFL) | 1L)
  /** b_i: in [0, p). */
  val MinhashB: Seq[Long] = (0 until MinhashK).map(i => (mix64(1000L + i.toLong) & 0x7FFFFFFFL) % MinhashP)
  require(MinhashA.distinct.size == MinhashK && MinhashB.distinct.size == MinhashK,
    "minhash coefficient collision — change the mixer seeds")

  /** df + m0..m{k-1} bigint minhash columns over the `sh` column.
    * The k minima are computed by ONE fused codegen'd expression
    * ([[graft.functions.MinhashSigExpr]]) — k separate interpreted
    * `array_min(transform(...))` lambdas cost k·|sh| boxed evals per
    * row and dominate the dedup family at k=64 — then extracted as
    * columns in a SECOND projection (CollapseProject keeps the two
    * apart because merging would duplicate the non-cheap signature
    * expression k times). Per-element semantics are identical, so the
    * DuckDB oracle (generated from the same A/B/P constants) still
    * hash-matches. */
  /** df + `_sig` (k-element minhash array) computed ONCE per row,
    * WITHOUT the per-hash column extraction. Split from
    * [[minhashColumns]] deliberately: under whole-stage codegen,
    * extracting the k columns in the SAME stage that computes the
    * signature can inline the full shingle→md5→k-hash chain into
    * every extraction — the r19 fill-stage profile measured ~44× the
    * per-row cost (57 CPU-s vs 1.3 for 5000 docs) once an exchange
    * re-shaped the stage. Materialize `_sig` first (cache or
    * shuffle), then extract from the stored array for free. */
  def withMinhashSigArray(df: DataFrame, k: Int = MinhashK): DataFrame =
    df.withColumn("_sig",
      graft.functions.MinhashOps.minhash_signature(
        graft.functions.MinhashOps.md5_head8(col("sh")),
        MinhashA.take(k), MinhashB.take(k), MinhashP))

  /** m0..m(k-1) columns off a MATERIALIZED `_sig` array (see
    * [[withMinhashSigArray]]). */
  def minhashColumns(df: DataFrame, k: Int = MinhashK): DataFrame =
    df.select(col("*") +: (0 until k).map(i =>
      element_at(col("_sig"), i + 1).as(s"m$i")): _*).drop("_sig")

  def withMinhashSignature(df: DataFrame, k: Int = MinhashK): DataFrame = {
    val withBase = df.withColumn("_hs",
      graft.functions.MinhashOps.md5_head8(col("sh")))
    val withSig = withBase.withColumn("_sig",
      graft.functions.MinhashOps.minhash_signature(col("_hs"),
        MinhashA.take(k), MinhashB.take(k), MinhashP))
    val minCols = (0 until k).map(i => element_at(col("_sig"), i + 1).as(s"m$i"))
    withSig.select(col("*") +: minCols: _*).drop("_hs", "_sig")
  }

  /** df + (band_idx, band_key) exploded rows computed straight from
    * the `sh` shingle column by ONE fused expression
    * ([[graft.functions.MinhashBandKeysExpr]]): the k-hash signature
    * and the per-band md5 keys evaluate in a single pass, so no plan
    * shape can re-evaluate the signature chain per band — the r19
    * wide-extract codegen trap that `withLshBands ∘
    * withMinhashSignature` carries whenever an exchange reshapes the
    * stage (measured ~44×/row elsewhere). Drop-in replacement for
    * that composition for consumers that need ONLY the band keys
    * (incremental dedup's corpus index, the streaming LSH
    * maintainers); row-for-row value parity including the degenerate
    * shapes (short/empty/null text ⇒ 16 null-key rows) is pinned by
    * DedupSpec. */
  def withLshBandKeys(df: DataFrame, k: Int = MinhashK,
      rows: Int = LshRows): DataFrame =
    df.select(col("*"),
      posexplode(graft.functions.MinhashOps.minhash_band_keys(
        graft.functions.MinhashOps.md5_head8(col("sh")),
        MinhashA.take(k), MinhashB.take(k), MinhashP, rows))
        .as(Seq("band_idx", "band_key")))

  /** df + (band_idx, band_key) exploded rows: bands of `rows` adjacent
    * minhashes, keyed by md5 of their concatenation. */
  def withLshBands(df: DataFrame, k: Int = MinhashK, rows: Int = LshRows): DataFrame = {
    val nBands = k / rows
    val bandKeys = (0 until nBands).map { b =>
      val ms = (b * rows until (b + 1) * rows).map(i => col(s"m$i").cast("string"))
      struct(lit(b).as("band_idx"), md5(concat(ms: _*)).as("band_key"))
    }
    df.withColumn("band", explode(array(bandKeys: _*)))
      .withColumn("band_idx", col("band.band_idx"))
      .withColumn("band_key", col("band.band_key"))
      .drop("band")
  }

  /** EXACT set-similarity self-join candidates via prefix filtering —
    * the recall-1 alternative to LSH banding (SSJoin/AllPairs prefix
    * principle: Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07).
    * Tokens get a global canonical order (document frequency ASC,
    * token — rarest first, which minimizes candidates); a record with
    * set size n can reach Jaccard ≥ t = tNum/tDen with some partner
    * only through an intersection of ≥ ceil(t·n) tokens, so any
    * qualifying pair must collide inside each other's first
    * n − ceil(t·n) + 1 canonical tokens. Blocking on prefix tokens
    * therefore finds EVERY pair with J ≥ t — no probabilistic recall
    * loss — while pruning the n² pair space by the prefix/df skew.
    *
    * Scale shape: one token-frequency aggregate (shuffle on token),
    * one group-back per doc, then the prefix-token equi-join is the
    * only pair-producing shuffle; the Zipf head is exactly what the
    * rarest-first order keeps OUT of prefixes. Prefix length uses
    * exact integer arithmetic — ceil(t·n) = (tNum·n + tDen − 1) div
    * tDen — so the bound never wobbles through a double.
    *
    * Returns distinct (id_a < id_b) candidate pairs; callers verify
    * with exact intersection/union counts on the full sets. */
  def prefixSimCandidates(sets: DataFrame, idCol: String, setCol: String,
      tNum: Int, tDen: Int): DataFrame = {
    val tok = sets.select(col(idCol), explode(col(setCol)).as("tok"))
    val dfreq = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    prefixCandidatesFromTokens(tok, dfreq, idCol, tNum, tDen)
  }

  /** Prefix-filtered candidate pairs from an exploded (id, tok)
    * relation plus its document-frequency table. See
    * [[prefixSimCandidates]] for the algorithm contract. */
  private def prefixCandidatesFromTokens(tok: DataFrame, dfreq: DataFrame,
      idCol: String, tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "threshold must be in (0,1]")
    // canonical order per doc WITH positions and set size: the prefix
    // rows carry (n, p) so the pair join can apply the PPJoin-style
    // size and positional prunes below — at loose thresholds (t=1/2
    // the prefix is half the set) the bare prefix-collision test
    // passes ~3% of all pairs and the prunes are what keep the
    // verify stage candidate-sized
    val L = s"(size(ts) - ((${tNum}L * size(ts) + ${tDen - 1}L) div ${tDen}L) + 1)"
    val prefix = tok.join(dfreq, "tok")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("st"))
      .select(col(idCol), expr("transform(st, x -> x.tok)").as("ts"))
      .select(col(idCol), size(col("ts")).cast("long").as("n"),
        posexplode(expr(s"slice(ts, 1, $L)")).as(Seq("p0", "tok")))
      .select(col(idCol), col("n"), (col("p0") + 1).cast("long").as("p"), col("tok"))
    val a = prefix.select(col(idCol).as("id_a"), col("n").as("n_a"),
      col("p").as("p_a"), col("tok"))
    val b = prefix.select(col(idCol).as("id_b"), col("n").as("n_b"),
      col("p").as("p_b"), col("tok"))
    a.join(b, Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      // size prune: J ≥ tN/tD forces tD·min(n_a,n_b) ≥ tN·max(n_a,n_b)
      .filter(lit(tDen) * least(col("n_a"), col("n_b")) >=
        lit(tNum) * greatest(col("n_a"), col("n_b")))
      // positional prune: the canonical order is GLOBAL, so common
      // tokens before this collision sit before p in BOTH docs
      // (≤ min(p_a,p_b)−1 of them) and common tokens from it on are
      // ≤ min(n_a−p_a, n_b−p_b)+1 — a valid intersection upper bound
      // at EVERY common token, hence no qualifying pair is lost.
      // J ≥ tN/tD ⇔ (tN+tD)·|∩| ≥ tN·(n_a+n_b), integer-exact.
      .filter(lit(tNum + tDen) *
        (least(col("p_a"), col("p_b")) - 1 +
          least(col("n_a") - col("p_a"), col("n_b") - col("p_b")) + 1) >=
        lit(tNum) * (col("n_a") + col("n_b")))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Measured co-token pair volume Σ_tok df(tok)² over a ("tok",
    * "df") frequency relation — [[exactSimJoin]]'s gate statistic.
    * Decimal accumulator: df ≤ n_docs, so a long Σ df² wraps as soon
    * as one hot token spans ~3e9 docs (df² alone ≈ Long.Max) — the
    * Zipf head the gate exists to detect is exactly what would
    * overflow it. coalesce: sum over zero rows is NULL (empty input
    * ⇒ zero pair volume ⇒ direct path, which returns empty). */
  private[graft] def pairVolume(dfreq: DataFrame): java.math.BigDecimal =
    dfreq
      .agg(coalesce(sum(col("df").cast("decimal(38,0)") * col("df")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")).as("v"))
      .head().getDecimal(0)

  /** Direct-join gate for [[exactSimJoin]]: the co-token pair volume
    * Σ df² the direct plan may shuffle before the prefix-filtered
    * plan takes over. 2²⁹ ≈ 537M NARROW rows (two ids) — one
    * map-side-combined shuffle stage, routine for a cluster and fine
    * on one node (the sf10 sweep measured the direct plan at
    * Σdf² = 329M completing where the prefix plan's verification —
    * candidates × |A| token expansion — spilled past 70 GB of local
    * disk). The gate's design point is the ZIPF HEAD: a few df ≈ n
    * tokens push Σdf² toward n², which no constant survives — there
    * the rarest-first prefix plan wins precisely because prefixes
    * exclude the head. For bounded-df corpora (copy-tagged shingles,
    * near-dup text) Σdf² grows linearly with the corpus and direct
    * stays the cheaper plan as long as the shuffle fits — hence a
    * generous constant, not a timid one. */
  val DirectSimJoinMaxPairs: Long = 1L << 29

  /** EXACT set-similarity self-join (Jaccard ≥ tNum/tDen) over an
    * exploded token relation — returns verified pairs, not just
    * candidates: (id_a, id_b, inter_n, union_n) with id_a < id_b.
    *
    * Adaptive plan, gated on the MEASURED co-token pair volume
    * Σ_tok df(tok)² (one aggregate over the df table, which both
    * plans need anyway):
    *
    *  - '''Direct count''' (volume ≤ maxDirectPairs): self-join the
    *    token relation on tok, count rows per (id_a, id_b) — that
    *    count IS |∩| — then one sizes join derives |∪| = n_a+n_b−|∩|.
    *    No arrays are ever shipped or intersected; intersection
    *    counting rides the partial-aggregate machinery. This is the
    *    whole algorithm when no token is hot.
    *
    *  - '''Prefix-filtered''' (Zipf-headed data): candidates from
    *    [[prefixSimCandidates]]'s rarest-first prefix collision with
    *    PPJoin size/positional prunes — recall 1 by construction —
    *    then the same count-based verify restricted to candidates.
    *    The Zipf head that would explode Σ df² is exactly what the
    *    rarest-first prefix keeps out of the blocking key.
    *
    * Both plans are exact (a J ≥ t pair shares ≥1 token, and prefix
    * filtering loses nothing), so the choice is invisible to results
    * — DedupSpec forces each side of the gate and cross-checks.
    *
    * @param tokens (idCol, "tok") relation, tokens DISTINCT per id.
    *               Cached internally: every stage derives from it, and
    *               the RETURNED lazy plan reads the cache, so it stays
    *               outside any scope (the lazy-result allowance of
    *               [[Rounds]]). */
  def exactSimJoin(tokens: DataFrame, idCol: String, tNum: Int, tDen: Int,
      maxDirectPairs: Long = GateKnobs.simJoinMaxDirectPairs): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "threshold must be in (0,1]")
    val tok = tokens.cache()
    val dfreq = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val directOk = pairVolume(dfreq).compareTo(
      java.math.BigDecimal.valueOf(maxDirectPairs)) <= 0
    TierProbe.record("dedup.exactSimJoin", if (directOk) "direct" else "prefix")
    val inter =
      if (directOk) {
        tok.select(col(idCol).as("id_a"), col("tok"))
          .join(tok.select(col(idCol).as("id_b"), col("tok")), Seq("tok"))
          .filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("inter_n"))
      } else {
        // verify on GROUPED token arrays — one row per candidate pair
        // (size(array_intersect)), not |A| exploded rows per pair: the
        // sf10 sweep measured the exploded form shuffling candidates
        // × |A| rows (~1B, >70 GB local spill); the array form ships
        // the same bytes in |cands| rows, no re-shuffle, no sort, and
        // array_intersect is a single O(|A|+|B|) hash probe per pair
        warnIfHeadless(dfreq, "exactSimJoin")
        val cands = prefixCandidatesFromTokens(tok, dfreq, idCol, tNum, tDen)
        val sets = tok.groupBy(col(idCol))
          .agg(collect_list(col("tok")).as("ts"))
        cands
          .join(sets.select(col(idCol).as("id_a"), col("ts").as("ts_a")), "id_a")
          .join(sets.select(col(idCol).as("id_b"), col("ts").as("ts_b")), "id_b")
          .select(col("id_a"), col("id_b"),
            size(array_intersect(col("ts_a"), col("ts_b")))
              .cast("long").as("inter_n"))
      }
    // sizes join: keyed by id, AQE broadcasts when small; at corpus
    // scale it shuffle-joins on the pair relation's existing keys
    val sz = tok.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    inter
      .join(sz.select(col(idCol).as("id_a"), col("n").as("n_a")), "id_a")
      .join(sz.select(col(idCol).as("id_b"), col("n").as("n_b")), "id_b")
      // J ≥ tN/tD ⇔ (tN+tD)·|∩| ≥ tN·(n_a+n_b), integer-exact
      .filter(lit(tNum + tDen) * col("inter_n") >=
        lit(tNum) * (col("n_a") + col("n_b")))
      .select(col("id_a"), col("id_b"), col("inter_n"),
        (col("n_a") + col("n_b") - col("inter_n")).as("union_n"))
  }

  /** EXACT directional containment self-join: pairs (a, b), a ≠ b,
    * with C(a→b) = |A∩B| / |A| ≥ tNum/tDen — the near-SUPERSET
    * detector symmetric Jaccard misses (a short doc embedded in a
    * long page scores low Jaccard but containment ≈ 1; dedup wants
    * to drop the contained copy and keep the superset).
    *
    * Same adaptive shape as [[exactSimJoin]], gated on the measured
    * Σ df² pair volume:
    *
    *  - '''Direct count''': self-join the token relation on tok with
    *    a ≠ b, count rows per directed pair — that count IS |A∩B| —
    *    then one sizes join divides by |A|. Intersections ride the
    *    partial-aggregate machinery; no arrays shipped.
    *
    *  - '''Prefix-filtered''' (Zipf-headed data): a qualifying pair
    *    shares ≥ ceil(t·|A|) tokens, so A's tokens NOT in B number
    *    ≤ |A| − ceil(t·|A|); at least one of A's first
    *    |A| − ceil(t·|A|) + 1 canonical (rarest-first) tokens is in
    *    B — blocking A-side PREFIX tokens against B's FULL token
    *    relation has recall 1 (containment has no B-side prefix: B
    *    may be arbitrarily larger). Size prune: |∩| ≤ |B| forces
    *    tDen·|B| ≥ tNum·|A|; positional prune: with both sides
    *    position-annotated in the one global canonical order, |∩| ≤
    *    min(p_a, p_b) − 1 + min(n_a−p_a, n_b−p_b) + 1 at every
    *    collision. Verification then counts true intersections on
    *    candidates only.
    *
    * @param tokens (idCol, "tok") relation, tokens DISTINCT per id;
    *               cached here and must outlive the returned lazy
    *               plan (same contract as [[exactSimJoin]]). */
  def containmentJoin(tokens: DataFrame, idCol: String, tNum: Int, tDen: Int,
      maxDirectPairs: Long = GateKnobs.simJoinMaxDirectPairs): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "threshold must be in (0,1]")
    val tok = tokens.cache()
    val dfreq = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val directOk = pairVolume(dfreq).compareTo(
      java.math.BigDecimal.valueOf(maxDirectPairs)) <= 0
    TierProbe.record("dedup.containmentJoin", if (directOk) "direct" else "prefix")
    val inter =
      if (directOk) {
        tok.select(col(idCol).as("id_a"), col("tok"))
          .join(tok.select(col(idCol).as("id_b"), col("tok")), Seq("tok"))
          .filter(col("id_a") =!= col("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("inter_n"))
      } else {
        // grouped-array verify, one row per directed candidate pair —
        // same rationale as the exactSimJoin prefix branch
        warnIfHeadless(dfreq, "containmentJoin")
        val cands = containmentPrefixCandidates(tok, dfreq, idCol, tNum, tDen)
        val sets = tok.groupBy(col(idCol))
          .agg(collect_list(col("tok")).as("ts"))
        cands
          .join(sets.select(col(idCol).as("id_a"), col("ts").as("ts_a")), "id_a")
          .join(sets.select(col(idCol).as("id_b"), col("ts").as("ts_b")), "id_b")
          .select(col("id_a"), col("id_b"),
            size(array_intersect(col("ts_a"), col("ts_b")))
              .cast("long").as("inter_n"))
      }
    val sz = tok.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    inter
      .join(sz.select(col(idCol).as("id_a"), col("n").as("n_a")), "id_a")
      // C ≥ tN/tD ⇔ tD·|∩| ≥ tN·|A|, integer-exact
      .filter(lit(tDen) * col("inter_n") >= lit(tNum) * col("n_a"))
      .select(col("id_a"), col("id_b"), col("inter_n"), col("n_a"))
  }

  /** Directed candidate pairs for [[containmentJoin]]'s prefix path:
    * A-side rarest-first prefix vs B's full position-annotated
    * tokens, with the size and positional prunes derived in the
    * containmentJoin scaladoc. Recall 1 by construction. */
  private def containmentPrefixCandidates(tok: DataFrame, dfreq: DataFrame,
      idCol: String, tNum: Int, tDen: Int): DataFrame = {
    // canonical (df, tok) order per doc, with positions and set size
    val ranked = tok.join(dfreq, "tok")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("st"))
      .select(col(idCol), expr("transform(st, x -> x.tok)").as("ts"))
    val L = s"(size(ts) - ((${tNum}L * size(ts) + ${tDen - 1}L) div ${tDen}L) + 1)"
    def positioned(slice: String) = ranked
      .select(col(idCol), size(col("ts")).cast("long").as("n"),
        posexplode(expr(slice)).as(Seq("p0", "tok")))
      .select(col(idCol), col("n"), (col("p0") + 1).cast("long").as("p"), col("tok"))
    val a = positioned(s"slice(ts, 1, $L)")
      .select(col(idCol).as("id_a"), col("n").as("n_a"), col("p").as("p_a"), col("tok"))
    val b = positioned("ts")
      .select(col(idCol).as("id_b"), col("n").as("n_b"), col("p").as("p_b"), col("tok"))
    a.join(b, Seq("tok"))
      .filter(col("id_a") =!= col("id_b"))
      // size prune: |∩| ≤ |B| and C ≥ t force tD·n_b ≥ tN·n_a
      .filter(lit(tDen) * col("n_b") >= lit(tNum) * col("n_a"))
      // positional prune: common tokens before this collision sit
      // before it in BOTH canonical orders; from it on there are at
      // most min(n_a−p_a, n_b−p_b)+1 — so this bounds |∩| at every
      // common token and no qualifying pair is lost
      .filter(lit(tDen) *
        (least(col("p_a"), col("p_b")) - 1 +
          least(col("n_a") - col("p_a"), col("n_b") - col("p_b")) + 1) >=
        lit(tNum) * col("n_a"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Distinct candidate pairs (id_a < id_b) sharing any LSH band.
    * The join key (band_idx, band_key) is the blocking key — this is
    * the only shuffle in the pipeline. */
  def lshCandidatePairs(banded: DataFrame, idCol: String): DataFrame = {
    val a = banded.select(col(idCol).as("id_a"), col("band_idx"), col("band_key"))
    val b = banded.select(col(idCol).as("id_b"), col("band_idx"), col("band_key"))
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Exact Jaccard over two distinct-element array columns; integer
    * set sizes divided in double — bit-exact across engines. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")
  /** Connected components over verified near-dup pairs → the cluster
    * step a dedup pipeline needs after pair generation: every doc maps
    * to its component's MIN id (the canonical keep-representative;
    * drop rows where node != label to dedup).
    *
    * Two execution paths, chosen by measured edge count:
    *
    * 1. Driver union-find (edges ≤ driverEdgeLimit, Long keys). The
    *    verified-pair graph is a sliver of the corpus — only
    *    near-identical docs pair up — so even a 100 TB corpus usually
    *    yields a few million edges (5M ≈ 80 MB on the driver): one
    *    collect + union-by-min replaces every shuffle round and is
    *    immune to graph diameter.
    *
    * 2. Distributed alternating star contraction (Kiveris et al.,
    *    "Connected Components in MapReduce and Beyond", SoCC'14) for
    *    anything bigger. Each round rewrites the EDGE set: large-star
    *    points every larger neighbor of a node at the neighborhood
    *    minimum, small-star then folds each node's smaller neighbors
    *    onto that minimum. Rewiring topology sidesteps the classic
    *    hash-min pathology where a stale local minimum makes the
    *    true-min wave crawl one hop per round (O(diameter) rounds on
    *    rings and templated-corpus chains); star contraction is
    *    provably O(log² n) rounds and ~5 in practice. Convergence is
    *    detected EXACTLY — the edge set is a disjoint star forest iff
    *    no canonical edge's smaller endpoint appears as a larger
    *    endpoint and every larger endpoint has a single parent; both
    *    phases are then fixpoints. If maxIters rounds pass without
    *    reaching the star forest the method THROWS instead of
    *    returning partial labels: callers hold an oracle-exact
    *    contract and a split component is a wrong answer, not a
    *    degraded one.
    *
    * Each phase is two bounded shuffles on node id (neighborhood-min
    * agg + emit join) over a shrinking edge set. Lineage is truncated
    * per round: `localCheckpoint` by default (fast, executor-local
    * blocks — fine single-node); pass `reliableCheckpointDir` on a
    * real cluster so an executor loss mid-iteration replays from
    * durable storage instead of killing the job. Deterministic: min()
    * is associative/commutative, so both paths produce the identical
    * per-component-min labeling on any engine and partition order. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20, reliableCheckpointDir: Option[String] = None,
      driverEdgeLimit: Long = GateKnobs.ccDriverEdgeLimit): DataFrame =
    connectedComponentsWithMethod(pairs, aCol, bCol, maxIters,
      reliableCheckpointDir, driverEdgeLimit)._1

  /** [[connectedComponents]] plus the dispatched method name
    * ("union-find" | "star-contraction") — package-private so specs
    * and the GraphScale sweep can PIN which path the driver-edge gate
    * chose at a given scale. */
  private[graft] def connectedComponentsWithMethod(pairs: DataFrame,
      aCol: String, bCol: String,
      maxIters: Int = 20, reliableCheckpointDir: Option[String] = None,
      driverEdgeLimit: Long = GateKnobs.ccDriverEdgeLimit): (DataFrame, String) =
    Rounds.scoped { scope =>
    val spark = pairs.sparkSession
    import spark.implicits._
    reliableCheckpointDir.foreach(spark.sparkContext.setCheckpointDir)
    val reliable = reliableCheckpointDir.isDefined
    // materialize the (possibly expensive — LSH + verify) pair
    // pipeline ONCE; nodes, edges, and the final join all read this
    // cache instead of re-running the upstream per consumer
    val p = scope.cache(pairs.select(col(aCol), col(bCol)))
    // canonical undirected edges (lo < hi); self-pairs drop out of the
    // edge set but their nodes are preserved via `nodes` below
    val nodes = p.select(col(aCol).as("node"))
      .unionByName(p.select(col(bCol).as("node"))).distinct()
    var edges = scope.cache(p.select(
        least(col(aCol), col(bCol)).as("lo"),
        greatest(col(aCol), col(bCol)).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct())

    val longKeys = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val (labels: DataFrame, method: String) =
      if (longKeys && edges.count() <= driverEdgeLimit) {
        val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        es.foreach { case (u, v) =>
          val (ru, rv) = (find(u), find(v))
          // union-by-min: the smaller root stays root, so every root
          // is its component's minimum — the same labels the star
          // contraction below produces
          if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
        }
        val nodeIds = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
        (nodeIds.map(n => (n, find(n))).toSeq.toDF("node", "label"),
          "union-find")
      } else {
        // large-star: for each node u with symmetric neighborhood
        // N(u) and m = min(N(u) ∪ {u}), emit (m, v) for every v > u
        def largeStar(e: DataFrame): DataFrame = {
          val sym = e.select(col("lo").as("u"), col("hi").as("v"))
            .unionByName(e.select(col("hi").as("u"), col("lo").as("v")))
          val mins = sym.groupBy("u").agg(min("v").as("mv"))
            .select(col("u"), least(col("u"), col("mv")).as("m"))
          sym.join(mins, "u").filter(col("v") > col("u"))
            .select(col("m").as("lo"), col("v").as("hi")).distinct()
        }
        // small-star: for each node u with smaller neighbors N(u) and
        // m = min(N(u)), emit (m, v) for v ∈ N(u)∖{m} plus (m, u)
        def smallStar(e: DataFrame): DataFrame = {
          val dir = e.select(col("hi").as("u"), col("lo").as("v"))
          val mins = dir.groupBy("u").agg(min("v").as("m"))
          dir.join(mins, "u")
            .select(col("m").as("lo"),
              when(col("v") === col("m"), col("u")).otherwise(col("v")).as("hi"))
            .filter(col("lo") =!= col("hi")).distinct()
        }
        // exact star-forest test: converged iff no lo is also a hi
        // (no chains) and every hi has one parent (no double centers)
        def isStarForest(e: DataFrame): Boolean = {
          val chained = e.join(e.select(col("hi").as("lo")).distinct(),
            Seq("lo"), "left_semi").isEmpty
          lazy val singleParent = e.groupBy("hi")
            .agg(count_distinct(col("lo")).as("n")).filter(col("n") > 1).isEmpty
          chained && singleParent
        }
        var iters = 0
        var converged = isStarForest(edges)
        // each round (round 0 is the cache above) is freed once the
        // next one has landed and been tested
        while (!converged && iters < maxIters) {
          val prev = edges
          edges = scope.persist(
            PlanProbe.recordRound(smallStar(largeStar(edges))), reliable)
          converged = isStarForest(edges)
          scope.release(prev)
          iters += 1
        }
        if (!converged)
          throw new IllegalStateException(
            s"connectedComponents did not converge in $maxIters star-contraction " +
              "rounds: the pair graph is pathologically large or adversarial; " +
              "raise maxIters (rounds needed is O(log² n), ~5 in practice)")
        (edges.select(col("hi").as("node"), col("lo").as("label"))
          .unionByName(edges.select(col("lo").as("node"), col("lo").as("label")))
          .distinct(), "star-contraction")
      }
    // self-paired or otherwise edge-less nodes are their own cluster.
    // Materialize eagerly BEFORE the scope drops the caches — returning
    // the lazy plan would silently re-run the whole pair pipeline when
    // the caller first acts on the result.
    val out = scope.persist(nodes.join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label")),
      reliable)
    TierProbe.record("dedup.cc", method)
    (out, method)
  }


  /** Survivor selection — the last stage of a dedup pipeline: given
    * cluster-labeled rows (`idCol`, `repCol` from
    * [[connectedComponents]], plus a `qualityCol`), keep exactly one
    * row per cluster: highest quality, ties broken by smallest id so
    * the choice is deterministic on any engine and partition order.
    * Adds `cluster_size` so callers can report how many near-dups each
    * survivor displaced.
    *
    * Scale shape: both windows partition on the cluster key, so the
    * cost is one shuffle on `repCol` with per-partition state bounded
    * by the largest cluster. Near-dup clusters are small by
    * construction (they only contain verified near-identical docs), so
    * there is no skew hazard even at 100 TB; a pathological mega-
    * cluster would first have failed the convergence guard above. */
  def survivors(labeled: DataFrame, idCol: String, repCol: String,
      qualityCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSize = Window.partitionBy(col(repCol))
    val wRank = Window.partitionBy(col(repCol))
      .orderBy(col(qualityCol).desc, col(idCol))
    labeled
      .withColumn("cluster_size", count(lit(1)).over(wSize))
      .withColumn("_rn", row_number().over(wRank))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }
}
