package graft.operators

import graft.{Intermediates, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph computation (SURVEY §2 g01) — the operator class the
  * rest of the inventory lacks: a fixed-point loop where iteration N+1's
  * input is iteration N's output. PageRank is the canonical instance (the
  * web-graph quality prior a Common-Crawl-scale curation pipeline ranks
  * domains with — the CCNet/RefinedWeb lineage uses exactly this signal).
  *
  * Graph: the supplier↔customer trade graph from the fact tables
  * (ref analog: the reference's vendor/payment entity groupings, lines
  * 292–330, lifted to entity RELATIONS). Node ids disambiguate the two
  * key spaces arithmetically (supplier s → 2s, customer c → 2c+1); every
  * distinct (supplier, customer) lineitem pairing contributes an edge in
  * BOTH directions, so no node dangles and rank mass cannot leak.
  *
  * Exactness: classic PageRank sums floating-point contributions, whose
  * value depends on summation order — unusable for a cross-engine gate
  * (and irreproducible across cluster re-runs). Here rank lives in
  * integer micro-units (init 1e6 per node) and every step is integer
  * arithmetic with truncating division — contribution = r DIV outdeg,
  * update = 150000 + (850 · Σcontrib) DIV 1000, i.e. damping 0.85 —
  * identical in Spark (`div`) and DuckDB (`//`), so an 8-iteration run
  * is bit-reproducible on any engine, any partitioning, any executor
  * count. The mass truncation loses <1 unit per edge per step on both
  * engines identically; convergence behavior is the textbook one.
  *
  * Scale shape (the Pregel/GraphX layout): the edge list — O(lineitem)
  * after the distinct — is hash-partitioned on src ONCE and persisted;
  * every iteration's join then reuses that partitioning, so the per-
  * iteration cost is ONE shuffle of the rank vector (O(nodes), tiny
  * next to edges) plus the map-side join. 8 iterations = 8 rank
  * shuffles, NOT 8 edge shuffles, and never an edge re-scan. The
  * driver-side loop iterates over PLANS (8 of them), never over data —
  * no collect anywhere. */
object GraphOps {

  private val Iters = 8
  /** LPA rounds: each round is TWO aggregations (vote count + argmax), so
    * 4 rounds already exercises the merge-and-split dynamics mode labels
    * have and min labels don't, at half g02's unrolled-oracle depth. */
  private val LpaIters = 4

  /** Distinct supplier↔customer edges in both directions (node ids:
    * supplier s → 2s, customer c → 2c+1) — the ONCE-PER-SNAPSHOT edge
    * artifact all five trade-graph operators (g01/g02/g04/g05/g07)
    * consume, materialized a single time per (session, dir, fact
    * fingerprints) exactly like the dedup pair graph
    * (Dedup.candidatePairs) and the ANN codebooks: a graph engine
    * derives its edge list from the fact tables once per corpus
    * snapshot, not once per query invocation. Per-QUERY intermediates
    * (each operator's repartitioned derived relation, g07's per-round
    * survivor sets) are freed when the operator returns
    * (graft.Intermediates); the shared snapshot artifact is the one thing
    * that legitimately outlives them. */
  private val edgeCache = new graft.SnapshotCache[(DataFrame, Long)]

  private def undirectedTradeEdgesWithCount(t: Tables): (DataFrame, Long) = {
    edgeCache(t, "edges", "lineitem", "orders") {
      val pairs = t.lineitem.select(col("l_orderkey"), col("l_suppkey"))
        .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") * 2).as("src"),
          (col("o_custkey") * 2 + 1).as("dst"))
        .distinct()
      val ck = pairs
        .unionByName(pairs.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint()
      // count once per snapshot (a cheap scan of the checkpointed
      // blocks): the loop-partition derivation below sizes every
      // iteration's shuffle to this volume
      (ck, ck.count())
    }
  }

  /** The edge artifact homed on `t`'s session: built on whichever
    * session first asked for it, it would otherwise carry that session
    * into a scoped loop's plans. */
  private def undirectedTradeEdges(t: Tables): DataFrame =
    graft.Parts.home(t.spark, undirectedTradeEdgesWithCount(t)._1)

  /** Rows that amortize one task's scheduling overhead at the per-round
    * join+aggregate's per-row cost (narrow long pairs, hash join probe +
    * partial min/sum); ~150K rows/partition is where the r16 paired sweep
    * over the sf0.1 edge relation stopped gaining (OPTIMIZATION_r16.md
    * §C). */
  private val RowsPerLoopPartition = 150000L

  /** Builds a loop operator's plan and materializes it in a session
    * scoped to the edge-volume-derived width, so every per-round shuffle —
    * the edge repartition, the rank, label and frontier exchanges, the
    * per-round aggregates — runs at that width instead of the session's. */
  private def inLoopScope(t: Tables)(
      plan: (Tables, Intermediates.Scope) => DataFrame): DataFrame = {
    val (_, edgeRows) = undirectedTradeEdgesWithCount(t)
    graft.Parts.home(t.spark, graft.Parts.scoped(t,
        graft.Parts.forRows(t.spark, edgeRows, RowsPerLoopPartition)) { c =>
      Intermediates.materialized(plan(c, _))
    })
  }

  def g01(t: Tables): DataFrame = inLoopScope(t)(g01Plan)

  /** The g01 plan, split out so PlanAuditSpec audits the plan that
    * executes under the checkpoint. */
  private[graft] def g01Plan(t: Tables, in: Intermediates.Scope): DataFrame = {
    val undirected = undirectedTradeEdges(t)
    val deg = undirected.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // partition the (src, dst, outdeg) edge relation by src once; every
    // iteration's join reuses it (Exchange reuse on the cached plan)
    val edges = in.keep(undirected.join(deg, "src")
      .repartition(col("src")))
    var ranks = edges.select(col("src").as("node")).distinct()
      .withColumn("r", lit(1000000L))
    for (_ <- 1 to Iters) {
      // SHUFFLE_HASH on the rank vector: SMJ would re-SORT the persisted
      // edge relation every iteration (8 sorts of the O(edges) side);
      // hashing the O(nodes) rank vector per partition costs one build
      // of the small side instead. AQE may still upgrade to broadcast
      // at small SFs — at scale the size check fails and the hint holds.
      ranks = edges.join(ranks.hint("SHUFFLE_HASH"),
          edges("src") === ranks("node"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).as("s"))
        .select(col("dst").as("node"),
          expr("150000 + (850 * s) div 1000").as("r"))
    }
    ranks
      .select(col("node"),
        when(col("node") % 2 === 0, "supplier").otherwise("customer")
          .as("entity"),
        expr("node div 2").as("entity_key"),
        col("r").as("rank_u"))
      .orderBy("node")
  }

  /** g02 — connected components by min-label propagation, the graph twin
    * of d06's duplicate-cluster labeling WITH a SQL oracle: after k
    * rounds every node's label is exactly the minimum node id within k
    * hops — a deterministic integer invariant on BOTH engines whether or
    * not the graph has converged, which is what makes a fixed-iteration
    * gate valid (classic CC needs convergence detection; a production
    * run adds a stop-when-stable check around the same loop, or the
    * large-star/small-star contraction when diameters are large).
    * Labels only ever decrease (min is monotone), components here have
    * small diameter (trade graphs are dense), and the arithmetic is
    * pure int64 min — no rounding surface at all. Same Pregel layout as
    * g01: edges partitioned+persisted once, each round shuffles only the
    * O(nodes) label vector. */
  def g02(t: Tables): DataFrame = inLoopScope(t)(g02Plan)

  private[graft] def g02Plan(t: Tables, in: Intermediates.Scope): DataFrame = {
    val und = undirectedTradeEdges(t)
    // self-loops fold the "keep your own label" term into the one join:
    // label' = min over (neighbors ∪ self) — WITHOUT them the natural
    // spelling unions the previous label vector into each round, which
    // references labels_{k-1} TWICE and doubles the unshared logical
    // plan every iteration (2^Iters blowup — measured 58 s vs 2 s at
    // sf0.01 before this restructure)
    val edges = in.keep(und
      .unionByName(und.select(col("src"), col("src").as("dst")).distinct())
      .repartition(col("src")))
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("l", col("node"))
    for (_ <- 1 to Iters) {
      // SHUFFLE_HASH for the same reason as g01's rank join: never
      // re-sort the persisted edge relation per round
      labels = edges.join(labels.hint("SHUFFLE_HASH"),
          edges("src") === labels("node"))
        .groupBy(col("dst"))
        .agg(min(col("l")).as("l"))
        .select(col("dst").as("node"), col("l"))
    }
    labels
      .select(col("node"),
        when(col("node") % 2 === 0, "supplier").otherwise("customer")
          .as("entity"),
        expr("node div 2").as("entity_key"),
        col("l").as("component"))
      .orderBy("node")
  }

  /** g03 — triangle counting over the part co-order graph (market-basket
    * co-occurrence: two parts adjacent iff some order contains both —
    * the g01/g02 trade graph is bipartite and definitionally
    * triangle-free, so this operator builds the one-mode projection
    * instead). Per-node triangle participation is the local clustering
    * signal (community density / recommendation strength).
    *
    * Scale shape — the two classic blowups and their guards:
    *  1. Edge generation: the per-order self-join emits at most
    *     k·(k−1)/2 pairs per order where k = lines per order (bounded,
    *     ~7; ≤13 here) — O(orders·k²), never O(parts²).
    *  2. Wedge enumeration: counting via raw neighbor pairs is
    *     Σ deg(v)² — quadratic in the hub degree. The degree-ordered
    *     orientation (Cohen's MapReduce algorithm / "forward"
    *     enumeration) orients every edge from its (deg, id)-smaller to
    *     its larger endpoint, capping effective out-degree at O(√m);
    *     wedges become O(m^{3/2}) worst-case and each triangle is
    *     enumerated EXACTLY once (its (deg,id)-minimum vertex owns it),
    *     so no ÷3 correction and no dedup shuffle.
    * The orientation key (deg, id) rides the edges as a struct; Spark
    * struct comparison and DuckDB row-value comparison implement the
    * same lexicographic order. All arithmetic is integer; the oracle
    * counts the same triangles via the naive a<b<c 3-join — a DIFFERENT
    * enumeration converging on the same per-node counts.
    *
    * Measured boundary (single-box, NOT a cluster limit): this synthetic
    * co-order graph is near-regular random (deg ≈ 115 at every SF), so
    * orientation caps out-degree at ~deg/2 and the wedge set is
    * irreducibly ~m·deg/4 — 3.9M wedges at sf0.01, 41M at sf0.1, 410M
    * at sf1 (verified green), ~4.1B at sf10 ≈ 120+ GB of wedge shuffle,
    * which exceeds this box's free disk while being ~125 MB/executor on
    * the 1000-executor target. The d04 pattern: the COST is the
    * published algorithm's (Suri–Vassilvitskii reducer input bound),
    * the boundary is the test host, and the scaling slope is proven on
    * the three SFs that fit. */
  def g03(t: Tables): DataFrame = Intermediates.materialized { in =>
    // No .distinct() on the item pairs: the edge set is distinct'd AFTER
    // pair generation anyway, so a per-(order, part) dedup here is a
    // redundant O(|lineitem|) shuffle — the only thing it could remove
    // is the rare same-part-twice-in-one-order line, which the (a,b)
    // distinct below absorbs identically (verified: same 1,196,000-edge
    // set either way at sf0.1; build time 5.2 s → 3.0 s).
    val items = t.lineitem
      .select(col("l_orderkey"), col("l_partkey"))
    val e = items.as("x").join(items.as("y"), "l_orderkey")
      .where(col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .distinct()
    val deg = e.select(col("a").as("n"))
      .unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val keyed = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"),
        struct(col("da").as("d"), col("a").as("id")).as("ka"),
        struct(col("db").as("d"), col("b").as("id")).as("kb"))
    val oriented = in.keep(keyed.select(
        when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("src"),
        when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("dst"),
        when(col("ka") < col("kb"), col("kb")).otherwise(col("ka")).as("kdst")))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.kdst") < col("e2.kdst"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"),
        col("e2.dst").as("w"))
    // SHUFFLE_HASH, not sort-merge: the closing probe streams the O(m·d)
    // wedge set against a hash table of the O(m) edge set — sorting the
    // wedge stream (SMJ's price) is the single biggest cost in the whole
    // operator, and the build side is the SMALL side by a factor of d/2
    // at every scale. Never broadcast: edges grow with the corpus (a
    // same-session A/B at sf0.1 also measured the broadcast variant no
    // faster and far higher-variance — the 30 MB hashed relation churns
    // the driver). A map-side bloom prefilter on (v,w) was measured too:
    // its build pass costs more than the thinned exchange saves at the
    // SFs where its item cap engages, so the plain exact join stays.
    val tri = wedges
      .join(oriented.select(col("src").as("v"), col("dst").as("w"))
          .hint("SHUFFLE_HASH"),
        Seq("v", "w"))
    // One pass, not three: a union of three projections of `tri` would
    // plan the closing join THREE times (exchange reuse dedups the
    // shuffle writes but each union leg re-reads and re-probes the full
    // wedge stream — measured 3× the close cost at sf0.1). Exploding the
    // triangle's three corners from a single execution keeps the probe
    // single-pass; the per-corner agg is the same O(triangles) shuffle.
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node").as("part_key"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy("part_key")
  }

  /** g04 — community detection by synchronous label propagation (LPA,
    * Raghavan et al. 2007): each round every node adopts the MODE of its
    * neighbors' labels (most-frequent; ties to the smallest label) — a
    * different fixed-point aggregate than g02's min (mode is NOT
    * monotone, so communities can merge AND split across rounds), which
    * is why it finds density-based communities where min-label finds
    * connectivity. Determinism without convergence: both engines run
    * EXACTLY [[LpaIters]] synchronous rounds with identical integer tie
    * semantics — Spark's `min(struct(-count, label))` and the oracle's
    * `row_number() OVER (ORDER BY count DESC, label)` implement the same
    * lexicographic argmax — so the gate is exact whether or not the
    * labeling has stabilized (synchronous LPA on bipartite graphs can
    * oscillate; the self-loop damps it, and a production run wraps the
    * same loop in a stop-when-stable check, exactly as g02 documents).
    * Scale shape (round-9 rewrite): per round ONE O(edges) shuffle — an
    * explicit repartition of the joined votes on dst — after which BOTH
    * aggregates ride the same clustering exchange-free (hashpartitioning
    * (dst) satisfies the (dst, label) vote count AND the dst argmax),
    * and the emitted labels land partitioned by node for the next
    * round's SHUFFLE_HASH join against the src-partitioned edges. The
    * previous shape exchanged twice per round ((dst,l) partials, then
    * dst); collapsing to one exchange measured 100.8 → 82.4 s at sf10
    * (min-of-2 same-session pairs; sf0.1 parity) with the identical
    * 794-community output. The partition count is PINNED (not AQE-
    * coalesced): letting AQE shrink the converged-round exchange starves
    * the next join's per-task hash-relation build. Edges partitioned +
    * persisted once, never re-scanned. Output is the bounded community
    * histogram (size + member-id checksum), never asserted on raw
    * per-node rows. */
  def g04(t: Tables): DataFrame = inLoopScope(t)(g04Plan)

  private def g04Plan(t: Tables, in: Intermediates.Scope): DataFrame = {
    val und = undirectedTradeEdges(t)
    // self-loop = "my own label votes once", folded into the single join
    // (the g02 restructure: referencing labels twice per round doubles
    // the unshared plan every iteration)
    val edges = in.keep(und
      .unionByName(und.select(col("src"), col("src").as("dst")).distinct())
      .repartition(col("src")))
    // Round 1 computed EXACTLY as a plain MIN (round-7 verdict task 6):
    // with identity labels (label(src) = src) every vote over a DISTINCT
    // (src, dst) edge set has count 1, so the (count desc, label asc)
    // mode argmax degenerates to min over (neighbors ∪ self) — no join
    // (labels ≡ src) and a map-side-combinable single aggregate, where
    // the full vote pipeline's round 1 is its WORST round at scale:
    // near-distinct labels mean O(edges) (dst, label) vote groups that
    // map-side combining cannot shrink (the measured sf10 15.7× step's
    // dominant term). OperatorsSpec's driver-side expectation runs mode
    // voting from round 1, pinning the equality; the DuckDB oracle
    // (mode from round 1) gates it independently.
    var labels = edges.groupBy(col("dst"))
      .agg(min(col("src")).as("l"))
      .select(col("dst").as("node"), col("l"))
    // explicit count pins the exchange against AQE coalescing (see the
    // scale-shape note above); tracks the session's configured
    // parallelism instead of a literal so a cluster deployment keeps its
    // own width
    val voteParts = t.spark.conf.get("spark.sql.shuffle.partitions").toInt
    for (_ <- 2 to LpaIters) {
      labels = g04VoteRound(edges, labels, voteParts)
    }
    labels.groupBy(col("l").as("community"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("node")).as("members_sum"))
      .orderBy("community")
  }

  /** One synchronous LPA vote round — the single-exchange shape
    * PlanAuditSpec pins in isolation: given edges partitioned by src and
    * labels by node, the round's ONLY new exchange is the pinned dst
    * repartition; the (dst,l) vote count, the dst argmax, and the NEXT
    * round's shuffle-hash join all ride its clustering. */
  private[graft] def g04VoteRound(edges: DataFrame, labels: DataFrame,
      voteParts: Int): DataFrame =
    edges.join(labels.hint("SHUFFLE_HASH"),
        edges("src") === labels("node"))
      .repartition(voteParts, col("dst"))
      .groupBy(col("dst"), col("l"))
      .agg(count(lit(1)).as("c"))
      // argmax by (count desc, label asc) as a lexicographic struct min
      .groupBy(col("dst"))
      .agg(min(struct((-col("c")).as("nc"), col("l").as("lbl"))).as("m"))
      .select(col("dst").as("node"), col("m.lbl").as("l"))

  /** g05 — multi-source BFS hop distance (min-plus propagation): every
    * node's distance to the nearest seed (suppliers 1..5) after
    * [[Iters]] synchronous rounds — the reachability/diameter primitive
    * (influence radius, contamination blast-radius, "how far is every
    * vendor from a flagged one").
    *
    * The min-plus trick that keeps the plan linear: a "keep your own
    * distance" term normally references the previous frontier TWICE per
    * round (min(old, via-neighbors)) — the g02-documented 2^k plan
    * blowup. WEIGHTED self-loops fold it into the one join: edges carry
    * w=1, self-loops w=0, and dist'(v) = min over (neighbors ∪ self) of
    * (dist(u) + w) — one join, one aggregate, per round. Unreached
    * nodes are ABSENT (relational +∞), appearing the round they're
    * first reached; after k rounds the relation holds exactly the ≤k-hop
    * ball, and every distance is final the round it appears (min is
    * monotone, weights are 1). Same Pregel layout: edges partitioned +
    * persisted once, each round shuffles only the O(reached) frontier.
    * Output is the bounded per-distance histogram (count + id checksum).
    * Oracle: the identical unrolled min-plus in DuckDB. */
  def g05(t: Tables): DataFrame = inLoopScope(t)(g05Plan)

  private def g05Plan(t: Tables, in: Intermediates.Scope): DataFrame = {
    val und = undirectedTradeEdges(t)
    val edges = in.keep(und.withColumn("w", lit(1L))
      .unionByName(und.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst"), lit(0L).as("w")))
      .repartition(col("src")))
    // seeds: suppliers 1..5 (node ids 2..10 even) at distance 0
    var dist = edges.select(col("src").as("node")).distinct()
      .filter(col("node") % 2 === 0 && col("node") <= 10)
      .withColumn("d", lit(0L))
    for (_ <- 1 to Iters) {
      dist = edges.join(dist.hint("SHUFFLE_HASH"),
          edges("src") === dist("node"))
        .groupBy(col("dst"))
        .agg(min(col("d") + col("w")).as("d"))
        .select(col("dst").as("node"), col("d"))
    }
    dist.groupBy(col("d").as("hops"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("nodes_sum"))
      .orderBy("hops")
  }

  /** g06 — common-neighbor link prediction over the supplier
    * co-customer projection: two suppliers sharing many customers are
    * likely future partners (the classic CN/Jaccard link-prediction
    * baseline, Liben-Nowell & Kleinberg) — the graph-ML feature a
    * recommender trains on. Output is the top-20 predicted pairs by
    * (common desc, ids) plus exact Jaccard in half-up basis points —
    * TakeOrderedAndProject keeps the global top-k heap-merged, never a
    * full sort.
    *
    * Scale shape: candidate pairs come from per-customer supplier
    * wedges — Σ_c deg(c)² rows, the g03 wedge class with the same
    * bound discipline: deg(c) = distinct suppliers per customer is
    * order-bounded (≈ orders·lines/orders per customer), and at true
    * hub scale the production mitigation is the same degree-ordered
    * orientation g03 uses (or per-hub sampling); the pair aggregation
    * itself is ONE shuffle on (a, b). Degrees join back broadcast
    * (O(suppliers) rows). Oracle recomputes the projection naively. */
  def g06(t: Tables): DataFrame = Intermediates.materialized { in =>
    // kept: sc feeds the degree aggregate AND both legs of the
    // per-customer wedge self-join — uncached, the distinct's final
    // aggregate re-runs per consumer after the reused exchange (the
    // g03/d12 re-execution class; unlike t07/s11, the A/B kept this one
    // — three consumers over O(distinct (s,c)) rows clear the
    // cache-write break-even)
    val sc = in.keep(t.lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("s"), col("o_custkey").as("c"))
      .distinct())
    val deg = sc.groupBy("s").agg(count(lit(1)).as("d"))
    val common = sc.as("x").join(sc.as("y"), "c")
      .where(col("x.s") < col("y.s"))
      .groupBy(col("x.s").as("a"), col("y.s").as("b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(broadcast(deg.select(col("s").as("a"), col("d").as("da"))), "a")
      .join(broadcast(deg.select(col("s").as("b"), col("d").as("db"))), "b")
      .withColumn("jaccard_bp", expr(
        "(20000 * common + (da + db - common)) div (2 * (da + db - common))"))
      .select(col("a"), col("b"), col("common"), col("da"), col("db"),
        col("jaccard_bp"))
      .orderBy(col("common").desc, col("a"), col("b"))
      .limit(20)
  }

  private val KcoreK = 30
  private val KcoreRounds = 4

  /** g07 — k-core peeling (graph degeneracy): iteratively remove nodes
    * with degree < k in the SURVIVING subgraph — the densest-region
    * extraction behind spam-ring mining and community cores (the k-core
    * is where coordinated behavior concentrates; peeling cascades,
    * which is the whole point — removing a fringe node can doom its
    * neighbor). Fixed [[KcoreRounds]] synchronous rounds on both
    * engines, so the gate is exact whether or not the peel has
    * converged (the g02/g04 fixed-round discipline).
    *
    * Plan management — the THIRD fixed-point idiom in this file: each
    * round references the survivor set TWICE (once per edge endpoint),
    * which is exactly the 2^k logical-plan doubling g02's self-loops
    * exist to avoid — but peeling has no self-loop trick (aliveness is
    * a property of BOTH endpoints). Instead each round's survivor set
    * is PERSISTED, so the next round's two references are two scans of
    * one cached O(nodes) relation and plan depth stays constant per
    * round. Per-round cost: one O(edges) semi-join pass + an O(nodes)
    * degree aggregate. */
  def g07(t: Tables): DataFrame = inLoopScope(t)(g07Plan)

  private def g07Plan(t: Tables, in: Intermediates.Scope): DataFrame = {
    val edges = in.keep(undirectedTradeEdges(t).repartition(col("src")))
    // every round's survivor set is kept until the final rollup
    // materializes: in-flight accumulation is rounds × O(nodes)
    var nodes = in.keep(edges.select(col("src").as("node")).distinct())
    for (_ <- 1 to KcoreRounds) {
      nodes = in.keep(edges
        .join(nodes.hint("SHUFFLE_HASH"), edges("src") === nodes("node"))
        .drop("node")
        .join(nodes.withColumnRenamed("node", "dst_alive")
            .hint("SHUFFLE_HASH"),
          col("dst") === col("dst_alive"))
        .groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d"))
        .filter(col("d") >= KcoreK)
        .select("node"))
    }
    nodes
      .select(when(col("node") % 2 === 0, "supplier").otherwise("customer")
        .as("entity"), col("node"))
      .groupBy("entity")
      .agg(count(lit(1)).as("n_core_nodes"), sum(col("node")).as("nodes_sum"))
      .orderBy("entity")
  }

  val queries: Map[String, Tables => DataFrame] = Map(
    "g07_kcore" -> g07,
    "g06_link_prediction" -> g06,
    "g01_pagerank" -> g01,
    "g02_connected_components" -> g02,
    "g03_triangle_count" -> g03,
    "g04_label_propagation" -> g04,
    "g05_bfs_hops" -> g05)

  /** 8 unrolled iteration CTEs — DuckDB's recursive CTE restricts
    * aggregation over the recursive relation, and a fixed unroll is the
    * exact twin of the Spark loop anyway. Every level is MATERIALIZED:
    * DuckDB inlines single-reference CTEs by default, turning the
    * unroll into one N-deep join pipeline whose intermediate state
    * spilled past this box's disk at sf10 (the round-5 documented
    * boundary, closed by round-5 verdict task 7) — materialization
    * executes round by round with ONE O(nodes) relation live at a
    * time, exactly like the per-round temp tables the verdict
    * prescribed, while keeping the driver's single-statement oracle. */
  val oracles: Map[String, String] = {
    def step(prev: String, cur: String) =
      s"""$cur AS MATERIALIZED (SELECT e.dst AS node,
         |  CAST(150000 + (850 * sum(r.r // e.outdeg)) // 1000 AS BIGINT)
         |    AS r
         |  FROM edges e JOIN $prev r ON e.src = r.node GROUP BY e.dst)"""
        .stripMargin
    def ccStep(prev: String, cur: String) =
      s"""$cur AS MATERIALIZED (SELECT e.dst AS node, min(r.l) AS l
         |  FROM edges_cc e JOIN $prev r ON e.src = r.node
         |  GROUP BY e.dst)""".stripMargin
    def lpaStep(prev: String, cur: String) =
      s"""$cur AS MATERIALIZED (SELECT dst AS node, l FROM (
         |  SELECT e.dst, r.l, count(*) AS c,
         |    row_number() OVER (PARTITION BY e.dst
         |      ORDER BY count(*) DESC, r.l) AS rn
         |  FROM edges_cc e JOIN $prev r ON e.src = r.node
         |  GROUP BY e.dst, r.l) WHERE rn = 1)""".stripMargin
    val ccSteps = (1 to Iters)
      .map(i => ccStep(s"l${i - 1}", s"l$i")).mkString(",\n")
    val lpaSteps = (1 to LpaIters)
      .map(i => lpaStep(s"l${i - 1}", s"l$i")).mkString(",\n")
    def bfsStep(prev: String, cur: String) =
      s"""$cur AS MATERIALIZED (SELECT e.dst AS node, min(r.d + e.w) AS d
         |  FROM edges_w e JOIN $prev r ON e.src = r.node
         |  GROUP BY e.dst)""".stripMargin
    val bfsSteps = (1 to Iters)
      .map(i => bfsStep(s"d${i - 1}", s"d$i")).mkString(",\n")
    def coreStep(prev: String, cur: String) =
      s"""$cur AS MATERIALIZED (SELECT e.src AS node
         |  FROM edges e JOIN $prev a ON e.src = a.node
         |  JOIN $prev b ON e.dst = b.node
         |  GROUP BY e.src HAVING count(*) >= $KcoreK)""".stripMargin
    val coreSteps = (1 to KcoreRounds)
      .map(i => coreStep(s"n${i - 1}", s"n$i")).mkString(",\n")
    val steps = (1 to Iters)
      .map(i => step(s"r${i - 1}", s"r$i")).mkString(",\n")
    Map(
      // naive a<b<c triangle enumeration — a different algorithm than the
      // Spark side's degree-ordered orientation, converging on the same
      // per-node counts (each triangle touches its three vertices once)
      "g03_triangle_count" ->
        """WITH items AS (
          |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
          |e AS (
          |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
          |  FROM items x JOIN items y USING (l_orderkey)
          |  WHERE x.l_partkey < y.l_partkey),
          |tri AS (
          |  SELECT e1.a, e1.b, e2.b AS c
          |  FROM e e1
          |  JOIN e e2 ON e1.b = e2.a
          |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
          |n AS (
          |  SELECT a AS node FROM tri
          |  UNION ALL SELECT b FROM tri
          |  UNION ALL SELECT c FROM tri)
          |SELECT node AS part_key, count(*) AS n_triangles
          |FROM n GROUP BY node ORDER BY part_key""".stripMargin,
      // identical unrolled peel rounds over the undirected edge set
      "g07_kcore" ->
        s"""WITH pairs AS MATERIALIZED (
           |  SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |edges AS MATERIALIZED (
           |  SELECT src, dst FROM pairs
           |  UNION ALL SELECT dst AS src, src AS dst FROM pairs),
           |n0 AS (SELECT DISTINCT src AS node FROM edges),
           |$coreSteps
           |SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer'
           |    END AS entity,
           |  count(*) AS n_core_nodes,
           |  CAST(sum(node) AS BIGINT) AS nodes_sum
           |FROM n$KcoreRounds GROUP BY 1 ORDER BY entity""".stripMargin,
      "g06_link_prediction" ->
        """WITH sc AS (
          |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          |deg AS (SELECT s, count(*) AS d FROM sc GROUP BY s),
          |cn AS (
          |  SELECT x.s AS a, y.s AS b, count(*) AS common
          |  FROM sc x JOIN sc y ON x.c = y.c AND x.s < y.s
          |  GROUP BY 1, 2)
          |SELECT a, b, common,
          |  da.d AS da, db.d AS db,
          |  CAST((20000 * common + (da.d + db.d - common))
          |    // (2 * (da.d + db.d - common)) AS BIGINT) AS jaccard_bp
          |FROM cn
          |JOIN deg da ON cn.a = da.s
          |JOIN deg db ON cn.b = db.s
          |ORDER BY common DESC, a, b LIMIT 20""".stripMargin,
      // identical unrolled min-plus rounds over the weighted edge set
      "g05_bfs_hops" ->
        s"""WITH pairs AS MATERIALIZED (
           |  SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |edges AS MATERIALIZED (
           |  SELECT src, dst FROM pairs
           |  UNION ALL SELECT dst AS src, src AS dst FROM pairs),
           |edges_w AS MATERIALIZED (
           |  SELECT src, dst, 1 AS w FROM edges
           |  UNION ALL SELECT DISTINCT src, src AS dst, 0 AS w FROM edges),
           |d0 AS (SELECT DISTINCT src AS node, 0 AS d FROM edges
           |       WHERE src % 2 = 0 AND src <= 10),
           |$bfsSteps
           |SELECT CAST(d AS BIGINT) AS hops, count(*) AS n_nodes,
           |  CAST(sum(node) AS BIGINT) AS nodes_sum
           |FROM d$Iters GROUP BY d ORDER BY hops""".stripMargin,
      // same synchronous rounds, the argmax spelled as a window rank —
      // identical (count desc, label asc) tie order
      "g04_label_propagation" ->
        s"""WITH pairs AS MATERIALIZED (
           |  SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |edges AS MATERIALIZED (
           |  SELECT src, dst FROM pairs
           |  UNION ALL SELECT dst AS src, src AS dst FROM pairs),
           |edges_cc AS MATERIALIZED (
           |  SELECT src, dst FROM edges
           |  UNION ALL SELECT DISTINCT src, src AS dst FROM edges),
           |l0 AS (SELECT DISTINCT src AS node, src AS l FROM edges),
           |$lpaSteps
           |SELECT l AS community, count(*) AS n_members,
           |  CAST(sum(node) AS BIGINT) AS members_sum
           |FROM l$LpaIters GROUP BY l ORDER BY community""".stripMargin,
      "g02_connected_components" ->
        s"""WITH pairs AS MATERIALIZED (
           |  SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |edges AS MATERIALIZED (
           |  SELECT src, dst FROM pairs
           |  UNION ALL SELECT dst AS src, src AS dst FROM pairs),
           |edges_cc AS MATERIALIZED (
           |  SELECT src, dst FROM edges
           |  UNION ALL SELECT DISTINCT src, src AS dst FROM edges),
           |l0 AS (SELECT DISTINCT src AS node, src AS l FROM edges),
           |$ccSteps
           |SELECT node,
           |  CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END
           |    AS entity,
           |  CAST(node // 2 AS BIGINT) AS entity_key,
           |  l AS component
           |FROM l$Iters ORDER BY node""".stripMargin,
      "g01_pagerank" ->
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |undirected AS (
         |  SELECT src, dst FROM pairs
         |  UNION ALL SELECT dst AS src, src AS dst FROM pairs),
         |deg AS (SELECT src, count(*) AS outdeg
         |        FROM undirected GROUP BY src),
         |edges AS MATERIALIZED (SELECT u.src, u.dst, deg.outdeg
         |          FROM undirected u JOIN deg USING (src)),
         |r0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS r
         |       FROM undirected),
         |$steps
         |SELECT node,
         |  CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END
         |    AS entity,
         |  CAST(node // 2 AS BIGINT) AS entity_key,
         |  r AS rank_u
         |FROM r$Iters ORDER BY node""".stripMargin)
  }
}
