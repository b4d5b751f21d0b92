package graft.similarity

import graft.Tables
import graft.functions.exprs.{dot_d, rh_bucket}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (SURVEY §2 s01/s02).
  *
  * s01 is the exact brute-force baseline: the (small) query set is
  * broadcast, similarities are a map-only pass over the corpus, and the
  * rank filter compiles to Spark's two-phase WindowGroupLimit, which keeps
  * a k-heap per map partition before the shuffle — at 100 TB each query's
  * final ranking task receives ≤ k·numPartitions pre-limited rows, not the
  * corpus.
  *
  * s02 is the scale path: an 8-plane random-hyperplane LSH bucket
  * (codegen'd custom expression) on both sides turns the cross join into
  * an equi-join on bucket; exact cosine re-ranks within buckets.
  */
object Similarity {

  private val TopK = 5
  private val NQueries = 10
  private val Planes = 8
  private val Seed = 7L
  /** Synthetic embedding width — the oracle VALUES tables inline one
    * weight per (plane, dim), so the SQL twin pins it; the kernels are
    * dims-agnostic. */
  private val Dims = 64
  /** s16's probe-budget sweep points (shared with its oracle). */
  private val ProbeBudgets = Seq(1, 3, 5, 9)
  private val MatryoshkaPrefix = 16
  private val MatryoshkaShortlist = 50

  /** vec as array<double> + precomputed L2 norm (one map-only pass).
    * Zero-norm vectors are excluded up front: cosine against them is
    * 0/0 = NaN, and Spark orders NaN LARGEST, so a single zero vector
    * would otherwise rank as the top neighbor of every query. */
  private def prepped(t: Tables): DataFrame =
    t.embeddingsWide.select(
      col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("vec"))
      .withColumn("norm", sqrt(dot_d(col("vec"), col("vec"))))
      .filter(col("norm") > 0)

  /** Fused single-loop dot product (custom codegen'd expression) — the
    * HOF spelling aggregate(zip_with(...)) allocates the zipped array and
    * runs the lambda interpreted, per comparison. */
  private def dot(a: String, b: String) = dot_d(col(a), col(b))

  /** s01 — exact cosine top-k. The rank-filter pattern compiles to Spark's
    * two-phase WindowGroupLimit (per-map-partition k-heap BEFORE the
    * exchange, final heap after), so only ≤k rows per input partition per
    * query are shuffled — no manual partial ranking needed (verified via
    * explain: WindowGroupLimit → Exchange → WindowGroupLimit → Window). */
  def s01(t: Tables): DataFrame = {
    val corpus = prepped(t)
    val queries = corpus.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"), col("norm").as("q_norm"))
    val sims = corpus.crossJoin(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        round(dot("vec", "q_vec") / (col("norm") * col("q_norm")), 4).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    sims
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= TopK)
      .orderBy("q_id", "rn")
  }

  /** s02 — LSH-bucketed approximate NN: equi-join on rh_bucket, exact
    * cosine re-rank within bucket. Single-probe; multi-probe (flip one
    * plane bit) is the recall knob at scale. Full SQL oracle since
    * round 8: the hyperplane weights are inlined as VALUES data and the
    * bucket signs reproduce bit-exactly (see [[bucketCteSql]]). */
  def s02(t: Tables): DataFrame = {
    val corpus = prepped(t)
      .withColumn("bucket", rh_bucket(col("vec"), Planes, Seed))
    val queries = corpus.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        col("norm").as("q_norm"), col("bucket"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    corpus.join(queries, Seq("bucket"))
      .select(col("q_id"), col("vec_id"),
        round(dot("vec", "q_vec") / (col("norm") * col("q_norm")), 4).as("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= TopK)
      .orderBy("q_id", "rn")
  }

  /** s03 — IVF-style ANN: a coarse quantizer of C sampled centroids
    * (deterministic sample in lieu of trained k-means); every vector is
    * assigned to its nearest centroid in one broadcast pass (inverted
    * lists), queries probe their NProbe nearest lists. At 100 TB the
    * inverted lists are the partition layout — each probe touches
    * NProbe/C of the corpus. */
  /** Coarse-quantizer codebooks, cached per sf-dir: building an IVF query
    * plan must not re-run the centroid Spark jobs on every plan
    * construction (bench/verify loops build each plan repeatedly) — how
    * any IVF index treats its codebook (built once per index, not per
    * query). The key includes the embeddings file fingerprint
    * (name/size/mtime), so a regenerated directory can never be served a
    * codebook trained on deleted data. Entries are a few KB each (C=16
    * centroid vectors). */
  private val codebookCache =
    new graft.SnapshotCache[Array[(Int, Array[Double], Double)]]

  /** Cached prepped-corpus row count (same fingerprint keying as the
    * codebook): cluster/sub-band knob sizing must see the CLUSTERED
    * population — zero-norm vectors are filtered out of the corpus — and
    * callers must not pay a fresh count job per plan construction. */
  private val countCache = new graft.SnapshotCache[Long]
  private[graft] def preppedCount(t: Tables): Long =
    countCache(t, "count", "embeddings")(prepped(t).count())

  /** Argmax-centroid assignment: a MAP-ONLY pass per row against the
    * codebook — no shuffle of the corpus, no groupBy (a crossJoin+max_by
    * formulation would shuffle every (vec, norm) just to pick the
    * nearest centroid). The codebook rides the `nearest_centroid`
    * expression as a referenced object the generated code LOOPS over; an
    * unrolled per-centroid expression tree breaks the 64 KB codegen
    * method limit past ~100 centroids and drops to interpreted eval
    * (same arithmetic and tie-break semantics, pinned by the fixture
    * specs). */
  private def bestCentroid(cb: Array[(Int, Array[Double], Double)],
                           vecCol: String, normCol: String) =
    graft.functions.exprs.nearest_centroid(col(vecCol), col(normCol), cb)

  /** Builds the C-centroid coarse quantizer: a deterministic sample seeds
    * the codebook, then `lloydIters` rounds of spherical k-means refine it
    * — each round is one map-only assignment pass + one groupBy(cent_id)
    * elementwise mean (C groups, so the shuffle is C rows of partials) +
    * a C-row collect. Centroid labels stay stable across rounds; a
    * cluster that empties (or collapses to zero norm) drops out. Trained
    * centroids cover the corpus's actual density, which is what probe
    * recall depends on at production scale. */
  private def buildCodebook(t: Tables, corpus: DataFrame, c: Int,
                            lloydIters: Int): Array[(Int, Array[Double], Double)] = {
    var cb: Array[(Int, Array[Double], Double)] = corpus
      .filter(col("vec_id") % 37 === 0 && col("vec_id") < 37 * c)
      .select(col("vec_id"), col("vec"), col("norm"))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray, r.getDouble(2)))
      // sort by id: nearest_centroid's last-wins tie-break equals
      // lexicographic (cos, id) max ONLY over an id-ascending codebook,
      // and a multi-file table's collect() order is not guaranteed
      .sortBy(_._1)
    require(cb.nonEmpty,
      s"s03: empty IVF codebook — no centroid rows matched in ${t.dir}/embeddings")
    val dim = cb(0)._2.length
    for (_ <- 1 to lloydIters) {
      val means = corpus
        .withColumn("cent_id", bestCentroid(cb, "vec", "norm"))
        .groupBy("cent_id")
        .agg(avg(col("vec")(0)).as("m0"),
          (1 until dim).map(i => avg(col("vec")(i)).as(s"m$i")): _*)
        .collect()
      cb = means.map { r =>
        val v = Array.tabulate(dim)(i => r.getDouble(i + 1))
        (r.getInt(0), v, math.sqrt(v.map(x => x * x).sum))
      }.filter(_._3 > 0).sortBy(_._1)
    }
    cb
  }

  private val LloydIters = 3

  /** Trained-cluster assignment of the whole corpus — the shared front
    * half of IVF (s03) and SemDeDup-style semantic dedup (Dedup.d10):
    * (vec_id, vec, norm, cent_id) with cent_id from a `c`-centroid
    * trained codebook. Map-only over the corpus; the codebook rides the
    * same fingerprint-keyed cache as s03 (namespaced by c so different
    * cluster counts never collide). */
  private[graft] def assignedClusters(t: Tables, c: Int): DataFrame = {
    val corpus = prepped(t)
    val cents = codebookCache(t, s"c$c:l$LloydIters", "embeddings")(
      buildCodebook(t, corpus, c, LloydIters))
    corpus.withColumn("cent_id",
      bestCentroid(cents, "vec", "norm"))
  }

  def s03(t: Tables): DataFrame = s03With(t, LloydIters)

  /** lloydIters=0 reproduces the pure sampled codebook — kept reachable so
    * the fixture spec can pin the sampled path exactly and assert trained
    * recall ≥ sampled recall. */
  private[graft] def s03With(t: Tables, lloydIters: Int): DataFrame = {
    val C = 16
    val NProbe = 4
    val corpus = prepped(t)
    // The coarse-quantizer codebook is C=16 centroid vectors — collected
    // to the driver and inlined as literals (how every IVF index holds
    // its codebook).
    val cents: Array[(Int, Array[Double], Double)] =
      // SAME tag as assignedClusters, so s03 and d10 share the
      // C=16 codebook on a small corpus instead of training it twice
      codebookCache(t, s"c$C:l$lloydIters", "embeddings")(
        buildCodebook(t, corpus, C, lloydIters))
    def bestCent(vecCol: String, normCol: String) =
      bestCentroid(cents, vecCol, normCol)
    val assigned = corpus
      .withColumn("cent_id", bestCent("vec", "norm"))
    // query probes: NProbe nearest centroids per query, ranked from the
    // same inlined codebook (queries are tiny; explode + rank is fine)
    val probeW = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cent_id"))
    val probes = corpus.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"), col("norm").as("q_norm"))
      .withColumn("c", explode(array(cents.map { case (id, cvec, cnorm) =>
        struct(
          (dot_d(col("q_vec"), typedlit(cvec)) / (col("q_norm") * lit(cnorm)))
            .as("ccos"),
          lit(id).as("cent_id"))
      }: _*)))
      .select(col("q_id"), col("q_vec"), col("q_norm"),
        col("c.ccos").as("ccos"), col("c.cent_id").as("cent_id"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= NProbe)
      .select(col("q_id"), col("q_vec"), col("q_norm"), col("cent_id"))
    // search only the probed inverted lists
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    probes.join(assigned, Seq("cent_id"))
      .select(col("q_id"), col("vec_id"),
        round(dot_d(col("vec"), col("q_vec")) / (col("norm") * col("q_norm")), 4)
          .as("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= TopK)
      .orderBy("q_id", "rn")
  }

  /** s04 — multi-probe LSH ANN: each query additionally probes the
    * `Planes` buckets at hamming distance 1 from its own (one plane bit
    * flipped) — the standard recall knob that trades probe fan-out for
    * hash tables. Probe expansion happens on the (tiny) query side only;
    * the corpus is still bucketed once. Candidates dedup on (q, vec).
    * SQL-oracled since round 8 (the s02 VALUES-table recipe plus the
    * same deterministic flip set). */
  def s04(t: Tables): DataFrame = {
    val corpus = prepped(t)
      .withColumn("bucket", rh_bucket(col("vec"), Planes, Seed))
    val probes = corpus.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        col("norm").as("q_norm"), col("bucket"))
      .withColumn("bucket",
        explode(array((-1 until Planes).map {
          case -1 => col("bucket")
          case i  => col("bucket").bitwiseXOR(lit(1 << i))
        }: _*)))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    corpus.join(probes, Seq("bucket"))
      .select(col("q_id"), col("vec_id"),
        round(dot("vec", "q_vec") / (col("norm") * col("q_norm")), 4).as("sim"))
      .distinct()
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= TopK)
      .orderBy("q_id", "rn")
  }

  /** s05 — per-dimension embedding audit: mean / stddev / min / max /
    * count for every embedding dimension — the collapse-and-anisotropy
    * check an embedding pipeline runs before trusting cosine distances
    * (a dimension with ~zero variance or a runaway mean distorts every
    * similarity). posexplode is map-side; the shuffle carries dim-keyed
    * partial moments (rows ∝ dims × partitions, never corpus size). */
  def s05(t: Tables): DataFrame =
    t.embeddings
      .select(posexplode(expr("transform(embedding, x -> cast(x as double))"))
        .as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(round(avg(col("x")), 4).as("mean_x"),
        round(stddev(col("x")), 4).as("sd_x"),
        round(min(col("x")), 4).as("min_x"),
        round(max(col("x")), 4).as("max_x"),
        count(lit(1)).as("n"))
      .select(col("dim").cast("long").as("dim"), col("mean_x"), col("sd_x"),
        col("min_x"), col("max_x"), col("n"))
      .orderBy("dim")

  /** Per-(dir, M, Ks) PQ codebooks: Array(M)(k)(subDim) — subspace m's
    * k-th sub-centroid. Same fingerprint-keyed caching as the IVF
    * codebook. */
  private val pqCache =
    new graft.SnapshotCache[Array[Array[Array[Double]]]]

  /** s06 — product-quantization ANN (IVF-PQ's compression half): vectors
    * are encoded as M=8 sub-centroid indices (4 bits each at Ks=16 — a
    * 64-dim float vector compresses 64× to 8 bytes), queries score
    * candidates via asymmetric distance computation (ADC: per-query
    * lookup table of query-subvector · sub-centroid dots, summed over the
    * M code positions), and the ADC top-`Shortlist` is re-ranked with
    * exact cosine. At 100 TB the codes table is what lives in memory —
    * the raw vectors are only fetched for the shortlist join.
    *
    * Scale shape: encoding is MAP-ONLY (argmax of Ks fused dot products
    * per subspace); scoring joins the corpus codes against a broadcast
    * 10-row LUT table; both top-k ranks compile to the two-phase
    * WindowGroupLimit heap. Codebooks are a deterministic sample
    * (vec_id % 37) of sub-vectors, cached per table fingerprint. */
  def s06(t: Tables): DataFrame = {
    val M = 8              // subspaces
    val Shortlist = 50     // ADC candidates re-ranked exactly
    val corpus = prepped(t)

    val cb: Array[Array[Array[Double]]] =
      pqCache(t, s"pq$M", "embeddings") {
        val seeds = corpus
          .filter(col("vec_id") % 37 === 0 && col("vec_id") < 37 * 16)
          .select(col("vec"))
          .collect()
          .map(_.getSeq[Double](0).toArray)
        require(seeds.nonEmpty,
          s"s06: no PQ codebook seed rows in ${t.dir}/embeddings")
        val d = seeds(0).length
        require(d % M == 0, s"s06: dim $d not divisible by M=$M")
        val sub = d / M
        Array.tabulate(M)(m => seeds.map(_.slice(m * sub, m * sub + sub)))
      }
    val sub = cb(0)(0).length
    val ks = cb(0).length

    // encode: per subspace, the index of the nearest sub-centroid by L2
    // (argmin ||x-c||² == argmax x·c − ||c||²/2); fused dot expressions,
    // map-only
    def subv(m: Int) = expr(s"slice(vec, ${m * sub + 1}, $sub)")
    val codeCols = (0 until M).map { m =>
      array_max(array(cb(m).zipWithIndex.map { case (c, j) =>
        struct(
          (dot_d(subv(m), typedlit(c)) - lit(c.map(x => x * x).sum / 2))
            .as("score"),
          lit(j).as("j"))
      }: _*)).getField("j")
    }
    val codes = corpus.select(
      (col("vec_id") +: col("vec") +: col("norm") +:
        codeCols.zipWithIndex.map { case (c, m) => c.as(s"c$m") }): _*)

    // per-query ADC lookup tables: lut[m*ks + j] = q_sub(m) · cb(m)(j)
    val qRows = corpus.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val luts = qRows.map { case (qid, qv) =>
      (qid, Array.tabulate(M * ks) { i =>
        val (m, j) = (i / ks, i % ks)
        val c = cb(m)(j)
        var s = 0.0; var k = 0
        while (k < sub) { s += qv(m * sub + k) * c(k); k += 1 }
        s
      })
    }.toSeq
    import t.spark.implicits._
    val lutDf = luts.toDF("q_id", "lut")

    val adcExpr = (0 until M)
      .map(m => element_at(col("lut"), col(s"c$m") + lit(m * ks) + 1))
      .reduce(_ + _)
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val shortlist = codes.crossJoin(broadcast(lutDf))
      .select(col("q_id"), col("vec_id"), col("vec"), col("norm"),
        adcExpr.as("adc"))
      .withColumn("srn", row_number().over(wAdc))
      .filter(col("srn") <= Shortlist)

    // exact cosine re-rank of the shortlist (queries broadcast)
    val queries10 = corpus.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        col("norm").as("q_norm"))
    val wExact = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    shortlist.join(broadcast(queries10), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(dot_d(col("vec"), col("q_vec")) / (col("norm") * col("q_norm")), 4)
          .as("sim"))
      .withColumn("rn", row_number().over(wExact).cast("long"))
      .filter(col("rn") <= TopK)
      .orderBy("q_id", "rn")
  }

  /** Cosine threshold for s07 radius search: random 64-dim float vectors
    * concentrate near 0, so 0.3 keeps the genuinely-close tail
    * (~40 pairs at sf0.01, ~150 at sf0.1). */
  private val Radius = 0.3

  /** s07 — radius (range) similarity search: every corpus vector within
    * cosine ≥ τ of each query, the all-neighbors complement of s01's
    * top-k. Self-pairs excluded. Scale shape is strictly BETTER than
    * top-k: broadcast the query set, one map-only pass computes sims and
    * filters — no window, no rank shuffle; the only exchange is the
    * deterministic output sort of the (tiny) surviving pairs. The same
    * rounding-then-compare happens on both engines so the τ boundary
    * cannot diverge (ref: reference quality scans filter on derived
    * thresholds the same way, lines 95–131). */
  def s07(t: Tables): DataFrame = {
    val corpus = prepped(t)
    val queries = corpus.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        col("norm").as("q_norm"))
    corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(dot("vec", "q_vec") / (col("norm") * col("q_norm")), 4).as("sim"))
      .filter(col("sim") >= Radius)
      .orderBy("q_id", "vec_id")
  }

  /** s08 — k-NN GRAPH over the whole corpus (not a query-set search like
    * s01–s06): every vector's top-K in-cluster neighbors — the
    * SemDeDup / clustering-prep / graph-ANN-build primitive. Candidates
    * come from the trained coarse quantizer (the d10 codebook, C sized
    * by semCluster knobs so expected cluster size stays ~32 bounded:
    * within-cluster self-join cost is Σ|cluster|² ≈ N·(N/C) — linear in
    * N while C tracks N, never the N² brute-force graph). Per-vector
    * ranking partitions by vec_id (cosine desc, nn_id tie-break), so
    * the window sort is per-cluster-candidate-list sized, and the
    * output is exactly ≤ K rows per vector at any corpus size.
    * Within-cluster-only edges are the deliberate approximation (the
    * published SemDeDup trade); SimilaritySpec gates graph recall
    * against the exact brute-force graph on the small corpus.
    *
    * Past the C=512 cap the cluster count stops tracking N and the
    * within-cluster join would turn quadratic (N²/512) — so, exactly
    * like d10, buckets sub-band with `rh_bucket` hyperplane bits once
    * the corpus outgrows cap·32 (semClusterKnobs' planes knob, same
    * seed so the two operators share bucket geometry): candidate
    * buckets stay ~32 expected rows at ANY corpus size, keeping the
    * join linear in N. The residual heavy case is exact-duplicate mass
    * (copies co-bucket by construction and each copy's true nearest
    * neighbors ARE its copies — that work is the answer, not overhead);
    * measured sf0.1→sf1→sf10 decades on the 100×-replicated corpus are
    * sub-linear. rows-only: codebook + kernels have no SQL twin. */
  def s08(t: Tables): DataFrame = {
    val K = 3
    val (c, planes) = graft.dedup.Dedup.semClusterKnobs(preppedCount(t))
    val assigned0 = assignedClusters(t, c)
    val assigned =
      if (planes == 0) assigned0.withColumn("sub", lit(0L))
      else assigned0.withColumn("sub",
        graft.functions.exprs.rh_bucket(col("vec"), planes, seed = 77L))
    val left = assigned.select(col("cent_id"), col("sub"), col("vec_id"),
      col("vec"), col("norm"))
    val right = assigned.select(col("cent_id"), col("sub"),
      col("vec_id").as("nn_id"), col("vec").as("n_vec"),
      col("norm").as("n_norm"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("nn_id"))
    left.join(right, Seq("cent_id", "sub"))
      .filter(col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("nn_id"),
        round(dot_d(col("vec"), col("n_vec")) /
          (col("norm") * col("n_norm")), 4).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .orderBy("vec_id", "rank")
  }

  /** s09 — ANN index-quality audit: per-query recall@k of the LSH index
    * (s02) against the exact ground truth (s01), reported in exact
    * half-up integer percent. This is the recall monitoring loop every
    * production ANN deployment runs against its index: ground truth is
    * computed for a SAMPLED query set (NQueries here), so the audit is
    * O(sample · corpus) for the exact side and O(sample · bucket) for
    * the index side — independent of how many live queries the index
    * serves, and the standard recall@k evaluation protocol. The join
    * and rollup run over q·k result rows (tiny at any corpus size).
    * SQL-oracled since round 8 (the round-7 Python cross-check promoted
    * into the driver gate: DuckDB rebuilds both legs from the inlined
    * hyperplane VALUES table and replays the integer recall arithmetic);
    * tools/ann_recall_oracle.py remains as a THIRD, pure-Python
    * implementation of the kernel, and OperatorsSpec additionally pins
    * the per-query values to an independently-computed set
    * intersection. */
  def s09(t: Tables): DataFrame = {
    val exact = s01(t).select(col("q_id"), col("vec_id"))
    val approx = s02(t).select(col("q_id"), col("vec_id"))
      .withColumn("hit", lit(1L))
    exact.join(approx, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("k"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .withColumn("recall_x100", expr("(200 * n_hit + k) div (2 * k)"))
      .orderBy("q_id")
  }

  /** s10 — FILTERED similarity search: exact top-k under a metadata
    * predicate (label parity here, standing for any attribute filter —
    * language, license, source, date). Pre-filtering is the
    * production-correct shape when the predicate is selective: the
    * attribute filter prunes the corpus BEFORE ranking, so recall@k is
    * exact over the qualifying subset — whereas post-filtering an
    * unfiltered ANN shortlist silently loses results when most of the
    * shortlist fails the predicate (the classic filtered-ANN failure
    * mode). Same two-phase WindowGroupLimit rank as s01 over the
    * surviving fraction; self-matches excluded (a query need not
    * satisfy the filter). Full SQL oracle (s01's DuckDB spelling plus
    * the same predicate). */
  def s10(t: Tables): DataFrame = {
    val corpus = t.embeddingsWide.select(
        col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("vec"))
      .withColumn("norm", sqrt(dot_d(col("vec"), col("vec"))))
      .filter(col("norm") > 0)
    val queries = corpus.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        col("norm").as("q_norm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    corpus.filter(col("label") % 2 === 0)
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        round(dot("vec", "q_vec") / (col("norm") * col("q_norm")), 4).as("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= TopK)
      .orderBy("q_id", "rn")
  }

  /** BM25 shortlist size per retrieval leg of s11 (keyword and vector);
    * the fused list keeps TopK. */
  private val Shortlist = 20

  /** The exact BM25 per-term contribution, quantized to integer
    * micro-units BEFORE the per-(query,doc) sum — the same
    * scaled-integer policy the repo applies to money sums (q59/q81):
    * a sum of doubles is summation-order-dependent and two engines
    * cannot be trusted to add floating-point terms in the same order,
    * but a sum of int64 micro-units is exact and associative. The
    * double math INSIDE one term is computed from integers (tf, df, N,
    * dl) by an identical formula spelling on both engines (the
    * t07 ln-at-4dp precedent). k1=1.2, b=0.75 (spelled as the exact
    * double literals 2.2/1.2/0.75/0.25 on both sides). */
  private val bm25TermSql =
    """cast(round(
      |  ln(1.0 + (cast(n - df as double) + 0.5) / (cast(df as double) + 0.5))
      |  * (cast(tf as double) * 2.2)
      |  / (cast(tf as double)
      |     + 1.2 * (0.25 + 0.75 * cast(dl as double)
      |                     / (cast(tot_dl as double) / cast(n as double))))
      |  * 1000000.0) as bigint)""".stripMargin

  /** s11 — HYBRID retrieval: BM25 keyword ranking over `documents`
    * fused with exact cosine ranking over the docs' `embeddings` twin
    * rows via reciprocal-rank fusion — the retrieval core of a RAG /
    * training-data-attribution stack (sparse+dense fusion, Cormack's
    * RRF). Query set = the ten doc_id < NQueries docs: their text is
    * the keyword query, their embedding the dense query; self-matches
    * excluded on both legs.
    *
    * Scale shape: the keyword leg is the standard distributed
    * inverted-index build — tf is one (doc, token) hash aggregation
    * with dl riding a same-key window (no second shuffle), df one
    * token aggregation; the query-term list (terms of 10 docs ⨝ their
    * df rows ⨝ the 2-scalar stats row) is tiny at ANY corpus size and
    * broadcasts, so scoring is a broadcast-hash probe of tf — shuffle
    * ∝ matching postings, never corpus pairs. The dense leg is s01's
    * broadcast map-only cosine. Both legs rank through the two-phase
    * WindowGroupLimit k-heap, so only ≤Shortlist rows per partition
    * per query reach the exchanges, and fusion joins two ≤q·Shortlist
    * row lists. RRF itself is pure integer arithmetic
    * (1e9 DIV (60+rank) summed over legs) — hash-stable by
    * construction; absent-from-shortlist legs contribute 0, exactly
    * the published RRF convention. */
  def s11(t: Tables): DataFrame = {
    // doc length = token-array size, computed MAP-SIDE before the
    // explode and carried through the tf aggregation as a grouping key
    // it is functionally dependent on — no per-doc-length shuffle or
    // join anywhere in the plan
    val base = t.documents.select(col("doc_id"),
      expr(graft.functions.exprs.wsTokensSql).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val toks = base.select(col("doc_id"), col("dl"),
      explode(col("toks")).as("token"))
    val tf = toks.groupBy("doc_id", "dl", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val stats = base.agg(count(lit(1)).as("n"), sum(col("dl")).as("tot_dl"))
    val qterms = toks.filter(col("doc_id") < NQueries)
      .select(col("doc_id").as("q_id"), col("token")).distinct()
    val qdf = qterms.join(df, "token").crossJoin(stats)
    val bm = tf.join(broadcast(qdf), "token")
      .filter(col("doc_id") =!= col("q_id"))
      .withColumn("contrib_u", expr(bm25TermSql))
      .groupBy("q_id", "doc_id").agg(sum(col("contrib_u")).as("bm25_u"))
    val wb = Window.partitionBy(col("q_id"))
      .orderBy(col("bm25_u").desc, col("doc_id"))
    val bmRanks = bm
      .withColumn("bm_rank", row_number().over(wb).cast("long"))
      .filter(col("bm_rank") <= Shortlist)
      .select(col("q_id"), col("doc_id"), col("bm_rank"))

    val corpus = prepped(t)
    val queries = corpus.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        col("norm").as("q_norm"))
    val wv = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("doc_id"))
    val vecRanks = corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("doc_id"),
        round(dot("vec", "q_vec") / (col("norm") * col("q_norm")), 4).as("sim"))
      .withColumn("vec_rank", row_number().over(wv).cast("long"))
      .filter(col("vec_rank") <= Shortlist)
      .select(col("q_id"), col("doc_id"), col("vec_rank"))

    val wf = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_u").desc, col("doc_id"))
    bmRanks.join(vecRanks, Seq("q_id", "doc_id"), "full_outer")
      .na.fill(0L, Seq("bm_rank", "vec_rank"))
      .withColumn("rrf_u", expr(
        """(case when bm_rank > 0 then 1000000000 div (60 + bm_rank) else 0 end)
          | + (case when vec_rank > 0 then 1000000000 div (60 + vec_rank) else 0 end)"""
          .stripMargin))
      .withColumn("fused_rank", row_number().over(wf).cast("long"))
      .filter(col("fused_rank") <= TopK)
      .select(col("q_id"), col("doc_id"), col("bm_rank"), col("vec_rank"),
        col("rrf_u"), col("fused_rank"))
      .orderBy("q_id", "fused_rank")
  }

  /** s12 — maximum-inner-product search (MIPS): top-k by RAW dot product,
    * the asymmetric retrieval problem recommenders and learned-embedding
    * rankers solve (two-tower models score user·item — magnitude
    * matters, so cosine top-k is the WRONG answer when norms differ;
    * that distinction is the reason this operator exists next to s01).
    * Zero-norm vectors stay in the corpus (a zero dot is a valid score —
    * no NaN surface, unlike cosine). Exact brute-force baseline:
    * broadcast query set, map-only fused-loop dot kernel, two-phase
    * WindowGroupLimit rank — identical scale shape to s01. The ANN
    * scale path is the published norm-augmentation reduction (append
    * sqrt(M²−‖x‖²) so MIPS becomes cosine on the augmented space) and
    * then any of s02–s06 apply unchanged; SimilaritySpec pins the
    * reduction's rank-preservation on the real corpus. */
  def s12(t: Tables): DataFrame = {
    val corpus = t.embeddingsWide.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("vec"))
    val queries = corpus.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("ip").desc, col("vec_id"))
    corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(dot("vec", "q_vec"), 4).as("ip"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= TopK)
      .orderBy("q_id", "rn")
  }

  /** s13 — Matryoshka (MRL) adaptive retrieval: rank with a PREFIX of
    * the embedding dimensions, re-rank a bounded shortlist with the
    * full vector. Matryoshka-trained embeddings pack coarse semantics
    * into the leading dims, so the 16-dim prefix pass does the heavy
    * ranking at 1/4 the float reads/FLOPs — at 100 TB the prefix lives
    * as its own narrow column (parquet prunes the full vector from the
    * scan entirely), and the exact stage touches only Shortlist·Q rows.
    * Both stages are deterministic (4dp-rounded sims, vec_id
    * tie-break), so shortlist membership at the boundary is
    * reproducible and the WHOLE two-stage pipeline has an exact SQL
    * twin — the oracle proves the composition, while SimilaritySpec
    * gates its recall against s01's exact ranking. Prefix-zero vectors
    * (possible even after the full-norm filter) sink via an explicit
    * −2 sentinel on BOTH engines — never a NaN surface. */
  def s13(t: Tables): DataFrame = {
    val corpus = prepped(t)
      .withColumn("pvec", slice(col("vec"), 1, MatryoshkaPrefix))
      .withColumn("pnorm", sqrt(dot_d(col("pvec"), col("pvec"))))
    val queries = corpus.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        col("norm").as("q_norm"), col("pvec").as("q_pvec"),
        col("pnorm").as("q_pnorm"))
    val wP = Window.partitionBy(col("q_id"))
      .orderBy(col("psim").desc, col("vec_id"))
    val shortlist = corpus.crossJoin(broadcast(queries))
      .select(col("q_id"), col("vec_id"), col("vec"), col("norm"),
        col("q_vec"), col("q_norm"),
        when(col("pnorm") === 0 || col("q_pnorm") === 0, lit(-2d))
          .otherwise(round(dot("pvec", "q_pvec")
            / (col("pnorm") * col("q_pnorm")), 4)).as("psim"))
      .withColumn("prn", row_number().over(wP))
      .filter(col("prn") <= MatryoshkaShortlist)
    val wF = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    shortlist
      .select(col("q_id"), col("vec_id"),
        round(dot("vec", "q_vec") / (col("norm") * col("q_norm")), 4)
          .as("sim"))
      .withColumn("rn", row_number().over(wF).cast("long"))
      .filter(col("rn") <= TopK)
      .orderBy("q_id", "rn")
  }

  /** Per-dim (min, step) SQ8 quantization grid, cached per table
    * fingerprint like the IVF/PQ codebooks. */
  /** s16's exact top-k ground truth, once per corpus snapshot. */
  private val truthCache = new graft.SnapshotCache[DataFrame]

  private val sqCache =
    new graft.SnapshotCache[(Array[Double], Array[Double])]

  /** s14 — scalar-quantized (SQ8) ANN, the memory-compression rung
    * between raw floats and s06's PQ: each dimension quantizes
    * independently to an 8-bit code on a per-dim [min, max] grid
    * (4× smaller than float32, vs PQ's 64× — but NO codebook training
    * and max per-dim error step/2, which is why SQ8 is the production
    * default when memory merely needs to shrink 4×, not 64×).
    *
    * Scoring uses the SQ analog of ADC: dot(q, x̂) decomposes as
    * C_q + Σ_d (q_d·step_d)·code_d — the per-query constant C_q and
    * weight vector w_d = q_d·step_d are precomputed ONCE per query
    * (10×64 driver-side floats, broadcast), so the per-candidate cost
    * is one fused dot over the codes, identical to scoring raw floats
    * but against the 4×-smaller representation that is what actually
    * fits in executor memory at 100 TB. Approx top-`Shortlist` re-ranks
    * with exact cosine (the s06 two-stage shape; both ranks compile to
    * the two-phase WindowGroupLimit heap).
    *
    * The grid is ONE corpus aggregation (128 min/max partial-agg
    * columns, map-side combined, one row out — no per-dim shuffle of
    * the corpus), cached per table fingerprint. Constant dims get
    * step=1 and code 0 — never a divide-by-zero. Rows-only by design
    * (SQL engines lack the fused quantized-dot kernel); the
    * SimilarityFixtureSpec gates recall vs the exact ranking and pins
    * the per-dim reconstruction-error bound. */
  def s14(t: Tables): DataFrame = {
    val Shortlist = 50
    val corpus = prepped(t)
    val (mins, steps) = sqCache(t, "sq8", "embeddings") {
      val d = corpus.select(size(col("vec"))).first.getInt(0)
      val aggs = (0 until d).flatMap(i => Seq(
        min(element_at(col("vec"), i + 1)), max(element_at(col("vec"), i + 1))))
      val row = corpus.agg(aggs.head, aggs.tail: _*).first()
      val mn = Array.tabulate(d)(i => row.getDouble(2 * i))
      val st = Array.tabulate(d) { i =>
        val s = (row.getDouble(2 * i + 1) - row.getDouble(2 * i)) / 255.0
        if (s > 0) s else 1.0
      }
      (mn, st)
    }
    // encode map-only: code_d = round((x_d - min_d) / step_d), clamped
    // to [0, 255] (clamp is a no-op on corpus data — the grid was fit on
    // it — but keeps out-of-grid QUERY-TIME vectors safe by contract);
    // kept as double so the ADC dot below is one fused kernel with no
    // per-row re-cast allocation
    val encoded = corpus
      .withColumn("__sq_mins", typedlit(mins.toSeq))
      .withColumn("__sq_steps", typedlit(steps.toSeq))
      .withColumn("codes",
        expr("zip_with(zip_with(vec, __sq_mins, (x, m) -> x - m)," +
          " __sq_steps, (y, s) -> least(255d, greatest(0d, round(y / s))))"))
      .drop("__sq_mins", "__sq_steps")
    // per-query ADC: w_d = q_d·step_d, C_q = Σ q_d·min_d (driver-side
    // over the 10 query vectors — the codebook-holding pattern)
    val qRows = corpus.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("vec"), col("norm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    import t.spark.implicits._
    val lutDf = qRows.map { case (qid, qv, _) =>
      val w = Array.tabulate(qv.length)(i => qv(i) * steps(i))
      val c = qv.indices.map(i => qv(i) * mins(i)).sum
      (qid, w.toSeq, c)
    }.toSeq.toDF("q_id", "w", "c")
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val shortlist = encoded.crossJoin(broadcast(lutDf))
      .select(col("q_id"), col("vec_id"), col("vec"), col("norm"),
        (col("c") + dot_d(col("codes"), col("w"))).as("adc"))
      .withColumn("srn", row_number().over(wAdc))
      .filter(col("srn") <= Shortlist)
    val queries10 = corpus.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        col("norm").as("q_norm"))
    val wExact = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    shortlist.join(broadcast(queries10), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(dot_d(col("vec"), col("q_vec"))
          / (col("norm") * col("q_norm")), 4).as("sim"))
      .withColumn("rn", row_number().over(wExact).cast("long"))
      .filter(col("rn") <= TopK)
      .orderBy("q_id", "rn")
  }

  /** s15 — MMR diversified top-k (Maximal Marginal Relevance, Carbonell
    * & Goldstein 1998): relevance-only top-k returns near-duplicates of
    * one best answer (this corpus's replicated embeddings make that
    * literal); MMR greedily re-ranks a bounded shortlist by
    * λ·sim(q,d) − (1−λ)·max_{s∈Selected} sim(d,s), trading relevance
    * against redundancy — the standard diversity re-rank in RAG
    * retrieval.
    *
    * Scale split, explicitly: the CORPUS-sized work — exact shortlist
    * ranking (WindowGroupLimit heap) and the within-shortlist pairwise
    * sims — is distributed, O(corpus) + O(Q·S²) with S=50 FIXED, so the
    * pair stage is corpus-independent by construction. The greedy
    * selection itself is inherently sequential (step t+1 depends on the
    * argmax at step t) over Q·S ≤ 500 rows — it runs driver-side on the
    * collected shortlist, the s06-codebook pattern ("how any re-ranker
    * holds its candidate set"): unrolling it as k DataFrame iterations
    * would reference the tiny selected-set plan 3× per step (the
    * g02-documented blowup) to move <25k rows. All sims 4dp-rounded
    * with vec_id tie-breaks; λ arithmetic is identical IEEE ops on both
    * the engine and the spec's independent kernel recomputation.
    * Rows-only; SimilarityFixtureSpec pins the full greedy trace. */
  def s15(t: Tables): DataFrame = graft.Intermediates.run { in =>
    val Lambda = 0.7
    val Shortlist = 50
    val corpus = prepped(t)
    val queries10 = corpus.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        col("norm").as("q_norm"))
    val wS = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val shortlist = in.keep(corpus.crossJoin(broadcast(queries10))
      .select(col("q_id"), col("vec_id"), col("vec"), col("norm"),
        round(dot("vec", "q_vec") / (col("norm") * col("q_norm")), 4)
          .as("sim"))
      .withColumn("srn", row_number().over(wS))
      .filter(col("srn") <= Shortlist))
    val pairRows = shortlist.as("a").join(shortlist.as("b"), Seq("q_id"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("q_id"), col("a.vec_id").as("ca"),
        col("b.vec_id").as("cb"),
        round(dot_d(col("a.vec"), col("b.vec"))
          / (col("a.norm") * col("b.norm")), 4).as("psim"))
      .collect()
    val psim = pairRows.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    val cands = shortlist.select(col("q_id"), col("vec_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val picked = cands.toSeq.sortBy(_._1).flatMap { case (q, cs) =>
      val bySim = cs.map(c => (c._2, c._3)).toMap
      var selected = Vector.empty[Long]
      (1 to TopK).foreach { _ =>
        val remaining = bySim.keys.filterNot(selected.contains)
        if (remaining.nonEmpty) {
          val best = remaining.minBy { d =>
            val pen = if (selected.isEmpty) 0.0
              else selected.map(s => psim((q, d, s))).max
            (-(Lambda * bySim(d) - (1 - Lambda) * pen), d)
          }
          selected :+= best
        }
      }
      selected.zipWithIndex.map { case (d, i) =>
        (q, d, bySim(d), (i + 1).toLong)
      }
    }
    import t.spark.implicits._
    // driver-side rows: the result reads nothing the scope frees
    picked.toDF("q_id", "vec_id", "sim", "mmr_rank")
      .orderBy("q_id", "mmr_rank")
  }

  /** s16 — the ANN probe-budget tuning curve: recall@5 and candidate
    * volume for multi-probe budgets P ∈ {1,3,5,9} over the SAME LSH
    * index (P=1 is s02's single bucket; P=9 is s04's full single-flip
    * set) — the operating-point sweep an ANN deployment runs before
    * fixing its latency/recall trade (d12's threshold-curve idea
    * applied to the index knob instead of the dedup knob). Probe order
    * is the deterministic (self, flip bit 0, flip bit 1, …) sequence,
    * so each budget is a strict prefix — recall is provably monotone in
    * P and the spec pins it. Ground truth is the exact ranking computed
    * in-query (the s01 brute-force pass — the audit costs one extra
    * O(corpus·Q) scan exactly like s09, amortized over every future
    * probe-budget decision). Counts exact integers, recall in half-up
    * percent. SQL-oracled since round 8: DuckDB replays the ENTIRE
    * curve from the inlined hyperplane VALUES table (buckets, probe
    * prefixes, exact truth, integer recall arithmetic);
    * SimilarityFixtureSpec pins the full per-budget expectation, and
    * tools/ann_recall_oracle.py recomputes the curve a THIRD way
    * (pure-Python kernel) as belt-and-braces. */
  def s16(t: Tables): DataFrame = graft.Intermediates.materialized { in =>
    val Budgets = ProbeBudgets
    val corpus = prepped(t)
      .withColumn("bucket", rh_bucket(col("vec"), Planes, Seed))
    val queries10 = corpus.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        col("norm").as("q_norm"), col("bucket"))
    val probes = queries10
      .select(col("q_id"), posexplode(array((-1 until Planes).map {
        case -1 => col("bucket")
        case i  => col("bucket").bitwiseXOR(lit(1 << i))
      }: _*)).as(Seq("ord", "bucket")))
    val wT = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    // exact ground truth is a ONCE-PER-SNAPSHOT audit artifact (the
    // codebook pattern): Q×k ids, fingerprint-keyed, reused across the
    // probe budgets AND across invocations — the brute-force pass is
    // paid once per corpus, while the per-budget candidate caches stay
    // per-query (kept in this query's scope)
    val truth = truthCache(t, "truth", "embeddings") {
      corpus.crossJoin(broadcast(
          queries10.select(col("q_id"), col("q_vec"), col("q_norm"))))
        .select(col("q_id"), col("vec_id"),
          round(dot("vec", "q_vec") / (col("norm") * col("q_norm")), 4)
            .as("sim"))
        .withColumn("rn", row_number().over(wT))
        .filter(col("rn") <= TopK)
        .select(col("q_id"), col("vec_id"))
        .localCheckpoint()
    }
    val bucketed = corpus.select(col("bucket"), col("vec_id"))
    // ONE candidate pass subsumes every budget (r15, guide §2.4): the
    // probe order is a strict prefix chain, so budget p's candidate set
    // is exactly {(q,v) : min probe ord reaching v < p}. Join bucketed ↔
    // probes once at the largest budget, keep each candidate's MINIMUM
    // ord, attach truth once — each per-budget row is then a conditional
    // aggregate over the same cached relation. Before: 4 shuffle joins +
    // 4 distincts + 4 truth joins; after: 1 join + 1 groupBy + 1 truth
    // join (plans/r15/s16_probe_curve_{before,after}.txt).
    val minOrd = in.keep(bucketed
      .join(probes.filter(col("ord") < Budgets.max).hint("SHUFFLE_HASH"),
        "bucket")
      .groupBy(col("q_id"), col("vec_id"))
      .agg(min(col("ord")).as("min_ord"))
      .join(truth.withColumn("hit", lit(1L)), Seq("q_id", "vec_id"), "left"))
    val perBudget = Budgets.map { p =>
      minOrd.filter(col("min_ord") < p)
        .agg(count(lit(1)).as("total_candidates"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
        .select(lit(p.toLong).as("n_probes"), col("total_candidates"),
          col("n_hits"),
          expr(s"(200 * n_hits + $NQueries * $TopK) div " +
            s"(2 * $NQueries * $TopK)").as("recall_pct"))
    }
    perBudget.reduce(_ unionByName _).orderBy("n_probes")
  }

  val queries: Map[String, Tables => DataFrame] = Map(
    "s16_probe_curve" -> s16,
    "s15_mmr_diversify" -> s15,
    "s14_sq8_ann" -> s14,
    "s13_matryoshka_topk" -> s13,
    "s12_mips_topk" -> s12,
    "s11_hybrid_search" -> s11,
    "s10_filtered_topk" -> s10,
    "s09_recall_eval" -> s09,
    "s08_knn_graph" -> s08,
    "s07_range_search" -> s07,
    "s06_pq_ann" -> s06,
    "s01_cosine_topk" -> s01,
    "s02_lsh_ann" -> s02,
    "s03_ivf_ann" -> s03,
    "s04_multiprobe_ann" -> s04,
    "s05_dim_stats" -> s05)

  /** Shared oracle CTE prefix: the prepped corpus (`c`), its
    * rh_bucket(Planes, Seed) twin (`b` = vec_id/vec/norm/bucket), and
    * the bucketed query rows (`q`) — the hyperplane weights inlined as a
    * VALUES table generated from the SAME Scala weight function the
    * kernel runs (RhPlanes; see its doc for the bit-exactness chain that
    * makes the bucket SIGN — not just a rounded value — reproducible).
    * This is what graduates s02/s04/s09/s16 from rows-only to
    * SQL-oracled (round-7 verdict task 3). */
  private def bucketCteSql: String = {
    val planeVals =
      graft.functions.RhPlanes.planeValuesSql(Planes, Seed, Dims)
    s"""planes(p, w) AS (VALUES $planeVals),
       |c AS (SELECT vec_id, embedding::DOUBLE[] AS vec,
       |        sqrt(list_dot_product(embedding::DOUBLE[],
       |                              embedding::DOUBLE[])) AS norm
       |      FROM embeddings
       |      WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
       |bk AS MATERIALIZED (
       |  SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(vec, w) > 0
       |    THEN 1 << p ELSE 0 END) AS INT) AS bucket
       |  FROM c, planes GROUP BY vec_id),
       |b AS (SELECT c.*, bk.bucket FROM c JOIN bk USING (vec_id)),
       |q AS (SELECT vec_id AS q_id, vec AS q_vec, norm AS q_norm, bucket
       |      FROM b WHERE vec_id < $NQueries)""".stripMargin
  }

  /** The exact brute-force top-k ranking as a CTE body (s01's spelling
    * over the `c`/`q` relations of [[bucketCteSql]]) — reused as ground
    * truth by the s09/s16 oracles. */
  private def exactTopKCteSql(name: String): String =
    s"""$name AS (SELECT q_id, vec_id FROM (
       |  SELECT q.q_id, v.vec_id,
       |    row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY round(list_dot_product(v.vec, q.q_vec)
       |                 / (v.norm * q.q_norm), 4) DESC, v.vec_id) AS rn
       |  FROM c v, q) WHERE rn <= $TopK)""".stripMargin

  /** s01 has an exact SQL equivalent (DuckDB list_cosine_similarity);
    * since round 8 the LSH-bucketed paths (s02/s04/s09/s16) carry full
    * oracles too — the hyperplane weights are inlined as VALUES data
    * (see [[bucketCteSql]]). Rows-only residue: the codebook-trained
    * paths (s03/s06/s08/s14) and the driver-greedy re-rank (s15). */
  val oracles: Map[String, String] = Map(
    // the LSH equi-join + in-bucket exact re-rank replayed in SQL: same
    // buckets (bit-exact hyperplane signs), same 4dp cosine, same
    // vec_id tie-break
    "s02_lsh_ann" ->
      s"""WITH $bucketCteSql
         |SELECT q_id, vec_id, sim, rn FROM (
         |  SELECT q.q_id, v.vec_id,
         |    round(list_dot_product(v.vec, q.q_vec)
         |      / (v.norm * q.q_norm), 4) AS sim,
         |    row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY round(list_dot_product(v.vec, q.q_vec)
         |                 / (v.norm * q.q_norm), 4) DESC, v.vec_id) AS rn
         |  FROM b v JOIN q ON v.bucket = q.bucket)
         |WHERE rn <= $TopK ORDER BY q_id, rn""".stripMargin,
    // multi-probe: the query side explodes to self + 8 one-bit-flip
    // buckets (the same deterministic flip set as the Spark plan),
    // candidates dedup on (q, vec, sim) before the rank
    "s04_multiprobe_ann" -> {
      val flips = (-1 until Planes)
        .map { case -1 => 0; case i => 1 << i }.mkString(", ")
      s"""WITH $bucketCteSql,
         |probe AS (SELECT q_id, q_vec, q_norm, xor(bucket, f) AS bucket
         |          FROM q, UNNEST([$flips]) AS t(f)),
         |cand AS (SELECT DISTINCT p.q_id, v.vec_id,
         |    round(list_dot_product(v.vec, p.q_vec)
         |      / (v.norm * p.q_norm), 4) AS sim
         |  FROM b v JOIN probe p ON v.bucket = p.bucket)
         |SELECT q_id, vec_id, sim, rn FROM (
         |  SELECT q_id, vec_id, sim,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY sim DESC, vec_id) AS rn
         |  FROM cand)
         |WHERE rn <= $TopK ORDER BY q_id, rn""".stripMargin
    },
    // the recall audit composed end-to-end: exact truth (s01's spelling)
    // LEFT JOIN the in-bucket ranking (s02's spelling), integer half-up
    // percent — the round-7 Python cross-check promoted to the gate
    "s09_recall_eval" ->
      s"""WITH $bucketCteSql,
         |${exactTopKCteSql("exact")},
         |approx AS (SELECT q_id, vec_id FROM (
         |  SELECT q.q_id, v.vec_id,
         |    row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY round(list_dot_product(v.vec, q.q_vec)
         |                 / (v.norm * q.q_norm), 4) DESC, v.vec_id) AS rn
         |  FROM b v JOIN q ON v.bucket = q.bucket) WHERE rn <= $TopK)
         |SELECT e.q_id, count(*) AS k,
         |  CAST(count(a.vec_id) AS BIGINT) AS n_hit,
         |  (200 * count(a.vec_id) + count(*)) // (2 * count(*))
         |    AS recall_x100
         |FROM exact e LEFT JOIN approx a
         |  ON e.q_id = a.q_id AND e.vec_id = a.vec_id
         |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin,
    // the whole probe-budget curve: ord-indexed probe sequence (self,
    // flip bit 0, flip bit 1, …), candidate sets per budget as strict
    // prefixes, exact truth joined for hits, integer recall arithmetic
    "s16_probe_curve" ->
      s"""WITH $bucketCteSql,
         |probes AS (SELECT q_id, ord,
         |    xor(bucket, CASE WHEN ord = 0 THEN 0
         |                     ELSE 1 << (ord - 1) END) AS bucket
         |  FROM q, UNNEST(range(0, ${Planes + 1})) AS t(ord)),
         |${exactTopKCteSql("truth")},
         |budgets(np) AS (VALUES ${ProbeBudgets.map(p => s"($p)").mkString(", ")}),
         |cand AS (SELECT DISTINCT bu.np, p.q_id, v.vec_id
         |  FROM budgets bu CROSS JOIN probes p
         |  JOIN b v ON v.bucket = p.bucket
         |  WHERE p.ord < bu.np)
         |SELECT CAST(np AS BIGINT) AS n_probes,
         |  count(*) AS total_candidates,
         |  CAST(count(t.vec_id) AS BIGINT) AS n_hits,
         |  (200 * count(t.vec_id) + ${NQueries * TopK})
         |    // ${2 * NQueries * TopK} AS recall_pct
         |FROM cand c LEFT JOIN truth t
         |  ON c.q_id = t.q_id AND c.vec_id = t.vec_id
         |GROUP BY np ORDER BY n_probes""".stripMargin,
    // the full two-stage pipeline re-spelled: prefix-16 cosine shortlist
    // (same 4dp rounding, same -2 prefix-zero sentinel, same vec_id
    // tie-break) then exact re-rank — composition equality, not just
    // final-answer equality against a different algorithm
    "s13_matryoshka_topk" ->
      s"""WITH c AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS vec,
         |    sqrt(list_dot_product(embedding::DOUBLE[],
         |                          embedding::DOUBLE[])) AS norm
         |  FROM embeddings
         |  WHERE sqrt(list_dot_product(embedding::DOUBLE[],
         |                              embedding::DOUBLE[])) > 0),
         |c2 AS (
         |  SELECT vec_id, vec, norm, vec[1:$MatryoshkaPrefix] AS pvec,
         |    sqrt(list_dot_product(vec[1:$MatryoshkaPrefix],
         |                          vec[1:$MatryoshkaPrefix])) AS pnorm
         |  FROM c),
         |q AS (SELECT vec_id AS q_id, vec AS q_vec, norm AS q_norm,
         |        pvec AS q_pvec, pnorm AS q_pnorm
         |      FROM c2 WHERE vec_id < $NQueries),
         |sl AS (
         |  SELECT q_id, vec_id, vec, norm, q_vec, q_norm,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY psim DESC, vec_id) AS prn
         |  FROM (
         |    SELECT q.q_id, v.vec_id, v.vec, v.norm, q.q_vec, q.q_norm,
         |      CASE WHEN v.pnorm = 0 OR q.q_pnorm = 0 THEN -2
         |        ELSE round(list_dot_product(v.pvec, q.q_pvec)
         |               / (v.pnorm * q.q_pnorm), 4) END AS psim
         |    FROM c2 v, q))
         |SELECT q_id, vec_id, sim, rn FROM (
         |  SELECT q_id, vec_id,
         |    round(list_dot_product(vec, q_vec) / (norm * q_norm), 4)
         |      AS sim,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY round(list_dot_product(vec, q_vec)
         |                 / (norm * q_norm), 4) DESC, vec_id) AS rn
         |  FROM sl WHERE prn <= $MatryoshkaShortlist)
         |WHERE rn <= $TopK ORDER BY q_id, rn""".stripMargin,
    // raw dot product ranks (list_dot_product ≡ the fused-loop dot_d
    // kernel: both iterate in index order, equal at 4dp — s01 precedent)
    "s12_mips_topk" ->
      s"""SELECT q_id, vec_id, ip, rn FROM (
         | SELECT q.vec_id AS q_id, v.vec_id AS vec_id,
         |   round(list_dot_product(v.embedding::DOUBLE[],
         |                          q.embedding::DOUBLE[]), 4) AS ip,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY round(list_dot_product(v.embedding::DOUBLE[],
         |                      q.embedding::DOUBLE[]), 4) DESC, v.vec_id)
         |     AS rn
         | FROM embeddings v,
         |      (SELECT * FROM embeddings WHERE vec_id < $NQueries) q
         | WHERE v.vec_id <> q.vec_id)
         |WHERE rn <= $TopK ORDER BY q_id, rn""".stripMargin,
    // both legs re-spelled in DuckDB: the BM25 term formula char-for-char
    // (quantized to int64 micro-units BEFORE the sum, so engine-side
    // summation order cannot matter), the cosine leg via s01's proven
    // list_cosine_similarity spelling, RRF in pure integer arithmetic
    "s11_hybrid_search" ->
      raw"""WITH base AS (
         |  SELECT doc_id,
         |    string_split_regex(trim(text), '\s+') AS toks,
         |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
         |      AS dl
         |  FROM documents),
         |toks AS (SELECT doc_id, dl, unnest(toks) AS token FROM base),
         |tf AS (SELECT doc_id, dl, token, count(*) AS tf
         |       FROM toks GROUP BY doc_id, dl, token),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |stats AS (SELECT count(*) AS n, sum(dl) AS tot_dl FROM base),
         |qt AS (SELECT DISTINCT doc_id AS q_id, token FROM toks
         |       WHERE doc_id < $NQueries),
         |bm AS (
         |  SELECT qt.q_id, tf.doc_id,
         |    CAST(sum(CAST(round(
         |      ln(1.0 + (CAST(n - df AS DOUBLE) + 0.5)
         |               / (CAST(df AS DOUBLE) + 0.5))
         |      * (CAST(tf AS DOUBLE) * 2.2)
         |      / (CAST(tf AS DOUBLE)
         |         + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
         |                  / (CAST(tot_dl AS DOUBLE) / CAST(n AS DOUBLE))))
         |      * 1000000.0) AS BIGINT)) AS BIGINT) AS bm25_u
         |  FROM tf JOIN qt USING (token) JOIN df USING (token)
         |    CROSS JOIN stats
         |  WHERE tf.doc_id <> qt.q_id
         |  GROUP BY qt.q_id, tf.doc_id),
         |bmr AS (SELECT * FROM (
         |    SELECT q_id, doc_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY bm25_u DESC, doc_id) AS bm_rank
         |    FROM bm) WHERE bm_rank <= $Shortlist),
         |vr AS (SELECT * FROM (
         |    SELECT q_id, doc_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY sim DESC, doc_id) AS vec_rank
         |    FROM (SELECT q.vec_id AS q_id, v.vec_id AS doc_id,
         |            round(list_cosine_similarity(v.embedding::DOUBLE[],
         |                    q.embedding::DOUBLE[]), 4) AS sim
         |          FROM (SELECT * FROM embeddings
         |                WHERE len(list_filter(embedding, x -> x <> 0)) > 0) v,
         |               (SELECT * FROM embeddings WHERE vec_id < $NQueries
         |                  AND len(list_filter(embedding, x -> x <> 0)) > 0) q
         |          WHERE v.vec_id <> q.vec_id)) WHERE vec_rank <= $Shortlist),
         |fused AS (
         |  SELECT coalesce(b.q_id, v.q_id) AS q_id,
         |    coalesce(b.doc_id, v.doc_id) AS doc_id,
         |    CAST(coalesce(b.bm_rank, 0) AS BIGINT) AS bm_rank,
         |    CAST(coalesce(v.vec_rank, 0) AS BIGINT) AS vec_rank
         |  FROM bmr b FULL OUTER JOIN vr v
         |    ON b.q_id = v.q_id AND b.doc_id = v.doc_id),
         |r AS (
         |  SELECT q_id, doc_id, bm_rank, vec_rank,
         |    CAST((CASE WHEN bm_rank > 0
         |            THEN 1000000000 // (60 + bm_rank) ELSE 0 END)
         |       + (CASE WHEN vec_rank > 0
         |            THEN 1000000000 // (60 + vec_rank) ELSE 0 END)
         |      AS BIGINT) AS rrf_u
         |  FROM fused)
         |SELECT * FROM (
         |  SELECT q_id, doc_id, bm_rank, vec_rank, rrf_u,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY rrf_u DESC, doc_id) AS fused_rank
         |  FROM r)
         |WHERE fused_rank <= $TopK ORDER BY q_id, fused_rank""".stripMargin,
    // s01's exact spelling plus the metadata predicate and self-exclusion
    "s10_filtered_topk" ->
      s"""SELECT q_id, vec_id, label, sim, rn FROM (
         | SELECT q.vec_id AS q_id, v.vec_id AS vec_id, v.label AS label,
         |   round(list_cosine_similarity(v.embedding::DOUBLE[],
         |                                q.embedding::DOUBLE[]), 4) AS sim,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[],
         |                      q.embedding::DOUBLE[]), 4) DESC, v.vec_id) AS rn
         | FROM (SELECT * FROM embeddings
         |       WHERE len(list_filter(embedding, x -> x <> 0)) > 0
         |         AND label % 2 = 0) v,
         |      (SELECT * FROM embeddings WHERE vec_id < $NQueries
         |         AND len(list_filter(embedding, x -> x <> 0)) > 0) q
         | WHERE v.vec_id <> q.vec_id)
         |WHERE rn <= $TopK ORDER BY q_id, rn""".stripMargin,
    "s01_cosine_topk" ->
      s"""SELECT q_id, vec_id, sim, rn FROM (
         | SELECT q.vec_id AS q_id, v.vec_id AS vec_id,
         |   round(list_cosine_similarity(v.embedding::DOUBLE[],
         |                                q.embedding::DOUBLE[]), 4) AS sim,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[],
         |                      q.embedding::DOUBLE[]), 4) DESC, v.vec_id) AS rn
         | FROM (SELECT * FROM embeddings
         |       WHERE len(list_filter(embedding, x -> x <> 0)) > 0) v,
         |      (SELECT * FROM embeddings WHERE vec_id < $NQueries
         |         AND len(list_filter(embedding, x -> x <> 0)) > 0) q)
         |WHERE rn <= $TopK ORDER BY q_id, rn""".stripMargin,
    "s07_range_search" ->
      s"""SELECT q.vec_id AS q_id, v.vec_id AS vec_id,
         |  round(list_cosine_similarity(v.embedding::DOUBLE[],
         |                               q.embedding::DOUBLE[]), 4) AS sim
         |FROM (SELECT * FROM embeddings
         |      WHERE len(list_filter(embedding, x -> x <> 0)) > 0) v,
         |     (SELECT * FROM embeddings WHERE vec_id < $NQueries
         |        AND len(list_filter(embedding, x -> x <> 0)) > 0) q
         |WHERE v.vec_id <> q.vec_id
         |  AND round(list_cosine_similarity(v.embedding::DOUBLE[],
         |                                   q.embedding::DOUBLE[]), 4) >= $Radius
         |ORDER BY q_id, vec_id""".stripMargin,
    "s05_dim_stats" ->
      """SELECT CAST(i - 1 AS BIGINT) AS dim,
        | round(avg(x), 4) AS mean_x, round(stddev(x), 4) AS sd_x,
        | round(min(x), 4) AS min_x, round(max(x), 4) AS max_x,
        | count(*) AS n
        |FROM (SELECT embedding[i]::DOUBLE AS x, i
        |      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i))
        |GROUP BY dim ORDER BY dim""".stripMargin)
}
