package graft.pipeline

import graft.{Intermediates, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Driver-graded end-to-end curation query (SURVEY §2 p01): the
  * TrainingDataPipeline stage graph as a CORRECTNESS entry, not just a
  * spec. p01 runs the deterministic stage chain — PII scrub → quality
  * gate → exact dedup → exact-verified near-dup removal → LM-perplexity
  * gate → benchmark decontamination — through the very same stage
  * functions the pipeline composes, and reports per-source survivor
  * counts at every stage plus the final kept fraction. The DuckDB oracle
  * recomputes the whole composition from the already-oracled stage
  * semantics (t14 scrub regexes, t02 quality rule, d01 canonical
  * fingerprint, d04 exact-Jaccard pair drop, t17/t18 quantized bigram
  * LM, t10 8-gram decontamination — ref analog: the INSERT OVERWRITE ETL
  * workflow, ref lines 261–269, graded as a query).
  *
  * Since round 6 the near-dup stage is INSIDE the oracle (verdict task
  * 3): the graded chain uses [[TrainingDataPipeline
  * .nearDupVerifiedRemoval]] — LSH candidates, EXACT 3-gram-Jaccard
  * drop decisions — whose DuckDB twin is the d04 all-pairs composition
  * (recall argument verbatim). `run()`'s estimate-based stage remains
  * spec-gated by PipelineSpec's planted-clique fixtures.
  *
  * Scale shape: identical to the pipeline's (map-only scrub/quality, one
  * fingerprint shuffle, one banding shuffle + candidate-bounded verify
  * join, the t17 SHUFFLE_HASH LM probe, broadcast bench grams); the six
  * per-source rollups aggregate tiny per-stage survivor sets. Stages are
  * kept so each computes once across the six count branches (the `run()`
  * rationale) and freed once the result is materialized.
  */
object PipelineQueries {

  def p01(t: Tables): DataFrame = Intermediates.materialized { in =>
    import TrainingDataPipeline._
    val input = t.documents
    val corpus = in.keep(scrub(input.filter(col("doc_id") % 50 =!= 0)))
    val bench = input.filter(col("doc_id") % 50 === 0)
    val q = in.keep(qualityFilter(corpus))
    val e = in.keep(exactDedup(q))
    val n = in.keep(nearDupVerifiedRemoval(e))
    val p = in.keep(perplexityFilter(n))
    val d = decontaminate(p, bench)
    stageCounts("n_input" -> corpus, "n_quality" -> q, "n_exact" -> e,
        "n_neardup" -> n, "n_lm" -> p, "n_final" -> d)
      // kept fraction at 4dp via exact integer arithmetic (the t19
      // pattern): float division rounds differently across engines on
      // representation ties
      .withColumn("kept_frac", expr(
        "((20000 * n_final + n_input) div (2 * n_input)) / cast(10000 as double)"))
      .orderBy("source")
  }

  /** Per-source row counts of each named stage, one column per stage in
    * order; a source absent from a later stage counts 0 there. */
  private def stageCounts(stages: (String, DataFrame)*): DataFrame = {
    def cnt(name: String, df: DataFrame) =
      df.groupBy("source").agg(count(lit(1)).as(name))
    stages.tail.foldLeft(cnt(stages.head._1, stages.head._2)) {
      case (acc, (name, df)) => acc.join(cnt(name, df), Seq("source"), "left")
    }.na.fill(0L, stages.tail.map(_._1))
  }

  /** p02 — the `observe` data-quality counters as a GRADED query: the
    * reference's quality-check queries (row counts, char volume, null
    * checks — ref lines 95–131) computed as free by-products of a
    * curation job instead of separate scans. The counters accumulate in
    * AccumulatorV2s DURING one full-plan pass over quality-filter ∘
    * exact-dedup survivors (driven here by a `noop`-format write — no
    * bytes land anywhere), so at 100 TB the audit costs ZERO extra jobs
    * on top of the ETL that runs anyway. The oracle recomputes all
    * three counters from the already-oracled stage semantics (t02
    * quality rule, d01 canonical fingerprint) — proving the observed
    * metrics equal what a dedicated audit query would have returned.
    * Near-dup stays out for the same reason as p01 (custom kernels, no
    * SQL twin). */
  def p02(t: Tables): DataFrame = {
    import TrainingDataPipeline._
    val obs = org.apache.spark.sql.Observation()
    exactDedup(qualityFilter(t.documents))
      .observe(obs,
        count(lit(1)).as("rows_out"),
        // coalesce: sum over zero rows is NULL, and a counter must be
        // total (0) even if a filter combination empties the survivors
        coalesce(sum(length(col("text"))).cast("bigint"), lit(0L))
          .as("total_chars"),
        coalesce(sum(when(col("text").isNull, 1L).otherwise(0L)), lit(0L))
          .as("null_texts"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    import t.spark.implicits._
    Seq((m("rows_out").asInstanceOf[Long],
        m("total_chars").asInstanceOf[Long],
        m("null_texts").asInstanceOf[Long]))
      .toDF("rows_out", "total_chars", "null_texts")
  }

  /** p03 — the training-mix builder end-to-end: t24's token-budget
    * weighting → deterministic rate sampling → t16's sequence packing,
    * composed into the "construct the mixture" job a training run
    * actually launches, reporting plan vs achievement per source
    * (weight, kept docs/tokens, packed 512-token sequences).
    *
    * Sampling is a pure function of doc_id — keep iff the first 8 md5
    * hex chars, read as a uniform 32-bit integer, fall under the
    * source's weight: h32·10⁴ < weight_bp·2³² in exact int64 cross-
    * multiplication (h32 < 2³², weight_bp ≤ 10⁴ ⇒ both sides < 2⁶⁰).
    * That makes the sample reproducible on any engine, any partitioning,
    * any executor count — the t23 hash-threshold idea as a RATE (t23
    * caps a count; a mixture needs a fraction), with no RNG state and
    * no shuffled sort. Expected kept fraction per source is
    * weight_bp/10⁴ exactly; achieved counts are gated against the same
    * arithmetic in DuckDB.
    *
    * Scale shape: one kernel scan builds (n_tokens, h32) per doc; the
    * 20-row weight table broadcasts back (never a shuffle of the
    * corpus); packing's running sum windows over kept docs only —
    * O(corpus·weight) rows, partitioned by source exactly like t16.
    * The per-doc relation is persisted across its two consumers (the
    * weight aggregation and the sample filter), so the corpus scans
    * once. */
  def p03(t: Tables): DataFrame = Intermediates.materialized { in =>
    import org.apache.spark.sql.expressions.Window
    val docs = in.keep(t.documents.select(col("doc_id"), col("source"),
        graft.functions.exprs.quality_scan(col("text"))
          .getField("n_tokens").cast("bigint").as("n_tokens"),
        expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8)," +
          " 16, 10) as bigint)").as("h32")))
    val perSrc = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("src_tokens"))
    val tot = perSrc.agg(sum(col("src_tokens")).as("tot_tokens"),
      count(lit(1)).as("n_sources"))
    val weights = perSrc.crossJoin(broadcast(tot))
      .withColumn("weight_bp", least(lit(10000L),
        expr("(tot_tokens DIV (2 * n_sources)) * 10000 DIV src_tokens")))
      .select(col("source"), col("n_docs"), col("src_tokens"),
        col("weight_bp"))
    val kept = docs
      .join(broadcast(weights.select(col("source"), col("weight_bp"))),
        "source")
      .filter(col("h32") * lit(10000L) < col("weight_bp") * lit(4294967296L))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val achieved = kept
      .withColumn("cum_before",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("pack_id", expr("cum_before div 512"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("kept_tokens"),
        countDistinct(col("pack_id")).as("n_packs"))
    weights.join(achieved, Seq("source"), "left")
      .na.fill(0L, Seq("n_kept", "kept_tokens", "n_packs"))
      .orderBy("source")
  }

  /** p04 — the curation ABLATION matrix: p01 composes the gates
    * sequentially (each stage sees only prior survivors), so its counts
    * cannot say which gate does the work or how much the gates overlap
    * — the question every filtering paper answers with an ablation
    * table. p04 evaluates the five oracle-expressible gates
    * INDEPENDENTLY over the same scrubbed corpus (quality rule, exact-
    * dup survivorship, verified near-dup loserhood, LM fluency,
    * benchmark contamination) and
    * reports, per source: docs failing each gate alone, docs failing
    * any, and docs failing ≥2 (the overlap mass — high overlap means a
    * cheap gate can run first and spare the expensive one). Round 6
    * adds the fifth gate the family was missing: exact-verified
    * NEAR-dup loserhood (the d04 pair relation over the scrubbed
    * corpus — oracle-expressible since the verified rebase), evaluated
    * independently like the rest.
    *
    * The one semantic delta vs p01 is deliberate and documented: the
    * ablation LM trains on the full scrubbed corpus (each gate must be
    * independent), while p01's trains post-dedup; the threshold
    * constant is shared. Scale shape: one persisted corpus scan feeds
    * four flag relations (map-only quality flag; one fp shuffle; the
    * t17 SHUFFLE_HASH LM probe; broadcast bench grams) joined back by
    * doc_id — LEFT joins so a doc missing from a gate relation is a
    * fail, never a dropped row — then one rollup to 20 source rows. */
  def p04(t: Tables): DataFrame = Intermediates.materialized { in =>
    import TrainingDataPipeline._
    val input = t.documents
    val corpus = in.keep(scrub(input.filter(col("doc_id") % 50 =!= 0)))
    val bench = input.filter(col("doc_id") % 50 === 0)
    val qFlag = corpus.select(col("doc_id"),
      qualityOk(graft.functions.exprs.quality_scan(col("text")),
        length(col("text"))).as("q_ok"))
    val dSurvivors = exactSurvivors(corpus).withColumn("d_ok", lit(true))
    val ndLosers = nearDupLosers(corpus).withColumn("nd_ok", lit(false))
    val lPass = lmPass(corpus).withColumn("l_ok", lit(true))
    val contaminatedIds = contaminated(corpus, benchGrams(bench))
      .withColumn("c_ok", lit(false))
    val flags = corpus.select(col("doc_id"), col("source"))
      .join(qFlag, Seq("doc_id"), "left")
      .join(dSurvivors, Seq("doc_id"), "left")
      .join(ndLosers, Seq("doc_id"), "left")
      .join(lPass, Seq("doc_id"), "left")
      .join(contaminatedIds, Seq("doc_id"), "left")
      .select(col("source"),
        coalesce(col("q_ok"), lit(false)).as("q_ok"),
        coalesce(col("d_ok"), lit(false)).as("d_ok"),
        coalesce(col("nd_ok"), lit(true)).as("nd_ok"),
        coalesce(col("l_ok"), lit(false)).as("l_ok"),
        coalesce(col("c_ok"), lit(true)).as("c_ok"))
    flags.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("q_ok"), 1L).otherwise(0L)).as("q_fail"),
        sum(when(!col("d_ok"), 1L).otherwise(0L)).as("d_fail"),
        sum(when(!col("nd_ok"), 1L).otherwise(0L)).as("nd_fail"),
        sum(when(!col("l_ok"), 1L).otherwise(0L)).as("l_fail"),
        sum(when(!col("c_ok"), 1L).otherwise(0L)).as("c_fail"),
        sum(when(!(col("q_ok") && col("d_ok") && col("nd_ok") &&
          col("l_ok") && col("c_ok")), 1L).otherwise(0L)).as("fail_any"),
        sum(when(
          (when(!col("q_ok"), 1).otherwise(0) +
            when(!col("d_ok"), 1).otherwise(0) +
            when(!col("nd_ok"), 1).otherwise(0) +
            when(!col("l_ok"), 1).otherwise(0) +
            when(!col("c_ok"), 1).otherwise(0)) >= 2, 1L)
          .otherwise(0L)).as("fail_multi"))
      .orderBy("source")
  }

  /** p05 — dedup-aware mixture weights: t24 budgets sources by RAW
    * token mass, but duplicated mass shouldn't buy a source budget
    * (weighting on raw counts lets a source inflate its share by
    * shipping copies — and over-weights boilerplate-heavy crawls).
    * p05 recomputes the same token-budget weighting on UNIQUE token
    * mass (exact-dup survivors only, d01/d14 fingerprint semantics)
    * and reports both weightings side by side with the shift — the
    * audit that decides whether a mixture needs the dedup-aware
    * correction at all (big deltas ⇒ yes).
    *
    * Scale shape: one corpus scan computes (fp, n_tokens) per doc; the
    * survivor filter is the d14 fp shuffle; both weightings aggregate
    * the same per-source rows and the grand totals ride broadcast
    * scalars (t24's q02 pattern). All arithmetic exact basis points. */
  def p05(t: Tables): DataFrame = Intermediates.run { in =>
    import graft.functions.exprs.{canon_fp, quality_scan}
    val docs = in.keep(t.documentsWide.select(col("doc_id"), col("source"),
        canon_fp(col("text")).as("fp"),
        quality_scan(col("text")).getField("n_tokens").cast("bigint")
          .as("ntk")))
    // materialize the kernel scan (fp/ntk per doc, session-width map
    // stage) and size the rollup tail to its row count: every exchange
    // below moves O(docs) NARROW rows (id, fp, ntk), for which the
    // session's static width is pure per-task overhead (r16 paired
    // sweep: 32→8 read 0.684 on this query, 8→4 another 0.821)
    val nDocs = docs.count()
    graft.Parts.home(t.spark, graft.Parts.scoped(t,
        graft.Parts.forRows(t.spark, nDocs, 150000L)) { c =>
      p05Tail(graft.Parts.home(c.spark, docs)).localCheckpoint()
    })
  }

  private def p05Tail(docs: DataFrame): DataFrame = {
    val survivors = docs.groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val perSrc = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("ntk")).as("raw_tokens"))
    val uniqSrc = docs.join(survivors, Seq("doc_id"), "left_semi")
      .groupBy("source")
      .agg(count(lit(1)).as("n_unique_docs"),
        sum(col("ntk")).as("unique_tokens"))
    val joined = perSrc.join(uniqSrc, "source")
    val tot = joined.agg(
      sum(col("raw_tokens")).as("tot_raw"),
      sum(col("unique_tokens")).as("tot_unique"),
      count(lit(1)).as("n_sources"))
    joined.crossJoin(broadcast(tot))
      .withColumn("weight_raw_bp", least(lit(10000L),
        expr("(tot_raw DIV (2 * n_sources)) * 10000 DIV raw_tokens")))
      .withColumn("weight_unique_bp", least(lit(10000L),
        expr("(tot_unique DIV (2 * n_sources)) * 10000 DIV unique_tokens")))
      .select(col("source"), col("n_docs"), col("n_unique_docs"),
        col("raw_tokens"), col("unique_tokens"),
        col("weight_raw_bp"), col("weight_unique_bp"),
        (col("weight_unique_bp") - col("weight_raw_bp")).as("shift_bp"))
      .orderBy("source")
  }

  /** p06 — the incremental-ingest ADMISSION pipeline: p01 is the
    * from-scratch curation run; production corpora grow by daily
    * batches, and re-running p01 over corpus+batch is O(corpus) per day
    * — the one cost profile a 100 TB pipeline cannot afford. p06 is the
    * admission decision for ONE batch against a STANDING corpus: the
    * batch (d11's hash split: last md5(doc_id) hex ≥ 'd', ~19% of the
    * corpus; bench docs doc_id % 50 == 0 held out as the eval set)
    * passes the quality gate, drops docs whose canonical fingerprint
    * the standing index already holds, exact-dedups within itself
    * (min-doc_id survivor), then decontaminates against the eval set —
    * reporting per-source survivors at each stage, admitted token mass,
    * and the admit fraction.
    *
    * Scale shape: every stage is O(batch) — the standing corpus is
    * touched ONLY as its one-column distinct-fp index (probed via
    * left_anti join; a production index is bucketed on fp, the q81
    * layout, making the probe exchange-free on the index side), bench
    * grams broadcast (eval sets are tiny), and the stage functions are
    * the SAME TrainingDataPipeline kernels p01 grades — one live
    * definition of quality/dedup/decontamination semantics. */
  def p06(t: Tables): DataFrame = Intermediates.materialized { in =>
    import TrainingDataPipeline._
    import graft.functions.exprs.canon_fp
    val input = t.documents
    val bench = input.filter(col("doc_id") % 50 === 0)
    val corpus = input.filter(col("doc_id") % 50 =!= 0)
    val split = substring(md5(col("doc_id").cast("string")), 32, 1)
    val baseFps = corpus.filter(split < "d")
      .select(canon_fp(col("text")).as("fp")).distinct()
    val incoming = in.keep(corpus.filter(split >= "d"))
    val q = in.keep(qualityFilter(incoming))
    val novel = in.keep(q.withColumn("fp", canon_fp(col("text")))
      .join(baseFps, Seq("fp"), "left_anti").drop("fp"))
    val uniq = in.keep(exactDedup(novel))
    val admitted = in.keep(decontaminate(uniq, bench))
    admissionRollup(incoming, q, novel, uniq, admitted)
  }

  /** The per-source admission rollup shared by p06 and its streaming twin
    * st17 (ONE live definition of the reporting semantics, as the stage
    * kernels are one live definition of the gate semantics): survivors at
    * every stage, admitted token mass, exact-integer admit fraction. Each
    * input needs a `source` column; `admitted` additionally needs `text`
    * (token mass is computed here, from the same quality_scan kernel the
    * gate uses). */
  private[graft] def admissionRollup(incoming: DataFrame, q: DataFrame,
      novel: DataFrame, uniq: DataFrame, admitted: DataFrame): DataFrame = {
    import graft.functions.exprs.quality_scan
    val admTok = admitted
      .withColumn("ntk",
        quality_scan(col("text")).getField("n_tokens").cast("bigint"))
      .groupBy("source").agg(sum(col("ntk")).as("admitted_tokens"))
    stageCounts("n_incoming" -> incoming, "n_quality" -> q,
        "n_novel" -> novel, "n_unique" -> uniq, "n_admitted" -> admitted)
      .join(admTok, Seq("source"), "left")
      .na.fill(0L, Seq("admitted_tokens"))
      // exact-integer basis points (the p01 kept_frac pattern): float
      // division rounds differently across engines on representation ties
      .withColumn("admit_frac", expr(
        "((20000 * n_admitted + n_incoming) div (2 * n_incoming))" +
          " / cast(10000 as double)"))
      .orderBy("source")
  }

  val queries: Map[String, Tables => DataFrame] = Map(
    "p01_curation_pipeline" -> p01,
    "p02_observe_metrics" -> p02,
    "p03_mixture_builder" -> p03,
    "p04_ablation_matrix" -> p04,
    "p05_dedup_aware_mixture" -> p05,
    "p06_incremental_curation" -> p06)

  // The composed oracle: each CTE is the DuckDB twin of one stage's
  // already-oracled semantics, chained on the previous stage's survivors.
  private val EmailRe = raw"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
  private val IpRe = raw"\b\d{1,3}(\.\d{1,3}){3}\b"

  val oracles: Map[String, String] = Map(
    "p01_curation_pipeline" ->
      raw"""WITH corpus AS (
         |  SELECT doc_id, source,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '$EmailRe', '<EMAIL>', 'g'),
         |      '$IpRe', '<IP>', 'g'),
         |      '\d{6,}', '<ID>', 'g') AS text
         |  FROM documents WHERE doc_id % 50 <> 0),
         |q AS (
         |  SELECT doc_id, source, text FROM (
         |    SELECT *,
         |      CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
         |        AS ntk,
         |      length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS npunct,
         |      length(text) AS nch
         |    FROM corpus)
         |  WHERE ntk BETWEEN 10 AND 1000 AND npunct * 1.0 / nch < 0.2),
         |e AS (
         |  SELECT q.* FROM q JOIN (
         |    SELECT min(doc_id) AS doc_id FROM (
         |      SELECT doc_id,
         |        md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
         |      FROM q)
         |    GROUP BY fp) s USING (doc_id)),
         |ndt AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
         |        FROM e),
         |ndg AS (SELECT DISTINCT doc_id, g FROM (
         |   SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS g
         |   FROM ndt, UNNEST(range(1, len(tk) - 1)) AS t(i)
         |   WHERE len(tk) >= 3
         |   UNION ALL
         |   SELECT doc_id, array_to_string(tk, ' ') FROM ndt
         |   WHERE len(tk) < 3)),
         |nds AS (SELECT doc_id, count(*) AS ng FROM ndg GROUP BY doc_id),
         |nd_losers AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM (
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
         |    FROM ndg a JOIN ndg b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY doc_a, doc_b) sh
         |  JOIN nds sa ON sa.doc_id = sh.doc_a
         |  JOIN nds sb ON sb.doc_id = sh.doc_b
         |  WHERE sh.s * 10 >= (sa.ng + sb.ng - sh.s) * 3),
         |n AS (SELECT * FROM e
         |      WHERE doc_id NOT IN (SELECT doc_id FROM nd_losers)),
         |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
         |         FROM n),
         |bg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
         |       FROM toks, UNNEST(range(1, len(tk))) AS t(i)
         |       WHERE len(tk) >= 2),
         |uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
         |bi AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         |scored AS (SELECT doc_id, count(*) AS nb,
         |    sum(CAST(round(ln(c12 * 1.0 / c1) * 10000) AS BIGINT)) AS slp
         |  FROM bg JOIN bi USING (w1, w2) JOIN uni USING (w1)
         |  GROUP BY doc_id),
         |p AS (SELECT n.* FROM n JOIN scored USING (doc_id)
         |      WHERE slp >= ${graft.text.TextOps.LmKeepThresholdQ4} * nb),
         |ptoks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
         |          FROM p),
         |pg AS (SELECT DISTINCT doc_id, g FROM (
         |   SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS g
         |   FROM ptoks, UNNEST(range(1, len(tk) - 6)) AS t(i)
         |   WHERE len(tk) >= 8
         |   UNION ALL
         |   SELECT doc_id, array_to_string(tk, ' ') FROM ptoks
         |   WHERE len(tk) < 8)),
         |btoks AS (SELECT string_split_regex(trim(text), '\s+') AS tk
         |          FROM documents WHERE doc_id % 50 = 0),
         |bgrams AS (SELECT DISTINCT g FROM (
         |   SELECT array_to_string(tk[i:i+7], ' ') AS g
         |   FROM btoks, UNNEST(range(1, len(tk) - 6)) AS t(i)
         |   WHERE len(tk) >= 8
         |   UNION ALL
         |   SELECT array_to_string(tk, ' ') FROM btoks WHERE len(tk) < 8)),
         |contaminated AS (SELECT DISTINCT doc_id FROM pg
         |                 JOIN bgrams USING (g)),
         |d AS (SELECT * FROM p
         |      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
         |SELECT i.source AS source, i.n AS n_input,
         |  CAST(coalesce(qn.n, 0) AS BIGINT) AS n_quality,
         |  CAST(coalesce(en.n, 0) AS BIGINT) AS n_exact,
         |  CAST(coalesce(nn.n, 0) AS BIGINT) AS n_neardup,
         |  CAST(coalesce(pn.n, 0) AS BIGINT) AS n_lm,
         |  CAST(coalesce(dn.n, 0) AS BIGINT) AS n_final,
         |  ((20000 * CAST(coalesce(dn.n, 0) AS BIGINT) + i.n)
         |    // (2 * i.n)) / 10000.0 AS kept_frac
         |FROM (SELECT source, count(*) AS n FROM corpus GROUP BY source) i
         |LEFT JOIN (SELECT source, count(*) AS n FROM q GROUP BY source) qn
         |  USING (source)
         |LEFT JOIN (SELECT source, count(*) AS n FROM e GROUP BY source) en
         |  USING (source)
         |LEFT JOIN (SELECT source, count(*) AS n FROM n GROUP BY source) nn
         |  USING (source)
         |LEFT JOIN (SELECT source, count(*) AS n FROM p GROUP BY source) pn
         |  USING (source)
         |LEFT JOIN (SELECT source, count(*) AS n FROM d GROUP BY source) dn
         |  USING (source)
         |ORDER BY source""".stripMargin,
    // the observed counters recomputed from the same stage semantics
    // (quality rule over the RAW documents — p02 does not scrub — then
    // canonical-fingerprint exact dedup), as a dedicated audit query
    "p02_observe_metrics" ->
      raw"""WITH q AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
         |        AS ntk,
         |      length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
         |        AS npunct,
         |      length(text) AS nch
         |    FROM documents)
         |  WHERE ntk BETWEEN 10 AND 1000 AND npunct * 1.0 / nch < 0.2),
         |e AS (
         |  SELECT q.* FROM q JOIN (
         |    SELECT min(doc_id) AS doc_id FROM (
         |      SELECT doc_id,
         |        md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
         |          AS fp
         |      FROM q)
         |    GROUP BY fp) s USING (doc_id))
         |SELECT CAST(count(*) AS BIGINT) AS rows_out,
         |  CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS total_chars,
         |  CAST(count(CASE WHEN text IS NULL THEN 1 END) AS BIGINT)
         |    AS null_texts
         |FROM e""".stripMargin,
    // each gate's already-oracled twin evaluated INDEPENDENTLY over the
    // same scrubbed corpus, left-joined back as flags
    "p04_ablation_matrix" ->
      raw"""WITH corpus AS (
         |  SELECT doc_id, source,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '$EmailRe', '<EMAIL>', 'g'),
         |      '$IpRe', '<IP>', 'g'),
         |      '\d{6,}', '<ID>', 'g') AS text
         |  FROM documents WHERE doc_id % 50 <> 0),
         |q AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id,
         |      CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
         |        AS ntk,
         |      length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS npunct,
         |      length(text) AS nch
         |    FROM corpus)
         |  WHERE ntk BETWEEN 10 AND 1000 AND npunct * 1.0 / nch < 0.2),
         |surv AS (
         |  SELECT min(doc_id) AS doc_id FROM (
         |    SELECT doc_id,
         |      md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
         |    FROM corpus)
         |  GROUP BY fp),
         |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
         |         FROM corpus),
         |bg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
         |       FROM toks, UNNEST(range(1, len(tk))) AS t(i)
         |       WHERE len(tk) >= 2),
         |uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
         |bi AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         |lpass AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, count(*) AS nb,
         |      sum(CAST(round(ln(c12 * 1.0 / c1) * 10000) AS BIGINT)) AS slp
         |    FROM bg JOIN bi USING (w1, w2) JOIN uni USING (w1)
         |    GROUP BY doc_id)
         |  WHERE slp >= ${graft.text.TextOps.LmKeepThresholdQ4} * nb),
         |pg AS (SELECT DISTINCT doc_id, g FROM (
         |   SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS g
         |   FROM toks, UNNEST(range(1, len(tk) - 6)) AS t(i)
         |   WHERE len(tk) >= 8
         |   UNION ALL
         |   SELECT doc_id, array_to_string(tk, ' ') FROM toks
         |   WHERE len(tk) < 8)),
         |btoks AS (SELECT string_split_regex(trim(text), '\s+') AS tk
         |          FROM documents WHERE doc_id % 50 = 0),
         |bgrams AS (SELECT DISTINCT g FROM (
         |   SELECT array_to_string(tk[i:i+7], ' ') AS g
         |   FROM btoks, UNNEST(range(1, len(tk) - 6)) AS t(i)
         |   WHERE len(tk) >= 8
         |   UNION ALL
         |   SELECT array_to_string(tk, ' ') FROM btoks WHERE len(tk) < 8)),
         |contaminated AS (SELECT DISTINCT doc_id FROM pg
         |                 JOIN bgrams USING (g)),
         |ndg AS (SELECT DISTINCT doc_id, g FROM (
         |   SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS g
         |   FROM toks, UNNEST(range(1, len(tk) - 1)) AS t(i)
         |   WHERE len(tk) >= 3
         |   UNION ALL
         |   SELECT doc_id, array_to_string(tk, ' ') FROM toks
         |   WHERE len(tk) < 3)),
         |nds AS (SELECT doc_id, count(*) AS ng FROM ndg GROUP BY doc_id),
         |nd_losers AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM (
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS sh
         |    FROM ndg a JOIN ndg b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY doc_a, doc_b) shp
         |  JOIN nds sa ON sa.doc_id = shp.doc_a
         |  JOIN nds sb ON sb.doc_id = shp.doc_b
         |  WHERE shp.sh * 10 >= (sa.ng + sb.ng - shp.sh) * 3),
         |flags AS (
         |  SELECT c.source,
         |    (q.doc_id IS NOT NULL) AS q_ok,
         |    (s.doc_id IS NOT NULL) AS d_ok,
         |    (nl.doc_id IS NULL) AS nd_ok,
         |    (l.doc_id IS NOT NULL) AS l_ok,
         |    (x.doc_id IS NULL) AS c_ok
         |  FROM corpus c
         |  LEFT JOIN q ON c.doc_id = q.doc_id
         |  LEFT JOIN surv s ON c.doc_id = s.doc_id
         |  LEFT JOIN nd_losers nl ON c.doc_id = nl.doc_id
         |  LEFT JOIN lpass l ON c.doc_id = l.doc_id
         |  LEFT JOIN contaminated x ON c.doc_id = x.doc_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(count(CASE WHEN NOT q_ok THEN 1 END) AS BIGINT) AS q_fail,
         |  CAST(count(CASE WHEN NOT d_ok THEN 1 END) AS BIGINT) AS d_fail,
         |  CAST(count(CASE WHEN NOT nd_ok THEN 1 END) AS BIGINT)
         |    AS nd_fail,
         |  CAST(count(CASE WHEN NOT l_ok THEN 1 END) AS BIGINT) AS l_fail,
         |  CAST(count(CASE WHEN NOT c_ok THEN 1 END) AS BIGINT) AS c_fail,
         |  CAST(count(CASE WHEN NOT (q_ok AND d_ok AND nd_ok AND l_ok
         |    AND c_ok) THEN 1 END) AS BIGINT) AS fail_any,
         |  CAST(count(CASE WHEN
         |      (CASE WHEN q_ok THEN 0 ELSE 1 END) +
         |      (CASE WHEN d_ok THEN 0 ELSE 1 END) +
         |      (CASE WHEN nd_ok THEN 0 ELSE 1 END) +
         |      (CASE WHEN l_ok THEN 0 ELSE 1 END) +
         |      (CASE WHEN c_ok THEN 0 ELSE 1 END) >= 2
         |    THEN 1 END) AS BIGINT) AS fail_multi
         |FROM flags GROUP BY source ORDER BY source""".stripMargin,
    // both weightings from the d01 fingerprint + shared tokenizer twins
    "p05_dedup_aware_mixture" ->
      raw"""WITH docs AS (
         |  SELECT doc_id, source,
         |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
         |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
         |      AS ntk
         |  FROM documents),
         |surv AS (SELECT min(doc_id) AS doc_id FROM docs GROUP BY fp),
         |per AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(ntk) AS BIGINT) AS raw_tokens
         |  FROM docs GROUP BY source),
         |uniq AS (
         |  SELECT d.source, count(*) AS n_unique_docs,
         |    CAST(sum(d.ntk) AS BIGINT) AS unique_tokens
         |  FROM docs d JOIN surv USING (doc_id) GROUP BY d.source),
         |j AS (SELECT * FROM per JOIN uniq USING (source)),
         |tot AS (SELECT CAST(sum(raw_tokens) AS BIGINT) AS tot_raw,
         |               CAST(sum(unique_tokens) AS BIGINT) AS tot_unique,
         |               count(*) AS n_sources FROM j)
         |SELECT source, n_docs, n_unique_docs, raw_tokens, unique_tokens,
         |  least(10000, (tot_raw // (2 * n_sources)) * 10000
         |    // raw_tokens) AS weight_raw_bp,
         |  least(10000, (tot_unique // (2 * n_sources)) * 10000
         |    // unique_tokens) AS weight_unique_bp,
         |  least(10000, (tot_unique // (2 * n_sources)) * 10000
         |    // unique_tokens)
         |  - least(10000, (tot_raw // (2 * n_sources)) * 10000
         |    // raw_tokens) AS shift_bp
         |FROM j, tot ORDER BY source""".stripMargin,
    // the admission chain composed from already-oracled stage twins:
    // d11's md5 split + canonical fp, p01's quality rule and in-batch
    // min-doc_id dedup, p01's 8-gram decontamination — each CTE on
    // the previous stage's survivors, batch-side only. The decontam
    // stage joins the literal gram STRINGS on both engines (ngram_strs;
    // round-13 verdict task 5), so the comparison is exact identity.
    "p06_incremental_curation" ->
      raw"""WITH corpus AS (
         |  SELECT doc_id, source, text FROM documents
         |  WHERE doc_id % 50 <> 0),
         |sp AS (
         |  SELECT *, substring(md5(CAST(doc_id AS VARCHAR)), 32, 1) < 'd'
         |    AS is_base
         |  FROM corpus),
         |base_fp AS (
         |  SELECT DISTINCT
         |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
         |  FROM sp WHERE is_base),
         |inc AS (SELECT doc_id, source, text FROM sp WHERE NOT is_base),
         |q AS (
         |  SELECT doc_id, source, text FROM (
         |    SELECT *,
         |      CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
         |        AS ntk,
         |      length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS npunct,
         |      length(text) AS nch
         |    FROM inc)
         |  WHERE ntk BETWEEN 10 AND 1000 AND npunct * 1.0 / nch < 0.2),
         |qf AS (
         |  SELECT *,
         |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
         |  FROM q),
         |novel AS (
         |  SELECT * FROM qf WHERE fp NOT IN (SELECT fp FROM base_fp)),
         |uniq AS (
         |  SELECT n.* FROM novel n JOIN (
         |    SELECT min(doc_id) AS doc_id FROM novel GROUP BY fp) s
         |  USING (doc_id)),
         |utoks AS (SELECT doc_id, string_split_regex(trim(text), '\s+')
         |            AS tk FROM uniq),
         |ug AS (SELECT DISTINCT doc_id, g FROM (
         |   SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS g
         |   FROM utoks, UNNEST(range(1, len(tk) - 6)) AS t(i)
         |   WHERE len(tk) >= 8
         |   UNION ALL
         |   SELECT doc_id, array_to_string(tk, ' ') FROM utoks
         |   WHERE len(tk) < 8)),
         |btoks AS (SELECT string_split_regex(trim(text), '\s+') AS tk
         |          FROM documents WHERE doc_id % 50 = 0),
         |bgrams AS (SELECT DISTINCT g FROM (
         |   SELECT array_to_string(tk[i:i+7], ' ') AS g
         |   FROM btoks, UNNEST(range(1, len(tk) - 6)) AS t(i)
         |   WHERE len(tk) >= 8
         |   UNION ALL
         |   SELECT array_to_string(tk, ' ') FROM btoks WHERE len(tk) < 8)),
         |contaminated AS (SELECT DISTINCT doc_id FROM ug
         |                 JOIN bgrams USING (g)),
         |adm AS (SELECT * FROM uniq
         |        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |admtok AS (
         |  SELECT source,
         |    CAST(sum(CAST(len(string_split_regex(trim(text), '\s+'))
         |      AS BIGINT)) AS BIGINT) AS admitted_tokens
         |  FROM adm GROUP BY source)
         |SELECT i.source AS source, i.n AS n_incoming,
         |  CAST(coalesce(qn.n, 0) AS BIGINT) AS n_quality,
         |  CAST(coalesce(nn.n, 0) AS BIGINT) AS n_novel,
         |  CAST(coalesce(un.n, 0) AS BIGINT) AS n_unique,
         |  CAST(coalesce(an.n, 0) AS BIGINT) AS n_admitted,
         |  CAST(coalesce(at.admitted_tokens, 0) AS BIGINT)
         |    AS admitted_tokens,
         |  ((20000 * CAST(coalesce(an.n, 0) AS BIGINT) + i.n)
         |    // (2 * i.n)) / 10000.0 AS admit_frac
         |FROM (SELECT source, count(*) AS n FROM inc GROUP BY source) i
         |LEFT JOIN (SELECT source, count(*) AS n FROM q GROUP BY source) qn
         |  USING (source)
         |LEFT JOIN (SELECT source, count(*) AS n FROM novel
         |           GROUP BY source) nn USING (source)
         |LEFT JOIN (SELECT source, count(*) AS n FROM uniq
         |           GROUP BY source) un USING (source)
         |LEFT JOIN (SELECT source, count(*) AS n FROM adm
         |           GROUP BY source) an USING (source)
         |LEFT JOIN admtok at USING (source)
         |ORDER BY source""".stripMargin,
    // weight → rate-sample → pack, each CTE the DuckDB twin of the
    // already-oracled t24 / t23-hash / t16 semantics; the sample filter
    // is the identical exact int64 cross-multiply
    "p03_mixture_builder" ->
      raw"""WITH docs AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
         |      AS n_tokens,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
         |      AS BIGINT) AS h32
         |  FROM documents),
         |per_src AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS src_tokens
         |  FROM docs GROUP BY source),
         |tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS tot_tokens,
         |               count(*) AS n_sources FROM per_src),
         |weights AS (
         |  SELECT source, n_docs, src_tokens,
         |    least(10000, (tot_tokens // (2 * n_sources)) * 10000
         |      // src_tokens) AS weight_bp
         |  FROM per_src, tot),
         |kept AS (
         |  SELECT d.source, d.doc_id, d.n_tokens
         |  FROM docs d JOIN weights w USING (source)
         |  WHERE d.h32 * 10000 < w.weight_bp * 4294967296),
         |packed AS (
         |  SELECT source, n_tokens,
         |    (sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |       ROWS UNBOUNDED PRECEDING) - n_tokens) // 512 AS pack_id
         |  FROM kept),
         |achieved AS (
         |  SELECT source, count(*) AS n_kept,
         |    CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
         |    CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs
         |  FROM packed GROUP BY source)
         |SELECT w.source, w.n_docs, w.src_tokens,
         |  CAST(w.weight_bp AS BIGINT) AS weight_bp,
         |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(coalesce(a.kept_tokens, 0) AS BIGINT) AS kept_tokens,
         |  CAST(coalesce(a.n_packs, 0) AS BIGINT) AS n_packs
         |FROM weights w LEFT JOIN achieved a USING (source)
         |ORDER BY w.source""".stripMargin)
}
