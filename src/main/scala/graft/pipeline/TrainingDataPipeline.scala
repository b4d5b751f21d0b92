package graft.pipeline

import graft.{Intermediates, Tables}
import graft.functions.exprs
import graft.functions.exprs.minhash_ngrams
import graft.sources.PartitionedWriter
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the composition every large-scale
  * corpus build runs, wired from the individual SURVEY §2 operators:
  *
  *   PII scrub → quality filter → exact dedup → MinHash near-dup removal →
  *   LM-perplexity gate → benchmark decontamination → partitioned write
  *   (by lang)
  *
  * Scale shape: map-only passes for scrub + quality + signatures, one
  * shuffle for exact dedup (fingerprint), one banding shuffle for
  * near-dups, one hash join to subtract losers, a broadcast join against
  * the (tiny) benchmark gram set, partitioned columnar write. Nothing
  * touches the driver; no stage is O(pairs).
  *
  * Stage order matters: scrub runs FIRST so fingerprints/signatures are
  * computed over the released (redacted) text — two docs differing only
  * in redacted PII dedup as the duplicates they are.
  *
  * Each gate is defined once here, as a predicate ([[qualityOk]]) or as
  * the doc ids passing or failing it ([[exactSurvivors]],
  * [[nearDupLosers]], [[lmPass]], [[contaminated]]); the stage filters,
  * p04's independent gate flags and t02's `quality_ok` derive from them.
  */
object TrainingDataPipeline {

  case class Stats(input: Long, afterQuality: Long, afterExact: Long,
                   afterNearDup: Long, afterLm: Long, afterDecontam: Long)

  private val K = 32
  private val Bands = 8
  private val Seed = 42L

  /** PII scrub (the t14 operator as a pipeline stage): map-only redaction
    * of emails / IPs / id numbers in place. */
  def scrub(docs: DataFrame): DataFrame =
    docs.withColumn("text", graft.text.TextOps.scrubText(col("text")))

  /** The quality rule over a document's `quality_scan` struct `qs` and
    * its length in chars: token-count band AND punctuation ratio < 0.2 —
    * a long document that is mostly punctuation is spam, not prose. */
  def qualityOk(qs: Column, nChars: Column): Column =
    qs.getField("n_tokens").between(10, 1000) &&
      qs.getField("n_punct") * 1.0 / nChars < 0.2

  /** Quality gate: the documents passing [[qualityOk]]. */
  def qualityFilter(docs: DataFrame): DataFrame =
    docs.filter(
      qualityOk(exprs.quality_scan(col("text")), length(col("text"))))

  /** Exact-dup survivors: per canonical-text md5, the min doc_id. */
  def exactSurvivors(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), exprs.canon_fp(col("text")).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id")

  /** Exact dedup: the [[exactSurvivors]] of `docs`. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.join(exactSurvivors(docs), Seq("doc_id"), "left_semi")

  /** Near-dup removal: MinHash banding pairs (est Jaccard ≥ threshold),
    * drop the higher doc_id of each pair. Signatures stream 3-gram bytes
    * (no shingle materialization). Pair generation inside normal-size
    * buckets is the SHARED dedup machinery (Dedup.bucketPairs — one
    * definition of the band-bucket pair join for the whole library).
    *
    * Oversized buckets are NOT dropped: hot buckets are exactly the
    * correlated-boilerplate case where >MaxBucket near-identical docs
    * exceed the cap in EVERY band, so dropping would retain the hottest
    * duplicate clusters. They are resolved ITERATIVELY, `hotRounds`
    * representative elections deep:
    *   round — every bucket at or under the cap exits to the normal
    *   O(bucket²) pair path; each oversized bucket elects a
    *   representative (min doc_id), members estimated-similar to the rep
    *   are dropped as losers, and the remaining members (minus the rep,
    *   whose pairs were all just checked) RE-ENTER the next round.
    * Each election is O(bucket) work and removes the rep's entire
    * similarity cluster, so a hot bucket made of c mutually-near-dup
    * cliques resolves in ≤ c elections: members near-dup of EACH OTHER
    * but not of the first representative — the recall hole of a
    * single-shot rep shortcut — are caught by a later election or, once
    * the bucket shrinks under the cap, by the exact pair path
    * (PipelineSpec plants exactly that fixture).
    *
    * RESIDUAL BOUND: only a bucket still over the cap after `hotRounds`
    * elections leaves pairs unchecked — which requires > hotRounds
    * mutually-dissimilar clusters of docs co-hashing in ONE band while
    * sharing no normal-size bucket in any other band; the miss
    * probability decays with the other Bands-1 bands, and those pairs
    * are < minEst-similar to every elected rep, i.e. the bucket is
    * mostly non-dup mass by construction. Raise `hotRounds` (cost is
    * one size-count + one broadcast-size join per round on the shrinking
    * hot remnant, never O(bucket²)) for full in-bucket recall. */
  def nearDupRemoval(docs: DataFrame, minEst: Double = 0.8,
                     hotRounds: Int = 3): DataFrame = {
    // the hot-bucket cap is Dedup.MaxBucket (resolveHotBuckets' default)
    // — ONE definition, necessarily identical to bucketPairs' gate
    val sigs = docs
      .withColumn("toks", expr(exprs.wsTokensSql))
      .select(col("doc_id"), minhash_ngrams(col("toks"), 3, K, Seed).as("sig"))
    val banded = sigs.select(col("doc_id"), col("sig").as("payload"),
      posexplode(array((0 until Bands).map(b =>
        slice(col("sig"), b * (K / Bands) + 1, K / Bands)): _*))
        .as(Seq("band_id", "band_sig")))

    // Iterative rep-election is the SHARED hot-bucket machinery
    // (Dedup.resolveHotBuckets — d10's cosine path rides the same code);
    // what shrank under the cap exits to the pair path, a bucket STILL
    // oversized after the rounds is the documented residual (bucketPairs'
    // internal gate drops it rather than going O(bucket²)).
    val (normal, hotPairs) = graft.dedup.Dedup.resolveHotBuckets(
      banded, exprs.jaccard_est(_, _) >= minEst, hotRounds)
    val pairLosers = graft.dedup.Dedup
      .bucketPairs(normal)
      .filter(exprs.jaccard_est(col("p_a"), col("p_b")) >= minEst)
      .select(col("doc_b").as("doc_id"))
    val losers = pairLosers
      .union(hotPairs.select(col("doc_b").as("doc_id"))).distinct()
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Near-dup removal with EXACT decisions — the oracle-accountable
    * variant of [[nearDupRemoval]] (round-5 verdict task 3): the same
    * LSH banding generates candidates, but the drop test is the exact
    * 3-gram Jaccard (10·s ≥ 3·u) of `Dedup.verifiedPairs` rather than
    * the MinHash ESTIMATE — exact set arithmetic a SQL engine
    * reproduces on string grams, so the stage can sit inside p01's
    * fully-composed DuckDB oracle (the candidate stage needs only the
    * documented LSH recall argument, d04's oracle comment). Drop
    * policy: the higher doc_id of each verified pair loses — the same
    * pairwise policy as [[nearDupRemoval]]. Production trade-off,
    * documented: exact verification joins the gram sets back to the
    * candidates (one extra hash join over O(candidate) rows); the
    * est-based stage stays available where the signature-only pass is
    * preferred and ±1/K estimate noise is acceptable. */
  def nearDupVerifiedRemoval(docs: DataFrame): DataFrame =
    docs.join(nearDupLosers(docs), Seq("doc_id"), "left_anti")

  /** Verified near-dup losers: the higher doc_id of each exact-verified
    * pair (`Dedup.verifiedPairs`). */
  def nearDupLosers(docs: DataFrame): DataFrame =
    graft.dedup.Dedup.verifiedPairs(docs)
      .select(col("doc_b").as("doc_id")).distinct()

  /** LM-perplexity gate (the t18 operator as a pipeline stage, CCNet-
    * style): trains the MLE bigram model on the surviving corpus itself
    * and keeps documents whose average transition log-prob clears the
    * threshold — word-salad and mojibake score far below prose. Runs
    * AFTER dedup so boilerplate multiplicity can't inflate its own
    * bigram counts into fluency. The keep test is integer-exact
    * (sum_logp_q4 ≥ T·n_bigrams); docs with <2 tokens have no score and
    * are dropped (the quality gate's 10-token floor removes them
    * earlier anyway). Pass Long.MinValue to disable. */
  def perplexityFilter(docs: DataFrame,
      thresholdQ4: Long = graft.text.TextOps.LmKeepThresholdQ4): DataFrame =
    if (thresholdQ4 == Long.MinValue) docs
    else docs.join(lmPass(docs, thresholdQ4), Seq("doc_id"), "left_semi")

  /** The doc ids clearing the LM-perplexity threshold, with the bigram
    * model trained on `docs` itself. */
  def lmPass(docs: DataFrame,
      thresholdQ4: Long = graft.text.TextOps.LmKeepThresholdQ4): DataFrame =
    graft.text.TextOps.lmScoredDocs(docs)
      .filter(col("sum_logp_q4") >= lit(thresholdQ4) * col("n_bigrams"))
      .select("doc_id")

  /** Benchmark decontamination (the t10 operator as a pipeline stage):
    * drop every corpus document sharing more than `maxShared` distinct
    * word n-grams with the benchmark/eval set. The benchmark grams
    * broadcast (eval sets are tiny vs the corpus), corpus grams stream
    * through the join map-side, and the anti-join removes the hits.
    *
    * The join key is the gram STRING (ngram_strs), not a 64-bit hash:
    * this join DECIDES drops, and a hash collision between a corpus
    * gram and a bench gram would silently drop an innocent document —
    * with string keys the decision is exact and the DuckDB oracle twin
    * is an identity comparison, not a collision-odds argument (round-13
    * verdict task 5). Cost delta vs hashes: the broadcast set and the
    * map-side probe carry ~n-word strings instead of longs — still
    * O(eval set) to ship and the corpus side never shuffles its grams;
    * only per-doc hit counts (rows ∝ matches) reach the aggregation. */
  def decontaminate(docs: DataFrame, bench: DataFrame,
                    n: Int = 8, maxShared: Long = 0): DataFrame =
    decontaminateWithGrams(docs, benchGrams(bench, n), n, maxShared)

  /** The distinct benchmark n-gram relation `decontaminate` probes —
    * exposed so a caller that decontaminates MANY batches against ONE
    * static bench set (st17's per-micro-batch admission) can compute it
    * once (localCheckpoint) instead of re-scanning the bench corpus per
    * batch (r15). Pure function of (bench, n); the split keeps
    * `decontaminate(docs, bench)` byte-identical. */
  def benchGrams(bench: DataFrame, n: Int = 8): DataFrame =
    grams(bench, n).select("g").distinct()

  private def grams(df: DataFrame, n: Int) = {
    import graft.functions.exprs.ngram_strs
    df.withColumn("toks", expr(exprs.wsTokensSql))
      .select(col("doc_id"), explode(ngram_strs(col("toks"), n)).as("g"))
  }

  def decontaminateWithGrams(docs: DataFrame, bGrams: DataFrame,
                             n: Int = 8, maxShared: Long = 0): DataFrame =
    docs.join(contaminated(docs, bGrams, n, maxShared), Seq("doc_id"),
      "left_anti")

  /** The doc ids sharing more than `maxShared` distinct word n-grams with
    * the benchmark gram set `bGrams` ([[benchGrams]]). */
  def contaminated(docs: DataFrame, bGrams: DataFrame,
                   n: Int = 8, maxShared: Long = 0): DataFrame =
    grams(docs, n)
      .join(broadcast(bGrams), Seq("g"))
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared"))
      .filter(col("n_shared") > maxShared)
      .select("doc_id")

  /** Full pipeline; writes the curated corpus partitioned by lang and
    * returns per-stage counts. Documents with doc_id % 50 == 0 stand in
    * for the external eval/benchmark set: they are held out of the corpus
    * and any surviving document overlapping them is dropped.
    *
    * Each stage is persisted so it computes exactly ONCE: the write plus
    * the five Stats counts would otherwise re-execute the full upstream
    * lineage per action (the banding shuffle three times, exact dedup
    * four times) — and the stages that consume their input twice
    * internally (signature path + anti-join) read the materialized stage
    * instead of recomputing it. A production pipeline checkpoints
    * between stages for the same reason. The stages are freed when the
    * run ends, also when the write fails. */
  def run(t: Tables, outPath: String): Stats = {
    val input = t.documents
    run(input.filter(col("doc_id") % 50 =!= 0),
      input.filter(col("doc_id") % 50 === 0), outPath,
      inputCount = input.count())
  }

  /** Pipeline over an explicit (corpus, benchmark) pair — the production
    * entry point (the eval set is an external table) and the testable
    * one (a planted contaminated doc can be injected). */
  def run(corpus: DataFrame, bench: DataFrame, outPath: String,
          inputCount: Long = -1L,
          lmThresholdQ4: Long = graft.text.TextOps.LmKeepThresholdQ4): Stats =
    Intermediates.run { in =>
      val q = in.keep(qualityFilter(scrub(corpus)))
      val e = in.keep(exactDedup(q))
      val n = in.keep(nearDupRemoval(e))
      val p = in.keep(perplexityFilter(n, lmThresholdQ4))
      val d = in.keep(decontaminate(p, bench))
      PartitionedWriter.writePartitioned(d, outPath, Seq("lang"))
      val input = if (inputCount >= 0) inputCount else corpus.count()
      Stats(input, q.count(), e.count(), n.count(), p.count(), d.count())
    }

  /** The curated corpus with `observe` data-quality counters attached:
    * row count, total chars, and null-text count are accumulated DURING
    * the write job (one pass — no extra count() actions; the reference's
    * quality-check queries as free by-products of the ETL). Read the
    * metrics row from the QueryExecution after an action, or via a
    * QueryExecutionListener in production. */
  def curatedWithMetrics(t: Tables): DataFrame =
    nearDupRemoval(exactDedup(
      qualityFilter(t.documents)))
      .observe("curation_dq",
        count(lit(1)).as("rows_out"),
        sum(length(col("text"))).as("total_chars"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("null_texts"))
}
