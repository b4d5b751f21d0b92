package graft.text

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (token counting, quality scoring,
  * language ID, fingerprinting, exact dedup).
  *
  * All computed with codegen'd built-in functions (split / higher-order
  * filter / regexp / md5) — no UDFs — so the whole pipeline stays inside
  * WholeStageCodegen and scales as a map-only pass; aggregations shuffle
  * only the (tiny) group keys.
  */
object TextOps {

  /** Whitespace tokens of `text` (DuckDB oracle twin: string_split_regex). */
  private def tokensExpr = graft.functions.exprs.wsTokensSql

  private val Stopwords = graft.functions.QualityScan.Stopwords
  private def sqlList(xs: Seq[String]) = xs.map(s => s"'$s'").mkString(", ")

  /** Marker-word profiles for the language-ID heuristic. The scale path
    * for real corpora is a char-ngram naive-bayes profile; marker words
    * keep the operator oracle-checkable (SURVEY §2 t03). */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "und", "nicht"),
    "es" -> Seq("el", "la", "los", "que"),
    "fr" -> Seq("le", "les", "et", "dans"),
    "zh" -> Seq("de0", "le0", "shi0"))

  /** t01 — token + char counts per document (map-only). Token count rides
    * the quality_scan kernel, whose n_tokens replicates
    * `size(split(trim(text), '\s+'))` bit-for-bit (ExprSpec pins the
    * empty-token edges) without materializing the token array — the split
    * spelling allocates every token string per row just to count them. */
  def t01(t: Tables): DataFrame =
    t.documents
      .select(
        col("doc_id"),
        graft.functions.exprs.quality_scan(col("text"))
          .getField("n_tokens").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_obs"))
      .orderBy("doc_id")

  /** t02 — quality scoring: token count, avg token length, punctuation
    * ratio, stopword ratio, and a combined keep/drop flag. All three
    * counts come from ONE byte pass (`quality_scan`,
    * functions/TextScrub.scala) — the built-in spelling costs a regex
    * split, a punctuation regexp_replace, and an interpreted HOF
    * stopword filter per row, 3.5 s at sf1 vs 1.0 s for the kernel. */
  def t02(t: Tables): DataFrame =
    t.documents
      .withColumn("qs", graft.functions.exprs.quality_scan(col("text")))
      .withColumn("n_tokens", col("qs.n_tokens"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        round(col("n_chars") * 1.0 / col("n_tokens"), 4).as("avg_token_len"),
        round(col("qs.n_punct") * 1.0 / col("n_chars"), 4).as("punct_ratio"),
        round(col("qs.n_stop") * 1.0 / col("n_tokens"), 4).as("stopword_ratio"),
        graft.pipeline.TrainingDataPipeline
          .qualityOk(col("qs"), col("n_chars")).as("quality_ok"))
      .orderBy("doc_id")

  /** t03 — marker-word language ID; result is the (labeled lang ×
    * predicted lang) confusion matrix. */
  def t03(t: Tables): DataFrame = {
    val scored = Markers.foldLeft(t.documents.withColumn("toks", expr(tokensExpr))) {
      case (df, (lang, words)) =>
        df.withColumn(s"s_$lang",
          expr(s"size(filter(toks, x -> x IN (${sqlList(words)})))"))
    }
    val langs = Markers.map(_._1)
    val pred = langs.foldRight(lit("unknown")) { case (l, els) =>
      val isMax = langs.filter(_ != l)
        .map(o => col(s"s_$l") >= col(s"s_$o"))
        .reduce(_ && _)
      when(col(s"s_$l") > 0 && isMax, lit(l)).otherwise(els)
    }
    scored
      .select(col("lang"), pred.as("pred"))
      .groupBy("lang", "pred")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "pred")
  }

  /** Char-trigram profiles for t08 (the n-gram scale path of t03's
    * marker words — real language ID uses trained char-ngram frequencies;
    * these are the discriminative trigrams of the markers, keeping the
    * operator oracle-checkable). */
  private val TriProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "he ", " of", "and", " is"),
    "de" -> Seq("der", "die", "und", "ich", "ein"),
    "es" -> Seq("el ", "los", "que", " la", "ión"),
    "fr" -> Seq("le ", "les", "et ", "dan", "ous"),
    "zh" -> Seq("de0", "le0", "shi", "i0w", "en0"))

  /** t08 — char-trigram language ID (confusion matrix like t03): score =
    * non-overlapping profile-trigram occurrences in the lowercased text,
    * counted as (len - len(replace(text, gram, '')))/3 — pure codegen'd
    * string ops, no trigram array is ever materialized (the HOF
    * `transform(sequence(...), substring)` spelling allocates one string
    * per character position and runs interpreted — 4× slower measured).
    * Argmax with the t03 precedence; profiles are closure literals. */
  def t08(t: Tables): DataFrame = {
    def occurrences(g: String) =
      expr(s"(length(lt) - length(replace(lt, '$g', ''))) div 3")
    val scored = TriProfiles.foldLeft(
      t.documents.withColumn("lt", lower(col("text")))) {
      case (df, (lang, tris)) =>
        df.withColumn(s"c_$lang", tris.map(occurrences).reduce(_ + _))
    }
    val langs = TriProfiles.map(_._1)
    val pred = langs.foldRight(lit("unknown")) { case (l, els) =>
      val isMax = langs.filter(_ != l)
        .map(o => col(s"c_$l") >= col(s"c_$o"))
        .reduce(_ && _)
      when(col(s"c_$l") > 0 && isMax, lit(l)).otherwise(els)
    }
    scored
      .select(col("lang"), pred.as("pred"))
      .groupBy("lang", "pred")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "pred")
  }

  /** Canonical-form fingerprint: md5 of lowercased, whitespace-collapsed
    * text. Identical bytes on both engines (UTF-8). One fused pass
    * (functions.CanonFp) instead of regex + three intermediate strings;
    * ExprSpec pins equality with the built-in chain. */
  private def fingerprint = graft.functions.exprs.canon_fp(col("text"))

  /** t04 — per-document fingerprint (the dedup key). */
  def t04(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), fingerprint.as("fp"))
      .orderBy("doc_id")

  /** d01 — exact dedup corpus stats: total docs, distinct fingerprints,
    * redundant rows. Survivor selection = min(doc_id) per fingerprint;
    * single hash-aggregate shuffle on the fingerprint. */
  def d01(t: Tables): DataFrame = {
    val groups = t.documents
      .select(fingerprint.as("fp"), col("doc_id"))
      .groupBy("fp")
      .agg(count(lit(1)).as("cnt"), min("doc_id").as("survivor"))
    groups.agg(
      sum("cnt").as("n_docs"),
      count(lit(1)).as("n_distinct"),
      (sum("cnt") - count(lit(1))).as("n_dup_rows"))
  }

  /** BPE-ish regex tokenizer: letter runs / digit runs / single
    * punctuation, over lowercased text (the pre-tokenization split every
    * byte-pair encoder applies before merges). */
  // kept as the reference spelling for t05's bpe_scan kernel (ExprSpec
  // pins the kernel against regexp_extract_all with this pattern; the
  // DuckDB oracle runs the same regex)
  private[graft] val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\\\s]"

  /** t05 — BPE-ish token counts: total and distinct pre-tokens per doc.
    * One-pass `bpe_scan` kernel over the lowercased bytes (no regex, no
    * token-array materialization — the regex spelling was a 26.5 s sf10
    * tail); ExprSpec pins equality with the regexp_extract_all spelling,
    * and the DuckDB oracle still runs the regex. */
  def t05(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), graft.functions.exprs.bpe_scan(col("text")).as("b"))
      .select(
        col("doc_id"),
        col("b.n_bpe_tokens").as("n_bpe_tokens"),
        col("b.n_distinct_bpe").as("n_distinct_bpe"))
      .orderBy("doc_id")

  /** t06 — winnowing document fingerprints: per-window hashes
    * min-sampled per winnowing window; the standard plagiarism/near-dup
    * fingerprint (Schleimer et al.). Output is per-doc fingerprint-set
    * stats; the fingerprint sets themselves feed an LSH bucket join at
    * scale (d07). Round-8 rebase (verdict task 4): the hash stream is
    * the md5 window-hash kernel (winnow_md5_stats — one md5 per 16-char
    * window, window-min over 8 positions, distinct minima), so DuckDB
    * rebuilds the identical counts and the query graduates from
    * rows-only to a full SQL oracle. */
  def t06(t: Tables): DataFrame = {
    // fused winnow_md5_stats kernel: one text pass, no per-row
    // array/TreeSet materialization (the size(..)+size(..) spelling was
    // allocation-rate-bound at sf10). No global sort: the result is
    // O(corpus) rows and the driver check is order-insensitive — sorting
    // 5M+ rows for cosmetics is exactly what dies first at scale.
    val ws = graft.functions.exprs.winnow_md5_stats(col("text"), 16, 8)
    t.documents
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"),
        col("ws.n_hashes").as("n_hashes"),
        col("ws.n_fingerprints").as("n_fingerprints"))
  }

  /** t07 — TF-IDF: top-5 highest-scoring terms per document.
    * tf per (doc, term) and df per term are two hash aggregations; N is a
    * broadcast scalar; the per-doc top-5 rank filter compiles to the
    * two-phase WindowGroupLimit. Orders by the ROUNDED score so the
    * tie-break (term asc) is decided identically on both engines.
    *
    * Skew guard on tf⨝df: token frequency is Zipfian, so a plain shuffle
    * join funnels every tf row of a "the"-class token through one reducer.
    * df is split at half the corpus: the head (tokens in > N/2 docs —
    * bounded by the stopword count at any corpus size) joins broadcast
    * (map-only, no hot key ever shuffles on token), the tail joins shuffle
    * with the hot keys already removed. Disjoint split → identical result
    * set (the oracle proves it). */
  def t07(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t.documents
    val terms = docs
      .select(col("doc_id"), explode(expr(tokensExpr)).as("token"))
    val tf = terms.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val dfN = df.crossJoin(broadcast(n))
    val hotDf = dfN.filter(col("df") * 2 > col("n"))
    val coldDf = dfN.filter(col("df") * 2 <= col("n"))
    def score(joined: DataFrame) = joined
      .select(col("doc_id"), col("token"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 4)
          .as("tfidf"))
    val scored = score(tf.join(broadcast(hotDf), Seq("token")))
      .unionByName(score(tf.join(coldDf, Seq("token"))))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token"))
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .orderBy("doc_id", "rn")
  }

  /** t09 — canonical text normalization (the pre-dedup normalizer every
    * corpus pipeline runs): lowercase → digit runs → "0" → punctuation
    * stripped → whitespace collapsed+trimmed. Emits the normalized
    * fingerprint (md5) plus change counters; chained codegen'd
    * regexp_replace, map-only. */
  def t09(t: Tables): DataFrame =
    // the ONE-PASS norm_scan kernel (functions.TextNorm) replaces four
    // regex scans + a regexp_extract_all per row; ExprSpec proves
    // byte-identity against the regex-chain spelling on adversarial
    // inputs, and the DuckDB oracle still runs the regex chain.
    t.documents
      .select(col("doc_id"), graft.functions.exprs.norm_scan(col("text")).as("p"))
      .select(
        col("doc_id"),
        md5(col("p.norm")).as("norm_fp"),
        length(col("p.norm")).cast("long").as("n_norm_chars"),
        col("p.n_num_runs").as("n_num_runs"))
      .orderBy("doc_id")

  /** t10 — benchmark decontamination: flag corpus documents sharing any
    * word 8-gram with an eval/benchmark set — the n-gram overlap check
    * every training-corpus build runs before release (a contaminated doc
    * inflates eval scores). Benchmark here = doc_id % 50 == 0; in
    * production the eval set is an external (small) table.
    *
    * Scale shape: the benchmark side is tiny relative to a 100 TB corpus,
    * so its distinct gram hashes BROADCAST and corpus grams stream through
    * the broadcast hash join map-side — the corpus never shuffles its
    * n-grams; only the per-doc hit aggregation shuffles (rows ∝ matches,
    * not corpus size). Grams are 64-bit streamed FNV hashes
    * (ngram_hashes), not strings: the hash set is the gram set up to
    * ~2^-64 collision odds, and the join runs on primitive longs. */
  def t10(t: Tables): DataFrame = {
    import graft.functions.exprs.ngram_hashes
    val grams = t.documentsWide
      .withColumn("toks", expr(tokensExpr))
      .select(col("doc_id"), explode(ngram_hashes(col("toks"), 8)).as("g"))
    val bench = grams.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bench_id"), col("g"))
    grams.filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(bench), Seq("g"))
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
      .orderBy("doc_id")
  }

  /** t11 — intra-document repetition scoring (the Gopher-class quality
    * rule): fraction of duplicated word 3-grams inside each document.
    * Boilerplate/spam text repeats itself; corpus curation drops docs
    * above a dup-ratio threshold. Map-only per row (gram hashing is the
    * streamed kernel; distinct counting happens inside the sorted-dedup
    * hash array), no shuffle except the output sort. The ratio is rounded
    * via exact integer arithmetic — round(x/y) on doubles diverges between
    * engines exactly on representation ties. */
  def t11(t: Tables): DataFrame = {
    // one-pass ngram_scan kernel: tokenize + gram-hash + distinct-count
    // in a single byte scan (the split + ngram_hashes spelling
    // materialized the token array per row — a 17.9 s sf10 tail);
    // ExprSpec pins count equality with the two-kernel spelling
    t.documents
      .select(col("doc_id"),
        graft.functions.exprs.ngram_scan(col("text"), 3).as("g"))
      .select(
        col("doc_id"),
        col("g.n_grams").as("n_grams"),
        col("g.n_distinct").as("n_distinct"))
      .withColumn("dup_ratio", expr(
        // `10000.0` in Spark SQL is a DECIMAL(5,1) literal and would turn
        // the division into DECIMAL(28,7); cast to double to match DuckDB
        "((20000 * (n_grams - n_distinct) + n_grams) div (2 * n_grams))" +
          " / cast(10000 as double)"))
      .orderBy("doc_id")
  }

  /** t12 — fixed-size token chunking: split each document into 64-token
    * chunks (the context-window packing primitive of every training-data
    * pipeline), emitting per-chunk token counts and an md5 content id for
    * downstream chunk-level dedup. Map-only: chunk boundaries are pure
    * per-row arithmetic (no shuffle until the output sort); at 100 TB
    * this is a pass-through transform feeding the tokenizer. */
  def t12(t: Tables): DataFrame = {
    val C = 64
    // one-pass chunk_scan kernel: tokenize + chunk + stream the md5
    // straight from the text bytes (the transform/slice HOF spelling ran
    // interpreted lambdas over a materialized token array, then built
    // each chunk array AND its concat_ws string just to digest it — the
    // worst sf10 tail at 35.8 s); ExprSpec pins byte-identity
    t.documents
      .select(col("doc_id"),
        posexplode(graft.functions.exprs.chunk_scan(col("text"), C))
          .as(Seq("chunk_id", "ch")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("ch.n_toks").as("n_toks"),
        col("ch.chunk_md5").as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** t13 — token novelty by first occurrence: for each document, how many
    * of its distinct tokens first appear in THIS document (min doc_id
    * over the corpus) — the incremental-corpus novelty signal (a doc
    * contributing no new vocabulary is likely boilerplate). One shuffle
    * on token for the first-occurrence attribution + one on doc_id; the
    * Zipf head never skews the join because min(doc_id) reduces each
    * token to one row before the join back (t07's broadcast-head split
    * applies if the gram-level variant is needed). */
  def t13(t: Tables): DataFrame = {
    val docToks = t.documentsWide
      .select(col("doc_id"), explode(array_distinct(expr(tokensExpr))).as("tok"))
    val first = docToks.groupBy("tok").agg(min("doc_id").as("first_doc"))
    docToks.join(first, Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct_toks"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_novel"))
      .orderBy("doc_id")
  }

  /** d08 — dedup accounting by provenance: per source, document count,
    * distinct-fingerprint count, and how many of its documents share a
    * fingerprint with ANOTHER source (cross-source contamination — the
    * provenance question a multi-source corpus build must answer before
    * choosing per-source sampling weights). Two shuffles, both on the
    * md5 fingerprint (corpus-size-proportional, same shape as d01). */
  def d08(t: Tables): DataFrame = {
    val base = t.documents.select(col("source"), col("doc_id"),
      graft.functions.exprs.canon_fp(col("text")).as("fp"))
    val spread = base.groupBy("fp")
      .agg(countDistinct(col("source")).as("n_sources"))
    base.join(spread, Seq("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_distinct_fps"),
        sum(when(col("n_sources") > 1, 1L).otherwise(0L)).as("n_cross_docs"))
      .orderBy("source")
  }

  /** PII patterns, scrubbed in this order (emails first — they contain
    * dots and digits the later patterns would mangle). One definition in
    * functions.TextScrub; both engines run the same regexes — Java regex
    * and RE2 agree on these constructs (classes, bounded/greedy
    * quantifiers, \b, \d). */
  private[graft] val PiiEmail = graft.functions.TextScrub.EmailRe
  private[graft] val PiiIp = graft.functions.TextScrub.IpRe
  private[graft] val PiiId = graft.functions.TextScrub.IdRe

  /** t14 — PII scrubbing: redact emails / IPv4 addresses / long digit
    * runs (id numbers) and count hits per document — the privacy pass a
    * released training corpus must run. Map-only; the md5 of the
    * redacted text makes the oracle verify the full transformation, not
    * just the counts. Counts and redaction come from the ONE-PASS
    * pii_scan kernel (functions.TextScrub) — the built-in spelling costs
    * six regex scans per row (3 extract_all + 3 chained replaces), each
    * with its own string conversion; the kernel converts once, counts
    * without materializing match arrays, and runs the identical
    * java.util.regex replaceAll chain, so results are bit-identical.
    * The synthetic corpus is PII-free, so the driver oracle pins
    * zero-hit identity; the planted-PII redaction path is value-gated
    * in TextFixtureSpec. */
  /** The redaction transform alone (reused by the curation pipeline's
    * scrub stage): same order, same patterns as t14, single pass. */
  private[graft] def scrubText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.exprs.scrub_pii(c)

  private[graft] def piiScrub(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), graft.functions.exprs.pii_scan(col("text")).as("p"))
      .select(col("doc_id"),
        col("p.n_emails").as("n_emails"),
        col("p.n_ips").as("n_ips"),
        col("p.n_ids").as("n_ids"),
        md5(col("p.scrubbed")).as("redacted_md5"))
      .orderBy("doc_id")

  def t14(t: Tables): DataFrame = piiScrub(t.documents)

  /** t15 — corpus-mix diagnostics: per source, the Shannon entropy of
    * its language distribution — the balance signal a multi-source
    * corpus build monitors (entropy 0 = monolingual source; ln(k) =
    * uniform over k languages). Two tiny keyed aggregations; the
    * entropy itself sums ≤ #languages doubles per source. */
  def t15(t: Tables): DataFrame = {
    val c = t.documents.groupBy("source", "lang").agg(count(lit(1)).as("n"))
    val tot = c.groupBy("source").agg(sum(col("n")).as("tot"))
    c.join(tot, "source")
      .groupBy(col("source"), col("tot"))
      .agg(count(lit(1)).as("n_langs"),
        round(-sum((col("n") / col("tot")) * log(col("n") / col("tot"))), 4)
          .as("lang_entropy"))
      .select(col("source"), col("tot").cast("bigint").as("n_docs"),
        col("n_langs"), col("lang_entropy"))
      .orderBy("source")
  }

  /** t16 — sequence packing: assign documents to fixed token-budget
    * packs (the context-window packing step between chunking and
    * tokenization). Approximate boundary semantics — pack_id =
    * cumulative-tokens-before DIV budget, so a document may straddle a
    * boundary — which is the standard streaming-packer behavior and
    * keeps the operator a pure window + integer arithmetic (exact
    * greedy reset is inherently sequential state). Packing is PER
    * SOURCE: the running sum partitions by source, so no global-order
    * single-task window exists at any scale; integer-only outputs are
    * hash-stable by construction. */
  def t16(t: Tables): DataFrame = {
    val Budget = 512
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.documents
      .select(col("source"), col("doc_id"),
        expr(s"cast(size($tokensExpr) as bigint)").as("n_tokens"))
      .withColumn("cum_before", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("pack_id", expr(s"cum_before div $Budget"))
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("source", "pack_id")
  }

  /** t17 — corpus bigram-LM scoring: every document scored by the summed
    * log-probability of its token bigrams under the MLE bigram model
    * trained on the corpus itself — the classic cheap fluency /
    * "pseudo-perplexity" quality signal (a doc of improbable word
    * transitions scores low; boilerplate scores high). Log-probs are
    * quantized per ROW to 1e-4 units and integer-summed, so the result
    * is hash-stable across engines and summation orders (never sum raw
    * doubles across an aggregation — the q59/q62 lesson).
    *
    * Scale shape: the unigram table is sum(c12) over the bigram count
    * table (count of w1-as-first-word — identical to counting the raw
    * stream), so only the bigram agg reads the corpus; both count
    * tables then fold into ONE quantized log-prob table BEFORE touching
    * the probe stream, which pays a single hash lookup per bigram
    * instead of two. That probe join is hinted SHUFFLE_HASH: both sides
    * hash-partition on (w1, w2) — no broadcast of a vocabulary that
    * grows with the corpus (Heaps' law: the bigram LM of a 100 TB crawl
    * is tens of GB, far past any broadcast threshold), and no sort of
    * the O(corpus-bigrams) stream as SMJ would do. The build side per
    * partition is vocab/numPartitions aggregated rows — orders of
    * magnitude under the stream it serves. The Zipf head skews only
    * probe partitions, already co-located by key; AQE's skew-join
    * handling covers ShuffledHashJoin since Spark 3.2. Nothing is
    * collected; vocabulary scales as corpus n-grams do. */
  def t17(t: Tables): DataFrame =
    lmScored(t).orderBy("doc_id")

  /** Per-doc LM score shared by t17 (raw scores), t18 (filter), and the
    * pipeline's perplexity gate: (doc_id, n_bigrams, sum_logp_q4). Docs
    * under 2 tokens have no bigrams and are absent. */
  private def lmScored(t: Tables): DataFrame = lmScoredDocs(t.documents)

  /** Same, over any (doc_id, text) corpus — the model is trained on the
    * corpus it scores (MLE bigram counts). */
  def lmScoredDocs(documents: DataFrame): DataFrame = {
    val bg = documents
      .withColumn("toks", expr(tokensExpr))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> " +
          "struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bi = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = bi.groupBy("w1").agg(sum("c12").as("c1"))
    // fold both count tables into ONE quantized log-prob table BEFORE
    // touching the probe stream: the small aggregated sides join each
    // other, and the O(corpus-bigrams) stream pays a single hash lookup
    // per row instead of two.
    val lm = bi.join(uni, Seq("w1"))
      .select(col("w1"), col("w2"),
        expr("cast(round(ln(c12 / c1) * 10000) as bigint)").as("logp_q4"))
    bg.join(lm.hint("shuffle_hash"), Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("logp_q4")).as("sum_logp_q4"))
  }

  /** Average quantized log-prob threshold for t18 (1e-4 ln units):
    * avg ln p ≥ −3.38 per bigram ⇔ pseudo-perplexity ≤ e^3.38 ≈ 29 —
    * sits at the corpus median, so the gate genuinely splits. */
  val LmKeepThresholdQ4 = -33800L

  /** t18 — LM-perplexity quality gate, the filtering stage the t17
    * signal exists for (CCNet/Gopher-style: drop documents whose word
    * transitions are improbable under a corpus LM). Per source: total
    * docs, scored docs (≥2 tokens), and docs kept by the threshold. The
    * keep test is pure integer arithmetic — sum_logp_q4 ≥ T·n_bigrams
    * exactly, never a float average — so engines can't diverge on
    * rounding. Scale shape: inherits t17's (one corpus-reading agg,
    * shuffle-hash probe join); the extra per-source rollup aggregates
    * the already-tiny per-doc table. */
  def t18(t: Tables): DataFrame = {
    val scored = lmScored(t)
    t.documents.select(col("doc_id"), col("source"))
      .join(scored, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("n_bigrams")).as("n_scored"),
        sum(when(col("sum_logp_q4") >=
          lit(LmKeepThresholdQ4) * col("n_bigrams"), 1L).otherwise(0L))
          .as("n_kept"))
      .orderBy("source")
  }

  /** t19 — Gopher-style quality-rule battery with per-source pass rates:
    * the corpus-curation reporting view (which sources fail which rule,
    * what survives the gate). Four rules adapted to this corpus:
    * word count ∈ [20, 100k]; mean word length ∈ [3, 10] (computed in
    * exact fixed-point: non-whitespace chars over words, half-up at 4dp,
    * so engines cannot diverge on float division); ≥2 DISTINCT stopword
    * kinds (Gopher's "stop word" rule — distinct kinds, not t02's total
    * count); ≥80% of words contain a letter (tested as 5·n_alpha ≥
    * 4·n_words — pure integers, no ratio rounding at the boundary).
    * Scale shape: map-only per-doc metrics, one low-cardinality
    * per-source aggregation; the rule arithmetic never leaves codegen.
    * Complements t02 (per-doc scores) and t18 (LM gate) as the
    * rule-based corpus filter (ref: quality-rule scans, lines 95–131,
    * applied per-document instead of per-trip). */
  def t19(t: Tables): DataFrame = {
    val metrics = t.documentsWide.select(
      col("doc_id"), col("source"),
      expr(tokensExpr).as("tk"),
      length(regexp_replace(col("text"), "\\s", "")).cast("long").as("nz"))
      .select(col("source"), col("nz"),
        size(col("tk")).cast("long").as("n_words"),
        size(array_distinct(filter(col("tk"),
          x => x.isin(Stopwords: _*)))).cast("long").as("n_stop_kinds"),
        size(filter(col("tk"), _.rlike("[a-z]"))).cast("long").as("n_alpha"))
    val rules = metrics.select(col("source"),
      col("n_words").between(20L, 100000L).as("r_nwords"),
      expr("(20000 * nz + n_words) div (2 * n_words)")
        .between(30000L, 100000L).as("r_wordlen"),
      (col("n_stop_kinds") >= 2L).as("r_stop"),
      (col("n_alpha") * 5L >= col("n_words") * 4L).as("r_alpha"))
    def fails(c: String) = sum(when(!col(c), 1L).otherwise(0L)).as(s"fail_${c.stripPrefix("r_")}")
    rules
      .withColumn("pass",
        col("r_nwords") && col("r_wordlen") && col("r_stop") && col("r_alpha"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
        fails("r_nwords"), fails("r_wordlen"), fails("r_stop"),
        fails("r_alpha"))
      .withColumn("pass_rate",
        // `10000.0` in Spark SQL is a DECIMAL(5,1) literal → DECIMAL
        // result, which the driver's typed hash can't match (see t11)
        expr("((20000 * n_pass + n_docs) div (2 * n_docs))" +
          " / cast(10000 as double)"))
      .orderBy("source")
  }

  /** t20 — CCNet-style perplexity bucketing: every scored doc lands in
    * a per-source head/middle/tail tercile by LM fluency (bucket 1 =
    * most fluent), the split CCNet uses to choose which slice of a
    * crawl to train on. The sort key is `(sum_logp_q4 · 1000) div
    * n_bigrams` — an exact integer, ties broken by doc_id — because a
    * float average would let the two engines order near-equal docs
    * differently at the tercile boundary (both engines truncate
    * negative integer division identically). Scale shape: inherits
    * t17's one corpus aggregation + shuffle-hash probe; the ntile
    * window partitions by source (natural hash partitioning, no global
    * sort) over the tiny per-doc score table. */
  def t20(t: Tables): DataFrame = {
    val keyed = t.documents.select(col("doc_id"), col("source"))
      .join(lmScored(t), Seq("doc_id"))
      .withColumn("score_q", expr("(sum_logp_q4 * 1000) div n_bigrams"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score_q").desc, col("doc_id"))
    keyed
      .withColumn("bucket", ntile(3).over(w).cast("long"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("score_q")).as("sum_score_q"))
      .orderBy("source", "bucket")
  }

  /** t21 — vocabulary growth / type-token ratio per source: the corpus
    * statistic that sizes a tokenizer's vocabulary and flags template
    * spam (near-constant text has a collapsing TTR). Scale shape: the
    * only large shuffle is groupBy(source, token) with map-side
    * partials — the Zipf head collapses in the combiner, so shuffle
    * bytes ∝ distinct (source, token) pairs, not corpus tokens; a
    * two-level rollup instead of COUNT(DISTINCT token) also avoids the
    * Expand-operator plan (which would triple shuffle volume for the
    * multi-distinct aggregate). Doc counts ride a separate cheap scan
    * and join at source granularity (auto-broadcast). TTR is reported
    * in exact basis points (round-to-0 on the double ratio, see q84's
    * engine-stability note). */
  def t21(t: Tables): DataFrame = {
    val toks = t.documentsWide
      .select(col("source"), explode(expr(tokensExpr)).as("tok"))
      .filter(length(col("tok")) > 0)
    val perTok = toks.groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
    val vocabAgg = perTok.groupBy("source")
      .agg(count(lit(1)).as("vocab"), sum("cnt").as("n_tokens"))
    val docs = t.documents.groupBy("source").agg(count(lit(1)).as("n_docs"))
    docs.join(vocabAgg, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("vocab"),
        // cast(10000 as double), not the 10000.0 literal: Spark parses
        // the latter as DECIMAL(5,1) and the ratio would leave double
        // arithmetic (see t19's pass_rate note)
        expr("cast(round(vocab * cast(10000 as double) / n_tokens)" +
          " as bigint)").as("ttr_x10k"))
      .orderBy("source")
  }

  /** t22 — character-entropy quality rule: per-doc Shannon entropy over
    * the character distribution, plus the exact integer diagnostics
    * (distinct chars, modal-char count) — the low-entropy detector that
    * catches keyboard-mash / repeated-boilerplate spam that t02's ratio
    * rules and t11's 3-gram rule both miss (a doc of one repeated char
    * has zero repeated word-3-grams). Scale shape: the char explode
    * collapses map-side to distinct (doc, char) pairs — shuffle ∝
    * docs × alphabet, never bytes — and entropy is computed in ONE
    * aggregation via the algebraic identity
    * −Σ(n/N)·ln(n/N) = ln N − (Σ n·ln n)/N, so no second shuffle or
    * join for the per-doc total. The oracle spells the identical
    * float expression; each per-doc sum has ≤ alphabet terms (the t15
    * rounding discipline). */
  def t22(t: Tables): DataFrame = charEntropy(t.documentsWide)

  private[graft] def charEntropy(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) > 0) // Spark's limit=-1 split keeps a trailing ""
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("n"))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("n")).as("tot"),
        count(lit(1)).as("n_distinct_chars"),
        max(col("n")).as("max_char_count"),
        sum(col("n") * log(col("n"))).as("snln"))
      .select(col("doc_id"), col("tot").cast("bigint").as("n_chars"),
        col("n_distinct_chars"), col("max_char_count"),
        round(log(col("tot")) - col("snln") / col("tot"), 4)
          .as("char_entropy"))
      .orderBy("doc_id")
  }

  /** t23 — deterministic quota sampling per language (the CCNet-style
    * corpus-rebalancing step): rank each language's documents by
    * `md5(doc_id)` — a uniform, engine-reproducible permutation — and
    * keep the first `Quota` per language. Sampling-by-hash-rank is THE
    * distributed sampling idiom: no RNG state, re-runnable, and any
    * engine (here: DuckDB) reproduces the identical sample.
    *
    * Scale shape: ranking naively sorts every doc inside each language
    * partition — at web scale one language dominates the corpus, so
    * that sort is the bottleneck. The operator instead prefilters with
    * a hash threshold computed from the per-language counts (broadcast
    * — one row per language): keep docs whose 32-bit hash prefix falls
    * under `Margin·Quota/n_l` of the hash space, then rank only the
    * survivors (expected `Margin·Quota` rows per language, constant).
    * The prefilter is map-only after a broadcast join, so the window
    * sort runs on O(Quota) rows per language regardless of corpus
    * size. Retention of the true top-Quota is guaranteed up to the
    * Chernoff tail P[Binom(n, 4Q/n) < Q] ≤ exp(−40·(3/4)²·4/2) ≈ e⁻⁴⁵
    * per language; TextFixtureSpec additionally pins kept-count =
    * least(Quota, n_l) per language at every locally-run SF. */
  def t23(t: Tables): DataFrame = {
    val Quota = 40
    val Margin = 4.0
    val docs = t.documents
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"))
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
    val thresholded = docs
      .join(broadcast(counts), "lang")
      // first 8 hex chars as an integer uniform on [0, 2^32)
      .withColumn("h32", expr("cast(conv(substring(h, 1, 8), 16, 10) as bigint)"))
      .filter(col("h32") <
        (least(lit(1.0), lit(Margin * Quota) / col("n_l")) * 4294967296.0)
          .cast("long"))
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    thresholded
      .withColumn("samp_rank", row_number().over(w).cast("bigint"))
      .filter(col("samp_rank") <= Quota)
      .select(col("doc_id"), col("lang"), col("samp_rank"))
      .orderBy("lang", "samp_rank")
  }

  /** t24 — token-budget mixture weights: given a target budget of half
    * the corpus tokens split uniformly across sources, derive each
    * source's sampling weight and planned token yield — the
    * data-mixing plan a training run starts from. All arithmetic is
    * exact integer basis points (×10⁴; a 1e13-token source stays under
    * int64 through the ×10⁴ multiply, where ppm ×10⁶ would not), so
    * the result is hash-stable across engines. Scale shape: one
    * kernel-scanned aggregation to 20 source rows, grand totals ride a
    * broadcast scalar (the q02 percent-of-total pattern — never an
    * OVER() global window). */
  def t24(t: Tables): DataFrame = {
    val perSrc = t.documents
      .select(col("source"),
        graft.functions.exprs.quality_scan(col("text"))
          .getField("n_tokens").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("src_tokens"))
    val tot = perSrc.agg(sum(col("src_tokens")).as("tot_tokens"),
      count(lit(1)).as("n_sources"))
    perSrc.crossJoin(broadcast(tot))
      .withColumn("budget_per_source", expr("tot_tokens DIV (2 * n_sources)"))
      .withColumn("weight_bp",
        least(lit(10000L), expr("budget_per_source * 10000 DIV src_tokens")))
      .withColumn("planned_tokens", expr("src_tokens * weight_bp DIV 10000"))
      .select(col("source"), col("n_docs"), col("src_tokens"),
        col("weight_bp"), col("planned_tokens"))
      .orderBy("source")
  }

  /** t25 — boilerplate phrase detection (the RefinedWeb/CCNet line-dedup
    * rule at phrase granularity): a 5-gram that appears in ≥3 docs AND
    * >20% of its source's documents is template boilerplate (nav bars,
    * license footers, cookie banners), and each document reports what
    * fraction of its distinct phrases are boilerplate — the removal
    * signal a curation pass filters on. Distinct-gram semantics via the
    * one-pass `ngram_hashes` kernel (64-bit FNV gram set; the DuckDB
    * twin uses string grams — identical sets up to ~2^-64 collision
    * odds, the t10 equivalence); docs shorter than 5 tokens fall back
    * to a whole-text gram exactly like the kernel. Ratio in exact
    * integer basis points (half-up), hash-stable across engines.
    *
    * Scale shape: gram explode is map-only; per-(source, gram) doc
    * frequency is one hash agg (shuffle ∝ distinct grams — Heaps-law
    * sub-linear in bytes); per-source doc counts broadcast; the
    * flag-back join runs shuffle-hash on (source, gram) — the gram
    * vocabulary grows with the corpus and must NEVER broadcast (the
    * t17 probe rationale). Final rollup shuffles by doc. */
  def t25(t: Tables): DataFrame = {
    import graft.functions.exprs.ngram_hashes
    val pos = t.documentsWide
      .withColumn("toks", expr(tokensExpr))
      .select(col("doc_id"), col("source"),
        explode(ngram_hashes(col("toks"), 5)).as("g"))
    val dfg = pos.groupBy("source", "g").agg(count(lit(1)).as("df_docs"))
    val nsrc = t.documents.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val flags = dfg.join(broadcast(nsrc), "source")
      .select(col("source"), col("g"),
        (col("df_docs") >= 3 && col("df_docs") * 5 > col("n_docs"))
          .as("boiler"))
    pos.hint("shuffle_hash")
      .join(flags, Seq("source", "g"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_bp",
        expr("(20000 * n_boiler + n_grams) div (2 * n_grams)"))
      .orderBy("doc_id")
  }

  /** t26 — DSIR-style importance weighting (Xie et al.: Data Selection
    * for LMs via Importance Resampling): every document scored by the
    * log-likelihood ratio of a TARGET hashed-unigram model (here the
    * curated `src0` slice) against the RAW corpus model — the published
    * recipe for steering a web-scale crawl toward a quality domain
    * without training a classifier. Feature space is FIXED at 256
    * hash buckets (first md5 hex byte of each token — an engine-neutral
    * hash both sides spell identically), Laplace +1 smoothing, and each
    * bucket's log-ratio is quantized to int64 1e-4 units BEFORE the
    * per-doc sum (the t17 policy: engines cannot diverge on float
    * summation order). keep = positive evidence (λ-sum > 0).
    *
    * Scale shape: the bucket LM is a 256-row aggregate — unlike t17's
    * Heaps-law vocabulary it is CONSTANT-SIZE at any corpus, so the
    * probe join is a legitimate broadcast; per-doc bucket counts are one
    * hash agg (≤256 rows per doc), and scoring is map-side. Nothing
    * scales super-linearly; the whole plan is two aggs + a broadcast. */
  def t26(t: Tables): DataFrame = {
    val toks = t.documentsWide
      .select(col("doc_id"), col("source"),
        explode(expr(tokensExpr)).as("token"))
      .withColumn("b", substring(md5(col("token")), 1, 2))
    val raw = toks.groupBy("b").agg(count(lit(1)).as("cr"))
    val target = toks.filter(col("source") === "src0")
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val totals = toks.agg(
      count(lit(1)).as("tr"),
      sum(when(col("source") === "src0", 1L).otherwise(0L)).as("tt"))
    val lam = raw.join(target, Seq("b"), "left_outer")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(totals))
      .select(col("b"), expr(
        """cast(round(ln(
          |  ((cast(ct as double) + 1.0) / (cast(tt as double) + 256.0))
          |  * ((cast(tr as double) + 256.0) / (cast(cr as double) + 1.0))
          |) * 10000.0) as bigint)""".stripMargin).as("lam_q4"))
    toks.groupBy("doc_id", "source", "b").agg(count(lit(1)).as("cnt"))
      .join(broadcast(lam), "b")
      .groupBy("doc_id", "source")
      .agg(sum(col("cnt")).as("n_toks"),
        sum(col("cnt") * col("lam_q4")).as("iw_q4"))
      .withColumn("keep", col("iw_q4") > 0L)
      .orderBy("doc_id")
  }

  /** d11 — incremental snapshot dedup: when a new crawl batch lands, only
    * the BATCH is checked — against the standing fingerprint index and
    * within itself — never the whole corpus re-deduped (at 100 TB,
    * re-running d01 per ingest is the difference between O(batch) and
    * O(corpus) per day). Snapshot split is deterministic via the last
    * md5(doc_id) hex digit (< 'd': ~81% standing corpus, ~19% incoming)
    * — hash-based, NOT doc_id mod k, which correlates with the corpus's
    * round-robin source assignment and would sample only a source
    * subset into the batch. Each incoming doc classifies as
    * dup-of-base (fingerprint already indexed), dup-in-batch (an earlier
    * incoming doc — min doc_id — owns the fingerprint), or novel;
    * classification is exhaustive and exclusive, so the three counts
    * partition n_incoming (spec-pinned). Scale shape: one hash shuffle
    * of the batch + the index probe join on fp; a production index would
    * be bucketed on fp (the q81 layout) making the probe exchange-free
    * on the index side — the batch-side shuffle is O(batch) regardless.
    * Fingerprints via canon_fp (d01's normalization; DuckDB twin runs
    * the same md5). */
  def d11(t: Tables): DataFrame = {
    val split = substring(md5(col("doc_id").cast("string")), 32, 1)
    val fps = t.documents
      .select(col("doc_id"), col("source"), fingerprint.as("fp"),
        (split < "d").as("is_base"))
    val base = fps.filter(col("is_base")).select("fp").distinct()
    val inc = fps.filter(!col("is_base"))
    val firsts = inc.groupBy("fp").agg(min("doc_id").as("first_id"))
    inc
      .join(base.withColumn("in_base", lit(1L)), Seq("fp"), "left_outer")
      .join(firsts, "fp")
      .select(col("source"),
        when(col("in_base").isNotNull, "dup_of_base")
          .when(col("doc_id") > col("first_id"), "dup_in_batch")
          .otherwise("novel").as("cls"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_incoming"),
        sum(when(col("cls") === "dup_of_base", 1L).otherwise(0L))
          .as("n_dup_of_base"),
        sum(when(col("cls") === "dup_in_batch", 1L).otherwise(0L))
          .as("n_dup_in_batch"),
        sum(when(col("cls") === "novel", 1L).otherwise(0L)).as("n_novel"))
      .orderBy("source")
  }

  /** Serialized bench-gram bloom filters, cached per corpus snapshot
    * (the codebookCache policy: an index artifact is built once per
    * corpus). */
  private val bloomCache = new graft.SnapshotCache[Array[Byte]]

  /** t27 — bloom-prefiltered decontamination: t10's benchmark-overlap
    * semantics restructured around Spark's own bloom-filter sketch
    * (`BloomFilterAggregate` / `BloomFilterMightContain`, the runtime-
    * filter machinery driven explicitly). The bench-gram bloom is a
    * FIXED-SIZE bit array however large the benchmark suite grows —
    * the broadcast-a-hash-set t10 spelling stops scaling exactly when
    * the eval suite does — and the corpus-side probe drops ~all clean
    * grams map-side (codegen'd might_contain against literal bloom
    * bytes riding the plan), so the verification join's shuffle is
    * O(candidate grams), not O(corpus grams). Bloom false positives
    * cost only shuffled bytes, never correctness: the SHUFFLE_HASH
    * verification join (never broadcast — t17's vocabulary rationale)
    * removes them, so the per-source contamination accounting is EXACT
    * and fully SQL-oracled. False negatives are impossible by bloom
    * construction. The filter is built once per corpus snapshot and
    * embedded as plan bytes — how Spark's own InjectRuntimeFilter ships
    * its blooms. Reported in exact half-up basis points. */
  def t27(t: Tables): DataFrame = {
    import graft.functions.exprs.{bloom_agg, might_contain, ngram_hashes}
    val grams = t.documentsWide
      .withColumn("toks", expr(tokensExpr))
      .select(col("doc_id"), explode(ngram_hashes(col("toks"), 6)).as("g"))
    val bench = grams.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bench_id"), col("g"))
    val bf = bloomCache(t, "t27", "documents") {
      // driver-side materialization of the INDEX (bloom bytes), not data
      // — the s03 codebook pattern; 4M estimated items ≈ 1 MB of bits,
      // FP rate degrades gracefully past that and only costs shuffle
      bench.select(bloom_agg(col("g"), 4000000L).as("bf"))
        .head.getAs[Array[Byte]](0)
    }
    val perDoc = grams.filter(col("doc_id") % 50 =!= 0)
      .filter(might_contain(lit(bf), col("g")))
      .join(bench.hint("SHUFFLE_HASH"), Seq("g"))
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared"))
    val docSrc = t.documents.select(col("doc_id"), col("source"))
    val checked = docSrc.filter(col("doc_id") % 50 =!= 0)
      .groupBy("source").agg(count(lit(1)).as("n_docs_checked"))
    val contam = perDoc.join(docSrc, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_contaminated"),
        sum(col("n_shared")).as("total_shared_grams"))
    checked.join(contam, Seq("source"), "left")
      .select(col("source"), col("n_docs_checked"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        coalesce(col("total_shared_grams"), lit(0L))
          .as("total_shared_grams"))
      .withColumn("contaminated_bp", expr(
        "(20000 * n_contaminated + n_docs_checked) div (2 * n_docs_checked)"))
      .orderBy("source")
  }

  /** t28 — tokenizer fertility audit per (source, lang): how many
    * subword tokens the tokenizer spends per whitespace word
    * (fertility) and per byte — the compression-budget number that
    * decides how much COMPUTE a corpus slice actually costs per unit of
    * text and which languages the tokenizer penalizes (high-fertility
    * languages get fewer effective context words; the Gopher/Chinchilla
    * accounting line). Subword counts come from the one-pass `bpe_scan`
    * kernel (t05's), word counts from `quality_scan` — ONE map pass
    * computing both, one rollup to ≤ sources×langs rows. Ratios in
    * exact half-up basis points (the t19/t25 integer idiom): fertility
    * = bpe·10⁴/words, bytes_per_token = bytes·10⁴/bpe — engine-stable
    * at any magnitude. Degenerate-input contract: a (source, lang)
    * group of all-empty documents has n_words = n_bpe = 0, and both
    * ratios emit an explicit NULL (CASE-guarded on BOTH engines) rather
    * than relying on either engine's zero-divisor behavior — the t29
    * guard applied to fertility. Oracle recomputes both counts from
    * their published regex twins. */
  def t28(t: Tables): DataFrame =
    t.documentsWide
      .select(col("source"), col("lang"),
        graft.functions.exprs.bpe_scan(col("text"))
          .getField("n_bpe_tokens").cast("bigint").as("bpe"),
        graft.functions.exprs.quality_scan(col("text"))
          .getField("n_tokens").cast("bigint").as("words"),
        length(col("text")).cast("bigint").as("chars"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("words")).as("n_words"),
        sum(col("bpe")).as("n_bpe"),
        sum(col("chars")).as("n_chars"))
      .withColumn("fertility_bp",
        expr("case when n_words > 0 then" +
          " (20000 * n_bpe + n_words) div (2 * n_words) else null end"))
      .withColumn("chars_per_token_bp",
        expr("case when n_bpe > 0 then" +
          " (20000 * n_chars + n_bpe) div (2 * n_bpe) else null end"))
      .orderBy("source", "lang")

  /** t29 — Zipf-fit corpus health check: the least-squares slope of
    * log-frequency vs log-rank over each source's top-200 tokens —
    * natural text tracks slope ≈ −1 (Zipf's law), and deviation is the
    * classic cheap detector for OCR garbage, spam keyword stuffing, or
    * machine-generated word salad (whose frequency curves flatten).
    *
    * Exactness discipline: a regr_slope over doubles is summation-
    * order-dependent across engines (the q59 lesson applied to
    * regression), so both log terms quantize to 1e-4 per ROW
    * (`round(ln(x)·10⁴)` — t17's empirically-engine-stable ln
    * quantization) and the slope assembles from pure int64 moment sums;
    * the reported value is steepness = −slope in half-truncated basis
    * points with the numerator clamped at 0 first — num ≥ 0 makes
    * Spark's truncating `div` and DuckDB's flooring `//` agree (the
    * q97-documented negative-division trap, designed out). Overflow
    * headroom: qx ≤ ln(200)·10⁴ ≈ 5.3e4, n·Σqxqy ≲ 3e14 ≪ 2⁶³.
    *
    * Scale shape: token counts shuffle ∝ vocabulary (Heaps-sublinear,
    * Zipf head collapses map-side — the t21 story); the per-source
    * top-200 rank compiles to the two-phase WindowGroupLimit heap, so
    * only ≤200·sources rows reach the moment aggregation. */
  def t29(t: Tables): DataFrame = {
    val Top = 200
    val counts = t.documentsWide
      .withColumn("toks", expr(tokensExpr))
      .select(col("source"), explode(col("toks")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("c").desc, col("tok"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Top)
      .select(col("source"),
        expr("cast(round(ln(rn) * 10000) as bigint)").as("qx"),
        expr("cast(round(ln(c) * 10000) as bigint)").as("qy"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_top"),
        sum(col("qx")).as("sx"), sum(col("qy")).as("sy"),
        sum(col("qx") * col("qx")).as("sxx"),
        sum(col("qx") * col("qy")).as("sxy"))
      .select(col("source"), col("n_top"),
        // degenerate-source guard: a source with a single distinct token
        // has n_top = 1 and qx = 0, so the moment denominator is exactly
        // 0 — both engines must emit an explicit NULL instead of leaning
        // on their (differing) zero-divisor division behavior
        expr("case when n_top >= 2 then" +
          " greatest(0L, sx * sy - n_top * sxy) * 10000" +
          " div (n_top * sxx - sx * sx) else null end")
          .as("zipf_steepness_bp"))
      .orderBy("source")
  }

  val queries: Map[String, Tables => DataFrame] = Map(
    "t29_zipf_fit" -> t29,
    "t28_fertility" -> t28,
    "t27_bloom_decontaminate" -> t27,
    "t26_importance_weights" -> t26,
    "t25_boilerplate_ngrams" -> t25,
    "d11_incremental_dedup" -> d11,
    "t24_mixture_weights" -> t24,
    "t23_quota_sample" -> t23,
    "t22_char_entropy" -> t22,
    "t21_vocab_growth" -> t21,
    "t20_perplexity_buckets" -> t20,
    "t19_gopher_rules" -> t19,
    "t18_perplexity_filter" -> t18,
    "t17_bigram_lm" -> t17,
    "t16_seq_packing" -> t16,
    "t15_lang_entropy" -> t15,
    "t14_pii_scrub" -> t14,
    "t13_novelty" -> t13,
    "t12_chunk_split" -> t12,
    "d08_source_dup_stats" -> d08,
    "t11_repetition" -> t11,
    "t10_decontaminate" -> t10,
    "t09_normalize" -> t09,
    "t07_tfidf" -> t07,
    "t08_char_ngram_langid" -> t08,
    "t06_winnow_fingerprint" -> t06,
    "t05_bpe_tokens" -> t05,
    "t01_token_count" -> t01,
    "t02_quality_score" -> t02,
    "t03_langid" -> t03,
    "t04_fingerprint" -> t04,
    "d01_dedup_exact" -> d01)

  private val dTokens = raw"string_split_regex(trim(text), '\s+')"
  private def dMarker(words: Seq[String]) =
    s"len(list_filter($dTokens, x -> x IN (${sqlList(words)})))"
  private val dFp = raw"md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))"

  private def dTriScore(tris: Seq[String]) =
    tris.map(g => s"(length(lt) - length(replace(lt, '$g', ''))) // 3")
      .mkString(" + ")

  val oracles: Map[String, String] = Map(
    // t06's md5 winnowing twin (round-8 rebase): one md5 per 16-char
    // window (ASCII corpus ⇒ SQL character windows == the kernel's byte
    // windows), n_hashes = window count with the whole-text fallback,
    // n_fingerprints = distinct window minima with the below-winnow-
    // window global-min fallback (= 1). Only the minimum VALUES matter,
    // so the kernel's deque tie-break has no SQL-visible counterpart.
    "t06_winnow_fingerprint" ->
      """WITH pos AS (
        |  SELECT doc_id, i,
        |    CAST('0x' || substr(md5(substr(text, CAST(i AS INT), 16)),
        |      1, 12) AS BIGINT) AS h
        |  FROM documents,
        |    UNNEST(range(1, greatest(len(text) - 15, 1) + 1)) AS t(i)),
        |mins AS (
        |  SELECT doc_id, i,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin,
        |    count(*) OVER (PARTITION BY doc_id) AS nh
        |  FROM pos)
        |SELECT doc_id, CAST(max(nh) AS BIGINT) AS n_hashes,
        |  CAST(CASE WHEN max(nh) < 8 THEN 1
        |    ELSE count(DISTINCT CASE WHEN i <= nh - 7 THEN wmin END)
        |    END AS BIGINT) AS n_fingerprints
        |FROM mins GROUP BY doc_id""".stripMargin,
    // identical quantized-moment arithmetic; QUALIFY rank = the window
    // spelling of the Spark side's group-limit heap
    "t29_zipf_fit" ->
      raw"""WITH toks AS (
         |  SELECT source, unnest($dTokens) AS tok FROM documents),
         |counts AS (
         |  SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
         |top AS (
         |  SELECT source, c,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY c DESC, tok) AS rn
         |  FROM counts QUALIFY rn <= 200),
         |q AS (
         |  SELECT source,
         |    CAST(round(ln(rn) * 10000) AS BIGINT) AS qx,
         |    CAST(round(ln(c) * 10000) AS BIGINT) AS qy
         |  FROM top),
         |m AS (
         |  SELECT source, count(*) AS n_top,
         |    CAST(sum(qx) AS BIGINT) AS sx, CAST(sum(qy) AS BIGINT) AS sy,
         |    CAST(sum(qx * qx) AS BIGINT) AS sxx,
         |    CAST(sum(qx * qy) AS BIGINT) AS sxy
         |  FROM q GROUP BY source)
         |SELECT source, n_top,
         |  CASE WHEN n_top >= 2 THEN
         |    CAST(greatest(0, sx * sy - n_top * sxy) * 10000
         |      // (n_top * sxx - sx * sx) AS BIGINT)
         |  ELSE NULL END AS zipf_steepness_bp
         |FROM m ORDER BY source""".stripMargin,
    // both counts from their published regex twins (t05's BPE-ish class
    // split, the shared ws tokenizer), ratios in half-up basis points
    "t28_fertility" ->
      raw"""SELECT source, lang, count(*) AS n_docs,
         | CAST(sum(len($dTokens)) AS BIGINT) AS n_words,
         | CAST(sum(len(regexp_extract_all(lower(text),
         |   '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS n_bpe,
         | CAST(sum(length(text)) AS BIGINT) AS n_chars,
         | CASE WHEN sum(len($dTokens)) > 0 THEN
         |   CAST((20000 * sum(len(regexp_extract_all(lower(text),
         |       '[a-z]+|[0-9]+|[^a-z0-9\s]'))) + sum(len($dTokens)))
         |     // (2 * sum(len($dTokens))) AS BIGINT)
         | ELSE NULL END AS fertility_bp,
         | CASE WHEN sum(len(regexp_extract_all(lower(text),
         |     '[a-z]+|[0-9]+|[^a-z0-9\s]'))) > 0 THEN
         |   CAST((20000 * sum(length(text))
         |       + sum(len(regexp_extract_all(lower(text),
         |           '[a-z]+|[0-9]+|[^a-z0-9\s]'))))
         |     // (2 * sum(len(regexp_extract_all(lower(text),
         |           '[a-z]+|[0-9]+|[^a-z0-9\s]')))) AS BIGINT)
         | ELSE NULL END AS chars_per_token_bp
         |FROM documents GROUP BY source, lang
         |ORDER BY source, lang""".stripMargin,
    // the bloom prefilter must be invisible in the answer: exact
    // 6-gram overlap accounting recomputed with string grams (t10's
    // oracle pattern), rolled up per source in half-up basis points
    "t27_bloom_decontaminate" ->
      raw"""WITH toks AS (SELECT doc_id,
         |        string_split_regex(trim(text), '\s+') AS tk
         |      FROM documents),
         |grams AS (
         |  SELECT doc_id, array_to_string(tk[i:i+5], ' ') AS g
         |  FROM toks, UNNEST(range(1, len(tk) - 4)) AS t(i)
         |  WHERE len(tk) >= 6),
         |short AS (SELECT doc_id, array_to_string(tk, ' ') AS g
         |          FROM toks WHERE len(tk) < 6),
         |allg AS (SELECT DISTINCT doc_id, g FROM
         |         (SELECT * FROM grams UNION ALL SELECT * FROM short)),
         |bench AS (SELECT doc_id AS bench_id, g FROM allg
         |          WHERE doc_id % 50 = 0),
         |corpus AS (SELECT * FROM allg WHERE doc_id % 50 <> 0),
         |perdoc AS (
         |  SELECT corpus.doc_id,
         |    CAST(count(DISTINCT corpus.g) AS BIGINT) AS n_shared
         |  FROM corpus JOIN bench USING (g) GROUP BY corpus.doc_id),
         |src AS (SELECT doc_id, source FROM documents),
         |checked AS (SELECT source, count(*) AS n_docs_checked
         |            FROM src WHERE doc_id % 50 <> 0 GROUP BY source),
         |contam AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_contaminated,
         |    CAST(sum(n_shared) AS BIGINT) AS total_shared_grams
         |  FROM perdoc JOIN src USING (doc_id) GROUP BY source)
         |SELECT source, n_docs_checked,
         |  CAST(coalesce(n_contaminated, 0) AS BIGINT) AS n_contaminated,
         |  CAST(coalesce(total_shared_grams, 0) AS BIGINT)
         |    AS total_shared_grams,
         |  CAST((20000 * coalesce(n_contaminated, 0) + n_docs_checked)
         |    // (2 * n_docs_checked) AS BIGINT) AS contaminated_bp
         |FROM checked LEFT JOIN contam USING (source)
         |ORDER BY source""".stripMargin,
    // the 256-bucket hashed-unigram LMs re-spelled verbatim: first md5
    // hex byte buckets, Laplace +1, per-bucket log-ratio quantized to
    // int64 1e-4 units before the per-doc integer sum
    "t26_importance_weights" ->
      raw"""WITH toks AS (
         |  SELECT doc_id, source,
         |    substr(md5(unnest(string_split_regex(trim(text), '\s+'))), 1, 2)
         |      AS b
         |  FROM documents),
         |raw AS (SELECT b, count(*) AS cr FROM toks GROUP BY b),
         |target AS (SELECT b, count(*) AS ct FROM toks
         |           WHERE source = 'src0' GROUP BY b),
         |totals AS (SELECT count(*) AS tr,
         |    CAST(coalesce(sum(CASE WHEN source = 'src0' THEN 1 END), 0)
         |      AS BIGINT) AS tt
         |  FROM toks),
         |lam AS (
         |  SELECT raw.b AS b,
         |    CAST(round(ln(
         |      ((CAST(coalesce(ct, 0) AS DOUBLE) + 1.0)
         |        / (CAST(tt AS DOUBLE) + 256.0))
         |      * ((CAST(tr AS DOUBLE) + 256.0)
         |        / (CAST(cr AS DOUBLE) + 1.0))
         |    ) * 10000.0) AS BIGINT) AS lam_q4
         |  FROM raw LEFT JOIN target ON raw.b = target.b CROSS JOIN totals),
         |db AS (SELECT doc_id, source, b, count(*) AS cnt
         |       FROM toks GROUP BY doc_id, source, b)
         |SELECT db.doc_id AS doc_id, db.source AS source,
         |  CAST(sum(cnt) AS BIGINT) AS n_toks,
         |  CAST(sum(cnt * lam_q4) AS BIGINT) AS iw_q4,
         |  (CAST(sum(cnt * lam_q4) AS BIGINT) > 0) AS keep
         |FROM db JOIN lam ON db.b = lam.b
         |GROUP BY db.doc_id, db.source ORDER BY doc_id""".stripMargin,
    // string 5-grams stand in for the kernel's 64-bit gram hashes (the
    // t10 equivalence); the short branch mirrors the whole-text fallback
    "t25_boilerplate_ngrams" ->
      raw"""WITH toks AS (SELECT doc_id, source,
         |        string_split_regex(trim(text), '\s+') AS tk
         |      FROM documents),
         |grams AS (
         |  SELECT doc_id, source, array_to_string(tk[i:i+4], ' ') AS g
         |  FROM toks, UNNEST(range(1, len(tk) - 3)) AS t(i)
         |  WHERE len(tk) >= 5),
         |short AS (SELECT doc_id, source, array_to_string(tk, ' ') AS g
         |          FROM toks WHERE len(tk) < 5),
         |pos AS (SELECT DISTINCT doc_id, source, g FROM
         |        (SELECT * FROM grams UNION ALL SELECT * FROM short)),
         |dfg AS (SELECT source, g, count(*) AS df_docs
         |        FROM pos GROUP BY source, g),
         |nsrc AS (SELECT source, count(*) AS n_docs
         |         FROM documents GROUP BY source),
         |flags AS (SELECT dfg.source AS source, g,
         |    (df_docs >= 3 AND df_docs * 5 > n_docs) AS boiler
         |  FROM dfg JOIN nsrc ON dfg.source = nsrc.source)
         |SELECT pos.doc_id AS doc_id, pos.source AS source,
         |  count(*) AS n_grams,
         |  CAST(coalesce(sum(CASE WHEN boiler THEN 1 END), 0) AS BIGINT)
         |    AS n_boiler,
         |  CAST((20000 * coalesce(sum(CASE WHEN boiler THEN 1 END), 0)
         |        + count(*)) // (2 * count(*)) AS BIGINT) AS boiler_bp
         |FROM pos JOIN flags ON pos.source = flags.source AND pos.g = flags.g
         |GROUP BY pos.doc_id, pos.source ORDER BY doc_id""".stripMargin,
    "d11_incremental_dedup" ->
      s"""WITH fps AS (
         |  SELECT doc_id, source, $dFp AS fp,
         |    substring(md5(CAST(doc_id AS VARCHAR)), 32, 1) < 'd' AS is_base
         |  FROM documents),
         |base AS (SELECT DISTINCT fp FROM fps WHERE is_base),
         |inc AS (SELECT * FROM fps WHERE NOT is_base),
         |firsts AS (SELECT fp, min(doc_id) AS first_id FROM inc GROUP BY fp),
         |cls AS (
         |  SELECT i.source,
         |    CASE WHEN b.fp IS NOT NULL THEN 'dup_of_base'
         |         WHEN i.doc_id > f.first_id THEN 'dup_in_batch'
         |         ELSE 'novel' END AS cls
         |  FROM inc i LEFT JOIN base b ON i.fp = b.fp
         |  JOIN firsts f ON i.fp = f.fp)
         |SELECT source, count(*) AS n_incoming,
         |  CAST(count(*) FILTER (cls = 'dup_of_base') AS BIGINT)
         |    AS n_dup_of_base,
         |  CAST(count(*) FILTER (cls = 'dup_in_batch') AS BIGINT)
         |    AS n_dup_in_batch,
         |  CAST(count(*) FILTER (cls = 'novel') AS BIGINT) AS n_novel
         |FROM cls GROUP BY source ORDER BY source""".stripMargin,
    // md5 of the decimal rendering of doc_id is engine-identical; the
    // oracle ranks ALL docs (no prefilter) — equality proves the
    // threshold pass retained the true top-Quota per language
    "t23_quota_sample" ->
      """SELECT doc_id, lang, samp_rank FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS samp_rank
        |  FROM documents)
        |WHERE samp_rank <= 40
        |ORDER BY lang, samp_rank""".stripMargin,
    "t24_mixture_weights" ->
      s"""WITH per_src AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(len($dTokens)) AS BIGINT) AS src_tokens
         |  FROM documents GROUP BY source),
         |tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS tot_tokens,
         |               count(*) AS n_sources FROM per_src)
         |SELECT source, n_docs, src_tokens,
         |  least(10000, (tot_tokens // (2 * n_sources)) * 10000 // src_tokens)
         |    AS weight_bp,
         |  src_tokens * least(10000,
         |    (tot_tokens // (2 * n_sources)) * 10000 // src_tokens) // 10000
         |    AS planned_tokens
         |FROM per_src, tot ORDER BY source""".stripMargin,
    "t22_char_entropy" ->
      """WITH chars AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |c AS (SELECT doc_id, ch, count(*) AS n FROM chars
        |      WHERE ch <> '' GROUP BY doc_id, ch)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars,
        |  count(*) AS n_distinct_chars,
        |  CAST(max(n) AS BIGINT) AS max_char_count,
        |  round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 4) AS char_entropy
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t21_vocab_growth" ->
      raw"""WITH toks AS (
         |  SELECT source, unnest($dTokens) AS tok FROM documents),
         |tk AS (
         |  SELECT source, count(*) AS n_tokens,
         |    CAST(count(DISTINCT tok) AS BIGINT) AS vocab
         |  FROM toks WHERE length(tok) > 0 GROUP BY source),
         |dc AS (SELECT source, count(*) AS n_docs
         |       FROM documents GROUP BY source)
         |SELECT dc.source AS source, n_docs, n_tokens, vocab,
         |  CAST(round(vocab * CAST(10000 AS DOUBLE) / n_tokens) AS BIGINT)
         |    AS ttr_x10k
         |FROM dc JOIN tk USING (source) ORDER BY source""".stripMargin,
    "t20_perplexity_buckets" ->
      raw"""WITH toks AS (SELECT doc_id,
         |        string_split_regex(trim(text), '\s+') AS tk FROM documents),
         |bg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
         |       FROM toks, UNNEST(range(1, len(tk))) AS t(i)
         |       WHERE len(tk) >= 2),
         |uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
         |bi AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         |scored AS (SELECT doc_id, count(*) AS nb,
         |  CAST(sum(CAST(round(ln(c12 * 1.0 / c1) * 10000) AS BIGINT))
         |    AS BIGINT) AS slp
         |  FROM bg JOIN bi USING (w1, w2) JOIN uni USING (w1)
         |  GROUP BY doc_id),
         |keyed AS (SELECT d.source, d.doc_id, (slp * 1000) // nb AS score_q
         |  FROM documents d JOIN scored USING (doc_id)),
         |b AS (SELECT source, score_q, ntile(3) OVER (
         |    PARTITION BY source ORDER BY score_q DESC, doc_id) AS bucket
         |  FROM keyed)
         |SELECT source, CAST(bucket AS BIGINT) AS bucket,
         |  count(*) AS n_docs, CAST(sum(score_q) AS BIGINT) AS sum_score_q
         |FROM b GROUP BY source, bucket ORDER BY source, bucket""".stripMargin,
    "t19_gopher_rules" ->
      raw"""WITH m AS (
         |  SELECT source, $dTokens AS tk,
         |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS nz
         |  FROM documents),
         |r AS (
         |  SELECT source, nz,
         |    CAST(len(tk) AS BIGINT) AS n_words,
         |    CAST(len(list_distinct(list_filter(tk,
         |      x -> x IN (${sqlList(Stopwords)})))) AS BIGINT) AS n_stop_kinds,
         |    CAST(len(list_filter(tk,
         |      x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha
         |  FROM m),
         |f AS (
         |  SELECT source,
         |    (n_words BETWEEN 20 AND 100000) AS r_nwords,
         |    ((20000 * nz + n_words) // (2 * n_words)
         |       BETWEEN 30000 AND 100000) AS r_wordlen,
         |    (n_stop_kinds >= 2) AS r_stop,
         |    (n_alpha * 5 >= n_words * 4) AS r_alpha
         |  FROM r)
         |SELECT source, count(*) AS n_docs,
         |  CAST(coalesce(sum(CASE WHEN r_nwords AND r_wordlen AND r_stop
         |    AND r_alpha THEN 1 END), 0) AS BIGINT) AS n_pass,
         |  CAST(coalesce(sum(CASE WHEN NOT r_nwords THEN 1 END), 0) AS BIGINT)
         |    AS fail_nwords,
         |  CAST(coalesce(sum(CASE WHEN NOT r_wordlen THEN 1 END), 0) AS BIGINT)
         |    AS fail_wordlen,
         |  CAST(coalesce(sum(CASE WHEN NOT r_stop THEN 1 END), 0) AS BIGINT)
         |    AS fail_stop,
         |  CAST(coalesce(sum(CASE WHEN NOT r_alpha THEN 1 END), 0) AS BIGINT)
         |    AS fail_alpha,
         |  ((20000 * CAST(coalesce(sum(CASE WHEN r_nwords AND r_wordlen
         |      AND r_stop AND r_alpha THEN 1 END), 0) AS BIGINT)
         |    + count(*)) // (2 * count(*))) / 10000.0 AS pass_rate
         |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "t18_perplexity_filter" ->
      raw"""WITH toks AS (SELECT doc_id,
         |        string_split_regex(trim(text), '\s+') AS tk FROM documents),
         |bg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
         |       FROM toks, UNNEST(range(1, len(tk))) AS t(i)
         |       WHERE len(tk) >= 2),
         |uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
         |bi AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         |scored AS (SELECT doc_id, count(*) AS nb,
         |    sum(CAST(round(ln(c12 * 1.0 / c1) * 10000) AS BIGINT)) AS slp
         |  FROM bg JOIN bi USING (w1, w2) JOIN uni USING (w1)
         |  GROUP BY doc_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(count(nb) AS BIGINT) AS n_scored,
         |  CAST(sum(CASE WHEN slp >= ${LmKeepThresholdQ4} * nb
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents LEFT JOIN scored USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin,
    "t17_bigram_lm" ->
      raw"""WITH toks AS (SELECT doc_id,
         |        string_split_regex(trim(text), '\s+') AS tk FROM documents),
         |bg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
         |       FROM toks, UNNEST(range(1, len(tk))) AS t(i)
         |       WHERE len(tk) >= 2),
         |uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
         |bi AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(CAST(round(ln(c12 * 1.0 / c1) * 10000) AS BIGINT))
         |    AS BIGINT) AS sum_logp_q4
         |FROM bg JOIN bi USING (w1, w2) JOIN uni USING (w1)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t09_normalize" ->
      """SELECT doc_id, md5(norm) AS norm_fp,
        | CAST(length(norm) AS BIGINT) AS n_norm_chars,
        | CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_runs
        |FROM (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(lower(text), '[0-9]+', '0', 'g'),
        |        '[^a-z0-9 ]', '', 'g'),
        |      ' +', ' ', 'g')) AS norm
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "t08_char_ngram_langid" ->
      s"""SELECT lang, pred, count(*) AS cnt FROM (
         | SELECT lang, CASE
         |   ${TriProfiles.map { case (l, _) =>
              val others = TriProfiles.map(_._1).filter(_ != l)
                .map(o => s"c_$l >= c_$o").mkString(" AND ")
              s"WHEN c_$l > 0 AND $others THEN '$l'"
            }.mkString("\n   ")}
         |   ELSE 'unknown' END AS pred
         | FROM (SELECT lang,
         |   ${TriProfiles.map { case (l, ts) => s"${dTriScore(ts)} AS c_$l" }
              .mkString(",\n   ")}
         |  FROM (SELECT lang, lower(text) AS lt FROM documents)))
         |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin,
    "t07_tfidf" ->
      raw"""WITH tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM (
         |    SELECT doc_id,
         |      unnest(string_split_regex(trim(text), '\s+')) AS token
         |    FROM documents)
         |  GROUP BY doc_id, token),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT doc_id, token, tfidf, rn FROM (
         |  SELECT tf.doc_id, tf.token,
         |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS tfidf,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) DESC,
         |               tf.token) AS rn
         |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n)
         |WHERE rn <= 5 ORDER BY doc_id, rn""".stripMargin,
    "t05_bpe_tokens" ->
      raw"""SELECT doc_id,
         | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
         | CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS n_distinct_bpe
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t01_token_count" ->
      s"""SELECT doc_id, CAST(len($dTokens) AS BIGINT) AS n_tokens,
         | CAST(length(text) AS BIGINT) AS n_chars_obs
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t02_quality_score" ->
      s"""SELECT doc_id, n_tokens,
         | round(n_chars*1.0/n_tokens, 4) AS avg_token_len,
         | round(n_punct*1.0/n_chars, 4) AS punct_ratio,
         | round(n_stop*1.0/n_tokens, 4) AS stopword_ratio,
         | (n_tokens >= 10 AND n_tokens <= 1000 AND n_punct*1.0/n_chars < 0.2)
         |   AS quality_ok
         |FROM (SELECT doc_id,
         |   CAST(len($dTokens) AS BIGINT) AS n_tokens,
         |   CAST(length(text) AS BIGINT) AS n_chars,
         |   length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
         |   ${dMarker(Stopwords)} AS n_stop
         | FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "t03_langid" ->
      s"""SELECT lang, pred, count(*) AS cnt FROM (
         | SELECT lang, CASE
         |   ${Markers.map { case (l, _) =>
              val others = Markers.map(_._1).filter(_ != l)
                .map(o => s"s_$l >= s_$o").mkString(" AND ")
              s"WHEN s_$l > 0 AND $others THEN '$l'"
            }.mkString("\n   ")}
         |   ELSE 'unknown' END AS pred
         | FROM (SELECT lang,
         |   ${Markers.map { case (l, ws) => s"${dMarker(ws)} AS s_$l" }
              .mkString(",\n   ")}
         |  FROM documents))
         |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin,
    "t04_fingerprint" ->
      s"SELECT doc_id, $dFp AS fp FROM documents ORDER BY doc_id",
    "d01_dedup_exact" ->
      s"""SELECT CAST(sum(cnt) AS BIGINT) AS n_docs, count(*) AS n_distinct,
         | CAST(sum(cnt) - count(*) AS BIGINT) AS n_dup_rows
         |FROM (SELECT $dFp AS fp, count(*) AS cnt, min(doc_id) AS survivor
         |      FROM documents GROUP BY fp)""".stripMargin,
    // string 8-grams stand in for the Spark side's 64-bit gram hashes
    // (identical sets up to ~2^-64 collision odds; the short-doc branch
    // mirrors the kernel's whole-text fallback)
    "t10_decontaminate" ->
      raw"""WITH toks AS (SELECT doc_id,
         |        string_split_regex(trim(text), '\s+') AS tk FROM documents),
         |grams AS (
         |  SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS g
         |  FROM toks, UNNEST(range(1, len(tk) - 6)) AS t(i)
         |  WHERE len(tk) >= 8),
         |short AS (SELECT doc_id, array_to_string(tk, ' ') AS g
         |          FROM toks WHERE len(tk) < 8),
         |allg AS (SELECT DISTINCT doc_id, g FROM
         |         (SELECT * FROM grams UNION ALL SELECT * FROM short)),
         |bench AS (SELECT doc_id AS bench_id, g FROM allg WHERE doc_id % 50 = 0),
         |corpus AS (SELECT * FROM allg WHERE doc_id % 50 <> 0)
         |SELECT corpus.doc_id AS doc_id,
         |  CAST(count(DISTINCT corpus.g) AS BIGINT) AS n_shared_grams,
         |  CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench_docs
         |FROM corpus JOIN bench USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t16_seq_packing" ->
      raw"""WITH toks AS (SELECT source, doc_id,
         |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents),
         |packed AS (SELECT source, doc_id, n_tokens,
         |    CAST((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
         |      // 512 AS BIGINT) AS pack_id
         |  FROM toks)
         |SELECT source, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM packed GROUP BY source, pack_id
         |ORDER BY source, pack_id""".stripMargin,
    "t15_lang_entropy" ->
      """WITH c AS (SELECT source, lang, count(*) AS n
        |          FROM documents GROUP BY source, lang),
        |t AS (SELECT source, sum(n) AS tot FROM c GROUP BY source)
        |SELECT c.source AS source, CAST(t.tot AS BIGINT) AS n_docs,
        |  count(*) AS n_langs,
        |  round(-sum((n / t.tot) * ln(n / t.tot)), 4) AS lang_entropy
        |FROM c JOIN t ON c.source = t.source
        |GROUP BY c.source, t.tot ORDER BY source""".stripMargin,
    "t14_pii_scrub" ->
      raw"""SELECT doc_id,
         | CAST(len(regexp_extract_all(text,
         |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
         |   AS n_emails,
         | CAST(len(regexp_extract_all(text,
         |   '\b\d{1,3}(\.\d{1,3}){3}\b')) AS BIGINT) AS n_ips,
         | CAST(len(regexp_extract_all(text, '\d{6,}')) AS BIGINT) AS n_ids,
         | md5(regexp_replace(regexp_replace(regexp_replace(text,
         |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |   '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
         |   '\d{6,}', '<ID>', 'g')) AS redacted_md5
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t12_chunk_split" ->
      raw"""WITH toks AS (SELECT doc_id,
         |        string_split_regex(trim(text), '\s+') AS tk FROM documents)
         |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
         |  CAST(len(tk[i*64+1 : i*64+64]) AS BIGINT) AS n_toks,
         |  md5(array_to_string(tk[i*64+1 : i*64+64], ' ')) AS chunk_md5
         |FROM toks, UNNEST(range(0, (len(tk) - 1) // 64 + 1)) AS t(i)
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "t13_novelty" ->
      raw"""WITH dt AS (SELECT DISTINCT doc_id,
         |        unnest(string_split_regex(trim(text), '\s+')) AS tok
         |      FROM documents),
         |f AS (SELECT tok, min(doc_id) AS first_doc FROM dt GROUP BY tok)
         |SELECT doc_id, count(*) AS n_distinct_toks,
         |  CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel
         |FROM dt JOIN f USING (tok)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d08_source_dup_stats" ->
      s"""WITH base AS (SELECT source, doc_id, $dFp AS fp FROM documents),
         |spread AS (SELECT fp, CAST(count(DISTINCT source) AS BIGINT)
         |             AS n_sources
         |           FROM base GROUP BY fp)
         |SELECT source, count(*) AS n_docs,
         |  CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fps,
         |  CAST(sum(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_cross_docs
         |FROM base JOIN spread USING (fp)
         |GROUP BY source ORDER BY source""".stripMargin,
    "t11_repetition" ->
      raw"""WITH toks AS (SELECT doc_id,
         |        string_split_regex(trim(text), '\s+') AS tk FROM documents),
         |grams AS (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) >= 3
         |      THEN [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]
         |      ELSE [array_to_string(tk, ' ')] END AS gs
         |  FROM toks)
         |SELECT doc_id,
         |  CAST(len(gs) AS BIGINT) AS n_grams,
         |  CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
         |  ((20000 * (len(gs) - len(list_distinct(gs))) + len(gs))
         |     // (2 * len(gs))) / 10000.0 AS dup_ratio
         |FROM grams ORDER BY doc_id""".stripMargin)
}
