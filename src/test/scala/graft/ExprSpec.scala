package graft

import graft.functions.{exprs, HashImpls}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExprSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("GraftSession front door registers every SQL function") {
    // the shared test session is built by GraftSession.build
    val r = spark.sql(
      """SELECT simhash64(array('a','b')) AS sh,
        | size(minhash_ngrams(array('a','b','c','d'), 3, 16, 42)) AS mh,
        | rh_bucket(array(cast(0.5 as double)), 4, 7) AS rb,
        | dot_d(array(cast(2.0 as double)), array(cast(3.0 as double))) AS d,
        | size(winnow_fps('hello world text', 4, 2)) AS wf,
        | size(ngram_hashes(array('a','b','c'), 3)) AS nh""".stripMargin).head()
    assert(r.getDouble(3) == 6.0)
    assert(r.getInt(5) == 1)
    val p = spark.sql(
      """SELECT pii_scan('mail a@b.co from 1.2.3.4 ref 1234567').scrubbed AS sc,
        | scrub_pii('mail a@b.co') AS sp""".stripMargin).head()
    assert(p.getString(0) == "mail <EMAIL> from <IP> ref <ID>")
    assert(p.getString(1) == "mail <EMAIL>")
    val bc = spark.sql(
      """SELECT bounded_collect(struct(id AS doc_id, id AS payload), 5) AS bc
        |FROM range(10)""".stripMargin).head().getStruct(0)
    assert(bc.getLong(0) == 10L && bc.getSeq[Any](1).size == 5)
  }

  test("simhash64: identical token arrays hash equal; near-identical differ in few bits") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox leaps over the lazy dog again and again"),
      (4L, "completely different words about database query engines here now")
    ).toDF("id", "text")
      .select($"id", exprs.simhash64(split($"text", " ")).as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(java.lang.Long.bitCount(m(1L) ^ m(3L)) <= 16)
    assert(java.lang.Long.bitCount(m(1L) ^ m(4L)) > 10)
  }

  test("dot_d: fused dot product matches the HOF spelling and SQL form works") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 0.5, -1.0)))
      .toDF("a", "b")
    val fused = df.select(exprs.dot_d($"a", $"b")).head().getDouble(0)
    val hof = df.selectExpr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0 as double), (acc, v) -> acc + v)")
      .head().getDouble(0)
    assert(fused == hof && fused == 1.0 * 4.0 + 2.0 * 0.5 + 3.0 * (-1.0))
    graft.functions.GraftExtensions.register(spark)
    df.createOrReplaceTempView("dot_t")
    assert(spark.sql("SELECT dot_d(a, b) FROM dot_t").head().getDouble(0) == fused)
  }

  test("minhash_sigs: estimated jaccard tracks exact jaccard") {
    val a = (1 to 100).map(i => s"tok$i")
    val b = (1 to 80).map(i => s"tok$i") ++ (1 to 20).map(i => s"other$i")
    val df = Seq((1L, a), (2L, b)).toDF("id", "toks")
      .select($"id", exprs.minhash_sigs($"toks", k = 128).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val est = sigs(1L).zip(sigs(2L)).count { case (x, y) => x == y } / 128.0
    val exact = 80.0 / 120.0
    assert(math.abs(est - exact) < 0.15, s"est=$est exact=$exact")
  }

  test("rh_bucket: deterministic, in range, equal vectors collide") {
    val v = Array.tabulate(64)(i => i.toFloat / 64f)
    val df = Seq((1L, v), (2L, v), (3L, v.map(-_))).toDF("id", "vec")
      .select($"id", exprs.rh_bucket($"vec", planes = 8, seed = 7L).as("b"))
    val m = df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m(1L) == m(2L))
    assert(m.values.forall(b => b >= 0 && b < 256))
    // opposite vector lands in the complementary bucket
    assert((m(1L) ^ m(3L)) == 255)
  }

  test("rolling_hashes: one-pass Rabin-Karp matches per-window recompute") {
    val text = "abcdefgh 12345 abcdefgh 67890 qrstuvwx"
    val w = 8
    val df = Seq(Tuple1(text)).toDF("text")
      .select(exprs.rolling_hashes($"text", w).as("rh"))
    val got = df.head().getSeq[Long](0)
    assert(got.length == text.length - w + 1)
    // windows with identical content hash identically ("the " appears twice)
    val windows = text.sliding(w).toSeq
    val dupIdx = windows.zipWithIndex.groupBy(_._1).values.filter(_.size > 1)
    assert(dupIdx.nonEmpty)
    dupIdx.foreach { grp =>
      val hs = grp.map { case (_, i) => got(i) }
      assert(hs.distinct.size == 1, s"equal windows must hash equal: $grp")
    }
    // distinct windows overwhelmingly hash distinct
    assert(got.distinct.size >= windows.distinct.size - 1)
  }

  test("custom functions are SQL-callable after registration") {
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT simhash64(array('a','b')) AS sh,
        |  size(minhash_sigs(array('x','y'), 16, 7)) AS k,
        |  rh_bucket(array(cast(0.5 as double), cast(-0.25 as double)), 4, 7) AS b,
        |  jaccard_est(array(1L, 2L), array(1L, 3L)) AS je,
        |  size(rolling_hashes('hello world rolling', 4)) AS nrh""".stripMargin).head()
    assert(r.getLong(0) != 0L)
    assert(r.getInt(1) == 16)
    assert(r.getInt(2) >= 0 && r.getInt(2) < 16)
    assert(math.abs(r.getDouble(3) - 0.5) < 1e-9)
    assert(r.getInt(4) == "hello world rolling".length - 3)
  }

  test("t06 winnowing fingerprints are fewer than raw hashes") {
    val t = TestSpark.tables
    val rows = graft.text.TextOps.t06(t).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "fingerprints <= hashes")
      assert(r.getLong(2) > 0)
    }
  }

  test("GraftSession front door registers SQL functions") {
    // a second build call with the shared session's own arguments:
    // getOrCreate returns that session, re-applies the same confs and
    // registers the functions again
    val s = GraftSession.build("local[4]", 4, "graft-tests")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.sql("SELECT simhash64(array('x')) AS v").head().getLong(0) != 0L)
  }

  test("codegen and interpreted paths agree") {
    val toks = Seq((1L, Seq("a", "b", "c", "d", "e")))
    val df = toks.toDF("id", "toks")
    val viaExpr = df.select(exprs.simhash64($"toks")).head().getLong(0)
    val direct = HashImpls.simhash64(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Seq("a", "b", "c", "d", "e").map(
          org.apache.spark.unsafe.types.UTF8String.fromString)))
    assert(viaExpr == direct)
  }

  test("quality_scan equals the split/regex/HOF spelling on adversarial inputs") {
    val stop = graft.functions.QualityScan.Stopwords
    val fixtures = Seq(
      "the quick brown fox and a dog, with zeal!",
      "  leading spaces then the end  ",
      "\ttab-led line\nwith newlines\r\nand CRLF the of in",
      "", "   ", "\t", " \t ", "single",
      "punct.only.,!?;:chain", "no-stop-words-here at-all",
      "THE A OF case Sensitive the THE the",
      "unicode éàü tokens the 中文 words and",
      "a b c d e f g h i j k l m n o p q r s t u v w x y z",
      "trailing whitespace the\t\n  ")
    val df = fixtures.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "text")
    val sqlStop = stop.map(s => s"'$s'").mkString(", ")
    val rows = df
      .withColumn("toks", expr(exprs.wsTokensSql))
      .select(
        exprs.quality_scan($"text").getField("n_tokens").as("k_tok"),
        size($"toks").cast("long").as("r_tok"),
        exprs.quality_scan($"text").getField("n_punct").as("k_punct"),
        length(regexp_replace($"text", "[^.,!?;:]", "")).cast("long").as("r_punct"),
        exprs.quality_scan($"text").getField("n_stop").as("k_stop"),
        expr(s"cast(size(filter(toks, x -> x IN ($sqlStop))) as bigint)").as("r_stop"))
      .collect()
    rows.zip(fixtures).foreach { case (r, fx) =>
      assert(r.getLong(0) == r.getLong(1), s"token-count mismatch on: '$fx'")
      assert(r.getLong(2) == r.getLong(3), s"punct-count mismatch on: '$fx'")
      assert(r.getLong(4) == r.getLong(5), s"stopword-count mismatch on: '$fx'")
    }
  }

  test("norm_scan equals the regex-chain normalization on adversarial inputs") {
    val fixtures = Seq(
      "  Hello,  WORLD!!  123 then 4.5.6 end  ",
      "tabs\tand\nnewlines are stripped not spaced",
      "unicode éàü ÉÀÜ mixed aé1é2b",
      "1a2b3c 111 222  333",
      "...", "", "   ", "0", "a", "eé€😀x9",
      "digits123mixed456with789words", "UPPER lower 42MiXeD")
    val df = fixtures.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "text")
    val regexNorm = trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower($"text"), "[0-9]+", "0"),
        "[^a-z0-9 ]", ""),
      " +", " "))
    val rows = df.select(
      exprs.norm_scan($"text").getField("norm").as("kernel"),
      regexNorm.as("regex"),
      exprs.norm_scan($"text").getField("n_num_runs").as("kruns"),
      size(regexp_extract_all($"text", lit("[0-9]+"), lit(0))).cast("long").as("rruns"))
      .collect()
    rows.zip(fixtures).foreach { case (r, fx) =>
      assert(r.getString(0) == r.getString(1), s"norm mismatch on: '$fx'")
      assert(r.getLong(2) == r.getLong(3), s"run-count mismatch on: '$fx'")
    }
  }

  // shared adversarial fixtures for the tokenizing kernels: Java-split
  // edge semantics (leading/trailing separators → empty tokens; empty
  // string → [""]), multi-byte UTF-8, separator runs, tabs/CRLF
  private val tokenizerFixtures = Seq(
    "plain words separated by single spaces",
    "  leading spaces  ", "trailing tab then end\t",
    "\tleading tab", "", " ", "\t", " \t \n ",
    "runs  of   separators\t\t\nmixed \r\n here",
    "single", "a b", "unicode éàü 中文 words",
    "emoji 😀 and €uro composed",
    "exactly three token grams here now",
    "dup dup dup dup dup dup",
    "a a a b a a a b a a a b",
    "1 2 3 4 5 6 7 8 9 10 " * 20, // multi-chunk (>64 tokens)
    "xvertical\ftab forms")

  test("ngram_scan equals the split + ngram_hashes spelling on adversarial inputs") {
    val df = tokenizerFixtures.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("id", "text")
    val rows = df
      .withColumn("toks", expr(exprs.wsTokensSql))
      .select(
        exprs.ngram_scan($"text", 3).getField("n_grams").as("k_grams"),
        when(expr("size(toks)") >= 3, expr("size(toks) - 2"))
          .otherwise(lit(1)).cast("long").as("r_grams"),
        exprs.ngram_scan($"text", 3).getField("n_distinct").as("k_dist"),
        size(exprs.ngram_hashes($"toks", 3)).cast("long").as("r_dist"))
      .collect()
    rows.zip(tokenizerFixtures).foreach { case (r, fx) =>
      assert(r.getLong(0) == r.getLong(1), s"gram-count mismatch on: '$fx'")
      assert(r.getLong(2) == r.getLong(3), s"distinct mismatch on: '$fx'")
    }
  }

  test("ngram_strs is the exact string twin of ngram_hashes on adversarial " +
    "inputs: same distinct count, grams are the space-joined windows, " +
    "short docs fall back to the whole token list") {
    val df = tokenizerFixtures.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("id", "text")
    val rows = df
      .withColumn("toks", expr(exprs.wsTokensSql))
      .select($"text",
        size(exprs.ngram_strs($"toks", 3)).cast("long").as("s_dist"),
        size(exprs.ngram_hashes($"toks", 3)).cast("long").as("h_dist"),
        exprs.ngram_strs($"toks", 3).as("grams"),
        $"toks")
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"distinct-count mismatch vs ngram_hashes on: '${r.getString(0)}'")
      val toks = r.getSeq[String](4)
      val expected =
        (if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSeq
         else Seq(toks.mkString(" "))).distinct.sorted
      assert(r.getSeq[String](3) == expected,
        s"gram set mismatch on: '${r.getString(0)}'")
    }
    // SQL registration parity (the extension-registered spelling)
    val viaSql = spark.sql(
      "SELECT ngram_strs(array('a','b','c','b','c'), 2) AS g").head()
    assert(viaSql.getSeq[String](0) == Seq("a b", "b c", "c b"))
  }

  test("chunk_scan equals the transform/slice/concat_ws/md5 spelling on adversarial inputs") {
    val C = 5 // small chunk size exercises multi-chunk splits on fixtures
    val df = tokenizerFixtures.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("id", "text")
    val kernel = df
      .select($"id", posexplode(exprs.chunk_scan($"text", C))
        .as(Seq("chunk_id", "ch")))
      .select($"id", $"chunk_id".cast("long"),
        $"ch.n_toks", $"ch.chunk_md5")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val reference = df
      .select($"id", expr(exprs.wsTokensSql).as("tk"))
      .select($"id", posexplode(expr(
        s"transform(sequence(0, (size(tk) - 1) div $C), i -> slice(tk, i * $C + 1, $C))"))
        .as(Seq("chunk_id", "chunk")))
      .select($"id", $"chunk_id".cast("long"),
        size($"chunk").cast("long"), md5(concat_ws(" ", $"chunk")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(kernel.toSeq.sorted == reference.toSeq.sorted)
  }

  test("bpe_scan equals the lower + regexp_extract_all spelling on adversarial inputs") {
    val fixtures = tokenizerFixtures ++ Seq(
      "MiXeD CaSe LETTERS and digits 123abc456",
      "punct.chains,!?;:every.char.its.own.token",
      "digits123glued456to789letters",
      "ünïcödé ÀÉÎ lowercases tö nön-ascii")
    val df = fixtures.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "text")
    val pat = graft.text.TextOps.BpePattern
    val rows = df
      .withColumn("bts", expr(s"regexp_extract_all(lower(text), '$pat', 0)"))
      .select(
        exprs.bpe_scan($"text").getField("n_bpe_tokens").as("k_tot"),
        expr("cast(size(bts) as bigint)").as("r_tot"),
        exprs.bpe_scan($"text").getField("n_distinct_bpe").as("k_dist"),
        expr("cast(size(array_distinct(bts)) as bigint)").as("r_dist"))
      .collect()
    rows.zip(fixtures).foreach { case (r, fx) =>
      assert(r.getLong(0) == r.getLong(1), s"token-count mismatch on: '$fx'")
      assert(r.getLong(2) == r.getLong(3), s"distinct mismatch on: '$fx'")
    }
  }

  test("canon_fp equals the md5/lower/trim/regex chain on adversarial inputs") {
    val fixtures = Seq(
      "The  Quick\tBrown\nFox ", "  leading and trailing  ",
      "", "   ", "\t\n\r\f", "single",
      "CaSe FoLd The SAME text", "case fold the same text",
      "unicode ÉÀÜ éàü 中文  spaced", "a b nbsp is NOT ascii ws",
      "x\r\ny CRLF z", "emoji 😀 mix 1  2   3")
    val df = fixtures.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "text")
    val chain = md5(lower(trim(regexp_replace($"text", "\\s+", " "))))
    val rows = df.select(
      exprs.canon_fp($"text").as("kernel"), chain.as("regex")).collect()
    rows.zip(fixtures).foreach { case (r, s) =>
      assert(r.getString(0) == r.getString(1), s"canon_fp mismatch on '$s'")
    }
    // the two lowercase-equivalent fixtures must collide (dedup semantics)
    val fps = df.select(exprs.canon_fp($"text")).collect().map(_.getString(0))
    assert(fps(6) == fps(7))
  }

  test("bounded_collect: exact counts, capped members, equal to collect_list under the cap") {
    // groups: a=3 rows (complete), b=1 row, hot=70 rows (over cap 65)
    val rows = (1L to 3L).map(i => ("a", i, i * 10)) ++
      Seq(("b", 9L, 90L)) ++
      (100L until 170L).map(i => ("hot", i, i))
    val df = rows.toDF("k", "doc_id", "payload")
    val got = df.groupBy("k")
      .agg(exprs.bounded_collect(struct($"doc_id", $"payload"), 65).as("bc"))
      .select($"k", $"bc.n".as("n"), size($"bc.members").as("m"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(got("a") == ((3L, 3)), "complete group keeps every member")
    assert(got("b") == ((1L, 1)))
    assert(got("hot") == ((70L, 65)),
      "hot group reports its TRUE count but buffers only cap members")
    // members of a complete group match collect_list exactly (sorted)
    val viaBounded = df.filter($"k" === "a")
      .groupBy("k")
      .agg(exprs.bounded_collect(struct($"doc_id", $"payload"), 65).as("bc"))
      .select(sort_array($"bc.members").as("m")).head().getSeq[Any](0)
    val viaCollect = df.filter($"k" === "a")
      .groupBy("k")
      .agg(sort_array(collect_list(struct($"doc_id", $"payload"))).as("m"))
      .select($"m").head().getSeq[Any](0)
    assert(viaBounded == viaCollect)
  }

  test("bounded_collect survives partial/merge across many partitions") {
    // force multi-partition partial aggregation: every row its own task-ish
    val df = spark.range(0, 200, 1, 16)
      .select(lit("g").as("k"), col("id").as("doc_id"), (col("id") * 2).as("payload"))
    val r = df.groupBy("k")
      .agg(exprs.bounded_collect(struct($"doc_id", $"payload"), 50).as("bc"))
      .select($"bc.n", size($"bc.members")).head()
    assert(r.getLong(0) == 200L && r.getInt(1) == 50,
      "count sums across partials; members top up to the cap during merge")
  }
}
