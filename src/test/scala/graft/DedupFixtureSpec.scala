package graft

import graft.dedup.Dedup
import graft.functions.HashImpls
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end VALUE checks of the rows-only dedup operators (d02–d06) on
  * the fixture corpus: the DataFrame pipelines (band slicing, posexplode
  * wiring, bucket grouping, label propagation) are compared against
  * expectations computed directly from the golden-pinned kernels. A wrong
  * slice offset, band index, or join key would keep row counts plausible
  * but fails these equality assertions.
  */
class DedupFixtureSpec extends AnyFunSuite {
  lazy val t = FixtureData.tables
  import FixtureData.round4

  private def toks(s: String): Seq[String] = s.trim.split("\\s+").toSeq
  private def arr(ts: Seq[String]) =
    new GenericArrayData(ts.map(UTF8String.fromString))
  // the md5-derived deterministic kernel (round-7 rebase) — the one d02
  // and st14 actually run; the FNV kernel stays on the candidate-only
  // path (verifiedPairs) and is pinned by HashPropertySpec
  private val md5Perms = graft.functions.Md5MinHash.perms(32, 42L)
  private def sig(s: String): Seq[Long] =
    HashImpls.minhashMd5Ngrams(arr(toks(s)), 3,
      md5Perms.map(_._1), md5Perms.map(_._2)).toSeq
  private def bands(s: Seq[Long]): Seq[Seq[Long]] = s.grouped(4).toSeq

  private lazy val sigs: Map[Long, Seq[Long]] =
    FixtureData.docTexts.map { case (id, text) => id -> sig(text) }.toMap
  private lazy val ids: Seq[Long] = FixtureData.docTexts.map(_._1).sorted

  /** Pairs sharing at least one LSH band (the candidate set). */
  private lazy val bandPairs: Seq[(Long, Long)] = for {
    i <- ids; j <- ids if i < j
    if bands(sigs(i)).zip(bands(sigs(j))).exists { case (a, b) => a == b }
  } yield (i, j)

  private def nMatches(i: Long, j: Long): Long =
    sigs(i).zip(sigs(j)).count { case (a, b) => a == b }.toLong

  test("d02 minhash LSH pairs equal the kernel-computed expectation") {
    val expected = bandPairs
      .filter { case (i, j) => nMatches(i, j) * 2 >= 32 }
      .map { case (i, j) => (i, j, nMatches(i, j)) }
      .sortBy(p => (p._1, p._2))
    val got = Dedup.d02(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // the fixture plants pairs: 1-2, 1-7 (chain) and 3-4 (exact)
    assert(expected.map(p => (p._1, p._2)).toSet
      .intersect(Set((1L, 2L), (3L, 4L))).size == 2)
  }

  test("d03 simhash chunk-band pairs equal the kernel-computed expectation") {
    val sh = FixtureData.docTexts.map { case (id, text) =>
      id -> HashImpls.simhashMd5(arr(toks(text)))
    }.toMap
    def chunks(h: Long): Seq[Long] = (0 until 4).map(i => (h >> (i * 16)) & 0xffffL)
    val expected = (for {
      i <- ids; j <- ids if i < j
      if chunks(sh(i)).zip(chunks(sh(j))).exists { case (a, b) => a == b }
      hamming = java.lang.Long.bitCount(sh(i) ^ sh(j)).toLong
      if hamming <= 8
    } yield (i, j, hamming)).sortBy(p => (p._1, p._2))
    val got = Dedup.d03(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(expected.contains((3L, 4L, 0L)), "exact dups must have hamming 0")
  }

  test("d04 exact n-gram jaccard equals the kernel-computed expectation") {
    val grams = FixtureData.docTexts.map { case (id, text) =>
      id -> HashImpls.ngramHashes(arr(toks(text)), 3).toSet
    }.toMap
    val expected = bandPairs
      .map { case (i, j) =>
        val s = grams(i).intersect(grams(j)).size.toLong
        val u = grams(i).union(grams(j)).size.toLong
        (i, j, s, u, (20000L * s + u) / (2L * u))
      }
      .filter { case (_, _, s, u, _) => s * 10 >= u * 3 }
      .sortBy(p => (p._1, p._2))
    val got = Dedup.d04(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected)
    assert(expected.exists { case (i, j, _, _, jx) =>
      (i, j) == (3L, 4L) && jx == 10000L })
  }

  test("d05 embedding LSH near-dups equal the kernel-computed expectation") {
    val dvecs = FixtureData.vecs.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    val vids = FixtureData.vecs.map(_._1).sorted
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val norms = dvecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }
    val buckets = dvecs.map { case (id, v) =>
      id -> (0 until 8).map(i =>
        HashImpls.rhBucket(new GenericArrayData(v), 4, 1000L + i))
    }
    val expected = (for {
      i <- vids; j <- vids if i < j
      if buckets(i).zip(buckets(j)).exists { case (a, b) => a == b }
      cos = dot(dvecs(i), dvecs(j)) / (norms(i) * norms(j))
      if cos >= 0.4
    } yield (i, j, round4(cos))).sortBy(p => (p._1, p._2))
    val got = Dedup.d05(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected)
    assert(expected.exists { case (i, j, c) => (i, j) == (10L, 11L) && c == 1.0 },
      "planted identical vectors must surface with cosine 1.0")
  }

  test("d07 winnow-overlap pairs equal the kernel-computed expectation") {
    // round-8: d07 grades the md5 window-hash winnowing kernel (the
    // engine-reproducible variant behind its SQL oracle)
    val fps = FixtureData.docTexts.map { case (id, text) =>
      id -> HashImpls.winnowMd5Fps(UTF8String.fromString(text), 16, 8).toSeq
    }.toMap
    // inverted index with the bucketPairs size guard [2, 64]
    val byFp = ids.flatMap(id => fps(id).map(fp => fp -> id))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      .filter { case (_, docs) => docs.size >= 2 && docs.size <= 64 }
    val shared = scala.collection.mutable.Map.empty[(Long, Long), Long]
    byFp.values.foreach { docs =>
      for (a <- docs; b <- docs if a < b)
        shared((a, b)) = shared.getOrElse((a, b), 0L) + 1
    }
    val expected = shared.toSeq.collect {
      case ((a, b), n) if n >= 3 => (a, b, n)
    }.sortBy(p => (p._1, p._2))
    val got = Dedup.d07(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(expected.exists { case (a, b, _) => (a, b) == (3L, 4L) },
      "exact dups share every fingerprint")
    assert(expected.exists { case (a, b, _) => (a, b) == (1L, 2L) },
      "near-dups keep most winnow fingerprints through a local edit")
  }

  test("d06 clusters equal union-find over the d04 exact-verified pair graph") {
    // edges are the EXACT-verified pairs (10s >= 3u over 3-gram hash
    // sets), the same relation d04 grades — not the d02 estimates
    val grams = FixtureData.docTexts.map { case (id, text) =>
      id -> HashImpls.ngramHashes(arr(toks(text)), 3).toSet
    }.toMap
    val pairs = bandPairs.filter { case (i, j) =>
      val s = grams(i).intersect(grams(j)).size.toLong
      val u = grams(i).union(grams(j)).size.toLong
      s * 10 >= u * 3
    }
    // reference union-find
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (i, j) =>
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val touched = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val expected = touched.groupBy(find).toSeq
      .map { case (root, members) =>
        (root, members.size.toLong, members.toSeq.sorted.mkString(","))
      }
      .sortBy(_._1)
    val got = Dedup.d06(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == expected)
    // the 1-2 / 1-7 chain must collapse into one cluster rooted at 1
    assert(expected.exists { case (root, n, members) =>
      root == 1L && members.split(",").length >= 3 && n >= 3 })
  }

  test("d15 near-dup survivorship picks the (ntk desc, id asc) argmax " +
    "per d06 cluster and audits against min-id") {
    val clusters = Dedup.d06(t).collect()
      .map(r => r.getLong(0) -> r.getString(2).split(",").map(_.toLong).toSeq)
      .toMap
    val ntk: Map[Long, Long] = t.documents
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.split("\\s+").count(_.nonEmpty).toLong).toMap
    val expected = clusters.toSeq.map { case (cid, members) =>
      val best = members.minBy(id => (-ntk(id), id))
      val naive = members.min
      (cid, members.size.toLong, best, naive,
        if (best != naive) 1L else 0L, ntk(best), ntk(naive))
    }.sortBy(_._1)
    val got = Dedup.d15(t).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expected, s"d15 $got != $expected")
    // fixture near-dups are equal-length plants, so every survivor is a
    // TIE — which must break to min id, i.e. equal the naive survivor
    // exactly (the changed-survivor case is exercised value-for-value by
    // the argmax equality above and structurally identical to d14's,
    // whose sf-corpus oracle covers unequal-length groups)
    expected.filter { case (cid, _, _, naive, _, _, _) =>
      clusters(cid).forall(m => ntk(m) == ntk(naive))
    }.foreach { case (cid, _, best, naive, changed, _, _) =>
      assert(best == naive && changed == 0L,
        s"cluster $cid: equal-quality tie must keep min id")
    }
  }

  test("d16 threshold sweep equals union-find + both survivorship " +
    "policies per tau over the exact-verified pair graph") {
    val grams = FixtureData.docTexts.map { case (id, text) =>
      id -> HashImpls.ngramHashes(arr(toks(text)), 3).toSet
    }.toMap
    val ntk: Map[Long, Long] = FixtureData.docTexts.map { case (id, text) =>
      id -> toks(text).count(_.nonEmpty).toLong
    }.toMap
    val expected = Seq(3L, 5L, 7L, 9L).flatMap { tau =>
      val pairs = bandPairs.filter { case (i, j) =>
        val s = grams(i).intersect(grams(j)).size.toLong
        val u = grams(i).union(grams(j)).size.toLong
        s * 10 >= u * 3 && s * 10 >= u * tau
      }
      if (pairs.isEmpty) None
      else {
        val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
        def find(x: Long): Long =
          if (parent(x) == x) x
          else { val r = find(parent(x)); parent(x) = r; r }
        pairs.foreach { case (i, j) =>
          val (ri, rj) = (find(i), find(j))
          if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
        }
        val clusters = pairs.flatMap(p => Seq(p._1, p._2)).toSet.groupBy(find)
        val rows = clusters.values.toSeq.map { members =>
          val best = members.toSeq.minBy(id => (-ntk(id), id))
          val naive = members.min
          (members.size.toLong, if (best != naive) 1L else 0L,
            ntk(best), ntk(naive))
        }
        // cluster-size histogram (round-11: log2-width buckets)
        val sizes = rows.map(_._1)
        val hist = Seq(
          sizes.count(_ == 2).toLong,
          sizes.count(s => s >= 3 && s <= 4).toLong,
          sizes.count(s => s >= 5 && s <= 8).toLong,
          sizes.count(s => s >= 9 && s <= 16).toLong,
          sizes.count(_ >= 17).toLong)
        Some((tau, clusters.size.toLong, rows.map(_._1).sum,
          rows.map(_._2).sum, rows.map(_._3).sum, rows.map(_._4).sum,
          hist))
      }
    }
    val got = Dedup.d16(t).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5),
        Seq(r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9),
          r.getLong(10)))).toSeq
    assert(got == expected, s"d16 $got != $expected")
    // histogram mass must equal the cluster count per tau
    got.foreach { row =>
      assert(row._7.sum == row._2,
        s"d16 tau=${row._1}: histogram mass ${row._7.sum} != n_clusters ${row._2}")
    }
    // the fixture must exercise the sweep non-vacuously (>=2 operating
    // points with clusters) and the blast radius must be monotone
    // non-increasing as tau tightens
    assert(got.size >= 2, s"d16 fixture sweep too thin: $got")
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(b._3 <= a._3,
        s"n_docs must shrink as tau tightens: $got")
      case _ => ()
    }
  }

  test("min-label propagation: diameter > cap throws; raised cap converges on a path graph") {
    val spark = t.spark
    import spark.implicits._
    // planted path 0-1-2-…-29: diameter 29 exceeds the default 20-round
    // cap. The contract is throw-don't-lie: an unconverged graph must
    // never come back as silently split components.
    val path = (0L until 29L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException](Dedup.minLabelPropagation(path))
    assert(ex.getMessage.contains("raise the round cap"))
    // raising the cap is the documented remedy and must converge cleanly:
    // min label 0 walks one hop per round → 29 propagation rounds + 1
    // no-change round, well under the raised cap.
    val (labels, rounds) = Dedup.minLabelPropagation(path, maxRounds = 40)
    assert(rounds == 30, s"path diameter sets the round count (got $rounds)")
    val comps = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size == 30 && comps.values.forall(_ == 0L),
      "every path node must join the min-id component")
  }

  test("min-label propagation frees each superseded round and its edge " +
    "list: only the returned labels stay stored") {
    val spark = t.spark
    import spark.implicits._
    val path = (0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    def storedIds = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = storedIds
    val (labels, rounds) = Dedup.minLabelPropagation(path)
    assert(rounds == 13)
    val kept = TestSpark.rddId(labels)
    // frees are non-blocking: wait for the block store to settle
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while ((storedIds -- before) != Set(kept) &&
      System.nanoTime() < deadline) Thread.sleep(20)
    assert(storedIds -- before == Set(kept),
      s"the call must leave only its labels stored: ${storedIds -- before}")
    Intermediates.free(labels)
  }

  // --- d17 fuzzy join: PassJoin blocking vs brute-force levenshtein ---

  /** Classic DP Levenshtein — the independent in-JVM twin of both
    * engines' `levenshtein`. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  /** Titles engineered around every ED/length boundary: exact dup (0),
    * single sub (1), two subs (2), three subs (3 → out), +2-char insert
    * (in, at the |Δlen| = 2 edge), +3-char insert (out, |Δlen| = 3), a
    * +3-char insert (out, just past the |Δlen| ≤ 2 band), a token-shift
    * (inside the band, large ED — verify must kill it), an uppercase
    * twin (exercises lower()), and a pair of 9/10-char minimum-length
    * titles. */
  private val d17Texts: Seq[(Long, String)] = Seq(
    10L -> "alpha beta gamma delta epsilon zeta eta theta tail one",
    11L -> "alpha beta gamma delta epsilon zeta eta theta other tail",
    12L -> "alpha beta gamja delta epsilon zeta eta theta",
    13L -> "alpha bexa gamja delta epsilon zeta eta theta zz",
    14L -> "alxha bexa gamja delta epsilon zeta eta theta",
    15L -> "alpha beta gamma delta epsilon zeta eta thetaxx oops",
    16L -> "alpha beta gamma delta epsilon zeta eta thetaxxx",
    17L -> "prefix alpha beta gamma delta epsilon zeta eta theta",
    18L -> "completely different words entirely other content here now",
    19L -> "short doc",
    20L -> "shorty doc",
    21L -> "ALPHA BETA GAMMA DELTA EPSILON ZETA ETA THETA upper tail")

  private def d17Title(text: String): String =
    text.trim.split("\\s+").take(8).mkString(" ").toLowerCase

  test("d17 PassJoin fuzzy join equals brute-force levenshtein ≤ 2 over titles") {
    val spark = t.spark
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-d17-fixture").toString
    d17Texts.map { case (id, text) =>
      (id, text, "en", s"src$id", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val titles = d17Texts.map { case (id, tx) => id -> d17Title(tx) }
      .filter(_._2.length >= 9)
    val expected = (for {
      (a, ta) <- titles; (b, tb) <- titles if a < b
      d = lev(ta, tb) if d <= 2
    } yield (a, b, d.toLong)).sortBy(p => (p._1, p._2))
    // the fixture must actually exercise the boundaries it claims
    val eds = expected.map { case (a, b, d) => (a, b) -> d }.toMap
    assert(eds((10L, 11L)) == 0L, "exact-title pair")
    assert(eds((10L, 21L)) == 0L, "case-folded pair")
    assert(eds((10L, 12L)) == 1L, "single-substitution pair")
    assert(eds((10L, 13L)) == 2L, "double-substitution pair")
    assert(eds((10L, 15L)) == 2L, "insert pair at the |Δlen|=2 edge")
    assert(!eds.contains((10L, 14L)), "ED-3 pair must be out")
    assert(!eds.contains((10L, 16L)), "|Δlen|=3 pair must be out")
    assert(eds.contains((19L, 20L)), "minimum-length titles still match")
    assert(!eds.contains((10L, 17L)), "token-shifted pair must be out")
    val got = Dedup.d17(Tables(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected,
      s"PassJoin candidates + verify must equal brute force:\n got=$got\n exp=$expected")
  }

  test("min-label propagation: a large star cluster converges in O(1) rounds, not O(nodes)") {
    val spark = t.spark
    import spark.implicits._
    // star with 500 leaves: rounds must track the DIAMETER (2), not the
    // member count — the hot-cluster shape at web scale. Per-round cost
    // is one O(edges) join; a round count independent of n pins the
    // total at O(edges · diameter).
    val star = (1L to 500L).map(i => (0L, i)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.minLabelPropagation(star)
    assert(rounds <= 2, s"star must converge in ≤2 rounds (got $rounds)")
    val comps = labels.collect().map(r => r.getLong(1)).distinct
    assert(comps.toSeq == Seq(0L), "all star members take the center's label")
  }
}
