package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One session configuration for every entry point, and the shared pieces
  * of the command-line mains (Harness, Verify's dump loop). */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("GraftSession.build is the only session builder under src/") {
    val needle = "SparkSession" + ".builder" // split so this file does not match
    val root = Paths.get(sys.props("user.dir"), "src")
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "GraftSession.scala")
        .filter(p => Files.readString(p).contains(needle))
        .map(root.relativize(_).toString).toList
      finally walk.close()
    assert(Files.isRegularFile(root.resolve("main/scala/graft/GraftSession.scala")))
    assert(offenders.isEmpty, s"hand-rolled session builders: $offenders")
  }

  test("under src/main only drain waits on or triggers a stream, and only " +
    "writeChunks sets replay mtimes") {
    // each token -> the one def allowed to use it
    val owners = Map("awaitTermination" -> "drain",
      "Trigger.AvailableNow" -> "drain", "setLastModified" -> "writeChunks")
    val root = Paths.get(sys.props("user.dir"), "src", "main")
    val walk = Files.walk(root)
    val hits =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val lines = Files.readAllLines(p).asScala.toVector
          for {
            (line, i) <- lines.zipWithIndex
            tok <- owners.keys if line.contains(tok)
          } yield {
            val enclosing = lines.take(i + 1).reverseIterator
              .flatMap("""\bdef (\w+)""".r.findFirstMatchIn(_))
              .map(_.group(1)).nextOption()
            (tok, s"${root.relativize(p)}:${i + 1}", enclosing)
          }
        }.toList
      finally walk.close()
    owners.foreach { case (tok, fn) =>
      val at = hits.filter(_._1 == tok)
      assert(at.size == 1 && at.head._3.contains(fn) &&
        at.head._2.startsWith("scala/graft/streaming/StreamQueries.scala:"),
        s"$tok must appear once, in StreamQueries.$fn: $at")
    }
  }

  test("under src/main no operator submits jobs from driver threads, and " +
    "only clusterLabels runs minLabelPropagation") {
    val root = Paths.get(sys.props("user.dir"), "src", "main")
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString ->
          Files.readAllLines(p).asScala.toVector).toList
      finally walk.close()
    val concurrent = files.collect {
      case (f, lines) if lines.exists(_.contains("scala.concurrent")) => f
    }
    assert(concurrent.isEmpty, s"scala.concurrent under src/main: $concurrent")
    val calls = for {
      (f, lines) <- files
      (line, i) <- lines.zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//") &&
        !code.startsWith("/**") &&
        """\bminLabelPropagation\(""".r.findFirstIn(code).nonEmpty &&
        !code.contains("def minLabelPropagation(")
    } yield {
      // the enclosing object member (two-space indent), not a local def
      val enclosing = lines.take(i + 1).reverseIterator
        .flatMap("""^  \S.*\bdef (\w+)""".r.findFirstMatchIn(_))
        .map(_.group(1)).nextOption()
      (s"$f:${i + 1}", enclosing)
    }
    assert(calls.size == 1 && calls.head._2.contains("clusterLabels"),
      s"minLabelPropagation must have one caller, Dedup.clusterLabels: $calls")
  }

  /** Every line of every source file under src/main, by path relative to
    * src/main/scala. */
  private def mainSources: List[(String, Vector[String])] = {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        Files.readAllLines(p).asScala.toVector).toList
    finally walk.close()
  }

  test("under src/main only graftbridge clones a session, and only the " +
    "scoped session and drain set a conf at query time") {
    val files = mainSources
    val clones = files.collect {
      case (f, lines) if lines.exists(_.contains("cloneSession")) => f
    }
    assert(clones.nonEmpty &&
      clones.forall(_.startsWith("org/apache/spark/sql/graftbridge/")),
      s"cloneSession outside graftbridge: $clones")
    // file -> the defs that may set a session conf ("*": a command-line
    // main setting the confs its user names before its queries run);
    // Tables.events keeps the nanosAsLong fallback for a foreign session
    val owners = Map(
      "graft/Parts.scala" -> Set("scoped"),
      "graft/streaming/StreamQueries.scala" -> Set("drain"),
      "graft/Tables.scala" -> Set("events"),
      "graft/Explain.scala" -> Set("*"),
      "graft/ExpPairedConf.scala" -> Set("*"))
    val setters = for {
      (f, lines) <- files
      (line, i) <- lines.zipWithIndex
      if """\bconf\.(set|unset)\(""".r.findFirstIn(line).nonEmpty
    } yield {
      val enclosing = lines.take(i + 1).reverseIterator
        .flatMap("""\bdef (\w+)""".r.findFirstMatchIn(_))
        .map(_.group(1)).nextOption().getOrElse("")
      (s"$f:${i + 1}", f, enclosing, line)
    }
    val stray = setters.filterNot { case (_, f, d, _) =>
      owners.get(f).exists(ds => ds("*") || ds(d))
    }
    assert(stray.isEmpty, s"session confs set outside their owners: $stray")
    val widths = setters.filter(_._4.contains("spark.sql.shuffle.partitions"))
    assert(widths.map(_._3) == List("scoped"),
      s"only Parts.scoped may set the shuffle width by name: $widths")
    val gone = Seq("graft.shufflePartitions", "GRAFT_NMEDIA",
      "withShufflePartitions", "withStateParts", "Parts.withConf")
    val left = for {
      (f, lines) <- files
      tok <- gone if lines.exists(_.contains(tok))
    } yield s"$tok in $f"
    assert(left.isEmpty, s"deleted options or scopes still named: $left")
  }

  test("under src/main only Intermediates persists, unpersists or names a " +
    "storage level, and the deleted cache-release names appear nowhere") {
    val files = mainSources
    val owned = for {
      (f, lines) <- files if f != "graft/Intermediates.scala"
      (line, i) <- lines.zipWithIndex
      tok <- Seq(".persist(", "unpersist", "StorageLevel")
      if line.contains(tok)
    } yield s"$tok at $f:${i + 1}"
    assert(owned.isEmpty, s"cache lifetimes outside Intermediates: $owned")
    val gone = for {
      (f, lines) <- files
      (line, i) <- lines.zipWithIndex
      tok <- Seq("CacheHygiene", "materializeAndRelease")
      if line.contains(tok)
    } yield s"$tok at $f:${i + 1}"
    assert(gone.isEmpty, s"deleted names still used: $gone")
    val releaseLists = for {
      (f, lines) <- files
      (line, i) <- lines.zipWithIndex
      if """\)\s*:\s*\(DataFrame,\s*Seq\[DataFrame\]\)""".r
        .findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}"
    assert(releaseLists.isEmpty,
      s"functions returning (DataFrame, Seq[DataFrame]): $releaseLists")
  }

  test("a query-name filter with an unknown name throws") {
    assert(Harness.queryNames("SPARK_GRAFT_BENCH_ONLY", None).isEmpty)
    assert(Harness.queryNames("SPARK_GRAFT_BENCH_ONLY",
      Some("w01_etl_partitioned_roundtrip, d12_threshold_curve")) ==
      Some(Set("w01_etl_partitioned_roundtrip", "d12_threshold_curve")))
    val e = intercept[RuntimeException] {
      Harness.queryNames("SPARK_GRAFT_BENCH_ONLY",
        Some("w01_etl_partitioned_roundtrip,w01_typo"))
    }
    assert(e.getMessage.contains("SPARK_GRAFT_BENCH_ONLY"))
    assert(e.getMessage.contains("w01_typo"))
  }

  test("the shared test session carries GraftSession's configuration") {
    assert(spark.conf.get("spark.sql.extensions") ==
      "graft.functions.GraftExtensions")
    assert(spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .contains(graft.plans.GlobalWindowToAgg))
    assert(spark.conf.get(GraftSession.CkptChecksumKey) == "false")
    assert(spark.conf.get(GraftSession.CodegenCacheKey) ==
      GraftSession.CodegenCacheMaxEntries.toString)
    assert(spark.conf.get(GraftSession.ArtifactIsolationKey) == "false")
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      .equalsIgnoreCase("dynamic"))
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("oracle_sql.json round-trips quotes, backslashes and control chars") {
    val out = Paths.get(TempDirs.create("graft_oracle_json"))
    val tricky = "a\"b\\c\nd\re\tf\u0001g"
    val sql = Seq(tricky -> s"SELECT '$tricky'", "plain" -> "SELECT 1")
    Harness.writeOracleSql(out.toString, sql)
    val back = new com.fasterxml.jackson.databind.ObjectMapper().readValue(
      out.resolve("oracle_sql.json").toFile,
      classOf[java.util.Map[String, String]])
    assert(back.asScala.toMap == sql.toMap)
  }

  test("Verify: a failing query over an earlier run's dump leaves no dir") {
    val out = Paths.get(TempDirs.create("graft_verify_dump"))
    val stale = Files.createDirectories(out.resolve("boom"))
    Files.writeString(stale.resolve("part-00000.parquet"), "stale")
    Verify.dump(spark, TestSpark.sfDir, out.toString, Seq(
      "boom" -> ((_, _) => throw new IllegalStateException("eager job failed")),
      "ok" -> ((s, _) => s.range(3).toDF())))
    assert(!Files.exists(out.resolve("boom")),
      "a failed query must not leave a stale dump for the oracle to grade")
    assert(spark.read.parquet(out.resolve("ok").toString).count() == 3)
  }
}
