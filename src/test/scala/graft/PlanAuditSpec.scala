package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression net over physical plans: no query may silently plan an
  * unbroadcast Cartesian product, and columnar scans must prune columns.
  * (The intended scalar cross joins — grand totals, fraction ratios —
  * plan as BroadcastNestedLoopJoin over 1-row sides, which is fine.)
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("no query plans a CartesianProduct") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, TestSpark.sfDir).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"CartesianProduct in: $offenders")
  }

  test("q94: GlobalWindowToAgg rewrites the OVER () window out of the " +
    "plan, and without the rule the same frame single-tasks") {
    val plan = operators.Analytics.q94(TestSpark.tables)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"q94's global window must be rewritten to agg+join:\n$plan")
    // the rewritten plan still holds ONE Exchange SinglePartition — the
    // scalar aggregate's final merge, fed by partial_sum rows (bounded,
    // map-side combined), which is the acceptable shape; the hazard the
    // rule removes is the WINDOW's SinglePartition, which funnels every
    // DATA row through one task (control plan below)
    assert(plan.contains("partial_sum"),
      s"the scalar aggregate must partial-aggregate map-side:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the 1-row aggregate side should broadcast back:\n$plan")
    // control: the identical frame WITHOUT the rule plans the
    // single-partition Window — the hazard the rule exists to remove.
    // excludedRules filters both the injected (spark.sql.extensions) and
    // the experimental.extraOptimizations batch.
    val key = "spark.sql.optimizer.excludedRules"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, graft.plans.GlobalWindowToAgg.ruleName)
      val naive = TestSpark.tables.lineitem
        .groupBy(org.apache.spark.sql.functions.col("l_returnflag"))
        .count()
        .withColumn("total", org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("count"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy()))
        .queryExecution.executedPlan.toString
      assert(naive.contains("Window") && naive.contains("SinglePartition"),
        s"control plan should single-task without the rule:\n$naive")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("q95 plans the custom AsOfJoinExec over two sorted hash " +
    "exchanges — the one-pass merge shape") {
    val plan = operators.Relational.q95(TestSpark.tables)
      .queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix in plan strings
    assert(plan.contains("AsOfJoin"),
      s"q95 must plan the custom exec:\n$plan")
    assert(!plan.contains("Window"),
      s"the native spelling must not fall back to the window plan:\n$plan")
    // EnsureRequirements must have inserted the co-partitioning
    // exchanges and the (key, time) partition-local sorts it requires
    assert("Exchange hashpartitioning".r.findAllIn(plan).size >= 2,
      s"both as-of sides must hash-co-partition:\n$plan")
    assert("Sort \\[".r.findAllIn(plan).size >= 2,
      s"both as-of sides must sort partition-locally:\n$plan")
  }

  test("q84's SQL UDF inlines into the plan: no UDF invocation node") {
    val plan = operators.Analytics.q84(TestSpark.tables)
      .queryExecution.executedPlan.toString
    // a JVM UDF would appear as ScalaUDF / Invoke and break codegen; the
    // SQL UDF must resolve to the bare arithmetic inside HashAggregate
    assert(!plan.contains("ScalaUDF") && !plan.contains("Invoke"),
      s"q84 should contain no UDF call node:\n$plan")
    assert(plan.contains("HashAggregate"))
  }

  test("t21 vocab rollup avoids the multi-distinct Expand plan") {
    val plan = text.TextOps.t21(TestSpark.tables)
      .queryExecution.executedPlan.toString
    // a COUNT(DISTINCT tok), COUNT(DISTINCT doc_id) aggregate would plan
    // an Expand node (3x shuffle volume); the two-level rollup must not
    assert(!plan.contains("Expand"),
      s"t21 must two-level rollup, not Expand:\n$plan")
    assert(plan.contains("partial_count"),
      s"t21 aggregates must run map-side partials:\n$plan")
  }

  test("s11's keyword leg probes tf with a broadcast of the bounded " +
    "query-term table and both rank legs keep two-phase WindowGroupLimit") {
    val plan = similarity.Similarity.s11(TestSpark.tables)
      .queryExecution.executedPlan.toString
    // the (query-terms ⨝ df ⨝ stats) relation is ≤|query tokens| rows at
    // any corpus size — if it ever stops broadcasting, the probe becomes
    // a full shuffle of the posting list
    assert(plan.contains("BroadcastHashJoin"),
      s"s11 tf probe must broadcast the query-term table:\n$plan")
    // Partial+Final per leg and once for the fused rank
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 6,
      s"s11 rank legs must keep per-partition k-heaps:\n$plan")
  }

  test("g01/g02 build their edge relation once: a single persisted scan " +
    "feeds all 8 iterations") {
    // audit the internal builder: the public wrapper materializes it and
    // frees its intermediates, so its returned plan is a checkpoint scan —
    // the plan below is the one that executes under it. The scope frees
    // the persisted edges when the case ends.
    Intermediates.run { in =>
      Seq("g01" -> operators.GraphOps.g01Plan(TestSpark.tables, in),
          "g02" -> operators.GraphOps.g02Plan(TestSpark.tables, in)).foreach {
        case (name, df) =>
          val plan = df.queryExecution.executedPlan.toString
          // every iteration must read the InMemoryRelation, not re-derive
          // the lineitem⨝orders edge list
          assert(plan.contains("InMemoryTableScan"),
            s"$name iterations must reuse the persisted edges:\n$plan")
      }
    }
  }

  test("d16 scans the document corpus ONCE: the quality projection " +
    "joins the one checkpointed labeling of all four thresholds") {
    // the tau-tagged labels are a checkpointed RDD scan by the time the
    // terminal plan runs; the expensive term is the quality_scan over
    // documents, which must appear against ONE parquet scan
    val plan = dedup.Dedup.d16(TestSpark.tables)
      .queryExecution.executedPlan.toString
    val docScans = "documents\\.parquet".r.findAllIn(plan).length
    assert(docScans == 1,
      s"d16 must scan documents exactly once (got $docScans):\n$plan")
    // and the labels arrive as a checkpointed scan (no re-derived
    // LSH/gram chain in the terminal plan)
    assert("Scan ExistingRDD".r.findAllIn(plan).length >= 1,
      s"d16's labels must be a checkpointed label scan:\n$plan")
  }

  test("d17 plans ONE segment-key equi-join feeding bare-id candidates, " +
    "verify above the joins, never a cartesian") {
    // PassJoin's whole value is that the candidate join is an EQUI-join
    // on (slot, len, segment) — a future Spark upgrade (or an edit to
    // the probe expr) that stops the key columns resolving would
    // silently re-plan this as a nested-loop over the corpus. Audit
    // without auto-broadcast so the shape is the 100 TB shape.
    val plan = withoutAutoBroadcast {
      dedup.Dedup.d17(TestSpark.tables).queryExecution.executedPlan.toString
    }
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"d17 must never plan a product join:\n$plan")
    // exactly three shuffle equi-joins: candidates on (i, m, key) plus
    // the two title re-attach joins on doc ids (nit-2 shape: the title
    // payload must NOT ride the 75-key probe fan-out or the candidate
    // distinct)
    val joins = "(SortMergeJoin|ShuffledHashJoin)".r.findAllIn(plan).size
    assert(joins == 3,
      s"d17 should plan exactly 3 equi-joins (got $joins):\n$plan")
    // the exact verify runs ONLY above the joins (on deduped candidates)
    // — plan prints top-down, so levenshtein must appear before (above)
    // the first join node
    val lev = plan.indexOf("levenshtein")
    val firstJoin = "(SortMergeJoin|ShuffledHashJoin)".r
      .findFirstMatchIn(plan).map(_.start).getOrElse(-1)
    assert(lev >= 0 && firstJoin >= 0 && lev < firstJoin,
      s"levenshtein must verify above the candidate join:\n$plan")
    // and the candidate distinct aggregates bare ids — no title bytes in
    // the dedup exchange (the ids function-determine the titles)
    val distinctKeys =
      "HashAggregate\\(keys=\\[doc_[ab]#\\d+L?, doc_[ab]#\\d+L?\\]"
        .r.findAllIn(plan).size
    assert(distinctKeys >= 1,
      s"d17 candidate distinct must key on bare (doc_a, doc_b):\n$plan")
    assert("HashAggregate\\(keys=\\[[^\\]]*t_[ab]".r.findFirstIn(plan).isEmpty,
      s"d17 candidate distinct must not carry title columns:\n$plan")
  }

  test("t26's bucket-LM probe broadcasts: the 256-row feature table is " +
    "constant-size at any corpus scale") {
    val plan = text.TextOps.t26(TestSpark.tables)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"t26 lambda probe must broadcast the fixed bucket table:\n$plan")
  }

  test("single-table aggregates prune the fact scan to referenced columns") {
    val plan = operators.Reference.q01(TestSpark.tables)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<l_returnflag:string>"),
      s"q01 should scan exactly one column:\n$plan")
  }

  test("star join broadcasts the small dimensions") {
    val plan = operators.Relational.q21(TestSpark.tables)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("range join plans as an equi-join on the hour bucket, not a nested loop") {
    val plan = operators.Extended.q49(TestSpark.tables)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q49 must bucket-join, not nested-loop:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("explode top-k plans as TakeOrdered (partial heap), not a global sort") {
    val plan = operators.Extended.q44(TestSpark.tables)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"q44 should use the partial top-k plan:\n$plan")
  }

  test("rank-filter top-k queries plan the two-phase WindowGroupLimit heap") {
    for ((name, df) <- Seq(
        "q24" -> operators.Relational.q24(TestSpark.tables),
        "s01" -> similarity.Similarity.s01(TestSpark.tables),
        "t07" -> text.TextOps.t07(TestSpark.tables))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$name should pre-limit per partition before the exchange:\n$plan")
    }
  }

  /** Runs `body` with auto-broadcast disabled: at test scale AQE would
    * broadcast ANY tiny side, masking a removed explicit broadcast()
    * hint — with the threshold at -1 only hinted joins stay broadcast,
    * so the audit actually detects a regressed guard. */
  private def withoutAutoBroadcast[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, old)
  }

  test("t07 tf-df join guards the Zipf head: hot tokens broadcast, tail shuffles") {
    val plan = withoutAutoBroadcast {
      text.TextOps.t07(TestSpark.tables).queryExecution.executedPlan.toString
    }
    // the high-df head must join map-only (no hot token key ever shuffles)
    assert(plan.contains("BroadcastHashJoin"),
      s"t07 must broadcast the high-df token head:\n$plan")
    // and the guarded result must still equal the single-join spelling
    import org.apache.spark.sql.functions._
    val t = TestSpark.tables
    val terms = t.documents
      .select(col("doc_id"), explode(expr("split(trim(text), '\\\\s+')")).as("token"))
    val tf = terms.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = t.documents.agg(count(lit(1)).as("n"))
    val plain = tf.join(df, "token").crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 4).as("tfidf"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
    val expected = plain.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5).orderBy("doc_id", "rn")
    assert(text.TextOps.t07(t).collect().toSeq == expected.collect().toSeq)
  }

  test("t17/t18 probe the bigram LM via shuffled hash join, never broadcast") {
    // the LM table grows with corpus vocabulary (Heaps' law) — a plan
    // that broadcasts it, or sorts the O(corpus-bigrams) probe stream
    // (SMJ), dies at scale. The shuffle_hash hint must survive planning.
    for ((name, df) <- Seq(
        "t17" -> text.TextOps.t17(TestSpark.tables),
        "t18" -> text.TextOps.t18(TestSpark.tables))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"),
        s"$name must hash-probe the LM table:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name must not sort the bigram probe stream:\n$plan")
    }
  }

  test("t10 decontamination broadcasts the benchmark gram set") {
    val plan = withoutAutoBroadcast {
      text.TextOps.t10(TestSpark.tables).queryExecution.executedPlan.toString
    }
    assert(plan.contains("BroadcastHashJoin"),
      s"t10 must stream corpus grams through a broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"t10 must not shuffle corpus n-grams:\n$plan")
  }

  test("lateral top-1 subquery de-correlates (no per-outer-row rescan plan)") {
    val plan = operators.Extended.q58(TestSpark.tables)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q58 must de-correlate to a join, not nested-loop:\n$plan")
  }

  test("value filter pushes into the parquet scan (through the ts rebuild)") {
    val plan = operators.Reference.q06(TestSpark.tables)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(value), LessThan(value,20.0)]"),
      s"q06 filter must reach the scan:\n$plan")
  }

  test("aggregations run map-side partials before the exchange") {
    for ((name, df) <- Seq(
        "q01" -> operators.Reference.q01(TestSpark.tables),
        "q59" -> operators.Extended.q59(TestSpark.tables))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("partial_"),
        s"$name should partial-aggregate before shuffling:\n$plan")
    }
  }

  test("q43 hash-gate sample stays one scan: filter before partial agg, " +
    "single exchange") {
    val plan = operators.Relational.q43(TestSpark.tables)
      .queryExecution.executedPlan.toString
    // the md5 gate is a row-local predicate: it must evaluate in the scan
    // stage (Filter before the partial aggregate), never after a shuffle
    // of unsampled rows — at 100 TB the whole point of hash sampling is
    // that rejected rows die map-side
    assert(plan.contains("partial_"),
      s"q43 must partial-aggregate the surviving rows map-side:\n$plan")
    // hash vs range exchanges counted separately: the agg needs exactly
    // one hashpartitioning; the output orderBy contributes the single
    // rangepartitioning (the old blanket "Exchange" count silently mixed
    // the two)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(plan).length
    assert(hashEx == 1 && rangeEx <= 1,
      s"q43 should shuffle only the per-stratum partials (hash=$hashEx, " +
        s"range=$rangeEx):\n$plan")
    // guard the positional claim against vacuous -1 comparisons before
    // asserting relative order
    assert(plan.contains("Filter") && plan.contains("Exchange"),
      s"q43 plan must contain both a Filter and an Exchange:\n$plan")
    assert(plan.indexOf("Filter") > plan.indexOf("Exchange"),
      // executedPlan prints top-down: the Filter must sit BELOW (after in
      // text) the agg Exchange, i.e. on the scan side of the shuffle
      s"q43's hash gate must run before the exchange:\n$plan")
  }

  test("g04 vote round plans ONE new exchange: both aggregates ride the " +
    "pinned dst repartition over pre-partitioned inputs") {
    // one round in isolation over inputs already partitioned the way the
    // iteration delivers them (edges by src, labels by node): the plan
    // text must show EXACTLY three hash exchanges — the two input
    // repartitions and the round's own dst repartition — i.e. no extra
    // exchange for the (dst,l) vote count, the dst argmax, or the
    // labels side of the join. The pre-rewrite shape planned five here.
    val spark = TestSpark.spark
    import spark.implicits._
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst").repartition(n, org.apache.spark.sql.functions.col("src"))
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L))
      .toDF("node", "l").repartition(n, org.apache.spark.sql.functions.col("node"))
    val round = operators.GraphOps.g04VoteRound(edges, labels, n)
    val text = round.queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(text).length
    assert(hashEx == 3,
      s"g04 vote round must add exactly one exchange (got $hashEx total " +
        s"incl. the two input repartitions):\n$text")
  }

  test("q86 keep-latest plans as partial max(struct), never a window sort") {
    val plan = operators.Analytics.q86(TestSpark.tables)
      .queryExecution.executedPlan.toString
    // the row_number() spelling would shuffle the same bytes and then
    // sort every partition; the reduction spelling must not plan a
    // Window (and must partial-aggregate the struct max before the
    // user_id exchange)
    assert(!plan.contains("Window"),
      s"q86 must reduce, not rank:\n$plan")
    assert(plan.contains("partial_max"),
      s"q86 should partial-aggregate the struct max map-side:\n$plan")
  }

  test("q87 reuses the user_id clustering: no exchange between the window " +
    "and the island/streak rollups") {
    val plan = operators.Analytics.q87(TestSpark.tables)
      .queryExecution.executedPlan.toString
    // expected exchanges: (user, day) distinct, user window, and the
    // final orderBy's range partition — the two post-window groupBys
    // must ride the window's user_id hash clustering
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 2, s"q87 should need <=2 hash exchanges:\n$plan")
  }

  test("q88 global top-k plans TakeOrderedAndProject, never a global sort") {
    val plan = operators.Analytics.q88(TestSpark.tables)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"q88 must merge per-partition top-k heaps:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"q88 must not range-exchange the full rollup for a LIMIT:\n$plan")
  }

  test("dynamic partition pruning fires on a partition-keyed dim join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    sources.PartitionedWriter.cleanedPartitionedETL(TestSpark.tables, dir)
    val fact = spark.read.parquet(dir)
    // the dim must be a real source (a local Seq's filter constant-folds
    // into the LocalRelation, leaving no selective predicate for the DPP
    // rule to key on)
    val dimDir = java.nio.file.Files.createTempDirectory("graft-dpp-dim").toString
    Seq((1, "keep"), (2, "keep"), (3, "drop")).toDF("mnth_key", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = fact.join(broadcast(dim.filter(col("tag") === "keep")),
      col("mnth") === col("mnth_key"))
    val plan = joined.queryExecution.executedPlan.toString
    // at 100 TB this is the difference between scanning 2 partitions and
    // scanning the table: the broadcast dim's keys prune the fact scan's
    // partition list at runtime
    assert(plan.contains("dynamicpruningexpression"),
      s"partitioned fact scan should carry a dynamic pruning filter:\n$plan")
  }

  test("w05 carries a dynamic pruning filter on the dt-partitioned fact " +
    "scan") {
    val plan = operators.CatalogOps.w05(TestSpark.tables)
      .queryExecution.executedPlan.toString
    // the weekend predicate lives only on the calendar dim; the fact scan
    // must still prune its dt partition list at runtime via DPP — at
    // 100 TB the scan cost tracks selected partitions, not table size
    assert(plan.contains("dynamicpruningexpression"),
      s"w05 fact scan should carry a dynamic pruning filter:\n$plan")
  }

  test("w06 point lookup prunes both bucketed scans to a single bucket") {
    val plan = operators.CatalogOps.w06(TestSpark.tables)
      .queryExecution.executedPlan.toString
    // the literal key must constant-propagate across the join and prune
    // BOTH sides' bucket lists — the 1/NBuckets read that makes point
    // lookups O(bucket) instead of O(table) at any corpus size
    val pruned = "SelectedBucketsCount: 1 out of".r.findAllIn(plan).size
    assert(pruned == 2,
      s"w06 should prune both bucketed scans to one bucket:\n$plan")
  }

  test("runtime bloom filter injects might_contain for a selective dim on " +
    "a shuffle join") {
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // tiny test tables sit far below the production size gates; zero
      // them so the rewrite is observable at fixture scale
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val t = TestSpark.tables
      val joined = t.lineitem.join(
        t.part.filter(col("p_retailprice") > 1900), // selective creation side
        col("l_partkey") === col("p_partkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // the selective dim side builds a bloom filter that pre-filters the
      // fact scan before the shuffle — rows that cannot join never shuffle
      assert(plan.contains("might_contain"),
        s"shuffle join should carry a runtime bloom filter:\n$plan")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("DISTRIBUTE BY / SORT BY (Hive dialect) plans hash exchange + " +
    "partition-local sort, no global sort") {
    TestSpark.tables.registerViews()
    val plan = spark.sql(
      """SELECT l_returnflag, l_shipdate, l_quantity FROM lineitem
        |DISTRIBUTE BY l_returnflag SORT BY l_shipdate""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(l_returnflag"),
      s"DISTRIBUTE BY must hash-partition on the key:\n$plan")
    // SORT BY is per-partition: the Sort node must be non-global (no
    // rangepartitioning exchange, which a global ORDER BY would add)
    assert(plan.contains("Sort [l_shipdate") && plan.contains("], false, "),
      s"SORT BY must sort within partitions only:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"no global sort exchange expected:\n$plan")
  }

  test("catalog tables carry ANALYZE statistics (row counts + column NDV)") {
    val t = TestSpark.tables
    val (ordersTable, _) = operators.CatalogOps.bucketedTables(t)
    val stats = spark.sql(s"DESCRIBE EXTENDED $ordersTable o_orderkey")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // persisted column NDV/min/max prove the ANALYZE ... FOR COLUMNS
    // step ran at layout-write time (what the CBO plans from)
    for (k <- Seq("distinct_count", "min", "max"))
      assert(stats.get(k).exists(_ != "NULL"),
        s"ANALYZE should persist column $k, got $stats")
  }

  test("catalog tables keep their files outside the warehouse dir") {
    val t = TestSpark.tables
    val (ordersTable, lineitemTable) = operators.CatalogOps.bucketedTables(t)
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
      .stripSuffix("/") + "/"
    for (name <- Seq(ordersTable, lineitemTable)) {
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name))
      val loc = meta.location.getPath
      assert(!loc.startsWith(warehouse),
        s"$name lives under the warehouse dir $warehouse: $loc")
      assert(loc.startsWith(sys.props("java.io.tmpdir")),
        s"$name should live in a temp dir removed at exit: $loc")
    }
  }

  test("q93 bisects at one shuffle partition and aggregates at the " +
    "session width") {
    // the cache manager names a cached table's blocks after the table
    def histCaches = spark.sparkContext.getPersistentRDDs.values
      .count(r => Option(r.name).exists(_.contains("graft_q93_hist")))
    val (out, planned) =
      TestSpark.plannedDuring(operators.Analytics.q93(TestSpark.tables))
    val plan = out.queryExecution.executedPlan.toString
    assert("hashpartitioning\\(l_returnflag#\\d+, 4\\)".r
      .findFirstIn(plan).nonEmpty,
      s"q93's final aggregate must plan at the session width:\n$plan")
    // the script runs in its own session: its histogram is built, cached
    // and probed there, so it is read from the executions q93 started
    val hist = planned.filter(_.plan.contains("qty"))
      .map(p => p.widths ++ p.cached)
    assert(hist.nonEmpty && hist.forall(_.forall(_ == 1)) &&
      hist.exists(_.nonEmpty),
      s"q93's bisection histogram must build at one partition: $hist")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    // each run caches its histogram afresh and uncaches it after
    operators.Analytics.q93(TestSpark.tables)
    assert(histCaches === 0,
      "q93 runs must leave no cached histogram in the cache manager")
  }

  test("co-bucketed catalog tables sort-merge join with zero Exchange") {
    val t = TestSpark.tables
    val (ordersTable, lineitemTable) = operators.CatalogOps.bucketedTables(t)
    val plan = withoutAutoBroadcast {
      spark.sql(
        s"""SELECT l_orderkey, o_orderstatus, l_quantity
           |FROM $lineitemTable JOIN $ordersTable ON l_orderkey = o_orderkey"""
          .stripMargin)
        .queryExecution.executedPlan.toString
    }
    // both sides are bucketed INTO the same count ON the join key: the
    // sort-merge join must consume the bucket layout directly — at 100 TB
    // this is the reference's CLUSTERED BY promise (one layout write
    // replaces the per-query fact shuffle)
    assert(plan.contains("SortMergeJoin"),
      s"bucketed fact join should sort-merge:\n$plan")
    assert(!plan.contains("Exchange"),
      s"co-bucketed join must plan ZERO shuffles:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"scans must report the bucketed layout:\n$plan")
  }

  test("q98's four window specs and final rollup share ONE exchange") {
    val plan = operators.Analytics.q98(TestSpark.tables)
      .queryExecution.executedPlan.toString
    // every spec clusters by user_id (the (user, type) spec is satisfied
    // by hash(user_id) co-location) and the window order puts the coarse
    // partitioning first, so the whole query is one hash exchange plus
    // the final ORDER BY's range exchange — a second hash exchange means
    // the window order regressed and the (user,type) spec planned first
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1,
      s"q98 should plan exactly one hash exchange, found $hashEx:\n$plan")
    // and the distinct spellings must never materialize per-row sets
    assert(!plan.contains("collect_set"),
      s"q98 must not fall back to collect_set state:\n$plan")
  }

  test("w10 scan prunes the nested schema to the three queried leaves") {
    val t = TestSpark.tables
    val plan = operators.CatalogOps.w10(t)
      .queryExecution.executedPlan.toString
    // parquet stores each struct leaf as its own column chunk; the scan
    // must read kind/amount_cents/who.props_len and skip the fat blob
    // and the unused who.uid — else a 2-subfield rollup re-reads the
    // whole payload at 100 TB
    assert(plan.contains("ReadSchema"), s"no scan in w10 plan:\n$plan")
    assert(!plan.contains("blob"),
      s"w10 scan must prune payload.blob:\n$plan")
    assert(!plan.contains("uid"),
      s"w10 scan must prune payload.who.uid:\n$plan")
    assert(plan.contains("props_len"),
      s"w10 scan should still read payload.who.props_len:\n$plan")
  }

  test("AQE splits a skewed shuffle-join partition at runtime " +
    "(skew=true in the finalized adaptive plan)") {
    import org.apache.spark.sql.functions._
    // q53 is the MANUAL skew answer (salting); this pins the ENGINE's:
    // AQE detects the oversized shuffle partition at runtime and splits
    // it across tasks. Thresholds are lowered so the rewrite is
    // observable at fixture scale — production sizes gate the same code
    // path at MBs instead of KBs.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val t = TestSpark.tables
      // 90%-hot key with a fat LOW-REDUNDANCY payload (hex digests —
      // shuffle sizes are measured COMPRESSED, so a repetitive pad
      // would vanish under LZ4 and dodge the byte threshold)
      // repartition(8) first: a skewed REDUCE partition splits by MAPPER
      // block ranges, so a single-split file (one mapper) is
      // unsplittable no matter how skewed — production tables always
      // have many input splits; the fixture's single parquet file needs
      // the explicit fan-out
      val fact = t.events.repartition(8).select(
        when(col("user_id") % 10 =!= 0, lit(0L))
          .otherwise(col("user_id")).as("k"),
        expr("concat(md5(cast(event_id as string))," +
          " md5(cast(event_id + 1 as string))," +
          " md5(cast(event_id + 2 as string))," +
          " md5(cast(event_id + 3 as string)))").as("payload"))
      // customer keys are unique already: a `distinct` dim would leave a
      // post-shuffle HashAggregate between the Sort and the shuffle
      // stage, and OptimizeSkewedJoin only matches the bare
      // SMJ(Sort(Shuffle), Sort(Shuffle)) shape
      val dim = t.customer.select(col("c_custkey").as("k"))
      // global aggregate downstream: a same-key groupBy would REUSE the
      // join's hash partitioning, and OptimizeSkewedJoin declines to
      // split rather than break it (the documented trade; a real
      // pipeline sets forceOptimizeSkewedJoin or accepts the re-shuffle)
      val joined = fact.join(dim, "k")
        .agg(count(lit(1)).as("n"),
          sum(when(col("k") === 0L, 1L).otherwise(0L)).as("hot"),
          sum(length(col("payload"))).as("b"))
      val row = joined.collect().head // AQE finalizes during execution
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should mark the hot join partition skewed:\n$plan")
      // the split must not change the answer: hot key holds ~90% of rows
      assert(row.getLong(1) * 10 >= row.getLong(0) * 8,
        s"hot-key mass lost: ${row.getLong(1)} of ${row.getLong(0)}")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("w11 migrated-layout scan prunes on the NEW partition key") {
    val plan = operators.CatalogOps.w11(TestSpark.tables)
      .queryExecution.executedPlan.toString
    // the migration's entire point: the type-selective query must read
    // 1/|types| of the data via a static PartitionFilter on event_type
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"w11 scan should carry an event_type partition filter:\n$plan")
    assert(plan.contains("(event_type#") && plan.contains("= purchase)"),
      s"w11 partition filter should pin event_type = purchase:\n$plan")
  }

  test("salted join result equals the plain join") {
    val t = TestSpark.tables
    import org.apache.spark.sql.functions._
    val plain = t.events
      .join(t.customer, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"))
      .orderBy("seg")
    assert(operators.Extended.q53(t).collect().toSeq == plain.collect().toSeq)
  }
}
