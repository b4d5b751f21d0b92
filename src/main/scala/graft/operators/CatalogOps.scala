package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The reference's metastore workflow end-to-end: its whole analysis runs
  * through catalog DDL — external CSV tables, then a CLUSTERED BY
  * (tip_amount) SORTED INTO 5 BUCKETS ORC table the queries read (ref
  * Surabhi_Srinath_NYC_Taxi_Assignment_FInal.txt lines 32–55, 251–283).
  * PartitionedWriter.writeBucketedTable proves the DDL write; this
  * operator closes the loop by QUERYING through the catalog: the fact
  * tables are registered as bucketed+sorted `saveAsTable` tables
  * (co-bucketed on the join key) and the join runs via `spark.sql`
  * against the catalog names.
  *
  * Scale shape — the point of the bucketed layout: both sides of
  * orders⨝lineitem are bucketed INTO the same bucket count ON the join
  * key, so the sort-merge join consumes the bucket layout directly with
  * ZERO Exchange (and zero per-query sort: files are sorted within
  * buckets). At 100 TB this converts the most expensive repeated shuffle
  * of a star-schema workload into a one-time layout cost at write time —
  * PlanAuditSpec pins the exchange-free plan.
  */
object CatalogOps {

  private val NBuckets = 8

  /** Catalog table names: the bucketed layout is written ONCE per corpus
    * snapshot and reused by every query against it (the same
    * index-artifact pattern as the IVF/PQ codebooks). */
  private val tableCache = new graft.SnapshotCache[(String, String)]

  private[graft] def bucketedTables(t: Tables): (String, String) =
    tableCache(t, "q81", "orders", "lineitem") {
      // fresh names per build: the warehouse dir outlives the session's
      // in-memory catalog, so a name reused by a later application would
      // collide with the earlier one's table files
      val suffix = java.util.UUID.randomUUID().toString.replace("-", "")
      val ordersTable = s"graft_cat_orders_$suffix"
      val lineitemTable = s"graft_cat_lineitem_$suffix"
      t.orders.write.mode(SaveMode.Overwrite)
        .option("compression", "snappy")
        .bucketBy(NBuckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ordersTable)
      t.lineitem.write.mode(SaveMode.Overwrite)
        .option("compression", "snappy")
        .bucketBy(NBuckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lineitemTable)
      // the Hive workflow's ANALYZE TABLE step: persist row/size stats
      // (plus column NDV/min/max for the join keys) into the catalog so
      // the cost-based optimizer has real cardinalities to plan from —
      // part of the layout cost paid once at write time
      t.spark.sql(s"ANALYZE TABLE $ordersTable COMPUTE STATISTICS " +
        "FOR COLUMNS o_orderkey, o_orderstatus")
      t.spark.sql(s"ANALYZE TABLE $lineitemTable COMPUTE STATISTICS " +
        "FOR COLUMNS l_orderkey")
      (ordersTable, lineitemTable)
    }

  /** q81 — order-status revenue through the catalog path: SQL over the
    * co-bucketed tables; the join inputs read bucket-locally (no
    * Exchange below the join). Oracle runs the same logical query on the
    * raw parquet — identical results prove the bucketed layout is a pure
    * physical optimization. Revenue sums in exact 1e-4 units (the
    * price×(1−disc) product is 4dp-exact, so the per-row scaled round
    * hits an integer and the BIGINT sum is engine-stable at ANY scale —
    * `round(sum(double), 2)` drifted past a cent at sf10's 1e12
    * totals). */
  def q81(t: Tables): DataFrame = {
    val (ordersTable, lineitemTable) = bucketedTables(t)
    t.spark.sql(
      s"""SELECT o_orderstatus AS status,
         |  count(*) AS n_items,
         |  sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
         |      AS BIGINT)) AS revenue_e4
         |FROM $lineitemTable JOIN $ordersTable ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus
         |ORDER BY status""".stripMargin)
  }

  /** ETL output dirs — same once-per-snapshot policy as
    * [[bucketedTables]]: the layout is the artifact; every query against
    * it reads the written files. */
  private[graft] val etlCache = new graft.SnapshotCache[String]

  /** w01 — the reference's partitioned ETL sink (INSERT OVERWRITE a
    * PARTITIONED BY table, ref lines 248–269) as a GRADED round-trip:
    * write events through PartitionedWriter partitioned by event date
    * (dynamic overwrite, SNAPPY), read the layout back via partition
    * discovery, and aggregate per partition. The oracle computes the
    * same aggregate from the RAW table, so byte-level equality proves
    * the sink is lossless — values in exact integer cents, timestamps
    * surviving the write/discover round trip. At 100 TB the layout is
    * the point: date partitions prune every time-ranged scan, and the
    * write cost is paid once per snapshot (cached here exactly like the
    * q81 bucketed tables). */
  /** The dt-partitioned events layout w01 writes and w05 prunes —
    * built once per corpus snapshot under the shared etlCache policy. */
  private[graft] def etlLayout(t: Tables): String =
    etlCache(t, "w01", "events") {
      val dir = graft.TempDirs.create("graft_w01_etl")
      graft.sources.PartitionedWriter.writePartitioned(
        t.events.withColumn("dt", to_date(col("ts"))), dir, Seq("dt"))
      dir
    }

  def w01(t: Tables): DataFrame = {
    t.spark.read.parquet(etlLayout(t))
      .select(col("dt").cast("date").as("dt"), col("user_id"), col("value"))
      .groupBy("dt")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"))
      .orderBy("dt")
  }

  /** w02 — small-file compaction as a GRADED round-trip: shred events
    * into per-micro-batch-sized small files (the debris a streaming
    * sink leaves), run [[graft.sources.Compactor]] to ~128 MB files,
    * read the compacted layout back and aggregate. The oracle computes
    * the same aggregate from the RAW table — equality proves compaction
    * is content-lossless (values in exact integer cents) while the
    * file-count collapse itself is asserted here and spec-covered in
    * SourcesSpec. At 100 TB compaction is standing table maintenance:
    * scan planning and NameNode pressure scale with file count, not
    * bytes. Artifacts cached once per corpus snapshot like q81/w01. */
  def w02(t: Tables): DataFrame = {
    val out = etlCache(t, "w02", "events") {
      val shredded = graft.TempDirs.create("graft_w02_small")
      t.events.repartition(64).write.mode(SaveMode.Overwrite)
        .option("compression", "snappy").parquet(shredded)
      val compacted = graft.TempDirs.create("graft_w02_compacted")
      val (before, after) =
        graft.sources.Compactor.compact(t.spark, shredded, compacted)
      require(after < before,
        s"w02: compaction must reduce file count ($before -> $after)")
      compacted
    }
    t.spark.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"))
      .orderBy("event_type")
  }

  /** w03 — Z-order layout optimization as a GRADED round-trip (Delta/
    * Iceberg `OPTIMIZE ZORDER BY` re-expressed on plain parquet):
    * events are rewritten through [[graft.sources.PartitionedWriter
    * .zorderWrite]] — range-partitioned + sorted on the Morton
    * interleave of (user_id, event day) — then a doubly-selective band
    * query (the shape Z-ordering exists to serve) runs against the new
    * layout. A single-column sort clusters ONE predicate dimension and
    * leaves the other scattered across every file; the Z-curve bounds
    * BOTH spans per file (SourcesSpec pins both spans beating a
    * round-robin layout simultaneously), so parquet row-group min/max
    * stats prune scans on either predicate — at 100 TB this is the
    * difference between reading ~1/16 of the table and reading all of
    * it whenever a query filters the second dimension. Layout written
    * once per corpus snapshot (the q81/w01/w02 policy). Oracle: the
    * identical band query on the RAW table — equality proves the
    * rewrite is content-lossless; values in exact integer cents. */
  def w03(t: Tables): DataFrame = {
    val out = etlCache(t, "w03", "events") {
      val dir = graft.TempDirs.create("graft_w03_zorder")
      graft.sources.PartitionedWriter.zorderWrite(
        t.events.withColumn("day_idx",
          datediff(to_date(col("ts")), lit("1970-01-01"))),
        "user_id", "day_idx", dir, numFiles = 16)
      dir
    }
    // the doubly-selective band query: middle 20% of users × middle 20%
    // of days — bounds derived from corpus min/max in pure integer
    // arithmetic so the oracle reproduces them exactly (day_idx rides
    // the layout; the oracle recomputes it from ts — equality also
    // covers the derived column surviving the round trip)
    t.spark.read.parquet(out)
      .join(broadcast(
        t.events.withColumn("day_idx",
            datediff(to_date(col("ts")), lit("1970-01-01")))
          .agg(min("user_id").as("u_lo"), max("user_id").as("u_hi"),
            min("day_idx").as("d_lo"), max("day_idx").as("d_hi"))))
      .filter(
        col("user_id") >= expr("u_lo + (u_hi - u_lo) * 40 DIV 100") &&
        col("user_id") <= expr("u_lo + (u_hi - u_lo) * 60 DIV 100") &&
        col("day_idx") >= expr("d_lo + (d_hi - d_lo) * 40 DIV 100") &&
        col("day_idx") <= expr("d_lo + (d_hi - d_lo) * 60 DIV 100"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"))
      .orderBy("event_type")
  }

  /** w04 — schema evolution as a GRADED round-trip: the table's history
    * is two parquet batches where batch 2 ADDED a column (`channel` —
    * the standard additive evolution every long-lived ingest hits), read
    * back under `mergeSchema` so pre-evolution rows surface the new
    * column as NULL, then rolled up per (event_type, channel) with the
    * NULL bucket kept explicit. The oracle recomputes the identical
    * batches from the raw table (even/odd event_id split, channel
    * derived only for the evolved half), so equality proves merged reads
    * are lossless AND the missing-column NULL semantics. At 100 TB,
    * schema-on-read evolution is the only affordable kind — a rewrite of
    * history to backfill one column is a full-table write; note
    * mergeSchema costs a footer read per file, so production tables
    * keep the merged schema in a catalog instead (the doc'd scale
    * path). Layout written once per corpus snapshot (q81/w01–w03
    * policy). */
  def w04(t: Tables): DataFrame = {
    val out = etlCache(t, "w04", "events") {
      val dir = graft.TempDirs.create("graft_w04_evolved")
      val base = t.events.select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
      base.filter(col("event_id") % 2 === 0)
        .write.mode(SaveMode.Overwrite)
        .option("compression", "snappy").parquet(s"$dir/batch=1")
      base.filter(col("event_id") % 2 === 1)
        .withColumn("channel", concat(lit("ch"), col("user_id") % 3))
        .write.mode(SaveMode.Overwrite)
        .option("compression", "snappy").parquet(s"$dir/batch=2")
      dir
    }
    t.spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy(col("event_type"),
        coalesce(col("channel"), lit("pre_evolution")).as("channel"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"))
      .orderBy("event_type", "channel")
  }

  /** w05 — dynamic partition pruning (DPP) over w01's dt-partitioned
    * layout: the fact side carries NO literal date predicate — the
    * weekend filter lives on a tiny range()-derived calendar dim, and
    * Spark turns the broadcast dim into a runtime partition filter on
    * the fact scan (PlanAuditSpec pins `dynamicpruning` inside the
    * scan's PartitionFilters). At 100 TB this is the standard
    * star-schema accelerator: a dim predicate ("weekends", "holiday
    * weeks") prunes the fact READ to the matching partitions at run
    * time without the query author inlining date literals — scan cost
    * tracks selected partitions, not table size. The dim never scans
    * the fact (in production it is the catalog's date dimension).
    * Oracle recomputes from the raw table with the weekday arithmetic
    * inlined — DuckDB dayofweek is 0-based Sun..Sat vs Spark's
    * 1-based, both spellings select Sat+Sun. Values exact integer
    * cents. */
  def w05(t: Tables): DataFrame = {
    val fact = t.spark.read.parquet(etlLayout(t))
    // 1970..~2079 calendar; ~11k weekend rows after the filter
    val dim = t.spark.range(0, 40000)
      .select(date_add(lit(java.sql.Date.valueOf("1970-01-01")),
        col("id").cast("int")).as("dt"))
      .filter(dayofweek(col("dt")).isin(1, 7))
    fact.join(broadcast(dim), Seq("dt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"))
      .orderBy("event_type")
  }

  /** Probe key for w06 — the corpus min order key, one tiny driver-side
    * column aggregation per corpus snapshot, cached exactly like the
    * bucketed tables it probes (at 100 TB the lookup key comes from the
    * application, not a scan; deriving it from data here keeps the query
    * deterministic at every SF). */
  private val probeKeyCache = new graft.SnapshotCache[Long]

  private def minOrderKey(t: Tables): Long =
    probeKeyCache(t, "w06", "orders")(
      t.orders.agg(min(col("o_orderkey"))).head().getLong(0))

  /** w06 — bucket-pruned point lookup through the catalog: the
    * o_orderkey literal constant-propagates across the join and prunes
    * BOTH bucketed tables' scans to 1 of NBuckets buckets
    * (SelectedBucketsCount pinned by PlanAuditSpec), and the join still
    * consumes the bucket layout exchange-free. This is the
    * single-entity drill-down an operational dashboard fires constantly:
    * with the q81 layout it reads 1/NBuckets of the files at ANY corpus
    * size — the hash-bucketed complement of w05's partition pruning
    * (range/date prunes partitions, key lookups prune buckets). Oracle
    * runs the same lookup on the raw parquet with the key derived in
    * SQL. */
  def w06(t: Tables): DataFrame = {
    val (ordersTable, lineitemTable) = bucketedTables(t)
    t.spark.sql(
      s"""SELECT o_orderstatus AS status, count(*) AS n_items,
         |  sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
         |      AS BIGINT)) AS revenue_e4
         |FROM $lineitemTable JOIN $ordersTable ON l_orderkey = o_orderkey
         |WHERE o_orderkey = ${minOrderKey(t)}
         |GROUP BY o_orderstatus
         |ORDER BY status""".stripMargin)
  }

  /** w07's layout: a dt-partitioned copy of events with EXACTLY ONE
    * partition rewritten through dynamic partition overwrite, plus the
    * build-time evidence the spec pins. Cached per corpus snapshot like
    * every layout artifact. The tuple is (layout dir, target date,
    * non-target files untouched by the overwrite?). */
  private val w07Cache = new graft.SnapshotCache[(String, String, Boolean)]

  private[graft] def w07Layout(t: Tables): (String, String, Boolean) =
    w07Cache(t, "w07", "events") {
      val dir = graft.TempDirs.create("graft_w07_layout")
      val ev = t.events.withColumn("dt", to_date(col("ts")))
      graft.sources.PartitionedWriter.writePartitioned(ev, dir, Seq("dt"))
      // target = earliest date that actually holds a purgeable row, so
      // the overwrite frame is never empty (an empty frame would leave
      // the old partition in place under dynamic mode)
      val tgtRow = ev.filter(col("event_type") === "error")
        .agg(min(col("dt"))).head()
      require(!tgtRow.isNullAt(0),
        "w07: corpus holds no purgeable rows — no partition to rewrite")
      val target = tgtRow.getDate(0).toString
      def listing() = {
        def walk(f: java.io.File): Seq[java.io.File] = {
          val kids = Option(f.listFiles()).map(_.toSeq.sortBy(_.getName))
          kids.map(_.flatMap(walk)).getOrElse(Seq(f))
        }
        walk(new java.io.File(dir))
          .filterNot(_.getPath.contains(s"dt=$target"))
          .map(f => (f.getPath, f.length, f.lastModified)).toSet
      }
      val before = listing()
      graft.sources.PartitionedWriter.writePartitioned(
        ev.filter(col("dt") === lit(target) &&
          col("event_type") =!= "error"),
        dir, Seq("dt"))
      (dir, target, listing() == before)
    }

  /** w07 — the reference's INSERT OVERWRITE PARTITION workflow graded
    * end-to-end: rewrite EXACTLY ONE date partition of the layout
    * (dynamic partition overwrite — only partitions present in the
    * incoming frame are replaced), purging one record class from it
    * (the GDPR-delete / backfill-correction shape) while every other
    * partition's files stay byte-untouched (path+size+mtime captured at
    * build, spec-pinned). The overwrite frame derives from the RAW
    * table, so the rewrite is idempotent — reruns converge to the same
    * layout, the INSERT OVERWRITE contract (ref lines 261–269). At
    * 100 TB the write cost is O(one partition), not O(table): dynamic
    * mode is what makes a daily backfill affordable. Oracle recomputes
    * the per-partition rollup from the raw table with the purge applied
    * only to the target date. */
  def w07(t: Tables): DataFrame = {
    val (dir, _, _) = w07Layout(t)
    t.spark.read.parquet(dir)
      .groupBy(col("dt").cast("date").as("dt"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)"))
          .as("sum_value_cents"))
      .orderBy("dt")
  }

  /** w08 — the reference's CSV external-table load (OpenCSVSerde +
    * explicit schema + header skip, ref lines 31–55) graded as a full
    * round-trip under adversarial quoting: a derived payload column
    * carries embedded quotes, commas, and leading/trailing whitespace —
    * every field class RFC-4180 quoting exists for — through
    * [[graft.sources.CsvSource]] and back. The writer pins
    * ignoreLeading/TrailingWhiteSpace=false (Spark's WRITE default
    * trims, silently corrupting whitespace-significant fields — the
    * reason this round-trip is worth grading). The oracle recomputes
    * the rollup (payload md5s included) from the raw parquet, so
    * equality proves the text survived serialization byte-for-byte.
    * Header+schema read, never inference — schema inference is an extra
    * full scan at 100 TB. Written once per corpus snapshot. */
  def w08(t: Tables): DataFrame = {
    val dir = etlCache(t, "w08", "documents") {
      val out = graft.TempDirs.create("graft_w08_csv")
      t.documents
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          concat(lit(" \""), col("source"), lit("\", "),
            substring(col("text"), 1, 30), lit(" ")).as("payload"))
        .write.mode(SaveMode.Overwrite)
        .option("header", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(out)
      out
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, source STRING, lang STRING, n_chars BIGINT, " +
        "payload STRING")
    graft.sources.CsvSource.read(t.spark, dir, schema)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(md5(col("payload").cast("binary")))
          .as("n_payloads"),
        sum(length(col("payload"))).as("payload_len"))
      .orderBy("source")
  }

  /** w09 — [[graft.sources.JsonLinesSource]]'s corrupt-line quarantine
    * graded end-to-end (the PERMISSIVE `_corrupt` capture SURVEY lists
    * as spec-only until now): every document serializes to a jsonl line
    * via to_json, plus one deliberately TRUNCATED line per doc_id ≡ 0
    * (mod 97) — the torn-write/partial-flush shape a 100 TB crawl
    * ingest always contains. The schema'd read must route exactly the
    * truncated lines to the quarantine bucket (schema fields null,
    * `_corrupt` holding the raw line) and parse everything else — a
    * fail-fast read would lose whole 128 MB splits to one bad line.
    * Oracle recomputes both populations from the raw table. */
  def w09(t: Tables): DataFrame = {
    val dir = etlCache(t, "w09", "documents") {
      val out = graft.TempDirs.create("graft_w09_jsonl")
      val good = t.documents.select(to_json(struct(
        col("doc_id"), col("source"), col("lang"), col("text"),
        col("n_chars"))).as("value"))
      val torn = t.documents.filter(col("doc_id") % 97 === 0)
        .select(concat(lit("{\"doc_id\":"), col("doc_id"),
          lit(",\"source\":\""), col("source"),
          lit("\",\"text\":\"torn")).as("value"))
      good.unionByName(torn).write.mode(SaveMode.Overwrite).text(out)
      out
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, source STRING, lang STRING, text STRING, " +
        "n_chars BIGINT")
    graft.sources.JsonLinesSource.read(t.spark, dir, schema)
      .groupBy(when(col("_corrupt").isNull, col("source"))
        .otherwise(lit("__quarantine__")).as("bucket"))
      .agg(count(lit(1)).as("n_lines"),
        coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"))
      .orderBy("bucket")
  }

  /** The nested-struct events layout w10 reads — a fat `blob` subfield
    * (the raw props payload) sits INSIDE the struct next to the two
    * numeric subfields the query wants, so pruning is the difference
    * between reading ~16 bytes/row and re-reading the whole payload. */
  private[graft] def nestedLayout(t: Tables): String =
    etlCache(t, "w10", "events") {
      val out = graft.TempDirs.create("graft_w10_nested")
      t.events.select(col("event_id"),
        struct(
          col("event_type").as("kind"),
          expr("cast(round(value * 100) as bigint)").as("amount_cents"),
          struct(col("user_id").as("uid"),
            length(col("props")).cast("long").as("props_len")).as("who"),
          col("props").as("blob")).as("payload"))
        .write.mode(SaveMode.Overwrite)
        .option("compression", "snappy").parquet(out)
      out
    }

  /** w10 — nested-schema pruning graded end-to-end: event logs at crawl
    * scale ship as one struct column (typed metadata + a fat raw
    * payload), and a rollup touching two small subfields must push a
    * PRUNED ReadSchema into the parquet scan — reading
    * `payload.kind/amount_cents/who.props_len` and NOT `payload.blob`
    * or `payload.who.uid`. Parquet stores each struct leaf as its own
    * column chunk, so pruning here is the nested twin of flat column
    * projection: without it a 2-subfield rollup re-reads the whole
    * payload (at 100 TB, ~the whole table). Catalyst's
    * nestedSchemaPruning handles it when the query stays declarative —
    * PlanAuditSpec pins the scan's ReadSchema to exactly the three
    * leaves. Oracle recomputes the rollup from the RAW table: the
    * nested layer must be a pure physical layout choice. */
  def w10(t: Tables): DataFrame =
    t.spark.read.parquet(nestedLayout(t))
      .select(col("payload.kind").as("kind"),
        col("payload.amount_cents").as("amount_cents"),
        col("payload.who.props_len").as("props_len"))
      .groupBy("kind")
      .agg(count(lit(1)).as("n_events"),
        sum(col("amount_cents")).as("amount_cents_sum"),
        sum(col("props_len")).as("props_len_sum"))
      .orderBy("kind")

  /** w11 — layout MIGRATION: the query pattern that actually arrived
    * rarely matches the partitioning chosen at ingest. w01's layout is
    * dt-partitioned (time-ranged scans prune); when the workload turns
    * type-selective, the warehouse job is to RE-LAYOUT — read the old
    * layout once, rewrite partitioned by event_type — and the migrated
    * copy must be provably lossless while the new key actually prunes.
    * This grades all three: the migration write (once per snapshot,
    * etlCache policy), a type-selective rollup through the NEW layout
    * (PlanAuditSpec pins the `event_type=purchase` PartitionFilter on
    * the scan — the read touches 1/|types| of the data), and the
    * oracle recomputes from the RAW table so any row lost or
    * duplicated in EITHER layout hop fails the gate. At 100 TB this
    * read-once-rewrite is the only affordable migration shape (never
    * per-query re-sorts), and the old layout stays live until the new
    * one is verified — which is precisely what this query does. */
  private[graft] def migratedLayout(t: Tables): String =
    etlCache(t, "w11", "events") {
      val out = graft.TempDirs.create("graft_w11_migrated")
      // read the OLD (dt-partitioned) layout — the migration consumes
      // the layout it replaces, not the raw table
      t.spark.read.parquet(etlLayout(t))
        .write.mode(SaveMode.Overwrite)
        .option("compression", "snappy")
        .partitionBy("event_type").parquet(out)
      out
    }

  def w11(t: Tables): DataFrame =
    t.spark.read.parquet(migratedLayout(t))
      .filter(col("event_type") === "purchase")
      .groupBy(col("dt").cast("date").as("dt"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)"))
          .as("sum_value_cents"))
      .orderBy("dt")

  val queries: Map[String, Tables => DataFrame] = Map(
    "w11_layout_migration" -> w11,
    "w10_nested_pruning" -> w10,
    "w08_csv_roundtrip" -> w08,
    "w09_jsonl_quarantine" -> w09,
    "w07_partition_overwrite" -> w07,
    "w06_bucket_pruned_lookup" -> w06,
    "w05_dpp_prune" -> w05,
    "w04_schema_evolution" -> w04,
    "q81_catalog_bucketed_join" -> q81,
    "w01_etl_partitioned_roundtrip" -> w01,
    "w02_compaction_roundtrip" -> w02,
    "w03_zorder_band_query" -> w03)

  val oracles: Map[String, String] = Map(
    // from the RAW table: any row lost/duplicated in either layout hop
    // (dt-partition write, then the event_type migration) fails this
    "w11_layout_migration" ->
      """SELECT CAST(ts AS DATE) AS dt, count(*) AS n_events,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_value_cents
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY dt""".stripMargin,
    // the same rollup from the raw flat table — the nested layout (and
    // its pruning) must be invisible in the values
    "w10_nested_pruning" ->
      """SELECT event_type AS kind, count(*) AS n_events,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS amount_cents_sum,
        | CAST(sum(length(props)) AS BIGINT) AS props_len_sum
        |FROM events GROUP BY event_type ORDER BY kind""".stripMargin,
    // recompute the adversarial payload from the raw parquet; md5 + length
    // equality proves the CSV round-trip preserved quotes, commas, and
    // leading/trailing whitespace byte-for-byte (DuckDB md5(VARCHAR)
    // hashes the same UTF-8 bytes Spark's md5(binary) sees — m03 pattern)
    "w08_csv_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | CAST(count(DISTINCT md5(' "' || source || '", ' ||
        |   substr(text, 1, 30) || ' ')) AS BIGINT) AS n_payloads,
        | CAST(sum(length(' "' || source || '", ' ||
        |   substr(text, 1, 30) || ' ')) AS BIGINT) AS payload_len
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // good lines = every document; quarantine = exactly the torn lines
    // (HAVING guards the empty-corpus edge on both engines: a group that
    // never materializes on the Spark side must not materialize here)
    "w09_jsonl_quarantine" ->
      """SELECT source AS bucket, count(*) AS n_lines,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY source
        |UNION ALL
        |SELECT '__quarantine__' AS bucket, count(*) AS n_lines,
        | CAST(0 AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 97 = 0
        |HAVING count(*) > 0
        |ORDER BY bucket""".stripMargin,
    // per-partition rollup with the purge applied only to the target
    // date (earliest date holding a purgeable row — the same derivation
    // the overwrite uses)
    "w07_partition_overwrite" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS dt, event_type, value
        |           FROM events),
        |tgt AS (SELECT min(dt) AS d FROM e WHERE event_type = 'error')
        |SELECT dt, count(*) AS n_events,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_value_cents
        |FROM e, tgt
        |WHERE NOT (dt = tgt.d AND event_type = 'error')
        |GROUP BY dt ORDER BY dt""".stripMargin,
    // the same point lookup on the raw parquet, key derived in SQL
    "w06_bucket_pruned_lookup" ->
      """SELECT o_orderstatus AS status, count(*) AS n_items,
        | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
        |     AS BIGINT)) AS BIGINT) AS revenue_e4
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
        |GROUP BY o_orderstatus
        |ORDER BY status""".stripMargin,
    // weekday arithmetic inlined: DuckDB dayofweek is 0-based Sun..Sat
    "w05_dpp_prune" ->
      """SELECT event_type, count(*) AS n_events,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_value_cents
        |FROM events
        |WHERE dayofweek(CAST(ts AS DATE)) IN (0, 6)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // pre-evolution rows (even event_id) never had the column → NULL →
    // the 'pre_evolution' bucket; evolved rows derive it as the writer did
    "w04_schema_evolution" ->
      """SELECT event_type,
        | CASE WHEN event_id % 2 = 1
        |      THEN 'ch' || CAST(user_id % 3 AS VARCHAR)
        |      ELSE 'pre_evolution' END AS channel,
        | count(*) AS n_events,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_value_cents
        |FROM events
        |GROUP BY 1, 2 ORDER BY event_type, channel""".stripMargin,
    // identical band bounds derived in pure integer arithmetic from the
    // raw table's min/max — equality proves the Z-ordered rewrite is
    // content-lossless under a doubly-selective predicate
    "w03_zorder_band_query" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, value,
        |    (CAST(ts AS DATE) - DATE '1970-01-01') AS day_idx FROM events),
        |b AS (SELECT min(user_id) AS u_lo, max(user_id) AS u_hi,
        |             min(day_idx) AS d_lo, max(day_idx) AS d_hi FROM ev)
        |SELECT event_type, count(*) AS n_events,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_value_cents
        |FROM ev, b
        |WHERE user_id >= u_lo + (u_hi - u_lo) * 40 // 100
        |  AND user_id <= u_lo + (u_hi - u_lo) * 60 // 100
        |  AND day_idx >= d_lo + (d_hi - d_lo) * 40 // 100
        |  AND day_idx <= d_lo + (d_hi - d_lo) * 60 // 100
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "w02_compaction_roundtrip" ->
      """SELECT event_type, count(*) AS n_events,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_value_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "w01_etl_partitioned_roundtrip" ->
      """SELECT CAST(ts AS DATE) AS dt, count(*) AS n_events,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_value_cents
        |FROM events GROUP BY dt ORDER BY dt""".stripMargin,
    "q81_catalog_bucketed_join" ->
      """SELECT o_orderstatus AS status,
        | count(*) AS n_items,
        | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
        |   AS BIGINT)) AS BIGINT) AS revenue_e4
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus
        |ORDER BY status""".stripMargin)
}
