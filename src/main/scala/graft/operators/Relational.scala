package graft.operators

import graft.Tables
import graft.streaming.EventsStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational completeness beyond the reference's literal queries:
  * joins (star/semi/anti), windows, grouping sets, pivot, time buckets,
  * sessionization. These are the building blocks the reference's Hive
  * dialect exposes (it uses joins of scalar subqueries, windows for
  * pct-of-total) generalized to the full operator surface.
  *
  * Scale notes (100 TB):
  *  - Star join: region/nation are tiny → explicit broadcast; customer
  *    scales with the fact tables → shuffle join on the key, left to
  *    AQE/sort-merge. lineitem⨝orders shuffles once on orderkey.
  *  - Semi/anti joins avoid materializing the probe side's payload.
  *  - Top-N per key: window over partitioned data — each partition's heap
  *    is independent; no global sort.
  *  - Running sums / pct-of-total windows run on *aggregated* inputs
  *    (dozens of rows), never raw data, so the single-task window frame
  *    is never a bottleneck.
  *  - Sessionization: one shuffle on user_id; state per user is bounded.
  *    The streaming twin (streaming.EventsStream) uses
  *    flatMapGroupsWithState with the same gap semantics.
  */
object Relational {

  /** q21 — 5-table star join: revenue by region/nation (flagship).
    * TPC-H Q5-flavored; the reference's join capability (scalar-subquery
    * cross joins, ref lines 326–330) generalized. */
  def q21(t: Tables): DataFrame =
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(
        // exact 1e-4 units (the q81/q83 pattern): price×(1−disc) is
        // 4dp-exact, so the per-row scaled round hits an integer and the
        // BIGINT sum is engine-stable at ANY scale — round(sum(double), 2)
        // drifts past a cent once group totals reach ~1e12 (seen at sf10)
        sum(expr("cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as bigint)"))
          .as("revenue_e4"),
        count(lit(1)).as("n_items"))
      .orderBy("region", "nation")

  /** q22 — left-semi join (EXISTS): customers having orders, by segment. */
  def q22(t: Tables): DataFrame =
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n_cust"))
      .orderBy("seg")

  /** q23 — left-anti join (NOT EXISTS): customers with no orders. */
  def q23(t: Tables): DataFrame =
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n_cust"))
      .orderBy("seg")

  /** q24 — top-3 orders per customer via row_number window (deterministic
    * tie-break on orderkey). */
  def q24(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t.orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  /** q25 — running (cumulative) monthly revenue. Window runs over the
    * ~84-row aggregate, not raw data. */
  def q25(t: Tables): DataFrame = {
    val monthly = t.lineitem
      .groupBy(
        year(col("l_shipdate")).cast("long").as("yr"),
        month(col("l_shipdate")).cast("long").as("mnth"))
      .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
        .as("rev_cents"))
    val w = Window.orderBy("yr", "mnth")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .select(col("yr"), col("mnth"), col("rev_cents"),
        sum(col("rev_cents")).over(w).as("running_rev_cents"))
      .orderBy("yr", "mnth")
  }

  /** q26 — ROLLUP grouping sets with subtotal rows. */
  def q26(t: Tables): DataFrame =
    t.lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr("cast(round(l_quantity) as bigint)")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("grp"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("cnt"), col("sum_qty"))
      .orderBy("grp", "status")

  /** q27 — exact distinct counts per group (scale path documented:
    * approx_count_distinct/HLL for mergeable single-pass sketches). */
  def q27(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_returnflag").as("grp"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
      .orderBy("grp")

  /** q28 — UNION + dedup across two dimension paths. */
  def q28(t: Tables): DataFrame = {
    val supNations = t.supplier
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"))
    val custNations = t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"))
    supNations.union(custNations).distinct().orderBy("n_name")
  }

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** q29 — pivot categorical values into columns (explicit value list so
    * the plan is a single pass; no values-discovery job). */
  def q29(t: Tables): DataFrame = {
    val p = t.events
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
    p.select(
        col("user_id") +:
          EventTypes.map(e => coalesce(col(e), lit(0L)).as(s"n_$e")): _*)
      .orderBy("user_id")
  }

  /** q30 — tumbling 1-hour time-bucket aggregation (batch analog of the
    * streaming windowed agg in streaming.EventsStream). */
  def q30(t: Tables): DataFrame =
    t.events
      .groupBy(
        date_trunc("hour", col("ts")).as("hour_ts"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"))
      .orderBy("hour_ts", "event_type")

  /** Gap-based sessionization core, shared by q31 and the streaming
    * equivalence spec: per-(user, session) summary, a new session when
    * the floor-second difference to the user's previous event is over
    * EventsStream.SessionGapSec (the gap of the streaming twins too). One
    * shuffle on user_id; both windows and the aggregation reuse that
    * partitioning. */
  private[graft] def sessionized(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapSec =
      unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(byUser))
    val flagged = events.withColumn(
      "new_session",
      when(gapSec.isNull || gapSec > EventsStream.SessionGapSec, 1L)
        .otherwise(0L))
    flagged.withColumn(
        "sess_id",
        sum(col("new_session"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_last"),
        count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"))
  }

  /** q31 — gap-based sessionization (30-min inactivity gap) via lag +
    * cumulative-sum windows, rolled up per user by
    * EventsStream.sessionRollup. */
  def q31(t: Tables): DataFrame =
    EventsStream.sessionRollup(sessionized(t.events))

  /** q32 — JSON column extraction (events.props) + aggregate on the
    * extracted field. get_json_object is codegen'd; at scale prefer
    * from_json with an explicit schema once the shape is known. */
  def q32(t: Tables): DataFrame =
    t.events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(avg(col("k")), 2).as("avg_k"))
      .orderBy("event_type")

  /** q33 — as-of join: for each user's events, the most recent order of
    * the same customer key at-or-before the event time. Spark has no ASOF
    * join operator; the scalable composition is the tagged-union + window
    * `last(_, ignoreNulls)` pattern: one shuffle on the key, no range
    * explosion. Result aggregated per user (deterministic under order-date
    * ties). */
  def q33(t: Tables): DataFrame = {
    val orders = t.orders.select(
      col("o_custkey").as("uid"), col("o_orderdate").as("ts"),
      col("o_orderdate").as("asof_date"), lit(null).cast("double").as("value"))
    val events = t.events.select(
      col("user_id").as("uid"), col("ts"),
      lit(null).cast("timestamp").as("asof_date"), col("value"))
    val w = Window.partitionBy(col("uid"))
      .orderBy(col("ts"), col("asof_date").desc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders.union(events)
      .withColumn("matched", last(col("asof_date"), ignoreNulls = true).over(w))
      // keep only event rows that found a match (inner as-of semantics)
      .filter(col("value").isNotNull && col("matched").isNotNull)
      .groupBy(col("uid").as("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("matched")).as("asof_date"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"))
      .orderBy("user_id")
  }

  /** q95 — q33's as-of semantics through the NATIVE operator
    * ([[graft.plans.AsOfJoin]]: custom LogicalPlan → SparkStrategy →
    * one-pass merge SparkPlan — the whole-operator Catalyst-extension
    * rung). Each event probes the latest order date ≤ its timestamp for
    * the same user in a single co-partitioned sorted merge: the
    * reference side is read once per partition with O(1) carry state,
    * vs the q33 composition's union + window-sort over the merged
    * stream. Same DuckDB ASOF JOIN oracle as q33; RelationalSpec pins
    * row-identity between the two spellings, PlanAuditSpec pins the
    * exec shape (AsOfJoinExec over two sorted hash exchanges). */
  def q95(t: Tables): DataFrame = {
    val events = t.events.select(col("user_id"), col("ts"), col("value"))
    // NTZ → session-TZ timestamp is value-identity under the UTC session
    // every entry point pins (Tables.normalizeTs note)
    val orders = t.orders.select(col("o_custkey"),
      col("o_orderdate").cast("timestamp").as("o_orderdate"))
    graft.plans.AsOfJoin
      .asofJoin(events, orders, "user_id", "o_custkey", "ts", "o_orderdate")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(col("asof_ts")).as("asof_date"),
        sum(expr("cast(round(value * 100) as bigint)"))
          .as("sum_value_cents"))
      .orderBy("user_id")
  }

  /** q102 — COMPOSITE-key as-of with right-payload passthrough, through
    * the generalized native operator (round-5 verdict task 6;
    * [[graft.plans.AsOfJoin]]'s round-6 scope): each event probes the
    * latest order of the same customer IN THE EVENT'S URGENCY CLASS —
    * event types map to the tier their campaign targets (purchase→2,
    * view→1, other→0) and order priorities to the tier they ship at
    * (1-URGENT→2, 2-HIGH→1, rest→0) — the (entity, category) as-of a
    * multi-tenant attribution pipeline runs — and carries the matched
    * date's order value (integer cents) out of the reference side,
    * proving payload columns ride the one-pass merge. The reference is
    * pre-aggregated to one row per (customer, class, date) so
    * (key, time) is UNIQUE — the engine-portable determinism contract
    * for as-of WITH payloads (DuckDB's ASOF leaves tied winners
    * unspecified exactly like the merge does; unique times make the
    * question moot on both engines). Same one-pass merge plan shape as
    * q95: two sorted co-partitioned exchanges, reference side never
    * buffered, payload carried as O(1) copied values per key. Oracle:
    * DuckDB ASOF JOIN with the extra key equality; OperatorsSpec pins
    * row-identity against the q33 window composition lifted to the
    * composite key. */
  def q102(t: Tables): DataFrame = {
    val events = t.events.select(col("user_id"), col("ts"),
      when(col("event_type") === "purchase", 2L)
        .when(col("event_type") === "view", 1L).otherwise(0L).as("klass"))
    val orders = t.orders
      .groupBy(col("o_custkey"),
        when(col("o_orderpriority").startsWith("1"), 2L)
          .when(col("o_orderpriority").startsWith("2"), 1L)
          .otherwise(0L).as("klass"),
        col("o_orderdate"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)"))
        .as("day_cents"))
      .select(col("o_custkey"), col("klass"),
        col("o_orderdate").cast("timestamp").as("ots"), col("day_cents"))
    graft.plans.AsOfJoin.asofJoin(events, orders,
        Seq("user_id", "klass"), Seq("o_custkey", "klass"), "ts", "ots",
        Seq("day_cents"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(col("asof_ts")).as("asof_date"),
        sum(col("day_cents")).as("sum_asof_cents"))
      .orderBy("user_id")
  }

  /** q103 — LEFT-OUTER as-of through the native exec (the [[q102]]
    * attribution join's other half, exactly as st07 is st04's): every
    * event emits whether or not an order of its class precedes it —
    * unmatched probes carry NULL asof_ts/payload out of the one-pass
    * merge (the exec's outer mode; same co-partitioned sorted plan, the
    * unmatched branch costs one null-fill projection). This is the
    * "coverage" spelling of attribution: n_matched / n_events per
    * customer is the fraction of activity attributable at all, the
    * number the inner join silently hides. Oracle: DuckDB's native
    * `ASOF LEFT JOIN` with identical conditions. */
  def q103(t: Tables): DataFrame = {
    val events = t.events.select(col("user_id"), col("ts"),
      when(col("event_type") === "purchase", 2L)
        .when(col("event_type") === "view", 1L).otherwise(0L).as("klass"))
    val orders = t.orders
      .groupBy(col("o_custkey"),
        when(col("o_orderpriority").startsWith("1"), 2L)
          .when(col("o_orderpriority").startsWith("2"), 1L)
          .otherwise(0L).as("klass"),
        col("o_orderdate"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)"))
        .as("day_cents"))
      .select(col("o_custkey"), col("klass"),
        col("o_orderdate").cast("timestamp").as("ots"), col("day_cents"))
    graft.plans.AsOfJoin.asofJoin(events, orders,
        Seq("user_id", "klass"), Seq("o_custkey", "klass"), "ts", "ots",
        Seq("day_cents"), outer = true)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count(col("asof_ts")).as("n_matched"),
        coalesce(sum(col("day_cents")), lit(0L)).as("sum_asof_cents"))
      .orderBy("user_id")
  }

  /** q36 — INTERSECT / EXCEPT set operations across dimension paths. */
  def q36(t: Tables): DataFrame = {
    val supNations = t.supplier
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .select("n_name")
    val custNations = t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .select("n_name")
    val both = custNations.intersect(supNations).withColumn("tag", lit("both"))
    val custOnly = custNations.except(supNations).withColumn("tag", lit("cust_only"))
    both.union(custOnly).select(col("tag"), col("n_name")).orderBy("tag", "n_name")
  }

  /** q37 — string function suite: LIKE filter, substring, upper, concat,
    * length — all codegen'd scalar expressions over the part dim. */
  def q37(t: Tables): DataFrame =
    t.part
      .filter(col("p_name").like("%e%"))
      .groupBy(upper(substring(col("p_name"), 1, 5)).as("prefix5"))
      .agg(count(lit(1)).as("cnt"),
        round(avg(length(col("p_name"))), 2).as("avg_len"),
        min(concat(col("p_brand"), lit("-"), col("p_type"))).as("min_brand_type"))
      .orderBy("prefix5")

  /** q38 — window-function suite: rank, dense_rank, ntile, lag-diff,
    * percent_rank over per-customer order sequences. */
  def q38(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t.orders
      .filter(col("o_custkey") < 20)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(col("o_totalprice") - coalesce(lag(col("o_totalprice"), 1).over(w),
          col("o_totalprice")), 2).as("gap_from_prev"),
        round(percent_rank().over(w), 4).as("pct_rank"))
      .orderBy("o_custkey", "rnk", "o_orderkey")
  }

  /** q39 — date/time function suite: quarter buckets, last_day,
    * date arithmetic, day-of-year averages. */
  def q39(t: Tables): DataFrame =
    t.orders
      .select(to_date(col("o_orderdate")).as("d"))
      .groupBy(quarter(col("d")).cast("long").as("qtr"))
      .agg(count(lit(1)).as("cnt"),
        min(last_day(col("d"))).as("min_eom"),
        max(date_add(col("d"), 30)).as("max_plus30"),
        round(avg(dayofyear(col("d"))), 2).as("avg_doy"))
      .orderBy("qtr")

  /** q40 — correlated scalar subquery (customers richer than their
    * nation's average), written as the de-correlated aggregate-join Spark
    * plans it to anyway: one pass for per-nation averages (broadcast), one
    * probe pass. */
  def q40(t: Tables): DataFrame = {
    val natAvg = t.customer.groupBy(col("c_nationkey").as("nk"))
      .agg(avg(col("c_acctbal")).as("nat_avg"))
    t.customer
      .join(broadcast(natAvg), col("c_nationkey") === col("nk"))
      .filter(col("c_acctbal") > col("nat_avg"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_rich"),
        round(max(col("c_acctbal")), 2).as("max_bal"))
      .orderBy("nation")
  }

  /** q41 — the same engine through the SQL API: temp views + spark.sql
    * (the reference's native dialect). Catalyst plans SQL and DataFrame
    * identically; this query IS the reference's percent-share idiom
    * (ref lines 69–74) in SQL form. */
  def q41(t: Tables): DataFrame = {
    t.registerViews()
    t.spark.sql(
      """SELECT o_orderstatus AS status, count(*) AS cnt,
        | round(count(*) * cast(100.0 as double) / sum(count(*)) OVER (), 2) AS pct
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin)
  }

  /** q42 — approximate distinct counts (HLL++): the mergeable single-pass
    * scale path of q27's exact countDistinct (which needs a per-group
    * shuffle of the distinct values; the sketch shuffles fixed-size
    * buffers). Rows-only: sketch estimates are engine-specific. */
  def q42(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_returnflag").as("grp"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_suppkey"), 0.02).as("approx_supps"))
      .orderBy("grp")

  /** Per-stratum keep fractions for q43 (corpus re-balancing policy). */
  val Q43Fractions: Seq[(String, Double)] = Seq(
    "click" -> 0.5, "view" -> 0.1, "purchase" -> 1.0,
    "signup" -> 1.0, "error" -> 0.25)

  /** Integer gate thresholds: keep a row iff its 48-bit md5 hash is below
    * floor(fraction * 2^48) — the whole decision is BIGINT arithmetic both
    * engines replay bit-exactly (the d02 discipline). Fractions outside
    * [0,1] would produce a silently-wrong gate (h is uniformly 48-bit, so
    * f>1 keeps everything without erroring), hence the require. */
  val Q43Thresholds: Seq[(String, Long)] =
    Q43Fractions.map { case (k, f) =>
      require(f >= 0.0 && f <= 1.0, s"q43 fraction for '$k' out of [0,1]: $f")
      k -> (f * (1L << 48)).toLong
    }

  /** q43 — stratified sampling (per-stratum fractions): the corpus
    * down-sampling primitive of training-data pipelines (e.g. re-balancing
    * languages/sources). Round-8 rebase from `stat.sampleBy` (engine-
    * private per-partition RNG) onto hash-gated Bernoulli: a row survives
    * iff the first 12 md5 hex chars of "q43:<event_id>" — a uniform 48-bit
    * integer — fall below floor(fraction(event_type) * 2^48). Hash gating
    * is what a 100 TB pipeline wants anyway: membership is a pure function
    * of the row KEY, so the sample is reproducible across runs, engines,
    * partitionings and task retries (sampleBy's RNG stream depends on
    * partition layout), and downstream joins against the sample stay
    * consistent between pipeline stages. The id_checksum column pins exact
    * MEMBERSHIP (not just per-stratum counts) against the DuckDB oracle. */
  def q43(t: Tables): DataFrame = {
    val thr = Q43Thresholds.foldLeft(lit(0L)) { case (acc, (k, v)) =>
      when(col("event_type") === k, lit(v)).otherwise(acc)
    }
    val h = conv(substring(md5(concat(lit("q43:"),
      col("event_id").cast("string"))), 1, 12), 16, 10).cast("long")
    t.events
      .where(h < thr)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("event_id")).as("id_checksum"))
      .orderBy("event_type")
  }

  val queries: Map[String, Tables => DataFrame] = Map(
    "q42_approx_distinct" -> q42,
    "q43_stratified_sample" -> q43,
    "q40_correlated_subquery" -> q40,
    "q41_sql_api" -> q41,
    "q36_set_ops" -> q36,
    "q37_string_funcs" -> q37,
    "q38_window_suite" -> q38,
    "q39_date_funcs" -> q39,
    "q32_json_extract" -> q32,
    "q33_asof_join" -> q33,
    "q95_native_asof" -> q95,
    "q102_asof_composite" -> q102,
    "q103_asof_outer" -> q103,
    "q21_star_join" -> q21,
    "q22_semi_join" -> q22,
    "q23_anti_join" -> q23,
    "q24_window_topn" -> q24,
    "q25_running_sum" -> q25,
    "q26_rollup" -> q26,
    "q27_count_distinct" -> q27,
    "q28_union_distinct" -> q28,
    "q29_pivot" -> q29,
    "q30_time_bucket_agg" -> q30,
    "q31_sessionize" -> q31)

  val oracles: Map[String, String] = Map(
    "q43_stratified_sample" -> {
      // the CASE thresholds are generated from the SAME Q43Thresholds the
      // Spark plan gates on — one source of truth for the sampling policy
      val cases = Q43Thresholds
        .map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")
      s"""WITH s AS (
         |  SELECT event_type, event_id,
         |    CAST('0x' || substr(md5('q43:' || CAST(event_id AS VARCHAR)),
         |         1, 12) AS BIGINT) AS h,
         |    CASE event_type $cases ELSE 0 END AS thr
         |  FROM events)
         |SELECT event_type, count(*) AS n_sampled,
         | CAST(sum(event_id) AS BIGINT) AS id_checksum
         |FROM s WHERE h < thr
         |GROUP BY event_type ORDER BY event_type""".stripMargin
    },
    "q40_correlated_subquery" ->
      """SELECT n_name AS nation, count(*) AS n_rich,
        | round(max(c_acctbal), 2) AS max_bal
        |FROM customer c JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |GROUP BY n_name ORDER BY nation""".stripMargin,
    "q41_sql_api" ->
      """SELECT o_orderstatus AS status, count(*) AS cnt,
        | round(count(*) * 100.0 / sum(count(*)) OVER (), 2) AS pct
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,
    "q36_set_ops" ->
      """SELECT tag, n_name FROM (
        |  SELECT 'both' AS tag, n_name FROM (
        |    SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
        |    INTERSECT
        |    SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        |  UNION ALL
        |  SELECT 'cust_only' AS tag, n_name FROM (
        |    SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
        |    EXCEPT
        |    SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey))
        |ORDER BY tag, n_name""".stripMargin,
    "q37_string_funcs" ->
      """SELECT upper(substr(p_name, 1, 5)) AS prefix5, count(*) AS cnt,
        | round(avg(length(p_name)), 2) AS avg_len,
        | min(concat(p_brand, '-', p_type)) AS min_brand_type
        |FROM part WHERE p_name LIKE '%e%'
        |GROUP BY prefix5 ORDER BY prefix5""".stripMargin,
    "q38_window_suite" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        | rank() OVER w AS rnk,
        | dense_rank() OVER w AS drnk,
        | ntile(4) OVER w AS quartile,
        | round(o_totalprice - coalesce(lag(o_totalprice, 1) OVER w, o_totalprice), 2)
        |   AS gap_from_prev,
        | round(percent_rank() OVER w, 4) AS pct_rank
        |FROM orders WHERE o_custkey < 20
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin,
    "q39_date_funcs" ->
      """SELECT CAST(quarter(d) AS BIGINT) AS qtr, count(*) AS cnt,
        | min(last_day(d)) AS min_eom,
        | max(d + 30) AS max_plus30,
        | round(avg(dayofyear(d)), 2) AS avg_doy
        |FROM (SELECT CAST(o_orderdate AS DATE) AS d FROM orders)
        |GROUP BY qtr ORDER BY qtr""".stripMargin,
    "q32_json_extract" ->
      """SELECT event_type, count(*) AS n,
        | round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 2) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // composite-key + payload as-of: DuckDB's native ASOF with the extra
    // key equality, reference pre-aggregated to unique (key, time)
    "q102_asof_composite" ->
      """WITH mo AS (
        |  SELECT o_custkey,
        |    CAST(CASE WHEN o_orderpriority LIKE '1%' THEN 2
        |         WHEN o_orderpriority LIKE '2%' THEN 1
        |         ELSE 0 END AS BIGINT) AS klass,
        |    o_orderdate AS ots,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS day_cents
        |  FROM orders GROUP BY 1, 2, 3),
        |ev AS (SELECT user_id, ts,
        |    CAST(CASE WHEN event_type = 'purchase' THEN 2
        |         WHEN event_type = 'view' THEN 1
        |         ELSE 0 END AS BIGINT) AS klass
        |  FROM events)
        |SELECT user_id, count(*) AS n_events, max(a.ots) AS asof_date,
        |  CAST(sum(a.day_cents) AS BIGINT) AS sum_asof_cents
        |FROM ev e ASOF JOIN mo a
        |  ON a.o_custkey = e.user_id AND a.klass = e.klass
        |  AND e.ts >= a.ots
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the outer half: unmatched probes kept with null asof/payload
    "q103_asof_outer" ->
      """WITH mo AS (
        |  SELECT o_custkey,
        |    CAST(CASE WHEN o_orderpriority LIKE '1%' THEN 2
        |         WHEN o_orderpriority LIKE '2%' THEN 1
        |         ELSE 0 END AS BIGINT) AS klass,
        |    o_orderdate AS ots,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS day_cents
        |  FROM orders GROUP BY 1, 2, 3),
        |ev AS (SELECT user_id, ts,
        |    CAST(CASE WHEN event_type = 'purchase' THEN 2
        |         WHEN event_type = 'view' THEN 1
        |         ELSE 0 END AS BIGINT) AS klass
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(count(a.ots) AS BIGINT) AS n_matched,
        |  CAST(coalesce(sum(a.day_cents), 0) AS BIGINT) AS sum_asof_cents
        |FROM ev e ASOF LEFT JOIN mo a
        |  ON a.o_custkey = e.user_id AND a.klass = e.klass
        |  AND e.ts >= a.ots
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the native operator must reproduce the composition's oracle verbatim
    "q95_native_asof" ->
      """SELECT user_id, count(*) AS n_events, max(asof_date) AS asof_date,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_value_cents
        |FROM (
        |  SELECT e.user_id, e.value, o.o_orderdate AS asof_date
        |  FROM events e
        |  ASOF JOIN orders o
        |    ON o.o_custkey = e.user_id AND e.ts >= o.o_orderdate)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q33_asof_join" ->
      """SELECT user_id, count(*) AS n_events, max(asof_date) AS asof_date,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_value_cents
        |FROM (
        |  SELECT e.user_id, e.value, o.o_orderdate AS asof_date
        |  FROM events e
        |  ASOF JOIN orders o
        |    ON o.o_custkey = e.user_id AND e.ts >= o.o_orderdate)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q21_star_join" ->
      """SELECT r_name AS region, n_name AS nation,
        | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
        |   AS BIGINT)) AS BIGINT) AS revenue_e4,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY region, nation""".stripMargin,
    "q22_semi_join" ->
      """SELECT c_mktsegment AS seg, count(*) AS n_cust FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY seg ORDER BY seg""".stripMargin,
    "q23_anti_join" ->
      """SELECT c_mktsegment AS seg, count(*) AS n_cust FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY seg ORDER BY seg""".stripMargin,
    "q24_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q25_running_sum" ->
      """SELECT yr, mnth, rev_cents,
        | CAST(sum(rev_cents) OVER (ORDER BY yr, mnth
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS running_rev_cents
        |FROM (SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
        |             CAST(month(l_shipdate) AS BIGINT) AS mnth,
        |             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |               AS BIGINT) AS rev_cents
        |      FROM lineitem GROUP BY yr, mnth)
        |ORDER BY yr, mnth""".stripMargin,
    "q26_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS grp,
        | coalesce(l_linestatus, 'ALL') AS status,
        | count(*) AS cnt,
        | CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY grp, status""".stripMargin,
    "q27_count_distinct" ->
      """SELECT l_returnflag AS grp,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY grp ORDER BY grp""".stripMargin,
    "q28_union_distinct" ->
      """SELECT n_name FROM (
        |  SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  UNION
        |  SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey)
        |ORDER BY n_name""".stripMargin,
    "q29_pivot" ->
      """SELECT user_id,
        | count(*) FILTER (event_type = 'click')    AS n_click,
        | count(*) FILTER (event_type = 'error')    AS n_error,
        | count(*) FILTER (event_type = 'purchase') AS n_purchase,
        | count(*) FILTER (event_type = 'signup')   AS n_signup,
        | count(*) FILTER (event_type = 'view')     AS n_view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q30_time_bucket_agg" ->
      """SELECT date_trunc('hour', ts) AS hour_ts, event_type,
        | count(*) AS cnt,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_value_cents
        |FROM events GROUP BY hour_ts, event_type
        |ORDER BY hour_ts, event_type""".stripMargin,
    "q31_sessionize" ->
      s"""SELECT user_id, n_sessions, n_events,
         | ((10 * sum_sec + 3 * n_sessions) // (6 * n_sessions)) / 100.0
         |   AS avg_session_min
         |FROM (
         |SELECT user_id, count(*) AS n_sessions,
         | CAST(sum(n_events) AS BIGINT) AS n_events,
         | sum(dur_sec) AS sum_sec
         |FROM (
         |  SELECT user_id, sess_id, count(*) AS n_events,
         |    date_diff('second', min(ts), max(ts)) AS dur_sec
         |  FROM (
         |    SELECT user_id, ts,
         |      sum(new_session) OVER (PARTITION BY user_id
         |        ORDER BY ts, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
         |    FROM (
         |      SELECT user_id, ts, event_id,
         |        CASE WHEN lag(ts) OVER (PARTITION BY user_id
         |               ORDER BY ts, event_id) IS NULL
         |             OR date_diff('second',
         |                  lag(ts) OVER (PARTITION BY user_id
         |                    ORDER BY ts, event_id), ts) > ${EventsStream.SessionGapSec}
         |             THEN 1 ELSE 0 END AS new_session
         |      FROM events))
         |  GROUP BY user_id, sess_id)
         |GROUP BY user_id)
         |ORDER BY user_id""".stripMargin)
}
