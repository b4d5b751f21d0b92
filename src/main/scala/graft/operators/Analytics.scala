package graft.operators

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 analytic-surface growth (SURVEY §2 q69–q72): distribution
  * windows, bitwise aggregates, equal-width histogramming, and linear
  * regression aggregates — the remaining ANSI aggregate/window families
  * the inventory did not yet exercise.
  *
  * Scale notes: every query here aggregates to a small keyed result
  * before any window runs (windows see ~groups×months rows, never raw
  * data), and every aggregation is a single hash-shuffle on its group
  * key with map-side partials — the shapes that survive a 100 TB fact
  * table unchanged.
  */
object Analytics {

  /** q69 — distribution window functions: cume_dist over an ordered
    * partition plus per-partition share (percent-of-total as a PARTITIONED
    * window — the global variant is q02's broadcast-scalar pattern; within
    * a partition the window is safe because the input is pre-aggregated to
    * months). */
  def q69(t: Tables): DataFrame = {
    val m = t.orders
      .groupBy(col("o_orderpriority").as("prio"),
        month(col("o_orderdate")).as("mnth"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("prio")).orderBy(col("cnt"), col("mnth"))
    m.select(col("prio"), col("mnth").cast("long").as("mnth"), col("cnt"),
        round(cume_dist().over(w), 4).as("cd"),
        round(col("cnt") / sum(col("cnt"))
          .over(Window.partitionBy(col("prio"))), 4).as("share"))
      .orderBy("prio", "mnth")
  }

  /** q70 — bitwise aggregates (bit_and / bit_or / bit_xor): mergeable,
    * order-independent integer folds — e.g. permission masks or feature
    * flags at scale. Exact and partition-stable by construction. */
  def q70(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_returnflag").as("grp"))
      .agg(
        expr("bit_and(l_partkey)").as("band"),
        expr("bit_or(l_partkey)").as("bor"),
        expr("bit_xor(l_partkey)").as("bxor"),
        count(lit(1)).as("cnt"))
      .orderBy("grp")

  /** q71 — equal-width histogram via width_bucket: single scan, map-side
    * bucket assignment, shuffle of ≤ nbuckets+2 keys — the fixed-bin
    * histogram every data-profiling pass runs at scale (the DuckDB oracle
    * spells the same binning arithmetically; overflow lands in bucket
    * nbuckets+1, underflow in 0). */
  def q71(t: Tables): DataFrame =
    t.orders
      .select(expr("width_bucket(o_totalprice, 0.0D, 600000.0D, 12)")
        .as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bucket")

  /** q72 — linear-regression aggregates (regr_slope / regr_intercept /
    * regr_r2 / regr_count): single-pass mergeable moment sketches, the
    * scale-out spelling of fitting y~x per group without collecting
    * anything. Results rounded 4dp on both engine sides (the moments are
    * double sums; last-ulp summation-order noise sits ~8 orders below the
    * rounding grid for these magnitudes). */
  def q72(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_returnflag").as("grp"))
      .agg(
        expr("round(regr_slope(l_extendedprice, l_quantity), 4)").as("slope"),
        expr("round(regr_intercept(l_extendedprice, l_quantity), 4)").as("icept"),
        expr("round(regr_r2(l_extendedprice, l_quantity), 4)").as("r2"),
        expr("regr_count(l_extendedprice, l_quantity)").as("n"))
      .orderBy("grp")

  /** q73 — forward fill via IGNORE NULLS windows: carry the last non-null
    * observation forward within each user's ordered event stream (the
    * gap-fill primitive for sparse sensor/attribute columns), then
    * summarize fill coverage per user. One shuffle on user_id; the fill
    * itself is a running window over already-partitioned rows. */
  def q73(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.events
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .withColumn("k_filled", last(col("k"), ignoreNulls = true).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count(col("k")).as("n_k_present"),
        count(col("k_filled")).as("n_k_filled"),
        sum(col("k_filled")).as("sum_k_filled"))
      .orderBy("user_id")
  }

  /** q74 — ordered funnel analysis: click → view (≤6h later) → purchase
    * (≤24h after the view), counted per user — the sequential-pattern
    * query behind every conversion dashboard. All three stage timestamps
    * come from windows over the SAME user_id partitioning, so the whole
    * funnel is ONE shuffle on user_id + a scalar aggregate (never a
    * self-join per stage, which would shuffle the events table once per
    * funnel step). */
  def q74(t: Tables): DataFrame = {
    val byU = Window.partitionBy(col("user_id"))
    val a = t.events.select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t_click",
        min(when(col("event_type") === "click", col("ts"))).over(byU))
    val b = a.withColumn("t_view",
      min(when(col("event_type") === "view" &&
        col("ts") > col("t_click") &&
        col("ts") <= col("t_click") + expr("interval 6 hours"),
        col("ts"))).over(byU))
    val c = b.withColumn("t_purchase",
      min(when(col("event_type") === "purchase" &&
        col("ts") > col("t_view") &&
        col("ts") <= col("t_view") + expr("interval 24 hours"),
        col("ts"))).over(byU))
    c.groupBy("user_id")
      .agg(max(col("t_click")).as("t1"), max(col("t_view")).as("t2"),
        max(col("t_purchase")).as("t3"))
      .agg(count(lit(1)).as("n_users"), count(col("t1")).as("n_click"),
        count(col("t2")).as("n_click_view"),
        count(col("t3")).as("n_full_funnel"))
  }

  /** q75 — calendar densification: every (group, day) cell for January
    * 1996 exists in the output, zero-filled where no rows landed — the
    * gap-fill scaffold every time-series dashboard/model-feature job
    * needs (a missing day must read as zero, not as absent). The
    * calendar × groups scaffold is a broadcast of a tiny literal
    * sequence; the daily aggregate shuffles on (grp, day); revenue is
    * BIGINT cents per the decimal-representation policy. */
  def q75(t: Tables): DataFrame = {
    val days = t.spark.range(1).select(explode(expr(
      "sequence(date'1996-01-01', date'1996-01-31', interval 1 day)")).as("d"))
    val grps = t.lineitem.select(col("l_returnflag").as("grp")).distinct()
    val daily = t.lineitem
      .filter(expr("l_shipdate >= date'1996-01-01' AND " +
        "l_shipdate <= date'1996-01-31'"))
      .groupBy(col("l_returnflag").as("grp"),
        col("l_shipdate").cast("date").as("d"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)")) * lit(100))
        .cast("bigint").as("rev_cents"),
        count(lit(1)).as("n"))
    grps.crossJoin(broadcast(days))
      .join(daily, Seq("grp", "d"), "left")
      .select(col("grp"), col("d"),
        coalesce(col("rev_cents"), lit(0L)).as("rev_cents"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("grp", "d")
  }

  /** q76 — XML ingest (Spark 4 from_xml with an explicit DDL schema):
    * round-trips each event through an XML payload and aggregates the
    * parsed fields. The oracle computes the same aggregate from the raw
    * columns, so any parse/format divergence (numeric repr, field
    * mapping, null handling) fails the compare — the identity IS the
    * test. Never schema_of_xml at scale: inference is an extra full
    * scan; the explicit schema keeps the parse one codegen'd map pass. */
  def q76(t: Tables): DataFrame =
    t.events
      .select(col("event_type"),
        format_string("<e><u>%d</u><v>%s</v></e>",
          col("user_id"), col("value")).as("x"))
      .select(col("event_type"),
        expr("from_xml(x, 'u BIGINT, v DOUBLE')").as("p"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("p.u")).as("sum_u"),
        sum(expr("cast(round(p.v * 100) as bigint)")).as("sum_v_cents"))
      .orderBy("event_type")

  /** q77 — SCD type-2 build: collapse each user's event stream into
    * validity intervals [valid_from, valid_to) that change only when the
    * tracked attribute (event_type) changes — the dimension-history
    * primitive every warehouse maintains. Change detection (lag) and
    * interval close (lead) are windows over the same user_id
    * partitioning: one shuffle builds the whole history. Open versions
    * carry NULL valid_to. */
  def q77(t: Tables): DataFrame = {
    val byU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val chg = t.events
      .withColumn("prev", lag(col("event_type"), 1).over(byU))
      .filter(col("prev").isNull || col("event_type") =!= col("prev"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").as("valid_from"))
    val scd = chg.withColumn("valid_to",
      lead(col("valid_from"), 1).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("valid_from"), col("event_id"))))
    scd.groupBy("user_id")
      .agg(count(lit(1)).as("n_versions"),
        sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_open"),
        sum(unix_timestamp(coalesce(col("valid_to"), col("valid_from"))) -
          unix_timestamp(col("valid_from"))).as("total_sec"))
      .orderBy("user_id")
  }

  /** q78 — multiset set operations (INTERSECT ALL / EXCEPT ALL):
    * bag semantics complete q36's distinct-set surface — duplicates
    * count, which matters when the operands are fact keys. Spark plans
    * both as a single aggregate-join on the value (count-min per side),
    * shuffle ∝ distinct values. */
  def q78(t: Tables): DataFrame = {
    val c = t.customer.select(col("c_nationkey").as("k"))
    val s = t.supplier.select(col("s_nationkey").as("k"))
    val ia = c.intersectAll(s)
      .agg(count(lit(1)).as("n")).select(lit("intersect_all").as("op"), col("n"))
    val ea = c.exceptAll(s)
      .agg(count(lit(1)).as("n")).select(lit("except_all").as("op"), col("n"))
    ia.unionByName(ea).orderBy("op")
  }

  /** q79 — error-tolerant arithmetic (try_divide): division by zero
    * yields NULL instead of an ANSI runtime error, with null accounting —
    * the per-row fault-tolerance semantics a 100 TB job needs (one bad
    * divisor must not kill a task). The ratio sum is EXACT rational
    * arithmetic: price is 2dp (integer cents) and discount is 2dp in
    * {0.01..0.10}, so ratio × 2520 = cents × (2520 / k) with
    * k = discount×100 ∈ 1..10 and 2520 = lcm(1..10) — an exact integer
    * per row, BIGINT-summed (decode: sum / 2520 = sum of ratios). No
    * double sum, no rounding boundary, stable at any scale (the last
    * survivor of the round(sum(double)) class). */
  def q79(t: Tables): DataFrame =
    t.lineitem
      .select(col("l_returnflag").as("grp"),
        expr("try_divide(l_extendedprice, l_discount)").as("ratio"),
        expr("""CASE WHEN l_discount <> 0 THEN
                cast(round(l_extendedprice * 100) as bigint)
                * (2520 div cast(round(l_discount * 100) as bigint)) END""")
          .as("ratio_u"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"),
        count(col("ratio")).as("n_divisible"),
        sum(col("ratio_u")).as("sum_ratio_u2520"))
      .orderBy("grp")

  /** q80 — GROUP BY ALL / ORDER BY ALL (Spark 4 dialect sugar, matching
    * DuckDB's): every non-aggregate select item groups, every column
    * orders — the ad-hoc-analytics spelling; plans identically to the
    * explicit GROUP BY (same hash aggregate + range sort). */
  def q80(t: Tables): DataFrame = {
    t.registerViews()
    t.spark.sql(
      """SELECT l_returnflag AS grp, l_linestatus AS status,
        | count(*) AS cnt,
        | sum(CAST(round(l_quantity) AS BIGINT)) AS sum_qty
        |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin)
  }

  /** q82 — MERGE INTO semantics (the CDC upsert: WHEN MATCHED UPDATE /
    * WHEN MATCHED AND del DELETE / WHEN NOT MATCHED INSERT) as the
    * Spark-first composition open-table formats run under the hood: a
    * single full-outer join of target and changeset on the key, row fate
    * decided by CASE. The changeset is derived deterministically from
    * the target itself (keys %7 update, %11 delete — delete wins on
    * overlap — plus 5 synthetic inserts above max key) so the oracle is
    * pure SQL.
    *
    * Scale shape: ONE shuffle of each side on the merge key (broadcast
    * when the changeset is small — the common CDC case; AQE decides).
    * At 100 TB the missing piece vs Delta/Iceberg MERGE is file-level
    * pruning of untouched partitions, which is a storage-layout
    * concern — the join itself IS the merge kernel those formats
    * execute. The max-key scalar rides a broadcast, not a collect. */
  /** q82's deterministic CDC changeset (k, new_bal, op, new_seg) — ONE
    * definition, shared with st18's streaming apply so the batch MERGE
    * and its streaming twin cannot drift. Each key appears at most once
    * (updates exclude the %11 delete keys; inserts sit above max key),
    * which is what makes a CHUNKED apply commute with the all-at-once
    * batch MERGE — the property st18's oracle equality rests on. */
  private[graft] def mergeChangeset(t: Tables): DataFrame = {
    val c = t.customer
    val mx = c.agg(max(col("c_custkey")).as("mxk"))
    val updates = c
      .filter(col("c_custkey") % 7 === 0 && col("c_custkey") % 11 =!= 0)
      .select(col("c_custkey").as("k"), (col("c_acctbal") + 100).as("new_bal"),
        lit("update").as("op"), lit(null).cast("string").as("new_seg"))
    val deletes = c.filter(col("c_custkey") % 11 === 0)
      .select(col("c_custkey").as("k"), lit(null).cast("double").as("new_bal"),
        lit("delete").as("op"), lit(null).cast("string").as("new_seg"))
    val inserts = t.spark.range(1, 6).toDF("i")
      .crossJoin(broadcast(mx))
      .select((col("mxk") + col("i")).as("k"), lit(500.0).as("new_bal"),
        lit("insert").as("op"), lit("NEW").as("new_seg"))
    updates.unionByName(deletes).unionByName(inserts)
  }

  /** The MERGE kernel itself: one full-outer join of target and changes
    * on the key, row fate decided by CASE — returns the post-merge
    * target (c_custkey, c_acctbal, c_mktsegment). Shared by q82 and
    * st18's per-micro-batch snapshot apply. */
  private[graft] def mergeApply(target: DataFrame, changes: DataFrame): DataFrame =
    target.join(changes, col("c_custkey") === col("k"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "delete")
      .select(
        coalesce(col("c_custkey"), col("k")).as("c_custkey"),
        when(col("op").isin("update", "insert"), col("new_bal"))
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        coalesce(col("c_mktsegment"), col("new_seg")).as("c_mktsegment"))

  /** q82's grading rollup over a post-merge target — shared with st18 so
    * both grade the merged table identically. */
  private[graft] def mergeRollup(merged: DataFrame): DataFrame =
    merged
      .select(col("c_acctbal").as("bal"), col("c_mktsegment").as("seg"))
      .groupBy("seg")
      .agg(count(lit(1)).as("n_cust"),
        sum(expr("cast(round(bal * 100) as bigint)")).as("sum_bal_cents"))
      .orderBy("seg")

  def q82(t: Tables): DataFrame = {
    val c = t.customer
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    mergeRollup(mergeApply(c, mergeChangeset(t)))
  }

  /** q83 — null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): the join
    * spelling dimension lookups need when the key itself can be NULL
    * ("unknown" bucket) and NULL must match NULL instead of dropping.
    * Keys are derived deterministically (orderkey%10, bucket 7 nulled)
    * so the oracle is pure SQL. Scale shape: EqualNullSafe is a legal
    * hash-join key in Spark (null keys hash like any value — no
    * null-skew broadcast-nested-loop fallback), the distinct dim side is
    * tiny → broadcast; one shuffle for the final group-by. */
  def q83(t: Tables): DataFrame = {
    val facts = t.orders.select(
      expr("nullif(o_orderkey % 10, 7)").as("k"), col("o_totalprice"))
    val dim = facts.select(col("k").as("dk")).distinct()
      .select(col("dk"),
        concat(lit("bucket_"), coalesce(col("dk"), lit(-1)).cast("string"))
          .as("label"))
    facts.join(broadcast(dim), col("k") <=> col("dk"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        // exact integer cents: round(sum(double), 2) drifts past a cent
        // once group totals reach ~1e12 (seen at sf10)
        sum(expr("cast(round(o_totalprice * 100) as bigint)"))
          .as("sum_price_cents"))
      .orderBy("label")
  }

  /** q84 — SQL scalar UDF (Spark 4 `CREATE FUNCTION ... RETURN expr`,
    * the metastore-UDF workflow the reference's Hive dialect exposes):
    * the function body is inlined into the plan at resolution, so the
    * query codegens exactly like the hand-written expression — a SQL UDF
    * is an abstraction with zero per-row cost, unlike a JVM/Python UDF.
    * The UDF returns integer cents: round-to-0-decimals on a double is
    * engine-stable (the .5 ties are dyadic, exactly representable, so
    * both engines see the same tie and round it up — unlike 2-decimal
    * rounding, see q31's note), and the BIGINT sum is exact. */
  def q84(t: Tables): DataFrame = {
    t.registerViews()
    t.spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION disc_cents(p DOUBLE, d DOUBLE)
        |RETURNS BIGINT RETURN CAST(round(p * (1 - d) * 100) AS BIGINT)"""
        .stripMargin)
    t.spark.sql(
      """SELECT l_returnflag AS grp, count(*) AS n,
        | sum(disc_cents(l_extendedprice, l_discount)) AS revenue_cents
        |FROM lineitem GROUP BY l_returnflag ORDER BY grp""".stripMargin)
  }

  /** q85 — cumulative-uniques growth curve (daily new vs. cumulative
    * distinct users), the standard user-growth analytic. A windowed
    * COUNT(DISTINCT) is not legal in Spark and would be quadratic
    * anyway; the scalable formulation is first-seen reduction: one
    * hash-shuffle on user_id (map-side partial MIN), a second tiny
    * aggregation to calendar days, then a running sum over the
    * day-granularity result — the global-ordered window runs over at
    * most one row per day (cf. q25's documented pattern), never raw
    * events, so the shape is unchanged at 100 TB. */
  def q85(t: Tables): DataFrame = {
    val firsts = t.events
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("day"))
    firsts.groupBy("day")
      .agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users",
        sum(col("new_users")).over(Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("day")
  }

  /** q86 — CDC keep-latest dedup: reduce a change stream to each key's
    * most recent record, the read-side compaction every CDC-ingested
    * table needs (st06's changelog reconciliation as a batch operator).
    * Formulated as `max(struct(ts, event_id, …))` — one hash shuffle on
    * user_id with map-side partial maxes — NOT the row_number()-window
    * spelling, which shuffles the same bytes and then sorts every
    * partition to rank rows it immediately discards. The struct's
    * leading fields (ts, then unique event_id) make the max — and thus
    * the carried event_type/value payload — deterministic under ties.
    * Values are exact integer cents (the q81/q83 discipline). */
  def q86(t: Tables): DataFrame = {
    val latest = t.events
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("cents"))).as("last"))
    latest
      .select(col("last.event_type").as("event_type"), col("last.cents"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        sum(col("cents")).as("sum_latest_cents"))
      .orderBy("event_type")
  }

  /** q87 — gaps-and-islands: collapse each user's distinct active days
    * into runs of consecutive days (the classic `day − row_number()`
    * anchor trick) and report streak stats per user — retention
    * analytics' "longest streak" metric. Scale shape: the raw-event scan
    * collapses to distinct (user, day) pairs in the first aggregation
    * (map-side combine — shuffle ∝ distinct pairs, never events); the
    * window and both later groupBys all partition by user_id, so one
    * hash exchange feeds window + island rollup + final rollup (the
    * per-user window sees at most the calendar's day count). */
  def q87(t: Tables): DataFrame = {
    val days = t.events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val islands = days
      .withColumn("anchor", expr("date_sub(day, row_number() over " +
        "(partition by user_id order by day))"))
      .groupBy(col("user_id"), col("anchor"))
      .agg(count(lit(1)).as("len"))
    islands.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_streaks"), max(col("len")).as("longest_streak"),
        sum(col("len")).as("n_active_days"))
      .orderBy("user_id")
  }

  /** q88 — global top-k (the "top 10 spenders" leaderboard): per-user
    * rollup, then ORDER BY + LIMIT. The point at scale is what the plan
    * must NOT contain: a global sort. Spark plans ORDER BY+LIMIT as
    * TakeOrderedAndProject — each partition keeps its local top-k heap
    * and the driver merges k·partitions rows — so no range-partitioned
    * Exchange of the full user rollup ever happens (PlanAuditSpec pins
    * this). Ties on total cents break by user_id so the row set is
    * deterministic on both engines; values exact integer cents. */
  def q88(t: Tables): DataFrame =
    t.events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)"))
          .as("sum_value_cents"))
      .orderBy(col("sum_value_cents").desc, col("user_id"))
      .limit(10)

  /** q89 — SQL pipe syntax (Spark 4's `|>` operator chaining, SPARK-49555
    * / the "SQL has problems" pipe-SQL proposal): the same linear
    * dataflow a DataFrame chain expresses, but in SQL — each `|>` stage
    * consumes the previous result, so query logic reads top-to-bottom
    * instead of inside-out. Catalyst plans it identically to the nested
    * spelling (no new operator — purely parser surface), which the
    * matching ANSI-SQL oracle proves. Values exact integer cents. */
  def q89(t: Tables): DataFrame = {
    t.events.createOrReplaceTempView("graft_q89_events")
    t.spark.sql(
      """FROM graft_q89_events
        ||> WHERE event_type IN ('click', 'purchase')
        ||> EXTEND cast(round(value * 100) as bigint) AS cents
        ||> AGGREGATE count(*) AS n_events, sum(cents) AS sum_cents
        |   GROUP BY user_id % 10 AS bucket, event_type
        ||> WHERE n_events > 0
        ||> ORDER BY bucket, event_type""".stripMargin)
  }

  /** q90 — parameterized SQL (named parameter markers, SPARK-44140):
    * the injection-safe templating surface a query service puts in
    * front of the engine — parameters bind as typed literal expressions
    * in the parsed plan, never string-spliced, so Catalyst constant-
    * folds them exactly like hand-written literals (same plan, same
    * pushed filters). The oracle inlines the same values as literals —
    * equality proves binding is semantically identity. Values exact
    * integer cents. */
  def q90(t: Tables): DataFrame = {
    t.events.createOrReplaceTempView("graft_q90_events")
    t.spark.sql(
      """SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_value_cents
        |FROM graft_q90_events
        |WHERE event_type IN (:a, :b) AND value >= :minValue
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
      Map("a" -> "click", "b" -> "purchase", "minValue" -> 10.0))
  }

  /** q91 — Datasketches HLL mergeability (Spark 4 `hll_sketch_agg` /
    * `hll_union_agg` / `hll_sketch_estimate`): per-group sketches over
    * l_partkey union into a global estimate, alongside the direct
    * whole-table sketch and the exact distinct count. Mergeability IS
    * the 100 TB count-distinct story: per-partition sketch partials
    * combine associatively map-side, so only fixed-size sketch bytes
    * (not keys) cross the shuffle, and pre-aggregated per-group
    * sketches roll up to ANY coarser grouping without rescanning the
    * fact — exactly how a metrics store serves distinct-count cubes.
    * rows-only (sketch estimates have no DuckDB twin); OperatorsSpec
    * value-gates both estimates against the exact count at the
    * default lgK=12 error bound and pins union≈direct agreement. */
  def q91(t: Tables): DataFrame = {
    val perGroup = t.lineitem.groupBy(col("l_returnflag"))
      .agg(expr("hll_sketch_agg(l_partkey)").as("sk"),
        countDistinct(col("l_partkey")).as("exact_group"))
    val merged = perGroup.agg(
      count(lit(1)).cast("bigint").as("n_groups"),
      expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_union"),
      max(col("exact_group")).as("max_group_exact"))
    val direct = t.lineitem.agg(
      expr("hll_sketch_estimate(hll_sketch_agg(l_partkey))")
        .as("est_direct"),
      countDistinct(col("l_partkey")).as("exact_total"))
    merged.join(broadcast(direct))
      .select(col("n_groups"), col("est_union"), col("est_direct"),
        col("exact_total"), col("max_group_exact"))
  }

  /** q93 — SQL scripting (Spark 4 BEGIN…END compound statements,
    * SPARK-48338: DECLARE local variables, SET, WHILE control flow) as
    * a graded query: an iterative data-dependent threshold search —
    * the smallest integer T whose strict-exceeders are under 10% of
    * rows — runs ENTIRELY inside the engine, the workload class that
    * otherwise forces a driver-side collect-loop round trip per probe.
    * Scale shape: the corpus is scanned ONCE into a cached ~50-row
    * quantity histogram; the WHILE runs BINARY search over [0, 50]
    * (~6 probes, each a scalar lookup on the cache — monotone
    * predicate, so bisection is exact), because even against a cached
    * aggregate every probe is a job round-trip and a linear scan of
    * the threshold space was measured 10× slower. Iteration cost is
    * independent of corpus size — the same "loop over aggregates,
    * never over data" rule as g01/g02's rank vector. The oracle
    * computes the identical fixed point non-iteratively
    * (min-satisfying-threshold over a generated range), proving the
    * procedural and declarative spellings converge. */
  def q93(t: Tables): DataFrame = {
    t.spark.conf.set("spark.sql.scripting.enabled", "true")
    t.registerViews()
    // The script's ~6 bisection probes each run a job over the cached
    // ≤51-row histogram (qty ∈ [0,50] — bounded by DOMAIN, so this is
    // scale-independent: the histogram is 51 rows at 100 TB too). At the
    // session width every probe paid session-many near-empty tasks per
    // cached partition scan; one partition is the data-derived count
    // (Parts.forRows over 51 rows) at every scale. The corpus-scale
    // statements are unharmed: the histogram build and the final SELECT
    // aggregate map-side first, so only O(groups × map tasks) partial
    // rows ever cross their exchanges. Scope covers the whole script —
    // scripting executes eagerly inside sql().
    graft.Parts.withShufflePartitions(t.spark,
      graft.Parts.forRows(t.spark, 51L, 150000L)) {
    t.spark.sql(
      """BEGIN
        |  DECLARE vtotal BIGINT DEFAULT 0;
        |  DECLARE vlo BIGINT DEFAULT 0;
        |  DECLARE vhi BIGINT DEFAULT 50;
        |  DECLARE vmid BIGINT DEFAULT 0;
        |  CREATE OR REPLACE TEMPORARY VIEW graft_q93_hist AS
        |    SELECT CAST(l_quantity AS BIGINT) AS qty, count(*) AS cnt
        |    FROM lineitem GROUP BY 1;
        |  CACHE TABLE graft_q93_hist;
        |  SET vtotal = (SELECT sum(cnt) FROM graft_q93_hist);
        |  WHILE vlo < vhi DO
        |    SET vmid = (vlo + vhi) DIV 2;
        |    IF (SELECT coalesce(sum(cnt), 0) FROM graft_q93_hist
        |        WHERE qty > vmid) * 10 < vtotal THEN
        |      SET vhi = vmid;
        |    ELSE
        |      SET vlo = vmid + 1;
        |    END IF;
        |  END WHILE;
        |  SELECT l_returnflag AS grp, vlo AS threshold,
        |    count(*) AS n_above,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem WHERE CAST(l_quantity AS BIGINT) > vlo
        |  GROUP BY l_returnflag ORDER BY grp;
        |END""".stripMargin)
    }
  }

  /** q94 — the custom Catalyst optimizer rule
    * [[graft.plans.GlobalWindowToAgg]] graded end-to-end: the query is
    * written in the NAIVE reference idiom — `sum(agg) OVER ()`
    * percent-of-total (ref lines 62–66), the spelling Spark plans as
    * Exchange SinglePartition + Window, i.e. the whole input through one
    * task at 100 TB — and the injected rule rewrites it to a scalar
    * Aggregate broadcast-joined back (partial aggregation map-side, no
    * single-partition funnel; the ≤1-row build side plans as a broadcast
    * nested-loop join). PlanAuditSpec pins both directions: no Window /
    * SinglePartition in this plan, and the identical frame WITHOUT the
    * rule planning the single-task Window. The oracle computes the same
    * numbers relationally — the rewrite must be semantics-identity. */
  def q94(t: Tables): DataFrame = {
    t.lineitem
      .groupBy(col("l_returnflag").as("grp"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr("cast(round(l_quantity) as bigint)")).as("sum_qty"))
      .withColumn("total_cnt", sum(col("cnt")).over(Window.partitionBy()))
      .withColumn("total_qty",
        sum(col("sum_qty")).over(Window.partitionBy()))
      .select(col("grp"), col("cnt"), col("sum_qty"),
        col("total_cnt"), col("total_qty"),
        round(col("cnt") * 100.0 / col("total_cnt"), 2).as("pct"))
      .orderBy("grp")
  }

  /** q96 — EXACT distinct counting via bitmap aggregation (Spark 3.5+
    * `bitmap_bucket_number` / `bitmap_bit_position` /
    * `bitmap_construct_agg` / `bitmap_or_agg` / `bitmap_count`): each
    * key sets one bit in a 4 KB bucket segment, segments merge
    * associatively map-side, so DISTINCT KEYS NEVER CROSS THE SHUFFLE —
    * only OR-able fixed-size segments do. This is the exact complement
    * of the sketch family: q27's groupBy-distinct shuffles the key
    * stream, q42/q91 trade exactness for fixed size; bitmap aggregation
    * is exact AND fixed-size per (group, bucket) when the key domain is
    * dense integers (surrogate keys — precisely the warehouse case).
    * The ALL row rolls the per-group bitmaps up by OR-merge WITHOUT
    * rescanning the fact — the q91 mergeability story, exact. Oracle:
    * plain COUNT(DISTINCT) on both levels. */
  def q96(t: Tables): DataFrame = {
    t.registerViews()
    t.spark.sql(
      """WITH per AS (
        |  SELECT l_returnflag AS grp,
        |    bitmap_bucket_number(l_partkey) AS b,
        |    bitmap_construct_agg(bitmap_bit_position(l_partkey)) AS bm
        |  FROM lineitem GROUP BY 1, 2),
        |grouped AS (
        |  SELECT grp, CAST(sum(bitmap_count(bm)) AS BIGINT)
        |    AS n_distinct_parts
        |  FROM per GROUP BY grp),
        |rolled AS (
        |  SELECT b, bitmap_or_agg(bm) AS bm FROM per GROUP BY b)
        |SELECT grp, n_distinct_parts FROM grouped
        |UNION ALL
        |SELECT 'ALL' AS grp,
        |  CAST(sum(bitmap_count(bm)) AS BIGINT) AS n_distinct_parts
        |FROM rolled
        |ORDER BY grp""".stripMargin)
  }

  /** q97 — map higher-order functions (`map_filter`, `map_zip_with`,
    * `transform_values`, `map_values` + array fold), q66's map-type
    * coverage extended to the lambda surface: per-user event maps are
    * built deterministically (sort_array before map_from_entries), then
    * every derivation runs as a codegen'd lambda INSIDE the row — no
    * explode/re-aggregate round trip through a shuffle for per-map
    * logic. All outputs integer-exact; map_zip_with emits s−c (a
    * subtraction, deliberately NOT s div c: integer division on
    * possibly-negative cent sums is floor in DuckDB but
    * truncate-toward-zero in Spark — a cross-engine trap this suite
    * sidesteps by construction). Oracle recomputes every value
    * relationally (q66 precedent: DuckDB map semantics differ, the
    * CONTENT is engine-neutral). */
  def q97(t: Tables): DataFrame = {
    val per = t.events
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
    per.groupBy("user_id")
      .agg(
        map_from_entries(sort_array(collect_list(
          struct(col("event_type"), col("cnt"))))).as("cnt_m"),
        map_from_entries(sort_array(collect_list(
          struct(col("event_type"), col("cents"))))).as("cents_m"))
      .select(col("user_id"),
        size(map_keys(col("cnt_m"))).cast("long").as("n_types"),
        expr("cast(size(map_filter(cents_m, (k, v) -> v >= 50000)) as long)")
          .as("n_heavy_types"),
        expr("aggregate(map_values(cents_m), 0L, (acc, x) -> acc + x)")
          .as("total_cents"),
        expr("element_at(map_zip_with(cnt_m, cents_m," +
          " (k, c, s) -> s - c), 'click')").as("click_zip"),
        expr("element_at(transform_values(cents_m, (k, v) -> v * 2)," +
          " 'purchase')").as("purchase_doubled"))
      .orderBy("user_id")
  }

  /** q98 — distinct counts over windows, a surface SQL engines expose as
    * `count(DISTINCT x) OVER (...)` but Spark does not support at all
    * (SPARK-30277 class). Two scalable spellings stand in:
    *   - whole-partition distinct: `max(dense_rank)` over the partition
    *     ordered by the counted value — O(1) state per row, no set
    *     materialization;
    *   - running (cumulative) distinct: a first-occurrence flag
    *     (`row_number() = 1` over (user, type)) running-summed along the
    *     event order.
    * Neither spelling builds a per-row `collect_set` — the naive window
    * translation — whose state is O(distinct values) PER ROW and dies on
    * a hot user at corpus scale. Window order is chosen so the coarsest
    * partitioning plans first: every spec clusters by `user_id` (the
    * (user, type) spec is satisfied by hash(user_id) co-location), and
    * the final per-user rollup reuses the same partitioning — ONE
    * exchange end to end (PlanAuditSpec pins it). Output is the bounded
    * per-user audit row (total distinct, curve checksum, event count),
    * never the raw per-event curve. Oracle: DuckDB's NATIVE windowed
    * DISTINCT aggregate — a genuinely different evaluation strategy
    * converging on the same values. Ref analog: the reference's
    * per-entity distinct profiling (lines 80–96) as a window, not a
    * re-scan. */
  def q98(t: Tables): DataFrame = {
    val byUser    = Window.partitionBy("user_id")
    val typeRank  = byUser.orderBy("event_type")
    val firstSeen = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val curve = byUser.orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      // coarse (user_id-clustered) window first: everything downstream
      // inherits its exchange
      .withColumn("dr", dense_rank().over(typeRank))
      .withColumn("first_flag",
        when(row_number().over(firstSeen) === 1, 1L).otherwise(0L))
      .withColumn("n_types", max(col("dr")).over(byUser))
      .withColumn("running_nt", sum(col("first_flag")).over(curve))
      .groupBy("user_id")
      .agg(max(col("n_types")).cast("long").as("n_types"),
        sum(col("running_nt")).cast("long").as("curve_sum"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** q99 — theta/KMV sketch distinct counts WITH set intersection: the
    * capability q91's HLL cannot express (HLL unions losslessly but
    * intersects only via inclusion-exclusion, whose error explodes on
    * small overlaps). The custom [[graft.functions.KmvSketch]]
    * TypedImperativeAggregate keeps the k=256 minimum distinct 48-bit
    * hashes per group — fixed O(k) memory, associative merge, map-side
    * partials, only k longs per group across the shuffle — and because
    * the sketch retains an actual uniform hash SAMPLE below
    * θ = k-th-minimum, the 'click ∧ purchase' distinct-user overlap
    * estimates as |common ∩ [0,θ)| · 2⁴⁸ / θ with θ = min(θ_A, θ_B).
    *
    * Every estimate is exact integer arithmetic over md5-derived hashes
    * (first 12 hex chars = 48 bits; (k−1)·2⁴⁸ < 2⁶³ — 60-bit hashes
    * would overflow the numerator), so the sketch CONTENT — not just an
    * error bound — is reproducible on any engine: the oracle rebuilds
    * the same sketches with a DuckDB window rank and must match the
    * estimates to the last digit. A sketch operator with an exact SQL
    * oracle (q91's mergeability story made value-checkable).
    *
    * Partial-sketch estimates (size < k) are exact counts by
    * construction — θ = 2⁴⁸ and the "sample" is the whole set. */
  def q99(t: Tables): DataFrame = {
    import graft.functions.exprs.kmv_sketch
    val K = 256
    val Dom = 281474976710656L            // 2^48
    val Num = (K - 1L) * Dom              // (k-1)·2^48 for the estimator
    val sk = t.events
      .select(col("event_type"),
        expr("cast(conv(substring(md5(cast(user_id as string)), 1, 12)," +
          " 16, 10) as bigint)").as("h"))
      .groupBy("event_type")
      .agg(kmv_sketch(col("h"), K).as("sk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perType = sk.select(
      col("event_type").as("grp"),
      size(col("sk")).cast("long").as("sketch_n"),
      when(size(col("sk")) < K, size(col("sk")).cast("long"))
        .otherwise(expr(s"$Num div element_at(sk, $K)")).as("est_distinct"))
    val ix = sk.agg(
        coalesce(first(when(col("event_type") === "click", col("sk")),
          ignoreNulls = true), expr("cast(array() as array<bigint>)"))
          .as("ska"),
        coalesce(first(when(col("event_type") === "purchase", col("sk")),
          ignoreNulls = true), expr("cast(array() as array<bigint>)"))
          .as("skb"))
      .withColumn("theta", least(
        when(size(col("ska")) < K, lit(Dom))
          .otherwise(element_at(col("ska"), K)),
        when(size(col("skb")) < K, lit(Dom))
          .otherwise(element_at(col("skb"), K))))
      .withColumn("common", expr(
        "cast(size(filter(array_intersect(ska, skb), x -> x < theta)) as bigint)"))
      .select(lit("click_x_purchase").as("grp"),
        col("common").as("sketch_n"),
        expr(s"common * $Dom div theta").as("est_distinct"))
    graft.CacheHygiene.materializeAndRelease(
      perType.unionByName(ix).orderBy("grp"), Seq(sk))
  }

  /** q100 — peak concurrency per day (interval-overlap aggregation):
    * every event opens a 10-minute session; the answer is each day's
    * maximum number of simultaneously-open sessions and the first
    * minute it occurs — the load-sizing query behind "how many
    * concurrent sessions must this system hold".
    *
    * The scale hazard is the textbook one: concurrency is a RUNNING SUM
    * over +1/−1 boundary events in global time order — naively a global
    * ORDER BY window funneling the corpus through one task (the q94
    * hazard as an algorithm, not a plan accident). Two exact coarsenings
    * restore distribution:
    *  1. minute-bucket the boundary deltas first — shuffle ∝ distinct
    *     minutes, CALENDAR-bounded (525k/year), not corpus-bounded;
    *  2. two-level prefix sum — per-day delta totals roll up to a carry
    *     via a window over #days rows (the q25-class ≤1-row-per-day
    *     exception), then each day's minutes prefix-sum independently
    *     (partitioned window) offset by the carry.
    * Integer arithmetic throughout; the decomposition is provably equal
    * to the global running sum, which is exactly what the oracle
    * computes — one global DuckDB window, a genuinely different
    * evaluation shape converging on the same values. */
  def q100(t: Tables): DataFrame = {
    // integer floor arithmetic on both engines: unix_timestamp floors to
    // seconds, `div` floors to minutes (the DuckDB twin must spell
    // floor() explicitly — its `//` on DOUBLE is plain division and a
    // BIGINT cast would then ROUND half-up, shifting boundary events
    // into the next minute)
    val starts = t.events
      .select(expr("unix_timestamp(ts) div 60").as("m"))
    val deltas = starts.select(col("m"), lit(1L).as("d"))
      .unionAll(starts.select((col("m") + 10).as("m"), lit(-1L).as("d")))
      .groupBy("m").agg(sum(col("d")).as("delta"))
      .withColumn("day", expr("m div 1440"))
    val wDays = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = deltas.groupBy("day")
      .agg(sum(col("delta")).as("day_delta"))
      .withColumn("carry",
        coalesce(sum(col("day_delta")).over(wDays), lit(0L)))
      .select(col("day"), col("carry"))
    val wMin = Window.partitionBy("day").orderBy("m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val conc = deltas.join(broadcast(carries), "day")
      .withColumn("run", sum(col("delta")).over(wMin) + col("carry"))
    val peaks = conc.groupBy("day")
      .agg(max(col("run")).as("max_concurrency"))
    conc.join(broadcast(peaks), "day")
      .filter(col("run") === col("max_concurrency"))
      .groupBy("day")
      .agg(max(col("run")).as("max_concurrency"),
        min(col("m")).as("peak_minute"))
      .select(col("day").cast("long").as("day"),
        col("max_concurrency"), col("peak_minute"))
      .orderBy("day")
  }

  /** q101 — EXACT equi-depth histogram (the CBO statistics primitive:
    * q71 buckets by equal VALUE ranges, this buckets by equal ROW
    * counts — what selectivity estimation actually wants, since skewed
    * data makes equi-width bins useless). Exactness is normally the
    * blocker at scale: true equi-depth needs global order statistics
    * (a corpus sort, or sampling as percentile_approx does — q34's
    * trade). The q100 coarsening applies: collapse to per-VALUE counts
    * first (shuffle ∝ distinct values — domain-bounded for key-like and
    * quantized columns; l_quantity is 1..50), then a #values-row
    * running sum assigns each value its bucket as `cum_before·B div N`
    * — a deterministic integer rule both engines share, with the
    * documented property that a value never splits across buckets (so
    * bucket depths are equal only up to value multiplicity — exactly
    * the "boundary value" caveat real histogram builders document).
    * Output: per bucket lo/hi/n_rows/n_values. */
  def q101(t: Tables): DataFrame = {
    val B = 5
    val counts = t.lineitem
      .select(col("l_quantity").cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    counts
      .withColumn("cum_before", coalesce(sum(col("c")).over(w), lit(0L)))
      .crossJoin(broadcast(
        counts.agg(sum(col("c")).as("n_total"))))
      .withColumn("bucket", expr(s"(cum_before * $B) div n_total"))
      .groupBy("bucket")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        sum(col("c")).as("n_rows"), count(lit(1)).as("n_values"))
      .orderBy("bucket")
  }

  val queries: Map[String, Tables => DataFrame] = Map(
    "q101_equi_depth_histogram" -> q101,
    "q100_concurrency" -> q100,
    "q99_theta_sketch" -> q99,
    "q98_window_distinct" -> q98,
    "q97_map_hof_suite" -> q97,
    "q96_bitmap_distinct" -> q96,
    "q94_global_window_rule" -> q94,
    "q93_sql_scripting" -> q93,
    "q91_sketch_union" -> q91,
    "q90_parameterized_sql" -> q90,
    "q89_pipe_syntax" -> q89,
    "q88_global_topk" -> q88,
    "q87_islands_gaps" -> q87,
    "q86_keep_latest" -> q86,
    "q85_cumulative_uniques" -> q85,
    "q84_sql_udf" -> q84,
    "q83_null_safe_join" -> q83,
    "q82_merge_upsert" -> q82,
    "q80_group_by_all" -> q80,
    "q79_try_arithmetic" -> q79,
    "q78_setops_all" -> q78,
    "q77_scd2" -> q77,
    "q76_xml_ingest" -> q76,
    "q75_densify" -> q75,
    "q74_funnel" -> q74,
    "q73_fill_forward" -> q73,
    "q69_cume_dist" -> q69,
    "q70_bitwise_agg" -> q70,
    "q71_histogram" -> q71,
    "q72_regression_agg" -> q72)

  val oracles: Map[String, String] = Map(
    // same integer bucket rule over the value-count relation
    "q101_equi_depth_histogram" ->
      """WITH counts AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS v, count(*) AS c
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM counts),
        |cum AS (
        |  SELECT v, c,
        |    coalesce(sum(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM counts)
        |SELECT CAST((cum_before * 5) // n_total AS BIGINT) AS bucket,
        |  CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi,
        |  CAST(sum(c) AS BIGINT) AS n_rows,
        |  count(*) AS n_values
        |FROM cum, tot GROUP BY 1 ORDER BY bucket""".stripMargin,
    // ONE global running sum — the evaluation shape the Spark side
    // deliberately decomposes; equality proves the two-level prefix sum
    "q100_concurrency" ->
      """WITH starts AS (
        |  SELECT CAST(floor(epoch(ts) / 60) AS BIGINT) AS m FROM events),
        |deltas AS (
        |  SELECT m, CAST(sum(d) AS BIGINT) AS delta FROM (
        |    SELECT m, 1 AS d FROM starts
        |    UNION ALL SELECT m + 10 AS m, -1 AS d FROM starts)
        |  GROUP BY m),
        |run AS (
        |  SELECT m, m // 1440 AS day,
        |    sum(delta) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS run
        |  FROM deltas),
        |peaks AS (
        |  SELECT day, max(run) AS max_concurrency FROM run GROUP BY day)
        |SELECT CAST(r.day AS BIGINT) AS day,
        |  CAST(p.max_concurrency AS BIGINT) AS max_concurrency,
        |  CAST(min(r.m) AS BIGINT) AS peak_minute
        |FROM run r JOIN peaks p ON r.day = p.day
        |  AND r.run = p.max_concurrency
        |GROUP BY r.day, p.max_concurrency
        |ORDER BY day""".stripMargin,
    // the same KMV sketches rebuilt via a window rank over distinct
    // hashes — estimates must match the custom aggregate to the digit
    "q99_theta_sketch" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
        |      AS BIGINT) AS h
        |  FROM events),
        |r AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM h),
        |sk AS (SELECT event_type, h, rn FROM r WHERE rn <= 256),
        |agg AS (
        |  SELECT event_type, count(*) AS n,
        |    max(CASE WHEN rn = 256 THEN h END) AS theta_k
        |  FROM sk GROUP BY event_type),
        |per AS (
        |  SELECT event_type AS grp, CAST(n AS BIGINT) AS sketch_n,
        |    CAST(CASE WHEN n < 256 THEN n
        |              ELSE 71776119061217280 // theta_k END AS BIGINT)
        |      AS est_distinct
        |  FROM agg),
        |th AS (
        |  SELECT least(
        |    coalesce((SELECT CASE WHEN n < 256 THEN 281474976710656
        |                          ELSE theta_k END
        |              FROM agg WHERE event_type = 'click'),
        |             281474976710656),
        |    coalesce((SELECT CASE WHEN n < 256 THEN 281474976710656
        |                          ELSE theta_k END
        |              FROM agg WHERE event_type = 'purchase'),
        |             281474976710656)) AS theta),
        |common AS (
        |  SELECT count(*) AS cnt FROM sk a JOIN sk b ON a.h = b.h, th
        |  WHERE a.event_type = 'click' AND b.event_type = 'purchase'
        |    AND a.h < th.theta)
        |SELECT grp, sketch_n, est_distinct FROM per
        |UNION ALL
        |SELECT 'click_x_purchase' AS grp, CAST(cnt AS BIGINT) AS sketch_n,
        |  CAST(cnt * 281474976710656 // theta AS BIGINT) AS est_distinct
        |FROM common, th
        |ORDER BY grp""".stripMargin,
    // DuckDB's native windowed DISTINCT aggregate — a different
    // evaluation strategy (per-frame distinct sets) than the Spark
    // side's rank/flag spellings, converging on the same values
    "q98_window_distinct" ->
      """WITH w AS (
        |  SELECT user_id,
        |    count(DISTINCT event_type) OVER (PARTITION BY user_id)
        |      AS nt,
        |    count(DISTINCT event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        |      AS running_nt
        |  FROM events)
        |SELECT user_id, CAST(max(nt) AS BIGINT) AS n_types,
        |  CAST(sum(running_nt) AS BIGINT) AS curve_sum,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,
    // every map-HOF value recomputed relationally (q66 precedent)
    "q97_map_hof_suite" ->
      """WITH per AS (
        |  SELECT user_id, event_type, count(*) AS cnt,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(count(CASE WHEN cents >= 50000 THEN 1 END) AS BIGINT)
        |    AS n_heavy_types,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  CAST(max(CASE WHEN event_type = 'click' THEN cents - cnt END)
        |    AS BIGINT) AS click_zip,
        |  CAST(max(CASE WHEN event_type = 'purchase' THEN cents * 2 END)
        |    AS BIGINT) AS purchase_doubled
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the bitmap plumbing must be invisible: plain COUNT(DISTINCT) at
    // both grouping levels
    "q96_bitmap_distinct" ->
      """SELECT l_returnflag AS grp,
        | CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_parts
        |FROM lineitem GROUP BY 1
        |UNION ALL
        |SELECT 'ALL' AS grp,
        | CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_parts
        |FROM lineitem
        |ORDER BY grp""".stripMargin,
    // the rewritten global window computed relationally — the optimizer
    // rule must be semantics-identity
    "q94_global_window_rule" ->
      """WITH g AS (
        |  SELECT l_returnflag AS grp, count(*) AS cnt,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |      AS sum_qty
        |  FROM lineitem GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS total_cnt,
        |    CAST(sum(sum_qty) AS BIGINT) AS total_qty
        |  FROM g)
        |SELECT grp, cnt, sum_qty, total_cnt, total_qty,
        |  round(cnt * 100.0 / total_cnt, 2) AS pct
        |FROM g, t ORDER BY grp""".stripMargin,
    // the WHILE fixed point computed non-iteratively: min threshold in
    // 0..50 whose strict-exceeders are under 10% of rows
    "q93_sql_scripting" ->
      """WITH hist AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS qty, count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS total FROM hist),
        |thr AS (
        |  SELECT CAST(min(r.t) AS BIGINT) AS t
        |  FROM range(0, 51) r(t), tot
        |  WHERE (SELECT coalesce(sum(cnt), 0) FROM hist
        |         WHERE qty > r.t) * 10 < tot.total)
        |SELECT l_returnflag AS grp,
        |  (SELECT t FROM thr) AS threshold,
        |  count(*) AS n_above,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE CAST(l_quantity AS BIGINT) > (SELECT t FROM thr)
        |GROUP BY l_returnflag ORDER BY grp""".stripMargin,
    // the parameters inlined as literals — binding must be identity
    "q90_parameterized_sql" ->
      """SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_value_cents
        |FROM events
        |WHERE event_type IN ('click', 'purchase') AND value >= 10.0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the pipe-syntax chain must plan to exactly this nested spelling
    "q89_pipe_syntax" ->
      """SELECT user_id % 10 AS bucket, event_type,
        | count(*) AS n_events,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_cents
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY 1, 2 HAVING count(*) > 0
        |ORDER BY bucket, event_type""".stripMargin,
    "q88_global_topk" ->
      """SELECT user_id, count(*) AS n_events,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_value_cents
        |FROM events GROUP BY user_id
        |ORDER BY sum_value_cents DESC, user_id LIMIT 10""".stripMargin,
    // ts order ties broken by unique event_id; CAST(ts AS TIMESTAMP)
    // truncates DuckDB's ns values to the same µs precision Spark reads
    "q86_keep_latest" ->
      """WITH latest AS (
        |  SELECT user_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT event_type, count(*) AS n_users,
        |  CAST(sum(cents) AS BIGINT) AS sum_latest_cents
        |FROM latest WHERE rn = 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q87_islands_gaps" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |isl AS (
        |  SELECT user_id, day - CAST(row_number() OVER (
        |    PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
        |  FROM days),
        |g AS (SELECT user_id, anchor, count(*) AS len
        |      FROM isl GROUP BY user_id, anchor)
        |SELECT user_id, count(*) AS n_streaks,
        |  CAST(max(len) AS BIGINT) AS longest_streak,
        |  CAST(sum(len) AS BIGINT) AS n_active_days
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q85_cumulative_uniques" ->
      """WITH firsts AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS day
        |  FROM events GROUP BY user_id)
        |SELECT day, count(*) AS new_users,
        |  CAST(sum(count(*)) OVER (ORDER BY day) AS BIGINT) AS cum_users
        |FROM firsts GROUP BY day ORDER BY day""".stripMargin,
    "q84_sql_udf" ->
      """SELECT l_returnflag AS grp, count(*) AS n,
        | CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |   AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem GROUP BY l_returnflag ORDER BY grp""".stripMargin,
    "q83_null_safe_join" ->
      """WITH facts AS (
        |  SELECT nullif(o_orderkey % 10, 7) AS k, o_totalprice FROM orders),
        |dim AS (
        |  SELECT dk, 'bucket_' || CAST(coalesce(dk, -1) AS VARCHAR) AS label
        |  FROM (SELECT DISTINCT k AS dk FROM facts))
        |SELECT label, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_cents
        |FROM facts JOIN dim ON facts.k IS NOT DISTINCT FROM dim.dk
        |GROUP BY label ORDER BY label""".stripMargin,
    "q82_merge_upsert" ->
      """WITH mx AS (SELECT max(c_custkey) AS mxk FROM customer),
        |changes AS (
        |  SELECT c_custkey AS k, c_acctbal + 100 AS new_bal, 'update' AS op,
        |         CAST(NULL AS VARCHAR) AS new_seg
        |  FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0
        |  UNION ALL
        |  SELECT c_custkey, NULL, 'delete', NULL
        |  FROM customer WHERE c_custkey % 11 = 0
        |  UNION ALL
        |  SELECT mxk + i, 500.0, 'insert', 'NEW'
        |  FROM mx, UNNEST(range(1, 6)) AS t(i)),
        |merged AS (
        |  SELECT CASE WHEN ch.op IN ('update','insert') THEN ch.new_bal
        |              ELSE c.c_acctbal END AS bal,
        |    coalesce(c.c_mktsegment, ch.new_seg) AS seg
        |  FROM customer c FULL OUTER JOIN changes ch ON c.c_custkey = ch.k
        |  WHERE ch.op IS NULL OR ch.op <> 'delete')
        |SELECT seg, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(round(bal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_cents
        |FROM merged GROUP BY seg ORDER BY seg""".stripMargin,
    "q80_group_by_all" ->
      """SELECT l_returnflag AS grp, l_linestatus AS status,
        | count(*) AS cnt,
        | CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin,
    "q78_setops_all" ->
      """SELECT 'intersect_all' AS op, count(*) AS n FROM (
        |  SELECT c_nationkey AS k FROM customer
        |  INTERSECT ALL SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'except_all', count(*) FROM (
        |  SELECT c_nationkey FROM customer
        |  EXCEPT ALL SELECT s_nationkey FROM supplier)
        |ORDER BY op""".stripMargin,
    "q79_try_arithmetic" ->
      """SELECT l_returnflag AS grp, count(*) AS n,
        | CAST(count(CASE WHEN l_discount <> 0 THEN 1 END) AS BIGINT)
        |   AS n_divisible,
        | CAST(sum(CASE WHEN l_discount <> 0 THEN
        |   CAST(round(l_extendedprice * 100) AS BIGINT)
        |   * (2520 // CAST(round(l_discount * 100) AS BIGINT)) END)
        |   AS BIGINT) AS sum_ratio_u2520
        |FROM lineitem GROUP BY grp ORDER BY grp""".stripMargin,
    "q77_scd2" ->
      """WITH o AS (SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events),
        |chg AS (SELECT user_id, event_id, ts, event_type FROM o
        |        WHERE prev IS NULL OR event_type <> prev),
        |scd AS (SELECT user_id, event_type, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS valid_to
        |  FROM chg)
        |SELECT user_id, count(*) AS n_versions,
        |  CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_open,
        |  CAST(sum(date_diff('second', valid_from,
        |    coalesce(valid_to, valid_from))) AS BIGINT) AS total_sec
        |FROM scd GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q76_xml_ingest" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(user_id) AS BIGINT) AS sum_u,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q75_densify" ->
      """WITH days AS (SELECT CAST(unnest(generate_series(DATE '1996-01-01',
        |    DATE '1996-01-31', INTERVAL 1 DAY)) AS DATE) AS d),
        |grps AS (SELECT DISTINCT l_returnflag AS grp FROM lineitem),
        |daily AS (SELECT l_returnflag AS grp, CAST(l_shipdate AS DATE) AS d,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS rev_cents,
        |    count(*) AS n
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1996-01-01'
        |    AND l_shipdate <= DATE '1996-01-31'
        |  GROUP BY grp, d)
        |SELECT g.grp AS grp, days.d AS d,
        |  coalesce(daily.rev_cents, 0) AS rev_cents,
        |  coalesce(daily.n, 0) AS n
        |FROM grps g CROSS JOIN days
        |LEFT JOIN daily ON daily.grp = g.grp AND daily.d = days.d
        |ORDER BY g.grp, days.d""".stripMargin,
    "q74_funnel" ->
      """WITH a AS (SELECT user_id, event_type, ts,
        |   min(CASE WHEN event_type = 'click' THEN ts END)
        |     OVER (PARTITION BY user_id) AS t_click FROM events),
        |b AS (SELECT *,
        |   min(CASE WHEN event_type = 'view' AND ts > t_click
        |     AND ts <= t_click + INTERVAL 6 HOUR THEN ts END)
        |   OVER (PARTITION BY user_id) AS t_view FROM a),
        |c AS (SELECT *,
        |   min(CASE WHEN event_type = 'purchase' AND ts > t_view
        |     AND ts <= t_view + INTERVAL 24 HOUR THEN ts END)
        |   OVER (PARTITION BY user_id) AS t_purchase FROM b),
        |u AS (SELECT user_id, max(t_click) AS t1, max(t_view) AS t2,
        |      max(t_purchase) AS t3 FROM c GROUP BY user_id)
        |SELECT count(*) AS n_users, count(t1) AS n_click,
        |  count(t2) AS n_click_view, count(t3) AS n_full_funnel
        |FROM u""".stripMargin,
    "q73_fill_forward" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |f AS (SELECT user_id, k,
        |    last_value(k IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k_filled
        |  FROM e)
        |SELECT user_id, count(*) AS n_events, count(k) AS n_k_present,
        |  count(k_filled) AS n_k_filled,
        |  CAST(sum(k_filled) AS BIGINT) AS sum_k_filled
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q69_cume_dist" ->
      """SELECT prio, mnth, cnt,
        | round(cume_dist() OVER (PARTITION BY prio ORDER BY cnt, mnth), 4)
        |   AS cd,
        | round(cnt / sum(cnt) OVER (PARTITION BY prio), 4) AS share
        |FROM (SELECT o_orderpriority AS prio, month(o_orderdate) AS mnth,
        |        count(*) AS cnt
        |      FROM orders GROUP BY prio, mnth)
        |ORDER BY prio, mnth""".stripMargin,
    "q70_bitwise_agg" ->
      """SELECT l_returnflag AS grp, bit_and(l_partkey) AS band,
        | bit_or(l_partkey) AS bor, bit_xor(l_partkey) AS bxor,
        | count(*) AS cnt
        |FROM lineitem GROUP BY grp ORDER BY grp""".stripMargin,
    "q71_histogram" ->
      """SELECT CAST(CASE WHEN o_totalprice >= 600000 THEN 13
        |   WHEN o_totalprice < 0 THEN 0
        |   ELSE floor(o_totalprice / 50000) + 1 END AS BIGINT) AS bucket,
        | count(*) AS cnt
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q72_regression_agg" ->
      """SELECT l_returnflag AS grp,
        | round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        | round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
        | round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
        | CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        |FROM lineitem GROUP BY grp ORDER BY grp""".stripMargin)
}
