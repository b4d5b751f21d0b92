package graft.operators

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Extended relational surface (SURVEY §2 q44–q53): array/explode ops,
  * full grouping-set coverage, regexp extraction, conditional aggregation,
  * statistical moments, range joins, window frames, and skew-mitigated
  * joins. Everything a Hive user has in the dialect beyond what the
  * reference's own queries touch (ref uses only groupBy/window/CASE;
  * these complete the surface).
  *
  * Scale notes (100 TB):
  *  - q44 top-k tokens: global ORDER BY + LIMIT compiles to
  *    TakeOrderedAndProject — a per-partition k-heap, merged on the driver;
  *    no global sort, no single-task window.
  *  - q49 range join: Spark would plan a no-equality interval join as
  *    BroadcastNestedLoop (fine for a tiny interval side, quadratic when
  *    both sides are big). The scale shape here EXPANDS each interval into
  *    the hour buckets it covers and equi-joins on the bucket — shuffle is
  *    O(events + interval-hours) and each event lands in exactly one
  *    bucket, so no post-join dedup is needed.
  *  - q53 salted join: a hot probe-side key (power-law user) overloads one
  *    reducer in a plain shuffle join. Deterministic salt on the probe side
  *    + build-side replication ×S splits each hot key across S reducers.
  *    Same result set as the unsalted join (the oracle proves it); AQE skew
  *    splitting does this adaptively, salting is the explicit guarantee.
  */
object Extended {

  private def tokensExpr = graft.functions.exprs.wsTokensSql

  /** q44 — explode tokens + global top-20 by frequency. TakeOrdered plan:
    * per-partition heap, no full sort. */
  def q44(t: Tables): DataFrame =
    t.documents
      .select(explode(expr(tokensExpr)).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(20)

  /** q45 — CUBE grouping sets with grouping_id disambiguation. */
  def q45(t: Tables): DataFrame =
    t.lineitem
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr("cast(round(l_quantity) as bigint)")).as("sum_qty"),
        grouping_id().cast("long").as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("grp"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("gid"), col("cnt"), col("sum_qty"))
      .orderBy("gid", "grp", "status")

  /** q46 — regexp group extraction (digits out of `source`) + aggregate
    * over the extracted key. Codegen'd regexp, map-only before the agg. */
  def q46(t: Tables): DataFrame =
    t.documents
      .select(
        // try_cast, not cast: a digitless `source` extracts '' and a bare
        // CAST('' AS BIGINT) THROWS under Spark 4's default ANSI mode —
        // per-row tolerance is the only operable semantics at scale
        expr("try_cast(regexp_extract(source, '([0-9]+)', 1) AS BIGINT)")
          .as("src_num"),
        col("n_chars"))
      .groupBy((col("src_num") % 5).as("src_mod"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        max(col("src_num")).as("max_src"))
      .orderBy("src_mod")

  /** q47 — conditional aggregation: FILTER-style counts, conditional avg,
    * bool_and/bool_or — one pass, no self-joins. */
  def q47(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_returnflag").as("grp"))
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("l_quantity") > 25, 1)).as("n_high_qty"),
        round(avg(when(col("l_tax") > 0, col("l_discount"))), 4).as("avg_disc_taxed"),
        bool_and(col("l_extendedprice") > 0).as("all_price_pos"),
        bool_or(col("l_tax") === 0).as("any_tax_zero"))
      .orderBy("grp")

  /** q48 — statistical moments per group: sample/population stddev &
    * variance, covariance, correlation. All mergeable one-pass aggregates
    * (partial moment sums combine associatively across partitions). */
  def q48(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_returnflag").as("grp"))
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_pop(col("l_discount")), 6).as("var_disc"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qty_disc"),
        round(corr(col("l_quantity"), col("l_tax")), 6).as("corr_qty_tax"))
      .orderBy("grp")

  /** q49 — range (interval) join with NO equality key: events vs derived
    * maintenance windows. Scale shape: each interval explodes into its
    * hour buckets, events carry their hour bucket, and the join is a plain
    * equi-join on the bucket + exact range refinement — no nested-loop,
    * no dedup (hour buckets partition the timeline). */
  def q49(t: Tables): DataFrame = {
    val ev = t.events
      .select(col("ts"), col("value"), date_trunc("hour", col("ts")).as("hr"))
    val ivals = t.events
      .select(date_trunc("day", col("ts")).as("day")).distinct()
      .selectExpr(
        "cast(day(day) as bigint) as interval_id",
        "day + make_interval(0, 0, 0, 0, day(day) % 5, 0, 0) as start_ts",
        "day + make_interval(0, 0, 0, 0, day(day) % 5 + 12 + day(day) % 7, 0, 0) as end_ts")
    val expanded = ivals.withColumn("hr", explode(expr(
      "sequence(date_trunc('hour', start_ts), date_trunc('hour', end_ts), interval 1 hour)")))
    ev.join(expanded, Seq("hr"))
      .filter(col("ts") >= col("start_ts") && col("ts") < col("end_ts"))
      .groupBy("interval_id")
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"))
      .orderBy("interval_id")
  }

  /** q50 — array-function suite over document tokens: contains, position,
    * distinct size, overlap, sorted prefix. All codegen'd built-ins. */
  def q50(t: Tables): DataFrame =
    t.documents
      .withColumn("toks", expr(tokensExpr))
      .select(
        col("doc_id"),
        array_contains(col("toks"), "the").as("has_the"),
        array_position(col("toks"), "the").cast("long").as("pos_the"),
        size(array_distinct(col("toks"))).cast("long").as("n_unique"),
        arrays_overlap(col("toks"), array(lit("spark"), lit("hive"))).as("mentions_engine"),
        concat_ws(" ", slice(array_sort(col("toks")), 1, 3)).as("first3_sorted"))
      .orderBy("doc_id")

  /** q51 — explicit GROUPING SETS through the SQL API (row-level subtotals
    * by returnflag, by linestatus, and grand total). */
  def q51(t: Tables): DataFrame = {
    t.registerViews()
    t.spark.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS grp,
        | coalesce(l_linestatus, 'ALL') AS status,
        | count(*) AS cnt,
        | sum(CAST(round(l_tax * 100) AS BIGINT)) AS sum_tax_e2
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY grp, status""".stripMargin)
  }

  /** q52 — window-frame suite: first_value / nth_value over the full
    * partition frame, and a RANGE frame (orders within 1000 price units
    * below the current row). SQL API — frames are the dialect's surface. */
  def q52(t: Tables): DataFrame = {
    t.registerViews()
    t.spark.sql(
      """SELECT o_custkey, o_orderkey, o_totalprice,
        | first_value(o_orderkey) OVER w1 AS best_order,
        | nth_value(o_orderkey, 2) OVER w1 AS second_order,
        | cast(count(*) OVER w2 AS BIGINT) AS n_within_1000_below
        |FROM orders WHERE o_custkey < 30
        |WINDOW
        | w1 AS (PARTITION BY o_custkey
        |        ORDER BY o_totalprice DESC, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
        | w2 AS (PARTITION BY o_custkey ORDER BY o_totalprice
        |        RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
  }

  /** q53 — skew-mitigated (salted) join: deterministic salt on the probe
    * side, build side replicated ×S, equi-join on (key, salt). Result is
    * identical to the plain join — the oracle runs the unsalted SQL. */
  def q53(t: Tables): DataFrame = {
    val S = 8
    val ev = t.events
      .withColumn("e_salt", pmod(xxhash64(col("event_id")), lit(S)).cast("int"))
    val cust = t.customer
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("c_salt", explode(array((0 until S).map(lit(_)): _*)))
    ev.join(cust,
        col("user_id") === col("c_custkey") && col("e_salt") === col("c_salt"))
      .groupBy(col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"))
      .orderBy("seg")
  }

  /** q54 — exact median per group (Spark's median = exact
    * percentile_cont(0.5); needs the group's values — the approximate
    * sketch q34 is the 100 TB path, this is the exact small-group path). */
  def q54(t: Tables): DataFrame =
    t.events
      .groupBy(col("event_type"))
      .agg(
        round(median(col("value")), 4).as("med_value"),
        round(avg(col("value")), 4).as("avg_value"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** q55 — typed JSON parsing: from_json with an explicit schema (the
    * scale path over q32's per-path get_json_object — one parse per row,
    * all fields out, nulls for shape mismatches). */
  def q55(t: Tables): DataFrame =
    t.events
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** q56 — IN / NOT IN subqueries through the SQL API: distinct from
    * EXISTS (q22/q23) because NOT IN is null-sensitive (any NULL in the
    * subquery empties the result under three-valued logic). Spark plans
    * these as left-semi / null-aware anti joins; the null-aware path is
    * exercised with a guarded subquery. */
  def q56(t: Tables): DataFrame = {
    t.registerViews()
    t.spark.sql(
      """SELECT
        | (SELECT count(*) FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                      WHERE c_mktsegment = 'BUILDING')) AS n_in,
        | (SELECT count(*) FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
        |                          WHERE c_mktsegment = 'BUILDING'
        |                            AND c_custkey IS NOT NULL)) AS n_not_in""".stripMargin)
  }

  /** q57 — UNPIVOT (melt): metric columns back to rows, the inverse of
    * q29's pivot. Map-only row expansion, no shuffle beyond the agg. */
  def q57(t: Tables): DataFrame = {
    val agg = t.lineitem
      .groupBy(col("l_returnflag").as("grp"))
      .agg(
        sum(expr("cast(round(l_quantity) as bigint)")).as("sum_qty"),
        sum(expr("cast(round(l_tax * 100) as bigint)")).as("sum_tax_e2"),
        sum(expr("cast(round(l_discount * 100) as bigint)")).as("sum_disc_e2"))
    agg.unpivot(
        Array(col("grp")),
        Array(col("sum_qty"), col("sum_tax_e2"), col("sum_disc_e2")),
        "metric", "val")
      .orderBy("grp", "metric")
  }

  /** q58 — LATERAL correlated subquery in FROM: each customer's top order
    * (ORDER BY + LIMIT 1 per outer row). Spark de-correlates this to a
    * window rank under the hood — per-key top-1 with no per-row re-scan. */
  def q58(t: Tables): DataFrame = {
    t.registerViews()
    t.spark.sql(
      """SELECT c_custkey, t.o_orderkey AS top_order,
        | t.o_totalprice AS top_price
        |FROM customer, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
        |WHERE c_custkey < 100
        |ORDER BY c_custkey""".stripMargin)
  }

  /** q59 — exact DECIMAL aggregation: at 100 TB a float sum accumulates
    * rounding drift and is partition-order dependent; casting the measure
    * to DECIMAL makes the sum exact, associative, and bit-stable across
    * any partitioning (decimal partials are mergeable integers).
    *
    * The RESULT columns are scaled-integer BIGINT (cents / 1e-4 units),
    * not DECIMAL: Spark writes DECIMAL(38,x) parquet as decimal128
    * fixed-len byte arrays while DuckDB's is HUGEINT-backed, so a typed
    * hash over the physical representation diverges even when every
    * value is identical. int64 is the one representation both engines
    * cannot disagree on; the decimal arithmetic stays internal. */
  def q59(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_returnflag").as("grp"))
      .agg(
        (sum(col("l_extendedprice").cast("decimal(18,2)")) * lit(100))
          .cast("bigint").as("revenue_cents"),
        (sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")) * lit(10000))
          .cast("bigint").as("discounted_e4"),
        count(lit(1)).as("cnt"))
      .orderBy("grp")

  /** q60 — safe casting: try_cast returns NULL on malformed input instead
    * of failing the task (ANSI mode) or silently corrupting (legacy).
    * At 100 TB some rows WILL be malformed; per-row error tolerance with
    * null accounting is the only operable semantics. */
  def q60(t: Tables): DataFrame =
    t.documents
      .select(
        col("source"),
        expr("try_cast(source AS BIGINT)").as("as_num"),
        expr("try_cast(regexp_extract(source, '([0-9]+)', 1) AS BIGINT)")
          .as("src_num"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("as_num")).as("n_whole_numeric"),
        count(col("src_num")).as("n_digit_extract"),
        sum(col("src_num")).as("sum_src"))

  /** q62 — rolling time-window aggregate: 7-day moving revenue via a
    * RANGE frame with an INTERVAL bound over the date ordering. Runs on
    * the per-(group, day) aggregate, so the window input is ~groups×days
    * rows, never raw data. Revenue is DECIMAL so the sliding-frame sums
    * are exact and engine-identical (float frame sums differ in the last
    * ulp between sliding and recompute implementations). */
  def q62(t: Tables): DataFrame = {
    t.registerViews()
    // Result columns are BIGINT cents (see q59's scaladoc): the sliding
    // RANGE-frame sums run in exact DECIMAL internally, then scale to
    // int64 so the physical output representation is engine-identical.
    t.spark.sql(
      """SELECT grp, d, CAST(rev * 100 AS BIGINT) AS rev_cents,
        | CAST(sum(rev) OVER (PARTITION BY grp ORDER BY d
        |   RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
        |   * 100 AS BIGINT) AS rev_7d_cents
        |FROM (
        |  SELECT l_returnflag AS grp, CAST(l_shipdate AS DATE) AS d,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        |  FROM lineitem
        |  WHERE year(l_shipdate) = 1996 AND month(l_shipdate) <= 2
        |  GROUP BY grp, d)
        |ORDER BY grp, d""".stripMargin)
  }

  /** q63 — full outer join with null-side accounting: users with events
    * vs customers with orders, classifying rows into both/left-only/
    * right-only. Completes the join-type surface (inner q21, semi q22,
    * anti q23, lateral q58, asof q33, range q49, salted q53). */
  def q63(t: Tables): DataFrame = {
    val ev = t.events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val ord = t.orders.filter(col("o_custkey") < 300)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    ev.join(ord, col("user_id") === col("o_custkey"), "full_outer")
      .select(
        when(col("user_id").isNotNull && col("o_custkey").isNotNull, "both")
          .when(col("user_id").isNotNull, "events_only")
          .otherwise("orders_only").as("side"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .groupBy("side")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("n_events")).as("sum_events"),
        sum(col("n_orders")).as("sum_orders"))
      .orderBy("side")
  }

  /** q64 — recursive CTE (Spark 4.x WITH RECURSIVE): walk the implicit
    * binary-tree hierarchy parent(c) = c div 2 from each customer to the
    * root, reporting depth and the ancestor-key path sum. The recursion
    * is iterative joins under the hood — depth is O(log key), bounded by
    * the engine's recursion limit; each iteration touches only the
    * frontier rows, so the work is rows × depth, not quadratic. */
  def q64(t: Tables): DataFrame = {
    t.registerViews()
    t.spark.sql(
      """WITH RECURSIVE chain(start_key, cur, depth) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey < 100
        |  UNION ALL
        |  SELECT start_key, cur div 2, depth + 1 FROM chain WHERE cur > 1
        |)
        |SELECT start_key, CAST(max(depth) AS BIGINT) AS depth_to_root,
        |       CAST(sum(cur) AS BIGINT) AS path_key_sum
        |FROM chain GROUP BY start_key ORDER BY start_key""".stripMargin)
  }

  /** q65 — VARIANT semi-structured access (Spark 4.x): parse each JSON
    * props payload ONCE into the binary VARIANT encoding, then extract
    * typed fields with variant_get. This is the modern scale path for
    * heterogeneous JSON (vs q32's per-path get_json_object, which
    * re-parses the string per path, and q55's from_json, which needs a
    * fixed schema up front): one parse, shredded binary access, schema
    * drift tolerated per row. */
  def q65(t: Tables): DataFrame = {
    t.events.createOrReplaceTempView("events_v")
    t.spark.sql(
      """SELECT event_type,
        | count(variant_get(v, '$.k', 'bigint')) AS n_with_k,
        | CAST(sum(variant_get(v, '$.k', 'bigint')) AS BIGINT) AS sum_k,
        | count(CASE WHEN variant_get(v, '$.k', 'bigint') > 50 THEN 1 END)
        |   AS n_k_gt50
        |FROM (SELECT event_type, parse_json(props) AS v FROM events_v)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** q66 — map-type function suite: build a per-user map of
    * event_type → count (map_from_entries over the grouped counts), then
    * read it back with map_keys/element_at. Maps are the Hive dialect's
    * other collection type (arrays are q50); the aggregation is two hash
    * aggs sharing the user_id partitioning, and the map stays small
    * (distinct event types per user), never a scale risk. The oracle
    * computes the same VALUES without maps — the check is semantic. */
  def q66(t: Tables): DataFrame =
    t.events
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("user_id")
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("event_type"), col("cnt"))))).as("m"))
      .select(
        col("user_id"),
        size(map_keys(col("m"))).cast("long").as("n_types"),
        coalesce(element_at(col("m"), "click"), lit(0L)).as("n_clicks"),
        coalesce(element_at(col("m"), "purchase"), lit(0L)).as("n_purchases"))
      .orderBy("user_id")

  /** q67 — approx_top_k heavy-hitter sketch (Spark 4.x): the mergeable
    * fixed-size sketch path for "top categories" at scale — one pass,
    * partial sketches merge associatively, memory bounded by the tracked
    * item count regardless of input rows (vs q44's exact groupBy top-k,
    * whose hash table grows with cardinality). With maxItemsTracked ≥
    * the column's distinct count the sketch is EXACT, so the result is
    * oracle-checkable against a plain GROUP BY. */
  def q67(t: Tables): DataFrame =
    t.orders
      .agg(expr("approx_top_k(o_orderpriority, 5, 100)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("priority"), col("e.count").cast("long").as("cnt"))
      .orderBy("priority")

  /** q68 — ordered string aggregation (Spark 4.x listagg / ISO
    * LISTAGG ... WITHIN GROUP): collapse each customer's order
    * priorities into one deterministic ordered string. The WITHIN GROUP
    * ordering is what makes the result reproducible across partitionings
    * (an unordered string_agg is partition-order dependent and could
    * never be oracle-checked). */
  def q68(t: Tables): DataFrame = {
    t.registerViews()
    t.spark.sql(
      """SELECT o_custkey,
        | listagg(DISTINCT o_orderpriority, '|')
        |   WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
        | count(*) AS n_orders
        |FROM orders WHERE o_custkey < 200
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
  }

  /** q92 — higher-order array functions as the per-row compute surface:
    * `aggregate` (fold), `filter`, `exists`, `forall`, `zip_with` +
    * `sequence` over each order's sorted quantity array. HOFs are the
    * scale-correct way to run per-row array logic — the lambda executes
    * INSIDE whole-stage codegen against the array bytes (no UDF
    * serialization boundary, no per-element row explosion through a
    * shuffle). The array is built per order (collect_list bounded by
    * lines-per-order, ~7), sorted for determinism, then every HOF result
    * is integer-exact; the final rollup keys on order size so the result
    * stays O(max lines per order) rows at any corpus size. The
    * position-weighted fold (zip_with × sequence) is well-defined under
    * duplicate quantities: equal values swap positions only among equal
    * contributions. Oracle: DuckDB computes the same values relationally
    * (row_number over the sorted-by-value stream), proving the HOF stack
    * against an engine with no shared lambda machinery. */
  def q92(t: Tables): DataFrame =
    t.lineitem
      .select(col("l_orderkey"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("qty"))).as("qtys"))
      .select(
        size(col("qtys")).cast("long").as("n_items"),
        expr("aggregate(qtys, 0L, (acc, x) -> acc + x)").as("sum_qty"),
        expr("cast(size(filter(qtys, x -> x > 25)) as long)").as("n_big"),
        expr("exists(qtys, x -> x = 50)").as("has_max"),
        expr("forall(qtys, x -> x > 0)").as("all_pos"),
        expr("""aggregate(
                  zip_with(qtys, sequence(1L, cast(size(qtys) as long)),
                           (x, i) -> x * i),
                  0L, (acc, y) -> acc + y)""").as("idx_weighted"))
      .groupBy("n_items")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("sum_qty")).as("total_qty"),
        sum(col("n_big")).as("total_big"),
        count(when(col("has_max"), 1)).as("n_has_max"),
        count(when(col("all_pos"), 1)).as("n_all_pos"),
        sum(col("idx_weighted")).as("total_idx_weighted"))
      .orderBy("n_items")

  val queries: Map[String, Tables => DataFrame] = Map(
    "q92_hof_suite" -> q92,
    "q68_listagg" -> q68,
    "q67_approx_topk" -> q67,
    "q66_map_funcs" -> q66,
    "q65_variant_json" -> q65,
    "q64_recursive_cte" -> q64,
    "q59_decimal_agg" -> q59,
    "q60_try_cast" -> q60,
    "q62_rolling_window" -> q62,
    "q63_outer_join" -> q63,
    "q57_unpivot" -> q57,
    "q58_lateral" -> q58,
    "q54_median" -> q54,
    "q55_json_typed" -> q55,
    "q56_in_subquery" -> q56,
    "q44_explode_topk" -> q44,
    "q45_cube" -> q45,
    "q46_regexp_extract" -> q46,
    "q47_conditional_agg" -> q47,
    "q48_stats_suite" -> q48,
    "q49_range_join" -> q49,
    "q50_array_funcs" -> q50,
    "q51_grouping_sets" -> q51,
    "q52_window_frames" -> q52,
    "q53_salted_join" -> q53)

  val oracles: Map[String, String] = Map(
    // relational twin of the HOF stack: row_number over the value-sorted
    // per-order stream reproduces the sorted-array fold exactly (the
    // position-weighted sum is permutation-invariant among equal values)
    "q92_hof_suite" ->
      """WITH s AS (
        |  SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty,
        |    row_number() OVER (PARTITION BY l_orderkey
        |                       ORDER BY CAST(l_quantity AS BIGINT)) AS i
        |  FROM lineitem),
        |o AS (
        |  SELECT l_orderkey,
        |    count(*) AS n_items,
        |    sum(qty) AS sum_qty,
        |    count(CASE WHEN qty > 25 THEN 1 END) AS n_big,
        |    bool_or(qty = 50) AS has_max,
        |    bool_and(qty > 0) AS all_pos,
        |    sum(qty * i) AS idx_weighted
        |  FROM s GROUP BY l_orderkey)
        |SELECT CAST(n_items AS BIGINT) AS n_items,
        |  count(*) AS n_orders,
        |  CAST(sum(sum_qty) AS BIGINT) AS total_qty,
        |  CAST(sum(n_big) AS BIGINT) AS total_big,
        |  count(CASE WHEN has_max THEN 1 END) AS n_has_max,
        |  count(CASE WHEN all_pos THEN 1 END) AS n_all_pos,
        |  CAST(sum(idx_weighted) AS BIGINT) AS total_idx_weighted
        |FROM o GROUP BY n_items ORDER BY n_items""".stripMargin,
    "q68_listagg" ->
      """SELECT o_custkey,
        | string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority)
        |   AS priorities,
        | count(*) AS n_orders
        |FROM orders WHERE o_custkey < 200
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q67_approx_topk" ->
      """SELECT o_orderpriority AS priority, count(*) AS cnt
        |FROM orders GROUP BY priority ORDER BY priority""".stripMargin,
    // the oracle reproduces q66's VALUES without map functions (DuckDB
    // map extraction semantics differ across versions; the semantic
    // content — per-user type counts — is engine-neutral)
    "q66_map_funcs" ->
      """SELECT user_id,
        | count(DISTINCT event_type) AS n_types,
        | CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END), 0)
        |   AS BIGINT) AS n_clicks,
        | CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END), 0)
        |   AS BIGINT) AS n_purchases
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q65_variant_json" ->
      """SELECT event_type,
        | count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |   AS BIGINT) AS sum_k,
        | count(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
        |   THEN 1 END) AS n_k_gt50
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q64_recursive_cte" ->
      """WITH RECURSIVE chain(start_key, cur, depth) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey < 100
        |  UNION ALL
        |  SELECT start_key, cur // 2, depth + 1 FROM chain WHERE cur > 1
        |)
        |SELECT start_key, CAST(max(depth) AS BIGINT) AS depth_to_root,
        |       CAST(sum(cur) AS BIGINT) AS path_key_sum
        |FROM chain GROUP BY start_key ORDER BY start_key""".stripMargin,
    "q63_outer_join" ->
      """SELECT CASE WHEN user_id IS NOT NULL AND o_custkey IS NOT NULL
        |   THEN 'both'
        |   WHEN user_id IS NOT NULL THEN 'events_only'
        |   ELSE 'orders_only' END AS side,
        | count(*) AS n_keys,
        | CAST(sum(coalesce(n_events, 0)) AS BIGINT) AS sum_events,
        | CAST(sum(coalesce(n_orders, 0)) AS BIGINT) AS sum_orders
        |FROM (SELECT user_id, count(*) AS n_events FROM events
        |      GROUP BY user_id) e
        |FULL OUTER JOIN
        |     (SELECT o_custkey, count(*) AS n_orders FROM orders
        |      WHERE o_custkey < 300 GROUP BY o_custkey) o
        |  ON user_id = o_custkey
        |GROUP BY side ORDER BY side""".stripMargin,
    "q62_rolling_window" ->
      """SELECT grp, d, CAST(rev * 100 AS BIGINT) AS rev_cents,
        | CAST(sum(rev) OVER (PARTITION BY grp ORDER BY d
        |   RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
        |   * 100 AS BIGINT) AS rev_7d_cents
        |FROM (
        |  SELECT l_returnflag AS grp, CAST(l_shipdate AS DATE) AS d,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        |  FROM lineitem
        |  WHERE year(l_shipdate) = 1996 AND month(l_shipdate) <= 2
        |  GROUP BY grp, d)
        |ORDER BY grp, d""".stripMargin,
    "q60_try_cast" ->
      """SELECT count(*) AS n_rows,
        | count(TRY_CAST(source AS BIGINT)) AS n_whole_numeric,
        | count(TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT))
        |   AS n_digit_extract,
        | CAST(sum(TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT))
        |   AS BIGINT) AS sum_src
        |FROM documents""".stripMargin,
    "q59_decimal_agg" ->
      """SELECT l_returnflag AS grp,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |   * 100 AS BIGINT) AS revenue_cents,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |   * 10000 AS BIGINT) AS discounted_e4,
        | count(*) AS cnt
        |FROM lineitem GROUP BY grp ORDER BY grp""".stripMargin,
    "q57_unpivot" ->
      """WITH a AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |    CAST(sum(CAST(round(l_tax * 100) AS BIGINT)) AS BIGINT) AS sum_tax_e2,
        |    CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_disc_e2
        |  FROM lineitem GROUP BY grp)
        |SELECT grp, metric, val FROM (
        |  SELECT grp, 'sum_qty' AS metric, sum_qty AS val FROM a
        |  UNION ALL SELECT grp, 'sum_tax_e2', sum_tax_e2 FROM a
        |  UNION ALL SELECT grp, 'sum_disc_e2', sum_disc_e2 FROM a)
        |ORDER BY grp, metric""".stripMargin,
    "q58_lateral" ->
      """SELECT c_custkey, t.o_orderkey AS top_order,
        | t.o_totalprice AS top_price
        |FROM customer
        |JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t ON true
        |WHERE c_custkey < 100
        |ORDER BY c_custkey""".stripMargin,
    "q54_median" ->
      """SELECT event_type, round(median(value), 4) AS med_value,
        | round(avg(value), 4) AS avg_value, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q56_in_subquery" ->
      """SELECT
        | (SELECT count(*) FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                      WHERE c_mktsegment = 'BUILDING')) AS n_in,
        | (SELECT count(*) FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
        |                          WHERE c_mktsegment = 'BUILDING'
        |                            AND c_custkey IS NOT NULL)) AS n_not_in""".stripMargin,
    "q55_json_typed" ->
      """SELECT event_type,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |   AS BIGINT) AS sum_k,
        | min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        | max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q44_explode_topk" ->
      raw"""SELECT token, cnt FROM (
         |  SELECT token, count(*) AS cnt FROM (
         |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
         |    FROM documents)
         |  GROUP BY token)
         |ORDER BY cnt DESC, token LIMIT 20""".stripMargin,
    "q45_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS grp,
        | coalesce(l_linestatus, 'ALL') AS status,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        | count(*) AS cnt,
        | CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, grp, status""".stripMargin,
    "q46_regexp_extract" ->
      """SELECT TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) % 5 AS src_mod,
        | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | max(TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT)) AS max_src
        |FROM documents GROUP BY src_mod ORDER BY src_mod""".stripMargin,
    "q47_conditional_agg" ->
      """SELECT l_returnflag AS grp, count(*) AS n_total,
        | count(*) FILTER (l_quantity > 25) AS n_high_qty,
        | round(avg(l_discount) FILTER (l_tax > 0), 4) AS avg_disc_taxed,
        | bool_and(l_extendedprice > 0) AS all_price_pos,
        | bool_or(l_tax = 0) AS any_tax_zero
        |FROM lineitem GROUP BY grp ORDER BY grp""".stripMargin,
    "q48_stats_suite" ->
      """SELECT l_returnflag AS grp,
        | round(stddev_samp(l_quantity), 4) AS sd_qty,
        | round(var_pop(l_discount), 6) AS var_disc,
        | round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc,
        | round(corr(l_quantity, l_tax), 6) AS corr_qty_tax
        |FROM lineitem GROUP BY grp ORDER BY grp""".stripMargin,
    "q49_range_join" ->
      """WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
        |iv AS (SELECT CAST(date_part('day', day) AS BIGINT) AS interval_id,
        |  day + INTERVAL 1 HOUR * (date_part('day', day) % 5) AS start_ts,
        |  day + INTERVAL 1 HOUR * (date_part('day', day) % 5 + 12
        |                           + date_part('day', day) % 7) AS end_ts
        | FROM days)
        |SELECT interval_id, count(*) AS n_events,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_value_cents
        |FROM iv JOIN events e ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
        |GROUP BY interval_id ORDER BY interval_id""".stripMargin,
    "q50_array_funcs" ->
      raw"""SELECT doc_id,
         | list_contains(toks, 'the') AS has_the,
         | CAST(coalesce(list_position(toks, 'the'), 0) AS BIGINT) AS pos_the,
         | CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
         | len(list_intersect(toks, ['spark', 'hive'])) > 0 AS mentions_engine,
         | array_to_string(list_sort(toks)[1:3], ' ') AS first3_sorted
         |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "q51_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS grp,
        | coalesce(l_linestatus, 'ALL') AS status,
        | count(*) AS cnt,
        | CAST(sum(CAST(round(l_tax * 100) AS BIGINT)) AS BIGINT) AS sum_tax_e2
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY grp, status""".stripMargin,
    "q52_window_frames" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        | first_value(o_orderkey) OVER w1 AS best_order,
        | nth_value(o_orderkey, 2) OVER w1 AS second_order,
        | CAST(count(*) OVER w2 AS BIGINT) AS n_within_1000_below
        |FROM orders WHERE o_custkey < 30
        |WINDOW
        | w1 AS (PARTITION BY o_custkey
        |        ORDER BY o_totalprice DESC, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
        | w2 AS (PARTITION BY o_custkey ORDER BY o_totalprice
        |        RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    "q53_salted_join" ->
      """SELECT c_mktsegment AS seg, count(*) AS n_events,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_value_cents
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY seg ORDER BY seg""".stripMargin)
}
