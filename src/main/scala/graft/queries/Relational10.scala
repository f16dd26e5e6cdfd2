package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Tenth tranche — the two product-analytics staples every events
  * table eventually answers: WITHIN-SESSION funnels (q58) and cohort
  * retention (q59).
  */
object Relational10 {

  /** twoLevelRank's tiny offset cache outlives its builder (results
    * are lazy plans over it), under the [[graft.core.CacheReleases]]
    * contract.
    */
  private val releases = new graft.core.CacheReleases
  def releaseCaches(): Unit = releases.releaseAll()

  /** Sessionized funnel: q40's ordered-stage logic scoped to st02's
    * 30-minute-gap sessions — "did the user view → click → purchase
    * WITHIN one visit", the form product analytics actually asks (a
    * purchase three days after a view is not that view's conversion).
    * Stage 1: tag each event with its session ordinal (one user
    * exchange, the st02/q44 window idiom). Stage 2: per session, the q40
    * conditional-min chain — first view, first click AFTER that view,
    * first purchase AFTER that click — then one tiny count by funnel
    * depth. Two partial-aggable shuffles total (user, then
    * user×session), both on the session key domain.
    */
  def q58SessionFunnel(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessioned = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("new_session",
        when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
          > 30L * 60 * 1000000, 1L).otherwise(
          when(lag(col("ts"), 1).over(w).isNull, 1L).otherwise(0L)))
      .withColumn("session_id", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val funnel = sessioned.groupBy(col("user_id"), col("session_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("v"),
        collect_list(struct(col("ts"), col("event_type"))).as("evs"))
    // conditional-min chain over the in-row session events (sessions
    // are minutes long — tiny arrays; the heavy grouping stays in the
    // aggregation above)
    val staged = funnel
      .withColumn("c", expr(
        "array_min(transform(filter(evs, e -> e.event_type = 'click' AND v IS NOT NULL AND e.ts > v), e -> e.ts))"))
      .withColumn("p", expr(
        "array_min(transform(filter(evs, e -> e.event_type = 'purchase' AND c IS NOT NULL AND e.ts > c), e -> e.ts))"))
      .select(
        when(col("p").isNotNull, 3L)
          .when(col("c").isNotNull, 2L)
          .when(col("v").isNotNull, 1L)
          .otherwise(0L).as("depth"))
    staged.groupBy(col("depth")).agg(count(lit(1)).as("n_sessions"))
  }

  /** Cohort retention — THE events-table report: users grouped by
    * first-seen day (their cohort), and for each (cohort, day-offset)
    * the distinct users active that day. ONE events scan and ONE
    * user_id exchange: the per-user distinct day set is a partial-agg
    * `collect_set` whose size the calendar bounds (≤ 365 entries per
    * user-year — NOT event volume), cohort day is its minimum, and the
    * explode emits each (user, offset) exactly once — so the final
    * per-(cohort, offset) count needs no count-distinct machinery. The
    * earlier two-branch form (distinct user-day ⋈ per-user min) scanned
    * events twice and shuffled four times for the same answer; at
    * 100 TB the event scan is the dominant term and this halves it.
    */
  def q59CohortRetention(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("day"))).as("days"))
      .select(col("days")(0).as("cohort_day"), explode(col("days")).as("day"))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))

  /** UNPIVOT (long←wide reshaping) — the inverse of q38's pivot,
    * closing the reshaping pair: a wide per-priority table (one column
    * per order status, built by the same conditional aggregation q38
    * lowers to) is melted back to long form via `stack`, which plans
    * as a Generate — one narrow pass, no shuffle beyond the wide
    * table's own aggregation. NULL cells (absent combinations) are
    * dropped, matching the relational long form.
    */
  def q60Unpivot(s: SparkSession, d: String): DataFrame = {
    val wide = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum(col("o_totalprice")), 2))
    wide.select(col("o_orderpriority"),
        expr("stack(3, 'F', F, 'O', O, 'P', P) AS (o_orderstatus, total)"))
      .select(col("o_orderpriority"), col("o_orderstatus"), col("total"))
      .filter(col("total").isNotNull)
  }

  /** MAP-typed column functions — the one scalar-function family
    * (SURVEY §2.3 "array/map/json") not yet exercised: per priority,
    * build a status→total map from the grouped rows
    * (`map_from_entries` over `collect_list(struct)`), then read it
    * back with `element_at`/`map_keys`. Maps stay engine-internal
    * (the output is scalar per the oracle-comparison contract); the
    * shape is one partial-aggable shuffle and a narrow projection.
    */
  def q61MapFunctions(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(round(sum(col("o_totalprice")), 2).as("total"))
      .groupBy(col("o_orderpriority"))
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("o_orderstatus"), col("total")))))
        .as("m"))
      .select(col("o_orderpriority"),
        size(col("m")).cast("long").as("n_statuses"),
        element_at(col("m"), "F").as("total_f"),
        element_at(col("m"), "O").as("total_o"),
        coalesce(element_at(col("m"), "P"), lit(0.0)).as("total_p"),
        array_join(map_keys(col("m")), ",").as("statuses"))

  /** Distribution window functions — percent_rank / cume_dist /
    * ntile(4), the last window-function family §2.3 names that the
    * suite hadn't exercised. NOT implemented as
    * `Window.partitionBy(priority)`: five priority values would put
    * each priority's entire order stream through ONE task — the exact
    * unbounded-window liability p03 closed. Instead the p03 two-level
    * shape: value-range buckets from one min/max scan bound every
    * window partition (priority × 64 buckets); per-bucket counts roll
    * into a TINY cumulative-offset frame (≤ 5×64 rows, broadcast); the
    * global rank is bucket offset + bounded intra-bucket row_number.
    * Because bucketing is monotone in the order key, offset+intra
    * reproduces the total (o_totalprice, o_orderkey) order exactly,
    * and with a unique order key the SQL definitions collapse to
    * closed forms of (rank, N): percent_rank = (r−1)/(N−1), cume_dist
    * = r/N, ntile by the standard first-(N mod n)-tiles-get-one-extra
    * formula — asserted against DuckDB's native window functions.
    * Output is a deterministic 1% orderkey sample; the ranks are
    * computed over the FULL table first.
    */
  /** The two-level ranking core shared by q64/q65 (and exercised on
    * randomized tie-heavy frames by EngineSpec): input must carry
    * columns `g` (group) and `v` (order value) plus any tie-break
    * columns; output is the input plus a global per-group 1-based
    * `rnk` consistent with ORDER BY (v, tie...) and the group size
    * `n`. Monotone value-range buckets (64) bound every row_number
    * partition; the per-(g, bkt) offset frame is tiny and broadcast.
    * With no tie-break, ranks within equal values are arbitrary but
    * the VALUE at each rank is still the order statistic — exactly
    * what quantile interpolation needs. An all-equal group degrades
    * to one bucket (width floor 1e-9), still correct, and at scale
    * such a group is the same single-task hazard a direct window has
    * — the bucketing helps exactly when values spread.
    */
  private[graft] def twoLevelRank(df: DataFrame, tie: Seq[Column]): DataFrame =
    twoLevelRankAndSizes(df, tie)._1

  /** twoLevelRank plus its per-group size frame (g, n) — the tiny
    * per-(g, bkt) offset aggregate is computed ONCE (cached; it is
    * read by the ranked join and by any caller needing group sizes,
    * e.g. q65's quantile targets) so consumers do not re-scan the
    * input for a count the ranking machinery already produced.
    */
  private[graft] def twoLevelRankAndSizes(
      df: DataFrame, tie: Seq[Column]): (DataFrame, DataFrame) = {
    releaseCaches()
    val bounds = df.agg(min(col("v")).as("lo_v"), max(col("v")).as("hi_v"))
    val base = df.crossJoin(broadcast(bounds))
      .withColumn("bkt", least(lit(63L), floor(
        (col("v") - col("lo_v")) /
          ((col("hi_v") - col("lo_v")) / 64.0 + lit(1e-9))).cast("long")))
      .drop("lo_v", "hi_v")
    val wCum = Window.partitionBy(col("g")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("g"))
    // ≤ groups×64 rows — cached so the second reader costs nothing;
    // released with the module registry (Verify/harnesses clearCache
    // between queries anyway)
    val offs = base.groupBy(col("g"), col("bkt"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("off", sum(col("cnt")).over(wCum) - col("cnt"))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .select(col("g"), col("bkt"), col("off"), col("n"))
      .cache()
    releases.register(() => { offs.unpersist(); () })
    val wIn = Window.partitionBy(col("g"), col("bkt"))
      .orderBy(col("v") +: tie: _*)
    val ranked = base.join(broadcast(offs), Seq("g", "bkt"))
      .withColumn("rnk", col("off") + row_number().over(wIn))
      .drop("bkt", "off")
    (ranked, offs.groupBy(col("g")).agg(max(col("n")).as("n")))
  }

  /** percent_rank/cume_dist/ntile closed forms from (rnk, n) — shared
    * by q64 and the randomized spec. With a unique tie-break the SQL
    * peer groups are singletons, so these ARE the standard functions.
    */
  private[graft] def distributionCols(df: DataFrame): DataFrame =
    df.withColumn("pr", when(col("n") > 1,
        (col("rnk") - 1).cast("double") / (col("n") - 1).cast("double"))
        .otherwise(lit(0.0)))
      .withColumn("cd", col("rnk").cast("double") / col("n").cast("double"))
      .withColumn("tile4", expr(
        """CASE WHEN rnk <= (n DIV 4 + 1) * (n % 4)
                THEN (rnk - 1) DIV (n DIV 4 + 1) + 1
                ELSE n % 4 + (rnk - (n DIV 4 + 1) * (n % 4) - 1) DIV (n DIV 4) + 1
           END""").cast("long"))

  def q64DistributionRank(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderpriority").as("g"), col("o_totalprice").as("v"),
        col("o_orderkey"))
    distributionCols(twoLevelRank(o, Seq(col("o_orderkey"))))
      .filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), col("g").as("o_orderpriority"),
        col("pr"), col("cd"), col("tile4"))
  }

  /** Exact per-group quantiles (percentile_cont) at scale — the exact
    * sibling of q39's approx-with-rank-tolerance contract. Spark's own
    * `percentile` aggregate buffers EVERY value of the group in one
    * task (exact by memory); q64's two-level ranking makes the same
    * number distributed-exact instead: bounded-bucket ranks locate the
    * two order statistics each quantile interpolates between, the
    * broadcast join plucks exactly 2 rows per (group, p) out of the
    * ranked stream, and the interpolation v_lo + (v_hi−v_lo)·frac is
    * written EXPLICITLY on both engine and oracle side (identical IEEE
    * sequence — not each engine's internal percentile, which may
    * associate the formula differently). Ties need no tie-break: any
    * order within equal values yields the same value at every rank.
    * EngineSpec pins the result to Spark's own `percentile` aggregate,
    * proving the distributed rewrite computes the textbook definition.
    */
  def q65ExactQuantiles(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
    // 0-based rank; no tie-break needed — ties get an arbitrary order
    // but the VALUE at each rank is order-statistic-determined.
    // Group sizes come from the ranking machinery's own cached offset
    // aggregate — no second lineitem scan for a count it already took.
    val (ranked0, sizes) = twoLevelRankAndSizes(li, Seq.empty)
    val ranked = ranked0
      .withColumn("rk", col("rnk") - 1)
      .select(col("g"), col("v"), col("rk"))
    val targets = sizes
      .withColumn("p", explode(array(lit(0.25), lit(0.5), lit(0.75), lit(0.9))))
      .withColumn("pos", col("p") * (col("n") - 1).cast("double"))
      .withColumn("lo", floor(col("pos")).cast("long"))
      .withColumn("hi", ceil(col("pos")).cast("long"))
    ranked.as("rr").join(broadcast(targets.as("tt")),
        col("rr.g") === col("tt.g") &&
          (col("rk") === col("lo") || col("rk") === col("hi")))
      .groupBy(col("rr.g").as("l_returnflag"), col("p"), col("pos"), col("lo"))
      .agg(min(when(col("rk") === col("lo"), col("v"))).as("v_lo"),
        min(when(col("rk") === col("hi"), col("v"))).as("v_hi"))
      .select(col("l_returnflag"), col("p"),
        (col("v_lo") + (col("v_hi") - col("v_lo")) *
          (col("pos") - col("lo").cast("double"))).as("q"))
  }

  /** Correlated LATERAL subquery — the SQL-surface sibling of q16's
    * arg-max and q21's top-k: per region, the top-2 customers by
    * account balance, written as the `, LATERAL (... ORDER BY ...
    * LIMIT 2)` form users port from DuckDB/Postgres. Catalyst
    * DECORRELATES it (DecorrelateInnerQuery + RewriteLateralSubquery)
    * into the same join+window machinery q21 declares directly —
    * proving the engine accepts the declarative form AND plans it
    * distributed rather than re-executing the subquery per outer row
    * (the 100 TB difference between a lateral that works and one
    * that's a driver loop). Oracle is the definitionally-equal window
    * form under the unique (acctbal DESC, name) order.
    */
  def q66LateralTopk(s: SparkSession, d: String): DataFrame = {
    Tables.region(s, d).createOrReplaceTempView("region_lv")
    Tables.nation(s, d).createOrReplaceTempView("nation_lv")
    Tables.customer(s, d).createOrReplaceTempView("customer_lv")
    s.sql("""
      SELECT r.r_name, t.c_name, t.c_acctbal
      FROM region_lv r,
      LATERAL (
        SELECT c.c_name, c.c_acctbal
        FROM customer_lv c JOIN nation_lv n ON c.c_nationkey = n.n_nationkey
        WHERE n.n_regionkey = r.r_regionkey
        ORDER BY c.c_acctbal DESC, c.c_name
        LIMIT 2) t""")
  }

  /** TPC-H Q8-shaped market share: of all PROMO-part revenue sold to
    * EUROPE customers, the fraction supplied from one nation, by order
    * year — the conditional-share aggregation (numerator and
    * denominator in ONE pass, no second scan or self-join) over the
    * engine's deepest join tree: lineitem joined to part, supplier,
    * orders, customer, and nation TWICE (customer-side for the region
    * filter, supplier-side for the share condition).
    *
    * Scale shape: every dimension is broadcast (nation/region/part/
    * supplier are tiny; customer rides q04's documented choice), so
    * the only exchange in the plan is lineitem↔orders on orderkey —
    * one big-to-big hash join, with the part filter applied BEFORE
    * that shuffle (the broadcast semi-reduction prunes ~5/6 of
    * lineitem first). Sums round at 6dp — numerator/denominator are
    * each ~1e7, so partition-order float noise (≤1e-9 relative) never
    * reaches the compared digits.
    */
  def q67MarketShare(s: SparkSession, d: String): DataFrame = {
    val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).filter(col("p_type") === "PROMO")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d).as("n1")),
        col("c_nationkey") === col("n1.n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
        col("n1.n_regionkey") === col("r_regionkey"))
      .join(broadcast(Tables.nation(s, d).as("n2")),
        col("s_nationkey") === col("n2.n_nationkey"))
      .select(year(col("o_orderdate")).cast("long").as("o_year"),
        vol.as("vol"), col("n2.n_name").as("supp_nation"))
      .groupBy(col("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_3", col("vol")).otherwise(0.0)) /
          sum(col("vol")), 6).as("mkt_share"))
  }

  /** VARIANT ingestion — Spark 4's binary-encoded semi-structured
    * type, the at-scale successor to q19/q28's per-query JSON string
    * parsing: parse ONCE into VARIANT (a self-describing binary a
    * 100 TB pipeline would persist in parquet), then typed
    * variant_get path extraction at read time — no re-tokenizing the
    * JSON text per access, and shredded columnar storage when
    * written. The aggregation itself is the standard partial-agg
    * shuffle. Oracle: DuckDB's JSON extraction over the same props
    * strings produces the same typed values.
    */
  def q69VariantJson(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))

  /** SQL pipe syntax (`|>`) — Spark 4's linear query form (the
    * GoogleSQL pipe-operator surface), q66/q68/q69's sibling in the
    * modern-SQL family: scan |> filter |> aggregate |> post-filter |>
    * order, each stage reading top-to-bottom. Catalyst plans it
    * identically to the nested form — the pipes are pure surface —
    * so filters still push to the scan and the aggregate still
    * partial-aggregates; the oracle is the equivalent ANSI nesting.
    */
  def q70PipeSyntax(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_pv")
    s.sql("""
      FROM lineitem_pv
      |> WHERE l_shipdate < TIMESTAMP '1998-09-01'
      |> AGGREGATE round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
         GROUP BY l_returnflag, l_linestatus
      |> WHERE n_items > 10
      |> ORDER BY l_returnflag, l_linestatus""")
  }

  /** q71: GROUP BY ALL / ORDER BY ALL — Spark 4's dimension-inference
    * sugar (q68/q69/q70's sibling in the new-SQL-surface family):
    * every non-aggregate select item becomes a grouping key and the
    * full select list the sort key, so wide reporting queries stop
    * hand-maintaining their GROUP BY lists. Pure parser surface over
    * the same plan — the oracle is the explicit form, and the plan
    * still pushes the date filter to the scan and partial-aggregates
    * map-side exactly as the nested form does.
    */
  def q71GroupByAll(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_ga")
    s.sql("""
      SELECT l_returnflag, l_linestatus,
        round(sum(l_quantity), 2) AS sum_qty,
        round(avg(l_discount), 6) AS avg_disc,
        count(*) AS n_items
      FROM lineitem_ga
      WHERE l_shipdate < TIMESTAMP '1998-09-01'
      GROUP BY ALL
      ORDER BY ALL""")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q71_group_by_all" -> q71GroupByAll,
    "q70_pipe_syntax" -> q70PipeSyntax,
    "q69_variant_json" -> q69VariantJson,
    "q67_market_share" -> q67MarketShare,
    "q66_lateral_topk" -> q66LateralTopk,
    "q65_exact_quantiles" -> q65ExactQuantiles,
    "q64_distribution_rank" -> q64DistributionRank,
    "q61_map_functions" -> q61MapFunctions,
    "q60_unpivot" -> q60Unpivot,
    "q58_session_funnel" -> q58SessionFunnel,
    "q59_cohort_retention" -> q59CohortRetention)

  val oracles: Map[String, String] = Map(
    // the explicit form the ALL sugar infers
    "q71_group_by_all" ->
      """SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS n_items
         FROM lineitem
         WHERE l_shipdate < TIMESTAMP '1998-09-01'
         GROUP BY 1, 2
         ORDER BY 1, 2, 3, 4, 5""",
    // the equivalent ANSI nesting of the pipe chain
    "q70_pipe_syntax" ->
      """SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
         FROM lineitem
         WHERE l_shipdate < TIMESTAMP '1998-09-01'
         GROUP BY 1, 2
         HAVING count(*) > 10""",
    // same typed path extraction via DuckDB's JSON operators
    "q69_variant_json" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
           sum((props::JSON ->> 'k')::BIGINT)::BIGINT AS sum_k,
           max((props::JSON ->> 'k')::BIGINT)::BIGINT AS max_k
         FROM events GROUP BY 1""",
    // same one-pass conditional share; 6dp rounding absorbs
    // partition-order float noise in the two ~1e7 sums
    "q67_market_share" ->
      """SELECT year(o_orderdate)::BIGINT AS o_year,
           round(sum(CASE WHEN n2.n_name = 'NATION_3'
                     THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
         FROM lineitem
         JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         GROUP BY 1""",
    // the window form is definitionally equal to the lateral LIMIT
    // under the unique (acctbal DESC, name) order
    "q66_lateral_topk" ->
      """SELECT r_name, c_name, c_acctbal FROM (
           SELECT r_name, c_name, c_acctbal,
             row_number() OVER (PARTITION BY r_regionkey
               ORDER BY c_acctbal DESC, c_name) AS rk
           FROM region JOIN nation ON n_regionkey = r_regionkey
                       JOIN customer ON c_nationkey = n_nationkey) t
         WHERE rk <= 2""",
    // identical explicit interpolation on both sides (v_lo +
    // (v_hi−v_lo)·(pos−lo)) — deliberately NOT DuckDB's quantile_cont,
    // whose internal association may differ in the last bit; p forced
    // DOUBLE so pos = p·(n−1) is the same IEEE product both engines
    "q65_exact_quantiles" ->
      """WITH v AS (SELECT l_returnflag, l_extendedprice AS x FROM lineitem),
         n AS (SELECT l_returnflag, count(*) AS n FROM v GROUP BY 1),
         r AS (SELECT l_returnflag, x,
                 row_number() OVER (PARTITION BY l_returnflag ORDER BY x) - 1 AS rk
               FROM v),
         t AS (SELECT l_returnflag, n, p, p * (n - 1) AS pos,
                 floor(p * (n - 1))::BIGINT AS lo,
                 ceil(p * (n - 1))::BIGINT AS hi
               FROM n, unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.75::DOUBLE, 0.9::DOUBLE]) AS u(p)),
         g AS (SELECT t.l_returnflag, t.p, t.pos, t.lo,
                 min(CASE WHEN rk = lo THEN x END) AS v_lo,
                 min(CASE WHEN rk = hi THEN x END) AS v_hi
               FROM t JOIN r ON r.l_returnflag = t.l_returnflag
                            AND (rk = lo OR rk = hi)
               GROUP BY 1, 2, 3, 4)
         SELECT l_returnflag, p, v_lo + (v_hi - v_lo) * (pos - lo) AS q
         FROM g""",
    // the unique (o_totalprice, o_orderkey) order makes peer groups
    // singletons, so DuckDB's native window functions are the exact
    // spec the two-level rewrite must reproduce
    "q64_distribution_rank" ->
      """SELECT o_orderkey, o_orderpriority, pr, cd, tile4 FROM (
           SELECT o_orderkey, o_orderpriority,
             percent_rank() OVER w AS pr,
             cume_dist() OVER w AS cd,
             ntile(4) OVER w AS tile4
           FROM orders
           WINDOW w AS (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice, o_orderkey)) r
         WHERE o_orderkey % 100 = 0""",
    // the map is engine plumbing; the oracle checks the scalar reads
    // (keys sorted, so `statuses` is deterministic in both engines)
    "q61_map_functions" ->
      """WITH t AS (
           SELECT o_orderpriority, o_orderstatus,
             round(sum(o_totalprice), 2) AS total
           FROM orders GROUP BY 1, 2)
         SELECT o_orderpriority,
           count(*) AS n_statuses,
           max(CASE WHEN o_orderstatus = 'F' THEN total END) AS total_f,
           max(CASE WHEN o_orderstatus = 'O' THEN total END) AS total_o,
           coalesce(max(CASE WHEN o_orderstatus = 'P' THEN total END), 0.0) AS total_p,
           string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
         FROM t GROUP BY 1""",
    // pivot → unpivot round-trip = the plain long-form aggregation
    "q60_unpivot" ->
      """SELECT o_orderpriority, o_orderstatus,
         round(sum(o_totalprice), 2) AS total
         FROM orders
         WHERE o_orderstatus IN ('F', 'O', 'P')
         GROUP BY 1, 2""",
    // same session construction as st02's oracle (µs-precision
    // ordering and comparisons — Spark's ts is micros, DuckDB's is
    // nanos); conditional-min chain per session; counts by depth
    "q58_session_funnel" ->
      """WITH marked AS (
           SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         sess AS (
           SELECT user_id, epoch_us(ts) AS tus, event_type,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
           FROM marked),
         chain AS (
           SELECT user_id, session_id,
             min(CASE WHEN event_type = 'view' THEN tus END) AS v
           FROM sess GROUP BY 1, 2),
         c2 AS (
           SELECT s.user_id, s.session_id, chain.v,
             min(CASE WHEN s.event_type = 'click' AND s.tus > chain.v THEN s.tus END) AS c
           FROM sess s JOIN chain USING (user_id, session_id)
           GROUP BY 1, 2, 3),
         c3 AS (
           SELECT s.user_id, s.session_id, c2.v, c2.c,
             min(CASE WHEN s.event_type = 'purchase' AND s.tus > c2.c THEN s.tus END) AS p
           FROM sess s JOIN c2 USING (user_id, session_id)
           GROUP BY 1, 2, 3, 4)
         SELECT CASE WHEN p IS NOT NULL THEN 3
                     WHEN c IS NOT NULL THEN 2
                     WHEN v IS NOT NULL THEN 1
                     ELSE 0 END AS depth,
           count(*) AS n_sessions
         FROM c3 GROUP BY 1""",
    "q59_cohort_retention" ->
      """WITH ev AS (
           SELECT user_id, date_trunc('day', ts)::DATE AS day FROM events),
         cohorts AS (
           SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
         active AS (SELECT DISTINCT user_id, day FROM ev)
         SELECT cohort_day, date_diff('day', cohort_day, day) AS day_offset,
           count(DISTINCT a.user_id) AS n_users
         FROM active a JOIN cohorts USING (user_id)
         GROUP BY 1, 2"""
  )
}
