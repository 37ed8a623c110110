package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Det._
import graft.queries.{Oracle => O}
import graft.sources.Tables

/** SQL-surface completeness queries (engine breadth beyond the
  * reference): a TPC-H-shaped multiway join, window frame variants,
  * date/time scalar functions, JSON extraction over the events `props`
  * column, and the SQL-string front end over temp views. Every entry is
  * DuckDB hash-checked like the rest of the gate.
  */
object SqlSurfaceQueries {

  /** TPC-H Q3 shape (shipping priority): customer ⋈ orders ⋈ lineitem
    * with selective filters on both fact sides, revenue = decimal-summed
    * extended price × (1 − discount), top 10 by revenue.
    *
    * Scale shape: the filters reach the parquet scans (pushdown), the
    * dimension side (filtered customer keys) broadcasts under AQE, and
    * the orders⋈lineitem join shuffles on the order key — the classic
    * star-join plan. Revenue is rounded BEFORE the ordering so the
    * cross-engine sort ranks identically; l_orderkey breaks ties.
    */
  def qTpchQ3(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-06-01").cast("timestamp")
    val cust = Tables.table(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.table(s, dir, "orders")
      .filter(col("o_orderdate") < cutoff)
    val li = Tables.table(s, dir, "lineitem")
      .filter(col("l_shipdate") > cutoff)
    cust
      .join(ord, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape (local-supplier volume): the six-way star —
    * region → nation → {customer, supplier} → orders → lineitem — with
    * the "supplier and customer share a nation" correlation condition,
    * revenue per nation. The canonical multi-join-reorder workout: two
    * dimension chains broadcast, the orders⋈lineitem spine shuffles
    * once on the order key, and the n_nationkey equality between the
    * two chains closes the loop without a cartesian.
    */
  def qTpchQ5(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val nations = Tables.table(s, dir, "nation")
      .join(Tables.table(s, dir, "region")
        .filter(col("r_name") === "ASIA"), col("n_regionkey") === col("r_regionkey"))
    Tables.table(s, dir, "customer")
      .join(nations, col("c_nationkey") === col("n_nationkey"))
      .join(Tables.table(s, dir, "orders")
        .filter(col("o_orderdate") >= cutoff), col("c_custkey") === col("o_custkey"))
      .join(Tables.table(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.table(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .groupBy("n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q7 shape (volume shipping): bilateral trade between two
    * nations — supplier nation × customer nation restricted to the
    * unordered pair, revenue per (supp_nation, cust_nation, year). The
    * workout is the disjunctive cross-dimension predicate
    * `(n1=A ∧ n2=B) ∨ (n1=B ∧ n2=A)`: it can't push into either scan
    * alone, so each broadcast nation dim is pre-filtered to the pair
    * (making every fact-spine join a pure equi-join) and the
    * disjunction collapses to `supp_nation ≠ cust_nation` — the
    * equivalent conjunctive residue, applied to two broadcast-carried
    * name columns after the joins. The DuckDB oracle spells the
    * ORIGINAL disjunction, so a pass proves the rewrite.
    */
  def qTpchQ7(s: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_18", "NATION_19")
    val n1 = Tables.table(s, dir, "nation").filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("_sk"), col("n_name").as("supp_nation"))
    val n2 = Tables.table(s, dir, "nation").filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("_ck"), col("n_name").as("cust_nation"))
    Tables.table(s, dir, "lineitem")
      .filter(col("l_shipdate").between(
        lit("1996-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp")))
      .join(Tables.table(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("_sk"))
      .join(Tables.table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n2), col("c_nationkey") === col("_ck"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q18 shape (large-volume customers): a HAVING-filtered
    * aggregate used as a semi-join filter on the fact spine, then a
    * three-way join re-aggregated per order.
    *
    * Scale shape: the HAVING subquery is a pre-aggregation of lineitem
    * on its natural key (map-side partial agg → one shuffle), whose
    * SMALL survivor set (here sum(qty) > 250, ~1% of orders) semi-joins
    * back — Catalyst turns the IN into a LeftSemi that AQE broadcasts,
    * so the big fact table never shuffles for the filter. Customer joins
    * last, against already-reduced orders.
    */
  def qTpchQ18(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.table(s, dir, "lineitem")
    val big = li.groupBy("l_orderkey")
      .agg(sum("l_quantity").as("_sq")).filter(col("_sq") > 250)
      .select("l_orderkey")
    Tables.table(s, dir, "orders")
      .join(big, col("o_orderkey") === big("l_orderkey"), "left_semi")
      .join(Tables.table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      .agg(sum("l_quantity").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q6 shape (forecast revenue change): the pure scan-aggregate
    * — one table, three band predicates, one global sum, no join or
    * grouping. The point at scale is the PLAN: every predicate pushes
    * into the parquet scan (`PushedFilters` carries all three), the
    * projection prunes to the 4 referenced columns, and aggregation is
    * one map-side partial per split plus a scalar merge — the query
    * that measures pure scan efficiency.
    */
  def qTpchQ6(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))

  /** TPC-H Q13 shape (customer order distribution): LEFT join so
    * orderless customers count as zero, then a two-level aggregation —
    * orders per customer, customers per order count. Scale shape: the
    * first aggregate keys on the uniform customer key (one shuffle);
    * the second groups the already-reduced per-customer frame on the
    * tiny count domain. The left join preserves every customer row,
    * which is the semantic the INNER-join spelling silently loses.
    */
  def qTpchQ13(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "customer")
      .join(Tables.table(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q14 shape (promotion effect): the percentage-of-total
    * pattern — lineitem ⋈ part for one month, promo revenue share as a
    * conditional sum over the same decimal-summed measure. Both sums
    * ride ONE aggregate (no second scan, no self-join); the ratio and
    * ×100 are single IEEE ops after exact decimal sums, r6-rounded
    * once at the end per the [[graft.queries.Det]] discipline.
    */
  def qTpchQ14(s: SparkSession, dir: String): DataFrame = {
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.table(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      .join(Tables.table(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .agg(r6(lit(100.0) *
        sum(when(col("p_type") === "PROMO", disc).otherwise(lit(0.0))
          .cast("decimal(25,6)")).cast("double") /
        sum(disc.cast("decimal(25,6)")).cast("double")).as("promo_revenue"))
  }

  /** TPC-H Q4 shape (order priority checking): count orders per
    * priority that have at least one LATE line — an EXISTS whose inner
    * predicate correlates on the key AND a non-equi timestamp
    * comparison (`l_shipdate > o_orderdate + 30 days`; the testdata has
    * no commit/receipt dates, so lateness is relative to order date).
    *
    * Scale shape: the EXISTS is a LeftSemi on the order key with the
    * timestamp residual evaluated inside the join — lineitem is never
    * aggregated or deduplicated first, and each order emits at most
    * once regardless of how many lines match. One shuffle on the
    * uniform order key.
    */
  def qTpchQ4(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      .join(Tables.table(s, dir, "lineitem").select("l_orderkey", "l_shipdate"),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")

  /** TPC-H Q8 shape (national market share): the ratio-of-conditional-
    * sums over the full seven-way star — region-restricted customers,
    * PROMO parts, and per-year share of volume supplied from one
    * nation. Both sums ride ONE aggregate over decimal partials; the
    * share is a single IEEE division r6-rounded at the end.
    *
    * Scale shape: every dimension chain (nation⋈region, part filter,
    * supplier-nation name) broadcasts; the orders⋈lineitem spine
    * shuffles once on the order key — same skeleton as Q5/Q7, plus the
    * conditional-share aggregate Q14 pins.
    */
  def qTpchQ8(s: SparkSession, dir: String): DataFrame = {
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val custNations = Tables.table(s, dir, "nation")
      .join(Tables.table(s, dir, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("_ck"))
    val suppNations = Tables.table(s, dir, "nation")
      .select(col("n_nationkey").as("_sk"), col("n_name").as("supp_nation"))
    Tables.table(s, dir, "lineitem")
      .join(Tables.table(s, dir, "part").filter(col("p_type") === "PROMO"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.table(s, dir, "orders")
        .filter(col("o_orderdate").between(
          lit("1996-01-01").cast("timestamp"),
          lit("1997-12-31").cast("timestamp"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(custNations), col("c_nationkey") === col("_ck"))
      .join(Tables.table(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNations), col("s_nationkey") === col("_sk"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(r6(
        sum(when(col("supp_nation") === "NATION_5", vol).otherwise(lit(0.0))
          .cast("decimal(25,6)")).cast("double") /
        sum(vol.cast("decimal(25,6)")).cast("double")).as("mkt_share"))
      .orderBy("o_year")
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): the correlated
    * scalar subquery — lines of one brand whose quantity is below 20%
    * of that PART's average quantity, total extended price / 7.
    *
    * Decorrelated by construction: lineitem semi-restricts to the
    * brand's part keys (broadcast — the brand is ~4% of parts), the
    * per-part average aggregates that subset once (complete per-part
    * row sets, so the average equals the correlated spelling's), and
    * the TINY per-part threshold table broadcasts back. The fact table
    * shuffles zero times. Quantities are integer-valued doubles, so
    * the average is exact in any summation order; the oracle spells
    * the original correlated subquery, proving the decorrelation.
    */
  def qTpchQ17(s: SparkSession, dir: String): DataFrame = {
    val brandKeys = Tables.table(s, dir, "part")
      .filter(col("p_brand") === "Brand#23").select("p_partkey")
    val brandLines = Tables.table(s, dir, "lineitem")
      .join(broadcast(brandKeys), col("l_partkey") === col("p_partkey"))
    val thresholds = brandLines.groupBy(col("l_partkey").as("_pk"))
      .agg((lit(0.2) * avg(col("l_quantity"))).as("_qlim"))
    brandLines
      .join(broadcast(thresholds), col("l_partkey") === col("_pk"))
      .filter(col("l_quantity") < col("_qlim"))
      .agg(r6(sum(col("l_extendedprice").cast("decimal(25,6)"))
        .cast("double") / lit(7.0)).as("avg_yearly"))
  }

  /** TPC-H Q19 shape (discounted revenue): the OR-of-ANDs predicate
    * spanning both join sides — three (brand, size-range, quantity-
    * range) disjuncts that cannot push into either scan as written.
    *
    * The engine hand-derives the disjunction's conjunctive ENVELOPE —
    * brand ∈ {the three}, p_size ∈ [1,35], l_quantity ∈ [1,30] — and
    * pushes that into the scans (part to ~11% of rows, lineitem to the
    * quantity band), leaving the exact disjunction as a post-join
    * residual on broadcast-carried columns. The oracle spells the raw
    * OR, so a pass proves envelope + residual ≡ original.
    */
  def qTpchQ19(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.table(s, dir, "part")
      .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34") &&
        col("p_size").between(1, 35))
      .select("p_partkey", "p_brand", "p_size")
    Tables.table(s, dir, "lineitem")
      .filter(col("l_quantity").between(1, 30))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size") <= 15 &&
          col("l_quantity") <= 11) ||
        (col("p_brand") === "Brand#23" && col("p_size") <= 25 &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("l_quantity") >= 20))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
  }

  /** TPC-H Q22 shape (global market opportunity): customers with
    * above-average positive balances and NO recent orders — a global
    * scalar threshold plus an anti join, grouped by nation (the
    * testdata's analog of the phone country code).
    *
    * Scale shape: the threshold is a 1-row broadcast (the Det.davg
    * decimal discipline makes the strict `>` compare engine-exact on
    * 2-dp balances); the NOT EXISTS is a LeftAnti against the
    * date-pruned order keys, which AQE broadcasts when the recent
    * window is small. Customer never shuffles.
    */
  def qTpchQ22(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.table(s, dir, "customer")
    val threshold = cust.filter(col("c_acctbal") > 0)
      .agg(davg(col("c_acctbal")).as("_t"))
    val recent = Tables.table(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select("o_custkey")
    cust.crossJoin(broadcast(threshold))
      .filter(col("c_acctbal") > col("_t"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy("cntrycode")
  }

  /** The argmax aggregate family (`max_by`/`min_by`): "the value from
    * the row that maximizes X" without a self-join or window — one
    * hash aggregate where the naive spelling costs a sort or a
    * re-join. The ordinal is the UNIQUE line key (orderkey·100 +
    * linenumber), so the winner is total-order determined and the
    * cross-engine hash check is exact — max_by under ties is
    * engine-nondeterministic, the one contract subtlety worth pinning.
    */
  def qArgmax(s: SparkSession, dir: String): DataFrame = {
    val lineKey = col("l_orderkey") * 100 + col("l_linenumber")
    Tables.table(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        max_by(col("l_quantity"), lineKey).as("last_qty"),
        min_by(col("l_quantity"), lineKey).as("first_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q1 shape (pricing summary): the canonical single-table scan
    * → filter → 2-key hash aggregate with EIGHT aggregates including
    * three chained-expression sums and three averages — the widest
    * aggregate row in the suite, all map-side-combining into one
    * exchange. Decimal discipline per [[graft.queries.Det]].
    */
  def qTpchQ1(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q10 shape (returned-item reporting): customer revenue lost to
    * returns — a two-fact join (orders ⋈ lineitem filtered to returns)
    * re-aggregated per customer with the nation dim broadcast, top 20.
    */
  def qTpchQ10(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "customer")
      .join(Tables.table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1998-06-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.table(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.table(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** The try_* error-handling family: `try_cast`, `try_divide`,
    * `try_add` return NULL where strict evaluation would throw — the
    * surface for ingesting dirty data without per-row exception cost.
    * Exercised over deliberately mixed-validity strings derived from
    * event props.
    */
  def qTry(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").as("raw"), // proven q_json path
        col("value"))
      .select(
        col("event_id"),
        expr("try_cast(raw AS BIGINT)").as("k_num"),
        // 'x'-prefixed digits never cast: NULL, not an exception
        expr("try_cast(concat('x', raw) AS BIGINT)").as("bad_cast"),
        // k % 3 == 0 → division by zero → NULL under try semantics
        expr("try_divide(value, try_cast(raw AS BIGINT) % 3)").as("div_mod"),
        // MaxLong + k overflows for every k > 0 → NULL; k = 0 passes
        expr("try_add(9223372036854775807, try_cast(raw AS BIGINT))").as("ov_add"))
      .withColumn("div_mod", r6(col("div_mod")))
      .orderBy("event_id")

  /** Wide-to-long reshape (UNPIVOT/melt) + re-aggregation: four lineitem
    * measure columns melt into (metric, value) rows, then per-metric
    * count/mean/min/max. The unpivot itself is a zero-shuffle per-row
    * explode (rows × 4); only the 4-group aggregate shuffles.
    */
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .select("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .unpivot(Array.empty, "metric", "value")
      .groupBy("metric")
      .agg(
        count(lit(1)).as("n"),
        davg(col("value")).as("mean_v"),
        r6(min("value")).as("min_v"),
        r6(max("value")).as("max_v"),
      )
      .orderBy("metric")

  /** Full-outer join of two per-user aggregates (click counts × view
    * counts): users on only one side survive with a NULL other side —
    * the join type the reference lacks entirely. USING-style key so
    * both engines coalesce the key column identically.
    */
  def qJoinOuter(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def byType(t: String, out: String) =
      ev.filter(col("event_type") === t)
        .groupBy("user_id").agg(count(lit(1)).as(out))
    byType("click", "n_clicks")
      .join(byType("view", "n_views"), Seq("user_id"), "full_outer")
      .orderBy("user_id")
  }

  /** Explicit null-ordering sort: a derived nullable column ordered
    * DESC NULLS FIRST with an event_id tiebreak — the sort surface
    * where engine defaults differ (Spark: nulls first on ASC, last on
    * DESC; DuckDB: nulls last everywhere), so spelling the null
    * placement explicitly is the only portable form.
    */
  def qSortNulls(s: SparkSession, dir: String): DataFrame = {
    val v = when(col("event_type") === "click", lit(null)).otherwise(col("value"))
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), v.as("v"))
      .orderBy(col("v").desc_nulls_first, col("event_id"))
      .limit(50)
  }

  /** Window frame variants over per-user event sequences: ntile
    * quartiles, percent_rank/cume_dist (deterministic via the event_id
    * tiebreak: no rank peers), full-frame first/last/nth_value, and a
    * sliding 3-row decimal sum. All frames are bounded, so state per
    * window is O(frame), not O(partition).
    */
  def qWindowFrames(s: SparkSession, dir: String): DataFrame = {
    val byTs = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val byVal = Window.partitionBy("user_id").orderBy(col("value"), col("event_id"))
    val full = byTs.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val sliding = byTs.rowsBetween(-2, Window.currentRow)
    Tables.events(s, dir)
      .select(
        col("event_id"), col("user_id"),
        ntile(4).over(byTs).as("quartile"),
        r6(percent_rank().over(byVal)).as("pct_rank"),
        r6(cume_dist().over(byVal)).as("cume"),
        first(col("value")).over(full).as("first_v"),
        last(col("value")).over(full).as("last_v"),
        nth_value(col("value"), 2).over(full).as("second_v"),
        r6(sum(col("value").cast("decimal(25,6)")).over(sliding).cast("double"))
          .as("sliding_sum_3"),
      )
      .orderBy("event_id")
  }

  /** Value-based RANGE window frame — the frame type ROWS can't
    * express: "events in the last hour" includes however many rows fall
    * in the value interval, and all peers of the current value. Ordered
    * on epoch SECONDS on both engines (Spark's timestamp→long cast
    * truncates to seconds; DuckDB spells `floor(epoch(ts))`), so frame
    * membership is identical. State per window is bounded by the time
    * interval, not the partition.
    */
  def qWindowRange(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").cast("long"))
      .rangeBetween(-3600, Window.currentRow)
    Tables.events(s, dir).select(
      col("event_id"), col("user_id"),
      count(lit(1)).over(w).as("n_last_hour"),
      r6(sum(col("value").cast("decimal(25,6)")).over(w).cast("double"))
        .as("sum_last_hour"),
    ).orderBy("event_id")
  }

  /** Date/time scalar surface: truncation, month arithmetic with
    * end-of-month clamping, calendar fields, day difference against a
    * fixed epoch, unix seconds. All pure per-row projections (codegen,
    * no shuffle); the oracle spells DuckDB's equivalents including its
    * 0-based dayofweek.
    */
  def qDates(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      date_trunc("month", col("ts")).as("month_start"),
      date_trunc("week", col("ts")).as("week_start"),
      add_months(to_date(col("ts")), 2).as("plus_2m"),
      last_day(col("ts")).as("month_end"),
      dayofweek(col("ts")).as("dow"),
      dayofyear(col("ts")).as("doy"),
      quarter(col("ts")).as("qtr"),
      datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("days_since"),
      unix_timestamp(col("ts")).as("epoch_s"),
    ).orderBy("event_id")

  /** The at-scale percentile path: `approx_percentile` (t-digest-style
    * mergeable sketch, map-side partials) next to the group count.
    * The sketch itself is engine-specific, so the gate emits the EXACT
    * medians (hash-checked, the q_percentile contract) plus booleans
    * asserting the sketch landed within a 5% relative band of them —
    * the oracle states literal `true`, so sketch drift fails the hash
    * gate instead of hiding behind a rows-only check. (The tighter
    * exact-vs-approx bound is additionally spec-asserted in
    * PropertySpec.)
    */
  def qPercentileApprox(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("_ma"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("_mpa"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)")
          .as("median"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)")
          .as("median_price"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("median"), col("median_price"), col("n"),
        (abs(col("_ma") - col("median")) / col("median") <= 0.05)
          .as("qty_in_band"),
        (abs(col("_mpa") - col("median_price")) / col("median_price") <= 0.05)
          .as("price_in_band"))
      .orderBy("l_returnflag")

  /** JSON extraction over the events `props` column (a JSON string):
    * scalar path extraction, typed cast, and an aggregation keyed on the
    * extracted value — the semi-structured access pattern every event
    * pipeline needs. Per-row parse is a codegen'd built-in (Jackson
    * under the hood), no UDF.
    */
  def qJson(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("k_mod")

  /** Spark 4's native VARIANT type over the same semi-structured data as
    * [[qJson]]: `parse_json` shreds the string once into the binary
    * variant encoding, `variant_get` then extracts typed paths without
    * re-parsing — the semi-structured answer to "stop paying the string
    * parse per path access". Aggregated per event_type; the sum comes
    * back BIGINT-exact on both engines (DuckDB's integer sum is HUGEINT,
    * cast in the oracle).
    */
  def qVariant(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  /** The SQL-string front end: the same engine through `spark.sql` over
    * a temp view — proves the Catalyst SQL parser path end-to-end, not
    * just the DataFrame DSL.
    */
  def qSql(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events_v")
    s.sql(
      """SELECT event_type, count(*) AS n, min(event_id) AS min_id,
        |       max(event_id) AS max_id
        |FROM events_v GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** Recursive CTE (Spark 4's UnionLoop operator): every part key walks
    * the implicit binary tree `parent = key DIV 2` up to the root,
    * aggregating its path — iterative fixpoint execution through the
    * SQL front end, the surface that covers hierarchy/BOM traversals.
    * Depth is log₂(maxKey) (~15 at sf0.1), far under Spark's
    * 100-level recursion guard. DuckDB spells the identical recursion.
    */
  def qRecursive(s: SparkSession, dir: String): DataFrame = {
    Tables.table(s, dir, "part").createOrReplaceTempView("part_v")
    s.sql(
      """WITH RECURSIVE walk AS (
        |  SELECT p_partkey AS node, p_partkey AS cur, 0 AS depth FROM part_v
        |  UNION ALL
        |  SELECT node, cur DIV 2 AS cur, depth + 1 AS depth
        |  FROM walk WHERE cur > 1
        |)
        |SELECT node, max(depth) AS depth, count(*) AS n_steps,
        |       sum(cur) AS path_sum
        |FROM walk GROUP BY node ORDER BY node""".stripMargin)
  }

  /** Correlated subqueries — Catalyst's decorrelation path (scalar
    * subquery → left outer aggregate join; EXISTS → left semi join),
    * a planner surface the DSL queries never touch. The SQL text runs
    * verbatim on both engines.
    */
  def qSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.table(s, dir, "customer").createOrReplaceTempView("customer_v")
    Tables.table(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT c_custkey, c_mktsegment,
        |  (SELECT count(*) FROM orders_v o WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer_v c
        |WHERE EXISTS (SELECT 1 FROM orders_v o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** SQL lateral explode (LATERAL VIEW posexplode): the table-generator
    * path through the SQL parser; DuckDB spells the identical result by
    * unnesting `range(len(w))` and indexing (no WITH ORDINALITY there).
    */
  def qLateral(s: SparkSession, dir: String): DataFrame = {
    Tables.table(s, dir, "documents").createOrReplaceTempView("documents_v")
    s.sql(
      """SELECT doc_id, pos, token
        |FROM documents_v
        |LATERAL VIEW posexplode(split(text, ' ')) AS pos, token
        |WHERE doc_id % 100 = 0
        |ORDER BY doc_id, pos""".stripMargin)
  }

  val gates: Map[String, Gate] = Gate.registry(
    // exact medians hash-check as in q_percentile; the in-band booleans
    // are literal true — the gate fails iff Spark's t-digest drifts
    // past 5% of the exact median
    "q_percentile_approx" -> Gate(qPercentileApprox _,
      "SELECT l_returnflag, quantile_disc(l_quantity, 0.5) AS median, " +
        "quantile_disc(l_extendedprice, 0.5) AS median_price, count(*) AS n, " +
        "true AS qty_in_band, true AS price_in_band " +
        "FROM lineitem GROUP BY 1 ORDER BY l_returnflag"),
    "q_subquery" -> Gate(qSubquery _,
      "SELECT c_custkey, c_mktsegment, " +
        "(SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders " +
        "FROM customer c " +
        "WHERE EXISTS (SELECT 1 FROM orders o " +
        "WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000) " +
        "ORDER BY c_custkey"),
    "q_lateral" -> Gate(qLateral _,
      "WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents " +
        "WHERE doc_id % 100 = 0) " +
        "SELECT doc_id, CAST(u.i AS INT) AS pos, w[CAST(u.i + 1 AS INT)] AS token " +
        "FROM s, unnest(range(len(s.w))) AS u(i) ORDER BY doc_id, pos"),
    "q_tpch_q3" -> Gate(qTpchQ3 _,
      "SELECT l_orderkey, " +
        O.dsum("l_extendedprice * (1.0 - l_discount)") + " AS revenue, " +
        "o_orderdate, o_orderpriority " +
        "FROM customer, orders, lineitem " +
        "WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey " +
        "AND l_orderkey = o_orderkey " +
        "AND o_orderdate < TIMESTAMP '1998-06-01' " +
        "AND l_shipdate > TIMESTAMP '1998-06-01' " +
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority " +
        "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"),
    "q_tpch_q5" -> Gate(qTpchQ5 _,
      "SELECT n_name, " + O.dsum("l_extendedprice * (1.0 - l_discount)") +
        " AS revenue " +
        "FROM customer, orders, lineitem, supplier, nation, region " +
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey " +
        "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey " +
        "AND r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1998-01-01' " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name"),
    "q_tpch_q7" -> Gate(qTpchQ7 _,
      "SELECT supp_nation, cust_nation, l_year, " +
        O.dsum("l_extendedprice * (1.0 - l_discount)") + " AS revenue " +
        "FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
        "year(l_shipdate) AS l_year, l_extendedprice, l_discount " +
        "FROM supplier, lineitem, orders, customer, nation n1, nation n2 " +
        "WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey " +
        "AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey " +
        "AND c_nationkey = n2.n_nationkey " +
        "AND ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19') " +
        "OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')) " +
        "AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' " +
        "AND TIMESTAMP '1997-12-31') " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),
    "q_argmax" -> Gate(qArgmax _,
      "SELECT l_returnflag, " +
        "max_by(l_quantity, l_orderkey * 100 + l_linenumber) AS last_qty, " +
        "min_by(l_quantity, l_orderkey * 100 + l_linenumber) AS first_qty, " +
        "count(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1"),
    "q_tpch_q4" -> Gate(qTpchQ4 _,
      "SELECT o_orderpriority, count(*) AS order_count FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' " +
        "AND o_orderdate < TIMESTAMP '1997-04-01' " +
        "AND EXISTS (SELECT 1 FROM lineitem " +
        "WHERE l_orderkey = o_orderkey " +
        "AND l_shipdate > o_orderdate + INTERVAL 30 DAY) " +
        "GROUP BY 1 ORDER BY 1"),
    "q_tpch_q8" -> Gate(qTpchQ8 _,
      "SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
        O.r6("CAST(CAST(sum(CAST(CASE WHEN n2.n_name = 'NATION_5' " +
          "THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END " +
          "AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) / " +
          "CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) " +
          "AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)") + " AS mkt_share " +
        "FROM lineitem, part, orders, customer, nation n1, region, " +
        "supplier, nation n2 " +
        "WHERE l_partkey = p_partkey AND p_type = 'PROMO' " +
        "AND l_orderkey = o_orderkey " +
        "AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' " +
        "AND TIMESTAMP '1997-12-31' " +
        "AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey " +
        "AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA' " +
        "AND l_suppkey = s_suppkey AND s_nationkey = n2.n_nationkey " +
        "GROUP BY 1 ORDER BY 1"),
    "q_tpch_q17" -> Gate(qTpchQ17 _,
      "SELECT " +
        O.r6("CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) " +
          "AS VARCHAR) AS DOUBLE) / 7.0") + " AS avg_yearly " +
        "FROM lineitem, part WHERE p_partkey = l_partkey " +
        "AND p_brand = 'Brand#23' " +
        "AND l_quantity < 0.2 * (SELECT avg(l_quantity) FROM lineitem l2 " +
        "WHERE l2.l_partkey = p_partkey)"),
    "q_tpch_q19" -> Gate(qTpchQ19 _,
      "SELECT " + O.dsum("l_extendedprice * (1.0 - l_discount)") +
        " AS revenue FROM lineitem, part WHERE l_partkey = p_partkey " +
        "AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 " +
        "AND l_quantity BETWEEN 1 AND 11) " +
        "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 " +
        "AND l_quantity BETWEEN 10 AND 20) " +
        "OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 " +
        "AND l_quantity BETWEEN 20 AND 30))"),
    "q_tpch_q22" -> Gate(qTpchQ22 _,
      "WITH t AS (SELECT " + O.davg("c_acctbal") + " AS _t " +
        "FROM customer WHERE c_acctbal > 0) " +
        "SELECT c_nationkey AS cntrycode, count(*) AS numcust, " +
        O.dsum("c_acctbal") + " AS totacctbal " +
        "FROM customer, t WHERE c_acctbal > _t " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= TIMESTAMP '2000-01-01') " +
        "GROUP BY 1 ORDER BY 1"),
    "q_tpch_q6" -> Gate(qTpchQ6 _,
      "SELECT " + O.dsum("l_extendedprice * l_discount") + " AS revenue " +
        "FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),
    "q_tpch_q13" -> Gate(qTpchQ13 _,
      "WITH c AS (SELECT c_custkey, count(o_orderkey) AS c_count " +
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey " +
        "GROUP BY 1) " +
        "SELECT c_count, count(*) AS custdist FROM c GROUP BY 1 " +
        "ORDER BY custdist DESC, c_count DESC"),
    "q_tpch_q14" -> Gate(qTpchQ14 _,
      "SELECT " +
        O.r6("100.0 * CAST(CAST(sum(CAST(CASE WHEN p_type = 'PROMO' " +
          "THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END " +
          "AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) / " +
          "CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) " +
          "AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)") + " AS promo_revenue " +
        "FROM lineitem, part WHERE l_partkey = p_partkey " +
        "AND l_shipdate >= TIMESTAMP '1997-09-01' " +
        "AND l_shipdate < TIMESTAMP '1997-10-01'"),
    // sum(l_quantity) is integer-valued doubles → exact, order-free
    "q_tpch_q1" -> Gate(qTpchQ1 _,
      "SELECT l_returnflag, l_linestatus, " +
        O.dsum("l_quantity") + " AS sum_qty, " +
        O.dsum("l_extendedprice") + " AS sum_base_price, " +
        O.dsum("l_extendedprice * (1.0 - l_discount)") + " AS sum_disc_price, " +
        O.dsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)") +
        " AS sum_charge, " +
        O.davg("l_quantity") + " AS avg_qty, " +
        O.davg("l_extendedprice") + " AS avg_price, " +
        O.davg("l_discount") + " AS avg_disc, " +
        "count(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "q_tpch_q10" -> Gate(qTpchQ10 _,
      "SELECT c_custkey, c_name, c_acctbal, n_name, " +
        O.dsum("l_extendedprice * (1.0 - l_discount)") + " AS revenue " +
        "FROM customer, orders, lineitem, nation " +
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey " +
        "AND o_orderdate >= TIMESTAMP '1998-06-01 00:00:00' " +
        "AND l_returnflag = 'R' AND c_nationkey = n_nationkey " +
        "GROUP BY 1, 2, 3, 4 ORDER BY revenue DESC, c_custkey LIMIT 20"),
    "q_try" -> Gate(qTry _,
      "WITH x AS (SELECT event_id, json_extract_string(props, '$.k') AS raw, " +
        "value FROM events), " +
        "t AS (SELECT event_id, TRY_CAST(raw AS BIGINT) AS k_num, " +
        "TRY_CAST('x' || raw AS BIGINT) AS bad_cast, " +
        "value / nullif(TRY_CAST(raw AS BIGINT) % 3, 0) AS dv, " +
        "CASE WHEN TRY_CAST(raw AS BIGINT) = 0 THEN 9223372036854775807 " +
        "ELSE NULL END AS ov_add FROM x) " +
        "SELECT event_id, k_num, bad_cast, " + O.r6("dv") + " AS div_mod, " +
        "ov_add FROM t ORDER BY event_id"),
    "q_tpch_q18" -> Gate(qTpchQ18 _,
      "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, " +
        "sum(l_quantity) AS sum_qty " +
        "FROM customer, orders, lineitem " +
        "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem " +
        "GROUP BY l_orderkey HAVING sum(l_quantity) > 250) " +
        "AND c_custkey = o_custkey AND o_orderkey = l_orderkey " +
        "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice " +
        "ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"),
    "q_join_outer" -> Gate(qJoinOuter _,
      "WITH a AS (SELECT user_id, count(*) AS n_clicks FROM events " +
        "WHERE event_type = 'click' GROUP BY user_id), " +
        "b AS (SELECT user_id, count(*) AS n_views FROM events " +
        "WHERE event_type = 'view' GROUP BY user_id) " +
        "SELECT user_id, n_clicks, n_views FROM a FULL OUTER JOIN b USING (user_id) " +
        "ORDER BY user_id"),
    "q_sort_nulls" -> Gate(qSortNulls _,
      "SELECT event_id, user_id, " +
        "CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v " +
        "FROM events ORDER BY v DESC NULLS FIRST, event_id LIMIT 50"),
    "q_window_range" -> Gate(qWindowRange _,
      "SELECT event_id, user_id, count(*) OVER w AS n_last_hour, " +
        O.r6("CAST(CAST(sum(CAST(value AS DECIMAL(25,6))) OVER w AS VARCHAR) AS DOUBLE)") +
        " AS sum_last_hour FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY floor(epoch(ts))::BIGINT " +
        "RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) ORDER BY event_id"),
    "q_unpivot" -> Gate(qUnpivot _,
      "SELECT metric, count(*) AS n, " + O.davg("value") + " AS mean_v, " +
        O.r6("min(value)") + " AS min_v, " + O.r6("max(value)") + " AS max_v " +
        "FROM (UNPIVOT (SELECT l_quantity, l_extendedprice, l_discount, l_tax " +
        "FROM lineitem) ON l_quantity, l_extendedprice, l_discount, l_tax " +
        "INTO NAME metric VALUE value) GROUP BY metric ORDER BY metric"),
    "q_window_frames" -> Gate(qWindowFrames _,
      "SELECT event_id, user_id, " +
        "(ntile(4) OVER wt)::INT AS quartile, " +
        O.r6("percent_rank() OVER wv") + " AS pct_rank, " +
        O.r6("cume_dist() OVER wv") + " AS cume, " +
        "first_value(value) OVER wf AS first_v, " +
        "last_value(value) OVER wf AS last_v, " +
        "nth_value(value, 2) OVER wf AS second_v, " +
        O.r6("CAST(CAST(sum(CAST(value AS DECIMAL(25,6))) OVER ws AS VARCHAR) AS DOUBLE)") +
        " AS sliding_sum_3 " +
        "FROM events WINDOW " +
        "wt AS (PARTITION BY user_id ORDER BY ts, event_id), " +
        "wv AS (PARTITION BY user_id ORDER BY value, event_id), " +
        "wf AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), " +
        "ws AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) " +
        "ORDER BY event_id"),
    "q_dates" -> Gate(qDates _,
      "SELECT event_id, " +
        "date_trunc('month', ts::TIMESTAMP)::TIMESTAMP AS month_start, " +
        "date_trunc('week', ts::TIMESTAMP)::TIMESTAMP AS week_start, " +
        "(ts::DATE + INTERVAL 2 MONTH)::DATE AS plus_2m, " +
        "last_day(ts::TIMESTAMP) AS month_end, " +
        "(dayofweek(ts::TIMESTAMP) + 1)::INT AS dow, " +
        "dayofyear(ts::TIMESTAMP)::INT AS doy, " +
        "quarter(ts::TIMESTAMP)::INT AS qtr, " +
        "datediff('day', DATE '2024-01-01', ts::DATE)::INT AS days_since, " +
        "floor(epoch(ts::TIMESTAMP))::BIGINT AS epoch_s " +
        "FROM events ORDER BY event_id"),
    "q_variant" -> Gate(qVariant _,
      "WITH x AS (SELECT event_type, json_extract_string(props, '$.k')::INT AS k FROM events) " +
        "SELECT event_type, count(*) AS n, sum(k)::BIGINT AS sum_k, " +
        "min(k) AS min_k, max(k) AS max_k FROM x GROUP BY 1 ORDER BY event_type"),
    "q_json" -> Gate(qJson _,
      "WITH x AS (SELECT json_extract_string(props, '$.k')::INT AS k FROM events) " +
        "SELECT k % 10 AS k_mod, count(*) AS n, min(k) AS min_k, max(k) AS max_k " +
        "FROM x GROUP BY 1 ORDER BY k_mod"),
    "q_sql" -> Gate(qSql _,
      "SELECT event_type, count(*) AS n, min(event_id) AS min_id, " +
        "max(event_id) AS max_id FROM events GROUP BY event_type " +
        "ORDER BY event_type"),
    "q_recursive" -> Gate(qRecursive _,
      "WITH RECURSIVE walk AS (" +
        "SELECT p_partkey AS node, p_partkey AS cur, 0 AS depth FROM part " +
        "UNION ALL " +
        "SELECT node, cur // 2 AS cur, depth + 1 AS depth " +
        "FROM walk WHERE cur > 1) " +
        "SELECT node, max(depth) AS depth, count(*) AS n_steps, " +
        "sum(cur)::BIGINT AS path_sum " +
        "FROM walk GROUP BY node ORDER BY node"),
  )
}
