package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Det._
import graft.queries.{Oracle => O}
import graft.sources.Tables

/** The remaining TPC-H shapes (Q2, Q9, Q11, Q12, Q15, Q16, Q20, Q21) —
  * with these, every one of the 22 TPC-H query SHAPES has a gate entry.
  *
  * The testdata schema is reduced TPC-H: there is no `partsupp` table
  * and lineitem carries no commit/receipt dates or ship mode. Queries
  * needing them are adapted the way `q_tpch_q4` already adapts lateness
  * (SURVEY §2 note): a `partsupp` stand-in is DERIVED from lineitem —
  * per (l_partkey, l_suppkey): ps_supplycost = min unit price,
  * ps_availqty = total shipped quantity — spelled identically in the
  * DuckDB oracle, so the join/subquery SHAPES under test are exercised
  * on identical inputs in both engines. Lateness stays
  * `l_shipdate > o_orderdate + 30 days`; ship-mode classes become
  * shipping-delay classes. Cited per query below.
  *
  * Determinism: unit price is a per-row double division (bit-identical
  * cross-engine), `min` over identical doubles is exact, and quantity
  * sums are integer-valued — so every derived partsupp column is
  * hash-stable without decimal routing; money sums follow the
  * [[graft.queries.Det]] decimal discipline as everywhere else.
  */
object TpchDeepQueries {

  /** The partsupp stand-in: one shuffle on the (part, supp) key —
    * uniform by construction, 52k pairs at sf0.01, ~|lineitem|·0.86 at
    * any scale (pairs repeat rarely), so it behaves like a narrow
    * pre-aggregation of the fact table, not a second fact scan.
    */
  private def supplies(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .agg(
        min(col("l_extendedprice") / col("l_quantity")).as("ps_supplycost"),
        sum(col("l_quantity")).as("ps_availqty"))

  private val psCte =
    "ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey, " +
      "min(l_extendedprice/l_quantity) AS ps_supplycost, " +
      "sum(l_quantity) AS ps_availqty FROM lineitem GROUP BY 1, 2)"

  /** TPC-H Q2 shape (minimum-cost supplier): for each size-15 part, the
    * region's suppliers achieving that part's MINIMUM supply cost — the
    * correlated-min subquery decorrelated as a per-part group-min that
    * joins back on (part, exact cost equality).
    *
    * Scale shape: the candidate set (region suppliers × filtered parts)
    * is dimension-bounded; its group-min is a second aggregate on the
    * same already-shuffled key, and the winner join broadcasts the tiny
    * per-part threshold table — the fact-derived `supplies` relation
    * shuffles once, everything after is broadcast. The oracle spells
    * the ORIGINAL correlated `= (SELECT min ...)`, proving the
    * decorrelation (same contract as q_tpch_q17).
    */
  def qTpchQ2(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.table(s, dir, "part")
      .filter(col("p_size") === 15).select("p_partkey")
    val sup = Tables.table(s, dir, "supplier")
      .join(broadcast(Tables.table(s, dir, "nation")
        .join(Tables.table(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
    val cand = supplies(s, dir)
      .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
      .join(sup, col("ps_suppkey") === col("s_suppkey"))
    val minCost = cand.groupBy(col("ps_partkey").as("_mpk"))
      .agg(min(col("ps_supplycost")).as("_mc"))
    cand
      .join(broadcast(minCost),
        col("ps_partkey") === col("_mpk") && col("ps_supplycost") === col("_mc"))
      .select(r6(col("s_acctbal")).as("acctbal"), col("s_name"), col("n_name"),
        col("ps_partkey"), r6(col("ps_supplycost")).as("supplycost"))
      .orderBy(col("acctbal").desc, col("n_name"), col("s_name"), col("ps_partkey"))
      .limit(100)
  }

  /** TPC-H Q9 shape (product-type profit): profit per (supplier nation,
    * order year) over name-matched parts, where profit nets the derived
    * supply cost out of discounted revenue — the widest join in the
    * suite after Q8: fact ⋈ part ⋈ supplies ⋈ supplier ⋈ nation ⋈
    * orders.
    *
    * Scale shape: the LIKE-filtered part keys broadcast and prune the
    * fact scan first; `supplies` joins on the SAME (part, supp) key the
    * fact rows carry (one shuffle each side); supplier/nation broadcast;
    * orders joins on the uniform order key. Money through decimal.
    */
  def qTpchQ9(s: SparkSession, dir: String): DataFrame = {
    // per-row r6 before the decimal sum — cost×qty carries the same
    // double→decimal boundary hazard as Q11's value product (see there)
    val amount = r6(col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      col("ps_supplycost") * col("l_quantity"))
    Tables.table(s, dir, "lineitem")
      .join(broadcast(Tables.table(s, dir, "part")
        .filter(col("p_name").like("%anvil%")).select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(supplies(s, dir),
        col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
      .join(Tables.table(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.table(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.table(s, dir, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(dsum(amount).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q11 shape (important stock): per-part inventory value held
    * by one nation's suppliers, kept only where the part's value exceeds
    * a FRACTION OF THE GLOBAL TOTAL — the scalar-subquery-threshold
    * HAVING.
    *
    * Scale shape: the nation's supplier keys broadcast into the derived
    * `supplies` relation; the per-part aggregate shuffles once on the
    * part key; the global total is ONE row computed from the same
    * nation-pruned frame and broadcast back (same pattern as
    * q_tpch_q22's threshold). Value sums ride decimal, so the strict
    * `>` threshold compare is engine-exact.
    */
  def qTpchQ11(s: SparkSession, dir: String): DataFrame = {
    val natSupp = Tables.table(s, dir, "supplier")
      .join(broadcast(Tables.table(s, dir, "nation")
        .filter(col("n_name") === "NATION_19")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    // r6 BEFORE the decimal cast: cost×qty is a full-precision double,
    // and Spark's double→decimal route (BigDecimal.valueOf = shortest
    // string) disagrees with DuckDB's exact-binary rounding exactly at
    // .5×10⁻⁶ boundaries; a 6-dp pre-round makes the cast input a value
    // both engines convert identically (the bigramSurprisal discipline)
    val natPs = supplies(s, dir)
      .join(broadcast(natSupp), col("ps_suppkey") === col("s_suppkey"))
      .withColumn("_v", r6(col("ps_supplycost") * col("ps_availqty")))
    val perPart = natPs.groupBy("ps_partkey")
      .agg(sum(col("_v").cast("decimal(25,6)")).cast("double").as("_sumv"))
    val threshold = natPs
      .agg((sum(col("_v").cast("decimal(25,6)")).cast("double") * lit(0.001))
        .as("_t"))
    perPart.crossJoin(broadcast(threshold))
      .filter(col("_sumv") > col("_t"))
      .select(col("ps_partkey"), r6(col("_sumv")).as("value"))
      .orderBy(col("value").desc, col("ps_partkey"))
  }

  /** TPC-H Q12 shape (shipping-delay priority): lines shipped in 1997
    * bucketed into delay classes — the testdata has no ship mode, so the
    * class IS the shipping delay (days from order to ship: ≤7 FAST,
    * >60 SLOW, else MED) — with conditional counts of critical vs other
    * order priorities per class. One fact⋈fact join on the order key,
    * one 3-group aggregate; the CASE grouping column and both
    * conditional sums fold into the same map-side partial.
    */
  def qTpchQ12(s: SparkSession, dir: String): DataFrame = {
    val delay = datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
    val critical = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.table(s, dir, "orders")
      .join(Tables.table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(when(delay > 60, "SLOW").when(delay <= 7, "FAST")
        .otherwise("MED").as("delay_class"))
      .agg(
        sum(when(critical, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(critical, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("delay_class")
  }

  /** TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    * keeping the supplier(s) whose revenue EQUALS the maximum — the
    * aggregate-of-aggregate (view + scalar max) pattern. The revenue is
    * r6-rounded decimal on both engines, so the equality join against
    * the 1-row broadcast max is exact, and ties (the reason the
    * original uses a view, not LIMIT 1) surface identically.
    */
  def qTpchQ15(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.table(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("total_revenue"))
    val maxRev = rev.agg(max("total_revenue").as("_mr"))
    Tables.table(s, dir, "supplier")
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .crossJoin(broadcast(maxRev))
      .filter(col("total_revenue") === col("_mr"))
      .select("s_suppkey", "s_name", "total_revenue")
      .orderBy("s_suppkey")
  }

  /** TPC-H Q16 shape (supplier-part relationship count): distinct
    * suppliers per (brand, type, size) over the lineitem-derived
    * supplier-part pairs, excluding one brand, one type, sizes outside
    * a list, and NOT-IN-subquery-excluded suppliers (negative balance —
    * the testdata's analog of the complaints filter).
    *
    * Scale shape: the distinct pair set IS `supplies`' key set (one
    * shuffle); part filters broadcast; the NOT IN is a broadcast
    * LeftAnti on a 6-row exclusion; countDistinct keys on the group —
    * no expansion anywhere.
    */
  def qTpchQ16(s: SparkSession, dir: String): DataFrame = {
    val excl = Tables.table(s, dir, "supplier")
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    val p = Tables.table(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#4" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 5, 9, 14, 23, 36, 45, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    Tables.table(s, dir, "lineitem")
      .select("l_partkey", "l_suppkey").distinct()
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** TPC-H Q20 shape (excess inventory): one nation's suppliers holding
    * excess availability — derived availqty > 4× the 1997 shipped
    * quantity — of name-prefixed parts. The doubly-nested IN: suppliers
    * IN (pairs whose availqty beats a correlated per-pair scalar), pair
    * parts IN (prefix-filtered part keys).
    *
    * Scale shape: the LIKE-prefixed part keys broadcast into `supplies`;
    * the correlated scalar decorrelates to a per-(part, supp)
    * aggregate of the date-pruned fact joined back on the SAME key the
    * relation is already shuffled on; the surviving supplier keys
    * distinct to ≤|supplier| rows and broadcast into the dimension.
    * Quantity sums are integer-valued, so the ×4 compare is exact.
    */
  def qTpchQ20(s: SparkSession, dir: String): DataFrame = {
    val blue = Tables.table(s, dir, "part")
      .filter(col("p_name").like("blue%")).select("p_partkey")
    val q97 = Tables.table(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("l_partkey").as("_qpk"), col("l_suppkey").as("_qsk"))
      .agg(sum("l_quantity").as("_q97"))
    val excess = supplies(s, dir)
      .join(broadcast(blue), col("ps_partkey") === col("p_partkey"))
      .join(q97, col("ps_partkey") === col("_qpk") && col("ps_suppkey") === col("_qsk"))
      .filter(col("ps_availqty") > lit(4.0) * col("_q97"))
      .select("ps_suppkey").distinct()
    Tables.table(s, dir, "supplier")
      .join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .join(broadcast(Tables.table(s, dir, "nation")
        .filter(col("n_name") === "NATION_19")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), r6(col("s_acctbal")).as("acctbal"))
      .orderBy("s_name")
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): per-supplier
    * count of finished multi-supplier orders where THIS supplier shipped
    * late (> 30 days after order, the q_tpch_q4 lateness) and NO OTHER
    * supplier did — the EXISTS + NOT-EXISTS double-correlated self-join,
    * the hardest subquery shape in TPC-H.
    *
    * Scale shape: the lateness-annotated (order, supplier) frame derives
    * once from fact ⋈ orders; the EXISTS becomes a LeftSemi and the
    * NOT EXISTS a LeftAnti, BOTH equi-keyed on the uniform order key
    * with the supplier inequality as a join residual — three shuffles
    * on the same key, no cartesian anywhere (PlanSpec-asserted). Each
    * late line counts once, exactly as the oracle's correlated
    * spelling.
    */
  def qTpchQ21(s: SparkSession, dir: String): DataFrame = {
    val lo = Tables.table(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(Tables.table(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
          .as("late"))
    val l1 = lo.filter(col("late"))
    val others = lo.select(col("ok").as("ok2"), col("sk").as("sk2"))
    val lateOthers = l1.select(col("ok").as("ok3"), col("sk").as("sk3"))
    l1
      .join(others, col("ok") === col("ok2") && col("sk") =!= col("sk2"),
        "left_semi")
      .join(lateOthers, col("ok") === col("ok3") && col("sk") =!= col("sk3"),
        "left_anti")
      .join(Tables.table(s, dir, "supplier"), col("sk") === col("s_suppkey"))
      .join(broadcast(Tables.table(s, dir, "nation")
        .filter(col("n_name") === "NATION_19")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  private val revD = "l_extendedprice * (1 - l_discount)"

  val gates: Map[String, Gate] = Gate.registry(
    "q_tpch_q2" -> Gate(qTpchQ2 _, // correlated min — the engine's group-min must agree
      s"WITH $psCte, cand AS (SELECT ps_partkey, ps_supplycost, s_acctbal, " +
        "s_name, n_name FROM ps, part, supplier, nation, region " +
        "WHERE p_partkey = ps_partkey AND p_size = 15 " +
        "AND s_suppkey = ps_suppkey AND s_nationkey = n_nationkey " +
        "AND n_regionkey = r_regionkey AND r_name = 'ASIA') " +
        s"SELECT ${O.r6("s_acctbal")} AS acctbal, s_name, n_name, ps_partkey, " +
        s"${O.r6("ps_supplycost")} AS supplycost FROM cand c " +
        "WHERE ps_supplycost = (SELECT min(ps_supplycost) FROM cand c2 " +
        "WHERE c2.ps_partkey = c.ps_partkey) " +
        "ORDER BY acctbal DESC, n_name, s_name, ps_partkey LIMIT 100"),
    "q_tpch_q9" -> Gate(qTpchQ9 _,
      s"WITH $psCte SELECT n_name AS nation, year(o_orderdate) AS o_year, " +
        s"${O.dsum(O.r6(s"$revD - ps_supplycost * l_quantity"))} AS sum_profit " +
        "FROM lineitem, ps, part, supplier, nation, orders " +
        "WHERE ps_partkey = l_partkey AND ps_suppkey = l_suppkey " +
        "AND p_partkey = l_partkey AND p_name LIKE '%anvil%' " +
        "AND s_suppkey = l_suppkey AND n_nationkey = s_nationkey " +
        "AND o_orderkey = l_orderkey " +
        "GROUP BY 1, 2 ORDER BY nation, o_year DESC"),
    "q_tpch_q11" -> Gate(qTpchQ11 _,
      s"WITH $psCte, np AS (SELECT ps_partkey, " +
        s"${O.r6("ps_supplycost * ps_availqty")} AS v FROM ps, supplier, nation " +
        "WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey " +
        "AND n_name = 'NATION_19') " +
        s"SELECT ps_partkey, ${O.r6("sumv")} AS value FROM " +
        "(SELECT ps_partkey, CAST(CAST(sum(CAST(v AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) " +
        "AS sumv FROM np GROUP BY 1) " +
        "WHERE sumv > (SELECT CAST(CAST(sum(CAST(v AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) " +
        "* 0.001 FROM np) ORDER BY value DESC, ps_partkey"),
    "q_tpch_q12" -> Gate(qTpchQ12 _,
      "SELECT CASE WHEN date_diff('day', o_orderdate::DATE, l_shipdate::DATE) " +
        "> 60 THEN 'SLOW' WHEN date_diff('day', o_orderdate::DATE, " +
        "l_shipdate::DATE) <= 7 THEN 'FAST' ELSE 'MED' END AS delay_class, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') " +
        "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count " +
        "FROM orders, lineitem WHERE o_orderkey = l_orderkey " +
        "AND l_shipdate >= TIMESTAMP '1997-01-01' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01' " +
        "GROUP BY 1 ORDER BY delay_class"),
    "q_tpch_q15" -> Gate(qTpchQ15 _,
      s"WITH rev AS (SELECT l_suppkey, ${O.dsum(revD)} AS total_revenue " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' " +
        "AND l_shipdate < TIMESTAMP '1997-04-01' GROUP BY 1) " +
        "SELECT s_suppkey, s_name, total_revenue FROM supplier, rev " +
        "WHERE s_suppkey = l_suppkey " +
        "AND total_revenue = (SELECT max(total_revenue) FROM rev) " +
        "ORDER BY s_suppkey"),
    "q_tpch_q16" -> Gate(qTpchQ16 _,
      "SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS " +
        "supplier_cnt FROM (SELECT DISTINCT l_partkey, l_suppkey " +
        "FROM lineitem) pairs, part " +
        "WHERE p_partkey = l_partkey AND p_brand <> 'Brand#4' " +
        "AND p_type <> 'PROMO' AND p_size IN (1, 5, 9, 14, 23, 36, 45, 49) " +
        "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier " +
        "WHERE s_acctbal < 0) " +
        "GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"),
    "q_tpch_q20" -> Gate(qTpchQ20 _, // correlated per-pair scalar — engine decorrelates
      s"WITH $psCte SELECT s_name, ${O.r6("s_acctbal")} AS acctbal " +
        "FROM supplier, nation " +
        "WHERE s_nationkey = n_nationkey AND n_name = 'NATION_19' " +
        "AND s_suppkey IN (SELECT ps_suppkey FROM ps " +
        "WHERE ps_partkey IN (SELECT p_partkey FROM part " +
        "WHERE p_name LIKE 'blue%') " +
        "AND ps_availqty > 4 * (SELECT sum(l_quantity) FROM lineitem " +
        "WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey " +
        "AND l_shipdate >= TIMESTAMP '1997-01-01' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01')) ORDER BY s_name"),
    "q_tpch_q21" -> Gate(qTpchQ21 _, // EXISTS + NOT EXISTS, correlated on key AND supplier ≠
      "WITH lo AS (SELECT l_orderkey AS ok, l_suppkey AS sk, " +
        "(l_shipdate > o_orderdate + INTERVAL 30 DAY) AS late " +
        "FROM lineitem, orders " +
        "WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F') " +
        "SELECT s_name, count(*) AS numwait FROM lo l1, supplier, nation " +
        "WHERE l1.late AND l1.sk = s_suppkey " +
        "AND s_nationkey = n_nationkey AND n_name = 'NATION_19' " +
        "AND EXISTS (SELECT 1 FROM lo l2 WHERE l2.ok = l1.ok " +
        "AND l2.sk <> l1.sk) " +
        "AND NOT EXISTS (SELECT 1 FROM lo l3 WHERE l3.ok = l1.ok " +
        "AND l3.sk <> l1.sk AND l3.late) " +
        "GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100"),
  )
}
