package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine determinism helpers (SURVEY.md §5.3).
  *
  * The driver hash-compares query results against DuckDB on identical
  * parquet inputs, so every floating-point aggregate must be *exactly*
  * reproducible, not merely close. Plain `avg(double)` is summation-order
  * dependent (Spark's partial/final aggregation vs DuckDB's sequential
  * scan differ in the last ulps, which can flip a 6-dp rounding). The fix:
  * route sums through DECIMAL — decimal addition is exact and
  * order-independent, and a double→DECIMAL(p,6) cast has no
  * representable tie points (x.5e-6 is never a dyadic rational), so both
  * engines produce the identical decimal, hence the identical double after
  * one final division.
  */
object Det {

  /** 6-dp rounding as pure IEEE double ops: `floor(x*1e6 + 0.5)/1e6`.
    *
    * Spark's `round` (exact BigDecimal HALF_UP) and DuckDB's `round`
    * (double multiply) disagree when the true value sits within one ulp of
    * a .5 boundary; spelling the rounding as the same double expression in
    * both engines makes it bit-identical everywhere. (Half-up-toward-+inf
    * for negatives — acceptable: match matters, not tie direction.)
    */
  def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** Canonical decimal→double conversion: through a STRING. Both
    * engines' string→double parse is correctly rounded (Java
    * `Double.parseDouble`, DuckDB fast_float), whereas the direct
    * decimal→double casts diverge by one ulp once the decimal's scaled
    * integer exceeds 2^53 (DuckDB converts int128 in two halves —
    * double rounding; found at the sf1 sweep: 1.0×10¹¹-scale revenue
    * sums differed in the 5th decimal, SCALE.md §10h). Below 2^53
    * units both routes give the identical double, so this is a pure
    * widening of the deterministic domain.
    */
  private def dec2dbl(c: Column): Column = c.cast("string").cast("double")

  /** Exactly-deterministic mean, rounded to 6 dp: decimal sum (exact,
    * order-independent) → one double division → [[r6]]. DuckDB oracle must
    * use [[Oracle.davg]] for the same expression.
    */
  def davg(c: Column): Column =
    r6(dec2dbl(sum(c.cast("decimal(25,6)"))) / count(lit(1)))

  /** Exactly-deterministic sum of doubles, as a double rounded to 6 dp. */
  def dsum(c: Column): Column =
    r6(dec2dbl(sum(c.cast("decimal(25,6)"))))

  /** [[dsum]] specialized to terms that are ALREADY 6-dp values ([[r6]]
    * outputs): scale each term to its exact integer (`floor(x*1e6+0.5)`
    * recovers it — the double's representation error is ~1e-10 of a
    * unit, far inside the ±0.5 window), sum LONGS in the codegen'd
    * fast path, and rebuild the decimal once per group. The long sum
    * IS the decimal sum scaled by 1e6, so the value is bit-identical
    * to [[dsum]]'s — but the per-row accumulate is a long add instead
    * of a heap BigDecimal add (DECIMAL(25,6) exceeds Spark's
    * compact-long precision 18), and the partial-agg shuffle row
    * carries 8 bytes instead of an unbounded-length decimal. Measured
    * 144M-row wedge aggregate (q_adamic sf0.1): the whole scored stage
    * dropped ~2× (SCALE.md §11).
    *
    * Domain: |Σ scaled terms| < 2^63 — i.e. ~9.2×10¹² units of
    * magnitude-1e6 terms PER GROUP — overflow needs a single group
    * with trillions of terms, beyond any bounded-fanout operator here.
    */
  def dsum6(c: Column): Column =
    dsumScaled6(floor(c * lit(1e6) + lit(0.5)).cast("long"))

  /** [[dsum6]] for terms ALREADY scaled to 1e-6-unit longs (an operator
    * that rounds products itself — [[graft.ops.LinAlg.scale6]] — hands
    * the exact scaled integers straight in, skipping the double
    * round-trip). The long sum IS the DECIMAL(·,6) sum; the rebuild
    * spelling is byte-identical to [[dsum6]]'s so values hash-match
    * the [[dsum]] family.
    */
  def dsumScaled6(c: Column): Column =
    r6(dec2dbl(
      (sum(c).cast("decimal(38,6)")
        / lit(1000000)).cast("decimal(38,6)")))
}

/** DuckDB-side spellings of the same deterministic expressions, for
  * building oracle SQL strings.
  */
object Oracle {
  def r6(x: String): String = s"floor(($x)*1e6 + 0.5)/1e6"
  // decimal→double through VARCHAR: see Det.dec2dbl — DuckDB's direct
  // int128→double cast double-rounds past 2^53 scaled units
  def davg(x: String): String =
    r6(s"CAST(CAST(sum(CAST($x AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) / count(*)")
  /** [[dsum]] before its r6 rounding. */
  def dsumRaw(x: String): String =
    s"CAST(CAST(sum(CAST($x AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)"
  def dsum(x: String): String = r6(dsumRaw(x))
  /** Cosine between two list columns: sequential double dot product and
    * norms, one final division — the fold order of
    * [[graft.functions.CosineSim]] and Spark's `aggregate`. */
  def cos(a: String, b: String): String =
    s"list_sum(list_transform(range(len($a)), i -> $a[i+1]::DOUBLE * $b[i+1]::DOUBLE)) / " +
      s"(sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE))) * " +
      s"sqrt(list_sum(list_transform($b, x -> x::DOUBLE * x::DOUBLE))))"
  /** The co-purchase graph of `lineitem`: distinct part pairs (u < v)
    * bought in one order, the oracle of [[graft.ops.Graphs.coOccurrenceEdges]]
    * over (l_orderkey, l_partkey). */
  val coPurchaseEdges: String =
    "SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v " +
      "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey " +
      "AND a.l_partkey < b.l_partkey"
}
