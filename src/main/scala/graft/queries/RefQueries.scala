package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Det._
import graft.sources.Tables

/** Reference-parity query set (SURVEY.md §2.10) over the driver's
  * TPC-H-ish testdata. Each query exercises one row (or a small group) of
  * the SURVEY §2 operator inventory, re-expressed over the synthetic
  * tables, and is paired with DuckDB oracle SQL producing the identical
  * result (same column names, total ORDER BY, deterministic arithmetic —
  * see [[Det]]).
  *
  * Operator coverage ↔ reference sites:
  *  - q_scan        S2/S3 parquet scan (`src/pipeline/main_train.py:46`)
  *  - q_count       A2 global count (`src/pipeline/main_etl.py:81`)
  *  - q_derive      P1-P5 casts + datetime derivations
  *                  (`src/features/transformations.py:7-33`)
  *  - q_filter      F1-F4 filter forms + P6 ratio derivation
  *                  (`src/features/transformations.py:17-38`)
  *  - q_join        J1 broadcast left USING-join on a literal lookup (S4)
  *                  (`src/features/transformations.py:40-46`)
  *  - q_agg         A1 two-key hash aggregate with count + 3 avgs, P9
  *                  aliases (`src/pipeline/etl_writer.py:24-32`)
  *  - q_sort_limit  O1/O2/O3 multi-column sort + limit
  *                  (`src/pipeline/etl_writer.py:35`, `trainer.py:51`)
  *  - q_dropna      F6 na.drop (`src/models/trainer.py:40`)
  *  - q_e2e         S1→A1 vertical slice: CSV export/infer-read, clean,
  *                  join, aggregate (`src/pipeline/main_etl.py` end-to-end)
  *  - q_sample      O5 seeded Bernoulli sample — interval contract gate
  *                  (§5.3: the RNG draw is engine-specific, so the gate
  *                  hashes the binomial 6σ bound and a within-bound flag
  *                  instead of the sampled rows; the q_compress pattern)
  *  - q_split       O6 seeded randomSplit — same contract gate, plus the
  *                  partition invariant (parts sum to the whole)
  */
object RefQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** 4-row priority lookup (S4 analog of the reference's 6-row payment
    * lookup); deliberately omits '4-NOT SPECIFIED' so the left join
    * produces nulls like unmatched payment codes do.
    */
  private def prioLookup(s: SparkSession): DataFrame =
    s.createDataFrame(Seq(
      ("1-URGENT", 1, "critical"),
      ("2-HIGH", 2, "high"),
      ("3-MEDIUM", 3, "medium"),
      ("5-LOW", 5, "low"),
    )).toDF("o_orderpriority", "prio_rank", "prio_class")

  private val prioLookupSql =
    "(VALUES ('1-URGENT', 1, 'critical'), ('2-HIGH', 2, 'high'), " +
      "('3-MEDIUM', 3, 'medium'), ('5-LOW', 5, 'low')) " +
      "AS l(o_orderpriority, prio_rank, prio_class)"

  private val eventLookupSql =
    graft.etl.EventsPipeline.EventLookup
      .map { case (k, v) => s"('$k', '$v')" }
      .mkString("(VALUES ", ", ", ") AS l(event_type, event_desc)")

  // ---- queries --------------------------------------------------------

  def qScan(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_linestatus")
      // total order over the projection (q_filter's lesson): duplicate
      // (l_orderkey, l_linenumber) pairs exist in the synthetic
      // lineitem, and with a 2-key sort the LIMIT boundary admits
      // whichever duplicate the engine happened to order first
      .orderBy("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_returnflag", "l_linestatus")
      .limit(20)

  def qCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(count(lit(1)).as("n_rows"))

  def qDerive(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // P2 analog: epoch-seconds difference between ts and ts+floor(value)s,
    // in minutes as double (`src/features/transformations.py:11-15`).
    val sec = col("ts").cast("long")
    val ts2 = timestamp_seconds(sec + floor(col("value")))
    ev.select(
      col("event_id"),
      to_date(col("ts")).as("d"),                    // P3
      hour(col("ts")).as("hr"),                      // P4
      date_format(col("ts"), "E").as("dow"),         // P5
      r6((ts2.cast("long") - sec) / 60.0).as("dur_min"), // P2
    ).orderBy("event_id")
  }

  def qFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      // F1: SQL-string conjunctive predicate
      .filter("l_quantity > 0 AND l_extendedprice > 0 AND l_tax >= 0")
      // F2: inclusive BETWEEN
      .filter(col("l_discount").between(0.01, 0.06))
      // F3: strict bounding ranges on two columns
      .filter(col("l_partkey") > 100 && col("l_partkey") < 1500 &&
        col("l_suppkey") > 5 && col("l_suppkey") < 95)
      // P6 analog + F4: derived ratio, then inclusive range on it
      .withColumn("price_per_qty", r6(col("l_extendedprice") / col("l_quantity")))
      .filter(col("price_per_qty").between(0, 100000))
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount", "price_per_qty")
      // total order over the WHOLE projection: the synthetic lineitem
      // carries duplicate (l_orderkey, l_linenumber) pairs whose other
      // columns differ, so the original 2-key sort left the dup's
      // relative order to engine whim — it hash-matched at sf0.1 by
      // coincidence and diverged on the sf1 replica. Sorting by every
      // emitted column makes any remaining tie a full-row duplicate,
      // which no positional compare can tell apart.
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount")

  def qJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(prioLookup(s)), Seq("o_orderpriority"), "left")
      .select("o_orderpriority", "o_orderkey", "o_custkey", "o_totalprice",
        "prio_rank", "prio_class")
      .orderBy("o_orderkey")

  def qAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("ship_date"), col("l_returnflag"))
      .agg(
        count(lit(1)).as("total_cnt"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
      )
      .orderBy("ship_date", "l_returnflag")

  def qSortLimit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(to_date(col("l_shipdate")).as("ship_date"),
        col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      .orderBy("ship_date", "l_extendedprice", "l_orderkey", "l_linenumber")
      .limit(10)

  def qDropna(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(prioLookup(s)), Seq("o_orderpriority"), "left")
      .na.drop()
      .agg(count(lit(1)).as("n_rows"))

  // one CSV export per (JVM, sf dir), deleted at JVM exit: repeat calls
  // re-read it instead of leaving a new dir each. A per-JVM dir, not a
  // fixed shared path, so two concurrent sessions (Verify + a test run)
  // never overwrite each other mid-read.
  private val e2eCsvFor =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** S1→A1 vertical slice (SURVEY §7.2): export events to CSV, re-read
    * with header+inferSchema, then the full clean-and-aggregate pipeline
    * (cast, derive, 4 filter forms, broadcast left join, 2-key agg, sort).
    */
  def qE2e(s: SparkSession, dir: String): DataFrame = {
    val csv = e2eCsvFor.computeIfAbsent(dir, { _ =>
      val base = java.nio.file.Files.createTempDirectory("graft_e2e_csv")
      sys.addShutdownHook(graft.streaming.EventStreams.deleteTree(base))
      val out = base.resolve("events").toString
      Tables.exportCsv(Tables.events(s, dir), out)
      out
    })
    val raw = Tables.csvInfer(s, csv)
    graft.etl.EventsPipeline.clean(raw) // P1-P6, F1-F4, J1
      .groupBy("d", "hr", "event_desc") // A1
      .agg(
        count(lit(1)).as("total_events"),
        davg(col("value")).as("avg_value"),
        davg(col("dur_min")).as("avg_dur_min"),
        davg(col("rate")).as("avg_rate"),
      )
      .orderBy("d", "hr", "event_desc") // O1
  }

  /** The binomial 6σ plausibility interval for a fraction-`p` draw over
    * `n` rows: [floor(np − 6σ), ceil(np + 6σ)], σ = sqrt(np(1−p)) —
    * the PropertySpec bound promoted into the hash gate. 6σ makes a
    * false alarm essentially impossible (P < 2e-9) while still failing
    * loudly on a broken sampler (wrong fraction, double-sampling,
    * non-uniform partitioner). All arithmetic in DOUBLE on both
    * engines; the irrational σ term keeps floor/ceil off exact-integer
    * boundaries, so the derived lo/hi hash-match DuckDB's.
    */
  private def bounds(n: Column, p: Double): (Column, Column) = {
    val mu = n * p
    val sd = sqrt(n * p * (1 - p))
    (floor(mu - sd * 6).cast("long"), ceil(mu + sd * 6).cast("long"))
  }

  private def boundsSql(p: Double): (String, String) = {
    val mu = s"(n_base * ${p}::DOUBLE)"
    val sd = s"6 * sqrt(n_base * ${p}::DOUBLE * ${1 - p}::DOUBLE)"
    (s"CAST(floor($mu - $sd) AS BIGINT)", s"CAST(ceil($mu + $sd) AS BIGINT)")
  }

  /** O5: seeded Bernoulli sample — interval contract gate. The sampled
    * row set is engine-RNG-specific (§5.3), so the gate output is the
    * deterministic part of the contract: the base count, the binomial
    * 6σ interval, and `within` — TRUE iff the actual draw landed inside
    * it. The oracle recomputes n/lo/hi independently and asserts
    * `TRUE AS within`, so an out-of-interval draw hash-fails the gate.
    * Seed-determinism of the draw itself is PropertySpec's job.
    *
    * Scale shape: two single-pass counts over the table (one filtered by
    * the sample predicate), combined by a 1-row broadcast crossJoin — no
    * row data ever leaves the executors.
    */
  def qSample(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "lineitem")
    val k = base
      .sample(withReplacement = false, fraction = 0.05, seed = 42)
      .agg(count(lit(1)).as("k"))
    val (lo, hi) = bounds(col("n_base"), 0.05)
    base.agg(count(lit(1)).as("n_base"))
      .crossJoin(k)
      .select(col("n_base"), lo.as("lo"), hi.as("hi"),
        col("k").between(lo, hi).as("within"))
  }

  /** O6: seeded randomSplit — the same interval contract gate on the
    * 80% part, plus randomSplit's structural invariant: the parts are a
    * PARTITION of the input (`partition_exact` = counts sum back to the
    * whole; disjointness is PropertySpec's set-level assertion).
    */
  def qSplit(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val parts = orders.randomSplit(Array(0.8, 0.2), seed = 42)
    val k0 = parts(0).agg(count(lit(1)).as("k0"))
    val k1 = parts(1).agg(count(lit(1)).as("k1"))
    val (lo, hi) = bounds(col("n_base"), 0.8)
    orders.agg(count(lit(1)).as("n_base"))
      .crossJoin(k0).crossJoin(k1)
      .select(col("n_base"), lo.as("lo"), hi.as("hi"),
        col("k0").between(lo, hi).as("within"),
        (col("k0") + col("k1") === col("n_base")).as("partition_exact"))
  }

  // ---- registry -------------------------------------------------------

  import graft.queries.{Oracle => O}

  val gates: Map[String, Gate] = Gate.registry(
    "q_scan" -> Gate(qScan _,
      "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, " +
        "l_returnflag, l_linestatus FROM lineitem " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, " +
        "l_returnflag, l_linestatus LIMIT 20"),
    "q_count" -> Gate(qCount _, "SELECT count(*) AS n_rows FROM lineitem"),
    "q_derive" -> Gate(qDerive _,
      "SELECT event_id, ts::DATE AS d, hour(ts)::INT AS hr, " +
        "strftime(ts::TIMESTAMP, '%a') AS dow, " +
        O.r6("((epoch_us(ts::TIMESTAMP)//1000000 + CAST(floor(value) AS BIGINT)) " +
          "- epoch_us(ts::TIMESTAMP)//1000000) / 60.0") + " AS dur_min " +
        "FROM events ORDER BY event_id"),
    "q_filter" -> Gate(qFilter _,
      "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, " +
        "l_extendedprice, l_discount, " +
        O.r6("l_extendedprice / l_quantity") + " AS price_per_qty " +
        "FROM lineitem " +
        "WHERE l_quantity > 0 AND l_extendedprice > 0 AND l_tax >= 0 " +
        "AND l_discount BETWEEN 0.01 AND 0.06 " +
        "AND l_partkey > 100 AND l_partkey < 1500 " +
        "AND l_suppkey > 5 AND l_suppkey < 95 " +
        "AND " + O.r6("l_extendedprice / l_quantity") + " BETWEEN 0 AND 100000 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, " +
        "l_quantity, l_extendedprice, l_discount"),
    "q_join" -> Gate(qJoin _,
      "SELECT o_orderpriority, o_orderkey, o_custkey, o_totalprice, " +
        s"prio_rank, prio_class FROM orders LEFT JOIN $prioLookupSql " +
        "USING (o_orderpriority) ORDER BY o_orderkey"),
    "q_agg" -> Gate(qAgg _,
      "SELECT l_shipdate::DATE AS ship_date, l_returnflag, " +
        "count(*) AS total_cnt, " +
        s"${O.davg("l_quantity")} AS avg_qty, " +
        s"${O.davg("l_extendedprice")} AS avg_price, " +
        s"${O.davg("l_discount")} AS avg_disc " +
        "FROM lineitem GROUP BY 1, 2 ORDER BY ship_date, l_returnflag"),
    "q_sort_limit" -> Gate(qSortLimit _,
      "SELECT l_shipdate::DATE AS ship_date, l_extendedprice, l_orderkey, " +
        "l_linenumber FROM lineitem " +
        "ORDER BY ship_date, l_extendedprice, l_orderkey, l_linenumber " +
        "LIMIT 10"),
    "q_dropna" -> Gate(qDropna _,
      s"SELECT count(*) AS n_rows FROM orders JOIN $prioLookupSql " +
        "USING (o_orderpriority)"),
    "q_e2e" -> Gate(qE2e _,
      "WITH ev AS (SELECT *, epoch_us(ts::TIMESTAMP)//1000000 AS sec FROM events), " +
        "c AS (SELECT *, ((sec + CAST(floor(value) AS BIGINT)) - sec) / 60.0 AS dur_min " +
        "FROM ev WHERE value > 0 AND user_id >= 0), " +
        "f AS (SELECT *, value / (dur_min / 60.0) AS rate FROM c " +
        "WHERE dur_min BETWEEN 1 AND 180 " +
        "AND value > 0.5 AND value < 400.0 AND user_id > 1 AND user_id < 140), " +
        s"j AS (SELECT f.*, ts::DATE AS d, hour(ts)::INT AS hr, l.event_desc " +
        s"FROM f LEFT JOIN $eventLookupSql USING (event_type) " +
        "WHERE rate BETWEEN 0 AND 50000) " +
        "SELECT d, hr, event_desc, count(*) AS total_events, " +
        s"${O.davg("value")} AS avg_value, " +
        s"${O.davg("dur_min")} AS avg_dur_min, " +
        s"${O.davg("rate")} AS avg_rate " +
        "FROM j GROUP BY d, hr, event_desc " +
        "ORDER BY d, hr, event_desc NULLS FIRST"),
    // interval contract gates (see qSample/qSplit scaladoc): the oracle
    // recomputes n_base and the 6σ bounds independently; the TRUE
    // columns assert the engine's draw landed inside them
    "q_sample" -> Gate(qSample _, {
      val (lo, hi) = boundsSql(0.05)
      "SELECT n_base, " + s"$lo AS lo, $hi AS hi, TRUE AS within " +
        "FROM (SELECT count(*) AS n_base FROM lineitem)"
    }),
    "q_split" -> Gate(qSplit _, {
      val (lo, hi) = boundsSql(0.8)
      "SELECT n_base, " + s"$lo AS lo, $hi AS hi, TRUE AS within, " +
        "TRUE AS partition_exact FROM (SELECT count(*) AS n_base FROM orders)"
    }),
  )
}
