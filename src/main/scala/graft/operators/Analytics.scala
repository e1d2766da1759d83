package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Core analytic queries over the star schema.
  *
  * These are the throughput headliners: full-scan aggregation, selective
  * multi-way joins (dimensions always broadcast), window top-k, and the
  * time-ordered operators (sessionize, as-of) built as single-shuffle
  * window plans rather than row-explosion joins.
  *
  * Money aggregates are emitted as fixed-point BIGINT (cents) so the
  * DuckDB oracle compares integers, not floats.
  */
object Analytics {

  /** Per-row rounding to cents — ONLY for scalar (non-aggregated) money
    * values, where one round of one double is already order-independent. */
  private def cents(c: org.apache.spark.sql.Column, scale: Int = 100) =
    round(c * scale, 0).cast("long")

  /** Per-row exact cents for SUMMED money columns. Every money column
    * carries 2 decimals, so round(x·100) per ROW is exact; a LONG sum of
    * these is an order-independent pure function of the row set. The
    * round-AFTER-sum form — round(sum(double)·100) — sums doubles whose
    * last ulp depends on accumulation order: the sf1 gate caught
    * q_topk_window 3/3000 rows one cent apart between engines (r14), and
    * larger groups only widen the window. Family-wide rule since r15:
    * never round an aggregated double; aggregate rounded integers. */
  private def c100(c: org.apache.spark.sql.Column) =
    round(c * 100, 0).cast("long")

  /** Exact lineitem revenue Σ p·(1−d) in cents with a LONG accumulator:
    * per-row p100·(100−d100) ≤ 10⁹, so the sum wraps only past ~10¹⁰
    * rows per GROUP — fine wherever the group key's cardinality scales
    * with the fact table (per-order, per-(supp,part), …). */
  private val revenueSumLong =
    """sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
      |    * (100L - CAST(round(l_discount * 100, 0) AS BIGINT)))
      |  div 100L""".stripMargin

  /** Same revenue sum with a DECIMAL(38,0) accumulator — for constant-
    * cardinality groups (per-flag, per-nation, rollup/cube grand totals)
    * whose size IS the corpus: a LONG sum of 10⁹-scale products wraps
    * near 10¹⁰ rows/group, within reach of a 100 TB grand total. The
    * tx_bm25 pattern; DuckDB mirrors it for free (sum(BIGINT)→HUGEINT). */
  private val revenueSumDec =
    """sum(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
      |         * (100L - CAST(round(l_discount * 100, 0) AS BIGINT))
      |    AS DECIMAL(38,0)))
      |  div 100""".stripMargin

  /** TPC-H Q1-style pricing summary: one full scan, 4-group agg.
    *
    * All value columns are integer-exact: per-row cents/basis-point
    * LONGs summed (DECIMAL(38,0) accumulators for the 10⁴–10⁶-scale
    * products — the groups here are corpus-sized), averages derived
    * from (exact sum, count) by one double division + round, which is
    * deterministic for exact-integer inputs in any accumulation order. */
  def q1Pricing(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    def avgOf(sumCol: String) =
      round(col(sumCol).cast("double") / col("count_order"), 0).cast("long")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(c100(col("l_quantity"))).as("sum_qty"),
        sum(c100(col("l_extendedprice"))).as("sum_base_price"),
        expr(revenueSumDec).as("sum_disc_price"),
        expr(
          """sum(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
            |         * (100L - CAST(round(l_discount * 100, 0) AS BIGINT))
            |         * (100L + CAST(round(l_tax * 100, 0) AS BIGINT))
            |    AS DECIMAL(38,0)))
            |  div 10000""".stripMargin).as("sum_charge"),
        sum(round(col("l_discount") * 10000, 0).cast("long")).as("sum_disc_bp"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("sum_qty"), col("sum_base_price"),
        col("sum_disc_price"), col("sum_charge"),
        avgOf("sum_qty").as("avg_qty"),
        avgOf("sum_base_price").as("avg_price"),
        avgOf("sum_disc_bp").as("avg_disc"),
        col("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q3-style: top unshipped-order revenue. Dims broadcast. */
  def q3Shipping(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    // Customer scales with the fact data (150k×sf — segment-filtered it
    // is still corpus-growing, the exact class the PlanAuditSpec 10x
    // sweep forbids an UNCONDITIONAL hint on), so its hint is gated on
    // the optimizer's file-size estimate (Sampling.statsGatedBroadcast):
    // zero extra jobs, the estimate grows with the stored corpus, and
    // past the gate AQE's runtime-measured conversion is the fallback —
    // r16 dropped the hint outright and paid an extra AQE shuffle-stage
    // round-trip at sandbox SFs (0.65 -> 0.88 s). Orders filtered by
    // date alone is O(fact) rows: never hinted, AQE decides.
    li.join(ord.join(Sampling.statsGatedBroadcast(cust),
        ord("o_custkey") === cust("c_custkey")),
        li("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(expr(revenueSumLong).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style: revenue by nation inside one region+date window. */
  def q5Local(spark: SparkSession, sfDir: String): DataFrame = {
    val region = Tables.region(spark, sfDir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, sfDir)
    val supp = Tables.supplier(spark, sfDir)

    // customer (150k×sf) and supplier (10k×sf) scale with the fact data, so
    // they shuffle-join; only nation/region (true fixed-size dims) broadcast.
    li.join(supp, li("l_suppkey") === supp("s_suppkey"))
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey") &&
        cust("c_nationkey") === supp("s_nationkey"))
      .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(expr(revenueSumDec).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Window top-k: top 3 parts per supplier by revenue.
    *
    * Deliberately TWO shuffles: the (l_suppkey, l_partkey) aggregation
    * gets map-side partial combine (≈7× row reduction on TPC-H shapes
    * before anything moves), then the window re-shuffles only the small
    * aggregated output on l_suppkey. The tempting single-shuffle variant
    * — repartition raw rows by l_suppkey so agg + window share one
    * exchange — moves the UNREDUCED fact table and measures slower at
    * sf0.1 (and is strictly more network at scale whenever partial agg
    * reduces >2×). Spark's WindowGroupLimit also prunes to top-3 per
    * supplier before the full sort. */
  def topkWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    // Integer-exact revenue: price/discount carry 2 decimals, so
    // round(·100) per ROW is exact, the ×10⁴-scale sum is a LONG sum
    // (order-independent), and ONE integer division scales back to
    // cents. The float form — round(sum(p·(1−d))·100) — summed doubles
    // whose last ulp depends on accumulation order: at 10× group sizes
    // the sf1 gate caught 3/3000 rows one cent apart between engines
    // (CORRECTNESS_SF1 r14). Same output meaning (revenue in cents),
    // now a pure function of the row SET at any scale.
    val perPart = li.groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(expr(revenueSumLong).as("revenue"))
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("revenue").desc, col("l_partkey"))
    perPart.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .orderBy(col("l_suppkey"), col("rank"))
  }

  /** q_rollup: revenue at three grains in one pass — (priority, returnflag)
    * detail, per-priority subtotal, grand total — via Catalyst's native
    * ROLLUP (one shuffle; Expand feeds a single aggregation, no
    * re-aggregation of the detail pass). `gid` is the standard SQL
    * GROUPING bitmask, identical in DuckDB. */
  def rollupRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority")
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .rollup(col("o_orderpriority"), col("l_returnflag"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        expr(revenueSumDec).as("revenue"))
      .orderBy(col("gid"), col("o_orderpriority"), col("l_returnflag"))
  }

  /** q_cube: full CUBE over (priority, returnflag) — all four grains
    * (detail, per-priority, per-flag, grand total) in ONE pass: Spark
    * expands the grouping sets below a single shuffle-aggregate (Expand
    * + partial agg), so the cube costs one scan + one exchange, not four
    * queries; the GROUPING bitmask identifies each grain exactly as in
    * [[rollupRevenue]]. */
  def cubeRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority")
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .cube(col("o_orderpriority"), col("l_returnflag"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        expr(revenueSumDec).as("revenue"))
      .orderBy(col("gid"), col("o_orderpriority"), col("l_returnflag"))
  }

  /** q_decile: customer-spend deciles with exact SQL NTILE semantics but
    * NO single-task global window. repartitionByRange totally orders the
    * partitions; the global rank is the per-partition row_number plus a
    * broadcast cumulative offset derived from the tiny count-per-partition
    * table (32 rows — never the data); the NTILE bucket is then closed-form
    * arithmetic on (rank, n). Scales with the spend table, where
    * `ntile(10) OVER (ORDER BY …)` funnels every row through one task. */
  def decileSpend(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 10
    val spend = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum(c100(col("o_totalprice"))).as("spend_cents"))
    // Materialized once: the rank pass and the per-partition count table
    // BOTH read this; as two lazy branches each would re-scan orders,
    // re-aggregate spend, and re-run the range partitioning (no exchange
    // reuse fires here even under AQE — measured), and two independent
    // range-samplings assigning rows to partitions is also a correctness
    // hazard the materialization removes.
    val ranged = Sampling.materialize(spend
      .repartitionByRange(32, col("spend_cents").desc, col("o_custkey"))
      .withColumn("__pid", spark_partition_id()))
    val local = ranged.withColumn("__lrn", row_number().over(
      Window.partitionBy(col("__pid")).orderBy(col("spend_cents").desc, col("o_custkey"))))
    // pmod(__pid, 1) ≡ 0: same single-partition semantics over the 32-row
    // count table, but an explicit partition key — so this benign window
    // can't emit the "No Partition Defined" warning that would mask a real
    // data-sized global window elsewhere. (A plain lit(0) doesn't survive:
    // Spark 4's EliminateWindowPartitions folds foldable partition keys
    // back to the empty spec; pmod on a column is non-foldable.)
    val wOrd = Window.partitionBy(pmod(col("__pid"), lit(1))).orderBy(col("__pid"))
    val offs = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
      .select(col("__pid"),
        coalesce(sum(col("__cnt")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__off"),
        sum(col("__cnt")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("__n"))
    local.join(broadcast(offs), "__pid")
      .withColumn("rank", col("__lrn") + col("__off"))
      // SQL NTILE(k): base = n div k, rem = n mod k; the first rem buckets
      // hold base+1 rows, the rest base.
      .selectExpr("spend_cents",
        s"""CASE WHEN rank <= (__n div $k + 1) * (__n % $k)
           |     THEN (rank - 1) div (__n div $k + 1) + 1
           |     ELSE (__n % $k) + (rank - 1 - (__n div $k + 1) * (__n % $k))
           |            div greatest(__n div $k, 1L) + 1
           |END AS decile""".stripMargin)
    .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend_cents")).as("total_cents"),
        min(col("spend_cents")).as("min_cents"),
        max(col("spend_cents")).as("max_cents"))
      .orderBy(col("decile"))
  }

  /** q_market_basket: part co-occurrence — how often two parts appear in
    * the same order. The naive lineitem⋈lineitem self-join on orderkey
    * re-evaluates the scan twice and explodes skewed orders inside the
    * join; instead each order's distinct part set is collected (bounded by
    * order size, single-digit on TPC-H shapes) and ordered pairs explode
    * MAP-SIDE from the sorted array — one shuffle to build baskets, one
    * map-side-combinable count on the pairs. */
  def marketBasket(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey"))
    val baskets = li.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
    baskets.select(explode(Dedup.pairsOf(col("parts"))).as("p"))
      .groupBy(col("p.a").as("part_a"), col("p.b").as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(100)
  }

  /** Event funnel: per-type volume, reach, and value. */
  def eventsFunnel(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(c100(col("value"))).as("total_value"))
      .orderBy(col("event_type"))

  /** Funnel completion window: later steps must land within this many
    * days of the user's first view (the windowFunnel parameter). */
  val FunnelWindowDays = 7

  /** q_funnel_steps: the ORDERED, WINDOWED funnel (view → click →
    * purchase, each step strictly after the previous and the whole chain
    * within [[FunnelWindowDays]] of the first view — windowFunnel
    * semantics, which q_events_funnel's per-type volumes don't capture):
    * per user the deepest stage reached and the first-view →
    * first-qualifying-purchase latency. Three user-keyed aggregates
    * chained by equi-joins — every shuffle is on user_id
    * (AQE-splittable), events are scanned once per stage with the
    * event-type filter pushed to the scan, and no per-user window
    * orders the full event stream. */
  def funnelSteps(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir).select(col("user_id"), col("event_type"), col("ts"))
    val win = expr(s"INTERVAL $FunnelWindowDays DAYS")
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts") > col("t1") && col("ts") <= col("t1") + win)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"), min(col("t1")).as("t1c"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") > col("t2") && col("ts") <= col("t1c") + win)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    v.join(c.select(col("user_id"), col("t2")), Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("t3").isNotNull, 3L).when(col("t2").isNotNull, 2L)
          .otherwise(1L).as("stage"),
        coalesce(unix_micros(col("t3")) - unix_micros(col("t1")), lit(0L)).as("funnel_us"))
      .orderBy(col("user_id"))
  }

  /** Sessionization (30-min inactivity gap): one shuffle on user_id,
    * session bounds via running sum over the gap indicator. */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val withGap = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
    val withSid = withGap.withColumn("session_seq",
      sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withSid.groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("duration_us"),
        sum(c100(col("value"))).as("session_value"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** As-of join: each event picks the latest order (keyed by
    * o_custkey % 15 = user_id) with o_orderdate <= ts - 25 years.
    *
    * Built as the union+window plan (tag both sides, carry the last-seen
    * order forward), but partitioned by the COMPOSITE (k, month-chunk):
    * a bare-k window funnels the whole union into |k|=15 sort tasks — a
    * hard parallelism ceiling at scale. Two passes instead:
    *   1. within each (k, chunk), the ordinary last_value carry;
    *   2. a per-(k, chunk) boundary state — the chunk's final order as a
    *      (t, orderkey, price) struct, max'd over all PRIOR chunks via a
    *      window on the tiny chunk table — broadcast back, filling events
    *      whose chunk has no earlier order.
    * Chunk width is a tuning knob (`chunkUnit`, any date_trunc field):
    * month here; at 100 TB pick whatever bounds one (k, chunk)'s rows to
    * a task — finer chunks raise parallelism and shrink per-task sorts
    * at the cost of a larger boundary-carry table (still one row per
    * (k, chunk), broadcastable far past week granularity). */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame =
    asofJoinChunked(spark, sfDir, "month")

  def asofJoinChunked(spark: SparkSession, sfDir: String, chunkUnit: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(
        (col("user_id") % 15).as("k"),
        (col("ts") - expr("INTERVAL 25 YEARS")).as("t"),
        col("event_id"),
        lit(null).cast("long").as("o_orderkey_in"),
        lit(null).cast("double").as("o_totalprice_in"),
        lit(1).as("is_event"))
    val ord = Tables.orders(spark, sfDir)
      .select(
        (col("o_custkey") % 15).as("k"),
        col("o_orderdate").as("t"),
        lit(null).cast("long").as("event_id"),
        col("o_orderkey").as("o_orderkey_in"),
        col("o_totalprice").as("o_totalprice_in"),
        lit(0).as("is_event"))
    val uni = ev.unionByName(ord)
      .withColumn("c", date_trunc(chunkUnit, col("t")))
    // Orders sort before events at identical timestamps (is_event asc) so an
    // order with o_orderdate == t is visible to the event, matching <=.
    val wIn = Window.partitionBy(col("k"), col("c"))
      .orderBy(col("t"), col("is_event"), col("o_orderkey_in").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, 0)
    val within = uni
      .withColumn("ok_w", last(col("o_orderkey_in"), ignoreNulls = true).over(wIn))
      .withColumn("op_w", last(col("o_totalprice_in"), ignoreNulls = true).over(wIn))
    // Boundary state: per (k, chunk) the final order struct; struct max
    // = lexicographic (t, orderkey) = the same row the carry would pick.
    val chunkLast = uni.filter(col("is_event") === 0)
      .groupBy(col("k"), col("c"))
      .agg(max(struct(col("t"), col("o_orderkey_in").as("ok"),
        col("o_totalprice_in").as("op"))).as("fin"))
    val wCarry = Window.partitionBy(col("k")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = uni.select(col("k"), col("c")).distinct()
      .join(chunkLast, Seq("k", "c"), "left")
      .withColumn("prev", max(col("fin")).over(wCarry))
      .select(col("k"), col("c"),
        col("prev.ok").as("ok_p"), col("prev.op").as("op_p"))
    within.join(broadcast(carry), Seq("k", "c"))
      .filter(col("is_event") === 1)
      .select(col("event_id"), col("k"),
        coalesce(col("ok_w"), col("ok_p")).as("o_orderkey"),
        cents(coalesce(col("op_w"), col("op_p"))).as("price_cents"))
      .orderBy(col("event_id"))
  }

  /** Range join: each event aggregates its key's orders whose o_orderdate
    * falls in the trailing 7-day window [t-7d, t] — the interval-join
    * shape Spark has no native operator for.
    *
    * A theta-join on the range predicate alone is O(events × orders) per
    * key. Two defenses compose here:
    *  - both sides bucket onto 7-day time chunks and equi-join on
    *    (k, chunk): an interval of width w probes at most
    *    ceil(w/chunk)+1 = 2 chunks (exploded map-side on the event
    *    side), the range predicate prunes inside the hash join, and a
    *    matching order lives in exactly one chunk so no dedup pass is
    *    needed; chunk width is the knob balancing probe fan-out against
    *    bucket occupancy.
    *  - the order side PRE-AGGREGATES on (k, ot) before the join — the
    *    range predicate only reads (k, ot), so orders sharing both
    *    collapse to (n, cents) partial aggregates (map-side combinable).
    *    Join candidates then scale with events × DISTINCT (k, ot) per
    *    bucket, not raw order density: at 20× verbatim replica density
    *    the probe side stays base-sized (164 s → linear; BASELINE.md
    *    r8). Sums are fixed-point cents from the partials up, so the
    *    two-level aggregation is exact integer arithmetic in any order. */
  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val weekSec = 7L * 86400L
    def chunkOf(c: org.apache.spark.sql.Column) =
      floor(unix_timestamp(c) / lit(weekSec)).cast("long")
    val ev = Tables.events(spark, sfDir)
      .select(
        col("event_id"),
        (col("user_id") % 15).as("k"),
        (col("ts") - expr("INTERVAL 25 YEARS")).as("t"))
      .withColumn("w", explode(array_distinct(array(
        chunkOf(col("t") - expr("INTERVAL 7 DAYS")), chunkOf(col("t"))))))
      .as("e")
    val ord = Tables.orders(spark, sfDir)
      .select(
        (col("o_custkey") % 15).as("k"),
        col("o_orderdate").as("ot"),
        col("o_totalprice"))
      .groupBy(col("k"), col("ot"))
      .agg(count(lit(1)).as("n"), sum(c100(col("o_totalprice"))).as("pc"))
      .withColumn("w", chunkOf(col("ot")))
      .as("o")
    ev.join(ord,
        col("e.k") === col("o.k") && col("e.w") === col("o.w") &&
          col("o.ot") >= col("e.t") - expr("INTERVAL 7 DAYS") &&
          col("o.ot") <= col("e.t"),
        "left")
      .groupBy(col("event_id"))
      .agg(
        coalesce(sum(col("n")), lit(0L)).as("n_orders"),
        coalesce(sum(col("pc")), lit(0L)).as("price_cents"))
      .orderBy(col("event_id"))
  }

  /** Cohort retention: users grouped by first-activity day, counted in
    * each subsequent day they return. Two shuffles at any scale: the
    * first-day aggregation clusters on user_id, and the (user, day)
    * distinct reuses that clustering (hash partitioning on user_id
    * co-locates every (user, day) group), so only the tiny final
    * (cohort, offset) aggregation moves data again. No self-join of the
    * fact table. */
  def retention(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    val firstDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
    val active = ev.distinct()
    active.join(firstDay, "user_id")
      .groupBy(col("cohort"),
        datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort"), col("day_offset"))
  }

  /** Tumbling 1-hour event aggregation (batch mirror of the streaming path). */
  def eventsWindowed(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(c100(col("value"))).as("v"))
      .orderBy(col("hour"), col("event_type"))

  /** [[approxDistinct]]'s sketch size: k smallest hashes kept per group
    * (relative error ~1/√k ≈ 12%). Small enough that sf0.01's
    * per-(type, day) cardinalities straddle it, so the correctness gate
    * exercises BOTH the exact-below-k and the estimator branch. */
  val KmvK: Int = 64

  /** q_approx_distinct: distinct users per (event_type, day) via the
    * [[graft.functions.KmvDistinct]] k-minimum-values sketch — the
    * bounded-state form of count(DISTINCT user_id). An exact distinct
    * shuffles every (group, user) pair; the sketch's partial aggregate
    * carries at most k longs per group through the map-side combine and
    * the shuffle, so the cost at 100 TB is the group count, not the
    * event count. The hash (md5 hex window, the same 32-bit scheme as
    * the dedup oracles) is computed by codegen'd builtins; merge-order
    * independence of "k smallest" makes the estimate reproducible
    * bit-for-bit by the DuckDB oracle's window mirror. */
  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        graft.functions.Aggregates.kmvHash(col("user_id")).as("h"))
      .groupBy(col("event_type"), col("day"))
      .agg(graft.functions.Aggregates.kmvDistinct(col("h"), KmvK).as("approx_users"))
      .orderBy(col("event_type"), col("day"))
}
