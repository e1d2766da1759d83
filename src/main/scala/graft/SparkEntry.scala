package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every key in `queries` is one operator from SURVEY.md §2; `oracleSql`
  * holds the DuckDB-equivalent SQL (same column names, same ORDER BY,
  * fixed-point casts on float aggregates) for the hash-match gate.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1Pricing(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    analyticsQueries ++ DocPipeline.queries ++ TextOps.queries ++ Dedup.queries ++ Similarity.queries ++ Annotations.queries ++
      Style.queries ++ Rewards.queries ++ Balance.queries ++ Datasets.queries ++
      Correlation.queries ++ graft.multimodal.Manifest.queries ++ CorpusReport.queries ++
      Curation.queries ++ Entities.queries ++ Validation.queries

  /** The query subset a comma-separated list names (Bench and Verify's
    * `SPARK_GRAFT_ONLY`, PlanDump's subset argument); None, meaning every
    * query, for an empty list. Throws naming every entry that is not a
    * [[queries]] key, so a typo cannot narrow a run unnoticed. */
  def queryNames(csv: String): Option[Set[String]] = {
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    Some(names).filter(_.nonEmpty)
  }

  def oracleSql: Map[String, String] =
    analyticsOracle ++ DocPipeline.oracle ++ TextOps.oracle ++ Dedup.oracle ++
      Similarity.oracle ++ Annotations.oracle ++ Style.oracle ++ Rewards.oracle ++
      Balance.oracle ++ Datasets.oracle ++ Correlation.oracle ++
      graft.multimodal.Manifest.oracle ++ CorpusReport.oracle ++ Curation.oracle ++
      Entities.oracle ++ Validation.oracle

  private val analyticsQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing"      -> (Analytics.q1Pricing _),
    "q3_shipping"     -> (Analytics.q3Shipping _),
    "q5_local"        -> (Analytics.q5Local _),
    "q_topk_window"   -> (Analytics.topkWindow _),
    "q_events_funnel" -> (Analytics.eventsFunnel _),
    "q_funnel_steps"  -> (Analytics.funnelSteps _),
    "q_sessionize"    -> (Analytics.sessionize _),
    "q_asof_join"     -> (Analytics.asofJoin _),
    "q_range_join"    -> (Analytics.rangeJoin _),
    "q_retention"     -> (Analytics.retention _),
    "q_events_window" -> (Analytics.eventsWindowed _),
    "q_rollup"        -> (Analytics.rollupRevenue _),
    "q_cube"          -> (Analytics.cubeRevenue _),
    "q_decile"        -> (Analytics.decileSpend _),
    "q_market_basket" -> (Analytics.marketBasket _),
    "q_approx_distinct" -> (Analytics.approxDistinct _),
  )

  private val analyticsOracle: Map[String, String] = Map(
    // Integer-exact value columns since r15 (the sf1 r14 bug class):
    // per-row round(x·100) is exact on 2-decimal money, integer sums are
    // order-independent (DuckDB's sum(BIGINT) is HUGEINT = the Spark
    // side's DECIMAL(38,0) accumulator), and averages divide the exact
    // sum by the count in one deterministic double op.
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity*100, 0) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS sum_base_price,
        |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)
        |           * (100 - CAST(round(l_discount*100, 0) AS BIGINT))) // 100
        |    AS BIGINT) AS sum_disc_price,
        |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)
        |           * (100 - CAST(round(l_discount*100, 0) AS BIGINT))
        |           * (100 + CAST(round(l_tax*100, 0) AS BIGINT))) // 10000
        |    AS BIGINT) AS sum_charge,
        |  CAST(round(CAST(sum(CAST(round(l_quantity*100, 0) AS BIGINT)) AS DOUBLE)
        |             / count(*), 0) AS BIGINT) AS avg_qty,
        |  CAST(round(CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS DOUBLE)
        |             / count(*), 0) AS BIGINT) AS avg_price,
        |  CAST(round(CAST(sum(CAST(round(l_discount*10000, 0) AS BIGINT)) AS DOUBLE)
        |             / count(*), 0) AS BIGINT) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)
        |           * (100 - CAST(round(l_discount*100, 0) AS BIGINT))) // 100
        |    AS BIGINT) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_local" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)
        |           * (100 - CAST(round(l_discount*100, 0) AS BIGINT))) // 100
        |    AS BIGINT) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_topk_window" ->
      """WITH per_part AS (
        |  SELECT l_suppkey, l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)
        |             * (100 - CAST(round(l_discount*100, 0) AS BIGINT))) // 100
        |      AS BIGINT) AS revenue
        |  FROM lineitem GROUP BY l_suppkey, l_partkey),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_suppkey
        |    ORDER BY revenue DESC, l_partkey) AS rank
        |  FROM per_part)
        |SELECT l_suppkey, l_partkey, revenue, CAST(rank AS INTEGER) AS rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY l_suppkey, rank""".stripMargin,
    "q_events_funnel" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_funnel_steps" ->
      s"""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |v AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t2, min(v.t1) AS t1c FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND e.ts > v.t1
        |    AND e.ts <= v.t1 + INTERVAL ${Analytics.FunnelWindowDays} DAYS
        |  GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND e.ts > c.t2
        |    AND e.ts <= c.t1c + INTERVAL ${Analytics.FunnelWindowDays} DAYS
        |  GROUP BY e.user_id)
        |SELECT v.user_id,
        |  CAST(CASE WHEN p.t3 IS NOT NULL THEN 3 WHEN c.t2 IS NOT NULL THEN 2
        |    ELSE 1 END AS BIGINT) AS stage,
        |  COALESCE(epoch_us(p.t3) - epoch_us(v.t1), 0) AS funnel_us
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY v.user_id""".stripMargin,
    "q_sessionize" ->
      """WITH ev AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events),
        |gaps AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sid AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM gaps)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, count(*) AS n_events,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
        |  CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS session_value
        |FROM sid GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "q_asof_join" ->
      """WITH uni AS (
        |  SELECT user_id % 15 AS k, CAST(ts AS TIMESTAMP) - INTERVAL 25 YEAR AS t, event_id,
        |    NULL::BIGINT AS o_orderkey_in, NULL::DOUBLE AS o_totalprice_in,
        |    1 AS is_event
        |  FROM events
        |  UNION ALL
        |  SELECT o_custkey % 15 AS k, o_orderdate AS t, NULL::BIGINT AS event_id,
        |    o_orderkey AS o_orderkey_in, o_totalprice AS o_totalprice_in,
        |    0 AS is_event
        |  FROM orders),
        |carried AS (
        |  SELECT *,
        |    last_value(o_orderkey_in IGNORE NULLS) OVER w AS o_orderkey,
        |    last_value(o_totalprice_in IGNORE NULLS) OVER w AS o_totalprice
        |  FROM uni
        |  WINDOW w AS (PARTITION BY k
        |    ORDER BY t, is_event, o_orderkey_in ASC NULLS LAST
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT event_id, k, o_orderkey,
        |  CAST(round(o_totalprice*100, 0) AS BIGINT) AS price_cents
        |FROM carried WHERE is_event = 1
        |ORDER BY event_id""".stripMargin,
    "q_range_join" ->
      // Mirrors the Spark plan's (k, ot) pre-aggregation: cents are
      // fixed from the partials up, so the two-level sum is exact
      // integer arithmetic on both engines (same hash in any order).
      """WITH e AS (
        |  SELECT event_id, user_id % 15 AS k,
        |    CAST(ts AS TIMESTAMP) - INTERVAL 25 YEAR AS t
        |  FROM events),
        |o AS (
        |  SELECT o_custkey % 15 AS k, o_orderdate AS ot,
        |    count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS pc
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id,
        |  CAST(coalesce(sum(o.n), 0) AS BIGINT) AS n_orders,
        |  CAST(coalesce(sum(o.pc), 0) AS BIGINT) AS price_cents
        |FROM e LEFT JOIN o ON o.k = e.k
        |  AND o.ot >= e.t - INTERVAL 7 DAY AND o.ot <= e.t
        |GROUP BY e.event_id
        |ORDER BY e.event_id""".stripMargin,
    "q_retention" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
        |  FROM events),
        |fd AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, day FROM ev)
        |SELECT CAST(cohort AS TIMESTAMP) AS cohort,
        |  CAST(date_diff('day', cohort, day) AS BIGINT) AS day_offset,
        |  count(DISTINCT act.user_id) AS n_users
        |FROM act JOIN fd USING (user_id)
        |GROUP BY cohort, day_offset
        |ORDER BY cohort, day_offset""".stripMargin,
    "q_events_window" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS v
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q_rollup" ->
      """SELECT o_orderpriority, l_returnflag,
        |  CAST(GROUPING(o_orderpriority, l_returnflag) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)
        |           * (100 - CAST(round(l_discount*100, 0) AS BIGINT))) // 100
        |    AS BIGINT) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY ROLLUP (o_orderpriority, l_returnflag)
        |ORDER BY gid, o_orderpriority, l_returnflag""".stripMargin,
    "q_cube" ->
      """SELECT o_orderpriority, l_returnflag,
        |  CAST(GROUPING(o_orderpriority, l_returnflag) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)
        |           * (100 - CAST(round(l_discount*100, 0) AS BIGINT))) // 100
        |    AS BIGINT) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY CUBE (o_orderpriority, l_returnflag)
        |ORDER BY gid, o_orderpriority, l_returnflag""".stripMargin,
    "q_decile" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS spend_cents
        |  FROM orders GROUP BY o_custkey),
        |d AS (
        |  SELECT spend_cents,
        |    ntile(10) OVER (ORDER BY spend_cents DESC, o_custkey) AS decile
        |  FROM spend)
        |SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_customers,
        |  CAST(sum(spend_cents) AS BIGINT) AS total_cents,
        |  min(spend_cents) AS min_cents, max(spend_cents) AS max_cents
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin,
    "q_market_basket" ->
      """WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
        |FROM d a JOIN d b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 100""".stripMargin,
    // The KMV estimate is merge-order independent (k smallest of a union),
    // so the window mirror over the same md5-window hashes reproduces the
    // sketch bit-for-bit: exact count below k, (k-1)*2^32 // h_k at/above.
    // '||' (NOT concat, which DuckDB NULL-coerces to '') keeps a NULL
    // user_id's hash NULL, and the filter drops it — mirroring
    // KmvDistinct's null-skip on the Spark side (Aggregates.kmvHash).
    "q_approx_distinct" ->
      s"""WITH hm AS (SELECT event_type,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
        |    md5('kmv#' || CAST(user_id AS VARCHAR)) AS hx
        |  FROM events),
        |h AS (SELECT DISTINCT event_type, day,
        |    ${graft.functions.TextFunctions.hexLongSql("hx", 8)} AS h FROM hm
        |  WHERE hx IS NOT NULL),
        |r AS (SELECT event_type, day, h,
        |    row_number() OVER (PARTITION BY event_type, day ORDER BY h) AS rn
        |  FROM h),
        |t AS (SELECT event_type, day, count(*) AS cnt, max(h) AS hk
        |  FROM r WHERE rn <= ${Analytics.KmvK} GROUP BY event_type, day)
        |SELECT event_type, day,
        |  CAST(CASE WHEN cnt < ${Analytics.KmvK} THEN cnt
        |    ELSE ${Analytics.KmvK - 1} * 4294967296 // greatest(hk, 1) END
        |    AS BIGINT) AS approx_users
        |FROM t ORDER BY event_type, day""".stripMargin,
  )
}
