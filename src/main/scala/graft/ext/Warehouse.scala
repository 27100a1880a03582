package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Determinism, Q, Tables}

/** [EXT] dimensional-warehouse ETL surface — the operations the reference
  * project's name promises (star-schema serving, conformed dimensions,
  * data-quality gates) re-expressed Spark-first.
  *
  * The reference keeps its schema normalized in MySQL and denormalizes at
  * query time per request (`db.py:267-293` join-per-call); a warehouse at
  * 100 TB instead materializes the denormalized fact ONCE per load
  * (`ext_star_denorm`), generates its calendar dimension (`ext_date_dim`),
  * audits referential/domain invariants before serving (`ext_dq_audit`),
  * and reshapes wide facts to long form for metric stores
  * (`ext_unpivot`).
  */
object Warehouse {

  /** Star-schema denormalization: the one big fact-build join pipeline.
    *
    * Plan shape at scale: lineitem |><| orders is the only guaranteed
    * shuffle (both sides large, keyed on orderkey — at 100 TB this is a
    * sort-merge join you'd co-bucket, see [[BucketedJoin]]). Broadcast
    * pins are applied ONLY to the genuinely bounded dimensions —
    * nation (25 rows), region (5), supplier (fact/10'000 by the TPC-H
    * ratios) — whose size is a constant or a vanishing fraction at any
    * scale. customer and part are NOT pinned: customer scales with
    * orders and part with lineitem/30, so at the 100 TB operating point
    * they are multi-GB tables and a forced `broadcast()` OOMs the
    * driver; AQE / `autoBroadcastJoinThreshold` size-gates them instead
    * (broadcast while they fit, shuffle join once they don't — the
    * co-bucketed layout of [[BucketedJoin]] is the at-scale shape).
    * Money stays decimal through the arithmetic and is cast to double
    * once at the end ([[Determinism]] rule 3).
    */
  val starDenorm: Q = Q(
    "ext_star_denorm",
    """SELECT l.l_orderkey, l.l_linenumber,
      |  strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
      |  o.o_orderpriority, c.c_name, n.n_name AS cust_nation,
      |  r.r_name AS cust_region, p.p_brand, s.s_name,
      |  CAST(l.l_quantity AS BIGINT) AS quantity,
      |  CAST(CAST(l.l_extendedprice AS DECIMAL(10,2))
      |       * (1 - CAST(l.l_discount AS DECIMAL(10,2))) AS DOUBLE)
      |    AS net_price
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |JOIN part p ON l.l_partkey = p.p_partkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin
  ) { (s, d) =>
    import Determinism.m
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .join(Tables.part(s, d),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"), col("c_name"),
        col("n_name").as("cust_nation"), col("r_name").as("cust_region"),
        col("p_brand"), col("s_name"),
        col("l_quantity").cast("long").as("quantity"),
        (m(col("l_extendedprice")) * (lit(1) - m(col("l_discount"))))
          .cast("double").as("net_price"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Calendar dimension generated from the fact's own date span — the
    * standard conformed date dimension (one row per day, ISO weekday /
    * week, month name, weekend & month-end flags).
    *
    * Scale shape: a 2-value aggregate finds the span, then
    * `sequence + explode` materializes the days — a few thousand rows
    * regardless of fact size, so this is O(scan) + O(|days|) with no
    * shuffle beyond the 1-row span aggregate. Weekday parity: Spark
    * `weekday()` is 0=Monday; `+1` equals DuckDB `isodow`.
    */
  val dateDim: Q = Q(
    "ext_date_dim",
    """WITH span AS (SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
      |                     CAST(MAX(o_orderdate) AS DATE) AS hi
      |              FROM orders),
      |days AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS t
      |         FROM span)
      |SELECT strftime(t, '%Y-%m-%d') AS d_date,
      |  CAST(year(t) AS BIGINT) AS d_year,
      |  CAST(month(t) AS BIGINT) AS d_month,
      |  CAST(day(t) AS BIGINT) AS d_day,
      |  CAST(isodow(t) AS BIGINT) AS d_isodow,
      |  CAST(weekofyear(t) AS BIGINT) AS d_week,
      |  CAST(quarter(t) AS BIGINT) AS d_quarter,
      |  monthname(t) AS d_month_name,
      |  isodow(t) >= 6 AS d_is_weekend,
      |  CAST(t AS DATE) = last_day(CAST(t AS DATE)) AS d_is_month_end
      |FROM days
      |ORDER BY d_date""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d)
      .agg(to_date(min(col("o_orderdate"))).as("lo"),
        to_date(max(col("o_orderdate"))).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("d_date"))
      .select(
        // DATE surfaces as python date objects on one side and ns
        // timestamps on the other in the comparator; the ISO rendering is
        // the engine-stable carrier (q_f6 precedent)
        date_format(col("d_date"), "yyyy-MM-dd").as("d_date"),
        year(col("d_date")).cast("long").as("d_year"),
        month(col("d_date")).cast("long").as("d_month"),
        dayofmonth(col("d_date")).cast("long").as("d_day"),
        (expr("weekday(d_date)") + 1).cast("long").as("d_isodow"),
        weekofyear(col("d_date")).cast("long").as("d_week"),
        quarter(col("d_date")).cast("long").as("d_quarter"),
        date_format(col("d_date"), "MMMM").as("d_month_name"),
        (expr("weekday(d_date)") >= 5).as("d_is_weekend"),
        (col("d_date") === last_day(col("d_date"))).as("d_is_month_end"))
      .orderBy("d_date")
  }

  /** One (check_name, n_checked, n_violations) row per audited invariant.
    * Each domain/uniqueness check is a single scan-aggregate (map-side
    * partial); each referential check is ONE join — dimension side
    * broadcast when small (orders→customer), shuffle-keyed when both
    * sides are facts (lineitem→orders). Nothing is per-row driver work;
    * the audit cost at 100 TB is a handful of passes you schedule with
    * the load, and the 7-row result is the load gate's input.
    */
  val dqAudit: Q = Q(
    "ext_dq_audit",
    """SELECT * FROM (
      |SELECT 'enum_orderstatus' AS check_name, COUNT(*) AS n_checked,
      |  COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P'))
      |    AS n_violations FROM orders
      |UNION ALL
      |SELECT 'fk_lineitem_orders', COUNT(*),
      |  COUNT(*) FILTER (WHERE o.o_orderkey IS NULL)
      |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      |  ON l.l_orderkey = o.o_orderkey
      |UNION ALL
      |SELECT 'fk_orders_customer', COUNT(*),
      |  COUNT(*) FILTER (WHERE c.c_custkey IS NULL)
      |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      |  ON o.o_custkey = c.c_custkey
      |UNION ALL
      |SELECT 'nonneg_extendedprice', COUNT(*),
      |  COUNT(*) FILTER (WHERE l_extendedprice <= 0) FROM lineitem
      |UNION ALL
      |SELECT 'pk_unique_orders', COUNT(*),
      |  COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
      |UNION ALL
      |SELECT 'range_discount', COUNT(*),
      |  COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1)
      |  FROM lineitem
      |UNION ALL
      |SELECT 'ship_after_order', COUNT(*),
      |  COUNT(*) FILTER (WHERE l.l_shipdate < o.o_orderdate)
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |) a ORDER BY check_name""".stripMargin
  ) { (s, d) =>
    val orders = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    def row(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("check_name"), col("n_checked"),
        col("n_violations"))
    val viol = (c: org.apache.spark.sql.Column) =>
      sum(when(c, 1L).otherwise(0L)).as("n_violations")
    val enumCheck = row("enum_orderstatus", orders.agg(
      count(lit(1)).as("n_checked"),
      viol(!col("o_orderstatus").isin("O", "F", "P"))))
    val fkLiOrders = row("fk_lineitem_orders",
      li.join(orders.select(col("o_orderkey")).distinct(),
          col("l_orderkey") === col("o_orderkey"), "left")
        .agg(count(lit(1)).as("n_checked"), viol(col("o_orderkey").isNull)))
    val fkOrdCust = row("fk_orders_customer",
      orders.join(
          broadcast(Tables.customer(s, d).select(col("c_custkey")).distinct()),
          col("o_custkey") === col("c_custkey"), "left")
        .agg(count(lit(1)).as("n_checked"), viol(col("c_custkey").isNull)))
    val nonneg = row("nonneg_extendedprice", li.agg(
      count(lit(1)).as("n_checked"), viol(col("l_extendedprice") <= 0)))
    val pkUnique = row("pk_unique_orders", orders.agg(
      count(lit(1)).as("n_checked"),
      (count(lit(1)) - count_distinct(col("o_orderkey"))).as("n_violations")))
    val rangeDisc = row("range_discount", li.agg(
      count(lit(1)).as("n_checked"),
      viol(col("l_discount") < 0 || col("l_discount") > 0.1)))
    val shipAfter = row("ship_after_order",
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_checked"),
          viol(col("l_shipdate") < col("o_orderdate"))))
    Seq(enumCheck, fkLiOrders, fkOrdCust, nonneg, pkUnique, rangeDisc,
      shipAfter).reduce(_.unionAll(_)).orderBy("check_name")
  }

  /** Wide→long reshape (unpivot/melt): each lineitem measure becomes a
    * (metric, amount) row — the shape metric stores and generic KPI
    * tables ingest. `stack()` is a Generate (no shuffle, no UDF): each
    * input row emits its 4 measure rows partition-locally, so the op is
    * a pure scan-side expansion that parallelizes perfectly.
    */
  val unpivot: Q = Q(
    "ext_unpivot",
    """SELECT l_orderkey, l_linenumber, 'discount' AS metric,
      |  l_discount AS amount FROM lineitem
      |UNION ALL SELECT l_orderkey, l_linenumber, 'extendedprice',
      |  l_extendedprice FROM lineitem
      |UNION ALL SELECT l_orderkey, l_linenumber, 'quantity', l_quantity
      |  FROM lineitem
      |UNION ALL SELECT l_orderkey, l_linenumber, 'tax', l_tax
      |  FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d).selectExpr(
      "l_orderkey", "l_linenumber",
      """stack(4,
        |  'discount', l_discount,
        |  'extendedprice', l_extendedprice,
        |  'quantity', l_quantity,
        |  'tax', l_tax) AS (metric, amount)""".stripMargin)
      .orderBy("l_orderkey", "l_linenumber", "metric")
  }

  /** Revenue concentration (the 80/20 question): how many customers
    * produce 80% of order revenue, plus the top customer's share. All
    * threshold logic is EXACT — per-customer revenue sums in decimal,
    * and "cumulative >= 80% of total" is tested as cum*5 >= total*4
    * (pure decimal comparison, no 0.8 double ever enters the
    * cutoff) — so the crossing row is unambiguous cross-engine; the
    * two output shares are each one final IEEE division.
    *
    * Scale shape: the fact scan collapses to a per-customer aggregate
    * FIRST; the cumulative sum then runs through
    * [[BucketRank.rankAndExclSum]] ($10k revenue buckets): per-bucket
    * decimal sums aggregate map-side, ONE window walks the bounded
    * bucket frame for offsets, and each bucket's rows sort only within
    * their bucket — the per-customer frame never funnels through a
    * single-task global window (it is aggregate-compressed but still
    * grows with customers at 100 TB). Decimal addition is
    * associative-exact, so the re-grouped cumulative equals the
    * single-window form bit-for-bit (the oracle keeps that form). */
  val paretoShare: Q = Q(
    "ext_pareto_share",
    """WITH rev AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS r
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT SUM(r) AS total, CAST(COUNT(*) AS BIGINT) AS n_cust,
      |  MAX(r) AS top1 FROM rev),
      |cum AS (
      |  SELECT r, SUM(r) OVER (ORDER BY r DESC, o_custkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      |  FROM rev)
      |SELECT t.n_cust AS n_customers,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cum CROSS JOIN tot
      |    WHERE (c - r) * 5 < total * 4) AS n_top80,
      |  CAST((SELECT COUNT(*) FROM cum CROSS JOIN tot
      |    WHERE (c - r) * 5 < total * 4) AS DOUBLE) / t.n_cust
      |    AS top80_frac,
      |  CAST(t.top1 AS DOUBLE) / CAST(t.total AS DOUBLE) AS top1_share
      |FROM tot t""".stripMargin
  ) { (s, d) =>
    import graft.core.Eager.EagerCheckpoint
    // the per-customer frame feeds totals, bucket counts, and the
    // ranked pass — materialize it once (at scale: entity aggregate
    // written once per load, the BucketedJoin discipline)
    val rev = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(12,2)")).as("r"))
      .eagerCheckpoint()
    val tot = rev.agg(sum(col("r")).as("total"),
      count(lit(1)).as("n_cust"), max(col("r")).as("top1"))
    // exclusive running revenue in (r desc, custkey) order, computed
    // bucket-distributed instead of via one global window
    val ranked = BucketRank.rankAndExclSum(rev,
      b1 = floor(col("r") / 10000).cast("long"), b1Desc = true,
      b2 = lit(0L),
      order = Seq(col("r").desc, col("o_custkey")),
      weight = Some(col("r")))
    val n80 = ranked.crossJoin(broadcast(tot))
      .filter(col("excl") * 5 < col("total") * 4)
      .agg(count(lit(1)).as("n_top80"))
    tot.crossJoin(broadcast(n80))
      .select(col("n_cust").as("n_customers"), col("n_top80"),
        (col("n_top80").cast("double") / col("n_cust")).as("top80_frac"),
        (col("top1").cast("double") / col("total").cast("double"))
          .as("top1_share"))
  }

  /** RFM segmentation — recency / frequency / monetary quintiles per
    * customer, the classic CRM scoring query. Recency is integer days
    * from the corpus max order date (exact), frequency an exact count,
    * monetary an exact decimal sum; each dimension quintiles via
    * ntile(5) with a total (metric, custkey) tie order so the bucketing
    * is deterministic cross-engine. Emits the segment census (125
    * possible codes), not per-customer rows — the rollup a dashboard
    * reads.
    *
    * Scale: one fact aggregate, then each dimension's GLOBAL row rank
    * comes from [[BucketRank.rankAndExclSum]] instead of a single-task
    * ntile window over the per-customer frame (which grows with
    * customers at 100 TB): recency/frequency bucket on their bounded
    * value domains (calendar days, per-customer order counts) with a
    * 64-way custkey split spreading heavy ties, monetary on $10k value
    * buckets; the quintile is then pure arithmetic on (rank, n)
    * ([[BucketRank.ntileFromRank]], the exact ANSI ntile formula). The
    * oracle keeps the ntile window — the two forms are provably the
    * same total order.
    *
    * MEASURED FLOOR (round 18, the components discipline): the r17
    * tri-explode fusion took this from 3 chained rank passes to one;
    * r18 moved the checkpoint below the fact aggregate so the orders
    * scan+shuffle runs exactly once. A paired A/B at sf0.1 then
    * measured 1.18 s vs 1.15 s (min-of-2 each) — the remaining local
    * multiple over DuckDB is Spark's per-job scheduling constant across
    * the ~4 unavoidable actions (checkpoint, bounds broadcast, offset
    * broadcast, final aggregate), not any data-proportional stage, and
    * it vanishes against real data volumes. Kept on the weak list
    * honestly; no further local cut is available without removing a
    * broadcast the 100 TB plan needs. */
  val rfm: Q = Q(
    "ext_rfm_segments",
    """WITH m AS (SELECT MAX(o_orderdate) AS mx FROM orders),
      |cust AS (
      |  SELECT o_custkey,
      |    CAST(date_diff('day', MAX(o_orderdate), (SELECT mx FROM m))
      |      AS BIGINT) AS rec_days,
      |    CAST(COUNT(*) AS BIGINT) AS freq,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS mon
      |  FROM orders GROUP BY 1),
      |scored AS (
      |  SELECT o_custkey,
      |    CAST(ntile(5) OVER (ORDER BY rec_days, o_custkey) AS BIGINT)
      |      AS r_score,
      |    CAST(ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS BIGINT)
      |      AS f_score,
      |    CAST(ntile(5) OVER (ORDER BY mon DESC, o_custkey) AS BIGINT)
      |      AS m_score
      |  FROM cust)
      |SELECT r_score, f_score, m_score,
      |  CAST(COUNT(*) AS BIGINT) AS n_customers
      |FROM scored GROUP BY 1, 2, 3
      |ORDER BY r_score, f_score, m_score""".stripMargin
  ) { (s, d) =>
    val orders = Tables.orders(s, d)
    // Round 18: the checkpoint moved BELOW the fact aggregate (was on
    // the post-bounds scored frame), so the orders scan + customer
    // shuffle runs exactly once — the bounds pass, the tri-explode
    // histogram, and the final aggregate all replay a ~customers-sized
    // checkpoint instead of re-resolving fact-table stages. A
    // lazy-cache single-action variant measured WORSE warm (1.40 vs
    // 1.08-1.24 s: concurrent subtrees race to fill the cache), so the
    // explicit checkpoint stays.
    import graft.core.Eager.EagerCheckpoint
    val custAgg = orders.groupBy("o_custkey")
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast("decimal(12,2)")).as("mon"))
      .eagerCheckpoint()
    // the corpus max date folds into the same bounds pass (max over
    // per-customer last_order IS the global max)
    val bounds = custAgg.agg(count(lit(1)).as("nc"),
      max(col("o_custkey")).as("mxck"),
      max(col("last_order")).as("mx"))
    // 64-way monotone custkey split: spreads heavy value-ties across
    // partitions while preserving the (value, custkey) total order
    val cust = custAgg.crossJoin(broadcast(bounds))
      .select(col("o_custkey"), col("nc"),
        datediff(col("mx"), col("last_order")).cast("long").as("rec_days"),
        col("freq"), col("mon"),
        floor(col("o_custkey").cast("decimal(38,0)") * 64 /
          (col("mxck") + 1)).cast("long").as("ckchunk"))
    // ONE bucket-rank pass for all three dimensions (round 17, the
    // ext_rfm_segments weak-row fix): instead of chaining three
    // rankAndExclSum stages (~8 shuffle/window stages over the
    // customer frame), each customer row explodes into three
    // (dim, b1, b2, ov) keys normalized so every dimension ranks
    // ASCENDING on (b1, b2; ov, custkey) — recency by (rec_days, ck),
    // frequency by (-freq, ck), monetary by (-bucket; -mon, ck), each
    // provably the oracle's (metric [DESC], o_custkey) total order.
    // One histogram shuffle, ONE window over the dim-partitioned
    // bucket frame, one within-bucket window, one pivot — the same
    // exact offset+row_number global rank as rankAndExclSum (buckets
    // tile each dimension's order), at a third of the passes. Scale
    // shape unchanged: every full-frame operation is a key-equality
    // hash aggregate or a bucket-partitioned window; the only
    // global-order window runs over the bucket-domain frame.
    // sum(decimal(12,2)) is decimal(22,2); ov carries -mon losslessly
    val zeroD = lit(0).cast("decimal(22,2)")
    val tri = cust.select(col("o_custkey"), col("nc"), explode(array(
        struct(lit("r").as("dim"), col("rec_days").as("b1"),
          col("ckchunk").as("b2"), zeroD.as("ov")),
        struct(lit("f").as("dim"), (-col("freq")).as("b1"),
          col("ckchunk").as("b2"), zeroD.as("ov")),
        struct(lit("m").as("dim"),
          (-floor(col("mon") / 10000)).cast("long").as("b1"),
          lit(0L).as("b2"), (-col("mon")).cast("decimal(22,2)").as("ov"))
      )).as("t"))
      .select(col("o_custkey"), col("nc"), col("t.dim").as("dim"),
        col("t.b1").as("b1"), col("t.b2").as("b2"), col("t.ov").as("ov"))
    val grp = tri.groupBy("dim", "b1", "b2").agg(count(lit(1)).as("_c"))
    val offs = grp
      .withColumn("_coff", sum(col("_c")).over(
        Window.partitionBy("dim").orderBy(col("b1").asc, col("b2").asc))
        - col("_c"))
      .select("dim", "b1", "b2", "_coff")
    val ranked = tri.join(broadcast(offs), Seq("dim", "b1", "b2"))
      .withColumn("rk", col("_coff") + row_number().over(
        Window.partitionBy("dim", "b1", "b2")
          .orderBy(col("ov").asc, col("o_custkey").asc)))
      .select(col("o_custkey"), col("dim"),
        BucketRank.ntileFromRank(col("rk"), col("nc"), 5).as("score"))
    ranked.groupBy("o_custkey")
      .agg(max(when(col("dim") === "r", col("score"))).as("r_score"),
        max(when(col("dim") === "f", col("score"))).as("f_score"),
        max(when(col("dim") === "m", col("score"))).as("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Cohort LTV curves: cumulative purchase revenue per signup cohort
    * (week of first event) by week offset, with per-user LTV — the
    * money companion to `ext_events_retention`'s user counts, the
    * curve every growth dashboard plots. Revenue accumulates in exact
    * decimal over the (cohort, offset) frame; the cumulative window
    * and both divisions run on the tiny post-aggregate frame
    * (cohorts × offsets), never the event stream; cohort sizes ride a
    * second small aggregate broadcast back.
    */
  val cohortLtv: Q = Q(
    "ext_cohort_ltv",
    """WITH firsts AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
      |  FROM events GROUP BY user_id),
      |sizes AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users
      |  FROM firsts GROUP BY 1),
      |rev AS (
      |  SELECT f.cohort,
      |    (CAST(epoch(date_trunc('week', e.ts)) AS BIGINT)
      |      - CAST(epoch(f.cohort) AS BIGINT)) // 604800 AS week_offset,
      |    SUM(CAST(e.value AS DECIMAL(10,2))) AS wk_rev
      |  FROM events e JOIN firsts f ON f.user_id = e.user_id
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT cohort, week_offset,
      |    SUM(wk_rev) OVER (PARTITION BY cohort ORDER BY week_offset
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
      |  FROM rev)
      |SELECT c.cohort, c.week_offset, s.n_users,
      |  CAST(c.cum_rev AS DOUBLE) AS cum_revenue,
      |  CAST(c.cum_rev AS DOUBLE) / s.n_users AS ltv_per_user
      |FROM cum c JOIN sizes s ON s.cohort = c.cohort
      |ORDER BY c.cohort, c.week_offset""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
    val firsts = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).as("cohort"))
    val sizes = firsts.groupBy("cohort").agg(count(lit(1)).as("n_users"))
    val rev = ev.filter(col("event_type") === "purchase")
      .join(firsts, Seq("user_id"))
      .groupBy(col("cohort"),
        ((unix_timestamp(date_trunc("week", col("ts"))) -
          unix_timestamp(col("cohort"))) / 604800L).cast("long")
          .as("week_offset"))
      .agg(sum(col("value").cast("decimal(10,2)")).as("wk_rev"))
    val wCum = Window.partitionBy("cohort").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.withColumn("cum_rev", sum(col("wk_rev")).over(wCum))
      .join(broadcast(sizes), Seq("cohort"))
      .select(col("cohort"), col("week_offset"), col("n_users"),
        col("cum_rev").cast("double").as("cum_revenue"),
        (col("cum_rev").cast("double") / col("n_users"))
          .as("ltv_per_user"))
      .orderBy("cohort", "week_offset")
  }

  /** Monthly open-order backlog curve: an order OPENS in its order month
    * and CLOSES in the month of its last lineitem shipment (orders with
    * no lineitems close in their own month). backlog_m = running
    * sum(opened - closed) = orders still open at month-end — the classic
    * operational WIP curve.
    *
    * Scale shape: one orderkey-join (the natural co-partitioned TPC-H
    * join), one max-aggregate per order, then ALL window work happens on
    * the ~80-row month frame (each order contributes two +-1 deltas,
    * aggregated map-side) — the running sum never sees order rows.
    */
  val backlogCurve: Q = Q(
    "ext_backlog_curve",
    """WITH closes AS (
      |  SELECT o.o_orderkey, o.o_orderdate,
      |    COALESCE(MAX(l.l_shipdate), o.o_orderdate) AS close_ts
      |  FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1, 2),
      |deltas AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS m, 1 AS opened,
      |    0 AS closed
      |  FROM closes
      |  UNION ALL
      |  SELECT strftime(close_ts, '%Y-%m'), 0, 1 FROM closes),
      |monthly AS (
      |  SELECT m, CAST(SUM(opened) AS BIGINT) AS opened,
      |    CAST(SUM(closed) AS BIGINT) AS closed
      |  FROM deltas GROUP BY m)
      |SELECT m AS month, opened, closed,
      |  CAST(SUM(opened - closed) OVER (ORDER BY m
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS backlog
      |FROM monthly ORDER BY month""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // Round 19 (guide §2.3/§2.4): aggregate lineitem BEFORE the join —
    // max(l_shipdate) per orderkey is a map-side-combined aggregate, so
    // the orderkey exchange carries collapsed (orderkey, date) rows
    // instead of every joined lineitem, and the old post-join
    // (orderkey, orderdate)-keyed aggregate disappears (orders is PK on
    // o_orderkey, so the left join is already one row per order). The
    // opened/closed deltas then come from ONE pass over that frame via
    // explode — the previous unionAll planned the closes subtree twice
    // (plans/r19/ext_backlog_curve_{before,after}.txt).
    val lastShip = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_shipdate"))
      .groupBy("l_orderkey").agg(max(col("l_shipdate")).as("max_ship"))
    val closes = Tables.orders(s, d).select("o_orderkey", "o_orderdate")
      .join(lastShip, col("l_orderkey") === col("o_orderkey"), "left")
      .select(col("o_orderdate"),
        coalesce(col("max_ship"), col("o_orderdate")).as("close_ts"))
    val deltas = closes.select(explode(array(
        struct(date_format(col("o_orderdate"), "yyyy-MM").as("m"),
          lit(1L).as("opened"), lit(0L).as("closed")),
        struct(date_format(col("close_ts"), "yyyy-MM").as("m"),
          lit(0L).as("opened"), lit(1L).as("closed")))).as("dd"))
      .select(col("dd.m").as("m"), col("dd.opened").as("opened"),
        col("dd.closed").as("closed"))
    val monthly = deltas.groupBy("m")
      .agg(sum(col("opened")).as("opened"), sum(col("closed")).as("closed"))
    monthly
      .withColumn("backlog", sum(col("opened") - col("closed")).over(
        Window.orderBy("m").rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).cast("long"))
      .select(col("m").as("month"), col("opened"), col("closed"),
        col("backlog"))
      .orderBy("month")
  }

  /** Inter-order arrival gaps: days between consecutive orders per
    * customer (lag over ONE o_custkey-keyed sort), summarized as the
    * exact lower-percentile p25/p50/p75/p90 plus integer mean — the
    * purchase-cadence number behind replenishment/churn models.
    *
    * Percentiles run through [[BucketRank.lowerPercentiles]] (the
    * two-pass bucket-rank plan, NOT `sort_array(collect_list(...))` —
    * the array form funnels every order-to-order gap in the fact table
    * into one aggregation buffer, O(#orders) memory in a single task,
    * an OOM at 100 TB). Here the bucket IS the gap value: gaps are
    * integer DAYS, so the bucket domain is bounded by the calendar span
    * (a few thousand at any fact size) and pass 2's within-bucket step
    * degenerates to a no-op — same candidate-bucket plan, one distinct
    * value per bucket. The oracle keeps the sorted-array SQL; the two
    * formulations are provably identical (see [[BucketRank]]).
    */
  val interarrival: Q = Q(
    "ext_orders_interarrival",
    """WITH gaps AS (
      |  SELECT datediff('day',
      |    lag(o_orderdate) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey),
      |    o_orderdate) AS gap_d
      |  FROM orders),
      |g AS (SELECT CAST(gap_d AS BIGINT) AS gap_d FROM gaps
      |      WHERE gap_d IS NOT NULL),
      |arr AS (SELECT list(gap_d ORDER BY gap_d) AS gs,
      |  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(gap_d) AS BIGINT) AS tot
      |  FROM g)
      |SELECT n AS n_gaps,
      |  gs[(CAST(n AS INTEGER) + 3) // 4] AS p25_d,
      |  gs[(CAST(n AS INTEGER) + 1) // 2] AS p50_d,
      |  gs[(CAST(n AS INTEGER) * 3 + 3) // 4] AS p75_d,
      |  gs[(CAST(n AS INTEGER) * 9 + 9) // 10] AS p90_d,
      |  tot // n AS mean_d
      |FROM arr""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
    val gaps = Tables.orders(s, d)
      .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(datediff(col("o_orderdate"), col("prev")).cast("long")
        .as("gap_d"))
    BucketRank.lowerPercentiles(gaps, "gap_d", identity,
        Seq("p25_d" -> "(n + 3) div 4", "p50_d" -> "(n + 1) div 2",
          "p75_d" -> "(n * 3 + 3) div 4", "p90_d" -> "(n * 9 + 9) div 10"),
        identityBuckets = true)
      .select(col("n").as("n_gaps"), col("p25_d"), col("p50_d"),
        col("p75_d"), col("p90_d"),
        expr("cast(tot div n as bigint)").as("mean_d"))
  }

  /** Supplier-concentration HHI per part: Herfindahl-Hirschman index of
    * quantity shares in integer ppm — HHI = SUM q_s² · 10⁶ // (SUM q)²,
    * exact with the squares in DECIMAL(38,0)/HUGEINT. The top-10 most
    * concentrated multi-supplier parts (single-supplier parts are
    * trivially 10⁶ and censored) — the sourcing-risk companion to
    * `ext_pareto_share`/`ext_corpus_len_gini`'s inequality family.
    * Quantities are the fixture's integral doubles, cast via round to
    * exact BIGINT units.
    */
  val supplierHhi: Q = Q(
    "ext_supplier_hhi",
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(round(SUM(l_quantity)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY 1, 2),
      |agg AS (
      |  SELECT l_partkey,
      |    CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      |    CAST(SUM(q) AS BIGINT) AS tot,
      |    CAST(SUM(q::HUGEINT * q) AS HUGEINT) AS sq
      |  FROM ps GROUP BY 1)
      |SELECT l_partkey, n_suppliers, tot AS total_qty,
      |  CAST(sq * 1000000 // (tot::HUGEINT * tot) AS BIGINT) AS hhi_ppm
      |FROM agg WHERE n_suppliers >= 2
      |ORDER BY hhi_ppm DESC, l_partkey LIMIT 10""".stripMargin
  ) { (s, d) =>
    val ps = Tables.lineitem(s, d)
      .groupBy("l_partkey", "l_suppkey")
      .agg(round(sum(col("l_quantity"))).cast("long").as("q"))
    val agg = ps.groupBy("l_partkey")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("q")).cast("long").as("tot"),
        sum(col("q").cast("decimal(38,0)") * col("q")).as("sq"))
    agg.filter(col("n_suppliers") >= 2)
      .select(col("l_partkey"), col("n_suppliers"),
        col("tot").as("total_qty"),
        expr("cast(sq * 1000000 div (cast(tot as decimal(38,0)) * tot) " +
          "as bigint)").as("hhi_ppm"))
      .orderBy(col("hhi_ppm").desc, col("l_partkey")).limit(10)
  }

  /** Order-to-ship latency distribution per order priority — the
    * fulfillment-SLA dashboard row (did URGENT actually ship faster?):
    * exact lower-percentile p50/p90, max, and integer mean of
    * `l_shipdate - o_orderdate` in days, per priority class.
    *
    * Scale shape: lineitem |><| orders on orderkey is the ONE fact
    * shuffle (the co-bucketable star join); the distribution then runs
    * on the per-(priority, gap-day) HISTOGRAM — bounded by priorities x
    * the calendar span, never by fact rows — with cumulative windows
    * partitioned per priority over day-domain frames (the
    * `ext_value_quantiles` grouped bucket-rank discipline, identity
    * buckets). gap >= 0 by construction, so the integer mean's `div`
    * agrees across engines (truncation == floor on non-negatives). */
  val shipDelay: Q = Q(
    "ext_ship_delay",
    """WITH g AS (
      |  SELECT o.o_orderpriority AS priority,
      |    CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
      |      AS gap_d
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |h AS (SELECT priority, gap_d, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM g GROUP BY 1, 2),
      |cum AS (SELECT priority, gap_d, c,
      |    SUM(c) OVER (PARTITION BY priority ORDER BY gap_d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM h),
      |tot AS (SELECT priority, CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(SUM(gap_d * c) AS BIGINT) AS tot,
      |    CAST(MAX(gap_d) AS BIGINT) AS max_d
      |  FROM h GROUP BY 1)
      |SELECT t.priority AS priority, t.n AS n_items,
      |  MIN(CASE WHEN cum >= (t.n + 1) // 2 THEN gap_d END) AS p50_d,
      |  MIN(CASE WHEN cum >= (t.n * 9 + 9) // 10 THEN gap_d END) AS p90_d,
      |  t.max_d, CAST(t.tot // t.n AS BIGINT) AS mean_d
      |FROM cum JOIN tot t USING (priority)
      |GROUP BY t.priority, t.n, t.max_d, t.tot
      |ORDER BY t.priority""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val g = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
          .as("gap_d"))
    val h = g.groupBy("priority", "gap_d").agg(count(lit(1)).as("c"))
    val cum = h.withColumn("cum", sum(col("c")).over(
      Window.partitionBy("priority").orderBy("gap_d")))
    val tot = h.groupBy("priority")
      .agg(sum(col("c")).cast("long").as("n"),
        sum(col("gap_d") * col("c")).cast("long").as("tot"),
        max(col("gap_d")).as("max_d"))
    cum.join(broadcast(tot), Seq("priority"))
      .groupBy("priority")
      .agg(max(col("n")).as("n_items"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("gap_d")))
          .as("p50_d"),
        min(when(col("cum") >= expr("(n * 9 + 9) div 10"), col("gap_d")))
          .as("p90_d"),
        max(col("max_d")).as("max_d"),
        max(expr("cast(tot div n as bigint)")).as("mean_d"))
      .orderBy("priority")
  }

  def all: Seq[Q] =
    Seq(starDenorm, dateDim, dqAudit, unpivot, paretoShare, rfm, cohortLtv,
      backlogCurve, interarrival, supplierHhi, shipDelay)
}
