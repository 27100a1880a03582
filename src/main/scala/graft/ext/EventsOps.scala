package graft.ext

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Determinism, Q, Tables}
import Determinism.dsum

/** [EXT] event-stream analytics over the `events` fixture (SURVEY §2.9):
  * tumbling/sliding windows, sessionization, JSON extraction, pivot, and an
  * as-of join. Batch forms here; the streaming form of the tumbling window
  * lives in graft.streaming.
  *
  * Scale notes: all aggregations shuffle once on their group keys;
  * sessionize/as-of use a single `user_id`-partitioned window (at 100 TB the
  * key must be high-cardinality — it is a user id — so no salting needed).
  */
object EventsOps {

  /** Tumbling 1-hour window aggregate (groupBy(window(ts, "1 hour")) shape,
    * expressed via date_trunc for a portable oracle). */
  val windowHourly: Q = Q(
    "ext_window_hourly",
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .orderBy("window_start", "event_type")
  }

  /** Sliding window (1 h window, 30 min slide): each event lands in exactly
    * two windows. Uses Spark's native `window()`; the oracle reconstructs
    * the same epoch-aligned slots arithmetically. */
  val windowSliding: Q = Q(
    "ext_window_sliding",
    """SELECT make_timestamp(((epoch_us(ts) // 1800000000) - i) * 1800000000)
      |  AS window_start,
      |COUNT(*) AS n
      |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i) shifts
      |GROUP BY 1 ORDER BY window_start""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))
      .orderBy("window_start")
  }

  /** JSON extraction from the semi-structured `props` column. */
  val jsonExtract: Q = Q(
    "ext_json_extract",
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |FROM events ORDER BY event_id""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")
  }

  /** Gap-based sessionization (30-min inactivity closes a session): lag ->
    * boundary flag -> running sum = session index -> grouped session stats.
    * Two window passes + one aggregation, all partitioned by user_id. */
  val sessionize: Q = Q(
    "ext_sessionize",
    """SELECT user_id, session_seq, COUNT(*) AS n_events,
      |MIN(ts) AS t_start, MAX(ts) AS t_end,
      |CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total
      |FROM (
      |  SELECT user_id, ts, value,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_seq
      |  FROM (
      |    SELECT user_id, ts, event_id, value,
      |      CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
      |        (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
      |        OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |          IS NULL
      |      THEN 1 ELSE 0 END AS is_new
      |    FROM events) flagged) numbered
      |GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin
  ) { (s, d) =>
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = 1800L * 1000000L
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull
          || unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs, 1)
          .otherwise(0))
      .withColumn("session_seq", sum(col("is_new"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("t_start"), max(col("ts")).as("t_end"),
        dsum(col("value")).as("total"))
      .orderBy("user_id", "session_seq")
  }

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot: one column per event_type (explicit value list — no extra
    * distinct-values job, and the plan is a single grouped aggregate). */
  val pivotByType: Q = Q(
    "ext_pivot_by_type",
    """SELECT user_id,
      |COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
      |COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
      |COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
      |COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
      |COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  ) { (s, d) =>
    val pivoted = Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
    eventTypes.foldLeft(pivoted) { (df, t) =>
      df.withColumn(t, coalesce(col(t), lit(0L)))
    }.orderBy("user_id")
  }

  /** As-of join: each purchase matched to the user's most recent prior
    * click. Expressed as one pass — union the two event kinds, carry the
    * last non-null click timestamp forward with an IGNORE NULLS window over
    * strictly-preceding rows. No self-join, single shuffle on user_id. */
  val asofJoin: Q = Q(
    "ext_asof_join",
    """SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
      |last_click_ts FROM (
      |  SELECT user_id, event_id, ts, event_type,
      |    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS last_click_ts
      |  FROM events WHERE event_type IN ('click', 'purchase')) t
      |WHERE event_type = 'purchase' ORDER BY purchase_id""".stripMargin
  ) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("click_ts",
        when(col("event_type") === "click", col("ts")))
      .withColumn("last_click_ts",
        last(col("click_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("last_click_ts"))
      .orderBy("purchase_id")
  }

  /** Approximate distinct users per type (HyperLogLog++), in an
    * ORACLE-CHECKABLE gate form: the sketch estimate itself is
    * engine-specific, so the emitted columns are the exact count (DuckDB
    * mirrors it as COUNT(DISTINCT)) and a `within_bound` flag asserting
    * the sketch landed within 10% of it (5x the configured rsd=0.02; the
    * ScalaTest spec pins the tighter bound). The oracle emits TRUE, so a
    * drifting sketch hash-mismatches the gate instead of hiding behind a
    * rows-only row. The exact side is verification harness only — the
    * 100 TB production path is the sketch alone (one pass, mergeable,
    * fixed-size state; the exact COUNT(DISTINCT) would shuffle every
    * (type, user) pair). */
  val approxDistinct: Q = Q(
    "ext_approx_distinct",
    """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
      |TRUE AS within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")).cast("double")
          / col("exact_users") <= 0.10).as("within_bound"))
      .orderBy("event_type")
  }

  /** The re-aggregatable SKETCH STORE (Apache DataSketches HLL via
    * Spark's native `hll_sketch_agg`/`hll_union_agg`): distinct-user
    * sketches are built ONCE per day at ingest, then any serving rollup
    * — here weekly — UNIONS the stored sketches instead of rescanning
    * events, the pre-aggregation pattern that makes distinct counts
    * affordable at 100 TB (a day's sketch is ~KBs; the weekly union
    * touches 7 sketches, not 7 days of raw rows). `ext_approx_distinct`
    * gates the one-shot estimate; this row gates the MERGE path — union
    * of per-day sketches must land within bound of the exact weekly
    * distinct, which only holds if the sketch algebra (not just the
    * estimator) is correct. Oracle pins the exact counts and the bound
    * flag TRUE (the sketch itself is engine-specific, the contract is
    * accuracy). */
  val sketchStoreHll: Q = Q(
    "ext_sketch_store_hll",
    """SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
      |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
      |    THEN user_id END) AS BIGINT) AS exact_buyers,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  TRUE AS within_bound
      |FROM events GROUP BY date_trunc('week', ts)
      |ORDER BY week_start""".stripMargin
  ) { (s, d) =>
    // ingest-time pass: one sketch per (day, metric) — the stored table
    val daily = Tables.events(s, d)
      .groupBy(date_trunc("week", col("ts")).as("wk"),
        date_trunc("day", col("ts")).as("day"))
      .agg(
        hll_sketch_agg(col("user_id")).as("users_sk"),
        hll_sketch_agg(when(col("event_type") === "purchase",
          col("user_id"))).as("buyers_sk"),
        countDistinct(col("user_id")).as("exact_users_day"))
    // serving-time rollup: union the stored sketches, never the rows
    val weekly = daily.groupBy("wk")
      .agg(
        hll_sketch_estimate(hll_union_agg(col("users_sk")))
          .as("approx_users"),
        hll_sketch_estimate(hll_union_agg(col("buyers_sk")))
          .as("approx_buyers"))
    val exact = Tables.events(s, d)
      .groupBy(date_trunc("week", col("ts")).as("wk"))
      .agg(
        countDistinct(when(col("event_type") === "purchase",
          col("user_id"))).as("exact_buyers"),
        countDistinct(col("user_id")).as("exact_users"))
    exact.join(weekly, Seq("wk"))
      .select(
        date_format(col("wk"), "yyyy-MM-dd").as("week_start"),
        col("exact_buyers"), col("exact_users"),
        ((abs(col("approx_users") - col("exact_users")).cast("double")
          / col("exact_users") <= 0.10) &&
          (abs(col("approx_buyers") - col("exact_buyers")).cast("double")
            / col("exact_buyers") <= 0.10)).as("within_bound"))
      .orderBy("week_start")
  }

  /** Non-equi (range) join: classify each event's value into a tier whose
    * bounds come from a tiny dimension — the canonical banding join. The
    * tier table BROADCASTS, so the range predicate evaluates as a
    * broadcast nested-loop over 3 rows per event, never a shuffle or a
    * cartesian at scale (the big side streams once). Half-open intervals
    * [lo, hi) tile the whole double line, so every event lands in exactly
    * one tier; boundary comparisons are exact double compares, identical
    * in both engines. */
  val rangeJoin: Q = Q(
    "ext_range_join",
    """WITH tiers(tier, lo, hi) AS (VALUES
      |  ('low',  -1e18,  25.0),
      |  ('mid',   25.0,  75.0),
      |  ('high',  75.0, 1e18))
      |SELECT t.tier, COUNT(*) AS n,
      |CAST(SUM(CAST(e.value AS DECIMAL(10,2))) AS DOUBLE) AS total
      |FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
      |GROUP BY t.tier ORDER BY t.tier""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val tiers = Seq(("low", -1e18, 25.0), ("mid", 25.0, 75.0),
      ("high", 75.0, 1e18)).toDF("tier", "lo", "hi")
    Tables.events(s, d)
      .join(broadcast(tiers),
        col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .orderBy("tier")
  }

  /** Per-type moment statistics with an EXPLICIT variance formula: the
    * exact decimal power sums (n, sum x, sum x^2) are the distributed
    * aggregate — associative, engine-exact, the moment-sketch shape that
    * merges across 1000 executors — and the final avg/var/stddev are a
    * fixed sequence of correctly-rounded double ops on those exact sums,
    * written identically in both engines. Spark's builtin stddev
    * (streaming one-pass update) would NOT reproduce across engines;
    * explicit moments do. */
  val valueStats: Q = Q(
    "ext_value_stats",
    """SELECT event_type, n,
      |ROUND(CAST(sx AS DOUBLE) / n, 4) AS avg_value,
      |ROUND((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
      |  / NULLIF(n - 1, 0), 4) AS var_value,
      |ROUND(SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
      |  / NULLIF(n - 1, 0)), 4) AS std_value
      |FROM (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CAST(value AS DECIMAL(10,2))) AS sx,
      |    SUM(CAST(value AS DECIMAL(10,2)) * CAST(value AS DECIMAL(10,2))) AS sxx
      |  FROM events GROUP BY event_type) m
      |ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    import Determinism.m
    val moments = Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(m(col("value"))).as("sx"),
        sum(m(col("value")) * m(col("value"))).as("sxx"))
    val sxD = col("sx").cast("double")
    val sxxD = col("sxx").cast("double")
    // NULL (not NaN/Inf) for singleton groups: n-1 == 0 -> NULL divisor in
    // both engines, so sample var/std are NULL where they are undefined
    val variance = (sxxD - sxD * sxD / col("n")) /
      nullif(col("n") - 1, lit(0))
    moments.select(col("event_type"), col("n"),
      round(sxD / col("n"), 4).as("avg_value"),
      round(variance, 4).as("var_value"),
      round(sqrt(variance), 4).as("std_value"))
      .orderBy("event_type")
  }

  /** Strict-sequence conversion funnel view -> click -> purchase: a user
    * advances a step only with an event STRICTLY AFTER their previous
    * step's time (the standard product-analytics funnel, not mere set
    * intersection). Two user-keyed joins, each against a type-filtered
    * scan (the filter pushes into parquet): step N's frame is at most one
    * row per user, so each join's build side shrinks monotonically — at
    * 100 TB the events scan is the only big input and it is read once per
    * step with its type filter. All arithmetic is timestamps + counts:
    * exact across engines. */
  val eventsFunnel: Q = Q(
    "ext_events_funnel",
    """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      |  JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t1
      |  WHERE e.event_type = 'click' GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      |  JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t2
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT * FROM (
      |  SELECT 1 AS step, 'view' AS event_type, COUNT(*) AS n_users FROM s1
      |  UNION ALL
      |  SELECT 2, 'click', COUNT(*) FROM s2
      |  UNION ALL
      |  SELECT 3, 'purchase', COUNT(*) FROM s3) f
      |ORDER BY step""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
    def step(prev: org.apache.spark.sql.DataFrame, prevT: String,
        typ: String, outT: String) = ev
      .filter(col("event_type") === typ)
      .join(prev, Seq("user_id"))
      .filter(col("ts") > col(prevT))
      .groupBy("user_id").agg(min(col("ts")).as(outT))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val s2 = step(s1, "t1", "click", "t2")
    val s3 = step(s2, "t2", "purchase", "t3")
    def row(n: Int, typ: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(n).as("step"), lit(typ).as("event_type"),
          col("n_users"))
    row(1, "view", s1).unionAll(row(2, "click", s2))
      .unionAll(row(3, "purchase", s3))
      .orderBy("step")
  }

  /** Weekly cohort retention: cohort = Monday-truncated week of a user's
    * FIRST event; a cell counts the cohort's users active in week
    * cohort+offset. Two hash aggregates and one user-keyed join of
    * aggregate-compressed frames (one row per user / per user-week) —
    * the raw event stream is scanned once. Offsets are exact integer
    * epoch arithmetic on week-truncated timestamps, so the oracle
    * hash-matches without date-diff rounding hazards. */
  val eventsRetention: Q = Q(
    "ext_events_retention",
    """WITH firsts AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
      |  FROM events GROUP BY user_id),
      |active AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
      |  FROM events)
      |SELECT f.cohort,
      |  (CAST(epoch(a.wk) AS BIGINT) - CAST(epoch(f.cohort) AS BIGINT))
      |    // 604800 AS week_offset, COUNT(*) AS n_users
      |FROM active a JOIN firsts f ON f.user_id = a.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d).select("user_id", "ts")
    val firsts = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).as("cohort"))
    val active = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    active.join(firsts, Seq("user_id"))
      .groupBy(col("cohort"),
        ((unix_timestamp(col("wk")) - unix_timestamp(col("cohort")))
          / 604800L).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort", "week_offset")
  }

  /** Exact discrete per-group quantiles (percentile_disc semantics: the
    * smallest value whose cumulative rank reaches ceil(p*n)), computed as
    * an exact TWO-PASS BUCKET RANK instead of a per-type global sort.
    * The rank-window formulation (`row_number() OVER (PARTITION BY
    * event_type ...)`) funnels each type's entire row set through one
    * reducer when the key domain is tiny (~5 types here) — a guaranteed
    * straggler at 100 TB. This plan never sorts raw rows:
    *
    *   1. one map-side-combined count per (type, value-bucket) — the
    *      histogram primitive; bucket = integer floor on exact cents;
    *   2. cumulative offsets over that TINY bucket table (a window, but
    *      over ~types x 500 aggregated rows, not the corpus);
    *   3. locate the one candidate bucket per (type, p): smallest bucket
    *      whose cumulative count reaches r = ceil(p*n);
    *   4. second pass restricted to candidate buckets (broadcast semi
    *      filter, <=3 buckets/type): distinct-value counts within the
    *      bucket, cumulate, and the answer is the smallest value with
    *      bucket_offset + within_cum >= r.
    *
    * Every full-data operation is a key-equality hash aggregate with
    * map-side combine; every sort touches only aggregated bucket/value
    * tables. The oracle keeps the one-definition explicit-rank SQL (the
    * two formulations are provably identical: count(value <= v) =
    * bucket_offset(v's bucket) + within_cum(v)). The 100 TB *approximate*
    * path stays `approx_percentile` (mergeable sketch, spec-bounded
    * against this exact op). */
  val valueQuantiles: Q = Q(
    "ext_value_quantiles",
    """SELECT event_type,
      |MIN(CASE WHEN rn >= CEIL(0.50 * n) THEN value END) AS p50,
      |MIN(CASE WHEN rn >= CEIL(0.90 * n) THEN value END) AS p90,
      |MIN(CASE WHEN rn >= CEIL(0.99 * n) THEN value END) AS p99
      |FROM (
      |  SELECT event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events) ranked
      |GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    // value is a clean 2-decimal payload: exact integer cents (the
    // ext_value_histogram discipline) make bucket edges engine-exact
    val cents = round(col("value") * 100).cast("long")
    val bucketed = Tables.events(s, d)
      .select(col("event_type"), col("value"),
        floor(cents / 100).cast("long").as("bucket"))
    // pass 1: per-(type, bucket) counts — map-side combine, tiny result.
    // bc feeds the target-rank derivation AND the candidate-bucket
    // lookup; the consumers share one physical aggregate via exchange
    // reuse (identical canonical subtrees), so no materialization is
    // needed — an eager checkpoint here measured SLOWER (extra job
    // barriers) with no scan saved.
    val bCounts = bucketed.groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("event_type").orderBy("bucket")
    val bc = bCounts
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n",
        sum(col("c")).over(Window.partitionBy("event_type")))
      .withColumn("off", col("cum") - col("c"))
    // one (type, p, target-rank) row per requested quantile
    val targets = bc.select(col("event_type"), col("n")).distinct()
      .withColumn("p",
        explode(array(lit(0.50), lit(0.90), lit(0.99))))
      .withColumn("r", ceil(col("p") * col("n")))
    // candidate bucket per (type, p): smallest bucket with cum >= r
    val cand = targets
      .join(bc.select(col("event_type"), col("bucket"), col("cum"),
        col("off")), Seq("event_type"))
      .filter(col("cum") >= col("r"))
      .groupBy("event_type", "p", "r")
      .agg(min(col("bucket")).as("cand_bucket"),
        min_by(col("off"), col("bucket")).as("cand_off"))
    // pass 2: only candidate-bucket rows survive the broadcast semi filter
    val candBuckets = cand
      .select(col("event_type"), col("cand_bucket").as("bucket")).distinct()
    val inCand = bucketed
      .join(broadcast(candBuckets), Seq("event_type", "bucket"), "left_semi")
      .groupBy("event_type", "bucket", "value")
      .agg(count(lit(1)).as("vc"))
      .withColumn("wcum", sum(col("vc")).over(
        Window.partitionBy("event_type", "bucket").orderBy("value")))
    // global rank of v = bucket offset + within-bucket cumulative count;
    // the answer per (type, p) is the smallest qualifying value. cand is
    // ~15 rows — broadcast onto the aggregated candidate-value table
    // (columns renamed: both sides descend from the same cand subtree,
    // so unaliased attributes would be ambiguous).
    val candR = cand.select(col("event_type").as("c_type"), col("p"),
      col("r"), col("cand_bucket").as("c_bucket"), col("cand_off"))
    val picked = inCand
      .join(broadcast(candR), col("event_type") === col("c_type")
        && col("bucket") === col("c_bucket"))
      .filter(col("cand_off") + col("wcum") >= col("r"))
      .groupBy(col("event_type"), col("p"))
      .agg(min(col("value")).as("qv"))
    picked.groupBy("event_type")
      .agg(
        min(when(col("p") === 0.50, col("qv"))).as("p50"),
        min(when(col("p") === 0.90, col("qv"))).as("p90"),
        min(when(col("p") === 0.99, col("qv"))).as("p99"))
      .orderBy("event_type")
  }

  /** The mergeable-sketch quantile path (`approx_percentile` — the
    * operator a 100 TB cluster actually runs: one pass, fixed-size
    * per-type state, no rank shuffle), promoted to an ORACLE-CHECKABLE
    * gate row with the [[approxDistinct]] discipline: the sketch value
    * itself is engine-specific, so the emitted columns are per-p
    * `*_ok` flags asserting the estimate's TRUE rank brackets p —
    * count(value < est)/n <= p + eps and count(value <= est)/n >= p - eps
    * (the duplicate-safe bracketing; eps = 0.005 vs the sketch's 1e-4
    * configured rank accuracy). Validating the sketch costs exactly one
    * extra corpus pass against the broadcast 5-row estimate table. The
    * oracle emits TRUE flags, so a drifting sketch hash-mismatches. */
  val valueQuantilesApprox: Q = Q(
    "ext_value_quantiles_approx",
    """SELECT event_type, TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d).select("event_type", "value")
    val est = ev.groupBy("event_type")
      .agg(percentile_approx(col("value"),
        array(lit(0.50), lit(0.90), lit(0.99)), lit(10000)).as("est"))
      .select(col("event_type"), col("est")(0).as("e50"),
        col("est")(1).as("e90"), col("est")(2).as("e99"))
    def below(e: String) = // strict rank mass below the estimate
      sum(when(col("value") < col(e), 1L).otherwise(0L))
    def atOrBelow(e: String) =
      sum(when(col("value") <= col(e), 1L).otherwise(0L))
    val ranked = ev.join(broadcast(est), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        below("e50").as("lt50"), atOrBelow("e50").as("le50"),
        below("e90").as("lt90"), atOrBelow("e90").as("le90"),
        below("e99").as("lt99"), atOrBelow("e99").as("le99"))
    val eps = 0.005
    def ok(lt: String, le: String, p: Double) =
      (col(lt).cast("double") / col("n") <= p + eps) &&
        (col(le).cast("double") / col("n") >= p - eps)
    ranked.select(col("event_type"),
      ok("lt50", "le50", 0.50).as("p50_ok"),
      ok("lt90", "le90", 0.90).as("p90_ok"),
      ok("lt99", "le99", 0.99).as("p99_ok"))
      .orderBy("event_type")
  }

  /** Z-score anomaly detection: per-type mean/std from exact decimal
    * power sums (the valueStats moment discipline), broadcast back onto
    * the stream, flag |z| above threshold. The stats side is 5 rows — a
    * broadcast join — so the event stream is scanned once and never
    * shuffled; at 100 TB the moments aggregate is the only exchange.
    * Degenerate groups (n=1 → division by zero; constant value → std=0)
    * are excluded by an explicit n>1 AND variance>0 guard in BOTH engines:
    * NaN/Inf filter semantics are not pinned cross-engine, so the guard
    * makes the exclusion deterministic rather than an artifact of how
    * each engine compares NaN. */
  val eventsAnomaly: Q = Q(
    "ext_events_anomaly",
    """WITH m AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CAST(value AS DECIMAL(10,2))) AS sx,
      |    SUM(CAST(value AS DECIMAL(10,2)) * CAST(value AS DECIMAL(10,2)))
      |      AS sxx
      |  FROM events GROUP BY event_type)
      |SELECT event_id, e.event_type, value,
      |ROUND((value - CAST(sx AS DOUBLE) / n)
      |  / SQRT((CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)), 4)
      |  AS z
      |FROM events e JOIN m ON e.event_type = m.event_type
      |WHERE m.n > 1
      |  AND (CAST(sxx AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) > 0
      |  AND ABS((value - CAST(sx AS DOUBLE) / n)
      |  / SQRT((CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1))) > 2.5
      |ORDER BY event_id""".stripMargin
  ) { (s, d) =>
    import Determinism.m
    val ev = Tables.events(s, d)
    val moments = ev.groupBy(col("event_type").as("m_type"))
      .agg(count(lit(1)).as("n"),
        sum(m(col("value"))).as("sx"),
        sum(m(col("value")) * m(col("value"))).as("sxx"))
    val variance = (col("sxx").cast("double")
      - col("sx").cast("double") * col("sx").cast("double") / col("n"))
    val mean = col("sx").cast("double") / col("n")
    val std = sqrt(variance / (col("n") - 1))
    val z = (col("value") - mean) / std
    ev.join(broadcast(moments), col("event_type") === col("m_type"))
      .filter(col("n") > 1 && variance > 0 && abs(z) > 2.5)
      .select(col("event_id"), col("event_type"), col("value"),
        round(z, 4).as("z"))
      .orderBy("event_id")
  }

  /** Time-weighted average value per event type (TWAP — the temporal
    * aggregation a feature store serves when observations are
    * irregularly spaced and a plain mean over-weights bursts): each
    * observation holds until the user's next event, capped at 30 min
    * (a user's LAST observation has no observed duration and is
    * excluded — the closed-interval contract). One user-keyed shuffle
    * feeds the lead window; weights are exact integer SECONDS (not
    * micros: second-granularity keeps the DECIMAL(38,2) weighted sum's
    * scaled integer under 2^53 well past sf1, so each engine's
    * decimal→double cast is the same single correctly-rounded
    * operation — a wider sum needs TWO roundings in DuckDB's
    * int128-then-divide cast and drifts an ulp), products exact
    * DECIMAL×BIGINT, the two divisions the only IEEE ops, ROUND(.,6)
    * at the boundary. The unweighted mean rides along so the
    * burst-correction is visible in the row itself. */
  val valueTwap: Q = Q(
    "ext_value_twap",
    """WITH seg AS (
      |  SELECT event_type, CAST(value AS DECIMAL(10,2)) AS v,
      |    LEAST((epoch_us(lead(ts) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id)) - epoch_us(ts)) // 1000000,
      |      1800) AS dur
      |  FROM events)
      |SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_intervals,
      |  CAST(SUM(dur) AS BIGINT) AS total_dur_s,
      |  ROUND(CAST(SUM(v * dur) AS DOUBLE)
      |    / CAST(SUM(dur) AS BIGINT), 6) AS twap,
      |  ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS mean_plain
      |FROM seg WHERE dur IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        col("value").cast("decimal(10,2)").as("v"),
        least(
          expr("(unix_micros(lead(ts, 1) OVER (PARTITION BY user_id " +
            "ORDER BY ts, event_id)) - unix_micros(ts)) div 1000000"),
          lit(1800L)).as("dur"))
      .filter(col("dur").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dur")).cast("long").as("total_dur_s"),
        round(sum(col("v") * col("dur")).cast("double") /
          sum(col("dur")).cast("long"), 6).as("twap"),
        round(sum(col("v")).cast("double") / count(lit(1)), 6)
          .as("mean_plain"))
      .orderBy("event_type")
  }

  /** Winsorization — the outlier-capping transform feature pipelines
    * apply before scaling: per event type, clamp values to the exact
    * discrete [p5, p95] (lower-percentile rule, the
    * `ext_value_quantiles` rank semantics) and report clamp counts plus
    * before/after means. Everything runs on the COMPRESSED
    * (type, value) frame — counts aggregate map-side first, the rank
    * window walks |distinct values| rows (bounded by the value DOMAIN,
    * the `ext_stats_mannwhitney` discipline), the clamp itself is a
    * broadcast of one (lo, hi) row per type back onto that frame, and
    * the means re-aggregate exact 2-decimal DECIMAL sums weighted by
    * count — the fact table is scanned exactly once. */
  val valueWinsorize: Q = Q(
    "ext_value_winsorize",
    """WITH vc AS (
      |  SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, value, c,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY value) AS cum,
      |    SUM(c) OVER (PARTITION BY event_type) AS n
      |  FROM vc),
      |b AS (
      |  SELECT event_type,
      |    MIN(CASE WHEN cum >= CEIL(0.05 * n) THEN value END) AS lo,
      |    MIN(CASE WHEN cum >= CEIL(0.95 * n) THEN value END) AS hi
      |  FROM r GROUP BY event_type),
      |cl AS (
      |  SELECT vc.event_type, c, lo, hi,
      |    CAST(vc.value AS DECIMAL(10,2)) AS dv,
      |    CAST(LEAST(GREATEST(vc.value, lo), hi) AS DECIMAL(10,2)) AS wv,
      |    (vc.value < lo) AS is_lo, (vc.value > hi) AS is_hi
      |  FROM vc JOIN b USING (event_type))
      |SELECT event_type, ANY_VALUE(lo) AS p05, ANY_VALUE(hi) AS p95,
      |  CAST(SUM(c) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN is_lo THEN c ELSE 0 END) AS BIGINT)
      |    AS n_clamped_low,
      |  CAST(SUM(CASE WHEN is_hi THEN c ELSE 0 END) AS BIGINT)
      |    AS n_clamped_high,
      |  CAST(SUM(dv * c) AS DOUBLE) / CAST(SUM(c) AS BIGINT)
      |    AS mean_before,
      |  CAST(SUM(wv * c) AS DOUBLE) / CAST(SUM(c) AS BIGINT)
      |    AS mean_after
      |FROM cl GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    val vc = Tables.events(s, d)
      .groupBy("event_type", "value")
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("event_type").orderBy("value")
    val bounds = vc
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n",
        sum(col("c")).over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(
        min(when(col("cum") >= ceil(lit(0.05) * col("n")), col("value")))
          .as("lo"),
        min(when(col("cum") >= ceil(lit(0.95) * col("n")), col("value")))
          .as("hi"))
    vc.join(broadcast(bounds), Seq("event_type"))
      .select(col("event_type"), col("c"), col("lo"), col("hi"),
        col("value").cast("decimal(10,2)").as("dv"),
        least(greatest(col("value"), col("lo")), col("hi"))
          .cast("decimal(10,2)").as("wv"),
        (col("value") < col("lo")).as("is_lo"),
        (col("value") > col("hi")).as("is_hi"))
      .groupBy("event_type")
      .agg(first(col("lo")).as("p05"), first(col("hi")).as("p95"),
        sum(col("c")).cast("long").as("n"),
        sum(when(col("is_lo"), col("c")).otherwise(0L)).cast("long")
          .as("n_clamped_low"),
        sum(when(col("is_hi"), col("c")).otherwise(0L)).cast("long")
          .as("n_clamped_high"),
        (sum(col("dv") * col("c")).cast("double") /
          sum(col("c")).cast("long")).as("mean_before"),
        (sum(col("wv") * col("c")).cast("double") /
          sum(col("c")).cast("long")).as("mean_after"))
      .orderBy("event_type")
  }

  /** Fixed-width value histogram: integer bucket arithmetic (width 25,
    * clamped top bucket), one hash aggregate with map-side combine — the
    * profile-a-column primitive. Bucket assignment is exact integer
    * floor-division on 2-decimal payloads scaled to integers, so both
    * engines bucket identically even at bin edges. */
  val valueHistogram: Q = Q(
    "ext_value_histogram",
    """SELECT LEAST(CAST(FLOOR(CAST(ROUND(value * 100) AS BIGINT) / 2500)
      |    AS BIGINT), 19) AS bucket,
      |COUNT(*) AS n,
      |MIN(value) AS lo, MAX(value) AS hi
      |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin
  ) { (s, d) =>
    // value carries a clean 2-decimal payload: ROUND(value*100) recovers
    // the exact integer cents in both engines (a bare CAST would truncate
    // in Spark and round in DuckDB — 28.999..96 from 0.29*100 would land
    // in different buckets); the bin edge compare is then integer-exact
    val cents = round(col("value") * 100).cast("long")
    val bucket = least(floor(cents / 2500).cast("long"), lit(19L))
    Tables.events(s, d)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
      .orderBy("bucket")
  }

  /** First-order event-type transition matrix (Markov counts): each
    * user's time-ordered stream yields (prev, next) pairs via one lag
    * window, then a grouped count over the 25-cell type x type domain.
    * Single user-keyed shuffle — the canonical sequence-model feature
    * extraction over clickstream data. */
  val eventsTransitions: Q = Q(
    "ext_events_transitions",
    """SELECT prev_type, event_type AS next_type, COUNT(*) AS n FROM (
      |  SELECT event_type, LAG(event_type) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events) seq
      |WHERE prev_type IS NOT NULL
      |GROUP BY prev_type, next_type ORDER BY prev_type, next_type""".stripMargin
  ) { (s, d) =>
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("prev_type", "next_type")
  }

  /** Time-series gap fill / resampling: the dense hourly grid over the
    * events span — every (event_type, hour) slot between the global min
    * and max hour, zero-filled where no events landed. The grid is built
    * declaratively (bounds aggregate -> broadcast -> `sequence` +
    * `explode` against the 5-row type frame), so it never materializes
    * driver-side; the only event-volume work is the same hourly
    * pre-aggregate `ext_window_hourly` runs, and the join that stitches
    * grid to counts is between two POST-aggregate frames (types x hours
    * vs distinct non-empty slots — both tiny next to the raw events,
    * broadcastable at any corpus scale where hours grow like time, not
    * data). The standard prep for sequence models / anomaly detectors
    * that need an evenly-spaced series, missing buckets as real zeros. */
  val gapFill: Q = Q(
    "ext_events_gap_fill",
    """WITH bounds AS (
      |  SELECT date_trunc('hour', MIN(ts)) AS lo,
      |         date_trunc('hour', MAX(ts)) AS hi FROM events),
      |hours AS (
      |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
      |    AS window_start FROM bounds),
      |types(event_type) AS (VALUES
      |  ('click'), ('error'), ('purchase'), ('signup'), ('view')),
      |counts AS (
      |  SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT t.event_type, hrs.window_start, COALESCE(c.n, 0) AS n
      |FROM hours hrs CROSS JOIN types t
      |LEFT JOIN counts c
      |  ON c.h = hrs.window_start AND c.event_type = t.event_type
      |ORDER BY t.event_type, hrs.window_start""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val ev = Tables.events(s, d)
    val counts = ev
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val grid = eventTypes.toDF("event_type")
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 hour")))
          .as("window_start"))
    grid.join(counts,
        grid("window_start") === counts("h")
          && grid("event_type") === counts("event_type"), "left")
      .select(grid("event_type"), col("window_start"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("event_type", "window_start")
  }

  /** Per-user exponentially-weighted moving average of event values
    * (alpha = 0.2): s_1 = v_1, s_i = 0.2 v_i + 0.8 s_{i-1}. The
    * recurrence depends on EVERY prior value, so no window frame or
    * commutative aggregate expresses it — this is the sequential-fold
    * tier: collect each user's (ts, event_id)-ordered values and fold
    * once, left to right. DuckDB's seedless `list_reduce` starts from
    * the first element; the Spark fold seeds with element 1 and folds
    * the rest, the identical chain of IEEE ops — so the smoothed values
    * hash-match with no rounding crutch.
    *
    * Scale shape: one keyed shuffle (user_id); per-entity state is that
    * entity's own sequence (the same bound typed sessionization carries
    * — fine for per-user event streams, not for unbounded single keys).
    * The fold itself is O(n) per user with zero further shuffles.
    */
  val eventsEwma: Q = Q(
    "ext_events_ewma",
    """WITH seq AS (
      |  SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, event_id)
      |    AS vs
      |  FROM events GROUP BY 1)
      |SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
      |  list_reduce(vs, (acc, x) -> 0.2 * x + 0.8 * acc) AS ewma
      |FROM seq ORDER BY user_id""".stripMargin
  ) { (s, d) =>
    val seq = Tables.events(s, d)
      .groupBy("user_id")
      .agg(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("value")))),
        st => st("value")).as("vs"))
    seq.select(col("user_id"),
        size(col("vs")).cast("long").as("n_events"),
        aggregate(
          slice(col("vs"), lit(2), greatest(size(col("vs")) - 1, lit(0))),
          element_at(col("vs"), 1),
          (acc, x) => lit(0.2) * x + lit(0.8) * acc).as("ewma"))
      .orderBy("user_id")
  }

  /** Nearest tolerance: 30 minutes in microseconds. */
  private val NearTolUs = 1800000000L

  /** Nearest-event as-of join (pandas `merge_asof(direction='nearest')`,
    * re-expressed as windows): for each purchase, the time distance to
    * the CLOSEST click of the same user within +-30 min — looking both
    * directions, unlike [[asofJoin]]'s backward-only rule. Tie (equal
    * distance on both sides) goes to the earlier click; sign carries the
    * direction (positive = click before purchase). Purchases with no
    * click in tolerance keep a NULL delta — LEFT semantics, so the
    * output is exactly one row per purchase.
    *
    * Scale shape: identical to [[asofJoin]] — no self-join, no range
    * join; one shuffle on user_id and two frame-bounded window passes
    * (last-before / first-after) over the same sort. Distances are exact
    * integer microseconds (`epoch_us` / `unix_micros`), so no double
    * arithmetic exists anywhere. */
  val asofNearest: Q = Q(
    "ext_asof_nearest",
    s"""WITH t AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
       |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_us,
       |    first_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
       |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_us
       |  FROM events WHERE event_type IN ('click', 'purchase')),
       |p AS (
       |  SELECT event_id AS purchase_id, user_id,
       |    epoch_us(ts) - prev_us AS db, next_us - epoch_us(ts) AS da
       |  FROM t WHERE event_type = 'purchase')
       |SELECT purchase_id, user_id,
       |  CAST(CASE
       |    WHEN db IS NOT NULL AND db <= $NearTolUs
       |      AND (da IS NULL OR da > $NearTolUs OR db <= da) THEN db
       |    WHEN da IS NOT NULL AND da <= $NearTolUs THEN -da
       |    ELSE NULL END AS BIGINT) AS nearest_delta_us
       |FROM p ORDER BY purchase_id""".stripMargin
  ) { (s, d) =>
    val ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val clickUs = when(col("event_type") === "click", unix_micros(col("ts")))
    val t = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("prev_us", last(clickUs, ignoreNulls = true)
        .over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("next_us", first(clickUs, ignoreNulls = true)
        .over(ord.rowsBetween(1, Window.unboundedFollowing)))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        (unix_micros(col("ts")) - col("prev_us")).as("db"),
        (col("next_us") - unix_micros(col("ts"))).as("da"))
    t.select(col("purchase_id"), col("user_id"),
      when(col("db").isNotNull && col("db") <= NearTolUs &&
          (col("da").isNull || col("da") > NearTolUs ||
            col("db") <= col("da")), col("db"))
        .when(col("da").isNotNull && col("da") <= NearTolUs, -col("da"))
        .cast("long").as("nearest_delta_us"))
      .orderBy("purchase_id")
  }

  val all: Seq[Q] = Seq(windowHourly, windowSliding, jsonExtract, sessionize,
    pivotByType, asofJoin, approxDistinct, rangeJoin, valueStats,
    sketchStoreHll,
    eventsFunnel, eventsRetention, valueQuantiles, valueQuantilesApprox,
    eventsAnomaly, eventsTransitions, valueHistogram, valueWinsorize,
    valueTwap, gapFill, eventsEwma, asofNearest)
}
