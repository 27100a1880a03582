package graft.ops

import org.apache.spark.sql.functions._
import graft.core.{Determinism, Q, Tables}
import Determinism.dsum

/** The reference's relational surface (SURVEY.md §2), re-expressed as
  * declarative Spark plans over the driver fixture tables.
  *
  * Every operator the reference runs as an embedded MySQL SQL string or a
  * per-row Python loop appears here as a Catalyst-optimizable DataFrame
  * plan: filters/projections push into the parquet scan, small dimensions
  * are broadcast, per-key scalar queries (the reference's N+1 pattern,
  * app.py:154-166) are rewritten as one grouped aggregation.
  */
object Relational {

  /** S3 — filtered full scan (get_saved_cards, db.py:425-434). */
  val s3ScanFilter: Q = Q(
    "q_s3_scan_filter",
    "SELECT * FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey"
  ) { (s, d) =>
    Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .orderBy("c_custkey")
  }

  /** S4 — point lookup by PK (get_event, db.py:296-319). At cluster scale
    * this is served by partition pruning + parquet min/max on the key. */
  val s4PointLookup: Q = Q(
    "q_s4_point_lookup",
    "SELECT * FROM orders WHERE o_orderkey = 42"
  ) { (s, d) =>
    Tables.orders(s, d).filter(col("o_orderkey") === 42L)
  }

  /** P1 — explicit column projection (db.py:224-225 select lists). */
  val p1Projection: Q = Q(
    "q_p1_projection",
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
  }

  /** P2 — projection + rename + numeric cast (the reference's dict-remap
    * loop, db.py:279-289: event_id->id, event_name->title, float(price)). */
  val p2RenameCast: Q = Q(
    "q_p2_rename_cast",
    """SELECT p_partkey AS id, p_name AS title,
      |p_retailprice AS price FROM part ORDER BY id""".stripMargin
  ) { (s, d) =>
    Tables.part(s, d)
      .select(
        col("p_partkey").as("id"),
        col("p_name").as("title"),
        col("p_retailprice").as("price"))
      .orderBy("id")
  }

  /** P4 — single equality filter (WHERE is_active = 1, db.py:274). */
  val p4EqFilter: Q = Q(
    "q_p4_eq_filter",
    """SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
      |WHERE l_returnflag = 'R' ORDER BY l_orderkey, l_linenumber""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** P5 — conjunctive filter (db.py:365). */
  val p5ConjFilter: Q = Q(
    "q_p5_conj_filter",
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_returnflag = 'A' AND l_linestatus = 'F'
      |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "A" && col("l_linestatus") === "F")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
  }

  /** P6+F1 — auth predicate folded into the plan: the reference fetches then
    * compares SHA-256 client-side (db.py:238); we push the hash-equality
    * into the scan filter. */
  val p6HashPredicate: Q = Q(
    "q_p6_hash_predicate",
    """SELECT c_custkey, c_name FROM customer
      |WHERE sha256(c_name) = sha256('Customer#000000042')
      |ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    Tables.customer(s, d)
      .filter(sha2(col("c_name"), 256) === sha2(lit("Customer#000000042"), 256))
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** P7 — write-path validation predicates (app.py:79-94) as row checks. */
  val p7Validation: Q = Q(
    "q_p7_validation",
    """SELECT c_custkey,
      |regexp_matches(c_name, '^Customer#[0-9]{9}$') AS name_ok,
      |length(trim(c_name)) > 0 AS nonempty,
      |contains(c_name, '#') AS has_marker
      |FROM customer ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    Tables.customer(s, d)
      .select(
        col("c_custkey"),
        col("c_name").rlike("^Customer#[0-9]{9}$").as("name_ok"),
        (length(trim(col("c_name"))) > 0).as("nonempty"),
        col("c_name").contains("#").as("has_marker"))
      .orderBy("c_custkey")
  }

  /** F1 — SHA-256 hex digest as a projected column (db.py:62-63). */
  val f1Sha2: Q = Q(
    "q_f1_sha256",
    "SELECT c_custkey, sha256(c_name) AS pw_hash FROM customer ORDER BY c_custkey"
  ) { (s, d) =>
    Tables.customer(s, d)
      .select(col("c_custkey"), sha2(col("c_name"), 256).as("pw_hash"))
      .orderBy("c_custkey")
  }

  /** J1+A2 — join + filtered SUM with NULL->0 (event revenue,
    * db.py:361-367). Decimal-cast per row for engine-exact summation. */
  val j1JoinFilterSum: Q = Q(
    "q_j1_join_filter_sum",
    """SELECT COALESCE(CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)))
      |  AS DOUBLE), 0.0) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderstatus = 'F'""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .agg(coalesce(dsum(col("l_extendedprice")), lit(0.0)).as("revenue"))
  }

  /** J2 — fact->dim equi-joins; dims are broadcast (db.py:391-392). */
  val j2FactDim: Q = Q(
    "q_j2_fact_dim_join",
    """SELECT c_custkey, c_name, n_name, r_name
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey", "c_name", "n_name", "r_name")
      .orderBy("c_custkey")
  }

  /** J3 — latest-per-group as-of lookup, LEFT-preserving (the correlated
    * `ORDER BY payment_date DESC LIMIT 1` subquery, db.py:386-390; a parent
    * with no children must yield NULLs). max_by aggregate, one map-side-
    * combined shuffle on the group key (the row_number window form, 4x
    * slower, lives on in the oracle SQL and the §2.5 window family). */
  val j3LatestPerGroup: Q = Q(
    "q_j3_latest_per_group",
    """SELECT o.o_orderkey, l.l_shipdate AS last_ship,
      |l.l_extendedprice AS last_price
      |FROM orders o LEFT JOIN (
      |  SELECT * FROM (
      |    SELECT l_orderkey, l_shipdate, l_extendedprice,
      |      row_number() OVER (PARTITION BY l_orderkey
      |        ORDER BY l_shipdate DESC, l_linenumber DESC,
      |                 l_extendedprice DESC) AS rn
      |    FROM lineitem) t WHERE rn = 1
      |) l ON o.o_orderkey = l.l_orderkey
      |ORDER BY o.o_orderkey""".stripMargin
  ) { (s, d) =>
    // top-1-per-group as max_by over a lexicographic struct key instead
    // of a row_number window: a hash aggregate combines map-side (each
    // input partition sends ONE candidate row per order key to the
    // shuffle) where the window shape must shuffle every lineitem row and
    // sort it inside each partition — the aggregate is the plan that
    // survives a 100x fact table. Struct ordering is field-lexicographic
    // in both engines, so the picked row matches the window's (shipdate,
    // linenumber, extendedprice) DESC ranking exactly.
    val latest = Tables.lineitem(s, d)
      .select("l_orderkey", "l_shipdate", "l_extendedprice", "l_linenumber")
      .groupBy("l_orderkey")
      .agg(max_by(
        struct(col("l_shipdate"), col("l_extendedprice")),
        struct(col("l_shipdate"), col("l_linenumber"),
          col("l_extendedprice"))).as("top"))
      .select(col("l_orderkey"), col("top.l_shipdate"),
        col("top.l_extendedprice"))
    Tables.orders(s, d).select("o_orderkey")
      .join(latest, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"), col("l_shipdate").as("last_ship"),
        col("l_extendedprice").as("last_price"))
      .orderBy("o_orderkey")
  }

  /** J4 — latest-per-group dedup: keep MAX(id) per key pair (the correlated
    * MAX subquery, db.py:394-399). */
  val j4DedupLatest: Q = Q(
    "q_j4_dedup_latest",
    """SELECT user_id, event_type, event_id AS last_event_id,
      |value AS last_value FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |    ORDER BY event_id DESC) AS rn FROM events) t
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin
  ) { (s, d) =>
    // same aggregate-over-window rewrite as q_j3: event_id is the ranking
    // key, so max_by gives the newest row with map-side combine instead
    // of a full shuffle-sort of the fact table
    Tables.events(s, d)
      .groupBy("user_id", "event_type")
      .agg(max_by(struct(col("event_id"), col("value")),
        col("event_id")).as("top"))
      .select(col("user_id"), col("event_type"),
        col("top.event_id").as("last_event_id"),
        col("top.value").as("last_value"))
      .orderBy("user_id", "event_type")
  }

  /** J5+A4 — the admin dashboard's N+1 loop (1 + 2N scalar queries,
    * app.py:154-166) collapsed into ONE grouped aggregate + left join. */
  val j5GroupedStats: Q = Q(
    "q_j5_grouped_stats",
    """SELECT o_orderkey, COUNT(l_orderkey) AS n_items,
      |COALESCE(CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE),
      |         0.0) AS revenue
      |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d).select("o_orderkey")
      .join(Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice"),
        col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy("o_orderkey")
      .agg(
        count(col("l_orderkey")).as("n_items"),
        coalesce(dsum(col("l_extendedprice")), lit(0.0)).as("revenue"))
      .orderBy("o_orderkey")
  }

  /** A1 — ungrouped filtered COUNT(*) (db.py:356-358). */
  val a1CountFilter: Q = Q(
    "q_a1_count_filter",
    "SELECT COUNT(*) AS n_rows FROM lineitem WHERE l_returnflag = 'R'"
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .agg(count(lit(1)).as("n_rows"))
  }

  /** A2 — SUM over an empty set must yield 0, not NULL (db.py:361-367). */
  val a2SumCoalesceEmpty: Q = Q(
    "q_a2_sum_coalesce_empty",
    """SELECT COALESCE(CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE),
      |0.0) AS total FROM lineitem WHERE l_quantity < 0""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_quantity") < 0)
      .agg(coalesce(dsum(col("l_quantity")), lit(0.0)).as("total"))
  }

  /** A3 — MAX per group (the correlated MAX of db.py:395-398, grouped). */
  val a3MaxPerGroup: Q = Q(
    "q_a3_max_per_group",
    """SELECT user_id, MAX(event_id) AS max_event_id FROM events
      |GROUP BY user_id ORDER BY user_id""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(max(col("event_id")).as("max_event_id"))
      .orderBy("user_id")
  }

  /** A4 — composite per-entity stats (db.py:352-372) as one grouped agg. */
  val a4CustomerStats: Q = Q(
    "q_a4_customer_stats",
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
      |COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE),
      |         0.0) AS spend
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    Tables.customer(s, d).select("c_custkey")
      .join(Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("spend"))
      .orderBy("c_custkey")
  }

  /** O1 — full sort ASC (ORDER BY event_date, db.py:275). */
  val o1Sort: Q = Q(
    "q_o1_sort",
    """SELECT o_orderkey, o_orderdate FROM orders
      |ORDER BY o_orderdate ASC, o_orderkey ASC""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_orderdate")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
  }

  /** O2 — top-1 by order key (ORDER BY .. DESC LIMIT 1, db.py:389-390). */
  val o2Top1: Q = Q(
    "q_o2_top1_latest",
    "SELECT event_id, ts FROM events ORDER BY ts DESC, event_id DESC LIMIT 1"
  ) { (s, d) =>
    Tables.events(s, d)
      .select("event_id", "ts")
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(1)
  }

  /** O4 — "newest row" must be deterministic: the reference's `[-1]` on an
    * unordered SELECT (app.py:290) is defined here as MAX(key). */
  val o4NewestKey: Q = Q(
    "q_o4_newest_key",
    "SELECT MAX(event_id) AS newest_id FROM events"
  ) { (s, d) =>
    Tables.events(s, d).agg(max(col("event_id")).as("newest_id"))
  }

  /** §2.7 [EXT] — set operations (absent from the reference). */
  val setOps: Q = Q(
    "q_set_ops",
    """SELECT k FROM (
      |  SELECT k FROM (
      |    SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      |    INTERSECT
      |    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F') t1
      |  EXCEPT
      |  SELECT c_custkey AS k FROM customer WHERE c_nationkey = 3) t2
      |ORDER BY k""".stripMargin
  ) { (s, d) =>
    val building = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    val fOrders = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("k"))
    val nation3 = Tables.customer(s, d)
      .filter(col("c_nationkey") === 3)
      .select(col("c_custkey").as("k"))
    building.intersect(fOrders).except(nation3).orderBy("k")
  }

  /** [EXT] semi join — EXISTS. */
  val jSemi: Q = Q(
    "q_j_semi",
    """SELECT c_custkey FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"),
        "left_semi")
      .select("c_custkey").orderBy("c_custkey")
  }

  /** [EXT] anti join — NOT EXISTS. */
  val jAnti: Q = Q(
    "q_j_anti",
    """SELECT c_custkey FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"),
        "left_anti")
      .select("c_custkey").orderBy("c_custkey")
  }

  /** [EXT] FULL OUTER join — the period-over-period reconciliation shape
    * (churned / new / retained customers across two order years). Both
    * inputs are already-aggregated per-customer counts, so the outer
    * join runs over two post-shuffle frames that share the custkey
    * partitioning (one exchange each, no re-shuffle for the join), and
    * every output column is null-folded so both engines order and hash
    * identically. */
  val jFullOuter: Q = Q(
    "q_j_full_outer",
    """WITH a AS (SELECT o_custkey, COUNT(*) AS n95 FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |  GROUP BY o_custkey),
      |b AS (SELECT o_custkey, COUNT(*) AS n96 FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  GROUP BY o_custkey)
      |SELECT COALESCE(a.o_custkey, b.o_custkey) AS custkey,
      |COALESCE(a.n95, 0) AS n95, COALESCE(b.n96, 0) AS n96,
      |CASE WHEN a.o_custkey IS NULL THEN 'new'
      |     WHEN b.o_custkey IS NULL THEN 'churned'
      |     ELSE 'retained' END AS status
      |FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
      |ORDER BY custkey""".stripMargin
  ) { (s, d) =>
    def yearCounts(y: Int, as: String) = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf(
          s"$y-01-01 00:00:00"))
        && col("o_orderdate") < lit(java.sql.Timestamp.valueOf(
          s"${y + 1}-01-01 00:00:00")))
      .groupBy("o_custkey").agg(count(lit(1)).as(as))
    val a = yearCounts(1995, "n95")
    val b = yearCounts(1996, "n96")
    a.join(b, a("o_custkey") === b("o_custkey"), "full_outer")
      .select(coalesce(a("o_custkey"), b("o_custkey")).as("custkey"),
        coalesce(col("n95"), lit(0L)).as("n95"),
        coalesce(col("n96"), lit(0L)).as("n96"),
        when(a("o_custkey").isNull, "new")
          .when(b("o_custkey").isNull, "churned")
          .otherwise("retained").as("status"))
      .orderBy("custkey")
  }

  /** [EXT] NULL-semantics corner: null-safe equality join (`<=>` /
    * IS NOT DISTINCT FROM — the join that MATCHES null keys instead of
    * dropping them) plus grouping on a nullable key and explicit
    * NULLS FIRST presentation order, pinned identically in both
    * engines. The nullable key is derived (NULLIF) so the row exercises
    * the semantics against real data without depending on fixture
    * nulls. */
  val nullSemantics: Q = Q(
    "q_null_semantics",
    """WITH o AS (SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS pri
      |  FROM orders),
      |keys(k) AS (SELECT unnest(['1-URGENT', CAST(NULL AS VARCHAR)]))
      |SELECT k.k AS key_pri, COUNT(*) AS n
      |FROM keys k JOIN o ON o.pri IS NOT DISTINCT FROM k.k
      |GROUP BY k.k ORDER BY key_pri NULLS FIRST""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val o = Tables.orders(s, d)
      .select(nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("pri"))
    val keys = Seq(Some("1-URGENT"), Option.empty[String]).toDF("k")
    broadcast(keys).join(o, col("pri") <=> col("k"))
      .groupBy(col("k").as("key_pri"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("key_pri").asc_nulls_first)
  }

  private val FuzzyProbes = Seq("smal ring", "red wdget", "blu bolt",
    "hot gearr", "small gizmoo", "grene bracket", "pruple cable",
    "xyzzy nothing", "blue blot", "rde widget")

  /** [EXT] typo-tolerant dictionary lookup (fuzzy match / query
    * correction): each misspelled probe resolves to its closest
    * catalog name by edit distance (ties by name), dropped when nothing
    * is within distance 3. The dictionary side is DISTINCT p_name — a
    * vocabulary-sized frame no matter how large the part catalog (the
    * aggregate compresses the corpus before any distance work), and the
    * probe side broadcasts, so the cross product is (probes x
    * vocabulary), never (probes x rows). At a larger vocabulary the
    * prefilter would be an n-gram/length-band block before the DP; the
    * plan shape — aggregate-compress, broadcast probes, rank per probe —
    * is unchanged. Both engines implement unit-cost Levenshtein
    * identically, so distances are integer-exact. */
  val fuzzyLookup: Q = Q(
    "ext_fuzzy_lookup",
    s"""WITH probes(q) AS (VALUES
       |  ${FuzzyProbes.map(p => s"('$p')").mkString(", ")}),
       |names AS (SELECT DISTINCT p_name FROM part),
       |scored AS (SELECT q, p_name, levenshtein(q, p_name) AS d
       |  FROM probes CROSS JOIN names)
       |SELECT q, p_name AS best_match, d FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q ORDER BY d, p_name)
       |    AS rn FROM scored) r
       |WHERE rn = 1 AND d <= 3 ORDER BY q""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val probes = FuzzyProbes.toDF("q")
    val names = Tables.part(s, d).select("p_name").distinct()
    broadcast(probes).crossJoin(names)
      .select(col("q"), col("p_name"),
        levenshtein(col("q"), col("p_name")).as("d"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q")
          .orderBy(col("d"), col("p_name"))))
      .filter(col("rn") === 1 && col("d") <= 3)
      .select(col("q"), col("p_name").as("best_match"), col("d"))
      .orderBy("q")
  }

  /** [EXT] ROLLUP grouping sets; NULL group keys folded to 'ALL' so the
    * sort order is engine-independent. */
  val aRollup: Q = Q(
    "q_a_rollup",
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
      |COALESCE(l_linestatus, 'ALL') AS ls,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
      |COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy("rf", "ls")
  }

  /** [EXT] CUBE grouping sets — the full 2^k lattice (adds the
    * (ALL, linestatus) slices ROLLUP omits). Same single-shuffle expand +
    * hash-aggregate physical shape as rollup: the Expand operator
    * replicates each input row once per grouping set BEFORE the shuffle,
    * so map-side combine still applies and no second pass over the scan
    * is needed. */
  val aCube: Q = Q(
    "q_a_cube",
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
      |COALESCE(l_linestatus, 'ALL') AS ls,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
      |COUNT(*) AS n
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy("rf", "ls")
  }

  /** [EXT] arbitrary GROUPING SETS — the non-lattice set list neither
    * ROLLUP nor CUBE expresses (two independent 1-D slices + grand
    * total, NOT their cross product). Same physical shape as
    * rollup/cube: ONE Expand (3 replicas per row, one per set) before a
    * single shuffled hash aggregate with map-side combine — the
    * "compute every report slice in one pass" primitive. */
  val aGroupingSets: Q = Q(
    "q_a_grouping_sets",
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
      |COALESCE(l_linestatus, 'ALL') AS ls,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
      |COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY rf, ls""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy("rf", "ls")
  }

  /** [EXT] exact COUNT(DISTINCT) — the exact side of the distinct family
    * (approx variant lives in ext.Cardinality). */
  val countDistinctExact: Q = Q(
    "q_countd_exact",
    """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
      |COUNT(DISTINCT l_suppkey) AS n_supps FROM lineitem""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
  }

  /** F6 — date formatting "%d %b %Y" (app.py:160-161). */
  val f6DateFormat: Q = Q(
    "q_f6_date_format",
    """SELECT o_orderkey, strftime(o_orderdate, '%d %b %Y') AS d FROM orders
      |ORDER BY o_orderkey""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "dd MMM yyyy").as("d"))
      .orderBy("o_orderkey")
  }

  /** F7 — 12-hour time-of-day display "%I:%M %p" (app.py:224-229). */
  val f7TimeOfDay: Q = Q(
    "q_f7_time_of_day",
    """SELECT event_id, strftime(ts, '%I:%M %p') AS t12 FROM events
      |ORDER BY event_id""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"), date_format(col("ts"), "hh:mm a").as("t12"))
      .orderBy("event_id")
  }

  /** F8 — datetime composition (datetime.combine, app.py:203). */
  val f8Compose: Q = Q(
    "q_f8_datetime_compose",
    """SELECT event_id,
      |CAST(CAST(CAST(ts AS DATE) AS VARCHAR) || ' 12:34:56' AS TIMESTAMP)
      |  AS composed
      |FROM events ORDER BY event_id""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        to_timestamp(concat(col("ts").cast("date").cast("string"),
          lit(" 12:34:56"))).as("composed"))
      .orderBy("event_id")
  }

  /** F9 — last-4 suffix for card display (app.py:133). */
  val f9Last4: Q = Q(
    "q_f9_last4",
    """SELECT doc_id, right(text, 4) AS last4 FROM documents
      |WHERE n_chars >= 4 ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .filter(col("n_chars") >= 4)
      .select(col("doc_id"), substring(col("text"), -4, 4).as("last4"))
      .orderBy("doc_id")
  }

  /** F10 — currency formatting "$%.2f" (app.py:163). Safe cross-engine: the
    * fixture doubles carry 2-decimal payloads, so no exact rounding ties. */
  val f10Currency: Q = Q(
    "q_f10_currency_format",
    """SELECT o_orderkey, printf('$%.2f', o_totalprice) AS amount FROM orders
      |ORDER BY o_orderkey""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        format_string("$%.2f", col("o_totalprice")).as("amount"))
      .orderBy("o_orderkey")
  }

  val all: Seq[Q] = Seq(
    s3ScanFilter, s4PointLookup, p1Projection, p2RenameCast, p4EqFilter,
    p5ConjFilter, p6HashPredicate, p7Validation, f1Sha2, j1JoinFilterSum,
    j2FactDim, j3LatestPerGroup, j4DedupLatest, j5GroupedStats,
    a1CountFilter, a2SumCoalesceEmpty, a3MaxPerGroup, a4CustomerStats,
    o1Sort, o2Top1, o4NewestKey, setOps, jSemi, jAnti, jFullOuter,
    fuzzyLookup, nullSemantics, aRollup, aCube,
    aGroupingSets,
    countDistinctExact, f6DateFormat, f7TimeOfDay, f8Compose, f9Last4,
    f10Currency)
}
