package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType}
import graft.{Session, Tables}
import graft.compat.Compat
import graft.operators.{Bucketing, FieldMap, FieldSpec, Geometry, Joins, Layers, Salting, Sinks}

/** Relational surface: scans with pruning/pushdown, projection/rename,
  * joins (KEEP_COMMON/KEEP_ALL), semi/anti, aggregation, windows, top-k,
  * set ops, distinct — SURVEY §2.1-§2.5 + the "full relational surface"
  * the north star requires (SURVEY §2.4 note).
  */
object RelationalQueries {

  /** Exact decimal accumulator for a double SUM, surfaced back as double.
    * Sum order across partitions stops mattering, so Spark's partial aggs and
    * DuckDB's single-threaded sum produce bit-identical results.
    *
    * The decimal result goes to double THROUGH A STRING: decimal→text is
    * exact in both engines and text→double is correctly rounded in both
    * (Java `parseDouble`, DuckDB fast_float). A direct decimal→double cast
    * diverges once the unscaled value exceeds 2^53 (DuckDB computes
    * int128/10^s in floating point — two roundings), and decimal rescaling
    * can't help (DuckDB truncates where Spark rounds HALF_UP). Oracles carry
    * the same `CAST(CAST(sum AS VARCHAR) AS DOUBLE)` two-step. */
  private def dsum(c: org.apache.spark.sql.Column, scale: Int = 2) =
    sum(c.cast(DecimalType(27, scale))).cast("string").cast("double")

  val all: Seq[Q] = Seq(

    // ---- A-ops / full agg surface ------------------------------------
    Q("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,10))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10).as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- S1 scan: pruning + predicate pushdown -----------------------
    Q("q02_scan_pushdown",
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00' AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_shipdate")
        .filter(col("l_shipdate") < to_timestamp(lit("1996-01-01 00:00:00")) &&
                col("l_quantity") > 45)
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- P1/P2 field map: case-insensitive rename-to-requested --------
    Q("q03_field_map_rename",
      """SELECT p_partkey AS part_id, p_name AS part_name, p_retailprice AS price
        |FROM part WHERE p_retailprice > 910.0 ORDER BY part_id""".stripMargin) { (s, dir) =>
      FieldMap(Tables.load(s, dir, "part"), Seq(
          FieldSpec("P_PARTKEY", "part_id"),          // case-insensitive source
          FieldSpec("p_name", "part_name"),
          FieldSpec("p_retailprice", "price")))
        .filter(col("price") > 910.0)
        .orderBy("part_id")
    },

    // ---- J1 KEEP_COMMON (inner) ---------------------------------------
    Q("q04_join_keep_common",
      """SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Joins.joinToFeatures(
          Tables.load(s, dir, "orders"), Tables.load(s, dir, "customer"),
          "o_custkey", "c_custkey", Joins.KeepCommon)
        .select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment")
        .orderBy("o_orderkey")
    },

    // ---- J1 KEEP_ALL (left outer) --------------------------------------
    Q("q05_join_keep_all",
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey NULLS LAST""".stripMargin) { (s, dir) =>
      Joins.joinToFeatures(
          Tables.load(s, dir, "customer"), Tables.load(s, dir, "orders"),
          "c_custkey", "o_custkey", Joins.KeepAll)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_last)
    },

    // ---- anti join (NOT EXISTS) ----------------------------------------
    Q("q06_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 350000)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "customer")
        .join(Tables.load(s, dir, "orders").filter(col("o_totalprice") > 350000),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ---- semi join (EXISTS) ---------------------------------------------
    Q("q07_semi_join",
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_acctbal > 9000.0
        |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "customer")
        .filter(col("c_acctbal") > 9000.0)
        .join(Tables.load(s, dir, "orders"),
              col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
    },

    // ---- A1 row_count ----------------------------------------------------
    Q("q08_row_count",
      "SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity BETWEEN 1 AND 10") { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity").between(1, 10))
        .agg(count(lit(1)).as("n"))
    },

    // ---- §1.2 sentinel fill (fill_nulls=True) ----------------------------
    Q("q09_sentinel_fill",
      """SELECT c_custkey,
        |  COALESCE(CASE WHEN c_mktsegment = 'BUILDING' THEN NULL ELSE c_mktsegment END, '') AS seg,
        |  COALESCE(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, -1.0) AS bal
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val withNulls = Tables.load(s, dir, "customer").select(
        col("c_custkey"),
        when(col("c_mktsegment") === "BUILDING", lit(null)).otherwise(col("c_mktsegment")).as("seg"),
        when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")).as("bal"))
      Compat.fillSentinels(withNulls).orderBy("c_custkey")
    },

    // ---- §1.2 sentinel unfill ('' / 'nan' / -1 → NULL) --------------------
    Q("q10_sentinel_unfill",
      """SELECT p_partkey,
        |  CASE WHEN brand IN ('nan', '') THEN NULL ELSE brand END AS brand,
        |  CASE WHEN size_s = -1 THEN NULL ELSE size_s END AS size_s
        |FROM (SELECT p_partkey,
        |        CASE WHEN p_partkey % 7 = 0 THEN 'nan' ELSE p_brand END AS brand,
        |        CASE WHEN p_partkey % 5 = 0 THEN -1 ELSE p_size END AS size_s
        |      FROM part)
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      val staged = Tables.load(s, dir, "part").select(
        col("p_partkey"),
        when(col("p_partkey") % 7 === 0, lit("nan")).otherwise(col("p_brand")).as("brand"),
        when(col("p_partkey") % 5 === 0, lit(-1)).otherwise(col("p_size")).as("size_s"))
      // p_partkey itself is non-negative so the -1 rule can't touch it.
      Compat.unfillSentinels(staged).orderBy("p_partkey")
    },

    // ---- §1.2 timestamp clamp (out-of-ns-range → NULL) --------------------
    Q("q11_date_clamp",
      """SELECT o_orderkey,
        |  CASE WHEN shifted BETWEEN TIMESTAMP '1677-09-22 00:00:00' AND TIMESTAMP '2262-04-12 00:00:00'
        |       THEN shifted ELSE NULL END AS odate
        |FROM (SELECT o_orderkey,
        |        o_orderdate + to_days(CAST(CASE o_orderkey % 3 WHEN 1 THEN 160000 WHEN 2 THEN -130000 ELSE 0 END AS INT)) AS shifted
        |      FROM orders)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val shifted = Tables.load(s, dir, "orders").select(
        col("o_orderkey"),
        expr("timestampadd(DAY, CAST(CASE o_orderkey % 3 WHEN 1 THEN 160000 WHEN 2 THEN -130000 ELSE 0 END AS INT), o_orderdate)").as("odate"))
      shifted.select(col("o_orderkey"), Compat.clampTimestamp(col("odate")).as("odate"))
        .orderBy("o_orderkey")
    },

    // ---- window functions --------------------------------------------------
    Q("q12_window_rownum",
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    },

    // ---- top-k --------------------------------------------------------------
    Q("q13_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    },

    // ---- set ops: UNION / EXCEPT ----------------------------------------------
    Q("q14_setops",
      """SELECT k FROM (
        |  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |  UNION
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |  EXCEPT
        |  SELECT c_custkey FROM customer WHERE c_nationkey = 5)
        |ORDER BY k""".stripMargin) { (s, dir) =>
      val cust = Tables.load(s, dir, "customer")
      val a = cust.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey").as("k"))
      val b = Tables.load(s, dir, "orders").filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("k"))
      val c = cust.filter(col("c_nationkey") === 5).select(col("c_custkey").as("k"))
      a.union(b).distinct().except(c).orderBy("k")
    },

    // ---- set ops: INTERSECT -----------------------------------------------------
    Q("q27_intersect",
      """SELECT k FROM (
        |  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
        |ORDER BY k""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey").as("k"))
        .intersect(Tables.load(s, dir, "orders")
          .filter(col("o_totalprice") > 200000).select(col("o_custkey").as("k")))
        .orderBy("k")
    },

    // ---- distinct ---------------------------------------------------------------
    Q("q15_distinct",
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---- group-by + having --------------------------------------------------------
    Q("q16_agg_having",
      """SELECT o_custkey, COUNT(*) AS n,
        |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 3
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("spend"))
        .filter(col("n") >= 3)
        .orderBy("o_custkey")
    },

    // ---- §1.2 write-side downcast (int64→int32 | float64; bool→int32) ---------------
    Q("q17_downcast",
      """SELECT CAST(c_custkey AS INTEGER) AS c_custkey,
        |       CAST(c_custkey + 3000000000 AS DOUBLE) AS big,
        |       CAST(c_acctbal > 0 AS INTEGER) AS pos
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val staged = Tables.load(s, dir, "customer").select(
        col("c_custkey"),
        (col("c_custkey") + 3000000000L).as("big"),
        (col("c_acctbal") > 0).as("pos"))
      Compat.downcastLongs(staged).orderBy("c_custkey")
    },

    // ---- P5 ap_ratio + A3 centroid + P4 copy_oids over derived geometry --------------
    Q("q18_geometry_scalars",
      """SELECT p_partkey, p_partkey AS oid_copy,
        |  (CAST(p_size AS DOUBLE) + (p_size + p_retailprice / 100.0)) / 2.0 AS cx,
        |  (0.0 + p_size * 2.0) / 2.0 AS cy,
        |  (p_size * 4.0) / (2.0 * sqrt(pi() * p_retailprice)) AS ap_ratio
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      val p = Geometry.copyOids(Tables.load(s, dir, "part"), "p_partkey", "oid_copy")
      p.select(
          col("p_partkey"), col("oid_copy"),
          Geometry.centroidX(col("p_size").cast("double"),
                             col("p_size") + col("p_retailprice") / 100.0).as("cx"),
          Geometry.centroidY(lit(0.0), col("p_size") * 2.0).as("cy"),
          Geometry.apRatio(col("p_size") * 4.0, col("p_retailprice")).as("ap_ratio"))
        .orderBy("p_partkey")
    },

    // ---- as-of join (beyond the reference; DuckDB ASOF JOIN oracle) --------
    Q("q24_asof_join",
      """WITH r AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_orderkey,
        |             max(o_totalprice) AS max_price_day
        |           FROM orders GROUP BY o_custkey, o_orderdate),
        |e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT e.event_id, e.user_id, r.last_orderkey, r.max_price_day
        |FROM e ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
        |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
      val events = Tables.load(s, dir, "events").select("event_id", "user_id", "ts")
      val daily = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("last_orderkey"),
             max(col("o_totalprice")).as("max_price_day"))
      Joins.asOfJoin(events, daily, "user_id", "o_custkey", "ts", "o_orderdate",
          Seq("last_orderkey", "max_price_day"))
        .select("event_id", "user_id", "last_orderkey", "max_price_day")
        .orderBy("event_id")
    },

    // ---- range join (binned; DuckDB IEJoin oracle) -------------------------
    // The probe-interval count is BOUNDED (~100: step = max(150, ⌈n/100⌉),
    // one driver-side count, same scalar subquery in the oracle). A fixed
    // 1-in-150 sampling made the sf1 sweep read 270 s: intervals ∝ n and
    // matches-per-interval ∝ n ⇒ O(n²) OUTPUT — the query instance, not
    // the binned operator, was the quadratic. Bounded probes ⇒ linear.
    Q("q25_range_join",
      """WITH st AS (SELECT GREATEST(150, CAST(CEIL(COUNT(*) / 100.0) AS BIGINT)) AS step FROM orders),
        |s AS (SELECT o_orderkey AS skey, o_totalprice - 5000 AS lo, o_totalprice + 5000 AS hi
        |      FROM orders, st WHERE o_orderkey % st.step = 0)
        |SELECT s.skey, o.o_orderkey
        |FROM s JOIN orders o ON o.o_totalprice BETWEEN s.lo AND s.hi
        |ORDER BY skey, o_orderkey""".stripMargin) { (s, dir) =>
      val orders = Tables.load(s, dir, "orders")
      val step = math.max(150L, math.ceil(orders.count() / 100.0).toLong)
      val samples = orders.filter(col("o_orderkey") % step === 0)
        .select(col("o_orderkey").as("skey"),
          (col("o_totalprice") - 5000).as("lo"), (col("o_totalprice") + 5000).as("hi"))
      Joins.rangeJoinBinned(orders.select("o_orderkey", "o_totalprice"), "o_totalprice",
          samples, "lo", "hi", binWidth = 10000.0)
        .select("skey", "o_orderkey")
        .orderBy("skey", "o_orderkey")
    },

    // ---- TPC-H Q3 shape: 3-table join + agg + top-k ------------------------
    // The classic multi-join planning exercise: customer (filtered on
    // segment — broadcast-sized after the filter) ⋈ orders (date-filtered,
    // pushed to the scan) ⋈ lineitem, exact-decimal revenue, top-10 via
    // TakeOrderedAndProject. Catalyst picks broadcast-hash for the dim
    // side and AQE re-plans on runtime stats — the demonstration that the
    // engine's multi-join path is the optimizer's, not hand-scheduled.
    Q("q167_shipping_priority",
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,10))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val cut = to_timestamp(lit("1997-06-01 00:00:00"))
      Tables.load(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.load(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < cut)
        .join(Tables.load(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > cut)
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10).as("revenue"))
        .select("l_orderkey", "o_orderdate", "o_orderpriority", "revenue")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // ---- TPC-H Q5 shape: 6-table snowflake join ----------------------------
    // Local-supplier volume: the deepest join chain in the suite
    // (region → nation → {customer, supplier} → orders → lineitem, plus
    // the c_nationkey = s_nationkey co-nation constraint). region/nation
    // broadcast; the customer⋈orders⋈lineitem spine shuffles on its keys;
    // AQE handles the rest — one declarative plan, zero hand-scheduling.
    Q("q168_local_volume",
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,10))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "customer")
        .join(Tables.load(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
                col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
        .join(Tables.load(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.load(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(Tables.load(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.load(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // ---- grouping sets: ROLLUP ---------------------------------------------
    Q("q19_rollup",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_last, col("l_linestatus").asc_nulls_last)
    },

    // ---- pivot (wide conditional aggregation) -------------------------------
    Q("q26_pivot",
      """SELECT l_returnflag,
        |  COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_F,
        |  COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_O,
        |  CAST(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(27,2)) END) AS VARCHAR) AS DOUBLE) AS qty_F,
        |  CAST(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(27,2)) END) AS VARCHAR) AS DOUBLE) AS qty_O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      def cnt(v: String) = count(when(col("l_linestatus") === v, 1)).as(s"n_$v")
      def qty(v: String) =
        sum(when(col("l_linestatus") === v, col("l_quantity").cast(DecimalType(27, 2))))
          .cast("string").cast("double").as(s"qty_$v")
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(cnt("F"), cnt("O"), qty("F"), qty("O"))
        .orderBy("l_returnflag")
    },

    // ---- S8 copy_feats CTAS: rename+filter, materialize, read back ----------
    Q("q21_ctas_copy",
      """SELECT p_partkey AS pid, p_brand AS brand, p_size AS psize
        |FROM part WHERE p_size > 25 ORDER BY pid""".stripMargin) { (s, dir) =>
      val scratch = new Session.Scratch  // janitor-prefixed; cleared by clearScratch
      val out = s"${scratch.dir}/ctas_part.parquet"
      Layers.copyFeats(Tables.load(s, dir, "part"), out,
        specs = Some(Seq(FieldSpec("P_PARTKEY", "pid"), FieldSpec("p_brand", "brand"),
                         FieldSpec("p_size", "psize"))),
        where = Some("psize > 25"))
      graft.sources.FooterSchema.read(s, out).orderBy("pid")
    },

    // ---- skew salting: two-phase agg ≡ plain agg (deterministic salts) -----
    // The salted partial/final phases use exact decimal accumulators, so the
    // two-phase recombination is bit-identical to the one-phase oracle no
    // matter how rows scatter over salt buckets.
    Q("q44_salted_agg",
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Salting.saltedAgg(Tables.load(s, dir, "lineitem"), "l_returnflag", buckets = 8,
          partialAggs = Seq(count(lit(1)).as("__pn"),
            sum(col("l_quantity").cast(DecimalType(27, 2))).as("__pq")),
          finalAggs = Seq(sum(col("__pn")).as("n"),
            sum(col("__pq")).cast("string").cast("double").as("sum_qty")),
          saltSource = Seq("l_orderkey", "l_linenumber"))
        .orderBy("l_returnflag")
    },

    // ---- key-skew diagnosis report ----------------------------------------
    // Top-20 heaviest l_suppkey values with per-key and cumulative head
    // share — the measurement that decides whether a prospective shuffle
    // needs q44's salting or AQE skew handling. Counts exact int64; shares
    // one IEEE division each; cumulative share from the exact integer
    // running sum.
    Q("q94_skew_report", {
      val inner = graft.operators.Salting.keySkewReportSql("lineitem", "l_suppkey", topN = 20)
      s"""SELECT rank, key, cnt, frac, cum_frac FROM ($inner)
         |ORDER BY rank""".stripMargin
    }) { (s, dir) =>
      Salting.keySkewReport(
          Tables.load(s, dir, "lineitem").select(col("l_suppkey").as("key")),
          "key", topN = 20)
        .orderBy("rank")
    },

    // ---- bucketed co-located join: same rows as the plain join, no exchange
    Q("q45_bucketed_join",
      """SELECT c_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val scratch = new Session.Scratch
      Bucketing.writeBucketed(Tables.load(s, dir, "customer"), "b45_customer",
        "c_custkey", 4, path = Some(s"${scratch.dir}/b45_customer"))
      Bucketing.writeBucketed(Tables.load(s, dir, "orders"), "b45_orders",
        "o_custkey", 4, path = Some(s"${scratch.dir}/b45_orders"))
      Bucketing.bucketedJoin(s, "b45_customer", "b45_orders", "c_custkey", "o_custkey")
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .orderBy("c_custkey", "o_orderkey")
    },

    // ---- P3 ArcGIS where-dialect: bracketed/quoted fields + Access date ----
    Q("q28_arcgis_where",
      """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-03-15 00:00:00'
        |  AND o_totalprice > 150000.0 AND o_orderstatus <> 'F'
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Layers.createLayer(s, Tables.load(s, dir, "orders"), "arcgis_where_layer",
          where = Some(
            """[o_orderdate] >= #3/15/1995# AND "o_totalprice" > 150000.0
              |AND [o_orderstatus] <> 'F'""".stripMargin.replace("\n", " ")))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // ---- S1 front door: arc_to_pandas composed (scan→where→flds→index) -----
    Q("q47_arc_to_table",
      """SELECT o_orderkey AS oid, CAST(o_totalprice AS DOUBLE) AS total, o_orderstatus AS status
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00' AND o_totalprice > 100000.0
        |ORDER BY oid""".stripMargin) { (s, dir) =>
      graft.Graft.arcToTable(s, dir, "orders",
        indexFld = Some("oid"),
        flds = Some(Seq(FieldSpec("O_ORDERKEY", "oid"),
          FieldSpec("o_totalprice", "total"), FieldSpec("O_ORDERSTATUS", "status"))),
        where = Some("[o_orderdate] >= #6/1/1995# AND \"o_totalprice\" > 100000.0"))
    },

    // ---- S4 sink: write-side coercions + XY→point geometry, read back -------
    Q("q22_xy_point_sink",
      """SELECT CAST(s_suppkey AS INTEGER) AS s_suppkey, s_name,
        |  CAST(s_acctbal AS DOUBLE) AS gx, CAST(s_suppkey AS DOUBLE) AS gy, 4326 AS srid
        |FROM supplier ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      val scratch = new Session.Scratch
      Sinks.writeTable(
        Tables.load(s, dir, "supplier").select("s_suppkey", "s_name", "s_acctbal"),
        scratch.dir, "supplier_pts", xy = Some(("s_acctbal", "s_suppkey", 4326)))
      Sinks.readBack(s, scratch.dir, "supplier_pts")
        .select(col("s_suppkey"), col("s_name"),
          col("geom.x").as("gx"), col("geom.y").as("gy"), col("geom.srid").as("srid"))
        .orderBy("s_suppkey")
    },

    // ---- S9 pandas_to_features: write + join + materialize + read back -------
    Q("q23_join_materialize",
      """SELECT c_custkey, c_name, n_orders,
        |       CAST(spend AS DOUBLE) AS spend
        |FROM customer JOIN (
        |  SELECT o_custkey, CAST(COUNT(*) AS INT) AS n_orders,
        |         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE) AS spend
        |  FROM orders GROUP BY o_custkey) b ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val scratch = new Session.Scratch
      val attrs = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
      Sinks.joinMaterialize(s, attrs, Tables.load(s, dir, "customer"),
          "o_custkey", "c_custkey", keepCommon = true,
          scratch.dir, "cust_spend")
        .select("c_custkey", "c_name", "n_orders", "spend")
        .orderBy("c_custkey")
    }
  )
}
