package graft.operators

import graft.{Det, GraftQuery, Tables}
import graft.GraftQuery.q
import graft.Pin.PinOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The relational operator surface (SURVEY.md §2.2): scans, filters,
  * projections, hash/broadcast/semi/anti/outer/theta joins, grouped and
  * global aggregation, rollup/cube/grouping sets, windows, set ops,
  * sort/limit/top-k, subqueries, conditional aggregation.
  *
  * The reference engine (Redundancy/fileMapReduce) has none of these as
  * operators — its Mapper/Reducer user code implements filter/project/
  * fold by hand (reference `interfaces.go:17-64`); here each capability
  * is a declarative Spark plan so Catalyst gets pushdown/pruning/join
  * selection for free, and each is mirrored as DuckDB oracle SQL.
  *
  * Scale notes are on each query: broadcast hints for dimension tables,
  * exact-decimal aggregation for cross-engine determinism (see
  * [[graft.Det]]), deterministic total ORDER BY for the hash compare.
  */
object RelationalQueries {
  import Det._

  // ---------------------------------------------------------------- scans

  /** TPC-H Q1-style pricing summary — the flagship. Map-side partial
    * aggregation + 6-group final agg; shipdate filter pushed to parquet. */
  val q01PricingSummary: GraftQuery = q(
    "q01_pricing_summary",
    "groupBy agg with exact-decimal sums (ref: per-job Reducer fold, mapreduce.go:433)",
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
       |  CAST(SUM(${sqlPrice("l_extendedprice")} * (1 - ${sqlRate("l_discount")})) AS DOUBLE) AS sum_disc_price,
       |  CAST(SUM(${sqlPrice("l_extendedprice")} * (1 - ${sqlRate("l_discount")}) * (1 + ${sqlRate("l_tax")})) AS DOUBLE) AS sum_charge,
       |  ${sqlDavg("l_quantity")} AS avg_qty,
       |  ${sqlDavg("l_extendedprice")} AS avg_price,
       |  COUNT(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    // (no fanout: MetricsSpec pins q01's one exchange to carry ONLY
    // the partial-aggregate rows — the engine's flagship map-side-
    // combine witness — and a conditional ingest spread would put the
    // corpus on the wire at harness scales; the serial-scan cost here
    // is one decimal-sum pass, measured ~0.1 s)
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(price(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
          .cast(DoubleType).as("sum_disc_price"),
        sum(price(col("l_extendedprice")) * (lit(1) - rate(col("l_discount")))
          * (lit(1) + rate(col("l_tax")))).cast(DoubleType).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Scan + filter + project; predicate and column pruning reach the
    * parquet reader (PushedFilters in .explain). */
  val q02FilterProject: GraftQuery = q(
    "q02_filter_project",
    "pushed-down scan filter + projection (ref: Filter+Mapper, interfaces.go:4,17)",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-02-01'
      |  AND l_quantity < 10
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType)
        && col("l_shipdate") < lit("1997-02-01").cast(TimestampType)
        && col("l_quantity") < 10)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Whole-table fold to one row — the direct analog of the reference's
    * single global Reducer per job (interfaces.go:50-64). Partial
    * aggregation makes this a single-row shuffle at any scale. */
  val q03GlobalAgg: GraftQuery = q(
    "q03_global_agg",
    "global fold: sum/min/max/count/count-distinct (ref: Reducer, mapreduce.go:433-454)",
    s"""SELECT ${sqlDsum("l_quantity")} AS total_qty,
       |  MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
       |  COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders
       |FROM lineitem""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).agg(
      dsum(col("l_quantity")).as("total_qty"),
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"),
      count(lit(1)).as("n_rows"),
      countDistinct(col("l_orderkey")).as("n_orders"))
  }

  /** Global sort + limit: Spark TakeOrderedAndProject — per-partition
    * top-k then merge on driver; no full sort at scale. */
  val q04TopK: GraftQuery = q(
    "q04_topk",
    "order-by + limit → TakeOrderedAndProject (ref: batch Sorter, mapreduce.go:461)",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(25)
  }

  // ---------------------------------------------------------------- joins

  /** Fact⋈dim⋈dim with the small sides arriving as broadcasts — no
    * shuffle of `orders` for the dimension joins at 100 TB. Only the
    * FIXED-cardinality dim (nation: 25 rows at every SF) carries an
    * explicit hint; customer grows with the corpus, so its join is left
    * to size-based planning — broadcast while it fits the threshold,
    * shuffle when it doesn't (AQE re-checks with runtime sizes). */
  val q05JoinBroadcast: GraftQuery = q(
    "q05_join_broadcast",
    "broadcast hash join of dims onto fact (ref: none; SURVEY §2.2)",
    s"""SELECT n_name,
       |  ${sqlDsum("o_totalprice")} AS total_revenue, COUNT(*) AS n_orders
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("o_totalprice")).as("total_revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("n_name")
  }

  /** TPC-H Q5-shaped 5-way join. lineitem⋈orders is the only
    * shuffle-sized join; region/nation broadcast by hint (fixed 5/25
    * rows at every SF); customer broadcasts by size-based planning at
    * test scale and degrades to a shuffle join when it outgrows the
    * threshold — no hint pins a corpus-growing frame to a broadcast. */
  val q06JoinMultiway: GraftQuery = q(
    "q06_join_multiway",
    "5-way join, one shuffle join + broadcasts (ref: none; SURVEY §2.2)",
    s"""SELECT n_name,
       |  CAST(SUM(${sqlPrice("l_extendedprice")} * (1 - ${sqlRate("l_discount")})) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
       |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType)
          && col("o_orderdate") < lit("1998-01-01").cast(TimestampType)),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(price(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Left-semi join ≙ EXISTS — ships only the key column of the probe. */
  val q07SemiJoin: GraftQuery = q(
    "q07_semi_join",
    "left_semi ≙ EXISTS (ref: none; SURVEY §2.2)",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Left-anti join ≙ NOT EXISTS. */
  val q08AntiJoin: GraftQuery = q(
    "q08_anti_join",
    "left_anti ≙ NOT EXISTS (ref: none; SURVEY §2.2)",
    """SELECT c_custkey, c_acctbal FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_acctbal")
      .orderBy("c_custkey")
  }

  /** Left outer join preserving order-less customers; COALESCE'd exact
    * decimal sum keeps nulls out of the hashed output. */
  val q09OuterJoin: GraftQuery = q(
    "q09_outer_join",
    "left outer join + per-key agg (ref: none; SURVEY §2.2)",
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
      |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS total_spent
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        coalesce(sum(dec2(col("o_totalprice"))), lit(0)).cast(DoubleType).as("total_spent"))
      .orderBy("c_custkey")
  }

  /** Theta (non-equi) self-join: nation pairs within a region. Spark
    * plans BroadcastNestedLoopJoin on the tiny table — fine; the
    * equi-part (same region) could also be a hash join key. */
  val q10ThetaJoin: GraftQuery = q(
    "q10_theta_join",
    "non-equi self-join (ref: none; SURVEY §2.2)",
    """SELECT a.n_name AS nation_a, b.n_name AS nation_b, a.n_regionkey AS regionkey
      |FROM nation a JOIN nation b
      |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
      |ORDER BY regionkey, nation_a, nation_b""".stripMargin) { (s, d) =>
    val a = Tables.nation(s, d).select(
      col("n_nationkey").as("ka"), col("n_name").as("nation_a"),
      col("n_regionkey").as("regionkey"))
    val b = Tables.nation(s, d).select(
      col("n_nationkey").as("kb"), col("n_name").as("nation_b"),
      col("n_regionkey").as("rb"))
    a.join(b, col("regionkey") === col("rb") && col("ka") < col("kb"))
      .select("nation_a", "nation_b", "regionkey")
      .orderBy("regionkey", "nation_a", "nation_b")
  }

  // ----------------------------------------------------- grouped aggregation

  /** GROUP BY + HAVING; map-side partial agg then post-agg filter. */
  val q11GroupHaving: GraftQuery = q(
    "q11_group_having",
    "grouped agg + having (ref: none; SURVEY §2.2)",
    s"""SELECT l_suppkey, COUNT(*) AS n_items, ${sqlDsum("l_quantity")} AS sum_qty
       |FROM lineitem GROUP BY l_suppkey
       |HAVING COUNT(*) > 100
       |ORDER BY l_suppkey""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("n_items") > 100)
      .orderBy("l_suppkey")
  }

  /** DISTINCT — a shuffle dedup on the projected columns only. */
  val q12Distinct: GraftQuery = q(
    "q12_distinct",
    "distinct projection (ref: none; SURVEY §2.2)",
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** ROLLUP with grouping_id; subtotal rows get 'ALL' sentinels so the
    * hashed output is null-free and ordering is engine-agnostic. */
  val q13Rollup: GraftQuery = q(
    "q13_rollup",
    "rollup + grouping_id (ref: none; SURVEY §2.2)",
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       |  COALESCE(l_linestatus, 'ALL') AS linestatus,
       |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       |  COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
       |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
       |ORDER BY gid, returnflag, linestatus""".stripMargin) { (s, d) =>
    // fanout: ROLLUP plans as Expand (×3 row replication) above the
    // one-task scan; spread first (no-op at cluster scale)
    Tables.fanout(Tables.lineitem(s, d))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast(LongType).as("gid"),
        count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("gid"), col("n"), col("sum_qty"))
      .orderBy("gid", "returnflag", "linestatus")
  }

  /** CUBE over two dims. */
  val q14Cube: GraftQuery = q(
    "q14_cube",
    "cube + grouping_id (ref: none; SURVEY §2.2)",
    s"""SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
       |  COALESCE(o_orderpriority, 'ALL') AS orderpriority,
       |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       |  COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total
       |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
       |ORDER BY gid, orderstatus, orderpriority""".stripMargin) { (s, d) =>
    // fanout: CUBE = Expand ×4 above the one-task scan (see q13)
    Tables.fanout(Tables.orders(s, d))
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast(LongType).as("gid"),
        count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
        col("gid"), col("n"), col("total"))
      .orderBy("gid", "orderstatus", "orderpriority")
  }

  // ----------------------------------------------------------- windows

  /** Per-group top-k with rank numbers. The naive window idiom
    * (`row_number() over (partition by l_returnflag ...)`) is a scale
    * trap here: l_returnflag has THREE values, so the whole fact table
    * would shuffle into 3 tasks and each would sort its full group.
    * Instead the k-bounded [[graft.plans.TopKPerGroup]] operator prunes
    * map-side (≤ k rows per group per task cross the shuffle), and the
    * rank window runs over the ≤ 3·k surviving rows — same answer,
    * bounded shuffle, no full-group sort at any scale. */
  val q15WindowRank: GraftQuery = q(
    "q15_window_rank",
    "top-k per group with ranks — k-bounded TopK operator, not a 3-partition window (ref: none; SURVEY §2.2)",
    """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn FROM (
      |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
      |  FROM lineitem) t
      |WHERE rn <= 5 ORDER BY l_returnflag, rn""".stripMargin) { (s, d) =>
    // desc lexicographic struct order ⇒ price DESC, then -orderkey
    // DESC = orderkey ASC, -linenumber DESC = linenumber ASC — the
    // unique (orderkey, linenumber) tail makes ties deterministic
    val top = graft.plans.TopKPerGroup.perGroup(
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice")),
      Seq(col("l_returnflag")),
      struct(col("l_extendedprice"), -col("l_orderkey"), -col("l_linenumber")),
      k = 5)
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    top
      .withColumn("rn", row_number().over(w).cast(LongType))
      .orderBy("l_returnflag", "rn")
  }

  /** Running total per customer — exact-decimal windowed SUM so frame
    * evaluation order (segment tree vs streaming) can't change bits. */
  val q16WindowRunning: GraftQuery = q(
    "q16_window_running",
    "running sum over ordered frame (ref: none; SURVEY §2.2)",
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      |FROM orders WHERE o_custkey < 100
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(dec2(col("o_totalprice"))).over(w).cast(DoubleType).as("running_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** lag/lead: gap in days between a customer's consecutive orders.
    * Exact integer day arithmetic on both engines. */
  val q17LagLead: GraftQuery = q(
    "q17_lag_lead",
    "lag/lead offsets (ref: none; SURVEY §2.2)",
    """SELECT o_custkey, o_orderkey,
      |  COALESCE(DATE_DIFF('day', CAST(LAG(o_orderdate) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
      |    CAST(o_orderdate AS DATE)), -1) AS days_since_prev
      |FROM orders WHERE o_custkey < 100
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        coalesce(
          datediff(col("o_orderdate").cast(DateType),
            lag(col("o_orderdate"), 1).over(w).cast(DateType)),
          lit(-1)).cast(LongType).as("days_since_prev"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // ------------------------------------------------------------ set ops

  val q18Union: GraftQuery = q(
    "q18_union",
    "UNION (distinct) of two predicates (ref: MultiFilter OR is path-only, glob.go:9)",
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |UNION
      |SELECT c_custkey FROM customer WHERE c_acctbal > 9000
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      .union(c.filter(col("c_acctbal") > 9000).select("c_custkey"))
      .distinct()
      .orderBy("c_custkey")
  }

  val q19Intersect: GraftQuery = q(
    "q19_intersect",
    "INTERSECT (ref: none; SURVEY §2.2)",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    o.filter(col("o_orderstatus") === "F").select("o_custkey")
      .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
      .orderBy("o_custkey")
  }

  val q20Except: GraftQuery = q(
    "q20_except",
    "EXCEPT (ref: none; SURVEY §2.2)",
    """SELECT c_custkey FROM customer
      |EXCEPT
      |SELECT o_custkey FROM orders
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d).select("c_custkey")
      .except(Tables.orders(s, d).select(col("o_custkey").as("c_custkey")))
      .orderBy("c_custkey")
  }

  // ----------------------------------------------------- scalar functions

  /** String function coverage — all codegen'd built-ins, no UDFs. */
  val q21StringFuncs: GraftQuery = q(
    "q21_string_funcs",
    "string scalar functions (ref: user mapper code, mapreduce_test.go:151)",
    """SELECT p_partkey,
      |  UPPER(p_name) AS name_upper,
      |  SUBSTR(p_name, 1, 8) AS name_prefix,
      |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
      |  CONCAT(p_brand, ':', p_type) AS brand_type,
      |  REPLACE(p_type, 'ECONOMY', 'ECO') AS type_short
      |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      upper(col("p_name")).as("name_upper"),
      substring(col("p_name"), 1, 8).as("name_prefix"),
      length(col("p_name")).cast(LongType).as("name_len"),
      concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
      regexp_replace(col("p_type"), "ECONOMY", "ECO").as("type_short"))
      .orderBy("p_partkey")
  }

  /** Date/time function coverage; integer outputs cast to BIGINT on
    * both sides (DuckDB's year() is int64, Spark's is int32). */
  val q22DateFuncs: GraftQuery = q(
    "q22_date_funcs",
    "date/time scalar functions (ref: none; SURVEY §2.2)",
    """SELECT o_orderkey,
      |  CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
      |  CAST(MONTH(o_orderdate) AS BIGINT) AS order_month,
      |  CAST(DAYOFMONTH(o_orderdate) AS BIGINT) AS order_day,
      |  DATE_TRUNC('month', o_orderdate) AS order_month_start
      |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("order_year"),
        month(col("o_orderdate")).cast(LongType).as("order_month"),
        dayofmonth(col("o_orderdate")).cast(LongType).as("order_day"),
        date_trunc("month", col("o_orderdate")).as("order_month_start"))
      .orderBy("o_orderkey")
  }

  /** CASE WHEN bucketing + conditional counts. */
  val q23CaseExpr: GraftQuery = q(
    "q23_case_expr",
    "CASE WHEN bucketing (ref: none; SURVEY §2.2)",
    """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
      |            WHEN o_totalprice < 200000 THEN 'medium'
      |            ELSE 'large' END AS bucket,
      |  COUNT(*) AS n
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select(
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice") < 200000, "medium")
          .otherwise("large").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  /** JSON extraction from events.props via regexp (identical RE2-safe
    * pattern both engines) + grouped exact sums. */
  val q24JsonExtract: GraftQuery = q(
    "q24_json_extract",
    "semi-structured props parsing (ref: LoaderFunc JSON parse, mapreduce_test.go:363)",
    """SELECT event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(REGEXP_EXTRACT(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast(LongType))
          .cast(LongType).as("sum_k"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------- subqueries

  /** IN-subquery (planned as semi join). */
  val q25InSubquery: GraftQuery = q(
    "q25_in_subquery",
    "IN subquery → semi join (ref: none; SURVEY §2.2)",
    """SELECT o_orderstatus, COUNT(*) AS n FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d).filter(col("c_mktsegment") === "MACHINERY")
        .select("c_custkey"),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  /** Scalar subquery threshold — exact decimal avg so both engines
    * compare against the same double. */
  val q26ScalarSubquery: GraftQuery = q(
    "q26_scalar_subquery",
    "scalar subquery vs exact global avg (ref: none; SURVEY §2.2)",
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice > 1.5 * (
      |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) FROM orders)
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val thresholdDf = o.agg(davg(col("o_totalprice")).as("avg_price"))
    o.join(broadcast(thresholdDf))
      .filter(col("o_totalprice") > lit(1.5) * col("avg_price"))
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Conditional aggregation ("manual pivot") — one pass, no joins. */
  val q27ConditionalPivot: GraftQuery = q(
    "q27_conditional_pivot",
    "pivot via conditional agg (ref: none; SURVEY §2.2)",
    s"""SELECT l_linestatus,
       |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN ${sqlDec2("l_quantity")} ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_a,
       |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN ${sqlDec2("l_quantity")} ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_n,
       |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN ${sqlDec2("l_quantity")} ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_r
       |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, d) =>
    def cond(flag: String) =
      sum(when(col("l_returnflag") === flag, dec2(col("l_quantity")))
        .otherwise(lit(0).cast(DecimalType(12, 2)))).cast(DoubleType)
    // fanout: three conditional decimal sums per row above the
    // one-task scan (see q44); no-op at cluster scale
    Tables.fanout(Tables.lineitem(s, d))
      .groupBy(col("l_linestatus"))
      .agg(cond("A").as("qty_a"), cond("N").as("qty_n"), cond("R").as("qty_r"))
      .orderBy("l_linestatus")
  }

  /** GROUPING SETS (via Spark SQL on a temp view — exercises the SQL
    * entry path of the engine as well). */
  val q28GroupingSets: GraftQuery = q(
    "q28_grouping_sets",
    "GROUPING SETS (ref: none; SURVEY §2.2)",
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       |  COALESCE(l_linestatus, 'ALL') AS linestatus,
       |  COUNT(*) AS n
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
       |ORDER BY returnflag, linestatus""".stripMargin) { (s, d) =>
    // (no fanout: the count-only ×3 Expand over two narrow columns is
    // cheap map work — the added exchange measured 1.5× net-negative,
    // r16 probe)
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_gs")
    s.sql(
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  COUNT(*) AS n
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY returnflag, linestatus""".stripMargin)
  }

  /** Supplier-side join (touches the last remaining corpus table). */
  val q29SupplierJoin: GraftQuery = q(
    "q29_supplier_join",
    "supplier⋈nation broadcast join + agg (ref: none; SURVEY §2.2)",
    s"""SELECT n_name, COUNT(*) AS n_suppliers,
       |  ${sqlDsum("s_acctbal")} AS total_acctbal
       |FROM supplier JOIN nation ON s_nationkey = n_nationkey
       |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
    Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"), dsum(col("s_acctbal")).as("total_acctbal"))
      .orderBy("n_name")
  }

  /** Exact interpolated percentiles (sort-based; both engines use the
    * same linear interpolation on the same 2dp inputs). */
  val q30Percentiles: GraftQuery = q(
    "q30_percentiles",
    "exact percentile / quantile_cont (ref: none; SURVEY §2.2)",
    """SELECT o_orderstatus,
      |  quantile_cont(o_totalprice, 0.5) AS p50,
      |  quantile_cont(o_totalprice, 0.9) AS p90,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  /** Spark's relational pivot operator (groupBy().pivot().agg()) —
    * same semantics as q27's conditional aggregation but through the
    * dedicated API; explicit pivot values keep the plan single-pass. */
  val q31PivotApi: GraftQuery = q(
    "q31_pivot_api",
    "pivot operator with explicit values (ref: none; SURVEY §2.2)",
    """SELECT l_linestatus,
      |  COUNT(CASE WHEN l_returnflag = 'A' THEN 1 END) AS n_a,
      |  COUNT(CASE WHEN l_returnflag = 'N' THEN 1 END) AS n_n,
      |  COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_r
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(count(lit(1)))
      .select(col("l_linestatus"),
        coalesce(col("A"), lit(0L)).as("n_a"),
        coalesce(col("N"), lit(0L)).as("n_n"),
        coalesce(col("R"), lit(0L)).as("n_r"))
      .orderBy("l_linestatus")
  }

  /** posexplode — the 1→n generator (UDTF shape; ref Mapper's
    * record-splitting, mapreduce_test.go:142-158) with ordinality. */
  val q32Posexplode: GraftQuery = q(
    "q32_posexplode",
    "generator/UDTF: posexplode with ordinality",
    """SELECT doc_id,
      |  CAST(unnest(range(1, len(string_split(text, ' '))+1)) AS BIGINT) AS pos,
      |  unnest(string_split(text, ' ')) AS word
      |FROM documents WHERE doc_id < 50 ORDER BY doc_id, pos""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos0", "word")))
      .select(col("doc_id"), (col("pos0") + 1).cast(LongType).as("pos"), col("word"))
      .orderBy("doc_id", "pos")
  }

  /** The custom TopK whole-operator (graft.plans.TopKPerGroup):
    * logical node + strategy + two-stage physical plan with k-bounded
    * per-group heaps — the shuffle carries ≤ k rows per group per map
    * task instead of every row, and nothing is ever sorted. The oracle
    * is the equivalent window idiom. */
  val q33TopKOperator: GraftQuery = q(
    "q33_topk_operator",
    "custom LogicalPlan+Strategy+SparkPlan top-k per group",
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice FROM (
      |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
      |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
      |      ORDER BY l_extendedprice DESC, l_orderkey DESC, l_linenumber DESC) AS rn
      |  FROM lineitem) t
      |WHERE rn <= 3
      |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    graft.plans.TopKPerGroup.perGroup(
      Tables.lineitem(s, d)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"),
      Seq(col("l_suppkey")),
      struct(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      k = 3)
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  /** Multiset set-ops (bag semantics — duplicates preserved). */
  val q34ExceptAll: GraftQuery = q(
    "q34_except_all",
    "EXCEPT ALL bag semantics (ref: none; SURVEY §2.2)",
    """SELECT x FROM (
      |  SELECT l_suppkey AS x FROM lineitem WHERE l_quantity > 25
      |  EXCEPT ALL
      |  SELECT l_suppkey AS x FROM lineitem WHERE l_returnflag = 'A') t
      |ORDER BY x""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    li.filter(col("l_quantity") > 25).select(col("l_suppkey").as("x"))
      .exceptAll(li.filter(col("l_returnflag") === "A").select(col("l_suppkey").as("x")))
      .orderBy("x")
  }

  /** Deterministic stratified sample: Bernoulli-by-hash (md5-derived
    * per-row coin with per-stratum thresholds) — reproducible in any
    * engine, unlike RNG-seeded sample(). The hash coin is the scalable
    * sampling idiom: no state, no coordination, stable under retries. */
  val q35HashSample: GraftQuery = q(
    "q35_hash_sample",
    "deterministic hash-based stratified sampling",
    """SELECT o_orderkey, o_orderstatus FROM orders
      |WHERE (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1)
      |      < (CASE o_orderstatus WHEN 'O' THEN 2 WHEN 'F' THEN 4 ELSE 8 END)
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val coin = conv(substring(md5(col("o_orderkey").cast(StringType)), 1, 1), 16, 10)
      .cast(IntegerType)
    val threshold = when(col("o_orderstatus") === "O", 2)
      .when(col("o_orderstatus") === "F", 4).otherwise(8)
    Tables.orders(s, d)
      .filter(coin < threshold)
      .select("o_orderkey", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** Multiset intersection (pairs up duplicate occurrences). */
  val q37IntersectAll: GraftQuery = q(
    "q37_intersect_all",
    "INTERSECT ALL bag semantics (ref: none; SURVEY §2.2)",
    """SELECT x FROM (
      |  SELECT l_suppkey AS x FROM lineitem WHERE l_quantity > 25
      |  INTERSECT ALL
      |  SELECT l_suppkey AS x FROM lineitem WHERE l_returnflag = 'A') t
      |ORDER BY x""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    li.filter(col("l_quantity") > 25).select(col("l_suppkey").as("x"))
      .intersectAll(li.filter(col("l_returnflag") === "A").select(col("l_suppkey").as("x")))
      .orderBy("x")
  }

  /** Array/higher-order function coverage: sort, dedup, slice,
    * membership, element arithmetic — Spark array_* ≡ DuckDB list_*. */
  val q36ArrayFuncs: GraftQuery = q(
    "q36_array_funcs",
    "array + higher-order functions (ref: none; SURVEY §2.2)",
    """SELECT doc_id,
      |  array_to_string(list_slice(list_sort(list_distinct(string_split(text, ' '))), 1, 5), ',') AS first5_sorted,
      |  list_contains(string_split(text, ' '), 'the') AS has_the,
      |  CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 4)) AS BIGINT) AS n_long_words
      |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val toks = split(col("text"), " ")
    Tables.documents(s, d)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"),
        concat_ws(",", slice(array_sort(array_distinct(toks)), 1, 5)).as("first5_sorted"),
        array_contains(toks, "the").as("has_the"),
        size(filter(toks, w => length(w) > 4)).cast(LongType).as("n_long_words"))
      .orderBy("doc_id")
  }

  /** Correlated EXISTS / NOT EXISTS through the SQL entry path:
    * customers with an urgent order but no large urgent order.
    * Catalyst decorrelates to a left-semi ⋈ left-anti pair on
    * o_custkey — no per-row subquery execution survives planning. */
  val q38ExistsCorrelated: GraftQuery = q(
    "q38_exists_correlated",
    "correlated EXISTS/NOT EXISTS → semi+anti joins (ref: none; SURVEY §2.2)",
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("customer_ex")
    Tables.orders(s, d).createOrReplaceTempView("orders_ex")
    s.sql(
      """SELECT c_custkey, c_name FROM customer_ex c
        |WHERE EXISTS (SELECT 1 FROM orders_ex o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders_ex o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** FILTER-clause aggregates: several differently-filtered aggregates
    * in ONE scan+aggregation pass (the alternative — one join per
    * filtered metric — multiplies scans). Same SQL text runs on both
    * engines. */
  val q39FilteredAgg: GraftQuery = {
    val sql =
      s"""SELECT l_returnflag,
         |  COUNT(*) AS n_all,
         |  COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
         |  CAST(SUM(${sqlDec2("l_quantity")}) FILTER (WHERE l_discount > 0.05)
         |    AS DOUBLE) AS qty_hidisc
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    q("q39_filtered_agg",
      "FILTER-clause aggregates, one pass (ref: none; SURVEY §2.2)",
      sql) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_fa")
      s.sql(sql.replace("FROM lineitem", "FROM lineitem_fa"))
    }
  }

  /** LATERAL correlated subquery (top-1 order per customer) through
    * the SQL path. Catalyst decorrelates the per-row ORDER BY/LIMIT
    * into a window over a single join — no per-customer subquery
    * execution survives planning, so it scales like q15, not like a
    * nested loop. */
  val q40Lateral: GraftQuery = {
    def sql(cust: String, ord: String) =
      s"""SELECT c_custkey, o_orderkey, o_totalprice
         |FROM $cust c, LATERAL (
         |  SELECT o_orderkey, o_totalprice FROM $ord o
         |  WHERE o.o_custkey = c.c_custkey
         |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
         |WHERE c_custkey < 50
         |ORDER BY c_custkey""".stripMargin
    q("q40_lateral_join",
      "LATERAL correlated subquery → decorrelated join (ref: none; SURVEY §2.2)",
      sql("customer", "orders")) { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("customer_lt")
      Tables.orders(s, d).createOrReplaceTempView("orders_lt")
      s.sql(sql("customer_lt", "orders_lt"))
    }
  }

  /** The full ranking-function family over one window: ntile buckets,
    * percent_rank, cume_dist, first/last value with an explicit frame.
    * One sort per partition key serves all five functions (single
    * Window operator) — adding a metric costs nothing extra. */
  val q41RankFamily: GraftQuery = q(
    "q41_rank_family",
    "ntile / percent_rank / cume_dist / first_value (ref: none; SURVEY §2.2)",
    """SELECT o_orderkey, o_orderpriority,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume,
      |  first_value(o_orderkey) OVER w AS best_order
      |FROM orders
      |WHERE o_custkey < 100
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_orderpriority, quartile, o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .filter(col("o_custkey") < 100)
      .select(col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).cast(LongType).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        first(col("o_orderkey")).over(w).as("best_order"))
      .orderBy("o_orderpriority", "quartile", "o_orderkey")
  }

  /** HLL sketch cardinality (approx_count_distinct). No oracle — the
    * sketch is engine-specific; the driver records a rows-only check.
    * Exact distinct for the same column is oracle-checked in q03. */
  val hll01ApproxDistinct: GraftQuery = GraftQuery(
    "hll01_approx_distinct",
    (s, d) => Tables.lineitem(s, d).agg(
      approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts")),
    None,
    "HLL++ sketch cardinality — constant memory at any scale")

  /** The [[graft.plans.ApproxDistinctRewrite]] face of the registry: the
    * SAME multi-distinct DataFrame code built twice. ad01 runs it exact
    * (flag off — the default) and is oracle-checked; ad02 builds it in a
    * child session with `spark.graft.approxDistinct=true`, so the
    * INJECTED optimizer rule — not a code change — swaps both distincts
    * to HLL++ and the Expand round (row replication × #distincts, the
    * most state-hungry aggregate shape in the engine) disappears from
    * the physical plan. PlanSpec pins the plan divergence; RewriteSpec
    * pins the estimates within the sketch rsd. ad02's estimate is
    * engine-specific state (like hll01), so it records the weaker
    * rows-only check by design — ad01 IS its exact-side oracle. */
  private def adDistincts(s: SparkSession, d: String): DataFrame =
    // fanout on the EXACT path only: the multi-distinct plans as
    // Expand (×2 row replication) + hash-set partial agg ABOVE the
    // scan, and a single-file table scans as one task — the 2n-row
    // Expand ran serial (measured 0.65× with the spread). Under the
    // ad02 flag the injected rule swaps both distincts to HLL++ whose
    // per-row partial is a hash + register update — there the spread
    // exchange is pure overhead (measured 1.85× — r16 probe), so the
    // sketched face keeps the bare scan.
    (if (s.conf.get("spark.graft.approxDistinct", "false").toBoolean)
       Tables.lineitem(s, d)
     else Tables.fanout(Tables.lineitem(s, d)))
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy("l_returnflag")

  val ad01ExactDistinct: GraftQuery = q(
    "ad01_exact_distinct",
    "multi-distinct per group, exact (Expand + double aggregation) — rewrite pair, exact side",
    """SELECT l_returnflag,
      |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
      |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin)(adDistincts)

  val ad02ApproxDistinct: GraftQuery = GraftQuery(
    "ad02_approx_distinct",
    (s, d) => {
      // child session: same SparkContext and injected extensions, but
      // the opt-in flag can't leak into any other registry query
      val s2 = graft.Sessions.child(s, "spark.graft.approxDistinct" -> "true")
      adDistincts(s2, d)
    },
    None,
    "same code through the injected COUNT(DISTINCT)→HLL++ rewrite (no Expand round)")

  /** Per-group quantiles at scale, TWO ways. The registry row is the
    * DETERMINISTIC one: the value at discrete integer rank
    * (n·pct+99) div 100 via [[Rank.discretePercentiles]] — a
    * range-partitioned distributed rank (no per-group global sort, no
    * interpolation), so it hash-matches a DuckDB oracle bit-for-bit.
    * The GK-sketch variant ([[ap01Sketch]] — `percentile_approx`,
    * mergeable state, constant memory per task×group) is what a 100 TB
    * pipeline would often prefer; its internals are engine-specific so
    * it cannot face a cross-engine hash, and SketchSpec instead pins
    * it within rank-error of this exact result. */
  val ap01ApproxQuantiles: GraftQuery = q(
    "ap01_approx_quantiles",
    "per-group p50/p95 via distributed discrete rank (sketch variant spec-pinned)",
    """WITH r AS (
      |  SELECT l_returnflag AS g, l_extendedprice AS v,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |SELECT g AS l_returnflag,
      |  MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN v END) AS p50,
      |  MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN v END) AS p95
      |FROM r GROUP BY g
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Rank.discretePercentiles(Tables.lineitem(s, d),
        "l_returnflag", "l_extendedprice", Seq("p50" -> 50, "p95" -> 95))
      .orderBy("l_returnflag")
  }

  /** The mergeable-sketch variant of ap01 (not a registry row — see
    * [[ap01ApproxQuantiles]]); SketchSpec pins it within the sketch's
    * rank-error bound of the exact distributed-rank values. */
  def ap01Sketch(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.95)), lit(10000)).as("price_q"))
      .select(col("l_returnflag"),
        element_at(col("price_q"), 1).as("p50"),
        element_at(col("price_q"), 2).as("p95"))
      .orderBy("l_returnflag")

  /** The third aggregation tier made first-class: ap01's exact path is
    * a distributed rank, ap01Sketch wraps Spark's built-in GK sketch —
    * qs01 runs graft's OWN mergeable quantile sketch, a native Catalyst
    * [[graft.plans.KllQuantilesAgg TypedImperativeAggregate]] (state
    * object in the aggregation buffer, serialize/merge through the
    * standard partial→final pipeline — the tier below the typed
    * Aggregator API ua01/ty01 exercise). k=32768 exceeds every
    * per-group count at oracle scales, so no compaction fires and the
    * sketch provably returns the EXACT type-1 discrete quantile — the
    * same integer rank formula (n·p+99) div 100 as the DuckDB oracle
    * (never floating-point: 0.95·n in IEEE double rounds differently
    * than DECIMAL arithmetic exactly when p·n is an integer). On 100 TB
    * groups the same plan compacts to O(k·log(n/k)) memory with the
    * ε·n rank-error envelope SketchSpec pins under forced-small k.
    * One shuffle total (partial states, ~k doubles/group, combine
    * map-side) vs ap01's rank machinery — the sketch is the cheaper
    * plan precisely when groups are huge. */
  val qs01KllQuantiles: GraftQuery = q(
    "qs01_kll_quantiles",
    "native TypedImperativeAggregate quantile sketch: mergeable state, exact below compaction threshold",
    """WITH r AS (
      |  SELECT l_returnflag AS rf, l_linestatus AS ls,
      |    EXTRACT(YEAR FROM l_shipdate) AS yr, l_quantity AS v,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag, l_linestatus,
      |      EXTRACT(YEAR FROM l_shipdate) ORDER BY l_quantity) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag, l_linestatus,
      |      EXTRACT(YEAR FROM l_shipdate)) AS n
      |  FROM lineitem)
      |SELECT rf AS l_returnflag, ls AS l_linestatus, yr,
      |  MAX(CASE WHEN rn = GREATEST(1, (n * 25 + 99) // 100) THEN v END) AS p25,
      |  MAX(CASE WHEN rn = GREATEST(1, (n * 50 + 99) // 100) THEN v END) AS p50,
      |  MAX(CASE WHEN rn = GREATEST(1, (n * 75 + 99) // 100) THEN v END) AS p75,
      |  MAX(CASE WHEN rn = GREATEST(1, (n * 95 + 99) // 100) THEN v END) AS p95
      |FROM r GROUP BY rf, ls, yr
      |ORDER BY l_returnflag, l_linestatus, yr""".stripMargin) { (s, d) =>
    // NO fanout (probed and reverted, r16): spreading the scan looked
    // neutral in a first probe but two independent same-box A/Bs vs
    // the pre-change tree measured 1.21x WORSE (0.92->1.11 min-of-5) —
    // each extra partition builds its own k=32768 TypedImperative
    // sketch per group, so the fanout multiplies serialize+merge cost
    // of big sketch states while the per-row insert it parallelizes is
    // cheap. (Result would stay identical either way: k exceeds every
    // per-group count at harness SFs, SketchSpec's exactness law.)
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"),
        year(col("l_shipdate")).cast(LongType).as("yr"))
      .agg(graft.plans.VectorExpressions
        .kll_quantiles(col("l_quantity"), 32768, 25, 50, 75, 95).as("qv"))
      .select(col("l_returnflag"), col("l_linestatus"), col("yr"),
        element_at(col("qv"), 1).as("p25"),
        element_at(col("qv"), 2).as("p50"),
        element_at(col("qv"), 3).as("p75"),
        element_at(col("qv"), 4).as("p95"))
      .orderBy("l_returnflag", "l_linestatus", "yr")
  }

  /** Write-path round trip: orders written partitioned by a derived
    * year column ([[graft.sources.Formats.write]] → partitionBy
    * directory layout), read back through a partition predicate — the
    * scan prunes to the one year directory (PlanSpec pins
    * PartitionFilters) — then aggregated. The oracle computes the same
    * aggregate on the base table: identical results prove
    * write → layout → prune → read loses nothing. */
  val q47WriteRoundtrip: GraftQuery = q(
    "q47_write_roundtrip",
    "partitioned write + partition-pruned read-back (ref: Finalizer writers, interfaces.go:66-78)",
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       |  ${Det.sqlDsum("o_totalprice")} AS sum_price
       |FROM orders
       |WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val out = graft.Scratch.dir("graft_q47_")
    graft.Phases.timed("q47_write_roundtrip", "write") {
      // repartition by the partition column before the partitioned
      // write (guide §6: cluster by partition key): one writing task
      // per year directory instead of ONE task writing every
      // directory sequentially off the single-file scan — same file
      // count (one per year), parallel write
      graft.sources.Formats.write(
        Tables.orders(s, d).withColumn("o_year", year(col("o_orderdate")))
          .repartition(col("o_year")),
        "parquet", out, partitionBy = Seq("o_year"))
    }
    graft.sources.Formats.read(s, "parquet", out)
      .filter(col("o_year") === 1995)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Bucketed-table JOIN — the co-located join with NO runtime
    * shuffle. Both sides are written `bucketBy(join key)` (+ in-bucket
    * sort), so their on-disk layout already satisfies the join's
    * required distribution: EnsureRequirements inserts no Exchange on
    * either side (FormatsSpec pins the plan, both for the raw
    * mechanism and for this registry query). The `merge` hint keeps
    * the sort-merge strategy even where the dim side would broadcast,
    * so the shuffle-free path is what actually runs. At 100 TB this is
    * THE pattern for repeated joins on a canonical key (user_id,
    * doc_id): pay the distribution once at write time, join
    * shuffle-free in every consumer after.
    *
    * PHASE SPLIT (r16, the ivf06/hn02/gr07 memoizer discipline): the
    * bucketed warehouse is written ONCE per corpus dir and
    * recorded as the bench's `setup_write` phase — in production the
    * bucketed tables already exist (that is this operator's entire
    * premise: "pay the distribution once ... join shuffle-free in
    * every consumer after"), so timing the warehouse write inside
    * every run measured the harness, not the operator. The timed
    * path is what a consumer pays: the zero-Exchange sort-merge join
    * off storage. Result values are unchanged. */
  private val q48Ctr = new java.util.concurrent.atomic.AtomicInteger(0)

  val q48BucketedJoin: GraftQuery = q(
    "q48_bucketed_join",
    "bucketed-table sort-merge join: zero-Exchange equi-join from layout",
    s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
       |  ${Det.sqlDsum("o_totalprice")} AS sum_price
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    // external tables on a fresh path (a stale managed-table location
    // from a dead context would make saveAsTable refuse), in the
    // catalog every session of the context shares; table names carry
    // a counter so distinct corpus dirs never collide in it
    val (tOrders, tCustomer) =
      graft.Fixtures.once(s, d, "q48_tables", "q48_bucketed_join") {
        val wh = graft.Scratch.dir("graft_q48_")
        val id = q48Ctr.incrementAndGet()
        val names = (s"graft_orders_bkt_$id", s"graft_customer_bkt_$id")
        Tables.orders(s, d).write.mode("overwrite")
          .option("path", s"$wh/orders")
          .bucketBy(16, "o_custkey").sortBy("o_custkey")
          .saveAsTable(names._1)
        Tables.customer(s, d).write.mode("overwrite")
          .option("path", s"$wh/customer")
          .bucketBy(16, "c_custkey").sortBy("c_custkey")
          .saveAsTable(names._2)
        names
      }
    s.table(tOrders)
      .join(s.table(tCustomer).hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("c_mktsegment")
  }

  /** Count-Min sketch over token occurrences — the mergeable
    * heavy-hitter structure (depth 3 × width 64 here; width scales the
    * ε = e/width error bound). Unlike HLL/GK (engine-opaque state),
    * this CMS uses the md5('j:'||term) bucket family, so the ENTIRE
    * sketch build and the point-query estimates are reproducible in
    * the DuckDB oracle — the one sketch whose contents hash-match
    * cross-engine. Build is one explode + groupBy on (row, bucket)
    * (maps-side partial, 192 cells total whatever the corpus size);
    * merge of two sketches is cell-wise addition, pinned in
    * SketchSpec. Estimates are min over rows — overestimate-only by
    * construction. */
  val cm01CountMin: GraftQuery = {
    val DEPTH = 3
    val WIDTH = 64
    def sqlBucket(j: Int) =
      s"CAST(CONCAT('0x', SUBSTRING(md5('$j:' || term), 1, 8)) AS BIGINT) % $WIDTH"
    val sqlEntries = (0 until DEPTH).map(j =>
      s"SELECT $j AS row_j, ${sqlBucket(j)} AS bucket FROM toks")
      .mkString("\n  UNION ALL ")
    val sqlQ = (0 until DEPTH).map(j =>
      s"SELECT term, n, $j AS row_j, ${sqlBucket(j)} AS bucket FROM exact")
      .mkString("\n  UNION ALL ")
    q("cm01_countmin",
      "Count-Min sketch build + top-20 point queries (oracle-reproducible)",
      s"""WITH toks AS (
         |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         |entries AS (
         |  $sqlEntries),
         |sketch AS (SELECT row_j, bucket, COUNT(*) AS c FROM entries GROUP BY row_j, bucket),
         |exact AS (
         |  SELECT term, COUNT(*) AS n FROM toks GROUP BY term
         |  ORDER BY n DESC, term LIMIT 20),
         |qrs AS (
         |  $sqlQ),
         |est AS (
         |  SELECT q.term, q.n, MIN(s.c) AS n_est
         |  FROM qrs q JOIN sketch s ON s.row_j = q.row_j AND s.bucket = q.bucket
         |  GROUP BY q.term, q.n)
         |SELECT term, n AS n_exact, n_est, n_est - n AS overcount
         |FROM est ORDER BY term""".stripMargin) { (s, d) =>
      def bucket(j: Int, t: Column) =
        conv(substring(md5(concat(lit(s"$j:"), t)), 1, 8), 16, 10)
          .cast(LongType) % WIDTH
      // The token explosion feeds TWO independent subtrees of one plan
      // (the sketch build and the exact top-20): unpinned, Spark
      // computes the full corpus explode twice per run. Pin it — the
      // engine's standard multi-reader discipline — so the corpus is
      // scanned and exploded once.
      val toks = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("term"))
        .pinned
      val entries = toks.select(explode(array((0 until DEPTH).map(j =>
        struct(lit(j).as("row_j"), bucket(j, col("term")).as("bucket"))): _*)).as("e"))
        .select(col("e.row_j").as("row_j"), col("e.bucket").as("bucket"))
      val sketch = entries.groupBy("row_j", "bucket").agg(count(lit(1)).as("c"))
      val exact = toks.groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term")).limit(20)
      val qrs = exact.select(col("term"), col("n"), explode(array((0 until DEPTH).map(j =>
        struct(lit(j).as("row_j"), bucket(j, col("term")).as("bucket"))): _*)).as("e"))
        .select(col("term"), col("n"),
          col("e.row_j").as("row_j"), col("e.bucket").as("bucket"))
      qrs.join(broadcast(sketch), Seq("row_j", "bucket"))
        .groupBy("term", "n").agg(min(col("c")).as("n_est"))
        .select(col("term"), col("n").as("n_exact"), col("n_est"),
          (col("n_est") - col("n")).as("overcount"))
        .orderBy("term")
    }
  }

  /** Sketch-based JOIN-SIZE ESTIMATION — the planning-time use of cm01's
    * Count-Min machinery: |A ⋈ B on k| = Σ_k a(k)·b(k), and the CMS
    * inner product Σ_b A_j[b]·B_j[b] (min over rows j) overestimates it
    * by at most the hash-collision mass. A cost-based planner runs this
    * BEFORE the join to pick broadcast-vs-shuffle and pre-size shuffle
    * partitions; at 100 TB each sketch is still DEPTH×WIDTH cells built
    * by one map-side partial aggregation — the estimate never touches
    * the join itself. Same md5 bucket family as cm01, so the sketch
    * contents AND the estimate hash-match the DuckDB oracle; overcount
    * ≥ 0 by construction (collisions only add). */
  val cm02JoinSize: GraftQuery = {
    val DEPTH = 3
    val WIDTH = 256
    def sqlBucket(j: Int, e: String) =
      s"CAST(CONCAT('0x', SUBSTRING(md5('$j:' || CAST($e AS VARCHAR)), 1, 8)) AS BIGINT) % $WIDTH"
    def sqlEntries(table: String, keyE: String) =
      (0 until DEPTH).map(j =>
        s"SELECT $j AS row_j, ${sqlBucket(j, keyE)} AS bucket FROM $table")
        .mkString("\n  UNION ALL ")
    q("cm02_join_size",
      "join-size estimation via Count-Min inner product (sketch-based join planning)",
      s"""WITH ea AS (
         |  ${sqlEntries("orders", "o_custkey")}),
         |eb AS (
         |  ${sqlEntries("customer", "c_custkey")}),
         |sa AS (SELECT row_j, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM ea GROUP BY 1, 2),
         |sb AS (SELECT row_j, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM eb GROUP BY 1, 2),
         |ip AS (
         |  SELECT sa.row_j, CAST(SUM(sa.c * sb.c) AS BIGINT) AS dot
         |  FROM sa JOIN sb ON sa.row_j = sb.row_j AND sa.bucket = sb.bucket
         |  GROUP BY sa.row_j),
         |est AS (SELECT CAST(MIN(dot) AS BIGINT) AS n_est FROM ip),
         |ex AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact
         |  FROM orders JOIN customer ON o_custkey = c_custkey)
         |SELECT n_exact, n_est, n_est - n_exact AS overcount FROM ex, est""".stripMargin) {
      (s, d) =>
        def bucket(j: Int, c: Column) =
          conv(substring(md5(concat(lit(s"$j:"), c.cast(StringType))), 1, 8), 16, 10)
            .cast(LongType) % WIDTH
        def sketch(df: DataFrame, key: Column) =
          df.select(explode(array((0 until DEPTH).map(j =>
            struct(lit(j).as("row_j"), bucket(j, key).as("bucket"))): _*)).as("e"))
            .select(col("e.row_j").as("row_j"), col("e.bucket").as("bucket"))
            .groupBy("row_j", "bucket").agg(count(lit(1)).as("c"))
        val sa = sketch(Tables.orders(s, d), col("o_custkey"))
        val sb = sketch(Tables.customer(s, d), col("c_custkey"))
          .withColumnRenamed("c", "cb")
        val ip = sa.join(sb, Seq("row_j", "bucket"))
          .groupBy("row_j").agg(sum(col("c") * col("cb")).cast(LongType).as("dot"))
        val est = ip.agg(min("dot").cast(LongType).as("n_est"))
        Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .agg(count(lit(1)).as("n_exact"))
          .crossJoin(broadcast(est))
          .select(col("n_exact"), col("n_est"),
            (col("n_est") - col("n_exact")).as("overcount"))
    }
  }

  /** Guaranteed-recall heavy hitters — the production two-pass shape
    * for "which tokens exceed φ·N of the stream" when the key space is
    * too large to aggregate exactly up front. Pass 1 builds a Count-Min
    * sketch (bounded DEPTH×WIDTH cells, partial+final agg) and a
    * scalar total N; because CM only ever OVER-estimates, filtering
    * distinct keys by estimate ≥ φ·N yields a candidate set that is a
    * strict superset of the true heavy hitters (perfect recall, some
    * false positives from collision mass). Pass 2 exactly counts the
    * candidates only — a broadcast semi-join of the bounded candidate
    * list against the token stream — and keeps those truly ≥ φ·N. The
    * result is therefore EXACT (equals the brute-force oracle), while
    * the engine never materializes a full-key exact aggregation wider
    * than the candidates.
    *
    * All thresholds are integer-exact (c·INV_PHI ≥ N), no floats.
    * φ = 1/64: on the synthetic corpus this passes the ~30 common
    * vocabulary words and prunes the rare tail. */
  val cm03HeavyHitters: GraftQuery = {
    val DEPTH = 3
    val WIDTH = 64
    val INV_PHI = 64L // heavy hitter iff count * INV_PHI >= total
    q("cm03_heavy_hitters",
      "two-pass heavy hitters: Count-Min candidate superset + exact verify",
      s"""WITH tok AS (
         |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
         |cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY term)
         |SELECT term, c AS n_occurrences
         |FROM cnt, tot WHERE c * $INV_PHI >= n
         |ORDER BY term""".stripMargin) { (s, d) =>
      def bucket(j: Int, t: Column) =
        conv(substring(md5(concat(lit(s"$j:"), t)), 1, 8), 16, 10)
          .cast(LongType) % WIDTH
      val toks = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("term"))
      // pass 1: bounded sketch cells + scalar total
      val sketch = toks.select(explode(array((0 until DEPTH).map(j =>
        struct(lit(j).as("row_j"), bucket(j, col("term")).as("bucket"))): _*)).as("e"))
        .select(col("e.row_j").as("row_j"), col("e.bucket").as("bucket"))
        .groupBy("row_j", "bucket").agg(count(lit(1)).as("c"))
        .pinned // read by the candidate probe AND the total below
      // every CM row counts each token exactly once, so the scalar
      // total N is the cell-sum of any one row — no extra corpus scan
      val total = sketch.filter(col("row_j") === 0).agg(sum(col("c")).as("n"))
      // candidate filter: CM point estimate (min over rows) ≥ φ·N.
      // Distinct keys probe the BROADCAST sketch (DEPTH×WIDTH rows).
      val candidates = toks.distinct()
        .select(col("term"), explode(array((0 until DEPTH).map(j =>
          struct(lit(j).as("row_j"), bucket(j, col("term")).as("bucket"))): _*)).as("e"))
        .select(col("term"), col("e.row_j").as("row_j"), col("e.bucket").as("bucket"))
        .join(broadcast(sketch), Seq("row_j", "bucket"))
        .groupBy("term").agg(min(col("c")).as("est"))
        .crossJoin(broadcast(total))
        .filter(col("est") * INV_PHI >= col("n"))
        .select(col("term"))
      // pass 2: exact counts for the bounded candidate set only
      toks.join(broadcast(candidates), Seq("term"), "left_semi")
        .groupBy("term").agg(count(lit(1)).cast(LongType).as("c"))
        .crossJoin(broadcast(total))
        .filter(col("c") * INV_PHI >= col("n"))
        .select(col("term"), col("c").as("n_occurrences"))
        .orderBy("term")
    }
  }

  /** Oracle-reproducible HyperLogLog. hll01 uses Spark's built-in HLL++
    * (engine-opaque registers → rows-only check); this one builds the
    * sketch from first principles with the md5 hash family, so the
    * registers AND the estimate hash-match the DuckDB oracle.
    *
    * Everything is integer-exact until one final IEEE division:
    *  - 32-bit hash = first 8 md5 hex chars (cm01's family);
    *  - top [[Hll.P]] bits pick a register, the low [[Hll.W]] bits give
    *    rho = W+1 - msb_position, where the MSB position is computed by
    *    OR-smearing + bit_count — no floating log2 whose rounding could
    *    diverge between engines;
    *  - the harmonic term Σ 2^-Mj is emitted scaled by 2^(W+1)
    *    (`harmonic_scaled`, an exact BIGINT since Mj ≤ W+1);
    *  - the estimate α·m²·2^(W+1) / harmonic_scaled rounds only in the
    *    final division (the α multiplies scale by powers of two, which
    *    are exact), so both engines produce identical doubles.
    *
    * The emitted estimate is the RAW HLL value; the small-range
    * linear-counting branch (m·ln(m/V) when est ≤ 2.5m) needs `ln`,
    * which is not bit-reproducible across libm implementations, so the
    * query emits `n_zero` and leaves that branch to the consumer
    * (SketchSpec applies it and pins the 3σ accuracy bound).
    *
    * Distribution: registers build as one partial+final max-aggregation
    * on (group, register) — 64 cells per group whatever the corpus
    * size; merging two sketches is register-wise MAX (pinned in
    * SketchSpec), which is why the build is embarrassingly parallel. */
  val hll02OracleDistinct: GraftQuery = {
    import Hll._
    val smearSql = Seq(1, 2, 4, 8, 16).zipWithIndex.map { case (k, i) =>
      val prev = if (i == 0) "b" else s"s$i"
      s"s${i + 1} AS (SELECT event_type, bucket, w | (w >> $k) AS w FROM $prev)"
    }.mkString(",\n")
    q("hll02_oracle_distinct",
      "HyperLogLog distinct users per event type — registers and estimate oracle-reproducible",
      s"""WITH h AS (
         |  SELECT event_type,
         |    CAST(CONCAT('0x', SUBSTRING(md5('h:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h32
         |  FROM events),
         |b AS (SELECT event_type, h32 >> $W AS bucket, h32 & ${(1L << W) - 1} AS w FROM h),
         |$smearSql,
         |r AS (SELECT event_type, bucket, ${W + 1} - bit_count(w) AS rho FROM s5),
         |regs AS (SELECT event_type, bucket, MAX(rho) AS mj FROM r GROUP BY 1, 2),
         |grid AS (
         |  SELECT t.event_type, g.bucket
         |  FROM (SELECT DISTINCT event_type FROM events) t,
         |       (SELECT unnest(range(0, $M)) AS bucket) g),
         |full_regs AS (
         |  SELECT grid.event_type, grid.bucket, COALESCE(mj, 0) AS mj
         |  FROM grid LEFT JOIN regs
         |    ON grid.event_type = regs.event_type AND grid.bucket = regs.bucket),
         |agg AS (
         |  SELECT event_type,
         |    CAST(SUM(CAST(1 AS BIGINT) << (${W + 1} - mj)) AS BIGINT) AS harmonic_scaled,
         |    CAST(SUM(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
         |  FROM full_regs GROUP BY 1),
         |exact AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY 1)
         |SELECT a.event_type, n_exact, n_zero, harmonic_scaled,
         |  CAST($ALPHA AS DOUBLE) * $M * $M * ${1L << (W + 1)} / CAST(harmonic_scaled AS DOUBLE) AS hll_est
         |FROM agg a JOIN exact e ON a.event_type = e.event_type
         |ORDER BY a.event_type""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"), col("user_id"))
      val regs = registers(ev, col("event_type"), col("user_id").cast(StringType))
        .withColumnRenamed("gkey", "event_type")
      val types = ev.select("event_type").distinct()
      val grid = types.crossJoin(broadcast(
        s.range(M).select(col("id").as("bucket"))))
      val full = grid.join(regs, Seq("event_type", "bucket"), "left")
        .withColumn("mj", coalesce(col("mj"), lit(0)))
      val aggd = full.groupBy("event_type").agg(
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${W + 1} - mj)"))
          .cast(LongType).as("harmonic_scaled"),
        sum(when(col("mj") === 0, 1).otherwise(0)).cast(LongType).as("n_zero"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      aggd.join(exact, "event_type")
        .select(col("event_type"), col("n_exact"), col("n_zero"),
          col("harmonic_scaled"),
          (lit(ALPHA) * lit(M * M) * lit(1L << (W + 1)) /
            col("harmonic_scaled").cast(DoubleType)).as("hll_est"))
        .orderBy("event_type")
    }
  }

  /** Sketch ROLLUP — the reason sketches beat exact distincts in a
    * warehouse: per-group register tables re-aggregate to coarser
    * grains by register-wise max, WITHOUT rescanning the data. Here
    * the per-event-type registers from hll02's construction merge
    * into one global sketch; the exact global distinct is computed
    * alongside to show the estimate lands. An exact per-type distinct
    * can NOT roll up this way (users overlap across types) — that is
    * the whole point, and why the merged estimate differs from the
    * sum of per-type counts. */
  val hll03SketchRollup: GraftQuery = {
    import Hll._
    val smearSql = Seq(1, 2, 4, 8, 16).zipWithIndex.map { case (k, i) =>
      val prev = if (i == 0) "b" else s"s$i"
      s"s${i + 1} AS (SELECT event_type, bucket, w | (w >> $k) AS w FROM $prev)"
    }.mkString(",\n")
    q("hll03_sketch_rollup",
      "global distinct by merging per-type HLL registers — re-aggregation without rescan",
      s"""WITH h AS (
         |  SELECT event_type,
         |    CAST(CONCAT('0x', SUBSTRING(md5('h:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h32
         |  FROM events),
         |b AS (SELECT event_type, h32 >> $W AS bucket, h32 & ${(1L << W) - 1} AS w FROM h),
         |$smearSql,
         |r AS (SELECT event_type, bucket, ${W + 1} - bit_count(w) AS rho FROM s5),
         |pertype AS (SELECT event_type, bucket, MAX(rho) AS mj FROM r GROUP BY 1, 2),
         |merged AS (SELECT bucket, MAX(mj) AS mj FROM pertype GROUP BY bucket),
         |grid AS (SELECT unnest(range(0, $M)) AS bucket),
         |full_regs AS (
         |  SELECT grid.bucket, COALESCE(mj, 0) AS mj
         |  FROM grid LEFT JOIN merged ON grid.bucket = merged.bucket),
         |agg AS (
         |  SELECT CAST(SUM(CAST(1 AS BIGINT) << (${W + 1} - mj)) AS BIGINT) AS harmonic_scaled,
         |    CAST(SUM(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
         |  FROM full_regs),
         |exact AS (SELECT COUNT(DISTINCT user_id) AS n_exact,
         |                 CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
         |          FROM events)
         |SELECT n_types, n_exact, n_zero, harmonic_scaled,
         |  CAST($ALPHA AS DOUBLE) * $M * $M * ${1L << (W + 1)} / CAST(harmonic_scaled AS DOUBLE) AS hll_est
         |FROM agg, exact""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"), col("user_id"))
      val perType = registers(ev, col("event_type"), col("user_id").cast(StringType)) // gkey unused: merged over all types
      val merged = perType.groupBy("bucket").agg(max(col("mj")).as("mj"))
      val grid = s.range(M).select(col("id").as("bucket"))
      val full = grid.join(merged, Seq("bucket"), "left")
        .withColumn("mj", coalesce(col("mj"), lit(0)))
      val aggd = full.agg(
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${W + 1} - mj)"))
          .cast(LongType).as("harmonic_scaled"),
        sum(when(col("mj") === 0, 1).otherwise(0)).cast(LongType).as("n_zero"))
      val exact = ev.agg(countDistinct(col("user_id")).as("n_exact"),
        countDistinct(col("event_type")).cast(LongType).as("n_types"))
      aggd.crossJoin(broadcast(exact))
        .select(col("n_types"), col("n_exact"), col("n_zero"),
          col("harmonic_scaled"),
          (lit(ALPHA) * lit(M * M) * lit(1L << (W + 1)) /
            col("harmonic_scaled").cast(DoubleType)).as("hll_est"))
    }
  }

  /** Sketch SET ALGEBRA — why a warehouse stores register tables
    * instead of distinct counts: two audiences (users who clicked,
    * users who purchased) have a union sketch obtainable WITHOUT any
    * rescan (register-wise max), and |A ∩ B| follows by
    * inclusion–exclusion on the three estimates — the audience-overlap
    * question exact counts can only answer with a join over raw data.
    * Registers, estimates, and the derived intersection are all
    * reproduced by the DuckDB oracle (hll02's integer construction);
    * the exact counts sit alongside to show where the estimates land.
    * At scale each side is one 64-cell register table however many
    * events exist, and the set algebra never touches the fact table. */
  val hll04SetAlgebra: GraftQuery = {
    import Hll._
    val smearSql = Seq(1, 2, 4, 8, 16).zipWithIndex.map { case (k, i) =>
      val prev = if (i == 0) "b" else s"s$i"
      s"s${i + 1} AS (SELECT side, bucket, w | (w >> $k) AS w FROM $prev)"
    }.mkString(",\n")
    val estSql = (hs: String) =>
      s"CAST($ALPHA AS DOUBLE) * $M * $M * ${1L << (W + 1)} / CAST($hs AS DOUBLE)"
    q("hll04_set_algebra",
      "HLL union (register max) + intersection (inclusion-exclusion) of two audiences",
      s"""WITH ev AS (
         |  SELECT 'a' AS side, user_id FROM events WHERE event_type = 'click'
         |  UNION ALL
         |  SELECT 'b' AS side, user_id FROM events WHERE event_type = 'purchase'),
         |h AS (
         |  SELECT side,
         |    CAST(CONCAT('0x', SUBSTRING(md5('h:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h32
         |  FROM ev),
         |b AS (SELECT side, h32 >> $W AS bucket, h32 & ${(1L << W) - 1} AS w FROM h),
         |$smearSql,
         |r AS (SELECT side, bucket, ${W + 1} - bit_count(w) AS rho FROM s5),
         |perside AS (SELECT side, bucket, MAX(rho) AS mj FROM r GROUP BY 1, 2),
         |uregs AS (SELECT bucket, MAX(mj) AS mj FROM perside GROUP BY bucket),
         |grid AS (SELECT unnest(range(0, $M)) AS bucket),
         |sides AS (SELECT 'a' AS side UNION ALL SELECT 'b'),
         |full_s AS (
         |  SELECT sides.side, grid.bucket, COALESCE(mj, 0) AS mj
         |  FROM sides CROSS JOIN grid
         |  LEFT JOIN perside ON sides.side = perside.side AND grid.bucket = perside.bucket),
         |full_u AS (
         |  SELECT grid.bucket, COALESCE(mj, 0) AS mj
         |  FROM grid LEFT JOIN uregs ON grid.bucket = uregs.bucket),
         |aggs AS (
         |  SELECT side, CAST(SUM(CAST(1 AS BIGINT) << (${W + 1} - mj)) AS BIGINT) AS hs
         |  FROM full_s GROUP BY side),
         |wide AS (
         |  SELECT MAX(CASE WHEN side = 'a' THEN hs END) AS hs_a,
         |         MAX(CASE WHEN side = 'b' THEN hs END) AS hs_b
         |  FROM aggs),
         |aggu AS (
         |  SELECT CAST(SUM(CAST(1 AS BIGINT) << (${W + 1} - mj)) AS BIGINT) AS hs_union
         |  FROM full_u),
         |est AS (
         |  SELECT hs_a, hs_b, hs_union,
         |    ${estSql("hs_a")} AS est_a,
         |    ${estSql("hs_b")} AS est_b,
         |    ${estSql("hs_union")} AS est_union
         |  FROM wide, aggu),
         |ua AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         |ub AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
         |exact AS (SELECT
         |  (SELECT COUNT(*) FROM ua) AS n_exact_a,
         |  (SELECT COUNT(*) FROM ub) AS n_exact_b,
         |  (SELECT COUNT(*) FROM (SELECT user_id FROM ua UNION SELECT user_id FROM ub)) AS n_exact_union,
         |  (SELECT COUNT(*) FROM ua JOIN ub USING (user_id)) AS n_exact_intersect)
         |SELECT n_exact_a, n_exact_b, n_exact_union, n_exact_intersect,
         |  hs_a, hs_b, hs_union, est_a, est_b, est_union,
         |  est_a + est_b - est_union AS est_intersect
         |FROM est, exact""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"), col("user_id"))
      val sided = ev.filter(col("event_type") === "click")
        .select(lit("a").as("side"), col("user_id"))
        .unionByName(ev.filter(col("event_type") === "purchase")
          .select(lit("b").as("side"), col("user_id")))
      val perSide = registers(sided, col("side"), col("user_id").cast(StringType))
        .withColumnRenamed("gkey", "side")
      val uRegs = perSide.groupBy("bucket").agg(max("mj").as("mj"))
      val grid = s.range(M).select(col("id").as("bucket"))
      val sides = sided.select("side").distinct()
      def harmonic(regs: DataFrame, keys: Seq[String], gridDf: DataFrame) =
        gridDf.join(regs, keys :+ "bucket", "left")
          .withColumn("mj", coalesce(col("mj"), lit(0)))
          .groupBy(keys.map(col): _*)
          .agg(sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${W + 1} - mj)"))
            .cast(LongType).as("hs"))
      val hsS = harmonic(perSide, Seq("side"), sides.crossJoin(broadcast(grid)))
      val wide = hsS.agg(
        max(when(col("side") === "a", col("hs"))).as("hs_a"),
        max(when(col("side") === "b", col("hs"))).as("hs_b"))
      val hsU = grid.join(uRegs, Seq("bucket"), "left")
        .withColumn("mj", coalesce(col("mj"), lit(0)))
        .agg(sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${W + 1} - mj)"))
          .cast(LongType).as("hs_union"))
      def estCol(hs: Column) =
        lit(ALPHA) * lit(M * M) * lit(1L << (W + 1)) / hs.cast(DoubleType)
      val est = wide.crossJoin(broadcast(hsU))
        .select(col("hs_a"), col("hs_b"), col("hs_union"),
          estCol(col("hs_a")).as("est_a"),
          estCol(col("hs_b")).as("est_b"),
          estCol(col("hs_union")).as("est_union"))
      val ua = ev.filter(col("event_type") === "click").select("user_id").distinct()
      val ub = ev.filter(col("event_type") === "purchase").select("user_id").distinct()
      val exact = ua.agg(count(lit(1)).as("n_exact_a"))
        .crossJoin(broadcast(ub.agg(count(lit(1)).as("n_exact_b"))))
        .crossJoin(broadcast(
          ua.union(ub).distinct().agg(count(lit(1)).as("n_exact_union"))))
        .crossJoin(broadcast(
          ua.join(ub, "user_id").agg(count(lit(1)).as("n_exact_intersect"))))
      est.crossJoin(broadcast(exact))
        .select(col("n_exact_a"), col("n_exact_b"), col("n_exact_union"),
          col("n_exact_intersect"), col("hs_a"), col("hs_b"), col("hs_union"),
          col("est_a"), col("est_b"), col("est_union"),
          (col("est_a") + col("est_b") - col("est_union")).as("est_intersect"))
    }
  }

  /** Exact ±1-even spread of `df` over exactly `min(k, n)` non-empty
    * partitions: bucket = contiguous global row index mod k, placed by
    * an IDENTITY partitioner (bucket j IS partition j). The one RDD
    * drop-down in the relational layer, and deliberate: DataFrame
    * `repartition(k)` round-robins from a per-partition random offset
    * (coverage only probabilistic when input partitions are small) and
    * `repartition(k, col)` re-HASHES the bucket id (collisions leave
    * ~1/e of partitions empty) — neither can promise a file COUNT,
    * which is the contract a compaction pass is run for. zipWithIndex
    * costs one extra pass over compact scan rows; linear at any scale. */
  private def exactRoundRobin(df: DataFrame, k: Int): DataFrame = {
    val schema = df.schema
    val rdd = df.rdd.zipWithIndex()
      .map { case (row, i) => ((i % k).toInt, row) }
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = k
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .map(_._2)
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Small-files compaction — the table-maintenance pass every file-based
    * lake needs: a fragmented table (200 tiny files — the debris of
    * per-micro-batch or per-task commits) is rewritten into 8
    * evenly-sized files with one round-robin repartition. File counts
    * are part of the CONTRACT: the result row carries
    * countDistinct(input_file_name()) measured on each generation, and
    * the oracle pins them as literals (200 → 8) alongside the
    * content aggregate that proves the rewrite lost nothing. At 100 TB
    * the same job runs per partition-directory with the target count
    * sized to bytes/file (repartition keeps output sizes uniform —
    * coalesce would inherit whatever skew the scan's split packing
    * produced, and small inputs pack into too few splits to even hit a
    * target count).
    *
    * File-count contract: each generation is written through
    * [[exactRoundRobin]], which assigns bucket = global_row_index mod k
    * and places buckets with an IDENTITY partitioner — so exactly
    * `LEAST(k, n)` non-empty ±1-even partitions/files by construction,
    * at any scale and under any scan split packing. (A plain
    * `repartition(k)` only achieves that empirically: its round-robin
    * starts each input partition at a Random(partitionIndex) offset,
    * and many small input partitions can leave cyclic ranges
    * uncovered.) The oracle derives the counts from COUNT(*) instead
    * of pinning 200/8 literals, keeping the contract
    * scale-independent. */
  /** PHASE SPLIT (r16, the memoizer discipline): the FRAGMENTED input
    * table is the operator's fixture — in production it already exists
    * (it is the debris the compactor is deployed against; a compactor
    * never fragments its own input first) — so it is written once per
    * corpus dir under `setup_write`. The timed path is the
    * operator itself: read the 200 small files, rewrite to 8, audit
    * both generations. Result values are unchanged. */

  val q49Compaction: GraftQuery = q(
    "q49_compaction",
    "small-file compaction: 200-file fragmented write → 8 even files, content-preserving",
    s"""SELECT CAST(LEAST(200, COUNT(*)) AS BIGINT) AS n_files_before,
       |  CAST(LEAST(8, COUNT(*)) AS BIGINT) AS n_files_after,
       |  COUNT(*) AS n_rows,
       |  ${Det.sqlDsum("l_extendedprice")} AS sum_price
       |FROM lineitem
       |WHERE EXTRACT(YEAR FROM l_shipdate) = 1995""".stripMargin) { (s, d) =>
    val small = graft.Fixtures.once(s, d, "q49_fragments", "q49_compaction") {
      val dir = graft.Scratch.dir("graft_q49_small_")
      exactRoundRobin(Tables.lineitem(s, d)
        .filter(year(col("l_shipdate")) === 1995), 200)
        .write.mode("overwrite").parquet(dir)
      dir
    }
    val compact = graft.Scratch.dir("graft_q49_comp_")
    graft.Phases.timed("q49_compaction", "write") {
      exactRoundRobin(s.read.parquet(small), 8)
        .write.mode("overwrite").parquet(compact)
    }
    val before = s.read.parquet(small)
      .select(input_file_name().as("f"))
      .agg(countDistinct(col("f")).as("n_files_before"))
    s.read.parquet(compact)
      .select(input_file_name().as("f"), col("l_extendedprice"))
      .agg(countDistinct(col("f")).as("n_files_after"),
        count(lit(1)).as("n_rows"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .crossJoin(broadcast(before))
      .select(col("n_files_before"), col("n_files_after"),
        col("n_rows"), col("sum_price"))
  }

  /** Schema evolution on the write path: generation 1 lands without
    * `o_flag`, generation 2 adds it; a `mergeSchema` read unions the
    * file schemas and null-extends the old generation — the routine
    * lake migration (add a column, never rewrite history). The oracle
    * mirrors the union algebraically from the base table. At scale
    * schema merge is a FOOTER-ONLY operation (one footer per file at
    * planning time); the data pages of generation-1 files are never
    * touched to add the column. */
  val q50SchemaMerge: GraftQuery = q(
    "q50_schema_merge",
    "additive schema evolution: two file generations, mergeSchema read, null-extended history",
    s"""SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_rows,
       |  COUNT(*) AS n_flagged,
       |  ${Det.sqlDsum("o_totalprice")} AS gen1_price,
       |  CAST(2 AS BIGINT) AS n_generations
       |FROM orders""".stripMargin) { (s, d) =>
    val dir = graft.Scratch.dir("graft_q50_")
    val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    graft.Phases.timed("q50_schema_merge", "write") {
      base.withColumn("gen", lit(1))
        .write.mode("append").parquet(dir)
      base.withColumn("gen", lit(2))
        .withColumn("o_flag", col("o_totalprice") > 1000.0)
        .write.mode("append").parquet(dir)
    }
    s.read.option("mergeSchema", "true").parquet(dir)
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_flag")).as("n_flagged"),
        dsum(when(col("gen") === 1, col("o_totalprice"))).as("gen1_price"),
        countDistinct(col("gen")).as("n_generations"))
  }

  /** Incremental aggregate maintenance — the materialized-view pattern:
    * a persisted per-group (count, exact-decimal sum) STATE absorbs a
    * delta batch by algebraic merge (counts add, sums add) instead of
    * recomputing from history. The oracle aggregates the full table
    * directly, so a hash match IS the merge law
    * `merge(partial(A), partial(B)) = agg(A ∪ B)` checked end-to-end
    * through a storage round trip. At 100 TB this is the difference
    * between touching one day's partition and rescanning years: state
    * size is |groups|, delta cost is |delta|, history is never read
    * again. Decimal (not double) sums make the merge exact and
    * order-independent — the same reason Det exists. */
  val q51IncrementalAgg: GraftQuery = q(
    "q51_incremental_agg",
    "incremental materialized aggregate: persisted state + delta merge ≡ full recompute",
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       |  ${Det.sqlDsum("o_totalprice")} AS sum_price
       |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val dir = graft.Scratch.dir("graft_q51_")
    val orders = Tables.orders(s, d)
    val cutoff = lit("1997-01-01").cast(DateType)
    def partial(df: DataFrame): DataFrame =
      df.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(Det.dec2(col("o_totalprice"))).as("sum_dec"))
    graft.Phases.timed("q51_incremental_agg", "write") {
      partial(orders.filter(col("o_orderdate") < cutoff))
        .write.mode("overwrite").parquet(dir) // the standing view state
    }
    val state = s.read.parquet(dir)
    val delta = partial(orders.filter(col("o_orderdate") >= cutoff))
    state.unionByName(delta)
      .groupBy("o_orderpriority")
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("sum_dec")).cast(DoubleType).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Structured extraction from JSON event payloads — the schema-on-read
    * path every log pipeline needs: a JSON string column parses through
    * `from_json` with an explicit schema (codegen'd Jackson parse, one
    * map pass — no regex games, unlike q24's regexp fallback), fields
    * project out, and the result aggregates. The JSON itself is built
    * from table columns with integer cents (double→string formatting is
    * NOT cross-engine stable; integers are), so both engines parse the
    * identical byte sequence. Malformed-input contract: a corrupt row
    * yields nulls (PERMISSIVE), pinned by the injected bad record. */
  val q52FromJson: GraftQuery = q(
    "q52_from_json",
    "schema-on-read: from_json with explicit schema over synthesized payloads",
    """WITH payloads AS (
      |  SELECT CASE WHEN o_orderkey % 97 = 0 THEN 'not json'
      |    ELSE '{"k":' || CAST(o_orderkey AS VARCHAR)
      |      || ',"s":"' || o_orderstatus
      |      || '","cents":' || CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)
      |      || '}' END AS js
      |  FROM orders),
      |parsed AS (
      |  SELECT CASE WHEN js = 'not json' THEN NULL
      |           ELSE CAST(json_extract(js, '$.k') AS BIGINT) END AS k,
      |    CASE WHEN js = 'not json' THEN NULL
      |         ELSE json_extract_string(js, '$.s') END AS s,
      |    CASE WHEN js = 'not json' THEN NULL
      |         ELSE CAST(json_extract(js, '$.cents') AS BIGINT) END AS cents
      |  FROM payloads)
      |SELECT s, COUNT(*) AS n, COUNT(k) AS n_parsed,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM parsed GROUP BY s ORDER BY s NULLS FIRST""".stripMargin) { (s, d) =>
    val js = when(col("o_orderkey") % 97 === 0, lit("not json"))
      .otherwise(concat(
        lit("{\"k\":"), col("o_orderkey").cast(StringType),
        lit(",\"s\":\""), col("o_orderstatus"),
        lit("\",\"cents\":"),
        round(col("o_totalprice") * 100).cast(LongType).cast(StringType),
        lit("}")))
    Tables.orders(s, d)
      .select(js.as("js"))
      .select(from_json(col("js"), StructType(Seq(
        StructField("k", LongType), StructField("s", StringType),
        StructField("cents", LongType)))).as("p"))
      .select(col("p.k").as("k"), col("p.s").as("s"), col("p.cents").as("cents"))
      .groupBy("s")
      .agg(count(lit(1)).as("n"), count(col("k")).as("n_parsed"),
        sum(col("cents")).cast(LongType).as("total_cents"))
      .orderBy(col("s").asc_nulls_first)
  }

  /** CDC upsert → SCD2 history — the third leg of the merge family:
    * q45 reconciles two snapshots (full-outer with provenance), q46
    * DERIVES validity intervals from an existing history (lead()),
    * this query APPLIES a change batch to a live dimension — the
    * incremental step a CDC pipeline runs per ingest. A change
    * batch (updates to existing keys + inserts of new keys) folds into
    * a versioned dimension without rewriting unchanged history. The
    * merge decomposes into the three standard relational pieces —
    * changed rows close (LEFT SEMI against the delta's keys), unchanged
    * rows carry forward (LEFT ANTI), the delta opens fresh current
    * versions — one union, zero row rewrites outside the touched keys.
    * At 100 TB the dimension is key-bucketed, so semi/anti/delta all
    * co-locate on the key and the merge is shuffle-free; the delta is
    * ingest-bounded, never corpus-bounded. The change batch here is
    * synthesized deterministically from the table itself (balance bump
    * on key % 10, inserts at key + 10^7 on key % 17) so both engines
    * derive the identical delta. Output is the per-segment audit of the
    * merged history (row classes + exact-decimal current balance), the
    * view an ops dashboard actually reads after a merge. */
  val cdc01Scd2Merge: GraftQuery = q(
    "cdc01_scd2_merge",
    "CDC upsert -> SCD2 history: close changed, carry unchanged, insert new; audit by segment",
    s"""WITH dim AS (
       |  SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal
       |  FROM customer),
       |updates AS (
       |  SELECT k, seg, bal + 100 AS bal FROM dim WHERE k % 10 = 0
       |  UNION ALL
       |  SELECT k + 10000000, seg, bal FROM dim WHERE k % 17 = 0),
       |closed AS (
       |  SELECT d.k, d.seg, d.bal, 0 AS version, FALSE AS is_current
       |  FROM dim d WHERE EXISTS (SELECT 1 FROM updates u WHERE u.k = d.k)),
       |carried AS (
       |  SELECT d.k, d.seg, d.bal, 0 AS version, TRUE AS is_current
       |  FROM dim d WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.k = d.k)),
       |fresh AS (
       |  SELECT k, seg, bal, 1 AS version, TRUE AS is_current FROM updates),
       |hist AS (
       |  SELECT * FROM closed UNION ALL SELECT * FROM carried
       |  UNION ALL SELECT * FROM fresh)
       |SELECT seg, COUNT(*) AS n_rows,
       |  CAST(SUM(CASE WHEN is_current THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
       |  CAST(SUM(CASE WHEN NOT is_current THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
       |  CAST(SUM(CASE WHEN is_current AND version = 1 AND k >= 10000000
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
       |  CAST(SUM(CASE WHEN is_current
       |                THEN CAST(bal AS DECIMAL(12,2)) END) AS DOUBLE) AS cur_bal
       |FROM hist GROUP BY seg ORDER BY seg""".stripMargin) { (s, d) =>
    val dim = Tables.customer(s, d).select(col("c_custkey").as("k"),
      col("c_mktsegment").as("seg"), col("c_acctbal").as("bal"))
    val updates = dim.filter(col("k") % 10 === 0)
        .select(col("k"), col("seg"), (col("bal") + 100).as("bal"))
      .unionByName(dim.filter(col("k") % 17 === 0)
        .select((col("k") + 10000000L).as("k"), col("seg"), col("bal")))
    val updKeys = updates.select(col("k").as("uk"))
    val closed = dim.join(updKeys, col("k") === col("uk"), "left_semi")
      .select(col("k"), col("seg"), col("bal"),
        lit(0).as("version"), lit(false).as("is_current"))
    val carried = dim.join(updKeys, col("k") === col("uk"), "left_anti")
      .select(col("k"), col("seg"), col("bal"),
        lit(0).as("version"), lit(true).as("is_current"))
    val fresh = updates.select(col("k"), col("seg"), col("bal"),
      lit(1).as("version"), lit(true).as("is_current"))
    closed.unionByName(carried).unionByName(fresh)
      .groupBy("seg")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("is_current"), 1L).otherwise(0L)).cast(LongType).as("n_current"),
        sum(when(!col("is_current"), 1L).otherwise(0L)).cast(LongType).as("n_closed"),
        sum(when(col("is_current") && col("version") === 1 &&
          col("k") >= 10000000L, 1L).otherwise(0L)).cast(LongType).as("n_inserted"),
        sum(when(col("is_current"), Det.dec2(col("bal"))))
          .cast(DoubleType).as("cur_bal"))
      .orderBy("seg")
  }

  /** Order-independent table fingerprints — the data-integrity
    * primitive for validating a 100 TB copy/migration without moving
    * the data twice: each side computes (n_rows, XOR of row hashes,
    * modular sum of row hashes) per table and compares 3 numbers. XOR
    * is commutative/associative so the result is partition- and
    * shuffle-order-independent; the modular sum catches the XOR blind
    * spot (a row duplicated an even number of times XORs out). Rows
    * are canonicalized engine-portably: integers/strings as-is,
    * doubles through DECIMAL(12,2), timestamps through DATE, joined
    * with '|' and md5'd (15 hex chars = 60 bits, sign-safe in BIGINT;
    * the mod-sum term is bounded by 1e6 so even 10^12 rows cannot
    * overflow). Pure partial+final aggregation per table — one scan,
    * no shuffle beyond the final single-row combine. */
  /** One (tbl, n_rows, fp_xor, fp_modsum) row for [[q53TableChecksum]];
    * public so IntegritySpec can drive it with adversarial inputs. */
  def tableFingerprint(df: DataFrame, tbl: String, canon: Seq[Column]): DataFrame =
    df.select(conv(substring(md5(concat_ws("|", canon: _*)), 1, 15), 16, 10)
        .cast(LongType).as("h"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("fp_xor"),
        sum(col("h") % 1000003L).as("fp_modsum"))
      .select(lit(tbl).as("tbl"), col("n_rows"), col("fp_xor"), col("fp_modsum"))

  val q53TableChecksum: GraftQuery = {
    val M = 1000003L // prime modulus for the sum-of-hashes term
    def sqlFp(tbl: String, cols: String) =
      s"""SELECT '$tbl' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  bit_xor(h) AS fp_xor, CAST(SUM(h % $M) AS BIGINT) AS fp_modsum
         |FROM (SELECT CAST(CONCAT('0x', SUBSTRING(md5(concat_ws('|', $cols)), 1, 15)) AS BIGINT) AS h
         |      FROM $tbl)""".stripMargin
    val lCols = "CAST(l_orderkey AS VARCHAR), CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR), " +
      "CAST(l_linenumber AS VARCHAR), CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR), " +
      "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR), CAST(CAST(l_discount AS DECIMAL(12,2)) AS VARCHAR), " +
      "CAST(CAST(l_tax AS DECIMAL(12,2)) AS VARCHAR), l_returnflag, l_linestatus, CAST(CAST(l_shipdate AS DATE) AS VARCHAR)"
    val oCols = "CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), o_orderstatus, " +
      "CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), CAST(CAST(o_orderdate AS DATE) AS VARCHAR), o_orderpriority"
    val cCols = "CAST(c_custkey AS VARCHAR), c_name, CAST(c_nationkey AS VARCHAR), " +
      "CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR), c_mktsegment"
    q("q53_table_checksum",
      "order-independent per-table row-hash fingerprints (copy validation)",
      s"""${sqlFp("lineitem", lCols)}
         |UNION ALL ${sqlFp("orders", oCols)}
         |UNION ALL ${sqlFp("customer", cCols)}
         |ORDER BY tbl""".stripMargin) { (s, d) =>
      def dec(c: String) = col(c).cast(DecimalType(12, 2)).cast(StringType)
      def str(c: String) = col(c).cast(StringType)
      def dt(c: String) = col(c).cast(DateType).cast(StringType)
      // The md5 canonicalization is the heaviest per-row map work in
      // the registry (~10 casts + concat + md5 + conv per row), and a
      // single-file table scans as ONE task however many cores exist
      // (a parquet row group is unsplittable) — so the fingerprint
      // pass was serial at the scan. fanout spreads the compact base
      // rows across the cluster first (guide §2.4: one cheap shuffle
      // of key columns buys full parallelism for the expensive map);
      // at 100 TB the scan already has thousands of splits and fanout
      // is a structural no-op. bit_xor/sum/count are order-independent
      // so the result is bit-identical.
      def fp(df: DataFrame, tbl: String, canon: Seq[Column]) =
        tableFingerprint(Tables.fanout(df), tbl, canon)
      fp(Tables.lineitem(s, d), "lineitem", Seq(
        str("l_orderkey"), str("l_partkey"), str("l_suppkey"), str("l_linenumber"),
        dec("l_quantity"), dec("l_extendedprice"), dec("l_discount"), dec("l_tax"),
        col("l_returnflag"), col("l_linestatus"), dt("l_shipdate")))
        .unionByName(fp(Tables.orders(s, d), "orders", Seq(
          str("o_orderkey"), str("o_custkey"), col("o_orderstatus"),
          dec("o_totalprice"), dt("o_orderdate"), col("o_orderpriority"))))
        .unionByName(fp(Tables.customer(s, d), "customer", Seq(
          str("c_custkey"), col("c_name"), str("c_nationkey"),
          dec("c_acctbal"), col("c_mktsegment"))))
        .orderBy("tbl")
    }
  }

  /** Snapshot DIFF — classify every primary key across two table
    * versions as added / removed / changed / unchanged. This is the
    * audit face of CDC: given yesterday's snapshot and today's, what
    * moved? The two versions here are derived deterministically from
    * the same base table (drop keys ≡0 mod 97 from v1 — "added later";
    * drop ≡0 mod 89 from v2 — "deleted"; bump the price on ≡0 mod 101
    * — "changed"), so the oracle reproduces them exactly. The diff
    * itself is ONE full-outer sort-merge equi-join on the PK plus a
    * map-side classification — the canonical table-diff shape. At
    * 100 TB both snapshots would be bucketed by PK (q48's layout), so
    * the diff runs with zero runtime Exchange; value comparison is on
    * exact decimals (no fp-equality trap). */
  val df01SnapshotDiff: GraftQuery = q(
    "df01_snapshot_diff",
    "snapshot diff: full-outer PK join classifying added/removed/changed rows",
    s"""WITH v1 AS (
       |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price
       |  FROM orders WHERE o_orderkey % 97 <> 0),
       |v2 AS (
       |  SELECT o_orderkey,
       |    CAST(o_totalprice AS DECIMAL(12,2))
       |      + CASE WHEN o_orderkey % 101 = 0 THEN CAST(1.00 AS DECIMAL(12,2))
       |             ELSE CAST(0.00 AS DECIMAL(12,2)) END AS price
       |  FROM orders WHERE o_orderkey % 89 <> 0),
       |d AS (
       |  SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS pk,
       |    CASE WHEN v1.o_orderkey IS NULL THEN 'added'
       |         WHEN v2.o_orderkey IS NULL THEN 'removed'
       |         WHEN v1.price <> v2.price THEN 'changed'
       |         ELSE 'unchanged' END AS change_type
       |  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
       |SELECT change_type, COUNT(*) AS n_rows,
       |  CAST(SUM(pk) AS BIGINT) AS key_sum
       |FROM d GROUP BY change_type ORDER BY change_type""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d)
    val v1 = base.filter(col("o_orderkey") % 97 =!= 0)
      .select(col("o_orderkey").as("pk1"), Det.dec2(col("o_totalprice")).as("p1"))
    val bump = when(col("o_orderkey") % 101 === 0,
      lit(BigDecimal("1.00")).cast(DecimalType(12, 2)))
      .otherwise(lit(BigDecimal("0.00")).cast(DecimalType(12, 2)))
    val v2 = base.filter(col("o_orderkey") % 89 =!= 0)
      .select(col("o_orderkey").as("pk2"),
        (Det.dec2(col("o_totalprice")) + bump).as("p2"))
    v1.join(v2, col("pk1") === col("pk2"), "full_outer")
      .select(coalesce(col("pk1"), col("pk2")).as("pk"),
        when(col("pk1").isNull, "added")
          .when(col("pk2").isNull, "removed")
          .when(col("p1") =!= col("p2"), "changed")
          .otherwise("unchanged").as("change_type"))
      .groupBy("change_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("pk")).cast(LongType).as("key_sum"))
      .orderBy("change_type")
  }

  /** ORC round trip — the second columnar format a warehouse must
    * read AND write (parquet is q47). The write is recorded as a bench
    * phase; the read-back proves type fidelity (decimal-exact money
    * sums after the format hop) by aggregating to the same totals the
    * oracle computes from the parquet original. ORC's stripe layout
    * gives the same predicate-pushdown/column-pruning story as
    * parquet, so the read plan is a pruned columnar scan either way. */
  val q54OrcRoundtrip: GraftQuery = q(
    "q54_orc_roundtrip",
    "ORC write + read-back: cross-format type fidelity vs the parquet oracle",
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       |  ${Det.sqlDsum("l_extendedprice")} AS sum_price,
       |  ${Det.sqlDsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    val out = graft.Scratch.dir("graft_q54_")
    graft.Phases.timed("q54_orc_roundtrip", "write") {
      // fanout: the single-file parquet scan is one task, so the ORC
      // write was serial AND produced one single-stripe file that
      // read back serial too — the spread parallelizes both sides of
      // the round trip (no-op at cluster scale; no file-count
      // contract here, only aggregate fidelity)
      graft.sources.Formats.write(
        Tables.fanout(Tables.lineitem(s, d)).select("l_returnflag",
          "l_linestatus", "l_extendedprice", "l_quantity"),
        "orc", out)
    }
    graft.sources.Formats.read(s, "orc", out)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("l_extendedprice")).as("sum_price"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Avro round trip — the ROW-oriented interop format (parquet/ORC
    * cover columnar in q47/q54; Avro is what streams and row pipelines
    * exchange). No spark-avro module ships on this classpath, so the
    * write goes through Avro's own Hadoop OutputFormat binding
    * ([[graft.sources.AvroIO]] — committer-correct on DFS) and the
    * read through the splittable AvroInputFormat (container sync
    * markers = many tasks per big file). The read-back aggregates to
    * the totals the oracle computes from the parquet original, so a
    * hash match proves the format hop loses nothing. Write recorded as
    * a bench phase like q54's. */
  val q57AvroRoundtrip: GraftQuery = q(
    "q57_avro_roundtrip",
    "Avro write + splittable read-back via Hadoop formats: row-format fidelity vs parquet oracle",
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_rows,
       |  ${Det.sqlDsum("o_totalprice")} AS sum_price
       |FROM orders
       |GROUP BY o_orderstatus, o_orderpriority
       |ORDER BY o_orderstatus, o_orderpriority""".stripMargin) { (s, d) =>
    val out = graft.Scratch.dir("graft_q57_") + "/orders_avro"
    val subset = Tables.orders(s, d)
      .select("o_orderstatus", "o_orderpriority", "o_totalprice")
    graft.Phases.timed("q57_avro_roundtrip", "write") {
      graft.sources.AvroIO.write(subset, out)
    }
    graft.sources.AvroIO.read(s, out, subset.schema)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  /** NULL-aware anti join — SQL's most notorious three-valued-logic
    * trap, demonstrated and cross-checked: `x NOT IN (S)` is never
    * TRUE when S contains a NULL (x = NULL is UNKNOWN, so the NOT IN
    * conjunction can only be UNKNOWN or FALSE), while `NOT EXISTS`
    * with an equality predicate simply never matches the NULL row —
    * three variants over the same data return three different counts,
    * and both engines must agree on all three. Spark plans the
    * nullable NOT IN as a NULL-AWARE anti join (BroadcastHashJoin with
    * isNullAwareAntiJoin=true — plan-pinned), the null-free / NOT
    * EXISTS variants as plain hash anti joins. Scale caveat, stated
    * honestly: Spark can only execute the null-aware shape with a
    * BROADCAST build side, and this subquery grows with orders — fine
    * to several million keys (measured 1.8 s at the 100× replica's 3M
    * rows), but an unbounded NOT IN subquery at true 100 TB must be
    * rewritten as NOT EXISTS plus an explicit IS NULL existence check
    * (the null-free variants here are that rewrite's building blocks);
    * the UNKNOWN semantics are the reason engines can't just hash-anti
    * it, which is exactly what this query documents. */
  val q55NullAwareAnti: GraftQuery = q(
    "q55_null_aware_anti",
    "NOT IN vs NOT EXISTS three-valued logic: null-aware anti join cross-checked",
    """WITH probe AS (
      |  SELECT c_custkey FROM customer WHERE c_custkey < 500),
      |sub AS (
      |  SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END AS k
      |  FROM orders WHERE o_totalprice > 400000)
      |SELECT 'not_exists' AS variant, COUNT(*) AS n FROM probe
      |  WHERE NOT EXISTS (SELECT 1 FROM sub WHERE sub.k = probe.c_custkey)
      |UNION ALL
      |SELECT 'not_in_null_free', COUNT(*) FROM probe
      |  WHERE c_custkey NOT IN (SELECT k FROM sub WHERE k IS NOT NULL)
      |UNION ALL
      |SELECT 'not_in_with_nulls', COUNT(*) FROM probe
      |  WHERE c_custkey NOT IN (SELECT k FROM sub)
      |ORDER BY variant""".stripMargin) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("graft_q55_c")
    Tables.orders(s, d).createOrReplaceTempView("graft_q55_o")
    s.sql("""
      WITH probe AS (
        SELECT c_custkey FROM graft_q55_c WHERE c_custkey < 500),
      sub AS (
        SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END AS k
        FROM graft_q55_o WHERE o_totalprice > 400000)
      SELECT 'not_exists' AS variant, COUNT(*) AS n FROM probe
        WHERE NOT EXISTS (SELECT 1 FROM sub WHERE sub.k = probe.c_custkey)
      UNION ALL
      SELECT 'not_in_null_free', COUNT(*) FROM probe
        WHERE c_custkey NOT IN (SELECT k FROM sub WHERE k IS NOT NULL)
      UNION ALL
      SELECT 'not_in_with_nulls', COUNT(*) FROM probe
        WHERE c_custkey NOT IN (SELECT k FROM sub)
      ORDER BY variant""")
  }

  /** The SCALE-SAFE form of q55's NOT IN — [[NullAwareAnti.notIn]]
    * run over all three 3VL branches (empty subquery / null-free /
    * null-bearing) and cross-checked against DuckDB's native NOT IN.
    * q55 documents the broadcast-only ceiling of Spark's null-aware
    * anti join; this is the rewrite that removes it: one 1-row stats
    * aggregate + a plain shuffle-able LEFT ANTI equi-join. The probe
    * side carries NULL keys too (c_custkey % 97 = 0 → NULL), so the
    * "x IS NULL never passes a non-empty NOT IN" branch is exercised,
    * not just the subquery-side null. PlanSpec pins the no-broadcast
    * claim: with autoBroadcastJoinThreshold −1 the plan is SMJ
    * LeftAnti — no BroadcastNestedLoopJoin, no isNullAwareAntiJoin. */
  val nj01ScaleSafeNotIn: GraftQuery = q(
    "nj01_scale_safe_not_in",
    "scale-safe NOT IN: stats-gate + shuffle anti join, all three 3VL branches vs native NOT IN",
    """WITH probe AS (
      |  SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE c_custkey END AS k
      |  FROM customer WHERE c_custkey < 500),
      |sub AS (
      |  SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END AS j
      |  FROM orders WHERE o_totalprice > 400000)
      |SELECT 'empty_sub' AS variant, COUNT(*) AS n FROM probe
      |  WHERE k NOT IN (SELECT j FROM sub WHERE 1 = 0)
      |UNION ALL
      |SELECT 'null_free', COUNT(*) FROM probe
      |  WHERE k NOT IN (SELECT j FROM sub WHERE j IS NOT NULL)
      |UNION ALL
      |SELECT 'with_nulls', COUNT(*) FROM probe
      |  WHERE k NOT IN (SELECT j FROM sub)
      |ORDER BY variant""".stripMargin) { (s, d) =>
    val probe = Tables.customer(s, d).filter(col("c_custkey") < 500)
      .select(when(col("c_custkey") % 97 === 0, lit(null))
        .otherwise(col("c_custkey")).as("k"))
    val sub = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
      .select(when(col("o_orderstatus") === "P", lit(null))
        .otherwise(col("o_custkey")).as("j"))
    def variant(label: String, subVariant: DataFrame) =
      NullAwareAnti.notIn(probe, "k", subVariant, "j")
        .agg(count(lit(1)).as("n"))
        .select(lit(label).as("variant"), col("n"))
    variant("empty_sub", sub.filter(lit(1) === 0))
      .unionAll(variant("null_free", sub.filter(col("j").isNotNull)))
      .unionAll(variant("with_nulls", sub))
      .orderBy("variant")
  }

  /** Rank-statistics window family beyond q41's rank/dense_rank:
    * ntile (equi-depth batching — the planner behind lb01's buckets),
    * percent_rank ((rank−1)/(n−1)) and cume_dist (rows≤current / n).
    * The two fractional statistics are single IEEE divides of exact
    * integers, so they are bit-identical cross-engine; the ORDER BY
    * ends in the unique key so ties cannot reorder. One shuffle on the
    * partition key, one partition-local sort — nothing global. */
  val q56RankStats: GraftQuery = q(
    "q56_rank_stats",
    "ntile / percent_rank / cume_dist window statistics (exact-integer divides)",
    """SELECT o_orderpriority, o_orderkey,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume
      |FROM orders
      |WHERE o_orderkey % 97 = 0
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderpriority"), col("o_orderkey"),
        ntile(4).over(w).cast(LongType).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy("o_orderpriority", "o_orderkey")
  }

  /** TPC-H Q21 shape — the hardest decorrelation stress in the suite:
    * one fact table referenced THREE times with mixed quantifiers
    * (base + correlated EXISTS + correlated NOT EXISTS, each with an
    * extra non-equi conjunct `l2.suppkey <> l1.suppkey`). Adapted to
    * this corpus's columns: a "fault" line is l_returnflag = 'R'; the
    * query finds suppliers who were the SOLE faulting supplier on a
    * multi-supplier finished order. Spark plans the quantifiers as a
    * left-semi and a left-anti join, each an equi-join on l_orderkey
    * with the suppkey inequality as a post-join condition — shuffle
    * hash/SMJ-able, never a nested loop, because the equi key carries
    * the join. At 100 TB all three lineitem legs co-partition on
    * l_orderkey, so AQE folds them into one exchange of the fact. */
  val q58SoleFaultSupplier: GraftQuery = q(
    "q58_sole_fault_supplier",
    "Q21-style: base + EXISTS + NOT EXISTS on the same fact, suppkey inequality conjunct",
    """WITH l1 AS (
      |  SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R')
      |SELECT s_name, COUNT(*) AS numwait
      |FROM l1
      |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
      |JOIN supplier ON s_suppkey = l1.l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |WHERE EXISTS (
      |    SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val l1 = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_suppkey"))
    val l2 = li.select(col("l_orderkey").as("l2_ok"), col("l_suppkey").as("l2_sk"))
    val l3 = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("l3_ok"), col("l_suppkey").as("l3_sk"))
    l1.join(l2, col("l2_ok") === col("l_orderkey")
        && col("l2_sk") =!= col("l_suppkey"), "left_semi")
      .join(l3, col("l3_ok") === col("l_orderkey")
        && col("l3_sk") =!= col("l_suppkey"), "left_anti")
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select("o_orderkey"), col("l_orderkey") === col("o_orderkey"))
      // no broadcast hint on supplier: it grows with the corpus, and
      // size-based planning/AQE broadcasts it anyway while it fits
      .join(Tables.supplier(s, d),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"), "left_semi")
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** TPC-H Q15 shape — a view over an aggregate, re-read by the outer
    * query's scalar-MAX subquery: "which supplier(s) earned the
    * quarter's maximum revenue". The equality join against the max is
    * on the EXACT decimal revenue (never the cast double), so ties and
    * the argmax row set are bit-identical cross-engine; the double
    * appears only in the output projection. The revenue view is pinned
    * — it feeds both the MAX and the equality probe, and without the
    * pin the fact scan + aggregation would run twice (the cm01 shape
    * ScanAudit exists to catch). The MAX collapses to one broadcast
    * row, so the probe is a map-side filter, not a join shuffle. */
  val q59TopRevenueSupplier: GraftQuery = q(
    "q59_top_revenue_supplier",
    "Q15-style: aggregate view + scalar-MAX equality probe on exact decimals",
    s"""WITH revenue0 AS (
       |  SELECT l_suppkey AS supplier_no,
       |    SUM(${sqlPrice("l_extendedprice")} * (1 - ${sqlRate("l_discount")})) AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate < TIMESTAMP '1996-04-01'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
       |FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
       |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
       |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
    val revenue0 = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType)
        && col("l_shipdate") < lit("1996-04-01").cast(TimestampType))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(sum(price(col("l_extendedprice"))
        * (lit(1) - rate(col("l_discount")))).as("total_revenue"))
      .pinned // read twice: MAX + equality probe
    val top = revenue0.agg(max(col("total_revenue")).as("max_rev"))
    revenue0.crossJoin(broadcast(top))
      .filter(col("total_revenue") === col("max_rev"))
      // supplier unhinted (corpus-growing); the argmax side is tiny
      // and AQE picks the broadcast at runtime while supplier fits
      .join(Tables.supplier(s, d),
        col("supplier_no") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_revenue").cast(DoubleType).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q22 shape — substring-derived group key, a scalar-AVG
    * threshold subquery over the SAME prefiltered set, and an anti
    * join against the fact: "well-funded customers in target country
    * codes who never ordered". The country code here is the last two
    * digits of c_name (this corpus has no phone column). The threshold
    * is [[Det.davg]] — exact decimal sum / exact count, one IEEE
    * divide — so the > comparison can't flip near-threshold rows
    * cross-engine. The prefiltered customer set is pinned (threshold
    * pass + probe pass); the AVG is a 1-row broadcast so the
    * comparison is map-side; the NOT EXISTS is a shuffle anti join on
    * o_custkey, the only corpus-sized movement in the plan. (Q22's
    * "no orders at all" is vacuous on this corpus — every sf0.01
    * customer has orders — so the anti join excludes customers with a
    * HIGH-VALUE order, keeping the shape and a non-empty answer.) */
  val q60CountryCodeProspects: GraftQuery = q(
    "q60_country_code_prospects",
    "Q22-style: substring prefilter + scalar-AVG threshold + anti join on the fact",
    s"""WITH cust AS (
       |  SELECT substring(c_name, 17, 2) AS cntrycode, c_acctbal, c_custkey
       |  FROM customer
       |  WHERE substring(c_name, 17, 2) IN ('01','12','23','34','45','56','67')),
       |thr AS (
       |  SELECT ${sqlDavg("c_acctbal")} AS ab FROM cust WHERE c_acctbal > 0.0)
       |SELECT cntrycode, COUNT(*) AS numcust,
       |  ${sqlDsum("c_acctbal")} AS totacctbal
       |FROM cust, thr
       |WHERE c_acctbal > ab
       |  AND NOT EXISTS (SELECT 1 FROM orders
       |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
       |GROUP BY cntrycode
       |ORDER BY cntrycode""".stripMargin) { (s, d) =>
    val cust = Tables.customer(s, d)
      .select(substring(col("c_name"), 17, 2).as("cntrycode"),
        col("c_acctbal"), col("c_custkey"))
      .filter(col("cntrycode")
        .isin("01", "12", "23", "34", "45", "56", "67"))
      .pinned // read twice: threshold aggregate + probe
    val thr = cust.filter(col("c_acctbal") > 0.0)
      .agg(davg(col("c_acctbal")).as("ab"))
    cust.crossJoin(broadcast(thr))
      .filter(col("c_acctbal") > col("ab"))
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 400000)
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("cntrycode"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy("cntrycode")
  }

  /** TPC-H Q2 shape — a correlated scalar-MIN subquery over a derived
    * table the outer query ALSO reads ("the region's cheapest supplier
    * per part"), driven through the SQL-PARSER path (temp views +
    * `spark.sql`) so Catalyst's decorrelation is what's under test:
    * the correlated `= (SELECT MIN(..) WHERE e2.partkey = e.partkey)`
    * must rewrite to an aggregate + equi-join, never a per-row
    * subplan. Numerics are exact by construction: MIN over doubles is
    * order-independent (no accumulation), so the equality probe can't
    * drift cross-engine. */
  val q61MinCostSupplier: GraftQuery = {
    def text(li: String, su: String, na: String, re: String) =
      s"""WITH supply AS (
         |  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         |    MIN(l_extendedprice) AS cost
         |  FROM $li GROUP BY 1, 2),
         |esupply AS (
         |  SELECT sp.partkey, sp.suppkey, sp.cost, s.s_name
         |  FROM supply sp JOIN $su s ON s.s_suppkey = sp.suppkey
         |  JOIN $na n ON n.n_nationkey = s.s_nationkey
         |  JOIN $re r ON r.r_regionkey = n.n_regionkey
         |    AND r.r_name = 'EUROPE')
         |SELECT partkey, suppkey, s_name, CAST(cost AS DOUBLE) AS cost
         |FROM esupply e
         |WHERE e.cost = (SELECT MIN(e2.cost) FROM esupply e2
         |                WHERE e2.partkey = e.partkey)
         |ORDER BY partkey, suppkey""".stripMargin
    q("q61_min_cost_supplier",
      "Q2-style: correlated scalar-MIN over a twice-read derived table, SQL-parser path (decorrelation under test)",
      text("lineitem", "supplier", "nation", "region")
        .replace("esupply AS (", "esupply AS MATERIALIZED (")) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q2")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_q2")
      Tables.nation(s, d).createOrReplaceTempView("nation_q2")
      Tables.region(s, d).createOrReplaceTempView("region_q2")
      // Spark INLINES a multi-referenced WITH clause into each reader
      // (ScanAudit: every input x2, lineitem aggregated twice — 2.2 s
      // at sf0.1 for a 0.7 s query), so the shared derived table is
      // pinned ONCE behind a view — the cm01 discipline; DuckDB's
      // MATERIALIZED keyword is the oracle-side twin. The correlated
      // scalar-MIN probe still goes through the parser: decorrelation
      // to an aggregate + equi-join is the planner shape under test.
      s.sql(
        """SELECT sp.partkey, sp.suppkey, sp.cost, s.s_name
          |FROM (SELECT l_partkey AS partkey, l_suppkey AS suppkey,
          |        MIN(l_extendedprice) AS cost
          |      FROM lineitem_q2 GROUP BY 1, 2) sp
          |JOIN supplier_q2 s ON s.s_suppkey = sp.suppkey
          |JOIN nation_q2 n ON n.n_nationkey = s.s_nationkey
          |JOIN region_q2 r ON r.r_regionkey = n.n_regionkey
          |  AND r.r_name = 'EUROPE'""".stripMargin)
        .pinned.createOrReplaceTempView("esupply_q2")
      s.sql(
        """SELECT partkey, suppkey, s_name, CAST(cost AS DOUBLE) AS cost
          |FROM esupply_q2 e
          |WHERE e.cost = (SELECT MIN(e2.cost) FROM esupply_q2 e2
          |                WHERE e2.partkey = e.partkey)
          |ORDER BY partkey, suppkey""".stripMargin)
    }
  }

  /** TPC-H Q17's decorrelation class: a correlated scalar-AVG
    * THRESHOLD — each probe row compares against an aggregate of its
    * own correlation group (`l_quantity < 0.2 · AVG over the part`).
    * The planner shape under test: Spark must rewrite the per-row
    * scalar subquery into ONE aggregate over lineitem grouped by the
    * correlation key plus an equi-join back to the probe — a per-row
    * re-aggregation (BNLJ / CartesianProduct) would be quadratic in
    * the fact table and is pinned away in PlanSpec. Determinism:
    * l_quantity is integer-valued, so AVG's internal sum is exact in
    * both engines at any shuffle order; the revenue total rides the
    * exact-decimal sum ([[Det]]) with one final cast. */
  val q62SmallQtyRevenue: GraftQuery = {
    // identical text runs in Spark SQL (engine, parser path — the
    // decorrelation is what's under test) and DuckDB (oracle)
    def text(li: String, pa: String) =
      s"""SELECT ${Det.sqlDsum("l.l_extendedprice")} / 7.0 AS avg_yearly,
         |  CAST(COUNT(*) AS BIGINT) AS n_small
         |FROM $li l JOIN $pa p ON p.p_partkey = l.l_partkey
         |WHERE p.p_brand = 'Brand#13'
         |  AND l.l_quantity < (
         |    SELECT 0.2 * AVG(l2.l_quantity) FROM $li l2
         |    WHERE l2.l_partkey = p.p_partkey)""".stripMargin
    q("q62_small_qty_revenue",
      "Q17-style: correlated scalar-AVG threshold, SQL-parser path (decorrelation to one aggregate + equi-join under test)",
      text("lineitem", "part")) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q17")
      Tables.part(s, d).createOrReplaceTempView("part_q17")
      s.sql(text("lineitem_q17", "part_q17"))
    }
  }

  /** TPC-H Q20's decorrelation class: nested IN whose body carries a
    * correlated aggregate on TWO correlation keys — suppliers that
    * shipped a widget part in a quantity above half that
    * (part, supplier) pair's average. Three rewrites must compose:
    * both INs plan as left-semi equi-joins and the two-key correlated
    * scalar-AVG decorrelates to one grouped aggregate joined back on
    * (l_partkey, l_suppkey). PlanSpec pins the no-per-row-subplan
    * shape. Determinism: integer-valued quantities make the AVG exact;
    * output is a key-ordered id/name list. */
  val q63ExcessShipSuppliers: GraftQuery = {
    def text(su: String, na: String, li: String, pa: String) =
      s"""SELECT s.s_suppkey, s.s_name
         |FROM $su s JOIN $na n ON n.n_nationkey = s.s_nationkey
         |WHERE n.n_name LIKE 'NATION!_1%' ESCAPE '!'
         |  AND s.s_suppkey IN (
         |    SELECT l1.l_suppkey FROM $li l1
         |    WHERE l1.l_partkey IN (
         |        SELECT p_partkey FROM $pa WHERE p_name LIKE '%widget%')
         |      AND l1.l_quantity > (
         |        SELECT 0.5 * AVG(l2.l_quantity) FROM $li l2
         |        WHERE l2.l_partkey = l1.l_partkey
         |          AND l2.l_suppkey = l1.l_suppkey))
         |ORDER BY s.s_suppkey""".stripMargin
    q("q63_excess_ship_suppliers",
      "Q20-style: nested IN + two-key correlated aggregate, SQL-parser path (semi joins + decorrelation under test)",
      text("supplier", "nation", "lineitem", "part")) { (s, d) =>
      Tables.supplier(s, d).createOrReplaceTempView("supplier_q20")
      Tables.nation(s, d).createOrReplaceTempView("nation_q20")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q20")
      Tables.part(s, d).createOrReplaceTempView("part_q20")
      s.sql(text("supplier_q20", "nation_q20", "lineitem_q20", "part_q20"))
    }
  }

  val all: Seq[GraftQuery] = Seq(
    df01SnapshotDiff, q54OrcRoundtrip, q57AvroRoundtrip, q55NullAwareAnti,
    nj01ScaleSafeNotIn,
    q56RankStats, q58SoleFaultSupplier, q59TopRevenueSupplier,
    q60CountryCodeProspects, q61MinCostSupplier,
    q62SmallQtyRevenue, q63ExcessShipSuppliers,
    cdc01Scd2Merge,
    ap01ApproxQuantiles, qs01KllQuantiles,
    q47WriteRoundtrip, q48BucketedJoin, q49Compaction,
    q50SchemaMerge, q51IncrementalAgg, q52FromJson, q53TableChecksum,
    cm01CountMin,
    cm02JoinSize, cm03HeavyHitters,
    hll02OracleDistinct,
    hll03SketchRollup, hll04SetAlgebra,
    q29SupplierJoin, q30Percentiles, q31PivotApi, q32Posexplode,
    q33TopKOperator, q34ExceptAll, q35HashSample, q36ArrayFuncs,
    q37IntersectAll, q38ExistsCorrelated, q39FilteredAgg, q40Lateral,
    q41RankFamily, hll01ApproxDistinct, ad01ExactDistinct, ad02ApproxDistinct,
    q01PricingSummary, q02FilterProject, q03GlobalAgg, q04TopK,
    q05JoinBroadcast, q06JoinMultiway, q07SemiJoin, q08AntiJoin,
    q09OuterJoin, q10ThetaJoin, q11GroupHaving, q12Distinct,
    q13Rollup, q14Cube, q15WindowRank, q16WindowRunning, q17LagLead,
    q18Union, q19Intersect, q20Except, q21StringFuncs, q22DateFuncs,
    q23CaseExpr, q24JsonExtract, q25InSubquery, q26ScalarSubquery,
    q27ConditionalPivot, q28GroupingSets)
}
