package graft.operators

import graft.{Det, GraftQuery, Tables}
import graft.GraftQuery.q
import graft.Pin.PinOps
import graft.Det._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Warehouse-maintenance and analytics operators the reference's
  * MapReduce surface cannot express but any production pipeline needs:
  * calendar densification (gap-fill), UNPIVOT, numerically-deterministic
  * moment statistics, MERGE-style upsert, SCD2 history building, and
  * single-pass column profiling.
  *
  * Scale notes (see SCALING.md): every query here is either a map-side
  * transform plus one keyed aggregation, or a single co-partitioned
  * join; none materializes anything driver-side.
  */
object AnalyticsQueries {

  /** Calendar densification: daily revenue over a fixed quarter with
    * zero-filled rows for days that have no orders. The generated
    * calendar is 90 rows (broadcast side); the fact side aggregates
    * BEFORE the join, so the join is tiny×tiny at any corpus scale.
    */
  val q42Gapfill: GraftQuery = q(
    "q42_gapfill",
    "calendar densification / gap-fill (sequence + left join)",
    s"""WITH cal AS (
       |  SELECT CAST(UNNEST(generate_series(DATE '1995-01-01', DATE '1995-03-31',
       |                                     INTERVAL 1 DAY)) AS DATE) AS day),
       |daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders,
       |    ${sqlDsum("o_totalprice")} AS revenue
       |  FROM orders
       |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
       |    AND o_orderdate < TIMESTAMP '1995-04-01'
       |  GROUP BY 1)
       |SELECT cal.day, COALESCE(n_orders, 0) AS n_orders,
       |  COALESCE(revenue, CAST(0 AS DOUBLE)) AS revenue
       |FROM cal LEFT JOIN daily ON cal.day = daily.day
       |ORDER BY cal.day""".stripMargin) { (s, d) =>
    val cal = s.range(1)
      .select(explode(sequence(
        to_date(lit("1995-01-01")), to_date(lit("1995-03-31")),
        expr("interval 1 day"))).as("day"))
    val daily = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1995-04-01").cast(TimestampType))
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
    cal.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"))
      .orderBy("day")
  }

  /** Wide-to-long UNPIVOT via the Dataset `unpivot` API (Catalyst
    * `Unpivot` → `Expand`: map-side row replication, no extra shuffle
    * beyond the feeding aggregation).
    */
  val q43Unpivot: GraftQuery = q(
    "q43_unpivot",
    "UNPIVOT wide metrics to long (Expand, no extra shuffle)",
    s"""WITH wide AS (
       |  SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n_rows,
       |    ${sqlDsum("l_quantity")} AS sum_qty,
       |    ${sqlDsum("l_extendedprice")} AS sum_price
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag, metric, value FROM (
       |  SELECT l_returnflag, 'n_rows' AS metric, n_rows AS value FROM wide
       |  UNION ALL
       |  SELECT l_returnflag, 'sum_qty', sum_qty FROM wide
       |  UNION ALL
       |  SELECT l_returnflag, 'sum_price', sum_price FROM wide) t
       |ORDER BY l_returnflag, metric""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast(DoubleType).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("n_rows"), col("sum_qty"), col("sum_price")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")
  }

  /** Moment statistics (mean/variance/stddev/correlation) computed from
    * exact decimal power sums, with the closed-form arithmetic done in
    * IEEE doubles using an IDENTICAL expression tree on both engines —
    * unlike builtin `stddev`/`corr` whose accumulation order differs per
    * engine. The power sums are one map-side partial aggregation; the
    * closed forms are per-group scalar math on the tiny aggregated
    * result. Outputs quantize to 9dp as `FLOOR(x·1e9 + 0.5) / 1e9` —
    * pure IEEE mul/add/floor/div with the IDENTICAL expression tree on
    * both engines (engine ROUND built-ins are NOT interchangeable:
    * Spark rounds via BigDecimal HALF_UP of the exact double, DuckDB
    * by scaled float arithmetic). The quantization exists because the
    * second-moment decimals exceed 2^53 in scaled-raw form, where
    * DuckDB's decimal→double cast may double-round (int→double, then
    * /10^scale) while the JVM's BigDecimal cast single-rounds — a
    * 1-ulp INPUT divergence observed at sf0.001. NOTE: absorbing a
    * 1-ulp input difference by quantizing is an EMPIRICAL mitigation
    * (two inputs 1 ulp apart could in principle straddle a floor
    * boundary), validated by the cross-scale probes at sf0.001/0.01/
    * 0.1 — it is not a by-construction guarantee; the floor form only
    * removes the ROUND-implementation divergence by construction.
    */
  val q44StatsMoments: GraftQuery = q(
    "q44_stats_moments",
    "deterministic mean/var/stddev/corr from exact power sums",
    """WITH sums AS (
      |  SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      |  FLOOR((sx / n) * 1e9 + 0.5) / 1e9 AS mean_qty,
      |  FLOOR(((sxx - sx * sx / n) / (n - 1)) * 1e9 + 0.5) / 1e9 AS var_qty,
      |  FLOOR(sqrt((sxx - sx * sx / n) / (n - 1)) * 1e9 + 0.5) / 1e9 AS std_qty,
      |  FLOOR(((sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))) * 1e9 + 0.5) / 1e9 AS corr_qty_price
      |FROM sums ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val qty = dec2(col("l_quantity"))
    val price = dec2(col("l_extendedprice"))
    // fanout: five exact-decimal products per row ran serial on the
    // one-task single-file scan; conditional repartition spreads the
    // map work, no-op at cluster scale (see Tables.fanout)
    val sums = Tables.fanout(Tables.lineitem(s, d))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast(DoubleType).as("n"),
        sum(qty).cast(DoubleType).as("sx"),
        sum(qty * qty).cast(DoubleType).as("sxx"),
        sum(price).cast(DoubleType).as("sy"),
        sum(price * price).cast(DoubleType).as("syy"),
        sum(qty * price).cast(DoubleType).as("sxy"))
    val n = col("n"); val sx = col("sx"); val sxx = col("sxx")
    val sy = col("sy"); val syy = col("syy"); val sxy = col("sxy")
    // floor returns LONG in Spark / DOUBLE in DuckDB, but the integral
    // values here are < 2^53 so the long→double widening in the final
    // division is exact — both engines divide the same numerator
    def q9(x: Column): Column = floor(x * lit(1e9) + lit(0.5)) / lit(1e9)
    sums.select(col("l_returnflag"), n.cast(LongType).as("n_rows"),
      q9(sx / n).as("mean_qty"),
      q9((sxx - sx * sx / n) / (n - lit(1))).as("var_qty"),
      q9(sqrt((sxx - sx * sx / n) / (n - lit(1)))).as("std_qty"),
      q9((sxy - sx * sy / n) /
        sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))).as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  /** MERGE-style upsert emulated with one full-outer join: base ∪
    * updates ∪ inserts with per-row provenance. At cluster scale both
    * sides are bucketed on the key, so the join is co-partitioned and
    * shuffle-free; here it is one keyed shuffle join. Exact decimal
    * arithmetic keeps the updated price bit-identical across engines.
    */
  val q45Upsert: GraftQuery = q(
    "q45_upsert",
    "MERGE/upsert via full-outer join with provenance",
    """WITH upd AS (
      |  SELECT o_orderkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(3,2)) AS DOUBLE) AS new_price
      |  FROM orders WHERE o_orderkey % 100 < 10
      |  UNION ALL
      |  SELECT o_orderkey + 10000000 AS k, CAST(100.0 AS DOUBLE) AS new_price
      |  FROM orders WHERE o_orderkey % 500 = 0),
      |merged AS (
      |  SELECT COALESCE(o.o_orderkey, u.k) AS o_orderkey,
      |    COALESCE(u.new_price, o.o_totalprice) AS o_totalprice,
      |    CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
      |         WHEN u.k IS NULL THEN 'kept' ELSE 'updated' END AS src
      |  FROM orders o FULL OUTER JOIN upd u ON o.o_orderkey = u.k)
      |SELECT o_orderkey, o_totalprice, src FROM merged
      |WHERE o_orderkey % 100 < 12 ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val orders = Tables.orders(s, d)
    val upd = orders.filter(col("o_orderkey") % 100 < 10)
      .select(col("o_orderkey").as("k"),
        (dec2(col("o_totalprice")) * lit(1.1).cast(DecimalType(3, 2)))
          .cast(DoubleType).as("new_price"))
      .unionAll(orders.filter(col("o_orderkey") % 500 === 0)
        .select((col("o_orderkey") + 10000000L).as("k"),
          lit(100.0).as("new_price")))
    orders.join(upd, col("o_orderkey") === col("k"), "full_outer")
      .select(coalesce(col("o_orderkey"), col("k")).as("o_orderkey"),
        coalesce(col("new_price"), col("o_totalprice")).as("o_totalprice"),
        when(col("o_orderkey").isNull, "inserted")
          .when(col("k").isNull, "kept").otherwise("updated").as("src"))
      .filter(col("o_orderkey") % 100 < 12)
      .orderBy("o_orderkey")
  }

  /** SCD2 history build: per-customer order states become
    * [valid_from, valid_to) intervals via `lead()` over the customer's
    * history; the open interval is the current row. Partition key is the
    * customer (high cardinality), so window state is bounded per key.
    */
  val q46Scd2: GraftQuery = q(
    "q46_scd2",
    "SCD2 validity intervals via lead() per entity history",
    """SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
      |  LEAD(o_orderdate) OVER (PARTITION BY o_custkey
      |                          ORDER BY o_orderdate, o_orderkey) AS valid_to,
      |  o_totalprice,
      |  CASE WHEN LEAD(o_orderdate) OVER (PARTITION BY o_custkey
      |         ORDER BY o_orderdate, o_orderkey) IS NULL
      |       THEN 1 ELSE 0 END AS is_current
      |FROM orders WHERE o_custkey < 50
      |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d)
      .filter(col("o_custkey") < 50)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").as("valid_from"),
        lead(col("o_orderdate"), 1).over(w).as("valid_to"),
        col("o_totalprice"),
        when(lead(col("o_orderdate"), 1).over(w).isNull, 1).otherwise(0)
          .as("is_current"))
      .orderBy("o_custkey", "valid_from", "o_orderkey")
  }

  /** Single-pass column profiling: counts, null counts, exact distinct
    * counts, and numeric min/max for four columns of `orders` in ONE
    * aggregation (Catalyst plans multi-distinct via Expand + partial
    * agg — one scan, one shuffle), then `stack` to long format.
    */
  val qa01Profile: GraftQuery = q(
    "qa01_profile",
    "single-pass multi-column profiling (Expand multi-distinct)",
    """SELECT col_name, metric, value FROM (
      |  SELECT 'o_orderkey' AS col_name, 'count' AS metric, CAST(COUNT(o_orderkey) AS DOUBLE) AS value FROM orders
      |  UNION ALL SELECT 'o_orderkey', 'distinct', CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) FROM orders
      |  UNION ALL SELECT 'o_orderkey', 'min', CAST(MIN(o_orderkey) AS DOUBLE) FROM orders
      |  UNION ALL SELECT 'o_orderkey', 'max', CAST(MAX(o_orderkey) AS DOUBLE) FROM orders
      |  UNION ALL SELECT 'o_custkey', 'count', CAST(COUNT(o_custkey) AS DOUBLE) FROM orders
      |  UNION ALL SELECT 'o_custkey', 'distinct', CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) FROM orders
      |  UNION ALL SELECT 'o_custkey', 'min', CAST(MIN(o_custkey) AS DOUBLE) FROM orders
      |  UNION ALL SELECT 'o_custkey', 'max', CAST(MAX(o_custkey) AS DOUBLE) FROM orders
      |  UNION ALL SELECT 'o_totalprice', 'count', CAST(COUNT(o_totalprice) AS DOUBLE) FROM orders
      |  UNION ALL SELECT 'o_totalprice', 'distinct', CAST(COUNT(DISTINCT o_totalprice) AS DOUBLE) FROM orders
      |  UNION ALL SELECT 'o_totalprice', 'min', MIN(o_totalprice) FROM orders
      |  UNION ALL SELECT 'o_totalprice', 'max', MAX(o_totalprice) FROM orders
      |  UNION ALL SELECT 'o_orderstatus', 'count', CAST(COUNT(o_orderstatus) AS DOUBLE) FROM orders
      |  UNION ALL SELECT 'o_orderstatus', 'distinct', CAST(COUNT(DISTINCT o_orderstatus) AS DOUBLE) FROM orders) t
      |ORDER BY col_name, metric""".stripMargin) { (s, d) =>
    // fanout: the 4-way multi-distinct plans as a ×4 Expand above the
    // one-task single-file scan — conditional repartition spreads the
    // replicated rows; no-op at cluster scale (see Tables.fanout)
    val wide = Tables.fanout(Tables.orders(s, d)).agg(
      count(col("o_orderkey")).cast(DoubleType).as("ok_count"),
      countDistinct(col("o_orderkey")).cast(DoubleType).as("ok_distinct"),
      min(col("o_orderkey")).cast(DoubleType).as("ok_min"),
      max(col("o_orderkey")).cast(DoubleType).as("ok_max"),
      count(col("o_custkey")).cast(DoubleType).as("ck_count"),
      countDistinct(col("o_custkey")).cast(DoubleType).as("ck_distinct"),
      min(col("o_custkey")).cast(DoubleType).as("ck_min"),
      max(col("o_custkey")).cast(DoubleType).as("ck_max"),
      count(col("o_totalprice")).cast(DoubleType).as("tp_count"),
      countDistinct(col("o_totalprice")).cast(DoubleType).as("tp_distinct"),
      min(col("o_totalprice")).as("tp_min"),
      max(col("o_totalprice")).as("tp_max"),
      count(col("o_orderstatus")).cast(DoubleType).as("st_count"),
      countDistinct(col("o_orderstatus")).cast(DoubleType).as("st_distinct"))
    wide.select(expr(
      """stack(14,
        |  'o_orderkey', 'count', ok_count,
        |  'o_orderkey', 'distinct', ok_distinct,
        |  'o_orderkey', 'min', ok_min,
        |  'o_orderkey', 'max', ok_max,
        |  'o_custkey', 'count', ck_count,
        |  'o_custkey', 'distinct', ck_distinct,
        |  'o_custkey', 'min', ck_min,
        |  'o_custkey', 'max', ck_max,
        |  'o_totalprice', 'count', tp_count,
        |  'o_totalprice', 'distinct', tp_distinct,
        |  'o_totalprice', 'min', tp_min,
        |  'o_totalprice', 'max', tp_max,
        |  'o_orderstatus', 'count', st_count,
        |  'o_orderstatus', 'distinct', st_distinct) AS (col_name, metric, value)
        |""".stripMargin))
      .orderBy("col_name", "metric")
  }

  /** Stratified sampling with per-stratum rates — the corpus-rebalance
    * operator (downsample the over-represented language, keep the
    * rest): membership is a pure per-row predicate on a multiplicative
    * hash of the key, so the sample is deterministic, reproducible
    * across engines AND across runs (no RNG state), and the plan is a
    * filter that pipelines into the scan — no shuffle to sample.
    * Knuth's 2^32/φ multiplier spreads sequential ids uniformly. */
  val st01StratifiedSample: GraftQuery = q(
    "st01_stratified_sample",
    "deterministic per-stratum hash sampling (corpus rebalance)",
    """WITH rated AS (
      |  SELECT lang, doc_id,
      |    (doc_id * 2654435761) % 100 AS bucket,
      |    CASE WHEN lang = 'en' THEN 10 ELSE 50 END AS rate
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      |  CAST(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS achieved_rate
      |FROM rated GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val bucket = (col("doc_id") * lit(2654435761L)) % 100
    val rate = when(col("lang") === "en", 10).otherwise(50)
    val sampled = when(bucket < rate, 1).otherwise(0)
    Tables.documents(s, d)
      .select(col("lang"), sampled.as("s"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        sum(col("s")).cast(LongType).as("n_sampled"),
        (sum(col("s")).cast(DoubleType) / count(lit(1))).as("achieved_rate"))
      .orderBy("lang")
  }

  /** Deterministic train/val/test ASSIGNMENT — the split every training
    * pipeline needs to be reproducible, rerunnable, and joinable: a
    * document's split is a pure function of its id (md5 bucket →
    * 80/10/10 ranges), so any job on any day assigns identically, new
    * documents never move old ones between splits, and "which split is
    * this doc in" is a map-side expression, never a lookup table. The
    * audit emits per-split counts, token mass, and the min/max id span
    * to prove the assignment is interleaved, not contiguous. */
  val st02SplitAssign: GraftQuery = q(
    "st02_split_assign",
    "deterministic hash 80/10/10 train/val/test split with per-split audit",
    """WITH b AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
      |    CAST(CONCAT('0x', SUBSTRING(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
      |  FROM documents),
      |s AS (
      |  SELECT CASE WHEN bucket < 80 THEN 'train'
      |              WHEN bucket < 90 THEN 'val'
      |              ELSE 'test' END AS split, doc_id, n_tokens
      |  FROM b)
      |SELECT split, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM s GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
    val bucket = conv(substring(md5(concat(lit("split:"),
      col("doc_id").cast(StringType))), 1, 8), 16, 10).cast(LongType) % 100
    Tables.documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"),
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test").as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast(LongType).as("n_tokens"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("split")
  }

  /** Data-quality constraint audit — the Deequ-style gate a pipeline
    * runs before publishing a table. One report row per constraint:
    * checked count, violation count, pass verdict. Checks over the
    * same table FUSE into a single scan-and-aggregate pass
    * (conditional sums — three orders checks cost one scan, two
    * lineitem checks one scan); only the referential-integrity checks
    * need a join, and each is a broadcast or shuffle-free semi/anti
    * shape. At 100 TB the audit costs one pass per audited table plus
    * one join per FK — nothing quadratic, nothing driver-side. */
  val dq01QualityAudit: GraftQuery = q(
    "dq01_quality_audit",
    "constraint audit: PK uniqueness, FK integrity, range checks, fused per-table passes",
    """WITH o AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS pk_dup,
      |    SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS bad_price,
      |    SUM(CASE WHEN o_orderdate < DATE '1992-01-01'
      |             OR o_orderdate > DATE '1998-12-31' THEN 1 ELSE 0 END) AS bad_date
      |  FROM orders),
      |l AS (
      |  SELECT COUNT(*) AS n,
      |    SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS bad_qty
      |  FROM lineitem),
      |lfk AS (
      |  SELECT (SELECT COUNT(*) FROM lineitem) AS n,
      |    COUNT(*) AS viol
      |  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
      |cfk AS (
      |  SELECT (SELECT COUNT(*) FROM customer) AS n,
      |    COUNT(*) AS viol
      |  FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)),
      |r AS (
      |  SELECT 'orders_pk_unique' AS check_name, n, pk_dup AS n_viol FROM o
      |  UNION ALL SELECT 'orders_price_positive', n, bad_price FROM o
      |  UNION ALL SELECT 'orders_date_bounds', n, bad_date FROM o
      |  UNION ALL SELECT 'lineitem_qty_range', n, bad_qty FROM l
      |  UNION ALL SELECT 'lineitem_fk_orders', n, viol FROM lfk
      |  UNION ALL SELECT 'customer_fk_nation', n, viol FROM cfk)
      |SELECT check_name, CAST(n AS BIGINT) AS n_checked,
      |  CAST(n_viol AS BIGINT) AS n_viol, n_viol = 0 AS passed
      |FROM r ORDER BY check_name""".stripMargin) { (s, d) =>
    val orders = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val o = orders.agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("pk_dup"),
      sum(when(col("o_totalprice") <= 0, 1).otherwise(0)).as("bad_price"),
      sum(when(col("o_orderdate") < lit("1992-01-01").cast(DateType) ||
        col("o_orderdate") > lit("1998-12-31").cast(DateType), 1)
        .otherwise(0)).as("bad_date"))
      .pinned // 1 row; three report rows read it without rescanning
    val l = li.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1)
        .otherwise(0)).as("bad_qty"))
      .pinned
    val lCnt = li.agg(count(lit(1)).as("n"))
    val lfkViol = li.join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("viol"))
    val cCnt = Tables.customer(s, d).agg(count(lit(1)).as("n"))
    val cfkViol = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"), "left_anti")
      .agg(count(lit(1)).as("viol"))
    def row(name: String, n: Column, viol: Column, src: DataFrame) =
      src.select(lit(name).as("check_name"), n.cast(LongType).as("n_checked"),
        viol.cast(LongType).as("n_viol"))
    row("orders_pk_unique", col("n"), col("pk_dup"), o)
      .unionByName(row("orders_price_positive", col("n"), col("bad_price"), o))
      .unionByName(row("orders_date_bounds", col("n"), col("bad_date"), o))
      .unionByName(row("lineitem_qty_range", col("n"), col("bad_qty"), l))
      .unionByName(row("lineitem_fk_orders", col("n"), col("viol"),
        lCnt.crossJoin(lfkViol)))
      .unionByName(row("customer_fk_nation", col("n"), col("viol"),
        cCnt.crossJoin(cfkViol)))
      .withColumn("passed", col("n_viol") === 0L)
      .orderBy("check_name")
  }

  /** Winsorized (clipped) robust statistics per group. The p05/p95
    * cut points are DISCRETE percentiles — the element at integer rank
    * ceil(q·n), computed with integer arithmetic ((n·5+99) div 100) so
    * both engines pick the identical element; interpolating
    * percentiles and float rank math would both drift cross-engine.
    * The clipped mean then goes through the exact-decimal [[Det]] sum.
    * Shape: the cut points come from [[Rank.discretePercentiles]] —
    * the distributed range-partitioned rank, NOT a `row_number` window
    * over the 3-value flag (that plan sorts the whole table in 3 tasks;
    * flagged as the round-3 scale-killer) — then one broadcast of the
    * 3-row cut-point table and one partial+final agg. */
  // (fanout below: both lineitem passes — the rank shuffle feed and
  // the clip+sum join side — were serial at the one-task single-file
  // scan; conditional repartition is a no-op at cluster scale)
  val ws01Winsorize: GraftQuery = q(
    "ws01_winsorize",
    "winsorized mean via discrete integer-rank percentiles — robust stats, deterministic",
    """WITH r AS (
      |  SELECT l_returnflag AS flag, l_extendedprice AS p,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem),
      |k AS (
      |  SELECT flag,
      |    MAX(CASE WHEN rn = (n * 5 + 99) // 100 THEN p END) AS p05,
      |    MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN p END) AS p95
      |  FROM r GROUP BY flag)
      |SELECT flag, p05, p95,
      |  CAST(SUM(CAST(LEAST(GREATEST(l_extendedprice, p05), p95) AS DECIMAL(12,2))) AS DOUBLE)
      |    / COUNT(*) AS wins_avg,
      |  CAST(SUM(CASE WHEN l_extendedprice < p05 OR l_extendedprice > p95
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
      |FROM lineitem JOIN k ON l_returnflag = flag
      |GROUP BY flag, p05, p95
      |ORDER BY flag""".stripMargin) { (s, d) =>
    val li = Tables.fanout(Tables.lineitem(s, d))
    val k = Rank.discretePercentiles(
      li.select(col("l_returnflag").as("flag"), col("l_extendedprice").as("p")),
      "flag", "p", Seq("p05" -> 5, "p95" -> 95))
    li.join(broadcast(k), col("l_returnflag") === col("flag"))
      .groupBy("flag", "p05", "p95")
      .agg(
        (sum(Det.dec2(least(greatest(col("l_extendedprice"), col("p05")), col("p95"))))
          .cast(DoubleType) / count(lit(1))).as("wins_avg"),
        sum(when(col("l_extendedprice") < col("p05") ||
          col("l_extendedprice") > col("p95"), 1).otherwise(0))
          .cast(LongType).as("n_clipped"))
      .select(col("flag"), col("p05"), col("p95"), col("wins_avg"), col("n_clipped"))
      .orderBy("flag")
  }

  /** Time-series linear interpolation — q42 zero-fills gaps, this
    * interpolates them between the surrounding observed days (the
    * standard TSDB `interpolate()`; boundary gaps carry the nearest
    * observed value). A sparse series is forced with a key modulus so
    * gaps genuinely exist at every SF. The window runs over the
    * 90-row densified calendar, not the fact table — the fact side
    * aggregates FIRST, so the single-partition window is bounded by
    * the calendar length at any corpus scale (the tx15 rule).
    * Determinism: day distances are exact integers and the one
    * interpolation expression evaluates in the same IEEE op order in
    * both engines. */
  val it01Interpolate: GraftQuery = q(
    "it01_interpolate",
    "linear-interpolation gap fill over a densified calendar (TSDB interpolate())",
    s"""WITH cal AS (
       |  SELECT CAST(UNNEST(generate_series(DATE '1995-01-01', DATE '1995-03-31',
       |                                     INTERVAL 1 DAY)) AS DATE) AS day),
       |daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day, ${sqlDsum("o_totalprice")} AS rev
       |  FROM orders
       |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
       |    AND o_orderdate < TIMESTAMP '1995-04-01'
       |    AND o_orderkey % 101 = 0
       |  GROUP BY 1),
       |j AS (SELECT cal.day, rev FROM cal LEFT JOIN daily ON cal.day = daily.day),
       |f AS (
       |  SELECT day, rev,
       |    LAST_VALUE(CASE WHEN rev IS NOT NULL THEN day END IGNORE NULLS)
       |      OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
       |    LAST_VALUE(CASE WHEN rev IS NOT NULL THEN rev END IGNORE NULLS)
       |      OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
       |    FIRST_VALUE(CASE WHEN rev IS NOT NULL THEN day END IGNORE NULLS)
       |      OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
       |    FIRST_VALUE(CASE WHEN rev IS NOT NULL THEN rev END IGNORE NULLS)
       |      OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
       |  FROM j)
       |SELECT day, rev IS NOT NULL AS observed,
       |  CASE WHEN rev IS NOT NULL THEN rev
       |       WHEN pd IS NULL THEN nv
       |       WHEN nd IS NULL THEN pv
       |       ELSE pv + (nv - pv) *
       |         (CAST(DATE_DIFF('day', pd, day) AS DOUBLE) /
       |          CAST(DATE_DIFF('day', pd, nd) AS DOUBLE)) END AS filled
       |FROM f ORDER BY day""".stripMargin) { (s, d) =>
    val cal = s.range(1)
      .select(explode(sequence(
        to_date(lit("1995-01-01")), to_date(lit("1995-03-31")),
        expr("interval 1 day"))).as("day"))
    val daily = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1995-04-01").cast(TimestampType) &&
        col("o_orderkey") % 101 === 0)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(dsum(col("o_totalprice")).as("rev"))
    val j = cal.join(daily, Seq("day"), "left")
    val wPrev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    val obsDay = when(col("rev").isNotNull, col("day"))
    val obsRev = when(col("rev").isNotNull, col("rev"))
    val f = j
      .withColumn("pd", last(obsDay, ignoreNulls = true).over(wPrev))
      .withColumn("pv", last(obsRev, ignoreNulls = true).over(wPrev))
      .withColumn("nd", first(obsDay, ignoreNulls = true).over(wNext))
      .withColumn("nv", first(obsRev, ignoreNulls = true).over(wNext))
    f.select(col("day"), col("rev").isNotNull.as("observed"),
        when(col("rev").isNotNull, col("rev"))
          .when(col("pd").isNull, col("nv"))
          .when(col("nd").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            (datediff(col("day"), col("pd")).cast(DoubleType) /
              datediff(col("nd"), col("pd")).cast(DoubleType)))
          .as("filled"))
      .orderBy("day")
  }

  /** Sampling-plan apportionment — the largest-remainder (Hamilton)
    * method: a target budget of 100 documents is split across sources
    * proportionally, floors first, then the leftover seats go to the
    * largest remainders (ties to the lexicographically first source).
    * All integer arithmetic, so the plan is exactly reproducible and
    * Σ quota = target BY CONSTRUCTION — the apportionment law a
    * sampling plan must satisfy (CurationSpec pins it). Selection is
    * then deterministic per source: the quota's worth of docs in
    * md5(doc_id) order, a per-source window whose partition count
    * equals the source count (bounded, parallel) — never a global
    * sort. The audit reports quota vs selected vs token mass. */
  val st03QuotaAlloc: GraftQuery = q(
    "st03_quota_alloc",
    "largest-remainder sampling quotas + deterministic hash-order selection",
    """WITH per AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |tot AS (SELECT SUM(n_docs) AS t FROM per),
      |base AS (
      |  SELECT source, n_docs, (100 * n_docs) // t AS base, (100 * n_docs) % t AS rem
      |  FROM per CROSS JOIN tot),
      |lo AS (SELECT 100 - SUM(base) AS leftover FROM base),
      |quota AS (
      |  SELECT source, n_docs,
      |    base + (CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
      |                      <= (SELECT leftover FROM lo) THEN 1 ELSE 0 END) AS quota
      |  FROM base),
      |sel AS (
      |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |SELECT q.source, q.n_docs, CAST(q.quota AS BIGINT) AS quota,
      |  CAST(COUNT(s.doc_id) AS BIGINT) AS n_selected,
      |  CAST(COALESCE(SUM(s.n_tok), 0) AS BIGINT) AS sel_tokens
      |FROM quota q LEFT JOIN sel s ON s.source = q.source AND s.rn <= q.quota
      |GROUP BY q.source, q.n_docs, q.quota ORDER BY q.source""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val per = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val tot = per.agg(sum(col("n_docs")).as("t"))
    val base = per.crossJoin(broadcast(tot))
      .withColumn("base", expr("(100 * n_docs) div t"))
      .withColumn("rem", expr("(100 * n_docs) % t"))
    val leftover = base.agg((lit(100) - sum(col("base"))).as("leftover"))
    val quota = base.crossJoin(broadcast(leftover))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("rem").desc, col("source"))))
      .withColumn("quota",
        (col("base") + when(col("rk") <= col("leftover"), 1).otherwise(0))
          .cast(LongType))
      .select(col("source"), col("n_docs"), col("quota"))
    val sel = docs
      .select(col("source").as("s_source"), col("doc_id"),
        size(split(col("text"), " ")).as("n_tok"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("s_source"))
          .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))))
    quota.join(sel,
        col("s_source") === col("source") && col("rn") <= col("quota"), "left")
      .groupBy("source", "n_docs", "quota")
      .agg(count(col("doc_id")).as("n_selected"),
        coalesce(sum(col("n_tok")), lit(0)).cast(LongType).as("sel_tokens"))
      .orderBy("source")
  }

  /** Weighted sampling without replacement via PRIORITY SAMPLING
    * (Duffield–Lund–Thorup, JACM 2007): each row gets priority
    * q = w / u with u uniform, and the k highest priorities form the
    * sample — inclusion probability ∝ weight, one pass, no rejection
    * loop. Here u is a deterministic 32-bit md5 draw and the priority
    * is the exact integer `w·2³² div (u+1)` (w = n_chars ≤ 10⁴, so the
    * product is < 2⁴⁶ — no overflow, no floats, hash-exact ranking).
    *
    * Scale shape: priorities are a map-side expression; top-k plans as
    * TakeOrderedAndProject — a size-k heap per partition, k rows per
    * partition to the driver merge — so the corpus is never sorted and
    * never shuffled. The 100 TB cost is the scan itself; this is how a
    * pipeline draws a weight-proportional eval slice from the full
    * corpus in one pass. */
  val wt01WeightedSample: GraftQuery = q(
    "wt01_weighted_sample",
    "priority sampling: weight-proportional top-k draw, integer priorities, one pass",
    """WITH p AS (
      |  SELECT doc_id, n_chars,
      |    n_chars * 4294967296 //
      |      (CAST(CONCAT('0x', SUBSTRING(md5('wt:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
      |      AS priority
      |  FROM documents)
      |SELECT doc_id, n_chars, priority
      |FROM p ORDER BY priority DESC, doc_id LIMIT 50""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        expr(
          """n_chars * 4294967296 div
            |  (cast(conv(substring(md5(concat('wt:', cast(doc_id as string))), 1, 8),
            |             16, 10) as bigint) + 1)""".stripMargin).as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(50)
  }

  /** Time-series LOCF resampling: project every user's purchase
    * `value` onto a regular 6-hour grid, carrying the last observation
    * forward (the TSDB `resample ... fill(previous)` / pandas
    * `resample().ffill()` shape — how a feature store snapshots
    * slowly-changing per-entity state at training-example timestamps).
    * Composes the engine's as-of join ([[AsofJoin.backward]]): the
    * grid×user point set is the left side, purchases the right, so the
    * whole resample is ONE shuffle on user_id + one partition-local
    * sort — no per-point probe, no correlated subquery at runtime (the
    * oracle spells the same semantics with one, tie-broken identically
    * on event_id).
    *
    * Scale shape: the grid is span-bounded (~120 points), built once
    * and cross-joined to the distinct-user frame as a broadcast — the
    * output is |users|×|grid| rows, linear in users; the as-of union
    * then shuffles points + purchases together exactly once. */
  val it02LocfResample: GraftQuery = q(
    "it02_locf_resample",
    "LOCF grid resampling via as-of join (feature-store snapshotting)",
    """WITH span AS (
      |  SELECT date_trunc('day', MIN(ts)) AS t0, MAX(ts) AS t1 FROM events),
      |grid AS (
      |  SELECT UNNEST(generate_series(t0, t1, INTERVAL 6 HOUR)) AS gts FROM span),
      |pts AS (
      |  SELECT user_id, gts
      |  FROM (SELECT DISTINCT user_id FROM events) CROSS JOIN grid),
      |pur AS (
      |  SELECT user_id, ts, value, event_id FROM events
      |  WHERE event_type = 'purchase')
      |SELECT p.user_id, p.gts,
      |  (SELECT pr.value FROM pur pr
      |   WHERE pr.user_id = p.user_id AND pr.ts <= p.gts
      |   ORDER BY pr.ts DESC, pr.event_id DESC LIMIT 1) AS locf_value
      |FROM pts p ORDER BY user_id, gts""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val grid = ev
      .agg(date_trunc("day", min(col("ts"))).as("t0"), max(col("ts")).as("t1"))
      .select(explode(sequence(col("t0"), col("t1"),
        expr("interval 6 hours"))).as("gts"))
    val pts = ev.select(col("user_id")).distinct()
      .crossJoin(broadcast(grid))
    val pur = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"), col("event_id"))
    AsofJoin.backward(pts, pur,
      key = "user_id", leftTime = "gts", rightTime = "ts",
      payloadCols = Seq("value"), tiebreak = "event_id")
      .select(col("user_id"), col("gts"), col("__asof.value").as("locf_value"))
      .orderBy("user_id", "gts")
  }

  /** Exact k-per-group uniform sampling — the distributed equivalent of
    * per-stratum reservoir sampling, without reservoir state: assign
    * every row a uniform priority (md5 of a seeded key — a pure
    * function, so the sample is reproducible across engines, runs, and
    * retries) and keep the k SMALLEST priorities per group. Selecting
    * bottom-k-by-uniform-priority is distributionally identical to a
    * k-row reservoir pass, but it parallelizes trivially: here it runs
    * through the custom [[graft.plans.TopKPerGroup]] operator
    * (ascending mode), so each map task forwards at most k rows per
    * source and nothing is ever fully sorted. At 100 TB: one map pass
    * + a k-bounded shuffle of k·n_sources rows — the window idiom
    * would sort every row of every stratum. */
  val rs01ReservoirSample: GraftQuery = q(
    "rs01_reservoir_sample",
    "exact k-per-stratum uniform sample: bottom-k seeded-hash priority via the TopK operator",
    """SELECT source, doc_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY source
      |    ORDER BY md5('rs:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
      |FROM documents
      |QUALIFY rn <= 10
      |ORDER BY source, rn""".stripMargin) { (s, d) =>
    val pri = md5(concat(lit("rs:"), col("doc_id").cast(StringType)))
    val sampled = graft.plans.TopKPerGroup.perGroup(
      Tables.documents(s, d).select(col("source"), col("doc_id"), pri.as("pri")),
      Seq(col("source")),
      struct(col("pri"), col("doc_id")),
      k = 10, desc = false)
    // rank within the k-bounded result (≤ k rows per source)
    sampled
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("pri"), col("doc_id")))
        .cast(LongType))
      .select("source", "doc_id", "rn")
      .orderBy("source", "rn")
  }

  /** Market-basket association rules (support / lift) — the
    * co-occurrence miner over order baskets. The pair generator is a
    * self-equi-join on the basket key of the DISTINCT (basket, item)
    * frame, so its output is bounded by Σ choose(basket_size, 2) —
    * basket sizes are small and bounded by the domain (≤13 items
    * here; a real pipeline caps outlier baskets first), never by
    * corpus size, so the join scales linearly with baskets. Item
    * frequencies live in an items-cardinality frame (≤ |parts| rows →
    * broadcast), basket count is one broadcast row; lift is then one
    * exact-integer-product divide per pair. Top-20 by support plans as
    * TakeOrderedAndProject (k-bounded heaps). */
  val mb01MarketBasket: GraftQuery = q(
    "mb01_market_basket",
    "association rules over order baskets: bounded pair self-join, broadcast margins, lift",
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM items),
      |freq AS (SELECT l_partkey, COUNT(*) AS n_item FROM items GROUP BY 1),
      |pairs AS (
      |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_pair
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 3)
      |SELECT part_a, part_b, n_pair,
      |  CAST(n_pair AS DOUBLE) / CAST(n.n_baskets AS DOUBLE) AS support,
      |  CAST(n_pair * n.n_baskets AS DOUBLE)
      |    / CAST(fa.n_item * fb.n_item AS DOUBLE) AS lift
      |FROM pairs
      |CROSS JOIN n
      |JOIN freq fa ON fa.l_partkey = part_a
      |JOIN freq fb ON fb.l_partkey = part_b
      |ORDER BY n_pair DESC, part_a, part_b LIMIT 20""".stripMargin) { (s, d) =>
    // fanout: the one-task single-file scan fed the partial-distinct
    // serially; conditional repartition spreads it (no-op at scale)
    val items = Tables.fanout(Tables.lineitem(s, d))
      .select("l_orderkey", "l_partkey").distinct().pinned // 3 consumers
    // (r17 probe: eagerly forcing the pin with items.count() measured
    // 1.13x WORSE min-of-5 — the block manager already serializes
    // concurrent readers of a computing partition, so the extra job
    // is pure cost; reverted)
    val nBaskets = items.agg(
      countDistinct(col("l_orderkey")).as("n_baskets"))
    val freq = items.groupBy("l_partkey")
      .agg(count(lit(1)).as("n_item"))
    // Apriori item pruning — LOSSLESS, so the oracle needs no mirror:
    // a pair can reach support >= 3 only if BOTH items do, so items
    // below the floor never enter the pair self-join. On a long-tail
    // item catalog this removes most of the pair-generation volume
    // before the shuffle (the |parts|-bounded frequent-item list probes
    // as a semi join); on dense replicas it is a no-op by data.
    val frequent = items.join(
      freq.filter(col("n_item") >= 3).select("l_partkey"),
      "l_partkey", "left_semi")
    val a = frequent.select(col("l_orderkey"), col("l_partkey").as("part_a"))
    val b = frequent.select(col("l_orderkey").as("ok2"), col("l_partkey").as("part_b"))
    val pairs = a.join(b,
        col("l_orderkey") === col("ok2") && col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 3)
    // NOTE: the freq margins are |parts|-bounded, which still GROWS
    // with the corpus — so no broadcast hint (the engine-wide guard:
    // size-based planning/AQE broadcasts them while they fit, and
    // degrades to a shuffle join at real scale instead of an OOM).
    // Only the provably-1-row basket count is hint-broadcast.
    pairs
      .crossJoin(broadcast(nBaskets))
      .join(freq.select(col("l_partkey").as("part_a"),
        col("n_item").as("na")), "part_a")
      .join(freq.select(col("l_partkey").as("part_b"),
        col("n_item").as("nb")), "part_b")
      .select(col("part_a"), col("part_b"), col("n_pair"),
        (col("n_pair").cast(DoubleType) / col("n_baskets").cast(DoubleType))
          .as("support"),
        ((col("n_pair") * col("n_baskets")).cast(DoubleType)
          / (col("na") * col("nb")).cast(DoubleType)).as("lift"))
      .orderBy(col("n_pair").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  /** POINT-IN-TIME-CORRECT feature assembly — the feature-store join
    * that prevents label leakage: for every training example (an
    * event), compute each user's order history features AS OF the
    * event instant (orders after the event must not leak in, orders at
    * exactly the event time count — the as-of family's inclusive-≤
    * contract). A naive per-example correlated lookup is O(examples ×
    * history); this runs as ONE union-tag-sort pass per user — the
    * same single-shuffle shape as [[AsofJoin]], but carrying RUNNING
    * AGGREGATES (count, exact-decimal spend, max order time) instead
    * of a latest-payload carry, so every example reads its whole
    * prefix history at once. Determinism: the running sums are exact
    * decimals/integers, so both engines' window-accumulation
    * strategies (sequential vs segment tree) produce identical values;
    * the oracle is the independent correlated-subquery formulation —
    * two different algorithms agreeing bit-for-bit. */
  val pit01PointInTime: GraftQuery = q(
    "pit01_point_in_time",
    "point-in-time training features: one sorted pass per user, no label leakage",
    """SELECT e.event_id, e.user_id,
      |  (SELECT COUNT(*) FROM orders o
      |   WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) AS n_orders_before,
      |  CAST(COALESCE((SELECT SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) FROM orders o
      |   WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts), 0) AS DOUBLE) AS spend_before,
      |  (SELECT (epoch_us(e.ts) - epoch_us(MAX(o.o_orderdate))) // 86400000000 FROM orders o
      |   WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) AS days_since_last
      |FROM events e WHERE e.event_id < 500
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val events = Tables.events(s, d).filter(col("event_id") < 500)
      .select(col("event_id"), col("user_id"), col("ts"))
    val orders = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    // orders whose user never appears in the sample can't contribute
    val ordPruned = orders.join(
      events.select(col("user_id").as("__k")).distinct(),
      col("o_custkey") === col("__k"), "left_semi")
    val l = events.select(col("user_id").as("__key"),
      col("ts").cast(TimestampType).as("__t"), lit(1).as("__tag"),
      col("event_id"), lit(null).cast(DecimalType(12, 2)).as("__price"))
    val r = ordPruned.select(col("o_custkey").as("__key"),
      col("o_orderdate").cast(TimestampType).as("__t"), lit(0).as("__tag"),
      lit(null).cast(LongType).as("event_id"),
      Det.dec2(col("o_totalprice")).as("__price"))
    // order rows sort before event rows at equal time → inclusive ≤
    val w = Window.partitionBy(col("__key"))
      .orderBy(col("__t"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__n", sum(when(col("__tag") === 0, 1L).otherwise(0L)).over(w))
      .withColumn("__spend", sum(col("__price")).over(w))
      .withColumn("__last", max(when(col("__tag") === 0, col("__t"))).over(w))
      .filter(col("__tag") === 1)
      .select(col("event_id"), col("__key").as("user_id"),
        col("__n").as("n_orders_before"),
        coalesce(col("__spend"), lit(BigDecimal("0.00")).cast(DecimalType(12, 2)))
          .cast(DoubleType).as("spend_before"),
        expr("(unix_micros(__t) - unix_micros(__last)) div 86400000000")
          .as("days_since_last"))
      .orderBy("event_id")
  }

  /** Distribution-drift audit between two corpus snapshots — the
    * check a training pipeline runs before admitting a new crawl:
    * per source, compare the doc-length histogram of snapshot A
    * against snapshot B and report total-variation distance. The
    * epoch split is md5-parity of doc_id (the st02 deterministic-hash
    * idiom) — a plain `doc_id % 2` would alias with the generator's
    * round-robin source assignment and leave every source entirely in
    * one epoch. TVD is computed EXACTLY in
    * integers — Σ|ca·nb − cb·na| over bins, divided once at the end
    * by 2·na·nb — so both engines hash identically (no per-bin float
    * ratios, the ws01/ev09 discrete-exactness discipline). Scale
    * shape: one map pass (bin id is map-side arithmetic) into a
    * partial-aggregated groupBy on (source, bin); everything after
    * lives on a sources×bins frame (~tens of rows at any corpus
    * size), so the drift math itself is free. */
  val dr01DistributionDrift: GraftQuery = q(
    "dr01_distribution_drift",
    "per-source snapshot drift: exact-integer total-variation distance over length bins",
    """WITH b AS (
      |  SELECT source, LEAST(n_chars // 100, 5) AS bin,
      |    CAST(CONCAT('0x', SUBSTRING(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0 AS isa
      |  FROM documents),
      |binned AS (
      |  SELECT source, bin,
      |    CAST(COUNT(*) FILTER (isa) AS BIGINT) AS ca,
      |    CAST(COUNT(*) FILTER (NOT isa) AS BIGINT) AS cb
      |  FROM b GROUP BY source, bin),
      |tot AS (
      |  SELECT source, CAST(SUM(ca) AS BIGINT) AS na,
      |    CAST(SUM(cb) AS BIGINT) AS nb
      |  FROM binned GROUP BY source)
      |SELECT b.source, t.na, t.nb,
      |  CAST(SUM(ABS(b.ca * t.nb - b.cb * t.na)) AS BIGINT) AS drift_num,
      |  CAST(SUM(ABS(b.ca * t.nb - b.cb * t.na)) AS DOUBLE)
      |    / CAST(2 * t.na * t.nb AS DOUBLE) AS tvd
      |FROM binned b JOIN tot t USING (source)
      |GROUP BY b.source, t.na, t.nb ORDER BY b.source""".stripMargin) { (s, d) =>
    val epoch = conv(substring(md5(concat(lit("epoch:"),
      col("doc_id").cast(StringType))), 1, 8), 16, 10).cast(LongType) % 2
    val b = Tables.documents(s, d).select(
      col("source"),
      least(expr("n_chars div 100"), lit(5L)).as("bin"),
      (epoch === 0).as("isa"))
    val binned = b.groupBy(col("source"), col("bin")).agg(
      sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
      sum(when(!col("isa"), 1L).otherwise(0L)).as("cb"))
    val tot = binned.groupBy(col("source")).agg(
      sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    binned.join(tot, Seq("source"))
      .groupBy(col("source"), col("na"), col("nb"))
      .agg(sum(abs(col("ca") * col("nb") - col("cb") * col("na")))
        .as("drift_num"))
      .select(col("source"), col("na"), col("nb"), col("drift_num"),
        (col("drift_num").cast(DoubleType) /
          (lit(2L) * col("na") * col("nb")).cast(DoubleType)).as("tvd"))
      .orderBy("source")
  }

  /** Pareto frontier (skyline): the (quantity, price) points no other
    * point dominates — better quantity at no-worse price. The corpus-
    * wide work is ONE partial-aggregated groupBy collapsing lineitem
    * to its value domain (≤50 distinct quantities — min is exact on
    * doubles, no accumulation drift); dominance is then an anti-join
    * of that bounded frame against its broadcast self, never a pass
    * over fact rows. At 100 TB the aggregate output is still ≤ the
    * quantity domain, so the skyline step is scale-invariant — the
    * standard trick for skylines over low-dimensional discrete axes. */
  val pa01Skyline: GraftQuery = q(
    "pa01_skyline",
    "Pareto frontier: undominated (quantity, best-price) points via bounded anti-join",
    """WITH m AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS qty,
      |    MIN(l_extendedprice) AS best_price,
      |    COUNT(*) AS n_rows
      |  FROM lineitem GROUP BY 1)
      |SELECT a.qty, a.best_price, a.n_rows FROM m a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM m b
      |  WHERE b.qty > a.qty AND b.best_price <= a.best_price)
      |ORDER BY a.qty""".stripMargin) { (s, d) =>
    val m = Tables.lineitem(s, d)
      .groupBy(col("l_quantity").cast(LongType).as("qty"))
      .agg(min(col("l_extendedprice")).as("best_price"),
        count(lit(1)).as("n_rows"))
    val dom = m.select(col("qty").as("bq"), col("best_price").as("bp"))
    m.join(broadcast(dom),
        col("bq") > col("qty") && col("bp") <= col("best_price"), "left_anti")
      .orderBy("qty")
  }

  /** Incremental view maintenance for a JOIN — the q51 discipline
    * (incremental ≡ recompute, audited in the result) applied to the
    * enrichment join a feature pipeline keeps materialized. Standing
    * state: J_old = R0 ⋈ S0 (orders × customer). A new order batch ΔR
    * and a customer upsert batch ΔS arrive; the incremental update is
    *   J_inc = (J_old ∖ rows keyed by ΔS) ∪ (R0 ⋈ ΔS) ∪ (ΔR ⋈ S1)
    * — delete-then-reinsert for updated dimension keys, plus the new
    * fact rows against the post-upsert dimension. The report joins
    * per-segment counts from the incremental result, the full
    * recompute, and their EXCEPT ALL mismatch (provably 0 rows).
    * Scale: both deltas are small by construction (real IVM's |Δ| ≪
    * |base|), so every incremental leg is a broadcast-delta join or a
    * broadcast-keyed anti-join — the standing snapshot is never
    * reshuffled; the full recompute exists only for the audit. */
  val iv01IncrementalJoin: GraftQuery = q(
    "iv01_incremental_join",
    "incremental join maintenance: delete/reinsert for dim upserts + fact delta, audited vs recompute",
    """WITH r0 AS (SELECT * FROM orders WHERE o_orderkey % 5 <> 0),
      |dr AS (SELECT * FROM orders WHERE o_orderkey % 5 = 0),
      |ds AS (
      |  SELECT c_custkey, 'UPDATED' AS c_mktsegment FROM customer
      |  WHERE c_custkey % 10 = 0),
      |s1 AS (
      |  SELECT c.c_custkey,
      |    COALESCE(d.c_mktsegment, c.c_mktsegment) AS c_mktsegment
      |  FROM customer c LEFT JOIN ds d ON d.c_custkey = c.c_custkey),
      |j_old AS (
      |  SELECT o_orderkey, o_custkey, c_mktsegment, o_totalprice
      |  FROM r0 JOIN customer ON c_custkey = o_custkey),
      |j_inc AS (
      |  SELECT * FROM j_old
      |  WHERE o_custkey NOT IN (SELECT c_custkey FROM ds)
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, d.c_mktsegment, o_totalprice
      |  FROM r0 JOIN ds d ON d.c_custkey = o_custkey
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, s1.c_mktsegment, o_totalprice
      |  FROM dr JOIN s1 ON s1.c_custkey = o_custkey),
      |j_full AS (
      |  SELECT o_orderkey, o_custkey, c_mktsegment, o_totalprice
      |  FROM orders JOIN s1 ON s1.c_custkey = o_custkey),
      |mism AS (
      |  SELECT c_mktsegment, COUNT(*) AS n_mismatch FROM (
      |    SELECT * FROM j_inc EXCEPT ALL SELECT * FROM j_full
      |    UNION ALL
      |    SELECT * FROM j_full EXCEPT ALL SELECT * FROM j_inc) x
      |  GROUP BY c_mktsegment),
      |ia AS (SELECT c_mktsegment, COUNT(*) AS n_inc FROM j_inc GROUP BY 1),
      |fa AS (SELECT c_mktsegment, COUNT(*) AS n_full FROM j_full GROUP BY 1)
      |SELECT ia.c_mktsegment, ia.n_inc, fa.n_full,
      |  COALESCE(m.n_mismatch, 0) AS n_mismatch
      |FROM ia JOIN fa USING (c_mktsegment)
      |LEFT JOIN mism m USING (c_mktsegment)
      |ORDER BY ia.c_mktsegment""".stripMargin) { (s, d) =>
    val orders = Tables.orders(s, d)
    val customer = Tables.customer(s, d)
    val r0 = orders.filter(col("o_orderkey") % 5 =!= 0)
    val dr = orders.filter(col("o_orderkey") % 5 === 0)
    val ds = customer.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), lit("UPDATED").as("c_mktsegment"))
    val s1 = customer.select(col("c_custkey"), col("c_mktsegment"))
      .join(ds.select(col("c_custkey"), col("c_mktsegment").as("upd")),
        Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("upd"), col("c_mktsegment")).as("c_mktsegment"))
    def enrich(facts: DataFrame, dim: DataFrame): DataFrame =
      facts.join(dim, col("c_custkey") === col("o_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"),
          col("o_totalprice"))
    val jOld = enrich(r0, customer.select(col("c_custkey"), col("c_mktsegment")))
    val jInc = jOld
      .join(broadcast(ds.select(col("c_custkey").as("o_custkey"))),
        Seq("o_custkey"), "left_anti")
      .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"),
        col("o_totalprice"))
      .unionAll(enrich(r0, broadcast(ds)))
      .unionAll(enrich(dr, s1))
    val jFull = enrich(orders, s1)
    val mism = jInc.exceptAll(jFull).unionAll(jFull.exceptAll(jInc))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_mismatch"))
    val ia = jInc.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_inc"))
    val fa = jFull.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_full"))
    ia.join(fa, Seq("c_mktsegment"))
      .join(mism, Seq("c_mktsegment"), "left")
      .na.fill(0L, Seq("n_mismatch"))
      .orderBy("c_mktsegment")
  }

  /** Incremental view maintenance for an AGGREGATE — iv01's discipline
    * applied to the materialized rollup a reporting pipeline keeps: per
    * (priority, year) order counts and exact-decimal revenue. Standing
    * state A_old = γ(B). One maintenance batch arrives with BOTH delta
    * signs: Δ⁻ purges an entire cohort (every 1996 1-URGENT order — the
    * GDPR-delete shape) plus a scattered slice (orderkey % 11 = 0), and
    * Δ⁺ inserts the new-order batch (orderkey % 7 = 0, outside the
    * purged cohort). The maintained result is
    *   A_new = A_old ⊕ γ(Δ⁺) ⊖ γ(Δ⁻)
    * — a full-outer merge on the group key with coalesced count/sum
    * arithmetic and COUNT-ZERO ELIMINATION: a group whose maintained
    * count reaches 0 (the purged cohort) must DISAPPEAR, the classic
    * multiset-IVM subtlety a naive merge gets wrong (it would emit the
    * group with n=0 and sum=0). The audit recomputes γ((B∖Δ⁻)∪Δ⁺) and
    * counts EXCEPT ALL mismatches per group — provably 0.
    *
    * Scale: γ partials are map-side combinable, the three agg frames
    * are keyspace-sized (≤ |priorities|·|years| rows at ANY corpus
    * size), and the merge joins those bounded frames — fact rows are
    * touched once by each γ and never by the merge. At 100 TB the
    * maintained table updates in O(|Δ| + keyspace), which is the whole
    * point of aggregate IVM; the full recompute here exists only as
    * the audit. Sums ride DECIMAL(12,2) (Det.dec2) end to end so the
    * ⊕/⊖ arithmetic is exact and the final double cast is one rounding
    * in both engines. */
  val av01IncrementalAgg: GraftQuery = q(
    "av01_incremental_agg",
    "incremental aggregate maintenance: cohort purge + insert batch, count-zero elimination, audited vs recompute",
    """WITH b AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
      |del AS (
      |  SELECT * FROM b
      |  WHERE (o_orderpriority = '1-URGENT'
      |         AND EXTRACT(year FROM o_orderdate) = 1996)
      |     OR o_orderkey % 11 = 0),
      |ins AS (
      |  SELECT * FROM orders
      |  WHERE o_orderkey % 7 = 0
      |    AND NOT (o_orderpriority = '1-URGENT'
      |             AND EXTRACT(year FROM o_orderdate) = 1996)),
      |a_old AS (
      |  SELECT o_orderpriority AS pri, EXTRACT(year FROM o_orderdate) AS yr,
      |    COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      |  FROM b GROUP BY 1, 2),
      |a_ins AS (
      |  SELECT o_orderpriority AS pri, EXTRACT(year FROM o_orderdate) AS yr,
      |    COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      |  FROM ins GROUP BY 1, 2),
      |a_del AS (
      |  SELECT o_orderpriority AS pri, EXTRACT(year FROM o_orderdate) AS yr,
      |    COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      |  FROM del GROUP BY 1, 2),
      |merged AS (
      |  SELECT COALESCE(o.pri, i.pri, d.pri) AS pri,
      |    COALESCE(o.yr, i.yr, d.yr) AS yr,
      |    COALESCE(o.n, 0) + COALESCE(i.n, 0) - COALESCE(d.n, 0) AS n,
      |    COALESCE(o.rev, 0) + COALESCE(i.rev, 0) - COALESCE(d.rev, 0) AS rev
      |  FROM a_old o
      |  FULL OUTER JOIN a_ins i ON i.pri = o.pri AND i.yr = o.yr
      |  FULL OUTER JOIN a_del d
      |    ON d.pri = COALESCE(o.pri, i.pri) AND d.yr = COALESCE(o.yr, i.yr)),
      |a_new AS (SELECT * FROM merged WHERE n > 0),
      |a_full AS (
      |  SELECT o_orderpriority AS pri, EXTRACT(year FROM o_orderdate) AS yr,
      |    COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      |  FROM (SELECT * FROM b
      |        EXCEPT ALL SELECT * FROM del
      |        UNION ALL SELECT * FROM ins) x
      |  GROUP BY 1, 2),
      |mism AS (
      |  SELECT pri, yr, COUNT(*) AS n_mismatch FROM (
      |    SELECT * FROM a_new EXCEPT ALL SELECT * FROM a_full
      |    UNION ALL
      |    SELECT * FROM a_full EXCEPT ALL SELECT * FROM a_new) x
      |  GROUP BY pri, yr)
      |SELECT a.pri, CAST(a.yr AS BIGINT) AS yr, CAST(a.n AS BIGINT) AS n,
      |  CAST(a.rev AS DOUBLE) AS rev,
      |  CAST(COALESCE(m.n_mismatch, 0) AS BIGINT) AS n_mismatch
      |FROM a_new a LEFT JOIN mism m ON m.pri = a.pri AND m.yr = a.yr
      |ORDER BY a.pri, a.yr""".stripMargin) { (s, d) =>
    // (no fanout here: the EXCEPT ALL audit shuffles FULL-width order
    // rows, so an extra spread exchange of the same width measured
    // net-negative — r16 probe; the γ map sides are cheap sums)
    val orders = Tables.orders(s, d)
    val purged = col("o_orderpriority") === "1-URGENT" &&
      year(col("o_orderdate")) === 1996
    val b = orders.filter(col("o_orderkey") % 7 =!= 0)
    val del = b.filter(purged || col("o_orderkey") % 11 === 0)
    val ins = orders.filter(col("o_orderkey") % 7 === 0 && !purged)
    def gamma(df: DataFrame): DataFrame = df
      .groupBy(col("o_orderpriority").as("pri"),
        year(col("o_orderdate")).cast(LongType).as("yr"))
      .agg(count(lit(1)).as("n"), sum(dec2(col("o_totalprice"))).as("rev"))
    val aOld = gamma(b)
    val aIns = gamma(ins)
    val aDel = gamma(del)
    // keyspace-sized merge: full-outer on the group key, signed
    // count/sum arithmetic, then count-zero elimination
    val merged = aOld.select(col("pri"), col("yr"),
        col("n").as("n_o"), col("rev").as("rev_o"))
      .join(aIns.select(col("pri"), col("yr"),
        col("n").as("n_i"), col("rev").as("rev_i")), Seq("pri", "yr"), "full_outer")
      .join(aDel.select(col("pri"), col("yr"),
        col("n").as("n_d"), col("rev").as("rev_d")), Seq("pri", "yr"), "full_outer")
      .select(col("pri"), col("yr"),
        (coalesce(col("n_o"), lit(0L)) + coalesce(col("n_i"), lit(0L))
          - coalesce(col("n_d"), lit(0L))).as("n"),
        (coalesce(col("rev_o"), lit(0).cast(DecimalType(12, 2)))
          + coalesce(col("rev_i"), lit(0).cast(DecimalType(12, 2)))
          - coalesce(col("rev_d"), lit(0).cast(DecimalType(12, 2)))).as("rev"))
    val aNew = merged.filter(col("n") > 0)
    val aFull = gamma(b.exceptAll(del).unionAll(ins))
    val mism = aNew.select(col("pri"), col("yr"), col("n"),
        col("rev").cast(DecimalType(22, 2)).as("rev"))
      .exceptAll(aFull.select(col("pri"), col("yr"), col("n"),
        col("rev").cast(DecimalType(22, 2)).as("rev")))
      .unionAll(aFull.select(col("pri"), col("yr"), col("n"),
          col("rev").cast(DecimalType(22, 2)).as("rev"))
        .exceptAll(aNew.select(col("pri"), col("yr"), col("n"),
          col("rev").cast(DecimalType(22, 2)).as("rev"))))
      .groupBy("pri", "yr").agg(count(lit(1)).as("n_mismatch"))
    aNew.join(mism, Seq("pri", "yr"), "left")
      .na.fill(0L, Seq("n_mismatch"))
      .select(col("pri"), col("yr"), col("n"),
        col("rev").cast(DoubleType).as("rev"), col("n_mismatch"))
      .orderBy("pri", "yr")
  }

  /** Distributed sparse matrix multiply — the linear-algebra kernel a
    * training pipeline runs as "project every document into a topic /
    * cluster space": C = A·B with A the (doc × term) tf matrix in
    * sparse triple form and B a (term × 8) integer projection derived
    * from the term hash (a deterministic stand-in for a learned topic
    * matrix — the md5 idiom st02/fh01 established, so both engines
    * derive identical weights). The contraction is the textbook
    * reduce-side GEMM: ONE shuffle equi-join on the contraction key
    * (term), then a map-side-combinable SUM into C's (doc, topic)
    * cells. Each doc then takes its argmax topic through the k-bounded
    * TopK operator (k=1), and the report is the 8-row topic census.
    *
    * Scale shape: A is the corpus-sized operand and is touched by
    * exactly one join; B is VOCAB-scale and carries no broadcast hint
    * (the round-7 broadcast-guard rule for corpus-growing
    * vocabularies: the optimizer may still size-elect a broadcast at
    * small SFs, but at scale both sides degrade to the shuffle join —
    * mb01's unhinted-margin discipline), fanning each A triple by
    * exactly 8 — no skew amplification however hot a term is. B
    * itself is built map-side: the 8 topic rows per term come from an
    * explode of a literal array, zero joins. C's partial sums
    * combine map-side before the (doc, topic) exchange. At cluster
    * scale, bucketing BOTH triple stores by term makes the
    * contraction zero-Exchange (q48's layout argument applied to
    * matrices); blocked tiling only changes the key to (term-block),
    * not the plan shape. All weights and scores are exact int64. */
  val mt01SparseMatmul: GraftQuery = q(
    "mt01_sparse_matmul",
    "distributed sparse GEMM: tf triples x hash-projection on the contraction key, argmax-topic census",
    """WITH tf AS (
      |  SELECT doc_id, tok, COUNT(*) AS tf
      |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
      |        FROM documents)
      |  GROUP BY doc_id, tok),
      |vocab AS (SELECT DISTINCT tok FROM tf),
      |b AS (
      |  SELECT tok, t,
      |    CAST(CONCAT('0x', SUBSTRING(md5(tok || ':' || CAST(t AS VARCHAR)), 1, 4))
      |      AS BIGINT) % 7 - 3 AS w
      |  FROM vocab, UNNEST(range(0, 8)) AS tt(t)),
      |c AS (
      |  SELECT f.doc_id, b.t, SUM(f.tf * b.w) AS score
      |  FROM tf f JOIN b ON b.tok = f.tok
      |  GROUP BY f.doc_id, b.t),
      |best AS (
      |  SELECT doc_id, t, score FROM (
      |    SELECT doc_id, t, score, ROW_NUMBER() OVER (
      |      PARTITION BY doc_id ORDER BY score DESC, t) AS rn
      |    FROM c) WHERE rn = 1)
      |SELECT CAST(t AS BIGINT) AS topic,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(score) AS BIGINT) AS total_score
      |FROM best GROUP BY t ORDER BY topic""".stripMargin) { (s, d) =>
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .pinned // two consumers: the vocab projection and the contraction
    // B's 8 topic columns are generated MAP-SIDE on the distinct-vocab
    // frame (explode of an 8-element literal array — no join of any
    // kind), so building B costs one vocab scan, zero exchanges
    val bmat = tf.select(col("tok")).distinct()
      .select(col("tok"), explode(sequence(lit(0L), lit(7L))).as("t"))
      .select(col("tok"), col("t"),
        (conv(substring(md5(concat(col("tok"), lit(":"),
          col("t").cast(StringType))), 1, 4), 16, 10).cast(LongType)
          % 7 - 3).as("w"))
    val c = tf.join(bmat, Seq("tok"))
      .groupBy(col("doc_id"), col("t"))
      .agg(sum(col("tf") * col("w")).as("score"))
    val best = graft.plans.TopKPerGroup.perGroup(
      c, Seq(col("doc_id")), struct(col("score"), -col("t")), k = 1)
    best.groupBy(col("t").as("topic"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("score")).cast(LongType).as("total_score"))
      .orderBy("topic")
  }

  /** Blocked (tiled) dense GEMM — mt01's scale claim ("blocked tiling
    * only changes the key, not the plan shape") made a real, checked
    * plan: C = A·B with A the dense n×64 embedding matrix (quantized
    * ×1000 to exact int64 — the established cross-engine idiom) and B
    * a 64×8 md5-derived integer projection. A is sliced MAP-SIDE into
    * 4 k-blocks of 16 (posexplode of subarray slices — the row never
    * leaves its partition), each block equi-joins its B TILE, and the
    * per-(vec, block) partial products reduce over the block INSIDE a
    * higher-order expression — so the contraction dimension never
    * appears as rows at all. Per-vector C assembles via 8
    * map-side-combinable SUMs keyed by vec_id; since every k-block of
    * a vector is born on its partition, the partials are complete
    * before the single exchange (1 row × 8 ints per vector).
    *
    * The B side here is FIXED-dimension (64×8 — a learned projection's
    * shape, set by model width not corpus size), so broadcasting the 4
    * tiles is correct at ANY corpus scale — the deliberate contrast
    * with mt01, whose B grows with the vocabulary and must stay
    * shuffle-eligible. When B itself outgrows broadcast (huge output
    * width), the identical plan shuffles A-blocks on kb and tiles on
    * (kb, jb) — mt01's reduce-side path with block keys substituted
    * for scalar keys; nothing else changes. */
  val mt02BlockedGemm: GraftQuery = {
    val NB = 4  // k-blocks
    val KB = 16 // block size (NB*KB = embedding dim)
    val NT = 8  // output topics
    q("mt02_blocked_gemm",
      "tiled dense GEMM: map-side k-block slicing x broadcast B tiles, in-expression block reduce",
      s"""WITH a AS (
         |  SELECT vec_id, k - 1 AS k0,
         |    CAST(floor(CAST(embedding[k] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS av
         |  FROM embeddings, UNNEST(range(1, ${NB * KB + 1})) AS tk(k)),
         |b AS (
         |  SELECT k0, j,
         |    CAST(CONCAT('0x', SUBSTRING(md5('w:' || CAST(k0 AS VARCHAR) || ':' ||
         |      CAST(j AS VARCHAR)), 1, 4)) AS BIGINT) % 7 - 3 AS w
         |  FROM UNNEST(range(0, ${NB * KB})) AS tk(k0),
         |       UNNEST(range(0, $NT)) AS tj(j)),
         |c AS (
         |  SELECT a.vec_id, b.j, SUM(a.av * b.w) AS score
         |  FROM a JOIN b ON b.k0 = a.k0 GROUP BY a.vec_id, b.j),
         |best AS (
         |  SELECT vec_id, j, score FROM (
         |    SELECT vec_id, j, score, ROW_NUMBER() OVER (
         |      PARTITION BY vec_id ORDER BY score DESC, j) AS rn
         |    FROM c) WHERE rn = 1)
         |SELECT CAST(j AS BIGINT) AS topic,
         |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  CAST(SUM(score) AS BIGINT) AS total_score
         |FROM best GROUP BY j ORDER BY topic""".stripMargin) { (s, d) =>
      def xd(x: Column) = x.cast(DoubleType)
      // A row → NB (vec_id, kb, 16-wide exact-int sub-block) rows, all
      // map-side: slice + quantize inside one posexplode expression
      val ablocks = Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(transform(sequence(lit(0), lit(NB - 1)), b =>
            transform(slice(col("embedding"), b * KB + lit(1), lit(KB)), x =>
              floor(xd(x) * 1000 + 0.5).cast(LongType)))))
        .select(col("vec_id"), col("pos").as("kb"), col("col").as("asub"))
      // B tiles: 4 rows, each a flat 16×8 int array ordered (k_local, j)
      val tiles = s.range(NB).select(col("id").cast(IntegerType).as("kb"),
        transform(sequence(lit(0), lit(KB * NT - 1)), i => {
          val k0 = col("kb") * KB + floor(i / NT).cast(IntegerType)
          val j = i % NT
          conv(substring(md5(concat(lit("w:"), k0.cast(StringType), lit(":"),
            j.cast(StringType))), 1, 4), 16, 10).cast(LongType) % 7 - 3
        }).as("tile"))
      // the block contraction happens INSIDE this expression — k never
      // becomes rows; each (vec, kb) row yields its 8 partial cells
      val partial = ablocks.join(broadcast(tiles), Seq("kb"))
        .select(col("vec_id"),
          transform(sequence(lit(0), lit(NT - 1)), j =>
            aggregate(sequence(lit(0), lit(KB - 1)), lit(0L), (acc, kl) =>
              acc + element_at(col("asub"), kl + 1) *
                element_at(col("tile"), kl * NT + j + 1))).as("p"))
      val cRows = partial.groupBy(col("vec_id"))
        .agg(sum(element_at(col("p"), 1)).as("c0"),
          (1 until NT).map(j =>
            sum(element_at(col("p"), j + 1)).as(s"c$j")): _*)
      val best = cRows.select(col("vec_id"),
        array_max(array((0 until NT).map(j =>
          struct(col(s"c$j").as("score"), lit(-j).as("negj"),
            lit(j).cast(LongType).as("j"))): _*)).as("b"))
      best.groupBy(col("b.j").as("topic"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("b.score")).as("total_score"))
        .orderBy("topic")
    }
  }

  /** HORVITZ–THOMPSON ESTIMATION over a weighted Bernoulli sample —
    * the estimation half of weighted sampling (wt01 draws the sample;
    * this query proves you can publish UNBIASED totals from one). Each
    * order's inclusion probability is class-proportional (p = w/16 for
    * priority class w ∈ 1..5 — 2^32/16 is exact, so the inclusion test
    * is a pure integer compare against the Knuth multiplicative hash:
    * deterministic, reproducible, engine-independent, no RNG state).
    * The estimator Σ x/p is kept EXACT-INTEGER until the final divide:
    * prices in cents (exact decimal → bigint), each contribution
    * scaled by 960/w (960 = 16·lcm(1..5), divisible by every class
    * weight, so the per-row integer division is exact), one fp divide
    * at the end — the [[graft.Det]] discipline applied to survey
    * estimation. Scale: a filter + one keyed aggregation, map-side
    * partials, no shuffle beyond the 5-group agg — the pattern that
    * lets a 100 TB pipeline audit a 1% weighted sample against the
    * fact table in one pass over each. */
  val ht01HtEstimator: GraftQuery = q(
    "ht01_ht_estimator",
    "Horvitz-Thompson totals from a deterministic weighted Bernoulli sample (exact-integer path)",
    """WITH k AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    o_orderkey % 4294967296 AS k32 FROM orders),
      |w AS (
      |  SELECT 6 - CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS w,
      |    ((((k32 // 65536) * 2654435761) % 65536) * 65536
      |      + (k32 % 65536) * 2654435761) % 4294967296 AS u,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM k)
      |SELECT w, COUNT(*) AS n_pop,
      |  CAST(SUM(CASE WHEN u < w * 268435456 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      |  CAST(SUM(CASE WHEN u < w * 268435456 THEN cents * (960 // w) ELSE 0 END) AS DOUBLE)
      |    / 6000.0 AS est_total,
      |  CAST(SUM(cents) AS DOUBLE) / 100.0 AS true_total
      |FROM w GROUP BY w ORDER BY w""".stripMargin) { (s, d) =>
    // Knuth multiplicative hash mod 2^32, computed OVERFLOW-SAFE: a
    // direct o_orderkey * 2654435761 exceeds int64 once keys pass
    // ~3.47e9 (SF ≳ ~575 / large key-shifted replicas), where Spark
    // would wrap silently while DuckDB raises — cross-engine
    // divergence in a query documented as engine-exact. Splitting the
    // 32-bit key into 16-bit halves keeps every intermediate ≤ ~2e14:
    // (k·C) mod 2^32 = ((hi·C mod 2^16)·2^16 + lo·C) mod 2^32, and the
    // value is bit-identical to the naive form for all non-wrapping
    // keys (same u at every current SF).
    Tables.orders(s, d)
      .withColumn("k32", col("o_orderkey") % lit(4294967296L))
      .select(
        expr("6 - cast(substring(o_orderpriority, 1, 1) as int)").as("w"),
        expr("""((((k32 div 65536) * 2654435761) % 65536) * 65536
                + (k32 % 65536) * 2654435761) % 4294967296""").as("u"),
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
          .cast(LongType).as("cents"))
      .groupBy("w")
      .agg(count(lit(1)).as("n_pop"),
        sum(when(col("u") < col("w") * 268435456L, 1).otherwise(0))
          .cast(LongType).as("n_sampled"),
        (sum(when(col("u") < col("w") * 268435456L,
            col("cents") * expr("960 div w")).otherwise(0L))
          .cast(DoubleType) / 6000.0).as("est_total"),
        (sum(col("cents")).cast(DoubleType) / 100.0).as("true_total"))
      .orderBy("w")
  }

  /** DIFFERENTIALLY-PRIVATE COUNTS via the (truncated) GEOMETRIC
    * MECHANISM (Ghosh–Roughgarden–Sundararajan 2009, the discrete
    * optimal mechanism for counting queries): per-group counts plus
    * two-sided geometric noise, P(k) ∝ α^|k| with α = 1/2 (ε = ln 2,
    * sensitivity 1 — each order contributes to exactly one priority
    * group). The DISCRETE mechanism is what makes this engine-exact:
    * Laplace needs a log() draw whose last bits differ across libms,
    * while the geometric inverse-CDF is a 21-branch integer threshold
    * ladder — breakpoints floor(CDF(k)·2^32) computed exactly in
    * BigInt at build time and emitted as the SAME literals into both
    * the Spark plan and the oracle SQL. Noise is seeded from a hash of
    * the group key (test determinism; production swaps the seed source
    * for a secure RNG — the mechanism and plan shape are unchanged).
    * Truncation at ±10 keeps the ladder finite and costs 2·(1/3)·2⁻¹⁰
    * ≈ 0.07% tail mass (documented bias; extend the ladder to shrink
    * it). Scale: one 5-group aggregate; the noise is a per-GROUP
    * map-side expression after aggregation — DP release of a 100 TB
    * table's histogram costs exactly the histogram. */
  val dp01GeometricMechanism: GraftQuery = {
    val B = 10
    // floor(2^32 · CDF(k)) with CDF as an exact rational:
    //   k = -m (m≥1): 1/(3·2^(m-1));  k ≥ 0: (3·2^k − 1)/(3·2^k)
    def thr(k: Int): Long = {
      val two32 = BigInt(2).pow(32)
      val (p, q) =
        if (k < 0) (BigInt(1), BigInt(3) * BigInt(2).pow(-k - 1))
        else (BigInt(3) * BigInt(2).pow(k) - 1, BigInt(3) * BigInt(2).pow(k))
      (two32 * p / q).toLong
    }
    val ks = (-B until B).toSeq // ladder; ELSE branch = +B
    val sqlLadder = ks.map(k => s"WHEN v < ${thr(k)} THEN $k").mkString("\n      |    ")
    q("dp01_geometric_mechanism",
      "DP counts: truncated geometric mechanism, exact integer inverse-CDF ladder (eps = ln 2)",
      s"""WITH c AS (
         |  SELECT o_orderpriority,
         |    CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT) AS g,
         |    COUNT(*) AS n
         |  FROM orders GROUP BY 1, 2),
         |seeded AS (
         |  SELECT o_orderpriority, n,
         |    (g * 2654435761 + 97531) % 4294967296 AS v
         |  FROM c)
         |SELECT o_orderpriority,
         |  n + CASE
         |    $sqlLadder
         |    ELSE $B END AS dp_count
         |FROM seeded ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val noise = ks.foldRight(lit(B): Column) { (k, rest) =>
        when(col("v") < thr(k), k).otherwise(rest)
      }
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"),
          expr("cast(substring(o_orderpriority, 1, 1) as bigint)").as("g"))
        .agg(count(lit(1)).as("n"))
        .withColumn("v", (col("g") * lit(2654435761L) + lit(97531L)) % lit(4294967296L))
        .select(col("o_orderpriority"), (col("n") + noise).as("dp_count"))
        .orderBy("o_orderpriority")
    }
  }

  val all: Seq[GraftQuery] = Seq(
    q42Gapfill, q43Unpivot, q44StatsMoments, q45Upsert, q46Scd2, qa01Profile,
    st01StratifiedSample, st02SplitAssign, st03QuotaAlloc, dq01QualityAudit,
    ws01Winsorize, it01Interpolate, it02LocfResample, wt01WeightedSample,
    rs01ReservoirSample, mb01MarketBasket, pit01PointInTime,
    dr01DistributionDrift, pa01Skyline, iv01IncrementalJoin,
    av01IncrementalAgg, mt01SparseMatmul, mt02BlockedGemm,
    ht01HtEstimator, dp01GeometricMechanism)
}
