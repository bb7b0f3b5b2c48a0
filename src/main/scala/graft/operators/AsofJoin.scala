package graft.operators

import graft.{GraftQuery, Tables}
import graft.GraftQuery.q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** As-of (backward) join — an operator Spark lacks natively
  * (SURVEY.md §2.2 "range/as-of"). Implemented by composition, per the
  * preference order in §7.4: union the two sides tagged left/right,
  * sort within each key partition by (time, tag, tiebreak), and carry
  * the latest right-side payload forward with
  * `last(..., ignoreNulls).over(rows unbounded preceding..current)`.
  *
  * Cost shape: ONE shuffle (by key) + ONE partition-local sort — the
  * same cost as a sort-merge join, with none of the O(n·m) range-probe
  * blowup a naive theta join would give. Ties on the right side at the
  * same timestamp resolve to the greatest tiebreak column, which the
  * oracle mirrors with ORDER BY ... DESC LIMIT 1.
  */
object AsofJoin {

  /** left(keyCol, timeCol, ...) ⟕asof right(keyCol, timeCol, payload...):
    * each left row gains the payload of the latest right row with the
    * same key and time ≤ the left row's time (inclusive). */
  def backward(
      left: DataFrame, right: DataFrame,
      key: String, leftTime: String, rightTime: String,
      payloadCols: Seq[String], tiebreak: String): DataFrame = {
    val payloadNames = (Seq(rightTime, tiebreak) ++ payloadCols).distinct
    val payloadType = StructType(payloadNames.map(n => right.schema(n)))
    val lrowType = StructType(left.schema.fields)
    val l = left.select(
      col(key).as("__key"), col(leftTime).as("__t"), lit(1).as("__tag"),
      lit(Long.MaxValue).as("__tb"),
      lit(null).cast(payloadType).as("__payload"),
      struct(left.columns.toIndexedSeq.map(col): _*).as("__lrow"))
    // Right rows whose key never occurs on the left can't contribute:
    // semi-join them away before the sort (at scale the left is often
    // selective, and this shrinks the windowed sort to matching keys).
    val rightPruned = right.join(
      left.select(col(key).as("__semikey")).distinct(),
      col(key) === col("__semikey"), "left_semi")
    val r = rightPruned.select(
      col(key).as("__key"), col(rightTime).as("__t"), lit(0).as("__tag"),
      col(tiebreak).cast(LongType).as("__tb"),
      struct(payloadNames.map(col): _*).as("__payload"),
      lit(null).cast(lrowType).as("__lrow"))
    val unioned = l.unionByName(r)
    // right rows sort before left rows at equal time (inclusive ≤);
    // among right ties, greater tiebreak wins (later in sort → last())
    val w = Window.partitionBy(col("__key"))
      .orderBy(col("__t"), col("__tag"), col("__tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("__asof", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(col("__lrow.*"), col("__asof"))
  }

  /** Forward as-of: each left row gains the payload of the EARLIEST
    * right row with the same key and time ≥ the left row's time
    * (pandas `merge_asof(direction='forward')`). Mirror of
    * [[backward]]: left rows sort before right rows at equal time
    * (inclusive ≥), the frame flips to [current, unbounded following],
    * and `first(..., ignoreNulls)` picks the next payload; right ties
    * at the same timestamp resolve to the SMALLEST tiebreak. Same
    * one-shuffle + one-sort cost shape. */
  def forward(
      left: DataFrame, right: DataFrame,
      key: String, leftTime: String, rightTime: String,
      payloadCols: Seq[String], tiebreak: String): DataFrame = {
    val payloadNames = (Seq(rightTime, tiebreak) ++ payloadCols).distinct
    val payloadType = StructType(payloadNames.map(n => right.schema(n)))
    val lrowType = StructType(left.schema.fields)
    val l = left.select(
      col(key).as("__key"), col(leftTime).as("__t"), lit(0).as("__tag"),
      lit(Long.MinValue).as("__tb"),
      lit(null).cast(payloadType).as("__payload"),
      struct(left.columns.toIndexedSeq.map(col): _*).as("__lrow"))
    val rightPruned = right.join(
      left.select(col(key).as("__semikey")).distinct(),
      col(key) === col("__semikey"), "left_semi")
    val r = rightPruned.select(
      col(key).as("__key"), col(rightTime).as("__t"), lit(1).as("__tag"),
      col(tiebreak).cast(LongType).as("__tb"),
      struct(payloadNames.map(col): _*).as("__payload"),
      lit(null).cast(lrowType).as("__lrow"))
    val w = Window.partitionBy(col("__key"))
      .orderBy(col("__t"), col("__tag"), col("__tb"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    l.unionByName(r)
      .withColumn("__asof", first(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 0)
      .select(col("__lrow.*"), col("__asof"))
  }

  /** [[backward]] with a maximum-lookback tolerance: a match older than
    * `toleranceMicros` before the left row's time is discarded (the row
    * keeps a NULL payload, as in pandas/kdb `merge_asof(tolerance=...)`).
    * The latest-match-wins scan is unchanged — any in-tolerance match
    * would also be the latest — so tolerance is one exact-microsecond
    * post-predicate, no second window. */
  def backwardWithin(
      left: DataFrame, right: DataFrame,
      key: String, leftTime: String, rightTime: String,
      payloadCols: Seq[String], tiebreak: String,
      toleranceMicros: Long): DataFrame =
    backward(left, right, key, leftTime, rightTime, payloadCols, tiebreak)
      .withColumn("__asof",
        // cast: the parquet columns are TIMESTAMP_NTZ; with the session
        // TZ pinned to UTC the ltz cast is value-preserving
        when(unix_micros(col(leftTime).cast(TimestampType)) -
          unix_micros(col(s"__asof.$rightTime").cast(TimestampType)) <= toleranceMicros,
          col("__asof")))

  /** Each event joined to the user's latest order as of the event time
    * (user_id ≡ customer key in the synthetic corpus). */
  val aj01EventOrders: GraftQuery = q(
    "aj01_asof_join",
    "as-of backward join: event → latest prior order",
    """SELECT e.event_id, e.user_id,
      |  (SELECT o.o_orderkey FROM orders o
      |   WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      |   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS last_orderkey,
      |  (SELECT o.o_totalprice FROM orders o
      |   WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      |   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS last_totalprice
      |FROM events e WHERE e.event_id < 500
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val events = Tables.events(s, d).filter(col("event_id") < 500)
      .select(col("event_id"), col("user_id"), col("ts"))
    val orders = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
    val ev = events.withColumn("o_custkey", col("user_id"))
    backward(ev, orders,
      key = "o_custkey", leftTime = "ts", rightTime = "o_orderdate",
      payloadCols = Seq("o_totalprice"), tiebreak = "o_orderkey")
      .select(col("event_id"), col("user_id"),
        col("__asof.o_orderkey").as("last_orderkey"),
        col("__asof.o_totalprice").as("last_totalprice"))
      .orderBy("event_id")
  }

  /** As-of with tolerance: like aj01 but a prior order counts only if
    * it is at most 180 days old at event time — stale state must not
    * leak forward, the usual contract when joining slowly-updated
    * reference data onto a fast stream. */
  val aj02AsofTolerance: GraftQuery = q(
    "aj02_asof_tolerance",
    "as-of backward join with 180-day tolerance",
    """SELECT e.event_id, e.user_id,
      |  (SELECT o.o_orderkey FROM orders o
      |   WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      |     AND o.o_orderdate >= e.ts - INTERVAL 180 DAY
      |   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS last_orderkey,
      |  (SELECT o.o_totalprice FROM orders o
      |   WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      |     AND o.o_orderdate >= e.ts - INTERVAL 180 DAY
      |   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS last_totalprice
      |FROM events e WHERE e.event_id < 500
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val events = Tables.events(s, d).filter(col("event_id") < 500)
      .select(col("event_id"), col("user_id"), col("ts"))
    val orders = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
    val ev = events.withColumn("o_custkey", col("user_id"))
    backwardWithin(ev, orders,
      key = "o_custkey", leftTime = "ts", rightTime = "o_orderdate",
      payloadCols = Seq("o_totalprice"), tiebreak = "o_orderkey",
      toleranceMicros = 180L * 86400L * 1000000L)
      .select(col("event_id"), col("user_id"),
        col("__asof.o_orderkey").as("last_orderkey"),
        col("__asof.o_totalprice").as("last_totalprice"))
      .orderBy("event_id")
  }

  /** Forward as-of: each event joined to the user's NEXT order at or
    * after the event time — the "time to next conversion" shape. */
  val aj03AsofForward: GraftQuery = q(
    "aj03_asof_forward",
    "as-of forward join: event → next order at/after event time",
    """SELECT e.event_id, e.user_id,
      |  (SELECT o.o_orderkey FROM orders o
      |   WHERE o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
      |   ORDER BY o.o_orderdate ASC, o.o_orderkey ASC LIMIT 1) AS next_orderkey,
      |  (SELECT o.o_totalprice FROM orders o
      |   WHERE o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
      |   ORDER BY o.o_orderdate ASC, o.o_orderkey ASC LIMIT 1) AS next_totalprice
      |FROM events e WHERE e.event_id < 500
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val events = Tables.events(s, d).filter(col("event_id") < 500)
      .select(col("event_id"), col("user_id"), col("ts"))
    val orders = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
    val ev = events.withColumn("o_custkey", col("user_id"))
    forward(ev, orders,
      key = "o_custkey", leftTime = "ts", rightTime = "o_orderdate",
      payloadCols = Seq("o_totalprice"), tiebreak = "o_orderkey")
      .select(col("event_id"), col("user_id"),
        col("__asof.o_orderkey").as("next_orderkey"),
        col("__asof.o_totalprice").as("next_totalprice"))
      .orderBy("event_id")
  }

  /** Range (band) join: quantity banded into named buckets via an
    * inline dimension — planned as a broadcast join with a range
    * predicate (no shuffle of the fact side). */
  val rj01RangeBand: GraftQuery = q(
    "rj01_range_join",
    "range/band join against an inline dimension",
    """WITH bands(lo, hi, band) AS (VALUES
      |  (0, 10, 'low'), (10, 25, 'mid'), (25, 100, 'high'))
      |SELECT band, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
      |GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import s.implicits._
    val bands = Seq((0, 10, "low"), (10, 25, "mid"), (25, 100, "high"))
      .toDF("lo", "hi", "band")
    Tables.lineitem(s, d)
      .join(broadcast(bands), col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(12, 2))).cast(DoubleType).as("sum_qty"))
      .orderBy("band")
  }

  /** Nearest as-of: each left row gains the payload of the CLOSEST
    * right row in time, either direction, ties to the prior side
    * (pandas `merge_asof(direction='nearest')`). Both directional
    * scans share ONE shuffle and ONE partition-local sort: the two
    * window frames ([unbounded, current] for the latest-prior carry,
    * [current, unbounded] for the earliest-next probe) have identical
    * partitioning AND ordering, so Spark plans them into a single
    * WindowExec over a single sort — nearest costs exactly what one
    * directional as-of costs. Equal-time right rows sort before the
    * left row, so they land in the prior leg at distance 0 (which
    * always wins), keeping the inclusive-≤ contract. */
  def nearest(
      left: DataFrame, right: DataFrame,
      key: String, leftTime: String, rightTime: String,
      payloadCols: Seq[String], tiebreak: String): DataFrame = {
    val payloadNames = (Seq(rightTime, tiebreak) ++ payloadCols).distinct
    val payloadType = StructType(payloadNames.map(n => right.schema(n)))
    val lrowType = StructType(left.schema.fields)
    val l = left.select(
      col(key).as("__key"), col(leftTime).as("__t"), lit(1).as("__tag"),
      lit(Long.MaxValue).as("__tb"),
      lit(null).cast(payloadType).as("__payload"),
      struct(left.columns.toIndexedSeq.map(col): _*).as("__lrow"))
    val rightPruned = right.join(
      left.select(col(key).as("__semikey")).distinct(),
      col(key) === col("__semikey"), "left_semi")
    val r = rightPruned.select(
      col(key).as("__key"), col(rightTime).as("__t"), lit(0).as("__tag"),
      col(tiebreak).cast(LongType).as("__tb"),
      struct(payloadNames.map(col): _*).as("__payload"),
      lit(null).cast(lrowType).as("__lrow"))
    val wPrev = Window.partitionBy(col("__key"))
      .orderBy(col("__t"), col("__tag"), col("__tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("__key"))
      .orderBy(col("__t"), col("__tag"), col("__tb"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    def micros(c: Column): Column = unix_micros(c.cast(TimestampType))
    val db = micros(col("__t")) - micros(col(s"__prev.$rightTime"))
    val df = micros(col(s"__next.$rightTime")) - micros(col("__t"))
    l.unionByName(r)
      .withColumn("__prev", last(col("__payload"), ignoreNulls = true).over(wPrev))
      .withColumn("__next", first(col("__payload"), ignoreNulls = true).over(wNext))
      .filter(col("__tag") === 1)
      .withColumn("__asof",
        when(col("__next").isNull, col("__prev"))
          .when(col("__prev").isNull, col("__next"))
          .when(db <= df, col("__prev"))
          .otherwise(col("__next")))
      .withColumn("__dir",
        when(col("__asof").isNull, lit(null).cast(StringType))
          .when(micros(col(s"__asof.$rightTime")) <= micros(col("__t")), "prior")
          .otherwise("next"))
      .select(col("__lrow.*"), col("__asof"), col("__dir"))
  }

  /** Nearest-in-time enrichment: each event takes the user's closest
    * order on either side of the event instant — the sensor-alignment
    * / feature-join shape where "latest prior" alone would leave early
    * rows unmatched. */
  val aj04AsofNearest: GraftQuery = q(
    "aj04_asof_nearest",
    "as-of nearest join: closest order either direction, ties to prior, one sort",
    """SELECT e.event_id, e.user_id,
      |  (SELECT o.o_orderkey FROM orders o WHERE o.o_custkey = e.user_id
      |   ORDER BY ABS(epoch_us(o.o_orderdate) - epoch_us(e.ts)),
      |     CASE WHEN o.o_orderdate <= e.ts THEN 0 ELSE 1 END,
      |     CASE WHEN o.o_orderdate <= e.ts THEN -o.o_orderkey ELSE o.o_orderkey END
      |   LIMIT 1) AS near_orderkey,
      |  (SELECT o.o_totalprice FROM orders o WHERE o.o_custkey = e.user_id
      |   ORDER BY ABS(epoch_us(o.o_orderdate) - epoch_us(e.ts)),
      |     CASE WHEN o.o_orderdate <= e.ts THEN 0 ELSE 1 END,
      |     CASE WHEN o.o_orderdate <= e.ts THEN -o.o_orderkey ELSE o.o_orderkey END
      |   LIMIT 1) AS near_totalprice,
      |  (SELECT CASE WHEN o.o_orderdate <= e.ts THEN 'prior' ELSE 'next' END
      |   FROM orders o WHERE o.o_custkey = e.user_id
      |   ORDER BY ABS(epoch_us(o.o_orderdate) - epoch_us(e.ts)),
      |     CASE WHEN o.o_orderdate <= e.ts THEN 0 ELSE 1 END,
      |     CASE WHEN o.o_orderdate <= e.ts THEN -o.o_orderkey ELSE o.o_orderkey END
      |   LIMIT 1) AS direction
      |FROM events e WHERE e.event_id < 500
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val events = Tables.events(s, d).filter(col("event_id") < 500)
      .select(col("event_id"), col("user_id"), col("ts"))
    val orders = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
    val ev = events.withColumn("o_custkey", col("user_id"))
    nearest(ev, orders,
      key = "o_custkey", leftTime = "ts", rightTime = "o_orderdate",
      payloadCols = Seq("o_totalprice"), tiebreak = "o_orderkey")
      .select(col("event_id"), col("user_id"),
        col("__asof.o_orderkey").as("near_orderkey"),
        col("__asof.o_totalprice").as("near_totalprice"),
        col("__dir").as("direction"))
      .orderBy("event_id")
  }

  val all: Seq[GraftQuery] =
    Seq(aj01EventOrders, aj02AsofTolerance, aj03AsofForward, aj04AsofNearest,
      rj01RangeBand)
}
