package graft.operators

import graft.{GraftQuery, Tables}
import graft.GraftQuery.q
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The typed surface: `Aggregator[IN,BUF,OUT]` (the formalization of
  * the reference's re-entrant Reducer signature — its `current`
  * parameter IS the merge/BUF concept, interfaces.go:50-64, SURVEY
  * §2.1 #11), typed `groupByKey.reduceGroups` (partial-agg-friendly,
  * unlike mapGroups which forfeits map-side combine), and salted
  * two-phase aggregation for skewed keys.
  *
  * Determinism: monetary values become exact integer cents
  * (`round(x*100)` — inputs carry ≤2dp) so every fold is integer
  * arithmetic; one double division at the end.
  */
object TypedQueries {

  /** Typed mean-price aggregator: BUF = (cents, count), exact merge. */
  object MeanPriceAgg extends Aggregator[Double, (Long, Long), Double] {
    def zero: (Long, Long) = (0L, 0L)
    def reduce(b: (Long, Long), price: Double): (Long, Long) =
      (b._1 + math.round(price * 100), b._2 + 1)
    def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      (a._1 + b._1, a._2 + b._2)
    def finish(b: (Long, Long)): Double = (b._1.toDouble / 100.0) / b._2
    def bufferEncoder = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    def outputEncoder = Encoders.scalaDouble
  }

  /** Aggregator registered as a UDAF and used per group. */
  val ua01TypedAggregator: GraftQuery = q(
    "ua01_typed_aggregator",
    "Aggregator[IN,BUF,OUT] as UDAF (ref Reducer formalized)",
    """SELECT o_orderpriority,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
      |    / COUNT(*) AS mean_price,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val meanPrice = udaf(MeanPriceAgg)
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(meanPrice(col("o_totalprice")).as("mean_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  final case class LineSlim(l_returnflag: String, l_quantity: Double)

  /** Typed Dataset path: case-class rows, groupByKey + reduceGroups —
    * keeps map-side partial aggregation (mapGroups would not). */
  val ty01TypedReduce: GraftQuery = q(
    "ty01_typed_reduce",
    "Dataset[T] groupByKey.reduceGroups fold",
    """SELECT l_returnflag, CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity"))
      .as[LineSlim]
      .map(r => (r.l_returnflag, math.round(r.l_quantity * 100)))
      .groupByKey(_._1)
      .reduceGroups((a, b) => (a._1, a._2 + b._2))
      .map { case (flag, (_, cents)) => (flag, cents) }
      .toDF("l_returnflag", "qty_cents")
      .orderBy("l_returnflag")
  }

  /** Salted two-phase aggregation: low-cardinality/skewed group keys
    * (3 return flags over the whole fact table) first aggregate on
    * (key, salt) — spreading each hot key over N reducers — then
    * re-aggregate on key. Same exact result as the direct groupBy;
    * the oracle is the plain GROUP BY. */
  val sk01SaltedAgg: GraftQuery = q(
    "sk01_salted_agg",
    "skew-resistant salted two-phase aggregation",
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val salted = Tables.lineitem(s, d)
      .withColumn("__salt", pmod(col("l_orderkey"), lit(16)))
      .groupBy(col("l_returnflag"), col("__salt"))
      .agg(count(lit(1)).as("pn"),
        sum(round(col("l_quantity") * 100).cast(LongType)).as("pc"))
    salted
      .groupBy(col("l_returnflag"))
      .agg(sum(col("pn")).cast(LongType).as("n"),
        sum(col("pc")).cast(LongType).as("qty_cents"))
      .orderBy("l_returnflag")
  }

  /** Salted shuffle JOIN for a skewed key: every lineitem row carries
    * one of 10 supplier keys, so a plain shuffle join lands the whole
    * fact table on 10 reducers. Replicate the (tiny-per-key) supplier
    * side across 16 salt values and join on (key, salt): each hot key
    * spreads over 16 reducers, result identical, oracle is the plain
    * join. AQE's skew-split handles this adaptively when the dim side
    * can't be broadcast; explicit salting is the portable form. */
  val sk02SaltedJoin: GraftQuery = q(
    "sk02_salted_join",
    "skew-resistant salted shuffle join (fact × replicated dim)",
    """SELECT s_name, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name ORDER BY s_name""".stripMargin) { (s, d) =>
    val nSalt = 16
    val fact = Tables.lineitem(s, d)
      .withColumn("__salt", pmod(col("l_orderkey") + col("l_linenumber"), lit(nSalt)))
    val dim = Tables.supplier(s, d)
      .withColumn("__salt", explode(sequence(lit(0), lit(nSalt - 1))))
      // hint the planner away from broadcasting so the salted shuffle
      // path is actually exercised (with a broadcastable dim Spark
      // would just BHJ and salting would be moot)
      .hint("shuffle_hash")
    fact.join(dim,
      fact("l_suppkey") === dim("s_suppkey") && fact("__salt") === dim("__salt"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(DecimalType(12, 2))).cast(DoubleType)
          .as("revenue"))
      .orderBy("s_name")
  }

  /** Skew DIAGNOSIS — the planning query that decides WHEN the salted
    * rewrites (sk01/sk02) are worth their extra shuffle. One cheap
    * pre-aggregation builds the key histogram (output rows = key
    * cardinality, never data size); each key then gets an integer salt
    * factor = how many even-share reducer slots its rows would fill
    * (`ceil(n·P / total)`, P = target parallelism), and a `skewed` flag
    * at the 2×-even-share threshold — the same signal AQE's runtime
    * skew-split reacts to, computed ahead of time so a static plan can
    * salt exactly the hot keys and leave the rest alone. All integer
    * arithmetic (basis points, ceil-div), so the plan itself is
    * oracle-checked, not just the histogram. */
  val sk03SkewPlanner: GraftQuery = {
    val P = 32
    q("sk03_skew_planner",
      "skew diagnosis: key histogram -> integer salt-factor plan for sk01/sk02",
      s"""WITH k AS (
         |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM lineitem GROUP BY 1),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM k)
         |SELECT l_returnflag, n,
         |  CAST(n * 10000 // total AS BIGINT) AS share_bp,
         |  CAST(GREATEST(1, (n * $P + total - 1) // total) AS BIGINT) AS salt,
         |  n * $P > 2 * total AS skewed
         |FROM k, t ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val k = Tables.lineitem(s, d)
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      val t = k.agg(sum("n").cast(LongType).as("total"))
      k.crossJoin(broadcast(t))
        .select(col("l_returnflag"), col("n"),
          expr("n * 10000 div total").cast(LongType).as("share_bp"),
          greatest(lit(1L), expr(s"(n * $P + total - 1) div total"))
            .cast(LongType).as("salt"),
          (col("n") * P > col("total") * 2).as("skewed"))
        .orderBy("l_returnflag")
    }
  }

  val all: Seq[GraftQuery] = Seq(ua01TypedAggregator, ty01TypedReduce, sk01SaltedAgg,
    sk02SaltedJoin, sk03SkewPlanner)
}
