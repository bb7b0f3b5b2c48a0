package graft.operators

import graft.{GraftQuery, Tables}
import graft.GraftQuery.q
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Bloom-filter join pruning — the explicit form of a runtime filter:
  * build a compact bit-set over the build side's join keys with a
  * distributed `Aggregator` (partial filters OR-merge associatively),
  * broadcast it, and pre-filter the probe side with pure built-in bit
  * arithmetic BEFORE the exact join. No false negatives, so the exact
  * semi-join afterwards only has to discard the small false-positive
  * residue — at cluster scale the fact rows pruned here never enter
  * the join shuffle at all.
  *
  * Spark's optimizer injects the same shape itself
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) when statistics
  * warrant; this operator makes the filter an explicit, testable part
  * of the plan with engine-controlled sizing.
  *
  * Hash contract: the JVM build side uses
  * `XXH64.hashLong(i, XXH64.hashLong(key, 42))`, which is exactly what
  * the built-in `xxhash64(key, i)` column expression computes for
  * LongType inputs — so build (typed Aggregator) and probe (codegen'd
  * Column expression) agree bit-for-bit without a UDF on the hot path.
  */
object BloomJoin {

  /** Distributed Bloom-filter builder over long keys. `mBits` fixed at
    * plan time: size by expected distinct build keys n — with k=3,
    * mBits ≈ 8n gives ~3% false positives (pruning waste, never
    * wrong results). State is mBits/8 bytes per partial. */
  final class BloomAgg(mBits: Int, k: Int)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    require(mBits % 64 == 0, "mBits must be a multiple of 64")
    def zero: Array[Long] = new Array[Long](mBits / 64)
    def reduce(b: Array[Long], key: Long): Array[Long] = {
      var i = 1
      while (i <= k) {
        val h = XXH64.hashLong(i.toLong, XXH64.hashLong(key, 42L))
        val pos = java.lang.Math.floorMod(h, mBits.toLong).toInt
        b(pos >> 6) |= (1L << (pos & 63))
        i += 1
      }
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Probe-side membership test as a pure Column expression (codegen'd
    * built-ins, no UDF): k bit probes ANDed together. */
  def mightContain(bits: Column, key: Column, mBits: Int, k: Int): Column =
    (1 to k).map { i =>
      val pos = pmod(xxhash64(key, lit(i.toLong)), lit(mBits.toLong))
      val word = shiftright(pos, 6).cast(IntegerType)
      val mask = call_function("shiftleft", lit(1L),
        pmod(pos, lit(64L)).cast(IntegerType))
      element_at(bits, word + 1).bitwiseAND(mask) =!= 0
    }.reduce(_ && _)

  private val K = 3

  /** Engine-controlled sizing: ~8 bits per expected build key at k=3
    * (≈3% false-positive rate), clamped to [512 B, 16 MB] and rounded
    * to a 64-bit word. A fixed size would silently degrade toward
    * fpp→1 as the build side grows — correct results, dead filter. */
  def sizeBits(expectedKeys: Long): Int = {
    val raw = math.max(1L << 12, math.min(1L << 27, 8L * math.max(expectedKeys, 1L)))
    (((raw + 63) / 64) * 64).toInt
  }

  /** Probe side pre-filtered by the broadcast Bloom filter, then
    * exact-verified. Exposed separately so the spec can measure the
    * pruning ratio. The filter is sized from the build-side key count —
    * pass `expectedKeys` when statistics already know it; otherwise one
    * cheap count on the (small, already-filtered) build side pays for a
    * filter that stays effective at any scale. */
  def prefiltered(fact: DataFrame, buildKeys: DataFrame,
      probeKey: String = "l_orderkey",
      expectedKeys: Option[Long] = None): DataFrame = {
    val mBits = sizeBits(expectedKeys.getOrElse(buildKeys.count()))
    val agg = udaf(new BloomAgg(mBits, K), Encoders.scalaLong)
    val bloom = buildKeys.select(agg(col("k")).as("__bits"))
    fact.join(broadcast(bloom))
      .filter(mightContain(col("__bits"), col(probeKey), mBits, K))
      .drop("__bits")
  }

  /** Revenue of lineitems belonging to urgent orders: Bloom-pruned
    * probe side, then the exact semi-join discards false positives.
    * The oracle is the plain semi-join — identical results prove the
    * filter admits every true match. */
  val bf01BloomJoin: GraftQuery = q(
    "bf01_bloom_join",
    "Bloom-filter join pruning (runtime-filter shape, explicit)",
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
      |                     WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val buildKeys = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("k"))
    prefiltered(Tables.lineitem(s, d), buildKeys)
      .join(buildKeys, col("l_orderkey") === col("k"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(DecimalType(12, 2))).cast(DoubleType)
          .as("revenue"))
      .orderBy("l_returnflag")
  }

  val all: Seq[GraftQuery] = Seq(bf01BloomJoin)
}
