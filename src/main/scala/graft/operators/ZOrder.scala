package graft.operators

import graft.{Det, GraftQuery, Tables}
import graft.GraftQuery.q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout for multi-dimensional data skipping.
  *
  * A table sorted by ONE column skips well on that column and not at
  * all on any other. Interleaving the bits of two columns into a
  * z-value and range-sorting by it clusters BOTH dimensions at once:
  * every parquet file then covers a small rectangle of (x, y) space,
  * its footer min/max statistics on x AND y are narrow, and a 2-D box
  * predicate prunes most row groups in the reader — the standard
  * lakehouse layout trick for 100 TB fact tables queried on several
  * dimensions.
  *
  * The z-value is pure integer bit arithmetic (shift/and/add), so the
  * same formula runs identically in Spark and the DuckDB oracle, and
  * the mapping itself is oracle-checked (z_sum below), not just the
  * row membership.
  */
object ZOrder {
  /** Bits per dimension; z occupies 2·BITS bits. 8 bits/dim = a 256×256
    * grid, plenty for file-level clustering (finer bits stop mattering
    * once cells are smaller than a row group). */
  val BITS = 8

  /** Morton-interleave the low BITS bits of x (even positions) and y
    * (odd positions), as a Spark Column. */
  def zval(x: Column, y: Column): Column =
    (0 until BITS).map { i =>
      (shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)) +
        (shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ + _)

  /** The identical formula as DuckDB SQL over expressions xe / ye. */
  def sqlZval(xe: String, ye: String): String =
    (0 until BITS).map { i =>
      s"((($xe) >> $i) & 1) * ${1L << (2 * i)} + ((($ye) >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Write orders z-ordered on (custkey mod 256, orderkey mod 256),
    * read back through a 2-D box predicate, and aggregate — plus a
    * checksum of the z-values themselves. The oracle runs the same
    * predicate and z-formula on the base table: identical results
    * prove the layout loses nothing and the interleave matches bit-
    * for-bit. ZOrderSpec separately pins that the layout actually
    * SKIPS: the scan emits a small fraction of the table under this
    * predicate. */
  val zo01ZorderLayout: GraftQuery = {
    val xe = "o_custkey % 256"
    val ye = "o_orderkey % 256"
    q("zo01_zorder_layout",
      "z-order write + 2-D box read-back: multi-dimensional data skipping layout",
      s"""SELECT COUNT(*) AS n_rows,
         |  ${Det.sqlDsum("o_totalprice")} AS sum_price,
         |  CAST(SUM(${sqlZval(xe, ye)}) AS BIGINT) AS z_sum
         |FROM orders
         |WHERE $xe BETWEEN 32 AND 47 AND $ye BETWEEN 64 AND 95""".stripMargin) {
      (s, d) => box(zorderedOrders(s, d)) }
  }

  /** Orders written z-ordered to a temp dir and read back — shared by
    * the registry query and ZOrderSpec's skipping test. */
  def zorderedOrders(s: SparkSession, d: String): DataFrame = {
    val out = graft.Scratch.dir("graft_zo01_")
    val o = Tables.orders(s, d)
      .withColumn("x", col("o_custkey") % 256)
      .withColumn("y", col("o_orderkey") % 256)
      .withColumn("z", zval(col("x"), col("y")))
    graft.Phases.timed("zo01_zorder_layout", "write") {
      o.repartitionByRange(16, col("z")).sortWithinPartitions("z")
        .write.mode("overwrite").parquet(out)
    }
    s.read.parquet(out)
  }

  /** The 2-D box aggregate over a (re-read) z-ordered layout. */
  def box(zo: DataFrame): DataFrame =
    zo.filter(col("x").between(32, 47) && col("y").between(64, 95))
      .agg(count(lit(1)).as("n_rows"),
        Det.dsum(col("o_totalprice")).as("sum_price"),
        sum(col("z")).cast("bigint").as("z_sum"))

  val all: Seq[GraftQuery] = Seq(zo01ZorderLayout)
}
