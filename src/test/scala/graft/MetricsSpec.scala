package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MEASURED efficiency guards — the runtime-counter complement to
  * PlanSpec's plan-text pins. A pushdown that prints in the plan but
  * doesn't change what the scan reads is a lie; these tests assert the
  * actual task-level IO, via [[Profile.of]]. */
class MetricsSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  test("column pruning is real: projecting 2 columns reads fewer bytes than all columns") {
    val (_, narrow) = Profile.of(spark) {
      Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
        .agg(count(lit(1))).collect()
    }
    val (_, wide) = Profile.of(spark) {
      Tables.lineitem(spark, sf).groupBy().max("l_orderkey")
        .crossJoin(Tables.lineitem(spark, sf).agg(
          count(col("l_returnflag")), sum(col("l_extendedprice")),
          max(col("l_shipdate")), max(col("l_partkey")),
          max(col("l_suppkey")))).collect()
    }
    assert(narrow.inputBytes > 0)
    assert(narrow.inputBytes < wide.inputBytes,
      s"2-column scan read ${narrow.inputBytes}B, wider scan ${wide.inputBytes}B")
  }

  test("predicate pushdown is real: a selective filter reads fewer record(s)") {
    val (_, filtered) = Profile.of(spark) {
      Tables.orders(spark, sf).filter(col("o_orderkey") === 1L).collect()
    }
    val (_, full) = Profile.of(spark) {
      Tables.orders(spark, sf).agg(count(lit(1))).collect()
    }
    // row-group statistics can't skip everything at this file size, but
    // the filtered scan must not materialize every record
    assert(filtered.inputRecords <= full.inputRecords)
    assert(filtered.inputRecords > 0 || filtered.inputBytes > 0)
  }

  test("q01 aggregation shuffles only the partial-aggregate rows, not the corpus") {
    val (_, m) = Profile.of(spark) {
      SparkEntry.queries("q01_pricing_summary")(spark, sf).collect()
    }
    // partial+final: what crosses the exchange is per-partition GROUP
    // rows — bounded by (groups × partitions), independent of corpus
    // size. Without map-side combine the 60k input rows would cross
    // (hundreds of KB); with it, a few KB.
    assert(m.shuffleWriteBytes > 0, "expected a partial->final exchange")
    assert(m.inputRecords >= 60000L, s"q01 must scan lineitem (${m.inputRecords} records)")
    assert(m.shuffleWriteBytes < 64 * 1024,
      s"shuffled ${m.shuffleWriteBytes}B for a 4-group aggregate — map-side combine missing?")
  }

  test("sy02 pushed aggregation reads zero bytes and a handful of partial records") {
    val (_, m) = Profile.of(spark) {
      SparkEntry.queries("sy02_agg_pushdown")(spark, sf).collect()
    }
    // closed-form partials: one row per surviving partition, no input IO
    assert(m.inputBytes == 0, s"connector-side aggregation read ${m.inputBytes}B")
    assert(m.inputRecords <= 8, s"expected <=8 partial rows, got ${m.inputRecords}")
  }

  test("broadcast join moves no fact bytes through a shuffle (q05)") {
    val (_, m) = Profile.of(spark) {
      SparkEntry.queries("q05_join_broadcast")(spark, sf).collect()
    }
    // dims broadcast, so NO fact row ever crosses an exchange: the only
    // shuffles carry aggregated group rows (KB-scale, corpus-size
    // independent). A shuffled fact join would move the scanned
    // lineitem rows (hundreds of KB at sf0.01, GBs at scale).
    // q05's pushed fact predicate already prunes row groups, so the
    // record count is well below full scan — just require real volume
    assert(m.inputRecords >= 10000L, s"q05 must scan fact rows (${m.inputRecords} records)")
    assert(m.shuffleWriteBytes < 64 * 1024,
      s"shuffled ${m.shuffleWriteBytes}B — fact rows crossing an exchange?")
  }

  test("a job another thread started is not profiled") {
    // started before the profile, so it does not inherit its scope
    val latch = new java.util.concurrent.CountDownLatch(1)
    @volatile var scanned = -1L
    val other = new Thread(() => {
      latch.await()
      scanned = Tables.lineitem(spark, sf).agg(count(lit(1))).head().getLong(0)
    })
    other.start()
    val (_, m) = Profile.of(spark) { latch.countDown(); other.join() }
    assert(scanned > 0)
    assert(m.jobs.isEmpty, s"profiled ${m.jobs.size} jobs another thread started")
    assert(m.inputBytes == 0, s"counted ${m.inputBytes}B another thread read")
  }
}
