package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[graft.operators.Rank.discretePercentiles]] — the distributed
  * range-partitioned exact-rank selection that replaced the
  * low-cardinality `row_number` window (round-3 verdict's scale-killer):
  *  - values equal a single-node sort's value at rank (n·pct+99) div 100;
  *  - the plan is the scale-safe shape (range exchange present; every
  *    window partition key includes the shuffle-partition id, so no
  *    window partition is ever a whole group);
  *  - the mergeable GK-sketch variant (percentile_approx) stays within
  *    its rank-error bound of the exact values.
  */
class RankSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def exactByHand(pct: Int): Map[String, Double] = {
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (g, vs) =>
        val sorted = vs.map(_._2).sorted
        val rank = (sorted.length.toLong * pct + 99) / 100 // 1-based ceil
        g -> sorted((rank - 1).toInt)
      }
    rows
  }

  test("distributed discrete rank equals single-node sort at every pinned pct") {
    val got = graft.operators.Rank.discretePercentiles(
        Tables.lineitem(spark, sf), "l_returnflag", "l_extendedprice",
        Seq("p05" -> 5, "p50" -> 50, "p95" -> 95))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val (e05, e50, e95) = (exactByHand(5), exactByHand(50), exactByHand(95))
    assert(got.keySet == e50.keySet)
    got.foreach { case (g, (p05, p50, p95)) =>
      assert(p05 == e05(g), s"p05($g)")
      assert(p50 == e50(g), s"p50($g)")
      assert(p95 == e95(g), s"p95($g)")
    }
  }

  test("one refinement level over pinned cohort frames selects the single-node sort values") {
    // the pinned (persisted) cohort frames feed every pass of the
    // heaviest multi-pass consumer
    val refined = graft.operators.Rank.discretePercentiles(
        Tables.lineitem(spark, sf), "l_returnflag", "l_extendedprice",
        Seq("p50" -> 50), refineLevels = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(refined == exactByHand(50), "refineLevels=1")
  }

  test("rank plan never shuffles or sorts the fact table") {
    val p = SparkEntry.queries("ws01_winsorize")(spark, sf)
      .queryExecution.executedPlan.toString
    val lower = p.linesIterator.map(_.toLowerCase).toSeq
    // the fact table's value column must never be shuffle-sorted: the
    // final tiny orderBy on the group key may range-partition its
    // 3-row result, but no range exchange may carry v
    lower.filter(_.contains("rangepartitioning")).foreach(l =>
      assert(!l.contains("v#"),
        "histogram selection must not range-shuffle the fact table:\n" + l))
    // the only fact-side ordering allowed is the hit-bucket rank: every
    // sort or window touching v must be keyed by tag# — a column that
    // exists only AFTER the broadcast hit-bucket join filtered the
    // table down to ≈ n/B rows per (group, pct)
    val windows = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.exists(_.contains("tag#")),
      "expected the per-(group, pct) hit-bucket rank window\n" + p.take(3000))
    lower.filter(l => l.contains("sort [") && l.contains("v#")).foreach(l =>
      assert(l.contains("tag#"),
        "a sort over v without the hit-bucket tag sorts a whole group in one task:\n" + l))
  }

  test("refinement levels guard degenerate distributions (99%-constant column)") {
    // v = 0.0 for ~99% of rows: equi-width bucketing dumps the giant
    // constant mass into bucket 0, which refinement answers from its
    // extent (lo == hi) WITHOUT ordering it; the 1% tail still ranks
    // exactly. Values must equal the single-node sort at every pct.
    val skewed = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"),
        when(col("l_orderkey") % 100 === 0, col("l_extendedprice"))
          .otherwise(lit(0.0)).as("v"))
    val byHand = skewed.collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (g, vs) =>
        val sorted = vs.map(_._2).sorted
        def at(pct: Int) = sorted(((sorted.length.toLong * pct + 99) / 100 - 1).toInt)
        g -> (at(50), at(99))
      }
    val got = graft.operators.Rank.discretePercentiles(
        skewed, "l_returnflag", "v",
        Seq("p50" -> 50, "p99" -> 99), refineLevels = 2)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet == byHand.keySet)
    byHand.foreach { case (g, (e50, e99)) =>
      assert(got(g)._1 == e50, s"p50($g)")
      assert(got(g)._2 == e99, s"p99($g)")
    }
  }

  test("property: random multisets match single-node sort at every level") {
    // adversarial value shapes: duplicates, negatives, constants, skew —
    // the selection must equal the in-memory sorted answer whatever the
    // distribution and however many refinement levels run
    val valueGen: Gen[Double] = Gen.frequency(
      3 -> Gen.choose(-1000, 1000).map(_.toDouble), // heavy duplication
      2 -> Gen.oneOf(0.0, 1.0, -1.0),               // near-constant mass
      2 -> Gen.choose(-1e9, 1e9),                    // continuous spread
      1 -> Gen.oneOf(1e-9, -1e-9, 123.456))
    val dataGen: Gen[List[(String, Double)]] = for {
      nGroups <- Gen.choose(1, 4)
      rows <- Gen.listOfN(120, for {
        g <- Gen.choose(0, nGroups - 1).map(i => s"g$i")
        v <- valueGen
      } yield (g, v))
    } yield rows
    val pcts = Seq("p01" -> 1, "p50" -> 50, "p95" -> 95, "p100" -> 100)
    var seed = Seed(7L)
    (0 until 8).foreach { _ =>
      dataGen.apply(Gen.Parameters.default, seed).foreach { rows =>
        val expected = rows.groupBy(_._1).map { case (g, vs) =>
          val sorted = vs.map(_._2).sorted
          g -> pcts.map { case (_, p) =>
            sorted(((sorted.length.toLong * p + 99) / 100 - 1).toInt) }
        }
        import scala.jdk.CollectionConverters._
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("g",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.DoubleType)))
        val df = spark.createDataFrame(
          rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
        Seq(0, 1, 2).foreach { levels =>
          val got = graft.operators.Rank.discretePercentiles(
              df, "g", "v", pcts, buckets = 8, refineLevels = levels)
            .collect().map(r => r.getString(0) ->
              pcts.indices.map(i => r.getDouble(i + 1)).toSeq).toMap
          Harness.release(spark)
          assert(got.keySet == expected.keySet, s"levels=$levels")
          expected.foreach { case (g, exp) =>
            assert(got(g) == exp, s"levels=$levels group=$g")
          }
        }
      }
      seed = seed.next
    }
  }

  test("percentile_approx sketch lands within rank-error of the exact values") {
    // accuracy=10000 → rank error eps = 1/10000; at sf0.001 group sizes
    // (~2k rows) the sketch should be exact-or-adjacent. Bound by value
    // distance between the exact ranks at pct ± 1 (generous envelope).
    val exact = SparkEntry.queries("ap01_approx_quantiles")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val sketch = graft.operators.RelationalQueries.ap01Sketch(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(sketch.keySet == exact.keySet)
    sketch.foreach { case (g, (s50, s95)) =>
      val (e50, e95) = exact(g)
      assert(math.abs(s50 - e50) <= 0.02 * math.abs(e50) + 1e-9,
        s"$g p50 sketch $s50 vs exact $e50")
      assert(math.abs(s95 - e95) <= 0.02 * math.abs(e95) + 1e-9,
        s"$g p95 sketch $s95 vs exact $e95")
    }
  }
}
