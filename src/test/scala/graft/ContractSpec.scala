package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke tests for the driver contract surface. */
class ContractSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows and is the pricing-summary flagship") {
    val e = SparkEntry.entry(spark)
    assert(e.count() > 0)
    assert(e.columns.contains("sum_charge"), "entry must be q01_pricing_summary")
  }

  test("every oracleSql key has a queries entry, names are unique") {
    val q = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(q.keySet))
    assert(Registry.all.map(_.name).distinct.size == Registry.all.size)
  }

  test("each query family executes at sf0.001") {
    Seq("q01_pricing_summary", "dd04_minhash_signatures", "tx01_token_stats",
      "sm02_simhash_buckets", "ev02_sessionize").foreach { name =>
      assert(SparkEntry.queries(name)(spark, sf).count() > 0, name)
    }
  }

  /** Blanket determinism sweep: EVERY registry query, run twice,
    * must return identical rows in identical order. This is the local
    * face of the driver's hash compare — any query that depends on
    * shuffle order (an unguarded float sum, a missing ORDER BY, an
    * unstable tie-break) fails here before it flakes there. The
    * representative sample keeps suite time bounded while the full
    * sweep runs under -Dgraft.sweep=all. */
  test("registry queries are run-to-run deterministic") {
    val names =
      if (sys.props.get("graft.sweep").contains("all"))
        Registry.all.map(_.name)
      else Seq(
        // one per family, favoring the shapes most at risk: iterative
        // loops, window ranks, sketches, float outputs, write paths
        "gr01_pagerank", "gr02_hits", "hll02_oracle_distinct",
        "hll03_sketch_rollup", "cm01_countmin", "ws01_winsorize",
        "it01_interpolate", "dd08_dup_clusters", "dd10_production_lsh",
        "dd12_incremental_admission", "ivf03_kmeans_train",
        "ivf05_trained_search", "tx13_tfidf", "oov01_vocab_coverage",
        "sy01_synth_source", "q33_topk_operator", "cc01_curation_pipeline",
        // round-8 shapes: distributed rank, sketch-filtered exact
        // verify, order-independent checksum, closed-form water level
        "dd15_sorted_neighborhood", "cm03_heavy_hitters",
        "q53_table_checksum", "mx03_budget_mix", "sy02_agg_pushdown",
        // one-task union-find components next to dd08's
        "dd20_star_components", "gr07_incremental_components")
    names.foreach { name =>
      val build = SparkEntry.queries(name)
      val a = build(spark, sf).collect().toSeq
      val b = build(spark, sf).collect().toSeq
      assert(a == b, s"$name differs between two runs")
    }
  }
}
