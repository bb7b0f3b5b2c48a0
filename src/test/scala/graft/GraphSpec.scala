package graft

import org.scalatest.funsuite.AnyFunSuite

/** PageRank invariants beyond the oracle equality check. */
class GraphSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private def gr01 = Registry.all.find(_.name == "gr01_pagerank").get

  test("bfs levels alternate sides of the bipartite trade graph") {
    // Nodes encode customer=2k, supplier=2k+1; every edge crosses sides,
    // so distance parity must equal node parity (source is a customer).
    val rows = Registry.all.find(_.name == "gr03_bfs").get
      .build(spark, sf).collect()
    assert(rows.nonEmpty && rows.head.getLong(0) == 0L)
    rows.foreach { r =>
      val d = r.getLong(0); val minN = r.getLong(2); val maxN = r.getLong(3)
      assert(minN % 2 == d % 2 && maxN % 2 == d % 2,
        s"distance $d holds nodes of the wrong side: $minN..$maxN")
    }
    // frontier growth: the dense trade graph reaches both sides
    assert(rows.length >= 3, "BFS should reach at least distance 2")
  }

  test("pagerank top-25 is positive, descending, and deterministic across runs") {
    val a = gr01.build(spark, sf).collect().toSeq
    val b = gr01.build(spark, sf).collect().toSeq
    assert(a.size == 25)
    val ranks = a.map(_.getLong(1))
    assert(ranks.forall(_ > 0L))
    assert(ranks == ranks.sorted.reverse, "not descending")
    // Integer fixed-point makes the whole iteration exact, so two runs
    // must agree bit-for-bit despite different shuffle schedules.
    assert(a == b)
  }

  test("hits scores are deterministic and the per-role top-k uses the TopK operator") {
    val gr02 = Registry.all.find(_.name == "gr02_hits").get
    val a = gr02.build(spark, sf).collect().toSeq
    val b = gr02.build(spark, sf).collect().toSeq
    // sf0.001 has only 10 suppliers: authority side caps below k=15
    assert(a.size == 25 && a == b)
    assert(a.count(_.getString(0) == "hub") == 15)
    val plan = gr02.build(spark, sf).queryExecution.executedPlan.toString
    assert("TopK".r.findAllIn(plan).size >= 2,
      "per-role top-15 must run through the k-bounded TopK operator\n" + plan.take(2000))
  }

  test("pagerank final top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = gr01.build(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("recursive-CTE BFS (gr05) reproduces the driver-loop BFS (gr03) exactly, and plans a loop") {
    // same graph, source, and depth — the engine-iterated WITH
    // RECURSIVE and the per-round driver loop must agree row-for-row
    val loop = Registry.all.find(_.name == "gr03_bfs").get
      .build(spark, sf).collect().toSeq
    val rec = Registry.all.find(_.name == "gr05_recursive_bfs").get
      .build(spark, sf).collect().toSeq
    assert(rec == loop && rec.nonEmpty)
    // the recursion must be a single engine-executed loop, not an
    // unrolled union of 4 levels. gr05's build now materializes the
    // result eagerly (the cteRecursionRowLimit raise is scoped to the
    // build — RegistrySweepSpec), so the RETURNED frame's plan is the
    // checkpoint scan; pin the loop on the recursion text itself over
    // a local edge view (r16: the build registers its view on the
    // input-sized CHILD session — Sessions.sizedFor — so this session
    // provides its own; only the plan SHAPE is under test).
    spark.range(1).selectExpr("id AS src", "id AS dst")
      .createOrReplaceTempView("edges_rc")
    val recPlan = spark.sql(
      """WITH RECURSIVE walk(node, d) AS (
        |  SELECT CAST(2 AS BIGINT) AS node, 0 AS d
        |  UNION ALL
        |  SELECT DISTINCT e.dst AS node, w.d + 1 AS d
        |  FROM walk w JOIN edges_rc e ON e.src = w.node
        |  WHERE w.d < 4)
        |SELECT COUNT(*) FROM walk""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(recPlan.contains("UnionLoop"),
      "WITH RECURSIVE must plan as an engine loop\n" + recPlan.take(2000))
  }

  test("star contraction: adversarial path graphs get exact components in logarithmic rounds") {
    import org.apache.spark.sql.functions._
    // two path components — the diameter worst case where per-hop
    // propagation (gr03's frontier, dd08's label fold) pays Θ(n) rounds
    val e1 = spark.range(127).select((col("id") + 1).as("u"), col("id").as("v"))
    val e2 = spark.range(63)
      .select((col("id") + 1001).as("u"), (col("id") + 1000).as("v"))
    // the loop itself, at width 4: starContraction would finish these
    // 190 edges in one union-find task
    val (labels, rounds) =
      graft.operators.GraphQueries.starLoop(e1.unionAll(e2), 4)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 128 + 64, s"every vertex labeled once, got ${got.size}")
    (0L to 127L).foreach(n => assert(got(n) == 0L, s"node $n -> ${got(n)}"))
    (1000L to 1063L).foreach(n => assert(got(n) == 1000L, s"node $n -> ${got(n)}"))
    assert(rounds <= 10,
      s"128-node path must contract logarithmically (BFS-style would need ~64), took $rounds")
  }

  test("incremental contraction: warm start from base labels + delta equals cold full run") {
    import org.apache.spark.sql.functions._
    val full = spark.range(63).select((col("id") + 1).as("u"), col("id").as("v"))
    val base = full.filter((col("u") + col("v")) % 3 =!= 0)
    val delta = full.filter((col("u") + col("v")) % 3 === 0)
    // the loop itself, at width 4 (see the path-graph test)
    val (bl, _) = graft.operators.GraphQueries.starLoop(base, 4)
    val warm = bl.filter(col("node") =!= col("comp"))
      .select(col("node").as("u"), col("comp").as("v"))
      .unionAll(delta).distinct()
    val (wl, warmRounds) = graft.operators.GraphQueries.starLoop(warm, 4)
    val (cl, _) = graft.operators.GraphQueries.starLoop(full, 4)
    val got = wl.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = cl.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want, "warm-start labels must equal the cold recompute")
    // the warm input is stars-plus-stitches, not 63 raw hops
    assert(warmRounds <= 8, s"warm start should converge fast, took $warmRounds")
  }

  test("gr07 warm-start labels equal gr06 cold labels on the real graph") {
    def rows(name: String) = Registry.all.find(_.name == name).get
      .build(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows("gr07_incremental_components") == rows("gr06_connected_components"))
  }

  test("gr06 component labels agree with a per-hop reference fold on the real graph") {
    // independent re-derivation: min-label propagation to fixpoint over
    // the same sparsified edges, per-hop (the semantics, not the algorithm)
    import org.apache.spark.sql.functions._
    val gr06 = Registry.all.find(_.name == "gr06_connected_components").get
      .build(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // rebuild the edge frame exactly as gr06 does
    val items = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey").distinct()
    val ia = items.select(col("l_orderkey"), col("l_partkey").as("a"))
    val ib = items.select(col("l_orderkey").as("ok2"), col("l_partkey").as("b"))
    val e0 = ia.join(ib, col("l_orderkey") === col("ok2") && col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_co")).filter(col("n_co") >= 2)
    val undw = e0.select(col("a").as("src"), col("b").as("dst"), col("n_co"))
      .unionAll(e0.select(col("b").as("src"), col("a").as("dst"), col("n_co")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("n_co").desc, col("dst"))
    val edges = undw.withColumn("rk", row_number().over(w)).filter(col("rk") <= 20)
      .select(col("src").as("u"), col("dst").as("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // driver-side union-find over the small sf0.001 edge list
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val want = parent.keys.map(n => n -> find(n)).toMap
    // union-find roots are component minima only after a min-fold; normalize
    val minOf = want.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    assert(gr06.size == want.size)
    want.foreach { case (n, r) => assert(gr06(n) == minOf(r), s"node $n") }
  }
}
