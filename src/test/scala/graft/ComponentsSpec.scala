package graft

import graft.Pin.PinOps
import graft.operators.{Components, DedupQueries, GraphQueries}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Both ways the engine computes min-label connected components: the
  * one-task union-find every testdata SF takes, and the distributed
  * loops (dd08's label fold, large-star/small-star) that run above the
  * width-1 bound. The loops run here at width 4, row for row against
  * the registry queries that took the one-task path. */
class ComponentsSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def query(name: String) = Registry.all.find(_.name == name).get
  private val testdata = s"${sys.props("user.home")}/testdata"

  private def labels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val out = Components.unionFind(edges.iterator).toSeq
    assert(out.map(_._1).distinct.size == out.size, "a node labeled twice")
    out.toMap
  }

  /** Reference: min-label propagation to the fixpoint. */
  private def fixpoint(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    var lbl = edges.flatMap { case (u, v) => Seq(u -> u, v -> v) }.toMap
    var changed = true
    while (changed) {
      val next = edges.foldLeft(lbl) { case (l, (u, v)) =>
        val m = math.min(l(u), l(v)); l.updated(u, m).updated(v, m)
      }
      changed = next != lbl
      lbl = next
    }
    lbl
  }

  test("union-find: two path components get their minima") {
    val paths = (0L until 127L).map(i => (i + 1, i)) ++
      (1000L until 1063L).map(i => (i + 1, i))
    val got = labels(paths)
    assert(got.size == 128 + 64)
    (0L to 127L).foreach(n => assert(got(n) == 0L, s"node $n"))
    (1000L to 1063L).foreach(n => assert(got(n) == 1000L, s"node $n"))
    // the same graph upside down: every edge reversed, last edge first
    assert(labels(paths.reverse.map(_.swap)) == got)
  }

  test("union-find: duplicate edges, both directions, self-loops, nodes seen only as v") {
    val edges = Seq((9L, 3L), (3L, 9L), (9L, 3L), // one edge three times
      (20L, 20L), // an isolated self-loop
      (3L, 3L), // a self-loop inside a component
      (12L, 7L), (15L, 7L), // 7 only ever appears as v
      (15L, 9L)) // joins the two stars through their larger members
    assert(labels(edges) ==
      Map(3L -> 3L, 7L -> 3L, 9L -> 3L, 12L -> 3L, 15L -> 3L, 20L -> 20L))
    assert(labels(Seq((4L, 8L))) == Map(4L -> 4L, 8L -> 4L)) // 8 only as v
    assert(labels(Nil).isEmpty)
  }

  test("union-find equals the min-label fixpoint on random multigraphs") {
    val rnd = new scala.util.Random(7)
    (1 to 20).foreach { _ =>
      val edges = Seq.fill(rnd.nextInt(300))(
        (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      assert(labels(edges) == fixpoint(edges))
    }
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("dd08's label fold refuses a chain it cannot converge on in 30 rounds") {
    // AQE off, as on dd08's sized session: under AQE the plan string
    // Spark builds for each round's action grows with every round, and
    // the heap runs out before the fold reaches its 30-round limit
    val narrow = Sessions.child(spark, "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.adaptive.enabled" -> "false")
    // docs i and i + 1 share bucket b<i>: one doc hop per fold round
    def chain(docs: Int) = narrow.createDataFrame((0 until docs - 1)
      .flatMap(i => Seq((i.toLong, s"b$i"), (i + 1L, s"b$i"))))
      .toDF("doc_id", "bucket")
    try {
      assert(rows(DedupQueries.labelFold(chain(12)).orderBy("doc_id")) ==
        (0L until 12L).map(Row(_, 0L)))
      val e = intercept[IllegalArgumentException](DedupQueries.labelFold(chain(40)))
      assert(e.getMessage.contains("dd08_dup_clusters"), e.getMessage)
    } finally Harness.release(spark)
  }

  Seq("sf0.001", "sf0.01").foreach { at =>
    val sf = s"$testdata/$at"

    test(s"dd08 at $at: the one-task path equals the label fold at width 4") {
      assert(Sessions.inputWidth(spark, sf, "documents") == 1L)
      val wide = Sessions.child(spark, "spark.sql.shuffle.partitions" -> "4")
      try {
        val inc = DedupQueries.shared(DedupQueries.incidence(wide, sf)).pinned
        val want = rows(DedupQueries.labelFold(inc).orderBy("doc_id"))
        assert(want.nonEmpty)
        assert(rows(query("dd08_dup_clusters").build(spark, sf)) == want)
      } finally Harness.release(spark)
    }

    test(s"dd20 at $at: the one-task path equals star contraction at width 4") {
      val wide = Sessions.child(spark, "spark.sql.shuffle.partitions" -> "4")
      try {
        val edges = DedupQueries.bucketStarEdges(DedupQueries.incidence(wide, sf)).pinned
        val want = rows(GraphQueries.starLoop(edges, 4)._1
          .select(col("node").as("doc_id"), col("comp").as("cluster_id"))
          .orderBy("doc_id"))
        assert(want.nonEmpty)
        assert(rows(query("dd20_star_components").build(spark, sf)) == want)
      } finally Harness.release(spark)
    }

    test(s"gr06 and gr07 at $at: the one-task path equals star contraction at width 4") {
      val wide = Sessions.child(spark, "spark.sql.shuffle.partitions" -> "4")
      def parts(labels: DataFrame) =
        rows(labels.select(col("node").as("part"), col("comp")).orderBy("part"))
      try {
        val edges = GraphQueries.sparsifiedEdges(wide, sf).pinned
        val cold = parts(GraphQueries.starLoop(edges, 4)._1)
        assert(cold.nonEmpty)
        assert(rows(query("gr06_connected_components").build(spark, sf)) == cold)
        // gr07's split, base labels and warm start, all through the loop
        val base = edges.filter((col("u") + col("v")) % 7 =!= 0)
        val delta = edges.filter((col("u") + col("v")) % 7 === 0)
        val baseLabels = GraphQueries.starLoop(base, 4)._1
        val warm = baseLabels.filter(col("node") =!= col("comp"))
          .select(col("node").as("u"), col("comp").as("v"))
          .unionAll(delta).distinct().pinned
        val incremental = parts(GraphQueries.starLoop(warm, 4)._1)
        assert(incremental == cold)
        assert(rows(query("gr07_incremental_components").build(spark, sf)) == incremental)
      } finally Harness.release(spark)
    }
  }

  Seq("dd08" -> "dd08_dup_clusters", "dd20" -> "dd20_star_components").foreach {
    case (id, name) =>
      test(s"$id at sf0.001 builds in at most 1 Spark job and runs in at most 3") {
        val sf = s"$testdata/sf0.001"
        try {
          val (df, build) = Profile.of(spark)(query(name).build(spark, sf))
          val built = build.jobs
          val forced = Profile.of(spark)(Harness.force(df))._2.jobs
          assert(built.size <= 1, s"build launched ${built.size} jobs")
          assert(built.size + forced.size <= 3,
            s"build and force launched ${built.size} + ${forced.size} jobs")
        } finally Harness.release(spark)
      }
  }
}
