package graft

import graft.operators.SetSimJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Proves the prefix-filtered set-similarity join EXACT: its result
  * must equal the brute-force all-pairs join on every input, including
  * the adversarial shapes for prefix-length math — pairs exactly AT
  * the threshold, containment pairs of very different sizes (where the
  * per-set prefix bound ⌈τ·|x|⌉ is tight), and sets that share only
  * their commonest element (which prefix filtering must still keep
  * when the sizes qualify). */
class SetSimSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  /** brute force: all pairs sharing any element, exact Jaccard filter */
  private def brute(tok: DataFrame, tNum: Int, tDen: Int): Set[(Long, Long, Long, Long)] = {
    val sz = tok.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    tok.select(col("doc_id").as("a_id"), col("tok"))
      .join(tok.select(col("doc_id").as("b_id"), col("tok").as("tb")),
        col("tok") === col("tb") && col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("a_id"), col("sz").as("sa")), Seq("a_id"))
      .join(sz.select(col("doc_id").as("b_id"), col("sz").as("sb")), Seq("b_id"))
      .withColumn("union_sz", col("sa") + col("sb") - col("inter"))
      .filter(col("inter") * tDen >= col("union_sz") * tNum)
      .select("a_id", "b_id", "inter", "union_sz")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
  }

  private def run(tok: DataFrame, tNum: Int, tDen: Int,
      globalRankBytes: Long = SetSimJoin.GlobalRankBytes): Set[(Long, Long, Long, Long)] =
    SetSimJoin.setsimJoin(tok, tNum, tDen, globalRankBytes = globalRankBytes)
      .select("a_id", "b_id", "inter", "union_sz")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def toTok(sets: Seq[(Long, Seq[String])]): DataFrame = {
    val s = spark
    import s.implicits._
    sets.flatMap { case (id, es) => es.distinct.map(e => (id, e)) }
      .toDF("doc_id", "tok")
  }

  test("threshold-edge and containment fixtures match brute force exactly") {
    // τ = 3/5. Pair (1,2): inter 3, union 5 → jac = 0.6 EXACTLY (must
    // be kept). Pair (3,4): containment, sizes 3 vs 5, inter 3,
    // union 5 → exactly 0.6 with maximally different sizes. Pair
    // (5,6): inter 2, union 4 → 0.5 (must be dropped). Pair (7,8):
    // identical sets (jac 1). Doc 9 shares only the commonest element
    // with everyone — no qualifying pair.
    val common = "zz" // appears in many sets → sorts last, never in short prefixes
    val tok = toTok(Seq(
      1L -> Seq("a", "b", "c", "d"),
      2L -> Seq("a", "b", "c", "e"),
      3L -> Seq("p", "q", "r"),
      4L -> Seq("p", "q", "r", "s", "t"),
      5L -> Seq("u", "v", "w"),
      6L -> Seq("u", "v", "x"),
      7L -> Seq("h", "i", "j", common),
      8L -> Seq("h", "i", "j", common),
      9L -> Seq(common, "only9a", "only9b")))
    val got = run(tok, 3, 5)
    val want = brute(tok, 3, 5)
    assert(got == want, s"got=$got want=$want")
    assert(want.contains((1L, 2L, 3L, 5L)), "exact-threshold pair must survive")
    assert(want.contains((3L, 4L, 3L, 5L)), "containment threshold pair must survive")
    assert(want.contains((7L, 8L, 4L, 4L)), "identical sets")
    assert(!want.exists(p => p._1 == 5L && p._2 == 6L), "0.5 pair dropped")
  }

  test("ss01 on the real corpus equals brute force") {
    val sfDir = "/root/testdata/sf0.001"
    import graft.functions.TextFunctions
    val tok = Tables.documents(spark, sfDir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        explode(TextFunctions.shingles(col("text"), 3)).as("tok"))
    assert(run(tok, 3, 5) == brute(tok, 3, 5))
  }

  test("higher thresholds stay exact (τ = 9/10)") {
    val tok = toTok(Seq(
      1L -> (1 to 20).map(i => s"t$i"),
      2L -> ((1 to 19).map(i => s"t$i") :+ "x1"), // inter 19, union 21 → .905? no: 19/21 < .9 drop
      3L -> (1 to 20).map(i => s"t$i"), // identical to 1
      4L -> ((1 to 18).map(i => s"t$i") ++ Seq("y1", "y2"))))
    assert(run(tok, 9, 10) == brute(tok, 9, 10))
  }

  /** brute-force containment: all pairs (a≠b), |A∩B|·tDen ≥ |A|·tNum */
  private def bruteCont(tok: DataFrame, tNum: Int, tDen: Int): Set[(Long, Long, Long, Long)] = {
    val sz = tok.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    tok.select(col("doc_id").as("a_id"), col("tok"))
      .join(tok.select(col("doc_id").as("b_id"), col("tok").as("tb")),
        col("tok") === col("tb") && col("a_id") =!= col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("a_id"), col("sz").as("a_sz")), Seq("a_id"))
      .filter(col("inter") * tDen >= col("a_sz") * tNum)
      .select("a_id", "b_id", "inter", "a_sz")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
  }

  private def runCont(tok: DataFrame, tNum: Int, tDen: Int): Set[(Long, Long, Long, Long)] =
    SetSimJoin.containmentJoin(tok, tNum, tDen)
      .select("a_id", "b_id", "inter", "a_sz")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("containment join: strict subsets, asymmetry, threshold edges match brute force") {
    // τ = 9/10. Doc 1 ⊂ doc 2 (containment 1.0 forward, 10/20 = 0.5
    // reverse — asymmetry must hold). Doc 3 has 9 of its 10 elements
    // in doc 2 → exactly 0.9, must be KEPT. Doc 4 has 8/10 → dropped.
    val tok = toTok(Seq(
      1L -> (1 to 10).map(i => s"e$i"),
      2L -> (1 to 20).map(i => s"e$i"),
      3L -> ((1 to 9).map(i => s"e$i") :+ "z3"),
      4L -> ((1 to 8).map(i => s"e$i") ++ Seq("z4a", "z4b"))))
    val got = runCont(tok, 9, 10)
    val want = bruteCont(tok, 9, 10)
    assert(got == want, s"got=$got want=$want")
    assert(want.contains((1L, 2L, 10L, 10L)), "strict subset kept, containment 1.0")
    assert(!want.exists(p => p._1 == 2L && p._2 == 1L),
      "reverse direction (0.5) must NOT qualify — containment is asymmetric")
    assert(want.contains((3L, 2L, 9L, 10L)), "exact-threshold 0.9 pair kept")
    assert(!want.exists(_._1 == 4L), "0.8 pair dropped")
  }

  test("ss02 containment on the real corpus equals brute force") {
    val sfDir = "/root/testdata/sf0.001"
    import graft.functions.TextFunctions
    val tok = Tables.documents(spark, sfDir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        explode(TextFunctions.shingles(col("text"), 3)).as("tok"))
    assert(runCont(tok, 9, 10) == bruteCont(tok, 9, 10))
  }

  test("vocab-rank branches agree; harness default stays the window path (r17 escape hatch)") {
    val sfDir = "/root/testdata/sf0.001"
    import graft.functions.TextFunctions
    val tok = Tables.documents(spark, sfDir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        explode(TextFunctions.shingles(col("text"), 3)).as("tok"))
    // the threshold forces a branch: every size exceeds -1 (global),
    // none exceeds Long.MaxValue at this scale (window). Both rank the
    // same strict total order (tf, tok), so the JOIN OUTPUT must be
    // identical
    val win = run(tok, 3, 5, globalRankBytes = Long.MaxValue)
    val glob = run(tok, 3, 5, globalRankBytes = -1L)
    assert(win == glob, "window and global vocab-rank branches must agree")
    // the default threshold at harness input sizes resolves to the
    // window branch (the measured-faster local constant); forced
    // global must drop the single-task window sort from the plan
    val autoPlan = SetSimJoin.setsimJoin(tok, 3, 5)
      .queryExecution.optimizedPlan.toString
    assert(autoPlan.contains("row_number"),
      "the default threshold at harness scale must keep the in-task window rank")
    val globPlan = SetSimJoin.setsimJoin(tok, 3, 5, globalRankBytes = -1L)
      .queryExecution.optimizedPlan.toString
    assert(!globPlan.contains("row_number"),
      "the global branch must not contain the single-task window rank")
  }
}
