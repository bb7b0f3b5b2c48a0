package graft

import org.scalatest.funsuite.AnyFunSuite

/** SCALING receipt (r17, verdict item 8): the two r16/r17 width seams
  * must be STRUCTURAL NO-OPS at scale — `Tables.fanout` returns its
  * input untouched when the scan already fills the parallelism, and
  * `Sessions.sizedFor` returns the parent session unchanged when the
  * input estimate saturates the width cap. These are the load-bearing
  * claims behind every "narrowed locally, unchanged at 100 TB"
  * argument in SCALING.md — pinned as tests, not prose. */
class ScaleSeamSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  test("fanout is an identity when the scan fills the parallelism") {
    val par = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 1000).toDF("id").repartition(par * 2)
    assert(Tables.fanout(wide) eq wide,
      "fanout must return the INPUT frame (no added exchange) when " +
        "input partitions >= defaultParallelism")
  }

  test("fanout spreads an under-parallel scan to the full width") {
    val par = spark.sparkContext.defaultParallelism
    val narrow = spark.range(0, 1000).toDF("id").coalesce(1)
    val spread = Tables.fanout(narrow)
    assert(spread.rdd.getNumPartitions == par)
    assert(spread.count() == 1000L)
  }

  /** Testdata root, one subdirectory per scale factor. */
  private val testdata = s"${sys.props("user.home")}/testdata"

  test("sizedFor returns the parent at the width cap") {
    // lineitem @sf0.1 is ~10.8 MB, so bytes/1 MB + 1 >= the 4-core
    // session width: the PARENT session itself must come back — no
    // child, no conf change
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val sf = s"$testdata/sf0.1"
    val s = Sessions.sizedFor(spark, sf, "lineitem")
    assert(s eq spark)
    // and the adaptive flag must be irrelevant on that path
    val s2 = Sessions.sizedFor(spark, sf, "lineitem", adaptive = false)
    assert(s2 eq spark)
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") != "false",
      "the parent session's AQE conf must never be touched")
  }

  test("sizedFor narrows small inputs; adaptive=false applies to the child only") {
    val sf = s"$testdata/sf0.001"
    val c = Sessions.sizedFor(spark, sf, "documents", adaptive = false)
    assert(c ne spark)
    assert(c.conf.get("spark.sql.shuffle.partitions") == "1")
    assert(c.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") != "false")
    val c2 = Sessions.sizedFor(spark, sf, "documents")
    assert(c2.conf.get("spark.sql.adaptive.enabled", "true") != "false",
      "the default (adaptive = true) child keeps AQE on")
  }

  /** The byte rule gives the widths the earlier rows/50k rule gave, for
    * every sized table at every testdata scale, at 4 cores. */
  test("sizedFor widths per sized table and scale at 4 cores") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val expected = Seq(
      ("documents", "sf0.001", 1), ("documents", "sf0.01", 1), ("documents", "sf0.1", 1),
      ("embeddings", "sf0.001", 1), ("embeddings", "sf0.01", 1), ("embeddings", "sf0.1", 1),
      ("lineitem", "sf0.001", 1), ("lineitem", "sf0.01", 2), ("lineitem", "sf0.1", 4))
    val got = expected.map { case (table, sf, _) =>
      (table, sf, Sessions.sizedFor(spark, s"$testdata/$sf", table)
        .conf.get("spark.sql.shuffle.partitions").toInt)
    }
    assert(got == expected)
  }

  /** 20 files of 100 bytes in three folders. */
  private val smallTree =
    (0 until 20).map(i => s"d${i % 3}/f$i.txt" -> Array.fill[Byte](100)('x'.toByte))

  /** Spark's own packing of the tree at `root`, with no sizing. */
  private def packed(s: org.apache.spark.sql.SparkSession, root: String): Int =
    s.read.format("binaryFile").option("recursiveFileLookup", "true").load(root)
      .queryExecution.toRdd.getNumPartitions

  test("a small corpus tree reads as min(packed partitions, cores)") {
    val s = spark.newSession()
    // a 64 MB open cost packs two files per partition, so Spark's packing
    // alone gives more partitions than cores
    s.conf.set("spark.sql.files.openCostInBytes", (64L << 20).toString)
    TestTree.withTree(smallTree) { root =>
      val cores = s.sparkContext.defaultParallelism
      val p = packed(s, root)
      assert(p > cores)
      assert(sources.Corpus.read(s, root).queryExecution.toRdd.getNumPartitions ==
        math.min(p, cores))
    }
  }

  test("a corpus tree above cores x maxPartitionBytes keeps Spark's packing") {
    val s = spark.newSession()
    // 2,000 bytes of files against a 4 x 100-byte threshold
    s.conf.set("spark.sql.files.maxPartitionBytes", "100")
    TestTree.withTree(smallTree) { root =>
      val corpus = sources.Corpus.read(s, root)
      val plan = corpus.queryExecution.executedPlan.toString
      assert(!plan.contains("Coalesce"), plan)
      assert(corpus.queryExecution.toRdd.getNumPartitions == packed(s, root))
    }
  }

  test("a path-only projection of a sized corpus reads no content") {
    TestTree.withTree(smallTree) { root =>
      val p = sources.Corpus.read(spark, root).select("path")
        .queryExecution.executedPlan.toString
      assert(p.contains("Coalesce"), p)
      val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
      assert(readSchema.contains("path"), p)
      assert(!readSchema.contains("content"), readSchema)
    }
  }
}
