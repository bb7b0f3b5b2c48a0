package graft

import graft.mr.{MapReduceJob, MapReduceRunner}
import graft.sources.{Corpus, MultiGlob, PathGlob}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  // fixed width: partition-count and plan assertions are written for 4 cores
  lazy val spark: SparkSession = Harness.session(cpus = 4)
}

/** Ports of the reference's end-to-end semantic tests
  * (mapreduce_test.go) onto the Spark-native engine: same fixtures,
  * same invariants (9 newlines, sum 195, child·parent products,
  * ancestor-stack depths, fail-fast errors, 1000-file smoke). */
/** Serializable helpers — mapper closures must not capture the suite. */
object MrTestFns extends Serializable {
  def parseValue(bytes: Array[Byte]): Int = {
    val m = """"value":\s*(\d+)""".r.findFirstMatchIn(new String(bytes, "UTF-8"))
    m.map(_.group(1).toInt).getOrElse(sys.error("no value"))
  }
}

class MapReduceSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._
  import MrTestFns.parseValue
  private def spark = TestSpark.spark
  private val fixtures = "src/test/resources/refFixtures"

  test("TestLineCounter: 9 newlines across a/**.txt (mapreduce_test.go:106-137)") {
    val job = MapReduceJob[Int, Int](
      name = "lines",
      filter = PathGlob("**/*.txt"),
      mapper = (_, _, content) => Iterator.single(content.count(_ == '\n'.toByte)),
      zero = 0, fold = _ + _, merge = _ + _)
    val res = MapReduceRunner.runOnDirectory(spark, s"$fixtures/a", Seq(job))
    assert(res("lines") == 9)
  }

  test("TestLineSum: sum 195 via record-splitting mapper (mapreduce_test.go:139-183)") {
    val job = MapReduceJob[Int, Int](
      name = "sum",
      filter = PathGlob("**/*.txt"),
      // one output per line — the flatMap/record-splitting shape
      mapper = (_, _, content) =>
        new String(content, "UTF-8").split("\n").iterator
          .filter(_.nonEmpty).map(_.toInt),
      zero = 0, fold = _ + _, merge = _ + _)
    val res = MapReduceRunner.runOnDirectory(spark, s"$fixtures/a", Seq(job))
    assert(res("sum") == 195)
  }

  test("filter routing: */c/*.txt maps only a/c/f.txt (mapreduce_test.go:65-78)") {
    val job = MapReduceJob[String, List[String]](
      name = "routed",
      filter = PathGlob("*/c/*.txt"),
      mapper = (path, _, _) => Iterator.single(path),
      zero = Nil, fold = (acc, p) => p :: acc, merge = _ ++ _)
    val res = MapReduceRunner.runOnDirectory(spark, fixtures, Seq(job))
    assert(res("routed") == List("a/c/f.txt"))
  }

  test("TestDirectoryFiles: child*parent = 6 (mapreduce_test.go:403-429)") {
    val job = MapReduceJob[Int, Int](
      name = "product",
      filter = PathGlob("*/*.json"),
      directoryFiles = Some(PathGlob("*.json")),
      mapper = (_, parents, content) =>
        Iterator.single(parents.map(parseValue).product * parseValue(content)),
      zero = 0, fold = _ + _, merge = _ + _)
    val res = MapReduceRunner.runOnDirectory(spark, s"$fixtures/json", Seq(job))
    assert(res("product") == 6)
  }

  test("ExampleMapReduce: sum of child*parent = 14 (mapreduce_test.go:553-603)") {
    val job = MapReduceJob[Int, Int](
      name = "example",
      filter = PathGlob("*/*.json"),
      directoryFiles = Some(PathGlob("parent.json")),
      mapper = (_, parents, content) =>
        Iterator.single(parents.map(parseValue).product * parseValue(content)),
      zero = 0, fold = _ + _, merge = _ + _)
    val res = MapReduceRunner.runOnDirectory(spark, s"$fixtures/example", Seq(job))
    assert(res("example") == 14)
  }

  private def virtualTree = Seq(
    "folder/folder/folder/map.txt" -> "data".getBytes,
    "folder/folder/file.txt" -> "ctx2".getBytes,
    "folder/file.txt" -> "ctx1".getBytes,
    "file.txt" -> "ctx0".getBytes)

  test("TestMultipleDirectoryFiles: 3 ancestors visible (mapreduce_test.go:431-461)") {
    val corpus = Corpus.fromRecords(spark, virtualTree)
    val job = MapReduceJob[Int, Int](
      name = "nparents",
      filter = PathGlob("**/map.txt"),
      directoryFiles = Some(MultiGlob(Seq(PathGlob("file.txt"), PathGlob("**/file.txt")))),
      mapper = (_, parents, _) => Iterator.single(parents.size),
      zero = 0, fold = _ + _, merge = _ + _)
    val res = MapReduceRunner.run(spark, corpus, Seq(job))
    assert(res("nparents") == 3)
  }

  test("TestDirectoryFilesWithMultipleJobs: per-job stacks differ (mapreduce_test.go:463-503)") {
    val corpus = Corpus.fromRecords(spark, virtualTree)
    def job(n: String, dirGlobs: Seq[String]) = MapReduceJob[Int, Int](
      name = n,
      filter = PathGlob("**/map.txt"),
      directoryFiles = Some(PathGlob(dirGlobs)),
      mapper = (_, parents, _) => Iterator.single(parents.size),
      zero = 0, fold = _ + _, merge = _ + _)
    val res = MapReduceRunner.run(spark, corpus, Seq(
      job("two", Seq("file.txt", "folder/file.txt")),
      job("one", Seq("file.txt"))))
    assert(res("two") == 2)
    assert(res("one") == 1)
  }

  test("parents are ordered root→leaf (work.go:82-91 append order)") {
    val corpus = Corpus.fromRecords(spark, virtualTree)
    val job = MapReduceJob[Seq[String], Seq[String]](
      name = "order",
      filter = PathGlob("**/map.txt"),
      directoryFiles = Some(PathGlob(Seq("file.txt", "**/file.txt"))),
      mapper = (_, parents, _) =>
        Iterator.single(parents.map(b => new String(b, "UTF-8"))),
      zero = Nil, fold = (_, v) => v, merge = (a, b) => if (b.nonEmpty) b else a)
    val res = MapReduceRunner.run(spark, corpus, Seq(job))
    assert(res("order") == Seq("ctx0", "ctx1", "ctx2"))
  }

  test("deep tree with context GAPS: stack keeps root→leaf order across missing levels (work.go:82-91)") {
    // 6-level tree where levels 2 and 4 have NO directory file — the
    // reference's stack append (work.go:82-91) simply skips a folder
    // that contributes nothing, so the leaf must see the sparse
    // ancestor chain in root→leaf order with no placeholder for the
    // gaps; a ctx in a SIBLING branch must never leak in
    val corpus = Corpus.fromRecords(spark, Seq(
      "ctx.txt" -> "L0".getBytes,
      "a/ctx.txt" -> "L1".getBytes,
      // a/b has no ctx (gap)
      "a/b/c/ctx.txt" -> "L3".getBytes,
      // a/b/c/d has no ctx (gap)
      "a/b/c/d/e/ctx.txt" -> "L5".getBytes,
      "a/b/c/d/e/f/leaf.txt" -> "data".getBytes,
      "a/x/ctx.txt" -> "SIBLING".getBytes, // other branch
      "a/x/other.txt" -> "data".getBytes))
    val job = MapReduceJob[Seq[String], Map[String, Seq[String]]](
      name = "deep",
      filter = PathGlob(Seq("**/leaf.txt", "**/other.txt")),
      directoryFiles = Some(PathGlob(Seq("ctx.txt", "**/ctx.txt"))),
      mapper = (path, parents, _) =>
        Iterator.single(Seq(path) ++ parents.map(b => new String(b, "UTF-8"))),
      zero = Map.empty,
      fold = (acc, v) => acc + (v.head -> v.tail),
      merge = _ ++ _)
    val res = MapReduceRunner.run(spark, corpus, Seq(job))("deep")
      .asInstanceOf[Map[String, Seq[String]]]
    assert(res("a/b/c/d/e/f/leaf.txt") == Seq("L0", "L1", "L3", "L5"))
    assert(res("a/x/other.txt") == Seq("L0", "L1")) // SIBLING excluded (same folder), L3/L5 other branch
  }

  test("same-folder directory file is NOT a parent of its siblings (mapreduce.go:152-198)") {
    val corpus = Corpus.fromRecords(spark, Seq(
      "folder/file.txt" -> "ctx".getBytes,
      "folder/data.txt" -> "data".getBytes))
    val job = MapReduceJob[Int, Int](
      name = "siblings",
      filter = PathGlob("**/data.txt"),
      directoryFiles = Some(PathGlob("**/file.txt")),
      mapper = (_, parents, _) => Iterator.single(parents.size),
      zero = 0, fold = _ + _, merge = _ + _)
    assert(MapReduceRunner.run(spark, corpus, Seq(job))("siblings") == 0)
  }

  test("TestMappingLargeNumberOfItems: 1000 virtual files (mapreduce_test.go:513-531)") {
    val corpus = Corpus.fromRecords(spark,
      (0 until 1000).map(i => s"dir$i/f$i.txt" -> s"$i".getBytes))
    val job = MapReduceJob[Int, Int](
      name = "count1000",
      filter = PathGlob("**/*.txt"),
      mapper = (_, _, _) => Iterator.single(1),
      zero = 0, fold = _ + _, merge = _ + _)
    assert(MapReduceRunner.run(spark, corpus, Seq(job))("count1000") == 1000)
  }

  test("tree merge (spark.graft.mr.mergeDepth=2) ≡ driver merge under a forced high partition count") {
    // At 10⁵ partitions the default one-partial-per-partition driver
    // collect is a memory spike + serial merge hotspot; mergeDepth ≥ 2
    // runs treeAggregate's intermediate merges executor-side. Same
    // (zero, fold, merge) algebra → identical result, here pinned on a
    // 64-partition corpus with a NON-commutative-looking state (sum +
    // count + min/max) to catch any merge-order assumption.
    val corpus = Corpus.fromRecords(spark,
      (0 until 1000).map(i => s"dir$i/f$i.txt" -> s"$i".getBytes))
      .repartition(64)
    def job = MapReduceJob[Int, (Long, Long, Int, Int)](
      name = "stats",
      filter = PathGlob("**/*.txt"),
      mapper = (_, _, c) => Iterator.single(new String(c, "UTF-8").toInt),
      zero = (0L, 0L, Int.MaxValue, Int.MinValue),
      fold = (s, v) => (s._1 + v, s._2 + 1, math.min(s._3, v), math.max(s._4, v)),
      merge = (a, b) => (a._1 + b._1, a._2 + b._2,
        math.min(a._3, b._3), math.max(a._4, b._4)))
    val expected = (499500L, 1000L, 0, 999)
    assert(MapReduceRunner.run(spark, corpus, Seq(job))("stats") == expected)
    spark.conf.set("spark.graft.mr.mergeDepth", "2")
    try assert(MapReduceRunner.run(spark, corpus, Seq(job))("stats") == expected)
    finally spark.conf.unset("spark.graft.mr.mergeDepth")
  }

  test("TestMapperError: first error fails the run (mapreduce_test.go:195-274)") {
    val job = MapReduceJob[Int, Int](
      name = "boom",
      filter = PathGlob("**/*.txt"),
      mapper = (path, _, _) =>
        if (path.endsWith("f.txt")) throw new IllegalStateException(s"mapper failed on $path")
        else Iterator.single(1),
      zero = 0, fold = _ + _, merge = _ + _)
    val e = intercept[Exception] {
      MapReduceRunner.runOnDirectory(spark, s"$fixtures/a", Seq(job))
    }
    // typed context (errors.go:5-33): the failing JOB and PATH must be
    // readable from the exception chain, not just the raw mapper error
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(chain.contains("boom"), s"job name missing from: $chain")
    assert(chain.contains("c/f.txt"), s"failing path missing from: $chain")
  }

  test("a directory file matching the job filter is itself also mapped (mapreduce.go:179-181)") {
    val corpus = Corpus.fromRecords(spark, Seq(
      "a/ctx.txt" -> "1".getBytes,
      "a/b/leaf.txt" -> "2".getBytes))
    val job = MapReduceJob[(String, Int), List[(String, Int)]](
      name = "both",
      filter = PathGlob(Seq("**/ctx.txt", "**/leaf.txt")),
      directoryFiles = Some(PathGlob("**/ctx.txt")),
      mapper = (path, parents, _) => Iterator.single(path -> parents.size),
      zero = Nil, fold = (acc, v) => v :: acc, merge = _ ++ _)
    val res = MapReduceRunner.run(spark, corpus, Seq(job))("both")
      .asInstanceOf[List[(String, Int)]].sortBy(_._1)
    // ctx.txt is mapped in its own right (with 0 parents — the
    // same-folder exclusion applies to it like any sibling) AND serves
    // as ancestor context for the strict subtree below its folder
    assert(res == List("a/b/leaf.txt" -> 1, "a/ctx.txt" -> 0))
  }

  test("multi-job single materialization: two jobs over one cached corpus (mapreduce.go:162-184)") {
    val lines = MapReduceJob[Int, Int](
      name = "lines", filter = PathGlob("**/*.txt"),
      mapper = (_, _, c) => Iterator.single(c.count(_ == '\n'.toByte)),
      zero = 0, fold = _ + _, merge = _ + _)
    val sum = MapReduceJob[Int, Int](
      name = "sum", filter = PathGlob("**/*.txt"),
      mapper = (_, _, c) =>
        new String(c, "UTF-8").split("\n").iterator.filter(_.nonEmpty).map(_.toInt),
      zero = 0, fold = _ + _, merge = _ + _)
    val res = MapReduceRunner.runOnDirectory(spark, s"$fixtures/a", Seq(lines, sum))
    assert(res == Map("lines" -> 9, "sum" -> 195))
  }

  test("finish receives the reduced value (ref Finalizer, interfaces.go:66-78)") {
    val sink = new java.util.concurrent.atomic.AtomicInteger(-1)
    val job = MapReduceJob[Int, Int](
      name = "finish",
      filter = PathGlob("**/*.txt"),
      mapper = (_, _, c) =>
        new String(c, "UTF-8").split("\n").iterator.filter(_.nonEmpty).map(_.toInt),
      zero = 0, fold = _ + _, merge = _ + _,
      finish = (r: Int) => { sink.set(r); () })
    MapReduceRunner.runOnDirectory(spark, s"$fixtures/a", Seq(job))
    assert(sink.get() == 195)
  }

  test("sortKey gives partition-sorted streams (interfaces.go:54 batch-sort semantics)") {
    val corpus = Corpus.fromRecords(spark,
      (0 until 100).map(i => s"f$i.txt" -> s"${100 - i}".getBytes))
    val job = MapReduceJob[Int, List[Int]](
      name = "sorted",
      filter = PathGlob("*.txt"),
      mapper = (_, _, c) => Iterator.single(new String(c, "UTF-8").toInt),
      zero = Nil,
      fold = (acc, v) => v :: acc, // reversed per-partition stream
      merge = _ ++ _,
      sortKey = Some((v: Int) => v.toLong))
    val res = MapReduceRunner.run(spark, corpus, Seq(job))("sorted")
      .asInstanceOf[List[Int]]
    // each partition's stream arrived ascending ⇒ each folded chunk is
    // descending after the prepend-reverse; globally we just check the
    // multiset and that chunks exist
    assert(res.toSet == (1 to 100).toSet)
  }

  test("concurrent multi-job: jobs overlap AND match serial results (mapreduce.go:41-93)") {
    // 4 jobs over a ONE-file corpus, each with a 500ms mapper stall:
    // every job is a single sleeping task, so serial submission is
    // bounded below by 4 × 500ms = 2.0s while concurrent submission
    // runs the 4 stalls at once on local[4] (~500ms) — an
    // underutilizing job is exactly the shape concurrency rescues.
    val corpus = Corpus.fromRecords(spark, Seq("f0.txt" -> "7".getBytes))
    def job(n: Int) = MapReduceJob[Int, Int](
      name = s"slow$n",
      filter = PathGlob("*.txt"),
      mapper = (_, _, c) => {
        Thread.sleep(500); Iterator.single(new String(c, "UTF-8").toInt + n)
      },
      zero = 0, fold = _ + _, merge = _ + _)
    val jobs = (0 until 4).map(job)
    val expect = (0 until 4).map(n => s"slow$n" -> (7 + n)).toMap

    spark.conf.set("spark.graft.mr.concurrency", "1")
    val serial =
      try MapReduceRunner.run(spark, corpus, jobs)
      finally spark.conf.unset("spark.graft.mr.concurrency")
    assert(serial == expect)

    val t0 = System.nanoTime()
    val conc = MapReduceRunner.run(spark, corpus, jobs) // default: concurrent
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(conc == expect)
    assert(conc == serial)
    // serial lower bound is 2000ms by construction; require genuine
    // overlap with slack for scheduler jitter
    assert(elapsedMs < 1500,
      s"concurrent run took ${elapsedMs}ms — jobs did not overlap")
  }

  test("concurrent multi-job: first error cancels the run and surfaces job+path (errors.go:5-33)") {
    val corpus = Corpus.fromRecords(spark,
      (0 until 4).map(i => s"f$i.txt" -> s"$i".getBytes))
    val boom = MapReduceJob[Int, Int](
      name = "boom", filter = PathGlob("*.txt"),
      mapper = (p, _, _) =>
        if (p == "f2.txt") throw new IllegalStateException("kaput")
        else Iterator.single(1),
      zero = 0, fold = _ + _, merge = _ + _)
    val slow = MapReduceJob[Int, Int](
      name = "slow", filter = PathGlob("*.txt"),
      mapper = (_, _, _) => { Thread.sleep(200); Iterator.single(1) },
      zero = 0, fold = _ + _, merge = _ + _)
    val e = intercept[Exception] {
      MapReduceRunner.run(spark, corpus, Seq(slow, boom))
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(chain.contains("boom") && chain.contains("f2.txt"))
  }
}
