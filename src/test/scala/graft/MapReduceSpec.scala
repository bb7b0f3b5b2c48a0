package graft

import graft.mr.{MapReduceJob, MapReduceRunner}
import graft.sources.{Corpus, MultiGlob, PathGlob}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

object TestSpark {
  // fixed width: partition-count and plan assertions are written for 4 cores
  lazy val spark: SparkSession = Harness.session(cpus = 4)

}

/** Small file trees on disk for the corpus and runner specs. */
object TestTree {
  /** Runs `body` on the absolute root of a new temporary tree holding
    * `files` (root-relative path → content), then deletes the tree. */
  def withTree[A](files: Seq[(String, Array[Byte])])(body: String => A): A = {
    val root = java.nio.file.Files.createTempDirectory("graft-tree").toFile
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    try {
      files.foreach { case (rel, content) =>
        val f = new java.io.File(root, rel)
        f.getParentFile.mkdirs()
        java.nio.file.Files.write(f.toPath, content)
      }
      body(root.getAbsolutePath)
    } finally rm(root)
  }
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

  test("driver merge folds one partial per task over 64 partitions") {
    // One partial per task reaches the driver and merges there with the
    // job's (zero, fold, merge) algebra, pinned on a 64-partition
    // corpus with a NON-commutative-looking state (sum + count +
    // min/max) to catch any merge-order assumption.
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

  test("sortKey sorts each partition before its fold: keep-last/max is the global max, keep-first/min the global min") {
    // a shuffled 400-file corpus in 8 partitions: without the sort, a
    // partition's last (first) record is its max (min) only by chance
    val ids = new scala.util.Random(7).shuffle((0 until 400).toVector)
    val corpus = Corpus.fromRecords(spark, ids.map(i => s"f$i.txt" -> s"$i".getBytes))
      .repartition(8)
    def job(n: String, fold: (Int, Int) => Int, merge: (Int, Int) => Int) =
      MapReduceJob[Int, Int](
        name = n,
        filter = PathGlob("*.txt"),
        mapper = (_, _, c) => Iterator.single(new String(c, "UTF-8").toInt),
        zero = -1, fold = fold, merge = merge,
        sortKey = Some((v: Int) => v.toLong))
    // and, by construction rather than chance: every partition's stream
    // arrives non-decreasing
    val ascending = MapReduceJob[Int, (Boolean, Int)](
      name = "ascending",
      filter = PathGlob("*.txt"),
      mapper = (_, _, c) => Iterator.single(new String(c, "UTF-8").toInt),
      zero = (true, -1),
      fold = (s, v) => (s._1 && v >= s._2, v),
      merge = (a, b) => (a._1 && b._1, -1),
      sortKey = Some((v: Int) => v.toLong))
    val res = MapReduceRunner.run(spark, corpus, Seq(
      job("max", (_, v) => v, math.max),
      job("min", (acc, v) => if (acc < 0) v else acc,
        (a, b) => if (a < 0) b else if (b < 0) a else math.min(a, b)),
      ascending))
    assert(res == Map("max" -> 399, "min" -> 0, "ascending" -> (true, -1)))
  }

  /** Whether any stage of `jobs` reads a persisted RDD. */
  private def persists(jobs: Seq[Profile.Job]): Boolean =
    jobs.exists(_.start.stageInfos.exists(_.rddInfos.exists(_.storageLevel != StorageLevel.NONE)))

  test("one pass: 6 jobs launch discovery, fetch and the pass; with no directory files, the pass alone") {
    val corpus = Corpus.fromRecords(spark, virtualTree)
    def jobs(withDirs: Boolean) = (0 until 6).map { n =>
      MapReduceJob[Int, Int](
        name = s"j$n",
        filter = PathGlob("**/*.txt"),
        directoryFiles =
          if (withDirs && n < 2) Some(PathGlob(if (n == 0) "file.txt" else "*/file.txt"))
          else None,
        mapper = (_, parents, _) => Iterator.single(parents.size),
        zero = 0, fold = _ + _, merge = _ + _)
    }
    assert(Profile.of(spark)(MapReduceRunner.run(spark, corpus, jobs(withDirs = true)))._2.jobs.size == 3)
    assert(Profile.of(spark)(MapReduceRunner.run(spark, corpus, jobs(withDirs = false)))._2.jobs.size == 1)
    // on a tree, discovery reads the walk: the pass is the only job, it
    // scans no file source, and nothing is persisted
    TestTree.withTree(virtualTree) { root =>
      Seq(true, false).foreach { withDirs =>
        val onTree = Profile.of(spark)(MapReduceRunner.runOnDirectory(spark, root, jobs(withDirs)))._2.jobs
        assert(onTree.size == 1, s"withDirs=$withDirs")
        assert(!persists(onTree), s"withDirs=$withDirs")
        assert(!onTree.exists(_.start.stageInfos.exists(_.rddInfos.exists(_.name.contains("FileScan")))),
          s"withDirs=$withDirs")
      }
    }
  }

  test("a run with no directory-file job persists nothing") {
    val corpus = Corpus.fromRecords(spark, virtualTree)
    val job = MapReduceJob[Int, Int](
      name = "files", filter = PathGlob("**/*.txt"),
      mapper = (_, _, _) => Iterator.single(1),
      zero = 0, fold = _ + _, merge = _ + _)
    val launched = Profile.of(spark)(
      assert(MapReduceRunner.run(spark, corpus, Seq(job)) == Map("files" -> 4)))._2.jobs
    assert(launched.size == 1)
    assert(!persists(launched), "the run persisted a corpus only the pass reads")
  }

  /** Jobs whose results record every mapped file with its decoded
    * parents, under three directory-file globs, plus one job without
    * directory files: equal results mean the same files were mapped with
    * the same stacks. */
  private def stackJobs(ctx: String) = Seq("**", "**/*.json", ctx).zipWithIndex.map {
    case (dirs, i) => MapReduceJob[(String, Seq[String]), Map[String, Seq[String]]](
      name = s"stacks$i",
      filter = PathGlob("**"),
      directoryFiles = Some(PathGlob(dirs)),
      mapper = (path, parents, _) =>
        Iterator.single(path -> parents.map(new String(_, "UTF-8"))),
      zero = Map.empty, fold = _ + _, merge = _ ++ _)
  } :+ MapReduceJob[Long, Long](
    name = "bytes", filter = PathGlob("**"),
    mapper = (_, _, content) => Iterator.single(content.length.toLong),
    zero = 0L, fold = _ + _, merge = _ + _)

  test("runOnDirectory equals run over Corpus.read, names with a space and non-ASCII included") {
    Seq(s"$fixtures/a", s"$fixtures/json", s"$fixtures/example", fixtures).foreach { root =>
      val jobs = stackJobs("**/parent.json")
      assert(MapReduceRunner.runOnDirectory(spark, root, jobs) ==
        MapReduceRunner.run(spark, Corpus.read(spark, root), jobs), root)
    }
    val ctx = "ctx \u00e9.txt"
    val shown = Seq(
      ctx -> "root".getBytes,
      s"sub d\u00efr/$ctx" -> "sub".getBytes,
      "sub d\u00efr/d\u00e4t\u00e4 1.txt" -> "d1".getBytes,
      "sub d\u00efr/deep/d\u00e4t\u00e4 2.json" -> "d2".getBytes,
      "_k=v/y.txt" -> "y".getBytes)
    // names Spark's file index skips, folders included, and empty files
    val hidden = Seq("_skip.txt", ".skip.txt", "_tmp/x.txt", "_metadata", "z.txt._COPYING_")
      .map(_ -> "h".getBytes) :+ ("empty.txt" -> Array.emptyByteArray)
    TestTree.withTree(shown ++ hidden) { root =>
      val jobs = stackJobs(s"**/$ctx")
      val listed = MapReduceRunner.runOnDirectory(spark, root, jobs)
      assert(listed == MapReduceRunner.run(spark, Corpus.read(spark, root), jobs))
      assert(listed("stacks0").asInstanceOf[Map[String, Seq[String]]].keySet == shown.map(_._1).toSet)
      // the walk found both directory files: the deepest file sees
      // them root→leaf
      assert(listed("stacks2").asInstanceOf[Map[String, Seq[String]]].values.toSet
        .contains(Seq("root", "sub")))
    }
  }

  test("a folder wider than the discovery threshold has its subfolders walked by a Spark job, same results") {
    val narrow = Sessions.child(spark, "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1")
    // these roots hold a folder with two or more subfolders; in json and
    // example every folder has at most one, so the driver lists them
    val wide = Set(s"$fixtures/a", fixtures)
    Seq(s"$fixtures/a", s"$fixtures/json", s"$fixtures/example", fixtures).foreach { root =>
      val jobs = stackJobs("**/parent.json")
      val (folders, narrowFolders) = (ArrayBuffer.empty[String], ArrayBuffer.empty[String])
      val (res, prof) = Profile.of(narrow)(
        MapReduceRunner.runOnDirectory(narrow, root, jobs, narrowFolders += _))
      assert(res == MapReduceRunner.runOnDirectory(spark, root, jobs, folders += _), root)
      assert(narrowFolders.sorted == folders.sorted, root)
      assert(prof.jobs.count(_.description.startsWith("graft mr job pass")) == 1, root)
      assert(prof.jobs.size == (if (wide(root)) 2 else 1), root)
    }
  }

  test("a corpus the caller cached is still cached after a run") {
    val corpus = Corpus.fromRecords(spark, virtualTree).persist()
    try {
      corpus.count()
      val job = MapReduceJob[Int, Int](
        name = "files", filter = PathGlob("**/*.txt"),
        mapper = (_, _, _) => Iterator.single(1),
        zero = 0, fold = _ + _, merge = _ + _)
      assert(MapReduceRunner.run(spark, corpus, Seq(job)) == Map("files" -> 4))
      assert(job.run(corpus) == 4)
      assert(corpus.storageLevel.useMemory, "the run dropped the caller's cache")
    } finally { corpus.unpersist(); () }
  }

  test("concurrent multi-job: jobs overlap AND match serial results (mapreduce.go:41-93)") {
    // 4 jobs over a ONE-file corpus, each with a 500ms mapper stall:
    // running the jobs one after another is bounded below by
    // 4 × 500ms = 2.0s, while the one pass reads the 1-partition corpus
    // once per job in the same stage and runs the 4 stalls at once on
    // local[4] (~500ms) — an underutilizing job is exactly the shape
    // the split rescues.
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

    val serial = jobs.map(j => MapReduceRunner.run(spark, corpus, Seq(j))).reduce(_ ++ _)
    assert(serial == expect)

    val t0 = System.nanoTime()
    val conc = MapReduceRunner.run(spark, corpus, jobs)
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
