package graft

import graft.operators.IvfQueries
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The one fixture memo: one-time per-corpus state is keyed by corpus
  * dir within the context, never by session. */
class FixturesSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** A key no other test or query uses. */
  private def fresh(tag: String): String = s"fixtures-spec-$tag-${System.nanoTime()}"

  test("a fresh session gets the same persisted index, not a rebuild") {
    assert(IvfQueries.indexDir(spark, sf) == IvfQueries.indexDir(spark.newSession(), sf))
  }

  test("two threads asking for one key run its build exactly once") {
    val name = fresh("threads")
    val builds = new AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        start.await()
        Fixtures.once(spark, sf, name, name) { builds.incrementAndGet(); Thread.sleep(200); name }
        ()
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(builds.get == 1)
  }

  test("a build that throws is not memoized: the next call builds again") {
    val name = fresh("throws")
    intercept[IllegalStateException] {
      Fixtures.once[Int](spark, sf, name, name)(throw new IllegalStateException("boom"))
    }
    assert(Fixtures.once(spark, sf, name, name)(7) == 7)
    assert(Fixtures.once(spark, sf, name, name)(8) == 7, "the second build is memoized")
  }

  test("a nested build runs under the outer one and only the outer trigger records setup") {
    val (outer, inner) = (fresh("outer"), fresh("inner"))
    val v = Fixtures.once(spark, sf, outer, outer) {
      Fixtures.once(spark, sf, inner, inner)(1) + 1
    }
    assert(v == 2)
    assert(Fixtures.once(spark.newSession(), sf, inner, inner)(5) == 1)
    assert(Phases.get(outer, "setup").isDefined)
    assert(Phases.get(inner, "setup").isEmpty)
  }

  test("q48, q49 and ivf06 in three fresh sessions add no catalog table or scratch dir") {
    val scratch = Paths.get(IvfQueries.indexDir(spark, sf)).getParent
    def scratchDirs(): Map[String, Int] = {
      val ls = Files.list(scratch)
      try {
        val names = ls.iterator.asScala.map(_.getFileName.toString).toSeq
        Seq("graft_ivf06_", "graft_q48_", "graft_q49_small_")
          .map(p => p -> names.count(_.startsWith(p))).toMap
      } finally ls.close()
    }
    def bucketTables(): Int = spark.catalog.listTables().collect()
      .count(t => t.name.startsWith("graft_") && t.name.contains("_bkt_"))
    def run(s: org.apache.spark.sql.SparkSession): Seq[Seq[Any]] =
      Seq("q48_bucketed_join", "q49_compaction", "ivf06_persisted_index")
        .flatMap(n => SparkEntry.queries(n)(s, sf).collect().map(_.toSeq).toSeq)
    val first = run(spark.newSession())
    val (dirs, tables) = (scratchDirs(), bucketTables())
    assert(dirs.values.forall(_ >= 1) && tables >= 2, s"$dirs, $tables tables")
    (1 to 3).foreach { i =>
      assert(run(spark.newSession()) == first, s"session $i")
    }
    assert(scratchDirs() == dirs)
    assert(bucketTables() == tables)
  }
}
