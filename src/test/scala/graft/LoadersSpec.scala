package graft

import graft.functions.TextFunctions
import graft.mr.{MapReduceJob, MapReduceRunner}
import graft.sources.{Corpus, Loaders, PathGlob}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Loader hooks + composable text functions: the reference's semantic
  * invariants (9 lines, sum 195, parsed JSON values) re-expressed as
  * pure DataFrame plans over the corpus — no user closures at all. */
class LoadersSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val fixtures = "src/test/resources/refFixtures"

  test("lines loader: 9 lines, integer sum 195 — declaratively") {
    val lines = Loaders.lines(Corpus.read(spark, s"$fixtures/a"))
      .filter(col("line").=!=(""))
    assert(lines.count() == 9)
    val total = lines.agg(sum(col("line").cast(IntegerType))).collect()(0).getLong(0)
    assert(total == 195)
  }

  test("static-prefix subtree pruning: sibling subtree is never listed (work.go:68-99)") {
    val tree = Seq("a/b/keep.txt" -> "k", "a/b/deep/keep2.txt" -> "k2",
      "a/other/skip.txt" -> "s", "sibling/x/huge.txt" -> "x")
    import TestSpark.spark.implicits._
    TestTree.withTree(tree.map { case (p, c) => p -> c.getBytes }) { root =>
      def jobs(glob: String) = Seq(
        MapReduceJob[String, List[String]](
          name = "paths", filter = PathGlob(glob),
          mapper = (path, _, c) => Iterator.single(s"$path=${new String(c, "UTF-8")}"),
          zero = Nil, fold = (acc, v) => v :: acc, merge = _ ++ _),
        MapReduceJob[Long, Long](
          name = "bytes", filter = PathGlob(glob),
          mapper = (_, _, c) => Iterator.single(c.length.toLong),
          zero = 0L, fold = _ + _, merge = _ + _))
      val listed = scala.collection.mutable.ArrayBuffer.empty[String]
      val res = MapReduceRunner.runOnDirectory(spark, root, jobs("a/b/**/*.txt"), listed += _)
      assert(res("paths").asInstanceOf[List[String]].sorted ==
        List("a/b/deep/keep2.txt=k2", "a/b/keep.txt=k"))
      assert(res("bytes") == 3L)
      // the walk entered only the folders a match could lie in: the
      // sibling subtrees were never listed, not merely filtered out
      assert(listed.sorted == Seq("", "a", "a/b", "a/b/deep"))
      // a glob under a folder that does not exist means "no matches"
      assert(MapReduceRunner.runOnDirectory(spark, root, jobs("nosuch/dir/*.txt")) ==
        Map("paths" -> Nil, "bytes" -> 0L))
    }
  }

  test("json loader parses once, shares across consumers") {
    val schema = StructType(Seq(StructField("value", IntegerType)))
    val loaded = Loaders.json(Corpus.read(spark, s"$fixtures/json"), schema)
    val vals = loaded.select(col("path"), col("json.value").as("v"))
      .orderBy("path").collect()
    assert(vals.map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("parent.json", 2), ("subfolder/child.json", 3)))
  }

  test("child*parent via pure DataFrame plan (no mapper closure) = 6") {
    val schema = StructType(Seq(StructField("value", IntegerType)))
    val loaded = Loaders.json(Corpus.read(spark, s"$fixtures/json"), schema)
    val dirFiles = loaded.filter(col("depth") === 0)
      .select(col("json.value").as("pv"))
    val children = loaded.filter(col("depth") === 1)
      .select(col("json.value").as("cv"))
    val product = children.crossJoin(broadcast(dirFiles))
      .agg(sum(col("cv") * col("pv"))).collect()(0).getLong(0)
    assert(product == 6)
  }

  test("TextFunctions minhash/lshBand agree with the dd04 query") {
    val sf = "/root/testdata/sf0.001"
    val viaFns = Tables.documents(spark, sf)
      .select(col("doc_id"),
        TextFunctions.minhash(col("text"), 0).as("s0"),
        TextFunctions.minhash(col("text"), 1).as("s1"),
        TextFunctions.lshBand(col("text"), 0, 2).as("band"))
      .orderBy("doc_id").limit(50).collect()
    val viaQuery = SparkEntry.queries("dd04_minhash_signatures")(spark, sf)
      .select(col("doc_id"), col("s0"), col("s1"), col("band1"))
      .orderBy("doc_id").limit(50).collect()
    assert(viaFns.map(_.toSeq).toSeq == viaQuery.map(_.toSeq).toSeq)
  }

  test("TextFunctions occurrences matches replace-trick semantics") {
    val df = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row("the cat the dog the")),
      StructType(Seq(StructField("t", StringType))))
    assert(df.select(TextFunctions.occurrences(col("t"), "the"))
      .collect()(0).getLong(0) == 3)
  }

  /** The round-7 regression class: the driver corpus has shipped
    * events.ts as TIMESTAMP(NANOS) (reads as raw long under the legacy
    * conf) and as TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ).
    * Tables.events must normalize every physical encoding of the same
    * instant to the same session-zoned TIMESTAMP — and the result must
    * feed instant functions (unix_micros) that reject NTZ. */
  test("Tables.events normalizes ns-as-long, NTZ-micros and LTZ encodings identically") {
    val us = 1706569200123456L // 2024-01-29T23:00:00.123456Z
    def dir(prefix: String): String = Scratch.dir(prefix)
    def eventsDf(tsCol: org.apache.spark.sql.Column) =
      spark.range(1).select(
        lit(7L).as("event_id"), tsCol.as("ts"), lit(3L).as("user_id"),
        lit("view").as("event_type"), lit(1.5).as("value"),
        lit("{}").as("props"))
    // legacy: int64 nanoseconds (what ScaleUp replicas still write)
    val dNs = dir("ev-ns")
    eventsDf(lit(us * 1000L)).write.mode("overwrite")
      .parquet(s"$dNs/events.parquet")
    // current driver corpus: micros TIMESTAMP_NTZ
    val dNtz = dir("ev-ntz")
    eventsDf(timestamp_micros(lit(us)).cast(TimestampNTZType))
      .write.mode("overwrite").parquet(s"$dNtz/events.parquet")
    // session-zoned micros (the normalized form round-tripped)
    val dLtz = dir("ev-ltz")
    eventsDf(timestamp_micros(lit(us))).write.mode("overwrite")
      .parquet(s"$dLtz/events.parquet")
    val decoded = Seq(dNs, dNtz, dLtz).map { d =>
      val ev = Tables.events(spark, d)
      assert(ev.schema("ts").dataType == TimestampType, s"$d not normalized")
      ev.select(unix_micros(col("ts"))).collect()(0).getLong(0)
    }
    assert(decoded == Seq(us, us, us))
  }
}
