package graft

import graft.sources.{Corpus, Formats}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Round-trips through every supported format (reader+writer parity —
  * the reference only ever reads; writers are our Finalizer
  * generalization). */
class FormatsSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("parquet/json/csv roundtrip preserves rows") {
    val src = Tables.nation(spark, sf)
    val n = src.count()
    Seq("parquet", "orc", "json", "csv").foreach { fmt =>
      val dir = Files.createTempDirectory(s"graft-$fmt").toString + "/out"
      Formats.write(src, fmt, dir,
        options = if (fmt == "csv") Map("header" -> "true") else Map.empty)
      val back = Formats.read(spark, fmt, dir,
        if (fmt == "csv") Map("header" -> "true", "inferSchema" -> "true") else Map.empty)
      assert(back.count() == n, fmt)
      assert(back.select("n_name").distinct().count() ==
        src.select("n_name").distinct().count(), fmt)
    }
  }

  test("avro roundtrip via Hadoop formats: values exact, type subset enforced") {
    import graft.sources.AvroIO
    val src = Tables.supplier(spark, sf)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"), (col("s_suppkey") % 2 === 0).as("even"))
    val dir = Files.createTempDirectory("graft-avro").toString + "/out"
    AvroIO.write(src, dir)
    val back = AvroIO.read(spark, dir, src.schema)
    assert(back.schema == src.schema)
    // exact value compare via symmetric except (long/int/string/bool
    // round-trip bit-exactly; doubles are IEEE pass-through in Avro)
    assert(back.exceptAll(src).count() == 0L)
    assert(src.exceptAll(back).count() == 0L)
    // container files are .avro task parts from the Hadoop committer
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(parts.nonEmpty, "expected committed .avro part files")
    // unsupported type (timestamp) fails fast at schema mapping
    val bad = Tables.orders(spark, sf).select("o_orderkey", "o_orderdate")
    val e = intercept[IllegalArgumentException] {
      AvroIO.avroSchemaJson(bad.schema)
    }
    assert(e.getMessage.contains("o_orderdate"))
  }

  test("partitionBy layout enables partition pruning on read-back") {
    val src = Tables.orders(spark, sf)
      .withColumn("status", col("o_orderstatus"))
    val dir = Files.createTempDirectory("graft-part").toString + "/out"
    Formats.write(src, "parquet", dir, partitionBy = Seq("status"))
    val pruned = Formats.read(spark, "parquet", dir).filter(col("status") === "F")
    assert(pruned.count() ==
      Tables.orders(spark, sf).filter(col("o_orderstatus") === "F").count())
    // physical plan reads only the selected partition directory
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("status=O"))
  }

  test("dynamic partition overwrite replaces only touched partitions") {
    val src = Tables.orders(spark, sf).withColumn("status", col("o_orderstatus"))
    val dir = Files.createTempDirectory("graft-dynover").toString + "/out"
    Formats.write(src, "parquet", dir, partitionBy = Seq("status"))
    val before = Formats.read(spark, "parquet", dir)
    val nOther = before.filter(col("status") =!= "F").count()
    val nF = before.filter(col("status") === "F").count()
    assert(nF > 0 && nOther > 0)
    // Rewrite ONLY the F partition, halved; dynamic mode must leave O/P alone.
    val replacement = src.filter(col("status") === "F").limit((nF / 2).toInt)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      replacement.write.mode(SaveMode.Overwrite)
        .partitionBy("status").parquet(dir)
    } finally {
      prev.fold(spark.conf.unset("spark.sql.sources.partitionOverwriteMode"))(
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))
    }
    val after = Formats.read(spark, "parquet", dir)
    assert(after.filter(col("status") === "F").count() == nF / 2)
    assert(after.filter(col("status") =!= "F").count() == nOther,
      "untouched partitions must survive a dynamic overwrite")
  }

  test("repartitionByRange write produces globally range-clustered files (scan skipping)") {
    val src = Tables.orders(spark, sf)
    val dir = Files.createTempDirectory("graft-range").toString + "/out"
    src.repartitionByRange(4, col("o_totalprice"))
      .sortWithinPartitions(col("o_totalprice"))
      .write.mode(SaveMode.Overwrite).parquet(dir)
    // every output file covers a disjoint o_totalprice range, so a
    // price predicate prunes whole files via parquet min/max footers
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.toString).toSeq
    assert(files.size >= 2, s"expected multiple range files, got $files")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("o_totalprice")), max(col("o_totalprice"))).head()
      (r.getDouble(0), r.getDouble(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"file ranges overlap: $ranges")
      case _ =>
    }
    assert(spark.read.parquet(dir).count() == src.count())
  }

  test("schema evolution: mergeSchema unifies old and new parquet batches, null-filling") {
    val dir = Files.createTempDirectory("graft-evolve").toString + "/out"
    val s = spark
    import s.implicits._
    // day-1 batch without the later column; day-2 batch adds `score`
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.mode(SaveMode.Append).parquet(dir)
    Seq((3L, "c", 0.5)).toDF("id", "name", "score")
      .write.mode(SaveMode.Append).parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("id", "name", "score"))
    val rows = merged.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(0).isNullAt(rows(0).fieldIndex("score")),
      "old rows must null-fill the evolved column")
    assert(rows(2).getDouble(rows(2).fieldIndex("score")) == 0.5)
  }

  test("text format writes one line per row; binaryFile reads bytes back") {
    val dir = Files.createTempDirectory("graft-text").toString + "/out"
    Formats.write(
      Tables.documents(spark, sf).select(col("text")).limit(50), "text", dir)
    val lines = Formats.read(spark, "text", dir)
    assert(lines.count() == 50)
    val bin = Formats.read(spark, "binaryFile", dir,
      Map("pathGlobFilter" -> "*.txt"))
    assert(bin.columns.toSet ==
      Set("path", "modificationTime", "length", "content"))
  }

  test("bucketed tables co-locate equi-joins (no shuffle in the plan)") {
    val s = spark
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Tables.orders(s, sf).write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("orders_bkt")
      Tables.customer(s, sf).write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable("customer_bkt")
      val joined = s.table("orders_bkt")
        .join(s.table("customer_bkt"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() ==
        Tables.orders(s, sf).join(Tables.customer(s, sf),
          col("o_custkey") === col("c_custkey")).count())
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      s.sql("DROP TABLE IF EXISTS orders_bkt")
      s.sql("DROP TABLE IF EXISTS customer_bkt")
    }
  }

  test("q48 registry query joins bucketed tables with no join-side exchange") {
    val df = SparkEntry.queries("q48_bucketed_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      "bucketed join should plan as sort-merge:\n" + plan.take(3000))
    // the final groupBy/orderBy may exchange on c_mktsegment; the join
    // keys must never need one — that's what the bucket layout bought
    val offending = plan.linesIterator.filter(l =>
      l.contains("Exchange") && l.toLowerCase.contains("custkey")).toSeq
    assert(offending.isEmpty,
      "join-side exchange on a bucketed key:\n" + offending.mkString("\n"))
    assert(df.count() > 0)
  }

  test("corrupt files fail fast by default; ignoreCorruptFiles skips them (ref fail-fast errors.go)") {
    val dir = Files.createTempDirectory("graft-corrupt").toString
    Tables.nation(spark, sf).coalesce(1).write.mode("overwrite").parquet(dir)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/garbage.parquet"),
      "this is not parquet".getBytes)
    // default: first bad file aborts the query (reference: first error
    // cancels the whole run, mapreduce.go:215-220)
    val e = intercept[Exception] {
      spark.read.parquet(s"$dir/*.parquet").count()
    }
    assert(e != null)
    // lenient mode: corrupt file skipped, good rows survive
    val prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles")
    try {
      spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
      assert(spark.read.schema(Tables.nation(spark, sf).schema)
        .parquet(s"$dir/*.parquet").count() ==
        Tables.nation(spark, sf).count())
    } finally spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)
  }

  test("malformed JSON records: PERMISSIVE captures them, FAILFAST aborts (lenient path of ref fail-fast)") {
    val dir = Files.createTempDirectory("graft-permissive").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "data.json"),
      """{"id": 1, "v": 10}
        |not json at all
        |{"id": 2, "v": 20}
        |{"id": 3, "v": "boom"}
        |""".stripMargin.getBytes("UTF-8"))
    val schema = "id LONG, v LONG, _corrupt_record STRING"
    // caching first: Spark disallows queries touching ONLY the
    // internal corrupt-record column straight off the raw file scan
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir).cache()
    assert(permissive.count() == 4)
    assert(permissive.filter(col("_corrupt_record").isNotNull).count() == 2,
      "both the non-JSON line and the type-mismatched record must be captured")
    assert(permissive.filter(col("_corrupt_record").isNull)
      .agg(sum(col("v"))).head().getLong(0) == 30)
    permissive.unpersist()
    val failfast = spark.read.schema("id LONG, v LONG")
      .option("mode", "FAILFAST").json(dir)
    intercept[org.apache.spark.SparkException] { failfast.collect() }
  }

  test("corpus reader composes with relational ops (files as a table)") {
    val corpus = Corpus.read(spark, "src/test/resources/refFixtures")
    val byDir = corpus.groupBy(col("dir")).agg(count(lit(1)).as("n"))
      .orderBy("dir").collect()
    assert(byDir.map(_.getLong(1)).sum == corpus.count())
    assert(corpus.filter(col("path").endsWith(".json")).count() == 5)
  }
}
