package graft

import graft.plans.VectorExpressions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen'd vector expressions must be bit-identical to the
  * composed element_at chain (same ascending double accumulation) —
  * that identity is what lets oracle-checked queries use them. */
class VectorExprSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def chainDot(a: String, b: String) =
    (1 to 64).map(i =>
      element_at(col(a), i).cast(DoubleType) * element_at(col(b), i).cast(DoubleType))
      .reduceLeft(_ + _)

  test("native dot_product ≡ composed chain on all pairs (vec_id<30)") {
    VectorExpressions.register(spark)
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 30)
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val both = a.join(b, col("va") < col("vb"))
      .select(
        VectorExpressions.dot_product(col("ea"), col("eb")).as("native"),
        chainDot("ea", "eb").as("chain"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // exact bits
  }

  test("l2_norm matches sqrt of self-dot") {
    VectorExpressions.register(spark)
    val rows = Tables.embeddings(spark, sf).filter(col("vec_id") < 30)
      .select(VectorExpressions.l2_norm(col("embedding")).as("n"),
        sqrt(VectorExpressions.dot_product(col("embedding"), col("embedding"))).as("s"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("SQL registration + session extensions path") {
    VectorExpressions.register(spark)
    Tables.embeddings(spark, sf).limit(5).createOrReplaceTempView("emb_t")
    val viaSql = spark.sql(
      "SELECT dot_product(embedding, embedding) AS d, l2_norm(embedding) AS n FROM emb_t")
      .collect()
    assert(viaSql.length == 5)
    viaSql.foreach(r => assert(math.abs(math.sqrt(r.getDouble(0)) - r.getDouble(1)) == 0.0))

    // fresh session built with extensions — functions available without register()
    val s2 = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    // note: getOrCreate may return the existing session; the extension
    // path is still exercised at builder time
    assert(s2.sql("SELECT l2_norm(array(cast(3.0 as float), cast(4.0 as float)))")
      .collect()(0).getDouble(0) == 5.0)
  }

  test("nulls propagate (nullSafeEval path)") {
    VectorExpressions.register(spark)
    val r = spark.sql("SELECT dot_product(cast(null as array<float>), array(cast(1.0 as float)))")
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("a NULL element makes the whole result NULL, never a silent 0.0") {
    VectorExpressions.register(spark)
    // codegen path: expressions over a scanned column
    import TestSpark.spark.implicits._
    val df = Seq(
      (1L, Seq[java.lang.Float](1.0f, null, 3.0f)),
      (2L, Seq[java.lang.Float](1.0f, 2.0f, 3.0f)))
      .toDF("id", "v")
      .select(col("id"), col("v").cast(ArrayType(FloatType, containsNull = true)).as("v"))
    val out = df.select(col("id"),
      call_function("dot_product", col("v"), col("v")).as("d"),
      call_function("l2_norm", col("v")).as("n"))
      .orderBy("id").collect()
    assert(out(0).isNullAt(1) && out(0).isNullAt(2), "null element must poison the result")
    assert(out(1).getDouble(1) == 14.0 && out(1).getDouble(2) == math.sqrt(14.0))
    // interpreted path via literal SQL
    val r = spark.sql(
      "SELECT dot_product(array(cast(1.0 as float), cast(null as float)), " +
        "array(cast(1.0 as float), cast(1.0 as float)))").collect()(0)
    assert(r.isNullAt(0))
  }

  test("native minhash_signature ≡ the minhashOf/array_min composition, bit for bit") {
    import graft.functions.TextFunctions
    import graft.plans.VectorExpressions
    import org.apache.spark.sql.functions.{array, col, size, split}
    VectorExpressions.register(spark)
    val k = 8
    val docs = Tables.documents(spark, sf)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), TextFunctions.shingles(col("text"), 3).as("sh"))
    val native = docs.select(col("doc_id"),
      VectorExpressions.minhash_signature(col("sh"), k).as("sig"))
      .orderBy("doc_id").collect().toSeq
    val composed = docs.select(col("doc_id"),
      array((0 until k).map(j =>
        TextFunctions.minhashOf(col("sh"), j)): _*).as("sig"))
      .orderBy("doc_id").collect().toSeq
    assert(native.nonEmpty && native == composed)
    // empty input → all-null components, like array_min over empty
    val empty = spark.sql(
      s"SELECT minhash_signature(CAST(array() AS ARRAY<STRING>), 4) AS s")
      .collect()(0).getSeq[String](0)
    assert(empty == Seq(null, null, null, null))
    // null array → null result
    assert(spark.sql("SELECT minhash_signature(CAST(NULL AS ARRAY<STRING>), 4)")
      .collect()(0).isNullAt(0))
    // multibyte UTF-8 items hash identically through both paths (the
    // native loop hashes raw UTF-8 bytes — must equal md5 of the
    // concatenated STRING, whatever the encoding width)
    val uni = spark.sql(
      "SELECT array('héllo wörld', '中文 文本', 'مرحبا', 'naïve café') AS sh")
    val nativeU = uni.select(
      VectorExpressions.minhash_signature(col("sh"), k).as("sig")).collect()(0)
    val composedU = uni.select(array((0 until k).map(j =>
      TextFunctions.minhashOf(col("sh"), j)): _*).as("sig")).collect()(0)
    assert(nativeU == composedU)
  }

  test("plain udf() escape hatch agrees with the native expression (and is the slower path)") {
    // the engine's preference order is built-ins > native Expression >
    // udf(); this pins that the escape hatch still exists and is exact
    VectorExpressions.register(spark)
    import TestSpark.spark.implicits._
    val dotUdf = udf { (a: Seq[Float], b: Seq[Float]) =>
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    spark.udf.register("dot_udf", dotUdf)
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)))
      .toDF("id", "a", "b")
    val both = df.select(
      call_function("dot_product", col("a"), col("b")).as("native"),
      dotUdf(col("a"), col("b")).as("viaUdf")).head()
    assert(both.getDouble(0) == both.getDouble(1))
    df.createOrReplaceTempView("udf_vs_native")
    val sqlRow = spark.sql(
      "SELECT dot_udf(a, b) = dot_product(a, b) FROM udf_vs_native").head()
    assert(sqlRow.getBoolean(0))
  }

  test("GraftQuery.build registers the graft functions a session lacks") {
    // at width 1, sm04's input sizing keeps this session, not a new child
    val s = Sessions.child(spark, "spark.sql.shuffle.partitions" -> "1")
    val l2 = org.apache.spark.sql.catalyst.FunctionIdentifier("l2_norm")
    s.sessionState.functionRegistry.dropFunction(l2)
    assert(!s.sessionState.functionRegistry.functionExists(l2))
    val sm04 = Registry.all.find(_.name == "sm04_vector_norms").get
    assert(sm04.build(s, sf).collect().nonEmpty)
  }
}
