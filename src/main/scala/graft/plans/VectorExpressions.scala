package graft.plans

import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions.call_function

/** Native Catalyst expressions for vector similarity over
  * `array<float>` columns — the one hot path where composing built-ins
  * is genuinely worse (SURVEY.md §7.4): a 64-term `element_at` chain
  * codegens to 64 bounds-checked virtual calls and a deep add tree,
  * while these fuse to a single primitive loop inside whole-stage
  * codegen (`doGenCode`), with an interpreted `nullSafeEval` fallback.
  *
  * Accumulation is ascending-index, double-precision — bit-identical
  * to the left-associated expression chain the DuckDB oracle uses, so
  * swapping these into oracle-checked queries changes no results.
  */
object VectorExpressions {

  /** Fail analysis (not runtime) when an input isn't array<float> —
    * getFloat over e.g. an array<double> would silently read garbage. */
  private def requireFloatArrays(name: String, children: Seq[Expression])
      : TypeCheckResult =
    if (children.forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires array<float> inputs, got " +
        children.map(_.dataType.simpleString).mkString(", "))

  /** Σ aᵢ·bᵢ over two float arrays, accumulated in double.
    *
    * NULL semantics: a NULL array OR a NULL element anywhere in either
    * array makes the whole result NULL (standard SQL propagation —
    * never silently treat a null element as 0). The element null
    * check is only emitted when the array type admits null elements,
    * so the non-null embeddings hot path keeps the bare loop. */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      requireFloatArrays("dot_product", Seq(left, right))

    private def mayHaveNullElements: Boolean =
      Seq(left, right).exists(_.dataType match {
        case ArrayType(_, containsNull) => containsNull
        case _ => false
      })
    override def nullable: Boolean =
      left.nullable || right.nullable || mayHaveNullElements

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        // ev.isNull is only a mutable slot when nullable=true; the
        // check is gated on the same condition as nullable
        val nullCheck =
          if (mayHaveNullElements)
            s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
          else ""
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $nullCheck
           |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** √(Σ aᵢ²) over a float array. NULL array or NULL element → NULL
    * result (same propagation contract as [[DotProduct]]). */
  case class L2Norm(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      requireFloatArrays("l2_norm", Seq(child))

    private def mayHaveNullElements: Boolean = child.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => false
    }
    override def nullable: Boolean = child.nullable || mayHaveNullElements

    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      var acc = 0.0
      var i = 0
      val n = x.numElements()
      while (i < n) {
        if (x.isNullAt(i)) return null
        val v = x.getFloat(i).toDouble
        acc += v * v
        i += 1
      }
      math.sqrt(acc)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        val v = ctx.freshName("v")
        val nullCheck =
          if (mayHaveNullElements)
            s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
          else ""
        s"""
           |double $acc = 0.0;
           |for (int $i = 0; $i < $a.numElements(); $i++) {
           |  $nullCheck
           |  double $v = (double) $a.getFloat($i);
           |  $acc += $v * $v;
           |}
           |${ev.value} = java.lang.Math.sqrt($acc);
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Column-level API (resolved through the session function registry —
    * call [[register]] once per session, or build the session with
    * [[GraftExtensions]]). */
  def dot_product(a: Column, b: Column): Column =
    call_function("dot_product", a, b)
  def l2_norm(a: Column): Column = call_function("l2_norm", a)
  def cosine_similarity(a: Column, b: Column): Column =
    dot_product(a, b) / (l2_norm(a) * l2_norm(b))

  def minhash_signature(items: Column, k: Int): Column =
    call_function("minhash_signature", items,
      org.apache.spark.sql.functions.lit(k))

  /** Generator column: `ngram_explode(tokens, n)` → rows (pos, gram).
    * Usable anywhere posexplode is (select list, LATERAL VIEW). */
  def ngram_explode(items: Column, n: Int): Column =
    call_function("ngram_explode", items,
      org.apache.spark.sql.functions.lit(n))

  /** Mergeable quantile-sketch aggregate (see [[KllQuantiles]]):
    * returns array<double>, one type-1 discrete quantile per percent. */
  def kll_quantiles(value: Column, k: Int, percents: Int*): Column =
    call_function("kll_quantiles",
      (value +: org.apache.spark.sql.functions.lit(k) +:
        percents.map(org.apache.spark.sql.functions.lit(_))): _*)

  private def ngramN(exprs: Seq[Expression]): Int = exprs(1) match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"ngram_explode n must be an integer literal, got $other")
  }

  private def minhashK(exprs: Seq[Expression]): Int = exprs(1) match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"minhash_signature k must be an integer literal, got $other")
  }

  /** Every graft SQL function, as (name, info, builder): what
    * [[GraftExtensions]] injects and [[register]] registers. */
  val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn[DotProduct]("dot_product", e => DotProduct(e(0), e(1))),
    fn[L2Norm]("l2_norm", e => L2Norm(e.head)),
    fn[MinHashSignature]("minhash_signature", e => MinHashSignature(e.head, minhashK(e))),
    fn[NGramExplode]("ngram_explode", e => NGramExplode(e.head, ngramN(e))),
    fn[NfcNormalize]("nfc_normalize", e => NfcNormalize(e.head)),
    fn[KllQuantilesAgg]("kll_quantiles", KllQuantiles.fromExprs))

  private def fn[E](name: String, build: Seq[Expression] => Expression)(
      implicit e: scala.reflect.ClassTag[E]) =
    (FunctionIdentifier(name), new ExpressionInfo(e.runtimeClass.getName, name), build)

  /** Registers each of [[sqlFunctions]] the session lacks; a session
    * built with [[GraftExtensions]] lacks none. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }
}

/** SparkSessionExtensions hook — install the graft functions and rules
  * at session build time (`.withExtensions(new GraftExtensions)`), the
  * deployment path a library user would take. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    VectorExpressions.sqlFunctions.foreach(e.injectFunction)
    // the whole-operator surface rides the same deployment path: a
    // session built withExtensions gets the TopKPerGroup physical
    // strategy without any per-session imperative registration
    e.injectPlannerStrategy(_ => TopKPerGroup.TopKStrategy)
    // opt-in logical rewrite (spark.graft.approxDistinct=true):
    // exact COUNT(DISTINCT) -> constant-state HLL++ sketch
    e.injectOptimizerRule(_ => ApproxDistinctRewrite)
    // opt-in transparent materialized-view rewrite
    // (spark.graft.mv.registry=<specs>): matching fact-table
    // aggregates served from the pre-aggregated summary table
    e.injectOptimizerRule(_ => MvRewrite)
  }
}
