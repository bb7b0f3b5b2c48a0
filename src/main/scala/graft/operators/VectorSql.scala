package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** THE single source of the determinism-critical vector generators:
  * the 64-term SQL dot/norm chains the DuckDB oracle evaluates, and
  * the sign-bit bucket expression, each in one place so the
  * association order / plane layout can never drift between the
  * similarity, IVF and dedup modules (they must all stay bit-identical
  * to the native expressions in [[graft.plans.VectorExpressions]]).
  */
private[operators] object VectorSql {
  val Dim = 64
  val Planes = 8

  /** SQL Σ aᵢ·bᵢ, left-associated ascending — matches DotProduct. */
  def sqlDot(a: String, b: String): String = sqlDotCols(a, "embedding", b, "embedding")

  /** [[sqlDot]] with explicit column names, for oracles whose CTEs
    * pre-project the embedding under an alias (sm01's slim oracle). */
  def sqlDotCols(a: String, acol: String, b: String, bcol: String): String =
    (1 to Dim).map(i =>
      s"CAST($a.$acol[$i] AS DOUBLE) * CAST($b.$bcol[$i] AS DOUBLE)")
      .mkString("(", " + ", ")")

  /** SQL Σ aᵢ², same association — matches L2Norm squared. */
  def sqlNorm2(a: String): String =
    (1 to Dim).map(i =>
      s"CAST($a.embedding[$i] AS DOUBLE) * CAST($a.embedding[$i] AS DOUBLE)")
      .mkString("(", " + ", ")")

  /** SQL sign-bit LSH bucket over coordinate hyperplanes 1,9,…,57. */
  def sqlBucket(a: String): String =
    (0 until Planes).map(j =>
      s"(CASE WHEN $a.embedding[${j * Dim / Planes + 1}] > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString("(", " + ", ")")

  /** Column-side sign-bit bucket — same planes as [[sqlBucket]]. */
  def bucketExpr(arrayCol: String): Column =
    (0 until Planes).map { j =>
      when(element_at(col(arrayCol), j * Dim / Planes + 1) > 0f, lit(1L << j))
        .otherwise(lit(0L))
    }.reduceLeft(_ + _)
}
