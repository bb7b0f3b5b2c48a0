package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // dev-only third arg: comma-separated name prefixes to restrict the
    // dump (the driver always passes exactly two args → full run)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    // the bench session: the plan the oracle checks is the plan Bench times
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // per-query wall time: a coarse bench cross-check riding the
    // correctness run (single cold execution, includes the result
    // write — not comparable to Bench's warmed medians, but enough to
    // flag a query that silently 10×ed between rounds)
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        times(name) = (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Harness.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/verify_times.json"),
      times.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
