package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Dev diagnostic: reports registry queries whose physical plan scans
  * the same parquet table more than once — the cm01 shape (one logical
  * frame consumed by two subtrees without a Pin, so the scan and
  * everything above it is computed twice per run). Two scans are often
  * legitimate (self-joins express pair semantics); the report is for
  * TRIAGE, not a gate — pinned frames appear as InMemoryTableScan, so
  * a query that already shares its scan shows one FileSourceScan here.
  *
  * Known undercount (accepted for a triage tool): only the TOP-LEVEL
  * AQE wrapper is unwrapped — scans inside subquery expressions,
  * nested AdaptiveSparkPlanExec, or beneath InMemoryTableScan are not
  * traversed. A clean report therefore doesn't prove zero duplicate
  * scans; a non-empty one is always real.
  *
  * Usage: runMain graft.ScanAudit [sfDir]
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    Registry.all.sortBy(_.name).foreach { q =>
      try {
        val plan = q.build(spark, sfDir).queryExecution.executedPlan
        // traverse into the AQE wrapper's initial plan
        val scans = plan.flatMap {
          case a: AdaptiveSparkPlanExec => a.initialPlan.collect {
            case f: FileSourceScanExec =>
              f.relation.location.rootPaths.map(_.getName)
          }.flatten
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.map(_.getName)
          case _ => Nil
        }
        val dup = scans.groupBy(identity).filter(_._2.size > 1)
          .map { case (p, o) => s"$p x${o.size}" }
        if (dup.nonEmpty) println(s"${q.name}: ${dup.mkString(", ")}")
      } catch { case e: Throwable => println(s"${q.name}: ERR $e") }
      Harness.release(spark)
    }
    spark.stop()
  }
}
