package graft.operators

import graft.{Det, GraftQuery, Tables}
import graft.GraftQuery.q
import graft.Det._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MANIFEST-based scan planning — the lakehouse metadata primitive
  * (Iceberg/Delta manifests, Hive statistics files) built from first
  * principles: a range-clustered write, a per-FILE min/max statistics
  * table ("the manifest"), and a reader that consults the manifest to
  * decide WHICH FILES to open before Spark ever plans the scan.
  *
  * This completes the engine's data-skipping ladder:
  *  - directory partition pruning (q47) skips on ONE low-cardinality
  *    column via paths;
  *  - z-order + parquet footer stats (zo01) skip row groups on
  *    multiple dimensions, but every file footer is still opened;
  *  - a manifest skips whole FILES from a table that is 16 rows of
  *    metadata — at 100 TB that is the difference between listing and
  *    footer-probing a million objects versus reading a thousand
  *    manifest rows and opening only the files whose [lo, hi] band
  *    intersects the predicate.
  *
  * The manifest is built with one narrow scan (input_file_name() +
  * min/max/count per file) and is FILE-COUNT-bounded, so the driver
  *-side selection collects 16 rows — bounded by layout, not data
  * (the sanctioned bounded-collect shape; ManifestSpec pins that the
  * pruned read opens strictly fewer files than the table holds, and
  * the oracle proves the skipped files contained no qualifying rows).
  * Range clustering is what makes the bands disjoint and the manifest
  * selective — the same reason real tables sort-cluster on their scan
  * key.
  */
object ManifestSkipping {

  /** Range-clustered write → manifest build → manifest-pruned read.
    * Returns (prunedFrame, filesSelected, filesTotal) so the spec can
    * assert real skipping; the registry query returns only the
    * oracle-checkable aggregate. */
  def manifestPrunedScan(spark: SparkSession, sfDir: String,
      lo: Long, hi: Long): (DataFrame, Int, Int) = {
    val out = graft.Scratch.dir("graft_mf01_")
    graft.Phases.timed("mf01_manifest_skipping", "write") {
      Tables.orders(spark, sfDir)
        .repartitionByRange(16, col("o_custkey"))
        .write.mode("overwrite").parquet(out)
    }
    // the manifest: one narrow (2-column) scan → 16 metadata rows
    val manifest = spark.read.parquet(out)
      .select(input_file_name().as("f"), col("o_custkey"))
      .groupBy("f")
      .agg(min(col("o_custkey")).as("flo"), max(col("o_custkey")).as("fhi"))
    val files = manifest.collect() // file-count-bounded (16), by layout
    val selected = files.filter(r =>
      r.getLong(1) <= hi - 1 && r.getLong(2) >= lo).map(_.getString(0))
    // zero files selected = provably-empty result (read.parquet needs
    // ≥1 path, so the empty case short-circuits to a false filter)
    val base =
      if (selected.isEmpty) spark.read.parquet(out).filter(lit(false))
      else spark.read.parquet(selected.toIndexedSeq: _*)
    val pruned = base.filter(col("o_custkey") >= lo && col("o_custkey") < hi)
    (pruned, selected.length, files.length)
  }

  val mf01ManifestSkipping: GraftQuery = q(
    "mf01_manifest_skipping",
    "manifest-based file skipping: per-file min/max table plans the scan before Spark does",
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       |  ${Det.sqlDsum("o_totalprice")} AS sum_price
       |FROM orders
       |WHERE o_custkey >= 100 AND o_custkey < 300
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val (pruned, _, _) = manifestPrunedScan(s, d, lo = 100L, hi = 300L)
    pruned
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  val all: Seq[GraftQuery] = Seq(mf01ManifestSkipping)
}
