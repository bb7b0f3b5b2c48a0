package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session every entry point runs on — Bench, Verify, the dev
  * tools and the test suite — so the plan the oracle proves is the plan
  * the bench times. */
object Harness {
  /** Local core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The bench confs: production extension injection (below), one
    * shuffle partition per core, UTC, AQE with partition coalescing, a
    * 64 MB broadcast threshold and no UI. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    "spark.ui.enabled" -> "false")

  /** The harness session at `cpus` cores, with any dev-only
    * `SPARK_GRAFT_BENCH_CONF` probe confs applied on top. */
  def session(cpus: Int = Harness.cpus): SparkSession = {
    val spark = confs(cpus).foldLeft(
      SparkSession.builder().master(s"local[$cpus]").appName("graft")
        .withExtensions(new graft.plans.GraftExtensions)) { case (b, (k, v)) =>
      b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_BENCH_CONF").foreach { raw =>
      probeConfs(raw).foreach { case (k, v) => spark.conf.set(k, v) }
    }
    spark
  }

  /** Parses `SPARK_GRAFT_BENCH_CONF`: k=v runtime SQL confs for probe
    * experiments (e.g. `spark.sql.adaptive.enabled=false`), unset in
    * production runs. Delimiter: ';' when present, else ',' — a conf VALUE
    * that itself contains commas (spark.sql.extensions lists, codec
    * chains) would be torn into malformed tokens by a bare comma split,
    * so multi-conf probes with comma-valued confs must use ';'. Blank
    * tokens are skipped; anything else without `k=v` shape fails. */
  def probeConfs(raw: String): Seq[(String, String)] = {
    val toks = if (raw.contains(";")) raw.split(";") else raw.split(",")
    toks.toSeq.filterNot(_.trim.isEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => sys.error(s"SPARK_GRAFT_BENCH_CONF: malformed token '$kv' (want k=v)")
      }
    }
  }

  /** Per-query isolation: a query that persists/checkpoints internally
    * must not leave cached blocks behind to squeeze the storage and
    * execution memory of every query after it — a registry sweep would
    * otherwise slow down monotonically with position, and Pin's persist
    * mode relies on this RUN boundary to release its per-round frames. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  /** Runs the query's OWN physical plan to the last row (toRdd.count
    * walks the planned output without re-optimizing). A bare df.count()
    * re-plans `count(1)` over the tree and Spark 4's optimizer is allowed
    * to DELETE real work under it — an outer join onto a unique-key
    * aggregate is pruned whole, which reduced the census-shaped queries
    * (hn04/hn05/ivf07/sd01: per-layer audit frames LEFT-JOINed onto an
    * anchor) to counting a 3-row Range. toRdd executes exactly what
    * Verify writes and a consumer reads — every aggregate, join, and the
    * final sort included. */
  def force(df: DataFrame): Unit = {
    df.queryExecution.toRdd.count(); ()
  }
}
