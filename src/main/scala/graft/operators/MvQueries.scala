package graft.operators

import graft.{Det, Fixtures, GraftQuery, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Query faces for the transparent materialized-view rewrite
  * ([[graft.plans.MvRewrite]], injected via GraftExtensions).
  *
  * TWO summary tables are registered per corpus dir — the registry
  * form, not round-10's single hard-coded MV:
  *  - `fs`:   grain (l_returnflag, l_linestatus), 6 rows, partials
  *            cnt / sum_qty / sum_price — the dashboard MV;
  *  - `date`: grain (l_shipdate), ~|distinct ship dates| rows,
  *            partials cnt / sum_qty — the time-series MV.
  * mv01 hits `fs` at its exact grain; mv02 ROLLS UP to a coarser grain
  * (l_returnflag only), proving the rewrite is algebraic — it merges
  * partial states (SUM of counts, SUM of partial sums) rather than
  * memoizing one query's answer; mv03 replays a dim-only predicate
  * over the MV; mv04 groups by l_shipdate and must be served from
  * `date` (MvSpec pins the SELECTION: each query reads its own MV and
  * never the other's, so dims-coverage — not registry order — picks
  * the candidate). All oracles aggregate the raw fact table directly
  * in DuckDB, so the driver's hash compare is exactly the
  * MV-consistency property: rewritten plan ≡ fact scan.
  *
  * `spark.graft.mv.registry` carries `mvPath|factPath|dims|measures`
  * specs (see [[graft.plans.MvRewrite]]); the factPath ties each MV to
  * the EXACT fact table it was built from, so a multi-corpus JVM never
  * serves sf-dir B's query from sf-dir A's MV. The conf is set by the
  * query build and stays on for the session — safe by construction,
  * because the rule only fires on plans whose rewrite is
  * semantics-preserving (PlanSpec pins that q01's filtered aggregate
  * is untouched with the conf set). The MV build itself clears the
  * conf while writing: its own aggregate matches the rewrite pattern,
  * and the build must always read the fact table. Freshness /
  * invalidation on fact-table updates is out of scope for a static
  * corpus (a production deployment would tie the conf to the table's
  * snapshot version). */
object MvQueries {

  /** grain columns + (fact column → MV partial-sum column) measures */
  private final case class MvDef(
      id: String, dims: Seq[String], measures: Map[String, String])

  private val defs = Seq(
    MvDef("fs", Seq("l_returnflag", "l_linestatus"),
      Map("l_quantity" -> "sum_qty", "l_extendedprice" -> "sum_price")),
    MvDef("date", Seq("l_shipdate"), Map("l_quantity" -> "sum_qty")))

  /** Runs an MV build with the registry conf cleared: the build's own
    * aggregate matches the rewrite pattern, and it must read the FACT
    * table, never an MV from an earlier corpus dir. */
  private def factOnly[T](s: SparkSession)(build: => T): T = {
    val prev = s.conf.getOption("spark.graft.mv.registry")
    s.conf.unset("spark.graft.mv.registry")
    try build finally prev.foreach(v => s.conf.set("spark.graft.mv.registry", v))
  }

  private def buildMv(s: SparkSession, d: String, mv: MvDef): String = {
    val p = Scratch.dir(s"graft_mv_${mv.id}_")
    factOnly(s) {
      Tables.lineitem(s, d)
        .groupBy(mv.dims.map(col): _*)
        .agg(count(lit(1)).as("cnt"),
          mv.measures.toSeq.sortBy(_._2).map { case (src, dst) =>
            sum(Det.dec2(col(src))).as(dst)
          }: _*)
        .coalesce(1) // grain-sized output: one file
        .write.mode("overwrite").parquet(p)
    }
    p
  }

  /** Build both MVs once per corpus dir (one fixture, attributed to the
    * query that triggered it: mv02/mv03/mv04 can be first) and return
    * the registry conf value. Visible for MvSpec. */
  def registryConf(s: SparkSession, d: String, trigger: String): String =
    Fixtures.once(s, d, "mv_registry", trigger) {
      defs.map { mv =>
        val meas = mv.measures.toSeq.sortBy(_._2)
          .map { case (k, v) => s"$k:$v" }.mkString(",")
        s"${buildMv(s, d, mv)}|$d/lineitem.parquet|${mv.dims.mkString(",")}|$meas"
      }.mkString(";")
    }

  private def withMv(s: SparkSession, d: String, trigger: String): Unit =
    s.conf.set("spark.graft.mv.registry", registryConf(s, d, trigger))

  val mv01Rewrite: GraftQuery = GraftQuery(
    "mv01_mv_rewrite",
    (s: SparkSession, d: String) => {
      withMv(s, d, "mv01_mv_rewrite")
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          Det.dsum(col("l_quantity")).as("sum_qty"),
          Det.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
           |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "transparent materialized-view rewrite: fact-table aggregate served from the 6-row summary")

  val mv02Rollup: GraftQuery = GraftQuery(
    "mv02_mv_rollup",
    (s: SparkSession, d: String) => {
      withMv(s, d, "mv02_mv_rollup")
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          Det.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n_rows,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
           |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    "MV roll-up: coarser-grain aggregate merged from the MV's partial states")

  val mv03FilteredRollup: GraftQuery = GraftQuery(
    "mv03_mv_filtered",
    (s: SparkSession, d: String) => {
      withMv(s, d, "mv03_mv_filtered")
      Tables.lineitem(s, d)
        .filter(col("l_returnflag") =!= "A")
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          Det.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_linestatus")
    },
    Some("""SELECT l_linestatus, COUNT(*) AS n_rows,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
           |FROM lineitem WHERE l_returnflag <> 'A'
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    "MV rewrite under a dim-only predicate: the filter selects whole groups, so it replays over the MV")

  val mv04DateGrain: GraftQuery = GraftQuery(
    "mv04_mv_date_grain",
    (s: SparkSession, d: String) => {
      withMv(s, d, "mv04_mv_date_grain")
      Tables.lineitem(s, d)
        .groupBy("l_shipdate")
        .agg(count(lit(1)).as("n_rows"),
          Det.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_shipdate")
    },
    Some("""SELECT l_shipdate, COUNT(*) AS n_rows,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
           |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    "MV selection: the ship-date time series is served from the date-grain MV, not the 6-row dashboard MV")

  /** γ: partial states at the (l_returnflag, l_linestatus) grain —
    * the fold kernel shared by mv05 (one batch refresh), mv06's
    * snapshot chain, and the streaming face
    * ([[graft.streaming.EventStreams.mvRefresh]]). */
  def gammaPartials(df: DataFrame): DataFrame = df
    .groupBy("l_returnflag", "l_linestatus")
    .agg(count(lit(1)).as("cnt"),
      sum(Det.dec2(col("l_quantity"))).as("sum_qty"),
      sum(Det.dec2(col("l_extendedprice"))).as("sum_price"))

  /** Grain-keyed merge of two partial-state frames: γ(A) ⊕ γ(B) ≡
    * γ(A ∪ B). Both sides are grain-sized; one full-outer join. */
  def mergePartials(base: DataFrame, delta: DataFrame): DataFrame =
    base.select(col("l_returnflag"), col("l_linestatus"),
        col("cnt").as("cb"), col("sum_qty").as("qb"), col("sum_price").as("pb"))
      .join(delta.select(col("l_returnflag"), col("l_linestatus"),
        col("cnt").as("cd"), col("sum_qty").as("qd"), col("sum_price").as("pd")),
        Seq("l_returnflag", "l_linestatus"), "full_outer")
      .select(col("l_returnflag"), col("l_linestatus"),
        (coalesce(col("cb"), lit(0L)) + coalesce(col("cd"), lit(0L))).as("cnt"),
        (coalesce(col("qb"), lit(0).cast(DecimalType(12, 2))) +
          coalesce(col("qd"), lit(0).cast(DecimalType(12, 2)))).as("sum_qty"),
        (coalesce(col("pb"), lit(0).cast(DecimalType(12, 2))) +
          coalesce(col("pd"), lit(0).cast(DecimalType(12, 2)))).as("sum_price"))

  /** Incrementally-REFRESHED MV, then served: the missing lifecycle
    * step between the MV rewrite (mv01–mv04: build once, serve) and
    * aggregate IVM (av01: merge partial states on a delta). Here the
    * summary table is never built by a full fact scan at registration
    * time — it is γ(base) merged with γ(Δ) (the append-only lake case:
    * one grain-keyed full-outer merge with coalesced count/sum adds,
    * cost O(|Δ| + grain) — deletes are av01's covered case), written,
    * and REGISTERED for the full fact path. The query then aggregates
    * the real lineitem table and must be served from the refreshed MV
    * (MvSpec pins the graft_mv_inc_ scan), and the driver's hash
    * compare against a direct DuckDB fact aggregate is exactly the
    * refresh-consistency property: γ(base) ⊕ γ(Δ) ≡ γ(base ∪ Δ). At
    * 100 TB this is the nightly-MV flow: the fact table is scanned
    * once ever (the initial build); every refresh costs the delta. */
  private def incMvPath(s: SparkSession, d: String): String =
    Fixtures.once(s, d, "mv05_mv", "mv05_mv_incremental_refresh") {
      val p = Scratch.dir("graft_mv_inc_")
      factOnly(s) {
        val li = Tables.lineitem(s, d)
        val base = gammaPartials(li.filter(col("l_orderkey") % 9 =!= 0))
        val delta = gammaPartials(li.filter(col("l_orderkey") % 9 === 0))
        // grain-keyed merge of partial states — the refresh step; both
        // sides are grain-sized (≤ 6 rows), the fact table is touched
        // only by the two γ passes above
        mergePartials(base, delta)
          .coalesce(1)
          .write.mode("overwrite").parquet(p)
      }
      p
    }

  val mv05IncrementalRefresh: GraftQuery = GraftQuery(
    "mv05_mv_incremental_refresh",
    (s: SparkSession, d: String) => {
      val p = incMvPath(s, d)
      s.conf.set("spark.graft.mv.registry",
        s"$p|$d/lineitem.parquet|l_returnflag,l_linestatus|" +
          "l_quantity:sum_qty,l_extendedprice:sum_price")
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          Det.dsum(col("l_quantity")).as("sum_qty"),
          Det.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
           |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "incremental MV refresh: γ(base) ⊕ γ(Δ) registered and served — hash-checked against the fact truth")

  /** Streaming MV refresh, batch twin: the MV is born EMPTY (v_0 —
    * no initial fact scan at all) and the fact arrives as four
    * sequential ingest batches, each folded by the same
    * [[gammaPartials]]/[[mergePartials]] kernel the streaming face
    * ([[graft.streaming.EventStreams.mvRefresh]]) runs per
    * micro-batch, writing the dd18-style versioned snapshot chain
    * v_0 → v_4. The FINAL snapshot is then registered for the full
    * fact path and must serve the fact aggregate (MvSpec pins the
    * scan); the driver's hash compare against DuckDB's direct fact
    * aggregate is the fold-consistency law ⊕ᵢ γ(Δᵢ) ≡ γ(∪Δᵢ). The
    * streaming face replays the identical chain from a checkpointed
    * query with restart (StreamingSpec) — this query is its
    * oracle-checked twin, the dd18/ev18 discipline applied to MVs. */
  private def streamMvPath(s: SparkSession, d: String): String =
    Fixtures.once(s, d, "mv06_mv", "mv06_mv_streaming_refresh") {
      val root = Scratch.dir("graft_mv_stream_")
      val K = 4
      factOnly(s) {
        val li = Tables.lineitem(s, d)
        gammaPartials(li.filter(lit(false))) // empty v_0, grain schema
          .coalesce(1).write.mode("overwrite").parquet(s"$root/v_0")
        for (i <- 0 until K) {
          val state = s.read.parquet(s"$root/v_$i")
          mergePartials(state,
              gammaPartials(li.filter(col("l_orderkey") % K === i)))
            .coalesce(1).write.mode("overwrite").parquet(s"$root/v_${i + 1}")
        }
      }
      s"$root/v_$K"
    }

  val mv06StreamingRefresh: GraftQuery = GraftQuery(
    "mv06_mv_streaming_refresh",
    (s: SparkSession, d: String) => {
      val p = streamMvPath(s, d)
      s.conf.set("spark.graft.mv.registry",
        s"$p|$d/lineitem.parquet|l_returnflag,l_linestatus|" +
          "l_quantity:sum_qty,l_extendedprice:sum_price")
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          Det.dsum(col("l_quantity")).as("sum_qty"),
          Det.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
           |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "streaming MV refresh (batch twin): empty-born MV folded over 4 ingest batches, served for the fact path")

  val all: Seq[GraftQuery] =
    Seq(mv01Rewrite, mv02Rollup, mv03FilteredRollup, mv04DateGrain,
      mv05IncrementalRefresh, mv06StreamingRefresh)
}
