package graft.operators

import graft.Pin.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact-rank selection — the value at integer rank
  * `ceil(pct·n/100)` per group WITHOUT sorting (or even shuffling) the
  * fact table.
  *
  * The naive plan (`row_number() OVER (PARTITION BY group ORDER BY v)`)
  * sorts each group inside ONE task: with a low-cardinality group key
  * (ws01's `l_returnflag` has 3 values) that is the whole table sorted
  * in 3 tasks — a scale-killer at 100 TB. A range-exchange variant
  * (spread each group over many ordered partitions, prefix-sum the
  * per-partition counts) fixes the parallelism but still pays one full
  * shuffle of the fact table. Exact rank selection needs neither: it is
  * histogram refinement (the distributed selection algorithm):
  *
  *  1. per-group `min/max/count` — one columnar scan, tiny output;
  *  2. bucket every value into `B` equi-width bins over [lo, hi] — a
  *     deterministic per-row expression (broadcast of the tiny extent
  *     table; no shuffle of fact rows). The histogram aggregation
  *     ships #groups × B partial counts, never data;
  *  3. per-group prefix sums over the histogram locate the ONE bucket
  *     whose count interval covers each target rank, and the rank's
  *     local position `lr` inside that bucket;
  *  4. fact rows join the broadcast hit-bucket table — everything
  *     outside a hit bucket dies map-side — and a `row_number` window
  *     partitioned by (group, pct) orders ONLY the surviving bucket
  *     (≈ n/B rows; the window's exchange moves one bucket per
  *     (group, pct), never the table).
  *
  * The bucket index is a pure function of (v, lo, hi), so every branch
  * observes identical bucketing with no cross-stage partition-id
  * coupling, and the selected value — an exact order statistic — is
  * independent of bucketing entirely. Degenerate value distributions
  * (a bucket holding most of a group, e.g. a near-constant column)
  * would degrade step 4 toward the naive sort for that group;
  * `refineLevels` bounds that: each level re-histograms a hot cohort
  * over its own extent (another ×B shrink) and an all-equal cohort —
  * the case bucketing can never split — is answered directly from its
  * extent, no ordering at all (see [[selectAt]]; RankSpec pins it on a
  * 99%-constant column).
  *
  * The narrow (group, value) projection is pinned ([[graft.Pin]]) ONCE up
  * front — the three passes (extent, histogram, cohort) then read
  * materialized blocks instead of re-evaluating the input lineage,
  * which matters when the input is itself a window/join pipeline
  * (ev09's per-user lag). The tiny frames (`ext`, `hits`) are
  * pinned too so broadcast builds don't re-trigger a pass per
  * reference. Zero fact shuffles throughout.
  */
object Rank {

  /** Distributed 1-based global `row_number` over the strict total
    * order given by `sortCols`: range-partition on the keys,
    * partition-local sort, then `zipWithIndex` adds contiguous
    * per-partition offsets. The rank is partition-count-invariant and
    * there is NO single-partition window anywhere — at 100 TB this is
    * two narrow passes (sample-based range boundaries + the sorted
    * write), the same machinery dd15's sorted-neighborhood rank uses.
    * `sortCols` must be a strict total order (include a tiebreaker
    * id) or ranks are nondeterministic within ties. */
  def globalRowNumber(df: DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
      out: String = "rn"): DataFrame = {
    val sorted = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    df.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
      },
      sorted.schema.add(out, org.apache.spark.sql.types.LongType))
  }

  /** One row per group: `groupCol` plus one column per `(alias, pct)`
    * — the group's value at discrete rank `(n·pct+99) div 100`
    * (1-based ceil semantics, integer arithmetic, so any engine picks
    * the identical element; no interpolation, no float rank math).
    * `valCol` must be non-null. Output is NOT sorted — callers order. */
  def discretePercentiles(df: DataFrame, groupCol: String, valCol: String,
      pcts: Seq[(String, Int)], buckets: Int = 1024,
      refineLevels: Int = 0): DataFrame = {
    // Selection is a MULTI-PASS algorithm (extent, histogram, cohort) —
    // materialize the narrow (g, v) projection ONCE so the input
    // lineage (which may itself be an expensive window/join pipeline,
    // e.g. ev09's per-user lag) is evaluated once, not once per pass.
    // Pin persists it (recomputable on executor loss; see graft.Pin).
    // At scale this is the temp table any selection pass keeps, priced
    // at one write of two columns instead of three re-evaluations.
    // (no fanout here: spreading the narrow (g, v) projection before
    // the pin measured net-negative — r16 probe, ap01 0.48→0.71 s vs
    // q30's −0.07 — the selection passes over the cached 2-column
    // frame are cheap enough that the extra keyed exchange dominates;
    // callers that feed a genuinely expensive map side fan out
    // themselves, as ws01 does)
    val base = df.select(col(groupCol).as("g"), col(valCol).as("v"))
      .pinned
    val ext = base.groupBy("g")
      .agg(min("v").as("lo"), max("v").as("hi"), count(lit(1)).as("n"))
      .pinned
    val bucketed = base.join(broadcast(ext.select("g", "lo", "hi")), Seq("g"))
      .withColumn("b", when(col("hi") === col("lo"), lit(0)).otherwise(
        least(lit(buckets - 1),
          floor((col("v") - col("lo")) / (col("hi") - col("lo")) * buckets)
            .cast("int"))))
    val hist = bucketed.groupBy("g", "b").agg(count(lit(1)).as("c"))
    val offs = hist.select(col("g"), col("b"), col("c"),
      coalesce(sum("c").over(Window.partitionBy("g").orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"))
    val tgt = ext.select(col("g") +: pcts.map { case (a, p) =>
      expr(s"(n * $p + 99) div 100").as(s"r_$a") }: _*)
    // one row per (group, pct): the bucket holding the target rank and
    // the rank's local position inside it — tiny by construction
    val hits = pcts.map { case (a, _) =>
      offs.join(tgt, Seq("g"))
        .filter(col(s"r_$a") > col("off") && col(s"r_$a") <= col("off") + col("c"))
        .select(col("g"), col("b"),
          (col(s"r_$a") - col("off")).as("lr"), lit(a).as("tag"))
    }.reduce(_ unionByName _).pinned
    val cohorts = bucketed.join(broadcast(hits), Seq("g", "b"))
      .select(col("g"), col("tag"), col("v"), col("lr"))
    val aggs = pcts.map { case (a, _) =>
      max(when(col("tag") === a, col("v"))).as(a) }
    selectAt(cohorts, refineLevels, buckets)
      .groupBy("g")
      .agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("g", groupCol)
  }

  /** Select the value at local rank `lr` inside each (g, tag) cohort.
    * `levels = 0` orders the cohort directly — correct whenever cohorts
    * are ≈ n/B rows, the common case. Each extra level re-histograms
    * the cohort over its own [lo, hi] extent first, shrinking it
    * another ×B before anything is ordered — the guard for DEGENERATE
    * distributions where equi-width bucketing can't split a hot value
    * range. An all-equal cohort (the true worst case: re-bucketing
    * cannot make progress on it) short-circuits — its min equals its
    * max, and that IS the answer at every rank, no ordering needed. */
  private def selectAt(rows: DataFrame, levels: Int, buckets: Int): DataFrame = {
    if (levels <= 0) {
      val w = Window.partitionBy("g", "tag").orderBy("v")
      rows.withColumn("rn", row_number().over(w))
        .filter(col("rn") === col("lr"))
        .select(col("g"), col("tag"), col("v"))
    } else {
      // a refine level re-reads its cohort three times (extent,
      // re-histogram, next-cohort join); the cohort is ≈ n/B rows by
      // construction, so pinning it is cheap and saves two re-derivations
      // from the base
      val pinned = rows.pinned
      val ext = pinned.groupBy("g", "tag")
        .agg(min("v").as("lo"), max("v").as("hi"), max("lr").as("lr"))
        .pinned
      val done = ext.filter(col("lo") === col("hi"))
        .select(col("g"), col("tag"), col("lo").as("v"))
      val open = ext.filter(col("lo") =!= col("hi"))
      val rebucketed = pinned.drop("lr")
        .join(broadcast(open.select("g", "tag", "lo", "hi")), Seq("g", "tag"))
        .withColumn("b", least(lit(buckets - 1),
          floor((col("v") - col("lo")) / (col("hi") - col("lo")) * buckets)
            .cast("int")))
      val hist = rebucketed.groupBy("g", "tag", "b").agg(count(lit(1)).as("c"))
      val offs = hist.select(col("g"), col("tag"), col("b"), col("c"),
        coalesce(sum("c").over(Window.partitionBy("g", "tag").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"))
      val hit = offs.join(broadcast(open.select("g", "tag", "lr")), Seq("g", "tag"))
        .filter(col("lr") > col("off") && col("lr") <= col("off") + col("c"))
        .select(col("g"), col("tag"), col("b"), (col("lr") - col("off")).as("lr"))
        .pinned
      val next = rebucketed.join(broadcast(hit), Seq("g", "tag", "b"))
        .select(col("g"), col("tag"), col("v"), col("lr"))
      done.unionByName(selectAt(next, levels - 1, buckets))
    }
  }
}
