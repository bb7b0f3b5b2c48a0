package graft

import org.apache.spark.sql.GraftDatasetBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** Registry-wide lints over ONE build per query. Each registry query is
  * built once at sf0.001 (a shared lazy fixture) and every lint reads
  * that single build: the conf snapshot around it, its schema, the
  * analyzed plan's broadcast-hinted subtrees (counted before release),
  * the optimized plan's cross joins, the executed plan's
  * CartesianProduct grep and a `count()`. Only hinted queries are
  * rebuilt, at sf0.01, for the broadcast guard's scale comparison.
  * Build failures are collected by name; every lint that needs the
  * failed reading fails on them. */
class RegistrySweepSpec extends AnyFunSuite {
  import RegistrySweepSpec._

  private def spark = TestSpark.spark
  private val sfSmall = "/root/testdata/sf0.001"
  private val sfBig = "/root/testdata/sf0.01"

  /** Broadcast guard: hinted frames that grow with the TESTDATA corpus
    * by construction but are bounded operationally; each entry
    * documents why. */
  private val broadcastWhitelist: Map[String, String] = Map(
    "dd12_incremental_admission" ->
      ("delta side = one ingest shard (doc_id % 10 = 0 in testdata); " +
        "production deltas are bounded by the ingest batch, not the corpus"),
    "dc01_decontaminate" ->
      ("eval side = held-out benchmark (doc_id % 50 = 0 in testdata); " +
        "a real eval suite is a fixed few-MB artifact"),
    "cc01_curation_pipeline" ->
      ("same eval-benchmark stand-in as dc01 inside the funnel's " +
        "decontamination stage"),
    "ev12_lateness_audit" ->
      ("watermark table = one row per 5-minute trigger batch — bounded " +
        "by wall-clock span (a year ≈ 105k rows ≈ 2 MB), not event " +
        "volume; testdata only grows it until every slot is occupied"),
    "dc02_semantic_decontam" ->
      ("eval side = held-out benchmark embeddings (vec_id % 50 = 0 in " +
        "testdata); same fixed-eval-artifact reason as dc01 — a real " +
        "eval suite is a few thousand vectors regardless of corpus size"),
    "iv01_incremental_join" ->
      ("hinted frames are the dimension-upsert batch ΔS (c_custkey % 10 " +
        "= 0 in testdata); production deltas are bounded by the upsert " +
        "batch, not the standing table — same reason as dd12's shard"))

  /** Cross-join lint exceptions: name → why the shape is safe anyway.
    * Bounded in fact but not by plan structure alone — each reason
    * names the bound the estimator can't see. */
  private val crossJoinWhitelist: Map[String, String] = Map(
    "it02_locf_resample" ->
      ("grid side is explode(sequence(min ts, max ts, 6h)) over a 1-row " +
        "aggregate: bounded by the data's TIME SPAN (~120 points), not " +
        "row count; output is |users|x|grid|, linear in users"),
    "mx03_budget_mix" ->
      ("water-filling policy math over the per-source frame (~20 rows, " +
        "source-cardinality-bounded); the k/theta scalars come from a " +
        "right-join against a 1-row frame the estimator can't bound"),
    "kn01_knn_classifier" ->
      ("held-out query side is the fixed vec_id < 64 prefix (64 rows, " +
        "scale-invariant) broadcast against the reference slice — the " +
        "sm01/pq01 bounded-query-side precedent; the slices are disjoint " +
        "so there is genuinely no join condition to condition on"),
    "pq01_pq_adc_search" ->
      ("ADC scoring joins the code table against the QUERY-side distance " +
        "tables — 3 rows by the vec_id < 3 prefix filter (sm01's bounded-" +
        "query-side precedent), a value bound the structural estimator " +
        "can't see; output is |codes| x 3, linear in the corpus"))

  /** Conf hygiene: confs a query may legitimately leave set for the
    * session — session-scoped OPT-INS that are semantics-safe for every
    * other query by construction. */
  private val sessionScoped: Set[String] = Set(
    // MvQueries: MV-rewrite opt-in. Safe to leave on: the rule fires
    // only on plans whose rewrite is exactly semantics-preserving
    // (MvSpec's disqualifier matrix) and ties each MV to its exact
    // fact path, so no other query's results can change.
    "spark.graft.mv.registry",
    // Tables.events: physical-type adapter for TIMESTAMP(NANOS)
    // parquet; a no-op for every non-NANOS column in the corpus.
    "spark.sql.legacy.parquet.nanosAsLong")

  private def read(q: GraftQuery): Reading = {
    val before = spark.conf.getAll
    try {
      val df = Try(q.build(spark, sfSmall))
      val schema = df.map(_.schema)
      val hinted = df.map(d => hintedCounts(d.queryExecution.analyzed))
      val crossJoins = df.map { d =>
        d.queryExecution.optimizedPlan.collect {
          case j: Join if j.condition.isEmpty || j.joinType == Cross =>
            CrossJoin(est(j.left), est(j.right), j.simpleString(2))
        }
      }
      val cartesian = df.map(_.queryExecution.executedPlan.toString.contains("CartesianProduct"))
      val count = df.map(_.count())
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k))
        .map(k => k -> (before.get(k), after.get(k))).toMap
      Reading(q, schema, hinted, crossJoins, cartesian, count, changed)
    } finally Harness.release(spark)
  }

  private lazy val sweep: Seq[Reading] = Registry.all.map(read)

  /** The `reading` of every query; fails the test with one
    * "<name> <what>: <error>" line per query whose reading failed. */
  private def readings[A](reading: Reading => Try[A], what: String): Seq[(GraftQuery, A)] = {
    val broken = sweep.flatMap(r =>
      reading(r).failed.toOption.map(e => s"${r.query.name} $what: $e"))
    if (broken.nonEmpty) fail(broken.mkString("\n"))
    sweep.map(r => r.query -> reading(r).get)
  }

  /** Row counts of an analyzed plan's broadcast-hinted subtrees,
    * traversal order. Count BEFORE releasing: loop-built queries pin
    * per-round frames during construction and the hinted subtrees read
    * them. */
  private def hintedCounts(plan: LogicalPlan): Seq[Long] =
    plan.collect { case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
      h.child
    }.map(t => GraftDatasetBridge.ofRows(spark, t).count())

  /** Conservative upper bound on a plan's row count, or None. */
  private def est(p: LogicalPlan): Option[Long] = p match {
    case l: LocalRelation => Some(l.data.length.toLong)
    case r: Range => Some(r.numElements.toLong)
    case _: OneRowRelation => Some(1L)
    case a: Aggregate =>
      if (a.groupingExpressions.isEmpty) Some(1L) else est(a.child)
    case l: GlobalLimit => litValue(l.limitExpr) orElse est(l.child)
    case l: LocalLimit => litValue(l.limitExpr) orElse est(l.child)
    case e: Expand => est(e.child).map(_ * e.projections.size)
    case j: Join =>
      for (a <- est(j.left); b <- est(j.right)) yield a * b
    case u: Union =>
      val bs = u.children.map(est)
      if (bs.forall(_.isDefined)) Some(bs.flatten.sum) else None
    case _: Generate => None // explode expands unboundedly
    case d: Distinct => est(d.child)
    case d: Deduplicate => est(d.child)
    case w: Window => est(w.child)
    case p: Project => est(p.child)
    case f: Filter => est(f.child)
    case s: Sort => est(s.child)
    case h: ResolvedHint => est(h.child)
    case a: SubqueryAlias => est(a.child)
    case r: RepartitionOperation => est(r.child)
    case s: Sample => est(s.child)
    case _ => None // any unrecognized node: assume unbounded
  }

  private def litValue(e: Expression): Option[Long] = e match {
    case Literal(v: Int, _) => Some(v.toLong)
    case _ => None
  }

  /** Registry completeness guard: EVERY registry query must at least
    * ANALYZE against the current testdata. Building a DataFrame runs
    * Catalyst analysis eagerly, so schema drift in the corpus (the
    * round-7 events.parquet nanos→micros regeneration killed 18
    * queries with zero per-name signal) surfaces here as a named list
    * instead of one opaque red. */
  test("every registry query analyzes against current testdata") {
    val failures = sweep.flatMap { r =>
      r.schema.failed.toOption.map(e =>
        s"${r.query.name}: ${e.getClass.getSimpleName} ${Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" | ")}")
    }
    assert(failures.isEmpty,
      s"${failures.size} registry queries fail analysis:\n${failures.mkString("\n")}")
  }

  /** Session-conf hygiene: a registry query must leave the session's
    * SQL conf exactly as it found it — a leaked knob silently changes
    * the semantics or the safety margin of EVERY query that runs after
    * it in the same session (the round-10 finding: gr05 left
    * `spark.sql.cteRecursionRowLimit` at 100M, a 100× weaker
    * runaway-recursion guard for the rest of the session).
    *
    * Execution-time knobs that can't be scoped by try/finally (Spark
    * reads them when the lazy plan RUNS, not when the builder returns)
    * have two sanctioned idioms, both exercised in the registry:
    * eager-materialize inside the raised window (gr05), or a child
    * session via `newSession()` — shared SparkContext and extensions,
    * isolated conf (ad02, sy03). */
  test("every registry query leaves session conf as it found it") {
    readings(_.count, "failed to run during the conf sweep")
    val leaks = sweep.flatMap { r =>
      val changed = r.confChanges.filterNot { case (k, _) => sessionScoped(k) }
      if (changed.isEmpty) None
      else Some(s"${r.query.name}: " + changed.toSeq.sortBy(_._1).map {
        case (k, (before, after)) =>
          s"$k ${before.getOrElse("<unset>")} -> ${after.getOrElse("<unset>")}"
      }.mkString(", "))
    }
    assert(leaks.isEmpty,
      "queries leaked session conf:\n  " + leaks.mkString("\n  "))
  }

  /** Engine-wide guard against the one plan shape with no 100 TB story:
    * an EXPLICIT `broadcast()` hint on a frame whose cardinality grows
    * with the corpus. A hint bypasses Spark's size threshold AND AQE's
    * runtime re-check, so a corpus-growing build side that fits today
    * is a guaranteed driver/executor OOM at 100× (round-6 verdict:
    * tx13/tx14/dd13 shipped this way).
    *
    * Checked EMPIRICALLY: "bounded" means scale-invariant. Each
    * broadcast-hinted subtree of the analyzed plan is counted at
    * sf0.001 and at sf0.01 (a 10× corpus). A genuinely bounded frame —
    * 1-row totals, fixed dimension (25 nations), top-k output,
    * per-group threshold table, 1024-bucket stats, fixed query set —
    * produces (near-)identical counts at both scales; anything that
    * tracks the corpus grows ≈5–10× and fails. Hint-free joins are out
    * of scope by design: without a hint, size-based planning + AQE pick
    * broadcast only while the RUNTIME size fits. */
  test("no broadcast hint pins a corpus-growing frame (counts scale-invariant sf0.001→sf0.01)") {
    val offenders = readings(_.hintedCounts, "failed to count its hinted frames")
      .collect { case (q, counts) if counts.nonEmpty =>
        val small = counts.max
        val big =
          try {
            val trees = hintedCounts(q.build(spark, sfBig).queryExecution.analyzed)
            if (trees.isEmpty) 0L else trees.max
          } finally Harness.release(spark)
        // bounded ⇒ scale-invariant; ≤ max(64, 2×) absorbs fixed frames
        // that happen to be data-dependent in the tail (per-group tables
        // where a rare group exists only at the larger scale)
        if (big > math.max(64L, 2L * small) && !broadcastWhitelist.contains(q.name))
          Some(s"${q.name}: largest hinted frame $small rows @sf0.001 → $big rows @sf0.01")
        else None
      }.flatten
    assert(offenders.isEmpty,
      "broadcast hints on corpus-growing frames (drop the hint — size-based " +
        "planning/AQE still broadcasts while it fits — or broadcast the " +
        "bounded side, or whitelist with an operational-boundedness reason):\n" +
        offenders.mkString("\n"))
  }

  /** Scale lint: the ONLY sanctioned cross-join shape is the
    * scalar-join idiom — `crossJoin(broadcast(x))` where `x` is a ≤1-row
    * aggregate or a tiny fixed grid. An unconditioned join whose both
    * sides grow with the corpus works at sf0.01 and detonates at sf10.
    * Boundedness ([[est]]) is a conservative structural recursion, not
    * Catalyst statistics (estimates): anything unproven is unbounded, so
    * a passing lint is a real guarantee. */
  test("every cross/unconditioned join in every registry query has a provably-bounded side") {
    val bad = readings(_.crossJoins, "failed to build").flatMap { case (q, joins) =>
      joins.collect {
        case CrossJoin(lb, rb, plan)
            if !((lb ++ rb).minOption.exists(_ <= 64) || crossJoinWhitelist.contains(q.name)) =>
          s"${q.name}: cross join with no bounded side (left=$lb right=$rb)\n  $plan"
      }
    }
    assert(bad.isEmpty,
      s"\n${bad.size} unbounded cross join(s):\n${bad.mkString("\n")}")
  }

  /** crossJoin against a broadcast 1-row aggregate plans as
    * BroadcastNestedLoopJoin (fine — the big side streams once); a
    * CartesianProduct means BOTH sides shuffle-replicate, the one join
    * shape with no 100 TB story. */
  test("no registry query plans a CartesianProduct") {
    val offenders = readings(_.cartesian, "failed to plan").collect {
      case (q, true) => q.name
    }
    assert(offenders.isEmpty, s"cartesian products in: ${offenders.mkString(", ")}")
  }

  test("whitelist names stay in sync with the registry") {
    val names = Registry.all.map(_.name).toSet
    val stale = (broadcastWhitelist.keys ++ crossJoinWhitelist.keys).filterNot(names)
    assert(stale.isEmpty, s"whitelisted queries no longer registered: ${stale.mkString(", ")}")
  }
}

object RegistrySweepSpec {
  /** An unconditioned join: row bounds of its two sides, and the join. */
  final case class CrossJoin(left: Option[Long], right: Option[Long], plan: String)

  /** What one build of one query at sf0.001 shows. A build failure fails
    * every reading; a later failure fails only its own. `confChanges`
    * maps each conf the run changed to its (before, after) values. */
  final case class Reading(
      query: GraftQuery,
      schema: Try[StructType],
      hintedCounts: Try[Seq[Long]],
      crossJoins: Try[Seq[CrossJoin]],
      cartesian: Try[Boolean],
      count: Try[Long],
      confChanges: Map[String, (Option[String], Option[String])])
}
