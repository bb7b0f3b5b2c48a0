package graft.operators

import graft.{GraftQuery, Sizing, Tables}
import graft.GraftQuery.q
import graft.Pin.PinOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph computation as repeated join+aggregate rounds — the
  * third convergence-loop shape in the engine next to dd08's
  * connected-components label fold and ivf03's Lloyd iterations.
  *
  * PageRank here runs a FIXED number of rounds in integer fixed-point
  * arithmetic (ranks scaled by 10^12, every division an integer
  * division), which buys two things at once:
  *  - cross-engine determinism: no floating-point sums whose
  *    accumulation order differs between Spark's shuffle and DuckDB's
  *    scan, so the oracle (the same three rounds unrolled as CTEs)
  *    hash-matches exactly;
  *  - order-independence inside Spark itself: BIGINT sums are exact
  *    whatever the partial-aggregation schedule.
  *
  * Scale shape: each round is one shuffle (groupBy dst) joined against
  * the static edge list; ranks are pinned ([[graft.Pin]]) per round so
  * later rounds read cached blocks instead of recomputing the whole
  * chain (persist does NOT truncate lineage — the logical plan still
  * grows by one round per iteration). The edge list with out-degrees is
  * computed once and reused by every round. At cluster scale the edge
  * list would be bucketed by src so the per-round join never
  * reshuffles the big side.
  *
  * Per-round node-state joins (rank / hub / authority / frontier
  * tables — all O(|V|)) are plain equi-joins: scale-safe at web-graph
  * |V|, and AQE still converts them to a runtime broadcast while the
  * state fits the threshold.
  */
object GraphQueries {
  /** Input-sized width for the component/BFS spans (gr05–gr07): they
    * run ~10–40 micro-stages over frames bounded by the distinct-pair/
    * vertex size, and at the session's fact-table width each stage fans
    * into near-empty tasks (measured 17–33% of gr05/gr06/gr07 at
    * sf0.1). AQE off: its per-stage driver barrier is pure latency at
    * the sized width (r17 min-of-5: gr06 0.88×, gr05/gr07 neutral). */
  private val ByLineitem = Sizing.Input("lineitem", adaptive = false)

  private val SCALE = 1000000000000L // 10^12 fixed-point
  private val ITERS = 3

  /** Top-25 PageRank over the undirected customer↔supplier bipartite
    * graph induced by lineitem (who traded with whom). Damping 0.85 in
    * integer arithmetic: r' = base + 85·Σ(r_src div deg_src) div 100,
    * base = (SCALE div n)·15 div 100. */
  val gr01PageRank: GraftQuery = {
    def iterSql(i: Int): String = {
      val prev = s"r${i - 1}"
      s"""c$i AS (
         |  SELECT e.dst, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
         |  FROM edges e JOIN $prev r ON e.src = r.node JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT node, CAST(b + 85 * COALESCE(s, 0) // 100 AS BIGINT) AS r
         |  FROM nodes CROSS JOIN base LEFT JOIN c$i ON node = c$i.dst)""".stripMargin
    }
    q("gr01_pagerank",
      s"$ITERS-round fixed-point PageRank over the customer-supplier trade graph",
      s"""WITH eb AS (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (
         |  SELECT c * 2 AS src, sp * 2 + 1 AS dst FROM eb
         |  UNION ALL
         |  SELECT sp * 2 + 1, c * 2 FROM eb),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |params AS (SELECT COUNT(*) AS n FROM nodes),
         |base AS (SELECT CAST((($SCALE // n) * 15) // 100 AS BIGINT) AS b FROM params),
         |r0 AS (SELECT node, CAST($SCALE // n AS BIGINT) AS r FROM nodes, params),
         |${(1 to ITERS).map(iterSql).mkString(",\n")}
         |SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
         |            ELSE 's' || CAST(node // 2 AS VARCHAR) END AS node,
         |  r AS rank_scaled FROM r$ITERS
         |ORDER BY rank_scaled DESC, node LIMIT 25""".stripMargin) { (s, d) =>
      val eb = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .distinct()
      // Nodes are BIGINT-encoded (customer = 2k, supplier = 2k+1):
      // long join keys shuffle and checkpoint at a fraction of the
      // string encoding's cost; labels decode only in the final 25 rows.
      val edges = eb.select(
          (col("c") * 2).as("src"), (col("sp") * 2 + 1).as("dst"))
        .unionByName(eb.select(
          (col("sp") * 2 + 1).as("src"), (col("c") * 2).as("dst")))
        .pinned // static across rounds: compute the join once
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val edgeDeg = edges.join(deg, "src").pinned
      val nodes = edges.select(col("src").as("node")).distinct()
      val params = nodes.agg(count(lit(1)).as("n"))
      var ranks = nodes.crossJoin(broadcast(params))
        .select(col("node"), expr(s"$SCALE div n").as("r"))
        .pinned
      for (_ <- 1 to ITERS) {
        // |V| ≪ |E|, but |V| still grows with the graph: the rank table
        // joins by shuffle (edges bucketed by src at cluster scale keep
        // the big side stationary). The only per-round shuffle beyond
        // the rank join is the partial+final contribution sum on dst.
        val contribs = edgeDeg
          .join(ranks, col("src") === col("node"))
          .select(col("dst"), expr("r div deg").as("cb"))
          .groupBy("dst").agg(sum(col("cb")).as("s"))
        ranks = nodes.crossJoin(broadcast(params))
          .join(contribs, col("node") === col("dst"), "left")
          .select(col("node"),
            (expr(s"($SCALE div n) * 15 div 100") +
              expr("85 * coalesce(s, 0) div 100")).as("r"))
          .pinned
      }
      ranks.select(
          when(col("node") % 2 === 0,
            concat(lit("c"), expr("node div 2").cast("string")))
            .otherwise(concat(lit("s"), expr("node div 2").cast("string")))
            .as("node"),
          col("r").as("rank_scaled"))
        .orderBy(col("rank_scaled").desc, col("node")).limit(25)
    }
  }

  /** HITS hubs & authorities on the DIRECTED customer→supplier trade
    * graph — the second named graph algorithm, sharing gr01's loop
    * skeleton but alternating two score vectors: authority(s) = Σ
    * hub(c) over buyers, hub(c) = Σ authority(s) over sellers, each
    * renormalized to Σ = SCALE with integer division so every round
    * stays exact and schedule-independent (no float normalization —
    * `sqrt` norms would drift cross-engine). Two rounds, unrolled in
    * the oracle. The per-role top-15 runs through the custom
    * k-bounded TopKPerGroup operator, not a window sort. */
  val gr02Hits: GraftQuery = {
    val S = 1000000L // fixed-point scale; Σ scores per side ≈ S each round
    def roundSql(i: Int): String = {
      val prevH = if (i == 1) "h0" else s"h${i - 1}"
      s"""ar$i AS (
         |  SELECT sp, CAST(SUM(h) AS BIGINT) AS ar
         |  FROM eb JOIN $prevH USING (c) GROUP BY sp),
         |a$i AS (
         |  SELECT sp, CAST(ar * $S // (SELECT SUM(ar) FROM ar$i) AS BIGINT) AS a
         |  FROM ar$i),
         |hr$i AS (
         |  SELECT c, CAST(SUM(a) AS BIGINT) AS hr
         |  FROM eb JOIN a$i USING (sp) GROUP BY c),
         |h$i AS (
         |  SELECT c, CAST(hr * $S // (SELECT SUM(hr) FROM hr$i) AS BIGINT) AS h
         |  FROM hr$i)""".stripMargin
    }
    q("gr02_hits",
      "2-round integer HITS hubs/authorities; per-role top-15 via the TopK operator",
      s"""WITH eb AS (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |h0 AS (SELECT DISTINCT c, $S AS h FROM eb),
         |${(1 to 2).map(roundSql).mkString(",\n")},
         |scored AS (
         |  SELECT 'authority' AS role, sp AS nid, a AS score FROM a2
         |  UNION ALL SELECT 'hub', c, h FROM h2),
         |ranked AS (
         |  SELECT role, nid, score,
         |    ROW_NUMBER() OVER (PARTITION BY role ORDER BY score DESC, nid) AS rn
         |  FROM scored)
         |SELECT role, CASE WHEN role = 'hub' THEN 'c' || CAST(nid AS VARCHAR)
         |                  ELSE 's' || CAST(nid AS VARCHAR) END AS node,
         |  score, CAST(rn AS BIGINT) AS rn
         |FROM ranked WHERE rn <= 15 ORDER BY role, rn""".stripMargin) { (s, d) =>
      val eb = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .distinct().pinned
      var h = eb.select(col("c")).distinct().withColumn("h", lit(S))
      var a: DataFrame = null
      for (_ <- 1 to 2) {
        val ar = eb.join(h, Seq("c")).groupBy("sp")
          .agg(sum(col("h")).as("ar"))
        a = ar.crossJoin(broadcast(ar.agg(sum(col("ar")).as("t"))))
          .select(col("sp"), expr(s"ar * $S div t").as("a"))
          .pinned
        val hr = eb.join(a, Seq("sp")).groupBy("c")
          .agg(sum(col("a")).as("hr"))
        h = hr.crossJoin(broadcast(hr.agg(sum(col("hr")).as("t"))))
          .select(col("c"), expr(s"hr * $S div t").as("h"))
          .pinned
      }
      val scored = a.select(lit("authority").as("role"), col("sp").as("nid"),
          col("a").as("score"))
        .unionByName(h.select(lit("hub").as("role"), col("c").as("nid"),
          col("h").as("score")))
      val top = graft.plans.TopKPerGroup.perGroup(scored,
        Seq(col("role")), struct(col("score"), -col("nid")), k = 15)
      val w = Window.partitionBy(col("role"))
        .orderBy(col("score").desc, col("nid"))
      top.withColumn("rn", row_number().over(w).cast("long"))
        .select(col("role"),
          when(col("role") === "hub", concat(lit("c"), col("nid").cast("string")))
            .otherwise(concat(lit("s"), col("nid").cast("string"))).as("node"),
          col("score"), col("rn"))
        .orderBy("role", "rn")
    }
  }

  /** Multi-round BFS from one source over the trade graph — the third
    * loop shape: FRONTIER EXPANSION. Each round is (a) one equi-join of
    * the static edge list against the current frontier and (b) one
    * anti-join against the visited set, then the frontier's distance
    * stamps. Levels unroll in the oracle as CTEs (same fixed-round
    * discipline as gr01/gr02 — determinism by construction, not by
    * convergence tests). Scale shape: the frontier/visited tables are
    * |V|-bounded while edges are |E|-bounded, so the per-round joins
    * keep the BIG side static (bucketed by src at cluster scale) and
    * shuffle only node-sized tables; a Pin per round stops
    * the plan deepening. Output is the reachability profile (nodes per
    * distance) — diameter-bounded rounds, here 4. */
  val gr03Bfs: GraftQuery = {
    val SRC = 2L // customer 1, node-encoded (2k)
    val ROUNDS = 4
    def lvlSql(i: Int): String = {
      val prev = s"v${i - 1}"
      s"""f$i AS (
         |  SELECT DISTINCT e.dst AS node FROM edges e
         |  JOIN $prev p ON e.src = p.node AND p.d = ${i - 1}
         |  WHERE e.dst NOT IN (SELECT node FROM $prev)),
         |v$i AS (SELECT node, d FROM $prev UNION ALL SELECT node, $i AS d FROM f$i)""".stripMargin
    }
    q("gr03_bfs",
      s"$ROUNDS-round BFS frontier expansion: reachability profile from one customer",
      s"""WITH eb AS (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (
         |  SELECT c * 2 AS src, sp * 2 + 1 AS dst FROM eb
         |  UNION ALL
         |  SELECT sp * 2 + 1, c * 2 FROM eb),
         |v0 AS (SELECT CAST($SRC AS BIGINT) AS node, 0 AS d),
         |${(1 to ROUNDS).map(lvlSql).mkString(",\n")}
         |SELECT CAST(d AS BIGINT) AS d, COUNT(*) AS n_nodes,
         |  MIN(node) AS min_node, MAX(node) AS max_node
         |FROM v$ROUNDS GROUP BY d ORDER BY d""".stripMargin) { (s, d) =>
      val eb = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .distinct()
      val edges = eb.select(
          (col("c") * 2).as("src"), (col("sp") * 2 + 1).as("dst"))
        .unionByName(eb.select(
          (col("sp") * 2 + 1).as("src"), (col("c") * 2).as("dst")))
        .pinned // static across rounds
      var visited = s.range(1).select(lit(SRC).as("node"), lit(0).as("d"))
        .pinned
      for (r <- 1 to ROUNDS) {
        val frontier = visited.filter(col("d") === (r - 1))
        val next = edges
          .join(frontier.select(col("node")), col("src") === col("node"))
          .select(col("dst").as("node")).distinct()
          .join(visited.select(col("node")).withColumnRenamed("node", "vn"),
            col("node") === col("vn"), "left_anti")
          .select(col("node"), lit(r).as("d"))
        visited = visited.unionByName(next).pinned
      }
      visited.groupBy(col("d").cast("long").as("d"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("node")).as("min_node"), max(col("node")).as("max_node"))
        .orderBy("d")
    }
  }

  /** gr03's BFS expressed as ONE recursive SQL query — Spark 4's
    * `WITH RECURSIVE` (UnionLoop execution) replaces the driver-side
    * round loop: the engine iterates (working table = the previous
    * step's rows) until the depth guard empties the step, so traversal
    * depth is a RUNTIME property of the data, not an unrolled plan.
    * Same graph, same source, same 4 rounds as gr03, so the min-depth
    * profile is identical — but where gr03's driver loop pins each
    * round and grows the plan per round, the recursive form hands the
    * loop to the engine (the cluster-scale win: one submitted plan, no
    * driver round-trips between rounds).
    *
    * Termination + blowup discipline: the recursive step is DISTINCT
    * (each level ≤ |V| rows, never the path count — on this bipartite
    * graph paths of length 4 number ~10⁸ while levels stay ≤ ~16k) and
    * depth-bounded (d < 4), so the loop runs exactly 4 iterations on
    * any input; BFS min-distances come from the MIN(d)-per-node fold
    * after the loop, which also dedups node re-discoveries across
    * levels. The identical SQL text runs on both engines. */
  val gr05RecursiveBfs: GraftQuery = {
    val body =
      """WITH RECURSIVE
        |eb AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
        |  FROM %LI% JOIN %ORD% ON l_orderkey = o_orderkey),
        |edges AS (
        |  SELECT c * 2 AS src, sp * 2 + 1 AS dst FROM eb
        |  UNION ALL
        |  SELECT sp * 2 + 1, c * 2 FROM eb),
        |walk(node, d) AS (
        |  SELECT CAST(2 AS BIGINT) AS node, 0 AS d
        |  UNION ALL
        |  SELECT DISTINCT e.dst AS node, w.d + 1 AS d
        |  FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.d < 4)
        |SELECT CAST(d AS BIGINT) AS d, COUNT(*) AS n_nodes,
        |  MIN(node) AS min_node, MAX(node) AS max_node
        |FROM (SELECT node, MIN(d) AS d FROM walk GROUP BY node)
        |GROUP BY d ORDER BY d""".stripMargin
    q("gr05_recursive_bfs",
      "BFS as a single recursive CTE (WITH RECURSIVE / UnionLoop) — engine-iterated, DISTINCT-per-level, depth-guarded",
      body.replace("%LI%", "lineitem").replace("%ORD%", "orders"), sizing = ByLineitem) { (s, d) =>
      // UnionLoop re-evaluates every CTE the recursive step references
      // ON EACH ITERATION — the engine loop has no equivalent of
      // gr03's pinned edge frame (measured: 4.0 s vs gr03's ~0.5 s at
      // sf0.1, 2.4× worse at 10×, all of it re-derived edges). So the
      // engine face materializes the static edge list ONCE behind a
      // temp view and recurses over THAT; the recursion itself — the
      // part under test — is unchanged, and the oracle text keeps the
      // inline edges CTE (same rows either way).
      // Spark guards runaway recursion with a 1M-row TOTAL limit
      // (spark.sql.cteRecursionRowLimit) — correct for unbounded
      // recursions, but this one is depth-guarded and DISTINCT-per-
      // level, so its true bound is 4·|V| rows: at the 100× replica
      // (1.5M customers) a single BFS level legitimately exceeds the
      // default and the guard, not the algorithm, kills the query.
      // Raise it FOR THIS QUERY ONLY: UnionLoop reads the conf at
      // execution, not build, so restoring it requires executing the
      // recursion eagerly inside the raised window (starContraction's
      // truncate discipline — reliable checkpoint on a cluster, local
      // in local mode); the conf then goes back in a finally instead
      // of leaving every later query in the session with a 100×
      // weaker runaway-recursion guard (ContractSpec sweeps this).
      // The eager frame is the ≤5-row (d, counts) aggregate, so the
      // materialization itself is free.
      // getOption would report the registered DEFAULT (1M) as if it
      // had been set, and "restoring" it would pin the default as an
      // explicit session value — getAll carries only explicit settings
      val prevLimit = s.conf.getAll.get("spark.sql.cteRecursionRowLimit")
      s.conf.set("spark.sql.cteRecursionRowLimit", "100000000")
      try {
        val eb = Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
          .distinct()
        eb.select((col("c") * 2).as("src"), (col("sp") * 2 + 1).as("dst"))
          .unionByName(eb.select(
            (col("sp") * 2 + 1).as("src"), (col("c") * 2).as("dst")))
          .pinned
          .createOrReplaceTempView("edges_rc")
        val out = s.sql(
          """WITH RECURSIVE walk(node, d) AS (
            |  SELECT CAST(2 AS BIGINT) AS node, 0 AS d
            |  UNION ALL
            |  SELECT DISTINCT e.dst AS node, w.d + 1 AS d
            |  FROM walk w JOIN edges_rc e ON e.src = w.node
            |  WHERE w.d < 4)
            |SELECT CAST(d AS BIGINT) AS d, COUNT(*) AS n_nodes,
            |  MIN(node) AS min_node, MAX(node) AS max_node
            |FROM (SELECT node, MIN(d) AS d FROM walk GROUP BY node)
            |GROUP BY d ORDER BY d""".stripMargin)
        graft.Pin.cut(out)
      } finally prevLimit match {
        case Some(v) => s.conf.set("spark.sql.cteRecursionRowLimit", v)
        case None => s.conf.unset("spark.sql.cteRecursionRowLimit")
      }
    }
  }

  /** TRIANGLE COUNTING over the part co-purchase graph (parts are
    * adjacent when they co-occur in ≥2 order baskets — the same
    * bounded pair generator as mb01), with TOP-D ADJACENCY
    * SPARSIFICATION before the triangle pass. The sparsifier is the
    * load-bearing scale decision, and the 1×/10×/100× growth probe
    * forced it: an absolute co-occurrence threshold lets the graph
    * DENSIFY as the corpus grows (more baskets ⇒ every pair eventually
    * co-occurs twice; the 10× replica reached 1.2M edges and triangle
    * work exploded 15×, heading toward a complete graph whose Ω(n³)
    * triangle set no algorithm escapes). Capping each vertex at its
    * D=20 strongest neighbors (by co-occurrence count, then id — the
    * kNN-graph construction every similarity pipeline uses) bounds
    * degrees at any corpus size, and is exactly scale-invariant under
    * uniform count growth: scaling every count K× preserves each
    * vertex's neighbor RANKING, so the kept edge set converges instead
    * of densifying. Then the classic two-join algorithm on ORIENTED
    * edges: each triangle {a<b<c} counted once by joining e1=(a,b) ⋈
    * e2=(b,c) on the middle vertex and closing with a semi probe for
    * (a,c); wedge fan-out is ≤ (2D)² per vertex. Every join is an
    * equi-join on vertex keys; nothing is ever all-pairs. Output:
    * per-vertex triangle participation, top-20 — the local clustering
    * signal used for community/spam detection. */
  val gr04Triangles: GraftQuery = q(
    "gr04_triangles",
    "triangle counting on top-D-sparsified co-purchase edges: bounded degrees, two equi-joins",
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (
      |  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS n
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |und AS (
      |  SELECT a AS src, b AS dst, n FROM e0
      |  UNION ALL SELECT b, a, n FROM e0),
      |topd AS (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY n DESC, dst) AS rk
      |    FROM und) t WHERE rk <= 20),
      |e AS (
      |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      |  FROM topd),
      |tri AS (
      |  SELECT e1.a AS a, e1.b AS b, e2.b AS c
      |  FROM e e1 JOIN e e2 ON e1.b = e2.a
      |  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
      |pv AS (
      |  SELECT v, COUNT(*) AS n_tri FROM (
      |    SELECT a AS v FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
      |  GROUP BY v)
      |SELECT v AS part, n_tri,
      |  CAST(ROW_NUMBER() OVER (ORDER BY n_tri DESC, v) AS BIGINT) AS rn
      |FROM pv QUALIFY rn <= 20 ORDER BY rn""".stripMargin) { (s, d) =>
    val items = Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey").distinct()
    val ia = items.select(col("l_orderkey"), col("l_partkey").as("a"))
    val ib = items.select(col("l_orderkey").as("ok2"), col("l_partkey").as("b"))
    val e0 = ia.join(ib, col("l_orderkey") === col("ok2") && col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= 2)
    // top-D sparsification: keep each vertex's 20 strongest neighbors
    // (count desc, id) — bounded degrees at ANY corpus density, edge
    // set scale-invariant under uniform count growth (probe-verified)
    val und = e0.select(col("a").as("src"), col("b").as("dst"), col("n_co"))
      .unionAll(e0.select(col("b").as("src"), col("a").as("dst"), col("n_co")))
    val wTop = Window.partitionBy(col("src")).orderBy(col("n_co").desc, col("dst"))
    val e = und.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 20)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .pinned // reused three times (e1, e2, closing probe)
    val wedges = e.select(col("a"), col("b"))
      .join(e.select(col("a").as("b"), col("b").as("c")), "b")
    val tri = wedges.join(
      e.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
    val pv = tri.select(col("a").as("v"))
      .unionAll(tri.select(col("b").as("v")))
      .unionAll(tri.select(col("c").as("v")))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
    pv.orderBy(col("n_tri").desc, col("v")).limit(20)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("n_tri").desc, col("v"))).cast("long"))
      .select(col("v").as("part"), col("n_tri"), col("rn"))
      .orderBy("rn")
  }

  /** gr06/gr07's oracle: min-label propagation over gr06's sparsified
    * edge set, unrolled 40 single-hop rounds (see gr06). */
  private val componentsOracleSql: String = {
    val ROUNDS = 40
    def lblSql(k: Int): String =
      s""",
         |l$k AS MATERIALIZED (
         |  SELECT node, MIN(lbl) AS lbl FROM (
         |    SELECT node, lbl FROM l${k - 1}
         |    UNION ALL
         |    SELECT und.u AS node, l.lbl FROM und JOIN l${k - 1} l ON und.v = l.node
         |  ) t GROUP BY node)""".stripMargin
    s"""WITH items AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS n
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |undw AS (
       |  SELECT a AS src, b AS dst, n FROM e0
       |  UNION ALL SELECT b, a, n FROM e0),
       |topd AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY n DESC, dst) AS rk
       |    FROM undw) t WHERE rk <= 20),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |  FROM topd),
       |und AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
       |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM und)
       |${(1 to ROUNDS).map(lblSql).mkString}
       |SELECT node AS part, lbl AS comp FROM l$ROUNDS ORDER BY part""".stripMargin
  }

  /** CONNECTED COMPONENTS via alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the O(log² n)-round algorithm dd08's scaladoc names as
    * the scale path for adversarial diameters, now a first-class
    * operator. gr03/gr05's frontier BFS and dd08's label fold both pay
    * rounds proportional to component DIAMETER; on a 100 TB corpus a
    * chain-shaped duplicate family (the twin-replica growth probe
    * makes exactly these) turns that into hundreds of shuffles.
    * Large-star/small-star instead contracts paths doubly-
    * exponentially: each large-star hangs every node's neighborhood
    * off the neighborhood minimum, each small-star re-hangs the
    * smaller half, and the edge set provably converges to one star
    * per component (root = component min) while never connecting
    * distinct components or disconnecting one.
    *
    * Graph: the same top-D-sparsified co-purchase edges as gr04
    * (bounded degrees at any corpus density — the sparsifier is what
    * makes the edge list 100×-safe; see gr04's scaladoc). Edges are
    * kept CANONICAL (child > parent) between rounds, so each round is
    * two groupBy-min shuffles plus two equi-joins on vertex keys —
    * never all-pairs, never a window over whole components.
    *
    * Convergence is detected STRUCTURALLY, not by heuristic deltas:
    * the edge set is a union of stars iff no parent also appears as a
    * child (one semi-join count per round). A star-state edge set has
    * the same components as the input (both operations preserve
    * connectivity), so stars ⇒ done, with labels = star roots —
    * no hash-equality or label-sum shortcut that could stop early.
    * Under 50k edges [[starContraction]] skips the loop and finishes
    * the components in one union-find task ([[Components]]); the
    * sparsified edge set has 2.2k–3.6k rows at every testdata SF, so
    * the loop runs only above that bound (and in ComponentsSpec).
    *
    * Oracle: min-label propagation over the identical sparsified edge
    * set, unrolled 40 single-hop rounds (diameter at every tested SF
    * is far below that; labels are monotone non-increasing so extra
    * rounds are identity) — the oracle mirrors the SEMANTICS (min
    * reachable id), not the algorithm, which is the point: two
    * different fixpoint procedures agreeing on the answer. */
  val gr06ConnectedComponents: GraftQuery = q(
    "gr06_connected_components",
    "large-star/small-star connected components on the sparsified co-purchase graph",
    componentsOracleSql, sizing = ByLineitem) { (s, d) =>
    starContraction(sparsifiedEdges(s, d).pinned)
      .select(col("node").as("part"), col("comp")).orderBy("part")
  }

  /** gr04/gr06's top-D-sparsified co-purchase edge list, CANONICAL
    * (child u > parent v), distinct. Shared by the component family. */
  def sparsifiedEdges(s: SparkSession, d: String): DataFrame = {
    // (no fanout here: the 2-column partial-distinct is cheap map
    // work and the added exchange measured net-negative — r16 probe)
    val items = Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey").distinct()
    val ia = items.select(col("l_orderkey"), col("l_partkey").as("a"))
    val ib = items.select(col("l_orderkey").as("ok2"), col("l_partkey").as("b"))
    val e0 = ia.join(ib, col("l_orderkey") === col("ok2") && col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= 2)
    val undw = e0.select(col("a").as("src"), col("b").as("dst"), col("n_co"))
      .unionAll(e0.select(col("b").as("src"), col("a").as("dst"), col("n_co")))
    val wTop = Window.partitionBy(col("src")).orderBy(col("n_co").desc, col("dst"))
    undw.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 20)
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .distinct()
  }

  /** INCREMENTAL connected-component maintenance — the IVM discipline
    * (iv01 joins, av01 aggregates) applied to graphs: given the labels
    * already computed for a BASE edge set and a DELTA of new edges,
    * re-derive labels for base ∪ delta WITHOUT touching base edges
    * again. The warm start is the star contraction's own output: base
    * labels ARE a star edge set with exactly the base components (one
    * canonical (node, comp) edge per non-root), so contracting
    * (star edges ∪ delta) equals contracting (base ∪ delta) — at a
    * cost bounded by |V_base-labeled| + |delta|, independent of how
    * many raw base edges history accumulated. At 100 TB this is the
    * only viable shape for a growing dedup/identity graph: each
    * arriving batch pays its own size plus the (much smaller) label
    * table, and the label table never grows past one row per node.
    * Rounds after warm start are few — the input is already stars
    * except where delta stitches them.
    *
    * The split here is iv01's deterministic modulo on the edge key
    * ((u+v) % 7 = 0 → delta, ~14%); the final labels are provably
    * IDENTICAL to gr06's cold run over the full edge set, so the
    * oracle is the same full-recompute fold — the driver's compare IS
    * the incremental-equals-recompute audit, and GraphSpec pins the
    * same law on the adversarial path fixture.
    *
    * PHASE SPLIT (the ivf06/hn02 memoizer discipline): in production
    * the base labels already EXIST — they are yesterday's output —
    * so timing a full base contraction inside every gr07 run measures
    * the harness, not the operator. The base contraction + delta
    * extraction run once per corpus dir, persist to scratch
    * parquet under the bench's `setup_write` phase, and the timed
    * query is what the steady state actually pays: read the label
    * table + delta, stitch, contract the warm star set (one union-find
    * task under 50k warm edges, as at every testdata SF; above that,
    * a few alternation rounds, since the input is already stars). */
  val gr07IncrementalComponents: GraftQuery = q(
    "gr07_incremental_components",
    "incremental CC maintenance: warm-start star contraction from base labels + delta edges",
    componentsOracleSql) { (s0, d) =>
    val dir = gr07BaseDir(s0, d) // base state builds under the parent
    // the warm span alone runs at gr06's sized width
    val s = ByLineitem.session(s0, d)
    val baseLabels = s.read.parquet(s"$dir/base_labels")
    val delta = s.read.parquet(s"$dir/delta")
    // warm start: base labels as canonical star edges (roots' (x,x)
    // self-rows drop), stitched by the delta
    val warm = baseLabels.filter(col("node") =!= col("comp"))
      .select(col("node").as("u"), col("comp").as("v"))
      .unionAll(delta)
      .distinct()
      .pinned
    starContraction(warm)
      .select(col("node").as("part"), col("comp")).orderBy("part")
  }

  /** gr07's base state: one base contraction + delta split per corpus
    * dir, persisted like a nightly label table. Recorded as gr07's
    * `setup_write` bench phase so the timed query is the warm increment
    * only. */
  private def gr07BaseDir(s: SparkSession, d: String): String =
    graft.Fixtures.once(s, d, "gr07_base", "gr07_incremental_components") {
      val dir = graft.Scratch.dir("graft_gr07_")
      val edges = sparsifiedEdges(s, d).pinned
      edges.filter((col("u") + col("v")) % 7 === 0)
        .write.mode("overwrite").parquet(s"$dir/delta")
      val base = edges.filter((col("u") + col("v")) % 7 =!= 0)
      starContraction(base)
        .write.mode("overwrite").parquet(s"$dir/base_labels")
      dir
    }

  /** Connected components of any canonical (u > v) distinct edge
    * frame: one (node, comp) row per vertex with comp = component min.
    * The width rule sizes the work to the edge frame, not the session:
    * `count / 50000 + 1` partitions, capped at the session's width.
    * When it gives 1 (under 50k edges, at any core count) the
    * components come from [[Components.inOneTask]], one union-find task
    * in place of a 5–8-stage job per round; otherwise [[starLoop]] runs
    * at that width. One count up front (callers pass pinned or cheap
    * frames). */
  def starContraction(edges0: DataFrame): DataFrame = {
    val n = edges0.count()
    if (n < OneTaskEdges) Components.inOneTask(edges0)
    else {
      val session =
        edges0.sparkSession.conf.get("spark.sql.shuffle.partitions").toLong
      starLoop(edges0, math.min(session, n / OneTaskEdges + 1L))._1
    }
  }

  /** Edges per partition of the contraction loop; below this many
    * edges the components are computed in one task. */
  private val OneTaskEdges = 50000L

  /** The large-star/small-star contraction loop at `width` shuffle
    * partitions. Returns (labels, rounds): labels as
    * [[starContraction]]'s; rounds = alternation count until the star
    * fixpoint. GraphSpec drives this over an adversarial 2^k-node PATH
    * graph — the diameter shape where per-hop propagation (gr03, dd08's
    * fold) pays Θ(n) rounds — and pins the logarithmic round count. */
  def starLoop(edges0: DataFrame, width: Long): (DataFrame, Int) = {
    // large-star: hang every strictly-larger neighbor off the
    // neighborhood min. One groupBy-min + one equi-join; output
    // stays canonical because m <= u < v for every emitted (v, m).
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val m = und.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      und.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // no trailing distinct (r17): smallStar's groupBy-min is
      // duplicate-insensitive and ITS trailing distinct bounds the
      // next round's input, so the dedup here only traded one full
      // exchange per round for join-input rows that stay ≤ 2|e|
      // (each und row emits at most one (v, m)) — no compounding
      // across rounds, and map-side partial aggregation absorbs the
      // duplicates in the groupBy (guide §2.3/§2.4)
    }
    // small-star: re-hang each node and its smaller neighbors off
    // the min of the smaller neighborhood. Input/output canonical.
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min("v").as("m"))
      e.join(m, "u")
        .select(col("v").as("child"), col("m").as("parent"))
        .unionAll(m.select(col("u").as("child"), col("m").as("parent")))
        .filter(col("child") =!= col("parent"))
        .select(col("child").as("u"), col("parent").as("v"))
        .distinct()
    }
    // Unlike the engine's other iterative loops (gr01's rank chain,
    // dd08's label fold — each round references the previous frame
    // ONCE, so persist keeps the logical plan linear), star contraction
    // references the evolving edge frame ~5× per round (e + reversed in
    // large-star, und + the min join, then small-star again): without
    // lineage TRUNCATION the logical tree grows ~5^rounds and planning
    // itself OOMs near round 8. Truncation is therefore mandatory, not
    // an opt-in: reliable `checkpoint` when a checkpoint dir is set
    // (the cluster deployment — GraphFrames' connectedComponents ships
    // the same discipline), `localCheckpoint` otherwise (local mode;
    // executor-loss recovery does not apply to a single JVM).
    // eager=true is load-bearing, measured both ways at sf0.1: the
    // star-test probe reads `next` TWICE (both semi-join sides), and a
    // lazy checkpoint lets the two consumers race to compute the same
    // partitions before they're stored (and a short-circuiting probe
    // additionally leaves the checkpoint partial, re-deriving missing
    // partitions through the whole round chain next iteration). One
    // eager full pass per round, then every later read hits stored
    // blocks.
    def truncate(df: DataFrame): DataFrame = graft.Pin.cut(df)
    // the width applies to the loop's own actions only: the session's
    // width is restored after it. AQE cannot size these exchanges,
    // because each round's eager checkpoint materializes at the
    // configured width.
    val spark = edges0.sparkSession
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", width.toString)
    try {
      var edges = edges0
      var converged = false
      var rounds = 0
      while (!converged && rounds < 50) {
        val next = truncate(smallStar(largeStar(edges)))
        // star test: converged iff no parent is also a child (then the
        // edge set is a union of stars, whose components equal the
        // input graph's — both ops preserve connectivity). ONE
        // tag-union aggregation over the checkpointed blocks (r17) —
        // the distinct + semi-join form paid two exchanges and a
        // second scan per round for the same boolean.
        converged = next.select(col("u").as("k"), lit(1).as("c"), lit(0).as("p"))
          .unionAll(next.select(col("v").as("k"), lit(0).as("c"), lit(1).as("p")))
          .groupBy("k").agg(max(col("c")).as("c"), max(col("p")).as("p"))
          .filter(col("c") === 1 && col("p") === 1)
          .count() == 0L
        edges = next
        rounds += 1
      }
      // The 50-round cap is a runaway backstop, not a soft budget:
      // labels derived from a NON-star edge set are silently wrong
      // (a child still pointing at a non-root parent gets that parent,
      // not the component min) and would flow unflagged into every
      // caller (gr06/gr07/dd20). Alternation halves component height
      // per round, so 50 rounds covers > 2^50 nodes — hitting the cap
      // means a broken input (or a bug), and the only safe output is
      // none.
      require(converged,
        s"starContraction did not reach the star fixpoint in $rounds rounds; " +
          "refusing to derive component labels from a non-star edge set")
      val labels = edges.select(col("u").as("node"), col("v").as("comp"))
        .unionAll(edges.select(col("v").as("node"), col("v").as("comp")).distinct())
        .distinct()
      (labels, rounds)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  val all: Seq[GraftQuery] = Seq(gr01PageRank, gr02Hits, gr03Bfs, gr04Triangles,
    gr05RecursiveBfs, gr06ConnectedComponents, gr07IncrementalComponents)
}
