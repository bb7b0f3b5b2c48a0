package graft.operators

import graft.{GraftQuery, Tables}
import graft.Pin.PinOps
import graft.plans.VectorExpressions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF-style ANN: a coarse quantizer assigns every vector to its
  * nearest centroid (the inverted-file cell); a query probes only its
  * own cell. Complements the sign-bit LSH path (sm02/sm03) — IVF cells
  * adapt to the data distribution where LSH planes are fixed.
  *
  * ivf01/ivf02 use deterministic seed centroids (the first 16 vectors);
  * ivf03 trains them with Lloyd iterations (spherical k-means) and
  * ivf04 searches with multi-probe. The engine-side scale shapes: the
  * centroid table broadcasts, assignment is one narrow shuffle-free
  * map pass, centroid recompute is one 16-row aggregation, and search
  * is an equi-join on cell id.
  */
object IvfQueries {

  import VectorSql.{sqlDot, sqlNorm2, Dim}

  private val CELLS = 16

  /** vectors × centroids cosine, argmax by (cosine desc, cid) —
    * shared SQL prefix of the IVF queries. Norms are pre-projected
    * once per vector (MATERIALIZED — DuckDB would inline the CTE into
    * each reference otherwise) and the cosine is computed in its own
    * layer so the 64-term dot chain is evaluated ONCE per (vector,
    * centroid) row, not twice (select + ORDER BY) with per-row norm
    * recomputation — the same oracle-memory hazard class that OOM'd
    * sm01 (round 5) and sd01 (round 6) in a long-lived DuckDB process.
    * `cos_c` is the identical fp expression tree as before (dot /
    * (nrm·nrm) with the same association), so hashes are unchanged. */
  private def sqlAssign: String =
    s"""normed AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, SQRT(${sqlNorm2("e")}) AS nrm
       |  FROM embeddings e),
       |centroids AS MATERIALIZED (
       |  SELECT vec_id AS cid, embedding, nrm AS cnrm FROM normed
       |  WHERE vec_id < $CELLS),
       |scored0 AS (
       |  SELECT v.vec_id, c.cid,
       |    ${sqlDot("v", "c")} / (v.nrm * c.cnrm) AS cos_c
       |  FROM normed v CROSS JOIN centroids c),
       |scored AS (
       |  SELECT vec_id, cid, cos_c,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY cos_c DESC, cid) AS rc
       |  FROM scored0),
       |assigned AS (SELECT vec_id, cid, cos_c FROM scored WHERE rc = 1)""".stripMargin

  /** Nearest-centroid assignment, computed map-side: the centroid set
    * collapses to ONE broadcast row holding a cid-sorted
    * `array<struct<cid, cemb>>`, and each vector picks its argmax with
    * a per-row `transform` + `array_max` loop — zero shuffle of the
    * corpus and no 16×-inflated pair set (the round-1 window-over-
    * crossJoin shape shuffled 16n rows to pick a per-row max). The
    * struct max is lexicographic (cos desc via max, ties → max of
    * -cid = smallest cid), exactly the oracle's ROW_NUMBER pick. */
  private def assignedDf(s: SparkSession, d: String,
      cells: Long = CELLS): DataFrame = {
    VectorExpressions.register(s)
    val e = Tables.embeddings(s, d)
    val centArr = e.filter(col("vec_id") < cells)
      .agg(sort_array(collect_list(struct(col("vec_id").as("cid"),
        col("embedding").as("cemb")))).as("cents"))
    e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centArr))
      .withColumn("best", array_max(transform(col("cents"), c =>
        struct(
          VectorExpressions.cosine_similarity(col("embedding"), c.getField("cemb"))
            .as("cos_c"),
          (-c.getField("cid")).as("neg_cid"),
          c.getField("cid").as("cid")))))
      .select(col("vec_id"), col("embedding"),
        col("best.cid").as("cid"), col("best.cos_c").as("cos_c"))
  }

  private def q(name: String, doc: String, sql: String)(
      build: (SparkSession, String) => DataFrame): GraftQuery =
    GraftQuery(name, build, Some(sql), doc)

  /** Inverted-file cell histogram: assignment quality at a glance. */
  val ivf01Assign: GraftQuery = q(
    "ivf01_assign",
    "IVF coarse quantizer: nearest-centroid assignment histogram",
    s"""WITH $sqlAssign
       |SELECT cid, COUNT(*) AS n_vecs, MIN(vec_id) AS first_vec
       |FROM assigned GROUP BY cid ORDER BY cid""".stripMargin) { (s, d) =>
    assignedDf(s, d)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("first_vec"))
      .orderBy("cid")
  }

  /** Probe-1 search: queries scan only their own cell (equi-join on
    * cid) — the IVF scale shape; recall improves with multi-probe. */
  val ivf02Probe: GraftQuery = q(
    "ivf02_probe_search",
    "IVF ANN: probe-nearest-cell top-5 per query",
    s"""WITH $sqlAssign,
       |pairs AS (
       |  SELECT qa.vec_id AS query_id, ca.vec_id AS cand_id,
       |    ${sqlDot("q", "c")} / (q.nrm * c.nrm) AS cosine
       |  FROM assigned qa JOIN normed q ON q.vec_id = qa.vec_id
       |  JOIN assigned ca ON ca.cid = qa.cid AND ca.vec_id <> qa.vec_id
       |  JOIN normed c ON c.vec_id = ca.vec_id
       |  WHERE qa.vec_id < 5),
       |ranked AS (
       |  SELECT query_id, cand_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, cand_id) AS BIGINT) AS rn
       |  FROM pairs)
       |SELECT query_id, cand_id, cosine, rn FROM ranked WHERE rn <= 5
       |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
    val assigned = assignedDf(s, d)
    val qv = assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("cid"))
    val cv = assigned.select(col("vec_id").as("cand_id"),
      col("embedding").as("ce"), col("cid").as("ccid"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("cand_id"))
    broadcast(qv)
      .join(cv, col("cid") === col("ccid") && col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        VectorExpressions.cosine_similarity(col("qe"), col("ce")).as("cosine"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 5)
      .orderBy("query_id", "rn")
  }

  // ---------------------------------------------------------------- k-means

  /** Fixed Lloyd rounds for the oracle-checked training query — the
    * DuckDB oracle unrolls the same loop as CTEs. */
  private val TRAIN_ITERS = 2
  private val PROBES = 3

  /** int64-quantized embeddings: round(e·1000). Integer sums are exact
    * and order-independent, which is what makes a k-means centroid
    * recompute bit-reproducible across engines (and across Spark's own
    * shuffle orders — a float sum drifts run to run). Assignment ranks
    * by cosine against the centroid SUM vector: cos(v, s/n) = cos(v, s),
    * so the mean's division cancels out of the hot comparison and
    * everything stays integer until one final IEEE divide+sqrt — which
    * is exactly rounded, hence bit-identical in both engines. */
  private def quantizedDf(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"),
      transform(col("embedding"),
        e => round(e.cast(DoubleType) * 1000).cast(LongType)).as("q"))
      .withColumn("n2",
        aggregate(col("q"), lit(0L), (acc, x) => acc + x * x))

  /** One Lloyd assignment pass, map-side: the k centroids collapse to a
    * single broadcast row of (cid, cvec, cn2) structs and each vector
    * takes the struct-max of (cosine, -cid) over it — zero corpus
    * shuffle, no k×-inflated pair set. */
  private def assignToCells(qv: DataFrame, cents: DataFrame): DataFrame = {
    val centArr = cents.agg(sort_array(collect_list(
      struct(col("cid"), col("cvec"), col("cn2")))).as("cents"))
    qv.crossJoin(broadcast(centArr))
      .withColumn("best", array_max(transform(col("cents"), c => {
        val dot = aggregate(zip_with(col("q"), c.getField("cvec"),
          (x, y) => x * y), lit(0L), (acc, x) => acc + x)
        struct(
          (dot.cast(DoubleType) /
            (sqrt(col("n2").cast(DoubleType)) *
              sqrt(c.getField("cn2").cast(DoubleType)))).as("cos_c"),
          (-c.getField("cid")).as("neg_cid"),
          c.getField("cid").as("cid"))
      })))
      .select(col("vec_id"), col("q"), col("n2"), col("best.cid").as("cid"))
  }

  /** Centroid-sum recompute: Dim exact integer SUMs per cell + count —
    * one k-row aggregation, the only shuffle in a Lloyd round. */
  private def recompute(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        array((1 to Dim).map(i => sum(element_at(col("q"), i))): _*).as("cvec"))
      .withColumn("cn2", aggregate(col("cvec"), lit(0L), (acc, x) => acc + x * x))

  /** Spherical k-means trainer: Lloyd loop with a fixed iteration count
    * (determinism) and a Pin per round to bound re-evaluation of the
    * growing lineage — the dd08 convergence-loop pattern. The centroid
    * state is k rows, so checkpointing it is free; the corpus is only
    * touched by the map-side assignment pass, once per round. Clusters
    * that lose all members drop out (classical Lloyd), identically on
    * both engines. */
  def kmeansTrain(qv: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = qv.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), lit(1L).as("n"),
        col("q").as("cvec"), col("n2").as("cn2"))
    for (_ <- 1 to iters)
      cents = recompute(assignToCells(qv, cents)).pinned
    cents
  }

  /** DuckDB-side mirror of the int64 quantization + Lloyd loop,
    * factored so training (ivf03) and trained-search (ivf05) share the
    * identical CTE chain. */
  private object KmeansSql {
    private val dims = 1 to Dim
    private val qcols = dims.map(i =>
      s"CAST(ROUND(CAST(embedding[$i] AS DOUBLE) * 1000) AS BIGINT) AS d$i")
      .mkString(", ")
    private val dlist = dims.map(i => s"d$i").mkString(", ")
    private val n2u = dims.map(i => s"d$i * d$i").mkString("(", " + ", ")")
    private def dot(v: String, c: String) =
      dims.map(i => s"$v.d$i * $c.d$i").mkString("(", " + ", ")")
    def cos(v: String, c: String) =
      s"CAST(${dot(v, c)} AS DOUBLE) / (SQRT(CAST($v.n2 AS DOUBLE)) * SQRT(CAST($c.n2 AS DOUBLE)))"
    def assign(cent: String, a: String): String =
      s"""${a}s AS (
         |  SELECT v.vec_id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${cos("v", "c")} DESC, c.cid) AS rc
         |  FROM qv v CROSS JOIN $cent c),
         |$a AS (SELECT vec_id, cid FROM ${a}s WHERE rc = 1)""".stripMargin
    private def sums(a: String, sn: String) =
      s"""${sn}0 AS (
         |  SELECT a.cid, COUNT(*) AS n,
         |    ${dims.map(i => s"CAST(SUM(v.d$i) AS BIGINT) AS d$i").mkString(", ")}
         |  FROM $a a JOIN qv v ON v.vec_id = a.vec_id GROUP BY a.cid),
         |$sn AS (SELECT cid, n, $dlist, $n2u AS n2 FROM ${sn}0)""".stripMargin
    /** quantize + init + `iters` unrolled Lloyd rounds; final centroid
      * sums land in CTE `s<iters>`. */
    def ctes(iters: Int): String = {
      val rounds = (1 to iters).map { r =>
        val cent = if (r == 1) "c0" else s"s${r - 1}"
        assign(cent, s"a$r") + ",\n" + sums(s"a$r", s"s$r")
      }.mkString(",\n")
      s"""qv0 AS (SELECT vec_id, $qcols FROM embeddings),
         |qv AS (SELECT vec_id, $dlist, $n2u AS n2 FROM qv0),
         |c0 AS (SELECT vec_id AS cid, $dlist, n2 FROM qv WHERE vec_id < $CELLS),
         |$rounds""".stripMargin
    }
  }

  private def sqlKmeans(iters: Int): String =
    s"""WITH ${KmeansSql.ctes(iters)}
       |SELECT cid, n AS n_vecs,
       |  CAST(d1 AS DOUBLE) / n AS c1, CAST(d2 AS DOUBLE) / n AS c2,
       |  n2 AS cn2
       |FROM s$iters ORDER BY cid""".stripMargin

  /** Trained-centroid summary: cell populations + first two mean
    * coordinates + the exact integer norm of the centroid sum. */
  val ivf03Train: GraftQuery = q(
    "ivf03_kmeans_train",
    s"spherical k-means: $TRAIN_ITERS Lloyd rounds over int64-exact centroid sums",
    sqlKmeans(TRAIN_ITERS)) { (s, d) =>
    kmeansTrain(quantizedDf(s, d), CELLS, TRAIN_ITERS)
      .select(col("cid"), col("n").as("n_vecs"),
        (element_at(col("cvec"), 1).cast(DoubleType) / col("n")).as("c1"),
        (element_at(col("cvec"), 2).cast(DoubleType) / col("n")).as("c2"),
        col("cn2"))
      .orderBy("cid")
  }

  // ------------------------------------------------------------ multi-probe

  /** Top-P cells per vector from the same broadcast-centroid pass as
    * [[assignedDf]]: desc-sort the per-centroid struct array, slice P,
    * explode — still zero corpus shuffle, output P× queries not P×
    * corpus. */
  private def probedDf(s: SparkSession, d: String, probes: Int): DataFrame = {
    VectorExpressions.register(s)
    val e = Tables.embeddings(s, d)
    val centArr = e.filter(col("vec_id") < CELLS)
      .agg(sort_array(collect_list(struct(col("vec_id").as("cid"),
        col("embedding").as("cemb")))).as("cents"))
    e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centArr))
      // ascending struct sort puts (low cos, high cid) first; reversed
      // = (cos DESC, cid ASC) — the oracle's ROW_NUMBER order exactly
      .withColumn("probe", explode(slice(reverse(array_sort(
        transform(col("cents"), c => struct(
          VectorExpressions.cosine_similarity(col("embedding"), c.getField("cemb"))
            .as("cos_c"),
          (-c.getField("cid")).as("neg_cid"),
          c.getField("cid").as("cid"))))), 1, probes)))
      .select(col("vec_id"), col("embedding"), col("probe.cid").as("cid"))
  }

  /** Multi-probe search: each query fans out to its P nearest cells and
    * scans their inverted lists — same equi-join shape as probe-1, P×
    * the candidate set, recall strictly ≥ ivf02's (the probe-1 cell is
    * always among the P). */
  val ivf04Multiprobe: GraftQuery = q(
    "ivf04_multiprobe",
    s"IVF ANN: multi-probe ($PROBES cells) top-5 per query",
    s"""WITH $sqlAssign,
       |probes AS (SELECT vec_id, cid FROM scored WHERE rc <= $PROBES AND vec_id < 5),
       |pairs AS (
       |  SELECT p.vec_id AS query_id, ca.vec_id AS cand_id,
       |    ${sqlDot("q", "c")} / (q.nrm * c.nrm) AS cosine
       |  FROM probes p JOIN normed q ON q.vec_id = p.vec_id
       |  JOIN assigned ca ON ca.cid = p.cid AND ca.vec_id <> p.vec_id
       |  JOIN normed c ON c.vec_id = ca.vec_id),
       |ranked AS (
       |  SELECT query_id, cand_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, cand_id) AS BIGINT) AS rn
       |  FROM pairs)
       |SELECT query_id, cand_id, cosine, rn FROM ranked WHERE rn <= 5
       |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
    val probes = probedDf(s, d, PROBES).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("cid"))
    val cv = assignedDf(s, d).select(col("vec_id").as("cand_id"),
      col("embedding").as("ce"), col("cid").as("ccid"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("cand_id"))
    broadcast(probes)
      .join(cv, col("cid") === col("ccid") && col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        VectorExpressions.cosine_similarity(col("qe"), col("ce")).as("cosine"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 5)
      .orderBy("query_id", "rn")
  }

  /** End-to-end trained ANN: assign the whole corpus to the k-means-
    * trained centroids (ivf03's loop), then probe-1 search inside the
    * trained cells — training → index → search as one lineage. Scoring
    * stays in the quantized integer space, so every cosine is
    * bit-reproducible in the oracle's unrolled SQL. */
  /** Shared by ivf05 (in-memory index) and ivf06 (persisted index):
    * the storage round trip is lossless, so both match this SQL. */
  private lazy val sqlTrainedSearch: String =
    s"""WITH ${KmeansSql.ctes(TRAIN_ITERS)},
       |${KmeansSql.assign(s"s$TRAIN_ITERS", "af")},
       |pairs AS (
       |  SELECT qa.vec_id AS query_id, ca.vec_id AS cand_id,
       |    ${KmeansSql.cos("q", "c")} AS qcos
       |  FROM af qa JOIN af ca ON ca.cid = qa.cid AND ca.vec_id <> qa.vec_id
       |  JOIN qv q ON q.vec_id = qa.vec_id
       |  JOIN qv c ON c.vec_id = ca.vec_id
       |  WHERE qa.vec_id < 5),
       |ranked AS (
       |  SELECT query_id, cand_id, qcos,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY qcos DESC, cand_id) AS BIGINT) AS rn
       |  FROM pairs)
       |SELECT query_id, cand_id, qcos, rn FROM ranked WHERE rn <= 5
       |ORDER BY query_id, rn""".stripMargin

  val ivf05TrainedSearch: GraftQuery = q(
    "ivf05_trained_search",
    "IVF ANN over k-means-trained cells: probe-1 top-5 per query",
    sqlTrainedSearch) { (s, d) =>
    val qv = quantizedDf(s, d)
    // both join sides read the assignment; pin it once (train already
    // checkpoints per round, so this adds one small materialization)
    searchAssigned(
      assignToCells(qv, kmeansTrain(qv, CELLS, TRAIN_ITERS)).pinned)
  }

  /** Probe-1 top-5 search over an assignment table (vec_id, q, n2,
    * cid) — the serving-side join shared by ivf05/ivf06. */
  private def searchAssigned(assigned: DataFrame): DataFrame = {
    val qa = assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("q").as("qa"),
        col("n2").as("na"), col("cid"))
    val ca = assigned.select(col("vec_id").as("cand_id"), col("q").as("qb"),
      col("n2").as("nb"), col("cid").as("ccid"))
    val dot = aggregate(zip_with(col("qa"), col("qb"), (x, y) => x * y),
      lit(0L), (acc, x) => acc + x)
    val qcos = dot.cast(DoubleType) /
      (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb").cast(DoubleType)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("cand_id"))
    broadcast(qa)
      .join(ca, col("cid") === col("ccid") && col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"), qcos.as("qcos"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 5)
      .orderBy("query_id", "rn")
  }

  /** Persisted serving index: the trained assignment is WRITTEN to
    * storage partitioned by cell (one directory per inverted list —
    * the on-disk layout a vector store uses), reloaded, and searched.
    * A probe that targets one cell reads one directory: IvfSpec pins
    * `PartitionFilters` on a single-cell read-back. The storage round
    * trip is lossless, so the oracle is ivf05's SQL verbatim — train →
    * persist → reload → search loses nothing. */
  val ivf06PersistedIndex: GraftQuery = q(
    "ivf06_persisted_index",
    "IVF index persisted partitioned-by-cell, reloaded, searched from storage",
    sqlTrainedSearch) { (s, d) =>
    val dir = indexDir(s, d)
    val index = s.read.parquet(dir)
      .select(col("vec_id"), col("q"), col("n2"), col("cid").cast(LongType).as("cid"))
    searchAssigned(index)
  }

  /** Build + persist the cell-partitioned index once per (session,
    * sf dir); later queries/specs reload it like a serving node. A
    * serving fleet indexes once and answers many queries, so repeated
    * ivf06 calls (the bench's 3 timed runs, specs) must NOT retrain —
    * only the first call per (session, sf dir) pays the k-means train
    * + partitioned write; the rest go straight to the read+search. */
  private val indexDirs =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  def indexDir(s: SparkSession, d: String): String =
    indexDirs.synchronized {
      indexDirs.getOrElseUpdate((s, d), {
        val dir = graft.Scratch.dir("graft_ivf06_")
        // train + layout-write is the indexing phase; recorded so the
        // bench reports it apart from the serving-side read+search
        graft.Phases.timed("ivf06_persisted_index", "setup") {
          val qv = quantizedDf(s, d)
          assignToCells(qv, kmeansTrain(qv, CELLS, TRAIN_ITERS))
            .write.mode("overwrite").partitionBy("cid").parquet(dir)
        }
        dir
      })
    }

  /** SemDeDup (semantic dedup, Abbas et al. 2023): cluster the corpus
    * with the coarse quantizer, then drop any vector whose cosine to a
    * LOWER-id member of its own cell exceeds τ — near-duplicate pairs
    * are confirmed only inside a cell, never across the corpus, so the
    * pair set is Σ(cell size²) instead of n². At 100 TB the cell count
    * grows with the corpus (bounded cell size) and the confirm stage
    * stays an equi-join on cid feeding per-cell local pair scans; the
    * keep-lowest-id rule makes the drop set deterministic without
    * iterating to a fixed point. Output is the per-cell audit a
    * curation run reports: members vs dropped. */
  val sd01SemDedup: GraftQuery = q(
    "sd01_semdedup",
    "SemDeDup: within-cell cosine near-dup drop (keep-lowest-id), per-cell audit",
    s"""WITH $sqlAssign,
       |pairs AS (
       |  SELECT a.cid, b.vec_id AS drop_id
       |  FROM assigned a
       |  JOIN normed ea ON ea.vec_id = a.vec_id
       |  JOIN assigned b ON b.cid = a.cid AND b.vec_id > a.vec_id
       |  JOIN normed eb ON eb.vec_id = b.vec_id
       |  WHERE ${sqlDot("ea", "eb")} / (ea.nrm * eb.nrm) > 0.4)
       |SELECT a.cid, COUNT(DISTINCT a.vec_id) AS n_members,
       |  CAST(COUNT(DISTINCT p.drop_id) AS BIGINT) AS n_dropped
       |FROM assigned a LEFT JOIN pairs p ON p.cid = a.cid
       |GROUP BY a.cid ORDER BY a.cid""".stripMargin) { (s, d) =>
    val assigned = assignedDf(s, d).select(col("vec_id"), col("embedding"), col("cid"))
    val a = assigned.select(col("cid"), col("vec_id").as("keep_id"),
      col("embedding").as("ae"))
    val b = assigned.select(col("cid").as("bcid"), col("vec_id").as("drop_id"),
      col("embedding").as("be"))
    val dropped = a.join(b,
        col("cid") === col("bcid") && col("drop_id") > col("keep_id"))
      .filter(VectorExpressions.cosine_similarity(col("ae"), col("be")) > 0.4)
      .groupBy(col("cid"))
      .agg(countDistinct(col("drop_id")).as("n_dropped"))
    assigned.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
      .join(dropped, Seq("cid"), "left")
      .na.fill(0L, Seq("n_dropped"))
      .orderBy("cid")
  }

  /** Incremental index upsert — the vector-index lifecycle's `add`
    * operation (FAISS add / Milvus insert): a delta batch of new
    * vectors (vec_id % 10 = 0 plays the arrivals) is admitted into an
    * EXISTING index by assigning each new vector to its cell under the
    * FROZEN coarse quantizer (centroids = the 16 smallest base ids —
    * training does NOT rerun on ingest; that is the whole point of a
    * coarse quantizer). The incremental path touches ONLY the delta:
    * one map-side argmax against the broadcast frozen centroids, then
    * a per-cell merge of counts — the standing corpus is never
    * reassigned or reshuffled (dd12's delta-admission discipline on
    * the vector side, iv01's on the relational side). The audit
    * column recomputes every cell population from scratch over
    * base ∪ delta with the same frozen centroids and must equal
    * n_base + n_delta — the inc ≡ full proof in the result. */
  val ivf07IndexUpsert: GraftQuery = q(
    "ivf07_index_upsert",
    "incremental IVF upsert: delta assigned under frozen centroids, per-cell merge ≡ full recompute",
    s"""WITH normed AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, SQRT(${sqlNorm2("e")}) AS nrm
       |  FROM embeddings e),
       |centroids AS MATERIALIZED (
       |  SELECT vec_id AS cid, embedding, nrm AS cnrm FROM normed
       |  WHERE vec_id % 10 <> 0 ORDER BY vec_id LIMIT $CELLS),
       |scored0 AS (
       |  SELECT v.vec_id, c.cid,
       |    ${sqlDot("v", "c")} / (v.nrm * c.cnrm) AS cos_c
       |  FROM normed v CROSS JOIN centroids c),
       |scored AS (
       |  SELECT vec_id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY cos_c DESC, cid) AS rc
       |  FROM scored0),
       |assigned AS (SELECT vec_id, cid FROM scored WHERE rc = 1),
       |base AS (
       |  SELECT cid, COUNT(*) AS n_base FROM assigned
       |  WHERE vec_id % 10 <> 0 GROUP BY cid),
       |delta AS (
       |  SELECT cid, COUNT(*) AS n_delta FROM assigned
       |  WHERE vec_id % 10 = 0 GROUP BY cid),
       |full_r AS (SELECT cid, COUNT(*) AS n_full FROM assigned GROUP BY cid)
       |SELECT f.cid,
       |  COALESCE(b.n_base, 0) AS n_base,
       |  COALESCE(d.n_delta, 0) AS n_delta,
       |  COALESCE(b.n_base, 0) + COALESCE(d.n_delta, 0) AS n_total,
       |  f.n_full
       |FROM full_r f
       |LEFT JOIN base b ON b.cid = f.cid
       |LEFT JOIN delta d ON d.cid = f.cid
       |ORDER BY f.cid""".stripMargin) { (s, d) =>
    VectorExpressions.register(s)
    val e = Tables.embeddings(s, d)
    // frozen quantizer: the 16 smallest BASE ids (training never reruns
    // on ingest); ~16 rows → broadcast exactly like assignedDf's seeds
    val centArr = e.filter(col("vec_id") % 10 =!= 0)
      .orderBy("vec_id").limit(CELLS)
      .agg(sort_array(collect_list(struct(col("vec_id").as("cid"),
        col("embedding").as("cemb")))).as("cents"))
    val assigned = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centArr))
      .withColumn("best", array_max(transform(col("cents"), c =>
        struct(
          VectorExpressions.cosine_similarity(col("embedding"), c.getField("cemb"))
            .as("cos_c"),
          (-c.getField("cid")).as("neg_cid"),
          c.getField("cid").as("cid")))))
      .select(col("vec_id"), col("best.cid").as("cid"))
      .pinned // base, delta and the full audit read the same assignment
    val base = assigned.filter(col("vec_id") % 10 =!= 0)
      .groupBy("cid").agg(count(lit(1)).as("n_base"))
    val delta = assigned.filter(col("vec_id") % 10 === 0)
      .groupBy("cid").agg(count(lit(1)).as("n_delta"))
    val full = assigned.groupBy("cid").agg(count(lit(1)).as("n_full"))
    full.join(base, Seq("cid"), "left").join(delta, Seq("cid"), "left")
      .na.fill(0L, Seq("n_base", "n_delta"))
      .select(col("cid"), col("n_base"), col("n_delta"),
        (col("n_base") + col("n_delta")).as("n_total"), col("n_full"))
      .orderBy("cid")
  }

  /** Semantic decontamination — the embedding-space companion to
    * dc01's n-gram overlap check: flag corpus vectors whose cosine to
    * ANY held-out eval vector (vec_id % 50 = 0 plays the benchmark)
    * exceeds τ. The scale shape is the IVF serving shape, not a
    * corpus×eval cross join: both sides carry their coarse-quantizer
    * cell id and candidates meet only on `cid` — the eval suite is a
    * fixed-size benchmark (KBs at any corpus scale), so its assigned
    * frame broadcasts and the corpus side stays one linear pass.
    * Output is the audit a curation run files: which documents are
    * semantically too close to the eval set, and to how many members.
    */
  val dc02SemanticDecontam: GraftQuery = q(
    "dc02_semantic_decontam",
    "semantic eval-set decontamination: within-cell cosine vs broadcast eval vectors",
    s"""WITH $sqlAssign,
       |ev AS (
       |  SELECT a.cid, n.embedding, n.nrm FROM assigned a
       |  JOIN normed n ON n.vec_id = a.vec_id WHERE a.vec_id % 50 = 0),
       |cs AS (
       |  SELECT a.vec_id, a.cid, n.embedding, n.nrm FROM assigned a
       |  JOIN normed n ON n.vec_id = a.vec_id WHERE a.vec_id % 50 <> 0)
       |SELECT cs.vec_id, cs.cid, COUNT(*) AS n_eval_hits
       |FROM cs JOIN ev ON ev.cid = cs.cid
       |  AND ${sqlDot("cs", "ev")} / (cs.nrm * ev.nrm) > 0.3
       |GROUP BY cs.vec_id, cs.cid ORDER BY cs.vec_id""".stripMargin) { (s, d) =>
    val assigned = assignedDf(s, d)
      .select(col("vec_id"), col("embedding"), col("cid"))
    val ev = assigned.filter(col("vec_id") % 50 === 0)
      .select(col("cid").as("ecid"), col("embedding").as("ee"))
    val cs = assigned.filter(col("vec_id") % 50 =!= 0)
    cs.join(broadcast(ev),
        col("cid") === col("ecid") &&
          VectorExpressions.cosine_similarity(col("embedding"), col("ee")) > 0.3)
      .groupBy(col("vec_id"), col("cid"))
      .agg(count(lit(1)).as("n_eval_hits"))
      .orderBy("vec_id")
  }

  /** Topic labeling: the corpus-exploration join of the vector and
    * text families. Documents are assigned to their k-means-trained
    * cell (ivf03's loop, embeddings aligned to docs by id) and each
    * cluster is labeled with its top-3 terms by raw count — rank by
    * (count desc, term), integer-deterministic like tx13. Shapes at
    * scale: the assignment is (id, cid) — narrow — and joins the token
    * stream on doc_id (the standard equi-join shuffle); per-(cid,term)
    * counts partial-aggregate map-side; the final top-3 is a tiny
    * window over ≤ cells·vocab rows. */
  val cl01ClusterLabels: GraftQuery = q(
    "cl01_cluster_labels",
    "k-means topic labeling: top-3 terms per trained cluster",
    s"""WITH ${KmeansSql.ctes(TRAIN_ITERS)},
       |${KmeansSql.assign(s"s$TRAIN_ITERS", "af")},
       |toks AS MATERIALIZED (
       |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
       |  FROM documents),
       |counts AS (
       |  SELECT af.cid, t.term, COUNT(*) AS n
       |  FROM toks t JOIN af ON af.vec_id = t.doc_id
       |  GROUP BY af.cid, t.term),
       |ranked AS (
       |  SELECT cid, term, n,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY cid
       |      ORDER BY n DESC, term) AS BIGINT) AS term_rank
       |  FROM counts)
       |SELECT cid, term_rank, term, n FROM ranked
       |WHERE term_rank <= 3 ORDER BY cid, term_rank""".stripMargin) { (s, d) =>
    val qv = quantizedDf(s, d)
    val assigned = assignToCells(qv, kmeansTrain(qv, CELLS, TRAIN_ITERS))
      .select(col("vec_id"), col("cid"))
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
    val counts = toks
      .join(assigned, toks("doc_id") === assigned("vec_id"))
      .groupBy(col("cid"), col("term")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("cid")).orderBy(col("n").desc, col("term"))
    counts.withColumn("term_rank", row_number().over(w).cast(LongType))
      .filter(col("term_rank") <= 3)
      .select(col("cid"), col("term_rank"), col("term"), col("n"))
      .orderBy("cid", "term_rank")
  }

  /** ANN recall@k harness — the evaluation every real vector index
    * runs before shipping: probe-1 IVF top-k vs exact brute-force
    * top-k over a FIXED query prefix, recall reported per query cell
    * (the per-cell view shows which cells the coarse quantizer serves
    * badly). Companion to dd14's LSH precision/recall harness on the
    * dedup side.
    *
    * Scale shape: the query set is a fixed harness parameter (32
    * vectors — scale-invariant, so the broadcast hint passes the
    * RegistrySweepSpec broadcast guard), the exact side is one linear corpus
    * scan per query batch (ground truth is query×corpus BY
    * DEFINITION — bounded by the query prefix, never quadratic in the
    * corpus), and the IVF side joins only the queries' own cells.
    * Determinism: both sides rank by the same left-associated cosine
    * chain, ties broken by cand_id; recall is one integer/integer IEEE
    * division. */
  val ann01Recall: GraftQuery = {
    val NQ = 32
    val K = 5
    q("ann01_recall",
      s"ANN recall@$K: probe-1 IVF vs exact brute force, per query cell",
      s"""WITH $sqlAssign,
         |q AS (
         |  SELECT a.vec_id AS query_id, a.cid AS qcid FROM assigned a
         |  WHERE a.vec_id < $NQ),
         |exact0 AS (
         |  SELECT qa.query_id, qa.qcid, c.vec_id AS cand_id,
         |    ${sqlDot("qn", "c")} / (qn.nrm * c.nrm) AS cosine
         |  FROM q qa JOIN normed qn ON qn.vec_id = qa.query_id
         |  JOIN normed c ON c.vec_id <> qa.query_id),
         |exact AS (
         |  SELECT query_id, qcid, cand_id FROM (
         |    SELECT query_id, qcid, cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC, cand_id) AS rn
         |    FROM exact0) WHERE rn <= $K),
         |ivf0 AS (
         |  SELECT qa.query_id, ca.vec_id AS cand_id,
         |    ${sqlDot("qn", "cn")} / (qn.nrm * cn.nrm) AS cosine
         |  FROM q qa JOIN assigned ca
         |    ON ca.cid = qa.qcid AND ca.vec_id <> qa.query_id
         |  JOIN normed qn ON qn.vec_id = qa.query_id
         |  JOIN normed cn ON cn.vec_id = ca.vec_id),
         |ivf AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC, cand_id) AS rn
         |    FROM ivf0) WHERE rn <= $K),
         |hits AS (
         |  SELECT e.qcid, e.query_id,
         |    CASE WHEN i.cand_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM exact e LEFT JOIN ivf i
         |    ON e.query_id = i.query_id AND e.cand_id = i.cand_id)
         |SELECT qcid AS cid, CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
         |  CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(SUM(hit) AS BIGINT) AS n_hits,
         |  CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS recall
         |FROM hits GROUP BY qcid ORDER BY cid""".stripMargin) { (s, d) =>
      val assigned = assignedDf(s, d).pinned // one assignment pass, three readers
      val qv = assigned.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("cid").as("qcid"))
      val cv = assigned.select(col("vec_id").as("cand_id"),
        col("embedding").as("ce"), col("cid").as("ccid"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("cand_id"))
      val exact = broadcast(qv)
        .join(cv, col("cand_id") =!= col("query_id"))
        .select(col("query_id"), col("qcid"), col("cand_id"),
          VectorExpressions.cosine_similarity(col("qe"), col("ce")).as("cosine"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= K)
        .select(col("query_id"), col("qcid"), col("cand_id"))
      val ivf = broadcast(qv)
        .join(cv, col("qcid") === col("ccid") && col("cand_id") =!= col("query_id"))
        .select(col("query_id"), col("cand_id"),
          VectorExpressions.cosine_similarity(col("qe"), col("ce")).as("cosine"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= K)
        .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
      exact.join(ivf, Seq("query_id", "cand_id"), "left")
        .select(col("qcid"), col("query_id"),
          coalesce(col("hit"), lit(0)).as("hit"))
        .groupBy(col("qcid").as("cid"))
        .agg(countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_exact"),
          sum(col("hit")).cast(LongType).as("n_hits"),
          (sum(col("hit")).cast(DoubleType) / count(lit(1))).as("recall"))
        .orderBy("cid")
    }
  }

  /** [[sqlAssign]] with a COUNT-CALIBRATED cell count (dd14's
    * count-calibrated sampling precedent): cells = GREATEST(16,
    * CEIL(n/128)) caps the expected cell population at ~128 vectors
    * however large the corpus grows, which is what keeps hn01's
    * within-cell kNN build LINEAR in n (Σ cell² ≈ n·128) instead of
    * quadratic-in-n the fixed-16-cell assign would give it.
    *
    * The assignment itself is HIERARCHICAL (coarse-to-fine — the
    * IVF-HNSW/two-level-quantizer shape): a vector first picks the
    * best of the ⌈ncells/128⌉ group REPRESENTATIVES (centroids whose
    * cid ≡ 0 mod 128), then the best centroid within that group. The
    * 1000× probe forced this too: flat argmax over n/128 centroids is
    * n²/128 cosine evaluations (31 BILLION at 2M vectors — the probe
    * timed out on assignment alone); coarse-to-fine is ~(n/16384 +
    * 128)·n — linear. Whenever ncells ≤ 128 there is exactly one
    * group (cid 0 is the only representative) and the fine stage
    * scores every centroid, so the hierarchical and flat assigns
    * coincide at every driver scale (n ≤ 2000 ⇒ ncells = 16). */
  private def sqlAssignDyn: String =
    s"""normed AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, SQRT(${sqlNorm2("e")}) AS nrm
       |  FROM embeddings e),
       |params AS MATERIALIZED (
       |  SELECT GREATEST(16, CAST(CEIL(COUNT(*) / 128.0) AS BIGINT)) AS ncells
       |  FROM embeddings),
       |centroids AS MATERIALIZED (
       |  SELECT vec_id AS cid, embedding, nrm AS cnrm FROM normed, params
       |  WHERE vec_id < ncells),
       |coarse AS MATERIALIZED (
       |  SELECT vec_id, g FROM (
       |    SELECT v.vec_id, r.cid // 128 AS g,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${sqlDot("v", "r")} / (v.nrm * r.cnrm) DESC, r.cid) AS rr
       |    FROM normed v CROSS JOIN centroids r WHERE r.cid % 128 = 0)
       |  WHERE rr = 1),
       |scored0 AS (
       |  SELECT v.vec_id, c.cid,
       |    ${sqlDot("v", "c")} / (v.nrm * c.cnrm) AS cos_c
       |  FROM normed v JOIN coarse ON coarse.vec_id = v.vec_id
       |  JOIN centroids c ON c.cid // 128 = coarse.g),
       |scored AS (
       |  SELECT vec_id, cid, cos_c,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY cos_c DESC, cid) AS rc
       |  FROM scored0),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, cid, cos_c FROM scored WHERE rc = 1)""".stripMargin

  /** Engine-side twin of [[sqlAssignDyn]]'s cell count, memoized per
    * (session, dir): the count is a fixture of the static corpus, and
    * without the memo every timed serving run of the hn/ivf family
    * paid a full embeddings count just to re-derive a constant. */
  private val cellsMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Long]
  private def dynCells(s: SparkSession, d: String): Long =
    cellsMemo.getOrElseUpdate((s, d),
      math.max(16L, (Tables.embeddings(s, d).count() + 127L) / 128L))

  /** Spec access to the runtime ladder depth: hn03's (and hn05's)
    * ORACLE SQL is unrolled at LMAX = 2, while the engine derives
    * lmax from the corpus at runtime — IvfSpec pins the two equal on
    * every oracle-compared corpus dir, so a corpus-size change fails
    * loudly as a spec assert instead of surfacing as an opaque verify
    * hash mismatch. */
  private[graft] def oracleLadderDepth(s: SparkSession, d: String): Int =
    h3Lmax(dynCells(s, d))

  /** Engine-side twin of [[sqlAssignDyn]]'s hierarchical assignment:
    * both stages are the map-side broadcast-array argmax idiom of
    * [[assignedDf]] — stage 1 against the ⌈ncells/128⌉ representative
    * array, stage 2 against the chosen group's ≤128 centroids via a
    * broadcast equi-join on the group id. Zero corpus shuffles; the
    * per-vector cost is representatives + 128, independent of ncells. */
  private def assignedDfHier(s: SparkSession, d: String, cells: Long): DataFrame = {
    VectorExpressions.register(s)
    val e = Tables.embeddings(s, d)
    val cents = e.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"),
        floor(col("vec_id") / 128).cast(LongType).as("g"))
    val repArr = cents.filter(col("cid") % 128 === 0)
      .agg(sort_array(collect_list(struct(col("cid").as("cid"),
        col("cemb").as("cemb")))).as("reps"))
    val groupArrs = cents.groupBy(col("g"))
      .agg(sort_array(collect_list(struct(col("cid").as("cid"),
        col("cemb").as("cemb")))).as("gc"))
    def argmax(arr: Column, emb: Column): Column =
      array_max(transform(arr, c =>
        struct(
          VectorExpressions.cosine_similarity(emb, c.getField("cemb"))
            .as("cos_c"),
          (-c.getField("cid")).as("neg_cid"),
          c.getField("cid").as("cid"))))
    e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(repArr))
      .withColumn("g",
        floor(argmax(col("reps"), col("embedding")).getField("cid") / 128)
          .cast(LongType))
      .join(broadcast(groupArrs), Seq("g"))
      .withColumn("best", argmax(col("gc"), col("embedding")))
      .select(col("vec_id"), col("embedding"),
        col("best.cid").as("cid"), col("best.cos_c").as("cos_c"))
  }

  /** Graph-based ANN (NSW/HNSW-family; Malkov et al.) — the
    * highest-recall-per-probe production index family, complementing
    * IVF (cells) and PQ (codes): a navigable small-world graph whose
    * greedy/beam search touches a beam-bounded handful of vectors per
    * query instead of a whole cell.
    *
    * Deterministic, distributable construction (HNSW's sequential
    * random-level insert doesn't parallelize or replay):
    *  - base layer: within each IVF cell, every vector's M=4 nearest
    *    neighbors by cosine (ties → smaller dst), built as one
    *    equi-join on cid + per-src top-M. The cell count is
    *    COUNT-CALIBRATED ([[sqlAssignDyn]]: ~128 vectors per cell), so
    *    Σ cell² ≈ 128·n — the build is LINEAR in the corpus, where a
    *    fixed cell count would quietly go quadratic at 100×;
    *  - upper layers: one hub per cell (the vector most cosine-aligned
    *    with its centroid — the cell's natural medoid stand-in). Hubs
    *    connect as a clique only WITHIN their super-cell (cid/128 —
    *    ≤128 hubs each), and one super-hub per super-cell forms the
    *    apex clique — the "zoom-out" levels HNSW gets from its sparse
    *    top layers, with every tier's edge count linear-bounded. The
    *    1000× probe forced this: the original single-tier design
    *    connected ALL hubs ((n/128)² edges — 244M at 2M vectors, a
    *    genuine quadratic term that timed the probe out); the
    *    three-tier form is ~n edges total and degenerates to the
    *    single-tier clique whenever cells ≤ 128 (one super-cell), so
    *    every driver-scale result is unchanged. Past ~10⁹ vectors the
    *    apex clique ((n/16384)²) recurses the same way;
    *  - search: score all hubs (the top-layer scan), then H=3 beam
    *    rounds — expand the beam's out-edges, score, keep the best
    *    B=8 of everything seen; report top-K of the visited set.
    *
    * Evaluation mirrors ann01: exact brute-force top-K ground truth
    * per query, per-query recall plus n_visited — the work metric that
    * shows beam-bounded cost (≈ hubs + H·B·M pairs scored, vs 2000+
    * for exact). Scale shape: the edge build is cell-bounded; every
    * search-side join broadcasts only fixed-size frames (32 queries,
    * ≤16 hubs, beam-bounded candidate lists) against corpus-side
    * fetch joins on vec_id — broadcast-guard clean; the H-round
    * loop pins each round's visited set (Pin), the iterative-operator
    * convention PageRank/k-means established here. */
  // graph-ANN family parameters, shared by hn01 (build+search+recall
  // harness) and hn02 (persisted-index serving)
  private val HnM = 4 // out-degree of the base-layer kNN graph
  private val HnB = 8 // beam width
  private val HnH = 3 // beam-expansion rounds
  private val HnK = 5 // report top-K
  private val HnNQ = 32 // fixed query prefix (scale-invariant harness size)

  /** The graph index build shared by hn01 and hn02's persisted writer:
    * count-calibrated hierarchical assignment, within-cell kNN through
    * the k-bounded TopK operator, tiered hub cliques, undirected edge
    * set. Returns (vecs, hubs-with-embeddings, edges); hubs and edges
    * are pinned (multiple readers). */
  private def hnBuildGraph(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val assigned = assignedDfHier(s, d, dynCells(s, d))
      .pinned // one pass: edges, hubs, vecs
    val vecs = assigned.select(col("vec_id"), col("embedding"))
    // base layer: within-cell kNN (equi-join on cid — NEVER corpus²);
    // per-src top-M through the k-bounded TopKPerGroup operator — the
    // 1000× probe's pair stream is 128·n rows (256M at 2M vectors); a
    // window sort would materialize and sort every group, the heap
    // keeps M rows per src per task
    val aSide = assigned.select(col("cid"), col("vec_id").as("src"),
      col("embedding").as("se"))
    val bSide = assigned.select(col("cid").as("bcid"),
      col("vec_id").as("dst"), col("embedding").as("de"))
    val knn = graft.plans.TopKPerGroup.perGroup(
      aSide
        .join(bSide, col("cid") === col("bcid") && col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          VectorExpressions.cosine_similarity(col("se"), col("de")).as("cos_e")),
      Seq(col("src")), struct(col("cos_e"), -col("dst")), k = HnM)
      .select(col("src"), col("dst"))
    // upper layers: per-cell hub (argmax cosine-to-centroid), hub
    // cliques WITHIN each super-cell (cid/128), and the apex clique
    // over per-super-cell super-hubs. One super-cell at every driver
    // scale (cells = 16) ⇒ identical to a full hub clique there; at
    // 1000× this is what keeps the edge table ~n instead of (n/128)²
    val wHub = Window.partitionBy(col("cid"))
      .orderBy(col("cos_c").desc, col("vec_id"))
    val hubs = assigned.withColumn("rn", row_number().over(wHub))
      .filter(col("rn") === 1)
      .select(col("vec_id"), floor(col("cid") / 128).cast(LongType).as("sc"),
        col("cos_c"), col("embedding"))
      .pinned // four readers: entry scan, within-sc clique ×2, apex
    val hubClique = hubs.select(col("sc"), col("vec_id").as("src"))
      .join(hubs.select(col("sc"), col("vec_id").as("dst")), Seq("sc"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    val wSc = Window.partitionBy(col("sc"))
      .orderBy(col("cos_c").desc, col("vec_id"))
    val superHubs = hubs.withColumn("rn", row_number().over(wSc))
      .filter(col("rn") === 1).select(col("vec_id"))
    val apexClique = superHubs.select(col("vec_id").as("src"))
      .crossJoin(broadcast(superHubs.select(col("vec_id").as("dst"))))
      .filter(col("src") =!= col("dst"))
    // UNDIRECTED base layer (kNN ∪ reverse-kNN — the NSW convention):
    // reverse edges let a search escape a neighbor whose own top-M
    // points elsewhere; without them ~1/4 of queries strand at
    // recall 0 (measured at sf0.01)
    val edges = knn
      .union(knn.select(col("dst").as("src"), col("src").as("dst")))
      .union(hubClique).union(apexClique).distinct().pinned // read H times
    (vecs, hubs, edges)
  }

  /** The beam search shared by hn01 and hn02: hub entry scan, HnH
    * rounds of expand-score-prune, returns the accumulated visited set
    * (query_id, cand_id, cos_q). `hubs` needs (vec_id, embedding);
    * `vecs` is the id→embedding fetch table. */
  private def hnBeamSearch(vecs: DataFrame, hubs: DataFrame,
      edges: DataFrame): DataFrame = {
    val qvecs = vecs.filter(col("vec_id") < HnNQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    // score a (query_id, cand_id) list: broadcast the beam-bounded
    // candidates into a corpus-side fetch join on vec_id — the
    // serve-time shape (fetch vectors by id, never scan the corpus)
    def score(cands: DataFrame): DataFrame =
      vecs.select(col("vec_id"), col("embedding").as("ce"))
        .join(broadcast(cands.join(broadcast(qvecs), Seq("query_id"))),
          col("vec_id") === col("cand_id"))
        .select(col("query_id"), col("cand_id"),
          VectorExpressions.cosine_similarity(col("qe"), col("ce")).as("cos_q"))
    val wQ = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_q").desc, col("cand_id"))
    def topOf(df: DataFrame, k: Int): DataFrame =
      df.withColumn("rn", row_number().over(wQ)).filter(col("rn") <= k)
        .select(col("query_id"), col("cand_id"))
    // entry scan: hubs carry their embeddings, so the top-layer scan
    // is hubs × broadcast(32 queries) map-side — it never rescans the
    // corpus and never broadcasts a corpus-growing candidate list
    var visited = hubs.select(col("vec_id").as("cand_id"), col("embedding"))
      .crossJoin(broadcast(qvecs))
      .select(col("query_id"), col("cand_id"),
        VectorExpressions.cosine_similarity(col("qe"), col("embedding"))
          .as("cos_q"))
      .pinned
    var beam = topOf(visited, HnB)
    for (_ <- 1 to HnH) {
      val expd = edges
        .join(broadcast(beam.withColumnRenamed("cand_id", "cur")),
          col("src") === col("cur"))
        .select(col("query_id"), col("dst").as("cand_id")).distinct()
      visited = visited.union(score(expd)).distinct().pinned
      beam = topOf(visited, HnB)
    }
    visited
  }

  private def sqlHnHop(i: Int): String =
    s"""exp$i AS (
       |  SELECT DISTINCT b.query_id, e.dst AS cand_id
       |  FROM beam${i - 1} b JOIN edges e ON e.src = b.cand_id),
       |sc$i AS (
       |  SELECT x.query_id, x.cand_id,
       |    ${sqlDot("qn", "cn")} / (qn.nrm * cn.nrm) AS cos_q
       |  FROM exp$i x JOIN normed qn ON qn.vec_id = x.query_id
       |  JOIN normed cn ON cn.vec_id = x.cand_id),
       |visited$i AS (
       |  SELECT DISTINCT query_id, cand_id, cos_q FROM (
       |    SELECT query_id, cand_id, cos_q FROM visited${i - 1}
       |    UNION ALL SELECT query_id, cand_id, cos_q FROM sc$i)),
       |beam$i AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY cos_q DESC, cand_id) AS rn
       |    FROM visited$i) WHERE rn <= $HnB)""".stripMargin

  /** The full graph-build + beam-search CTE chain (assignment,
    * within-cell kNN, tiered hubs, edges, entry scan, HnH hops) —
    * shared verbatim by hn01's recall oracle and hn02's serving
    * oracle, so the two queries are provably over the same index. */
  private def sqlHnSearchCtes: String =
    s"""WITH $sqlAssignDyn,
       |gpairs AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    ${sqlDot("an", "bn")} / (an.nrm * bn.nrm) AS cos_e
       |  FROM assigned a JOIN assigned b
       |    ON a.cid = b.cid AND a.vec_id <> b.vec_id
       |  JOIN normed an ON an.vec_id = a.vec_id
       |  JOIN normed bn ON bn.vec_id = b.vec_id),
       |knn AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (
       |      PARTITION BY src ORDER BY cos_e DESC, dst) AS rn
       |    FROM gpairs) WHERE rn <= $HnM),
       |hubs AS (
       |  SELECT vec_id, cid // 128 AS sc, cos_c FROM (
       |    SELECT vec_id, cid, cos_c, ROW_NUMBER() OVER (
       |      PARTITION BY cid ORDER BY cos_c DESC, vec_id) AS rn
       |    FROM assigned) WHERE rn = 1),
       |shubs AS (
       |  SELECT vec_id FROM (
       |    SELECT vec_id, ROW_NUMBER() OVER (
       |      PARTITION BY sc ORDER BY cos_c DESC, vec_id) AS rn
       |    FROM hubs) WHERE rn = 1),
       |edges AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM knn
       |    UNION ALL
       |    SELECT dst AS src, src AS dst FROM knn
       |    UNION ALL
       |    SELECT h1.vec_id AS src, h2.vec_id AS dst
       |    FROM hubs h1 JOIN hubs h2
       |      ON h1.sc = h2.sc AND h1.vec_id <> h2.vec_id
       |    UNION ALL
       |    SELECT s1.vec_id AS src, s2.vec_id AS dst
       |    FROM shubs s1 CROSS JOIN shubs s2 WHERE s1.vec_id <> s2.vec_id)),
       |qs AS (SELECT vec_id AS query_id FROM normed WHERE vec_id < $HnNQ),
       |sc0 AS (
       |  SELECT q.query_id, h.vec_id AS cand_id,
       |    ${sqlDot("qn", "cn")} / (qn.nrm * cn.nrm) AS cos_q
       |  FROM qs q JOIN normed qn ON qn.vec_id = q.query_id
       |  CROSS JOIN hubs h JOIN normed cn ON cn.vec_id = h.vec_id),
       |visited0 AS (SELECT query_id, cand_id, cos_q FROM sc0),
       |beam0 AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY cos_q DESC, cand_id) AS rn
       |    FROM visited0) WHERE rn <= $HnB),
       |${(1 to HnH).map(sqlHnHop).mkString(",\n")}""".stripMargin

  val hn01GraphAnn: GraftQuery = {
    val M = HnM
    val B = HnB
    val H = HnH
    val K = HnK
    val NQ = HnNQ
    def hopSql(i: Int): String = sqlHnHop(i)
    q("hn01_graph_ann",
      s"graph ANN: cell-bounded kNN graph + hub layer, $H-round beam-$B search, recall@$K",
      s"""$sqlHnSearchCtes,
         |approx AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY cos_q DESC, cand_id) AS rn
         |    FROM visited$H WHERE cand_id <> query_id) WHERE rn <= $K),
         |nv AS (
         |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_visited
         |  FROM visited$H GROUP BY query_id),
         |exact0 AS (
         |  SELECT q.query_id, c.vec_id AS cand_id,
         |    ${sqlDot("qn", "c")} / (qn.nrm * c.nrm) AS cos_q
         |  FROM qs q JOIN normed qn ON qn.vec_id = q.query_id
         |  JOIN normed c ON c.vec_id <> q.query_id),
         |exact AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY cos_q DESC, cand_id) AS rn
         |    FROM exact0) WHERE rn <= $K),
         |hits AS (
         |  SELECT e.query_id,
         |    CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM exact e LEFT JOIN approx a
         |    ON e.query_id = a.query_id AND e.cand_id = a.cand_id)
         |SELECT h.query_id, nv.n_visited,
         |  CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(SUM(hit) AS BIGINT) AS n_hits,
         |  CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS recall
         |FROM hits h JOIN nv ON nv.query_id = h.query_id
         |GROUP BY h.query_id, nv.n_visited
         |ORDER BY h.query_id""".stripMargin) { (s0, d) =>
      // count-calibrated cells (≈128 vectors each) keep the kNN build
      // linear; == 16 at every driver scale, so oracle rows are
      // unchanged by the calibration. PHASE SPLIT (round-12): the
      // index build AND the brute-force exact ground truth are
      // one-time fixtures persisted by [[hnIndexDir]] (setup_write,
      // attributed to whichever of hn01/hn02 triggers first) — the
      // timed query is what a recall evaluation actually repays per
      // run: load index, beam-search, join the persisted truth.
      // r17: the search runs on a width-1 no-AQE child (the hn03
      // idiom): every shuffled frame in the beam loop is query-count-
      // bounded (≤ NQ·B·M rows), so the session default fanned each
      // of the ~12 micro-stages into 32 near-empty tasks with an AQE
      // driver barrier apiece. Corpus-side reads split by the FILE
      // source, not this knob; the index memoizer stays keyed on the
      // PARENT so repeated runs reuse the fixture.
      val s = graft.Sessions.child(s0,
        "spark.sql.shuffle.partitions" -> "1",
        "spark.sql.adaptive.enabled" -> "false")
      val dir = hnIndexDir(s0, d, trigger = "hn01_graph_ann")
      val edges = s.read.parquet(s"$dir/edges").pinnedLazily // read HnH times
      val hubs = s.read.parquet(s"$dir/hubs")
      val vecs = s.read.parquet(s"$dir/vecs")
      val visited = hnBeamSearch(vecs, hubs, edges)
      val wQ = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_q").desc, col("cand_id"))
      def topOf(df: DataFrame, k: Int): DataFrame =
        df.withColumn("rn", row_number().over(wQ)).filter(col("rn") <= k)
          .select(col("query_id"), col("cand_id"))
      val approx = topOf(visited.filter(col("cand_id") =!= col("query_id")), K)
        .withColumn("hit", lit(1))
      val nv = visited.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_visited"))
      val exact = s.read.parquet(s"$dir/exact")
      exact.join(approx, Seq("query_id", "cand_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0))).cast(LongType).as("n_hits"))
        .join(nv, Seq("query_id"))
        .select(col("query_id"), col("n_visited"), col("n_exact"),
          col("n_hits"),
          (col("n_hits").cast(DoubleType) / col("n_exact")).as("recall"))
        .orderBy("query_id")
    }
  }

  /** Build + persist the GRAPH index once per (session, sf dir) —
    * hn02's indexing phase, the graph twin of [[indexDir]] (ivf06's
    * memoizer): edges, hub entry points (with embeddings), and the
    * id→vector fetch table land as three parquet tables, and repeated
    * hn02 calls go straight to read+search. Edges are written
    * REPARTITIONED BY src — the serving-side fetch is "all out-edges
    * of the frontier", so src-clustered row groups are the layout a
    * serving fleet would bucket by. */
  private val hnDirs =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  /** `trigger` names the query the one-time build is attributed to in
    * the bench phases (the MvQueries convention: whoever pays shows
    * the setup_write). Alongside the index, the brute-force exact
    * top-[[HnK]] per query is persisted as `exact/` — hn01's recall
    * baseline is a FIXTURE of the index build (ground truth changes
    * exactly when the corpus does), so the timed hn01 run reads it
    * instead of recomputing an n×[[HnNQ]] scoring pass per call. */
  def hnIndexDir(s: SparkSession, d: String,
      trigger: String = "hn02_graph_serving"): String =
    hnDirs.synchronized {
      hnDirs.getOrElseUpdate((s, d), {
        val dir = graft.Scratch.dir("graft_hn_")
        graft.Phases.timed(trigger, "setup") {
          val (vecs, hubs, edges) = hnBuildGraph(s, d)
          edges.repartition(col("src"))
            .write.mode("overwrite").parquet(s"$dir/edges")
          hubs.select(col("vec_id"), col("embedding"))
            .write.mode("overwrite").parquet(s"$dir/hubs")
          vecs.write.mode("overwrite").parquet(s"$dir/vecs")
          val qvecs = vecs.filter(col("vec_id") < HnNQ)
            .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
          graft.plans.TopKPerGroup.perGroup(
            vecs.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
              .join(broadcast(qvecs), col("cand_id") =!= col("query_id"))
              .select(col("query_id"), col("cand_id"),
                VectorExpressions.cosine_similarity(col("qe"), col("ce"))
                  .as("cos_q")),
            Seq(col("query_id")), struct(col("cos_q"), -col("cand_id")),
            k = HnK)
            .select(col("query_id"), col("cand_id"))
            .write.mode("overwrite").parquet(s"$dir/exact")
        }
        dir
      })
    }

  /** Graph-ANN SERVING: hn01's index persisted once (see
    * [[hnIndexDir]]), then answered from storage — the deployment
    * split a vector-serving fleet actually runs (index offline, search
    * online). Output is the per-query top-K id list, not the recall
    * harness: serving returns neighbors, benchmarking returns recall,
    * and hn01 keeps the latter. The oracle rebuilds the identical
    * index inline ([[sqlHnSearchCtes]] — the same CTE text hn01
    * checks), so a hash match proves the persist/reload loses nothing.
    * Bench reports the one-time build under `setup_write`, leaving the
    * timed number the pure search cost. */
  val hn02GraphServing: GraftQuery = q(
    "hn02_graph_serving",
    s"graph-ANN serving: persisted NSW index reloaded from storage, beam search only, top-$HnK ids",
    s"""$sqlHnSearchCtes,
       |ranked AS (
       |  SELECT query_id, cand_id, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY cos_q DESC, cand_id) AS rn
       |  FROM visited$HnH WHERE cand_id <> query_id)
       |SELECT query_id, CAST(rn AS BIGINT) AS rank, cand_id
       |FROM ranked WHERE rn <= $HnK
       |ORDER BY query_id, rank""".stripMargin) { (s0, d) =>
    // r17: width-1 no-AQE search child — same rationale and probe
    // discipline as hn01 above (the serving face shares hnBeamSearch).
    val s = graft.Sessions.child(s0,
      "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.adaptive.enabled" -> "false")
    val dir = hnIndexDir(s0, d)
    val edges = s.read.parquet(s"$dir/edges").pinnedLazily // read HnH times
    val hubs = s.read.parquet(s"$dir/hubs")
    val vecs = s.read.parquet(s"$dir/vecs")
    val visited = hnBeamSearch(vecs, hubs, edges)
    val wQ = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_q").desc, col("cand_id"))
    visited.filter(col("cand_id") =!= col("query_id"))
      .withColumn("rn", row_number().over(wQ))
      .filter(col("rn") <= HnK)
      .select(col("query_id"), col("rn").cast(LongType).as("rank"),
        col("cand_id"))
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------- hn03
  // Multi-layer HNSW-style ladder (Malkov & Yashunin 2016, re-expressed
  // for deterministic distributed construction): hn01's 2-tier hub
  // shape generalized to a LOG-LAYER ladder.
  //  - level(v): hash-geometric with p = 1/4 — the largest l ≤ LMAX
  //    with h(v) ≡ 0 (mod 4^l), h = first 16 md5 bits of vec_id. Every
  //    engine (and the SQL oracle) re-derives the same levels; no
  //    sequential random insert.
  //  - LMAX = ⌈log₄(ncells)⌉, so the TOP layer's merged bucket spans
  //    the whole cell space (global connectivity) while every layer's
  //    expected bucket population stays ~128: layer l keeps n/4^l
  //    nodes and merges 4^l base cells per bucket (cid div 4^l) —
  //    the populations cancel. Σ_l (nodes_l × bucket_l) ≈ 128·n·4/3:
  //    the whole ladder builds LINEAR in the corpus.
  //  - layer edges: within-bucket kNN top-M (k-bounded heap operator)
  //    ∪ reverse — the NSW convention per layer; layer 0 is the plain
  //    within-cell kNN graph.
  //  - search: greedy DESCENT from the global entry point (max level,
  //    min id) — ONE 2-ball step per layer from LMAX down to 1: score
  //    cur ∪ N(cur) ∪ N²(cur) over the layer's edges and keep the
  //    top-E front (HNSW's ef-bounded upper-layer search; the 2-ball
  //    top-E dominates the sequential 2-hop greedy — it prunes from a
  //    SUPERSET of both hops' candidates — at half the sequential
  //    rounds, the term that sets latency here since every round's
  //    frames are query-count-bounded: ≤ NQ·E·(1+M+M²)) — then hn01's B=8 ×
  //    H=3 beam at the base over layer ≤ 1 edges (the layer-1 union
  //    is the cross-cell escape hatch the hub cliques provided in
  //    hn01). Every candidate scored during the descent joins the
  //    visited set, so the recall readout counts the true work. At
  //    the driver scales ncells = 16 ⇒ LMAX = 2 — fixed, so the
  //    oracle unrolls the identical ladder in SQL; at the 1000× probe
  //    (2M vectors, 15,625 cells) LMAX = 7 and the descent is 7
  //    constant-size rounds — the log ladder is exactly what keeps
  //    serving cost flat while the corpus grows 1000×.
  /** Descent beam (HNSW's ef for the upper layers): keep the top-E
    * candidates per layer, not the single argmax — E independent
    * descent paths cost the same number of sequential rounds (the
    * latency term) while rescuing queries whose greedy path strands in
    * the wrong branch of a sparse upper layer (measured mean recall@5
    * 0.52 → ~0.8, min 0 → >0, at sf0.01; per-round frames stay
    * query-count-bounded: ≤ NQ·E·(1+M+M²) rows). */
  private val H3Ef = 4

  /** Per-layer out-degree: the HNSW M0 = 2M convention — the base
    * layer, where answers actually live, gets double the out-degree of
    * the navigation layers (Malkov & Yashunin §4.1). With the flat
    * upper-layer M this was the recall bottleneck: mean recall@5 at
    * sf0.01 moved 0.61 → ~0.8 for a build-size change only (the search
    * round count is untouched). */
  private def h3M(l: Int): Int = if (l == 0) 2 * HnM else HnM

  /** hn03's base beam width — wider than hn01's [[HnB]] because the
    * ladder seeds the beam from ONE descent region (hn01 seeds from
    * every cell's hub, so its coverage is built into the seed). Width
    * is parallel-bounded work, not extra sequential rounds. */
  private val H3B = 12

  private def h3Lmax(cells: Long): Int = {
    var l = 0
    var c = 1L
    while (c < cells) { c *= 4; l += 1 }
    math.max(1, l)
  }

  /** First 16 md5 bits of the vec id — the shared level hash. */
  private def h3HashCol: Column =
    conv(substring(md5(col("vec_id").cast(StringType)), 1, 4), 16, 10)
      .cast(LongType)

  private def sqlH3Hash: String =
    (0 until 4).map(i =>
      s"(strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), ${i + 1}, 1)) - 1) * ${1L << (4 * (3 - i))}")
      .mkString("(", " + ", ")")

  /** Build + persist the ladder once per (session, sf dir): edges
    * partitioned BY LAYER (each descent round prunes to one layer's
    * partition), the entry point, the id→vector fetch table, and the
    * brute-force exact top-K ground truth (same fixture discipline as
    * [[hnIndexDir]]). */
  private val h3Dirs =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  /** Memoized query-side fixtures (the NQ query vectors and the entry
    * point) per (session, dir): both are corpus constants of the
    * static testdata, and re-collecting them on every frame build
    * charged two scheduled driver jobs (~2 s at sf0.1) to every timed
    * serving run. Same static-input discipline as [[cellsMemo]]. */
  private val h3Fixtures = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (Map[Long, Seq[Float]], Long)]

  def h3IndexDir(s: SparkSession, d: String): String =
    h3Dirs.synchronized {
      h3Dirs.getOrElseUpdate((s, d), {
        val dir = graft.Scratch.dir("graft_hn03_")
        graft.Phases.timed("hn03_hnsw_ann", "setup") {
          val cells = dynCells(s, d)
          val lmax = h3Lmax(cells)
          val assigned = assignedDfHier(s, d, cells)
            .withColumn("h", h3HashCol)
            .withColumn("lvl", ladderLevel(col("h"), lmax))
            .pinned // every layer's node set reads it
          val layerEdges = (0 to lmax).map { l =>
            val div = math.pow(4, l).toLong
            val nodes = assigned.filter(col("lvl") >= l)
              .select(col("vec_id"), col("embedding"),
                floor(col("cid") / div).cast(LongType).as("bkt"))
            val a = nodes.select(col("bkt"), col("vec_id").as("src"),
              col("embedding").as("se"))
            val b = nodes.select(col("bkt").as("bb"),
              col("vec_id").as("dst"), col("embedding").as("de"))
            val knn = graft.plans.TopKPerGroup.perGroup(
              a.join(b, col("bkt") === col("bb") && col("src") =!= col("dst"))
                .select(col("src"), col("dst"),
                  VectorExpressions.cosine_similarity(col("se"), col("de"))
                    .as("cos_e")),
              Seq(col("src")), struct(col("cos_e"), -col("dst")), k = h3M(l))
              .select(col("src"), col("dst"))
            knn.union(knn.select(col("dst").as("src"), col("src").as("dst")))
              .distinct()
              .withColumn("layer", lit(l))
          }
          layerEdges.reduce(_ unionByName _)
            .write.mode("overwrite").partitionBy("layer")
            .parquet(s"$dir/edges")
          // 2-BALL CLOSURE index for the navigation layers (1..lmax):
          // e2 = e ∪ (e ⋈ e), i.e. N(v) ∪ N²(v) as direct edges. The
          // descent's per-round 2-ball expansion then needs ONE join
          // against e2 instead of a chained e-join-e — which halves
          // the sequential broadcast barriers per round, the term that
          // sets hn03's latency (SCALING.md: ~0.6 s/barrier at every
          // decade). Size is ≤ M + M² ≈ 20 edges per node, built once
          // at index time; layer 0 is beam-searched 1-hop (unchanged)
          // so its closure is never built.
          val edges = s.read.parquet(s"$dir/edges").filter(col("layer") >= 1)
          val hop2 = edges.select(col("layer"), col("src"), col("dst").as("m"))
            .join(edges.select(col("layer").as("l2"), col("src").as("m2"),
                col("dst")),
              col("layer") === col("l2") && col("m") === col("m2"))
            .select(col("layer"), col("src"), col("dst"))
          edges.select(col("layer"), col("src"), col("dst"))
            .union(hop2).distinct()
            .write.mode("overwrite").partitionBy("layer")
            .parquet(s"$dir/edges2")
          assigned.orderBy(col("lvl").desc, col("vec_id")).limit(1)
            .select(col("vec_id")).write.mode("overwrite")
            .parquet(s"$dir/entry")
          val vecs = assigned.select(col("vec_id"), col("embedding"))
          vecs.write.mode("overwrite").parquet(s"$dir/vecs")
          val qvecs = vecs.filter(col("vec_id") < HnNQ)
            .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
          graft.plans.TopKPerGroup.perGroup(
            vecs.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
              .join(broadcast(qvecs), col("cand_id") =!= col("query_id"))
              .select(col("query_id"), col("cand_id"),
                VectorExpressions.cosine_similarity(col("qe"), col("ce"))
                  .as("cos_q")),
            Seq(col("query_id")), struct(col("cos_q"), -col("cand_id")),
            k = HnK)
            .select(col("query_id"), col("cand_id"))
            .write.mode("overwrite").parquet(s"$dir/exact")
        }
        dir
      })
    }

  private def sqlH3LayerEdges(l: Int): String = {
    val div = math.pow(4, l).toLong
    s"""ln$l AS (
       |  SELECT a.vec_id, a.cid // $div AS bkt FROM assigned a
       |  JOIN lvl ON lvl.vec_id = a.vec_id AND lvl.lvl >= $l),
       |lp$l AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    ${sqlDot("an", "bn")} / (an.nrm * bn.nrm) AS cos_e
       |  FROM ln$l a JOIN ln$l b ON a.bkt = b.bkt AND a.vec_id <> b.vec_id
       |  JOIN normed an ON an.vec_id = a.vec_id
       |  JOIN normed bn ON bn.vec_id = b.vec_id),
       |lk$l AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (
       |      PARTITION BY src ORDER BY cos_e DESC, dst) AS rn
       |    FROM lp$l) WHERE rn <= ${h3M(l)}),
       |e$l AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM lk$l
       |    UNION ALL SELECT dst AS src, src AS dst FROM lk$l))""".stripMargin
  }

  /** One greedy descent step j at layer l: score the 2-ball around the
    * current best over the layer's edges (itself ∪ neighbors ∪
    * neighbors-of-neighbors), keep the argmax. */
  private def sqlH3Step(j: Int, l: Int): String =
    s"""dexp$j AS (
       |  SELECT query_id, cand_id FROM dcur${j - 1}
       |  UNION
       |  SELECT c.query_id, e.dst AS cand_id
       |  FROM dcur${j - 1} c JOIN e$l e ON e.src = c.cand_id
       |  UNION
       |  SELECT c.query_id, e2.dst AS cand_id
       |  FROM dcur${j - 1} c JOIN e$l e ON e.src = c.cand_id
       |  JOIN e$l e2 ON e2.src = e.dst),
       |dsc$j AS (
       |  SELECT x.query_id, x.cand_id,
       |    ${sqlDot("qn", "cn")} / (qn.nrm * cn.nrm) AS cos_q
       |  FROM dexp$j x JOIN normed qn ON qn.vec_id = x.query_id
       |  JOIN normed cn ON cn.vec_id = x.cand_id),
       |dcur$j AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY cos_q DESC, cand_id) AS rn
       |    FROM dsc$j) WHERE rn <= $H3Ef)""".stripMargin

  val hn03HnswAnn: GraftQuery = {
    // The SQL ladder is unrolled at LMAX = h3Lmax(16) = 2 — correct at
    // every ORACLE scale (the driver's sf≤0.1 corpora all count-calibrate
    // to 16 cells; testdata >2048 embeddings would need a re-unroll).
    // The ENGINE derives lmax from dynCells at runtime on purpose: the
    // growth probes run it on 20K–2M-vector replicas (LMAX up to 7)
    // where only Bench runs, never the DuckDB compare — so no require
    // ties the engine to the oracle's unroll depth.
    val LMAX = 2
    val steps = (1 to LMAX).map { j =>
      val l = LMAX - (j - 1)
      sqlH3Step(j, l)
    }
    val nSteps = LMAX
    val descVisited = (1 to nSteps).map(j => s"SELECT query_id, cand_id, cos_q FROM dsc$j")
      .mkString("\n    UNION ALL ")
    def hopSql(i: Int): String =
      s"""exp$i AS (
         |  SELECT DISTINCT b.query_id, e.dst AS cand_id
         |  FROM beam${i - 1} b JOIN se e ON e.src = b.cand_id),
         |sc$i AS (
         |  SELECT x.query_id, x.cand_id,
         |    ${sqlDot("qn", "cn")} / (qn.nrm * cn.nrm) AS cos_q
         |  FROM exp$i x JOIN normed qn ON qn.vec_id = x.query_id
         |  JOIN normed cn ON cn.vec_id = x.cand_id),
         |visited$i AS (
         |  SELECT DISTINCT query_id, cand_id, cos_q FROM (
         |    SELECT query_id, cand_id, cos_q FROM visited${i - 1}
         |    UNION ALL SELECT query_id, cand_id, cos_q FROM sc$i)),
         |beam$i AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY cos_q DESC, cand_id) AS rn
         |    FROM visited$i) WHERE rn <= $H3B)""".stripMargin
    q("hn03_hnsw_ann",
      s"multi-layer HNSW ladder: hash-geometric levels, per-layer NSW edges, greedy descent + beam-$H3B base, recall@$HnK",
      s"""WITH $sqlAssignDyn,
         |lvl AS MATERIALIZED (
         |  SELECT vec_id,
         |    CASE WHEN h % 16 = 0 THEN 2 WHEN h % 4 = 0 THEN 1 ELSE 0 END AS lvl
         |  FROM (SELECT vec_id, $sqlH3Hash AS h FROM normed)),
         |${(0 to LMAX).map(sqlH3LayerEdges).mkString(",\n")},
         |entry AS (
         |  SELECT l.vec_id FROM lvl l ORDER BY l.lvl DESC, l.vec_id LIMIT 1),
         |qs AS (SELECT vec_id AS query_id FROM normed WHERE vec_id < $HnNQ),
         |dcur0 AS (
         |  SELECT q.query_id, e.vec_id AS cand_id FROM qs q CROSS JOIN entry e),
         |${steps.mkString(",\n")},
         |se AS (
         |  SELECT src, dst FROM e0 UNION SELECT src, dst FROM e1),
         |visited0 AS (
         |  SELECT DISTINCT query_id, cand_id, cos_q FROM (
         |    $descVisited)),
         |beam0 AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY cos_q DESC, cand_id) AS rn
         |    FROM visited0) WHERE rn <= $H3B),
         |${(1 to HnH).map(hopSql).mkString(",\n")},
         |approx AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY cos_q DESC, cand_id) AS rn
         |    FROM visited$HnH WHERE cand_id <> query_id) WHERE rn <= $HnK),
         |nv AS (
         |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_visited
         |  FROM visited$HnH GROUP BY query_id),
         |exact0 AS (
         |  SELECT q.query_id, c.vec_id AS cand_id,
         |    ${sqlDot("qn", "c")} / (qn.nrm * c.nrm) AS cos_q
         |  FROM qs q JOIN normed qn ON qn.vec_id = q.query_id
         |  JOIN normed c ON c.vec_id <> q.query_id),
         |exact AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY cos_q DESC, cand_id) AS rn
         |    FROM exact0) WHERE rn <= $HnK),
         |hits AS (
         |  SELECT e.query_id,
         |    CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM exact e LEFT JOIN approx a
         |    ON e.query_id = a.query_id AND e.cand_id = a.cand_id)
         |SELECT h.query_id, nv.n_visited,
         |  CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(SUM(hit) AS BIGINT) AS n_hits,
         |  CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS recall
         |FROM hits h JOIN nv ON nv.query_id = h.query_id
         |GROUP BY h.query_id, nv.n_visited
         |ORDER BY h.query_id""".stripMargin) { (s0, d) =>
      // Every SHUFFLED frame in the descent/beam is query-count-
      // bounded (≤ NQ·E·(1+M+M²) rows at any corpus size), but the
      // session default fans each of the ~18 micro-stages into 32
      // near-empty tasks — and AQE's coalescer is parallelism-first
      // by default, refusing to shrink below the core count, so the
      // scheduling overhead never amortizes (measured ~2 s of the
      // sf0.1 floor). The search therefore runs on a CHILD session
      // (shared context, cache and scans; isolated conf — the
      // ad02/sy03 idiom, so nothing leaks to the parent) pinned to a
      // handful of shuffle partitions. Corpus-side reads are split by
      // the FILE source, not this knob — nothing corpus-sized narrows,
      // at sf0.1 or at the 1000× probe.
      // r17 probe (min-of-5, quiet): width 4 -> 1 measured 2.69 -> 2.17
      // (every shuffled frame here is query-count-bounded, so even 4
      // partitions were mostly empty), and dropping AQE's per-stage
      // barrier on top -> 2.09 (the ~18-micro-stage chain pays it per
      // round; same rationale as Sessions.sizedFor(adaptive = false)).
      // Corpus-side reads split by the FILE source, not this knob.
      val s = graft.Sessions.child(s0, "spark.sql.shuffle.partitions" -> "1",
        "spark.sql.adaptive.enabled" -> "false")
      VectorExpressions.register(s)
      import s.implicits._
      val dir = h3IndexDir(s0, d)
      val lmax = h3Lmax(dynCells(s0, d))
      val vecs = s.read.parquet(s"$dir/vecs").pinnedLazily
      // The whole search (descent + beam + recall readout) builds as
      // ONE ZERO-ACTION plan chain: no per-round collect or manual
      // broadcast job — each round's expansion rides a broadcast HINT
      // on the (query-count-bounded) front subtree, so the sequential
      // rounds execute as nested broadcast exchanges inside the single
      // final job instead of ~3 driver round-trips per round, the term
      // that set hn03's latency (SCALING.md: ~0.6 s/barrier at every
      // decade). The query vectors collect once (NQ rows — fixed
      // harness size, scale-invariant) and ride the front as a qe
      // column, which removes the per-round qvecs re-broadcast.
      // fixtures memoize under the PARENT session: child sessions are
      // per-build, and the values are plain collected data
      val (qe, entryId) = h3Fixtures.getOrElseUpdate((s0, d), {
        (vecs.filter(col("vec_id") < HnNQ).collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap,
          s.read.parquet(s"$dir/entry").head().getLong(0))
      })
      // score a (query_id, cand_id, qe) candidate frame against the
      // stored vectors — the only corpus-side touch per round
      def score(cands: DataFrame): DataFrame =
        vecs.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
          .join(broadcast(cands), Seq("cand_id"))
          .select(col("query_id"), col("cand_id"),
            VectorExpressions.cosine_similarity(col("qe"), col("ce"))
              .as("cos_q"))
      val wQ = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_q").desc, col("cand_id"))
      def topOf(df: DataFrame, k: Int): DataFrame =
        df.withColumn("rn", row_number().over(wQ)).filter(col("rn") <= k)
          .select(col("query_id"), col("cand_id"))
      // Per-round lineage TRUNCATION, not just persist: the visited
      // union accumulates every round's scored frame and the front
      // feeds three subtrees per round, so without a round-sized
      // LogicalRDD the logical tree grows ~3^rounds (at 7+ rounds
      // planning alone took 18 s / 32 MB task binaries with plain
      // persist). LAZY local checkpoint keeps the zero-action
      // property: the LogicalRDD truncates the plan immediately, the
      // compute folds into the one final job and is cached for its
      // other readers. The RELIABLE branch stays EAGER:
      // checkpoint(false) on an un-persisted frame recomputes the
      // plan in the checkpoint-write job — a 2× tax.
      def truncate(df: DataFrame): DataFrame =
        if (s.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
        else df.localCheckpoint(false)
      // Plan-growth triage: the per-round truncation exists for the
      // 3^rounds logical-tree blowup at deep ladders (7+ rounds at the
      // 1000× probe: 18 s of planning / 32 MB task binaries without
      // it). A SHALLOW ladder's 2-round chain is 3² subtrees — cheaper
      // to plan whole than to materialize per round, so descent rounds
      // skip the cut when the depth can't blow up.
      def truncateDeep(df: DataFrame): DataFrame =
        if (lmax <= 3) df else truncate(df)
      // greedy descent: an ef=E front from the entry, ONE 2-ball step
      // per layer over the PRECOMPUTED closure index (edges2 = e ∪ e²,
      // built at index time) — itself ∪ neighbors ∪ neighbors² as one
      // equi-join. distinct is REQUIRED with a top-E front: the
      // expansion arms overlap, and a duplicate pair surviving into
      // the front would waste a slot the oracle's UNION-deduped
      // expansion gives to a distinct candidate.
      // explicit schema: a degenerate corpus (every navigation-layer
      // bucket a singleton) writes edges2 with ZERO data files, and a
      // schema-inferring read would throw at plan time — with the
      // schema pinned an empty closure just yields an empty expansion
      val edges2 = s.read.schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("src", LongType),
          org.apache.spark.sql.types.StructField("dst", LongType),
          org.apache.spark.sql.types.StructField("layer", IntegerType))))
        .parquet(s"$dir/edges2")
      // the NQ-row query-vector LocalRelation, shared by every round's
      // front rejoin (built once — not per round)
      val qeDf = qe.toSeq.map { case (q, e) => (q, e) }
        .toDF("query_id", "qe")
      var cur: DataFrame = qe.keys.toSeq.sorted
        .map(q => (q, entryId, qe(q)))
        .toDF("query_id", "cand_id", "qe")
      var visited: DataFrame = null
      for (l <- lmax to 1 by -1) {
        val exp = cur
          .unionByName(edges2.filter(col("layer") === l)
            .join(broadcast(cur.withColumnRenamed("cand_id", "cr")),
              col("src") === col("cr"))
            .select(col("query_id"), col("dst").as("cand_id"), col("qe")))
          .dropDuplicates("query_id", "cand_id")
        val scored = truncateDeep(score(exp)) // round-sized plan, 2 readers
        visited = if (visited == null) scored else visited.union(scored)
        // ef=E descent front via the k-bounded heap operator (partial
        // per-partition heaps, no window sort); ties to the smallest
        // cand_id, like the oracle. The qe column rejoins from the
        // local query frame (a LocalRelation lookup, not a corpus read).
        cur = graft.plans.TopKPerGroup.perGroup(scored,
          Seq(col("query_id")), struct(col("cos_q"), -col("cand_id")),
          k = H3Ef)
          .select(col("query_id"), col("cand_id"))
          .join(broadcast(qeDf), Seq("query_id"))
      }
      // base beam over layer ≤ 1 edges (layer-1 union = the cross-cell
      // escape hatch), seeded with everything the descent scored
      val se = s.read.parquet(s"$dir/edges").filter(col("layer") <= 1)
        .pinnedLazily
      visited = truncate(visited.distinct())
      var beam = topOf(visited, H3B).join(broadcast(qeDf), Seq("query_id"))
      for (_ <- 1 to HnH) {
        // no pre-score dedup: scoring a duplicate (query, cand) pair
        // is one cheap expression row, and the union's distinct
        // collapses it identically (cos_q is a pure function of the
        // pair) — the dropDuplicates here was a whole extra shuffle
        // per hop for rows the next line dedupes anyway
        val expd = se
          .join(broadcast(beam.withColumnRenamed("cand_id", "cr")),
            col("src") === col("cr"))
          .select(col("query_id"), col("dst").as("cand_id"), col("qe"))
        visited = truncate(visited.union(score(expd)).distinct())
        beam = topOf(visited, H3B).join(broadcast(qeDf), Seq("query_id"))
      }
      val approx = topOf(visited.filter(col("cand_id") =!= col("query_id")),
        HnK).withColumn("hit", lit(1))
      val nv = visited.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_visited"))
      val exact = s.read.parquet(s"$dir/exact")
      exact.join(approx, Seq("query_id", "cand_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0))).cast(LongType).as("n_hits"))
        .join(nv, Seq("query_id"))
        .select(col("query_id"), col("n_visited"), col("n_exact"),
          col("n_hits"),
          (col("n_hits").cast(DoubleType) / col("n_exact")).as("recall"))
        .orderBy("query_id")
    }
  }

  // ---------------------------------------------------------- hn04
  // Incremental HNSW-ladder UPSERT — IVM for the ANN index, the ivf07
  // discipline applied to hn03's ladder. Under a FROZEN quantizer
  // (training never reruns on ingest — the 16 smallest BASE ids, as
  // ivf07) and hash-geometric levels (a pure function of vec_id, so a
  // node's level never depends on who else is in the corpus), the
  // ladder's per-layer edge set is a DETERMINISTIC per-bucket function
  // of the bucket's membership. Ingesting a delta therefore only
  // changes the buckets a delta node lands in: recompute layer-l kNN
  // edges for AFFECTED buckets (≥1 delta member at that layer) over
  // base∪delta members, carry every other bucket's stored edges
  // verbatim — and the result is EXACTLY the full rebuild, which is
  // what the oracle computes (per-layer edge count + order-independent
  // edge checksum over the from-scratch ladder). The delta is SPARSE
  // (vec_id % 211 — a handful of nodes): with ivf07's 10% split every
  // one of the 16 harness cells had a delta member and the carry path
  // was vacuously empty; at ~0.5% the census proves carried buckets
  // outnumber recomputed ones (n_affected < n_buckets), i.e. the
  // incremental path is actually exercised. Deployed cost is
  // O(|affected buckets| · bucket_pop · M) per layer, never the
  // corpus; the harness freezes CELLS=16 so the oracle shares the
  // quantizer text with ivf07, while a production ladder freezes
  // hn03's count-calibrated cells (bucket populations ~128 at every
  // layer), keeping the recompute term constant per affected bucket.
  private val h4Dirs =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  /** Frozen 2-level ladder: LMAX = h3Lmax(CELLS=16) = 2 at every SF. */
  private val H4Lmax = 2

  private def h4LevelCol: Column = ladderLevel(h3HashCol, H4Lmax)

  private def h4Argmax(cents: Column, emb: Column): Column =
    array_max(transform(cents, c =>
      struct(
        VectorExpressions.cosine_similarity(emb, c.getField("cemb"))
          .as("cos_c"),
        (-c.getField("cid")).as("neg_cid"),
        c.getField("cid").as("cid"))))

  /** The frozen 16-centroid broadcast array (ivf07's quantizer). */
  private def h4CentArr(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 211 =!= 0).orderBy("vec_id").limit(CELLS)
      .agg(sort_array(collect_list(struct(col("vec_id").as("cid"),
        col("embedding").as("cemb")))).as("cents"))

  /** Per-bucket layer-l NSW edges (top-[[h3M]] kNN ∪ reverse,
    * distinct) over `nodes(vec_id, embedding, bkt)` — the one edge
    * function setup, recompute, and the oracle all share. */
  private def h4LayerEdges(nodes: DataFrame, l: Int): DataFrame = {
    // single-layer face of the salted [[layerKnn]] kernel — the BUILD
    // pays the same Θ(pop²) hot-bucket pair blocks as the upsert
    val knn = layerKnn(
      nodes.select(col("vec_id"), col("embedding"), col("bkt"))
        .withColumn("layer", lit(l)), h3M(l))
      .select(col("bkt"), col("src"), col("dst"))
    knn.union(knn.select(col("bkt"), col("dst").as("src"),
      col("src").as("dst"))).distinct()
  }

  /** Build + persist the BASE ladder once per (session, sf dir): base
    * nodes (id, embedding, frozen cell, level) and per-layer edges
    * keyed by bucket, partitioned by layer — the stored index the
    * timed upsert carries unaffected buckets from. */
  def h4IndexDir(s: SparkSession, d: String): String =
    h4Dirs.synchronized {
      h4Dirs.getOrElseUpdate((s, d), {
        val dir = graft.Scratch.dir("graft_hn04_")
        graft.Phases.timed("hn04_hnsw_upsert", "setup") {
          VectorExpressions.register(s)
          val e = Tables.embeddings(s, d)
          // the frozen codebook is part of the stored index: persist
          // the 1-row array frame so the timed upsert reads 16 rows
          // instead of re-deriving it with a corpus-sized TakeOrdered
          h4CentArr(e).write.mode("overwrite").parquet(s"$dir/cents")
          e.filter(col("vec_id") % 211 =!= 0)
            .select(col("vec_id"), col("embedding"))
            .crossJoin(broadcast(h4CentArr(e)))
            .withColumn("best", h4Argmax(col("cents"), col("embedding")))
            .select(col("vec_id"), col("embedding"),
              col("best.cid").as("cid"))
            .withColumn("lvl", h4LevelCol)
            .write.mode("overwrite").parquet(s"$dir/nodes")
          val nodes = s.read.parquet(s"$dir/nodes")
          (0 to H4Lmax).map { l =>
            val div = math.pow(4, l).toLong
            h4LayerEdges(nodes.filter(col("lvl") >= l)
              .withColumn("bkt",
                floor(col("cid") / div).cast(LongType)), l)
              .withColumn("layer", lit(l))
          }.reduce(_ unionByName _)
            .write.mode("overwrite").partitionBy("layer")
            .parquet(s"$dir/edges")
        }
        dir
      })
    }

  val hn04HnswUpsert: GraftQuery = {
    def censusSql(l: Int): String = {
      val div = math.pow(4, l).toLong
      s"""c$l AS (
         |  SELECT $l AS layer,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ln$l) AS n_nodes,
         |    (SELECT CAST(COUNT(DISTINCT bkt) AS BIGINT) FROM ln$l) AS n_buckets,
         |    (SELECT CAST(COUNT(DISTINCT a.cid // $div) AS BIGINT)
         |     FROM assigned a JOIN lvl ON lvl.vec_id = a.vec_id
         |       AND lvl.lvl >= $l
         |     WHERE a.vec_id % 211 = 0) AS n_affected,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM e$l) AS n_edges,
         |    (SELECT CAST(SUM((src * 1000003 + dst) % 1000000007) AS BIGINT) FROM e$l)
         |      AS edge_sum)""".stripMargin
    }
    q("hn04_hnsw_upsert",
      "incremental HNSW-ladder upsert: delta levels+cells under a frozen quantizer, per-layer edge rebuild only in affected buckets ≡ full rebuild (edge checksum)",
      s"""WITH normed AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, SQRT(${sqlNorm2("e")}) AS nrm
         |  FROM embeddings e),
         |centroids AS MATERIALIZED (
         |  SELECT vec_id AS cid, embedding, nrm AS cnrm FROM normed
         |  WHERE vec_id % 211 <> 0 ORDER BY vec_id LIMIT $CELLS),
         |scored0 AS (
         |  SELECT v.vec_id, c.cid,
         |    ${sqlDot("v", "c")} / (v.nrm * c.cnrm) AS cos_c
         |  FROM normed v CROSS JOIN centroids c),
         |scored AS (
         |  SELECT vec_id, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY cos_c DESC, cid) AS rc
         |  FROM scored0),
         |assigned AS MATERIALIZED (
         |  SELECT vec_id, cid FROM scored WHERE rc = 1),
         |lvl AS MATERIALIZED (
         |  SELECT vec_id,
         |    CASE WHEN h % 16 = 0 THEN 2 WHEN h % 4 = 0 THEN 1 ELSE 0 END AS lvl
         |  FROM (SELECT vec_id, $sqlH3Hash AS h FROM normed)),
         |${(0 to H4Lmax).map(sqlH3LayerEdges).mkString(",\n")},
         |${(0 to H4Lmax).map(censusSql).mkString(",\n")}
         |SELECT * FROM (
         |  SELECT * FROM c0 UNION ALL SELECT * FROM c1
         |  UNION ALL SELECT * FROM c2)
         |ORDER BY layer""".stripMargin) { (s, d) =>
      VectorExpressions.register(s)
      val dir = h4IndexDir(s, d)
      val e = Tables.embeddings(s, d)
      // the genuinely-new work: assign + level the DELTA under the
      // frozen quantizer (the persisted 16-row codebook, map-side
      // argmax — the timed path never derives index fixtures)
      val delta = e.filter(col("vec_id") % 211 === 0)
        .select(col("vec_id"), col("embedding"))
        // .limit(1) restates the bound structurally: the cents file IS
        // one row (an argless aggregate wrote it), but a bare parquet
        // scan is unbounded to CrossJoinLint's estimator — the limit
        // makes the scalar-join idiom provable again, at zero cost
        .crossJoin(broadcast(s.read.parquet(s"$dir/cents").limit(1)))
        .withColumn("best", h4Argmax(col("cents"), col("embedding")))
        .select(col("vec_id"), col("embedding"), col("best.cid").as("cid"))
        .withColumn("lvl", h4LevelCol)
      // fold through the shared admit kernel (one layer-exploded
      // plan, k-bounded heaps, verbatim carry — see [[ladderAdmit]])
      val (ln, affected, edges) = ladderAdmit(
        s.read.parquet(s"$dir/nodes"), s.read.parquet(s"$dir/edges"),
        delta)
      ladderCensus(s, ln, affected, edges, H4Lmax)
    }
  }

  // ---------------------------------------------------------- hn05
  // Incremental ladder upsert at PRODUCTION shape — hn04's affected-
  // bucket discipline generalized from the frozen 16-cell harness
  // quantizer to hn03's count-calibrated cells and runtime-derived
  // ladder depth (the gap hn04's doc named). What "production shape"
  // changes:
  //  - the frozen quantizer is COUNT-CALIBRATED from the BASE corpus:
  //    ncells = max(16, ⌈n_base/128⌉), centroids = the ncells smallest
  //    base ids re-keyed DENSE by rank (cid 0..ncells−1), so bucket
  //    arithmetic (cid div 4^l) is exactly hn03's and bucket
  //    populations stay ~128 at every layer and every corpus size —
  //    the property that makes the per-affected-bucket recompute term
  //    CONSTANT. Training never reruns on ingest; the codebook, the
  //    cell count, and lmax are all frozen index state;
  //  - assignment is the two-stage hierarchical argmax (reps → group)
  //    — per-vector cost ⌈ncells/128⌉ + 128 comparisons, never ncells
  //    — against the PERSISTED codebook: the timed path never touches
  //    the base corpus to admit a delta;
  //  - lmax = h3Lmax(ncells) is derived at build time (2 at every
  //    oracle scale — IvfSpec pins it; up to 7 at the 1000× probe),
  //    and the whole delta admission runs as ONE layer-exploded plan
  //    (hn04's byLayer), not a per-layer loop.
  // The proof obligation is hn04's: recompute layer-l edges ONLY in
  // buckets a delta node lands in, carry every other bucket verbatim,
  // and the per-layer edge count + order-independent checksum must
  // equal the full from-scratch rebuild (which is what the oracle
  // computes). Deployed cost is O(|affected buckets| · 128 · M) per
  // layer — ∝ the ingest batch, never the corpus — which is what
  // stops a daily-ingest corpus from re-paying hn03's 18-minute
  // 1000× ladder build (BENCH_1000X_hn05_r13.json is the receipt).
  // The delta selector rides `spark.graft.hn05.deltaMod` (default
  // 211, the oracle's fixed split — the growth probes, where only
  // Bench runs, override it to model sparser ingest batches).
  // keyed by (session, dir, deltaMod): the BASE SPLIT depends on the
  // delta selector, so a mid-session mod change (the sparse-ingest
  // probes) must rebuild rather than reuse a base built for another
  // split - a vector in neither base nor delta would silently vanish
  private val h5Dirs =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Long), (String, Int)]

  private val H5ModConf = "spark.graft.hn05.deltaMod"

  private def h5Mod(s: SparkSession): Long =
    s.conf.get(H5ModConf, "211").toLong

  /** Growth probes (Bench-only sessions, never oracle-compared) must
    * declare themselves to override the delta split — see [[h5OraclePin]]. */
  private val H5ProbeConf = "spark.graft.hn05.probeMode"

  /** Oracle pin (the hn03 LMAX idiom): the hn05/hn06 census SQL
    * hard-codes the `% 211` split, so a [[H5ModConf]] override on an
    * oracle-compared path must fail loudly HERE, not downstream as an
    * opaque hash mismatch. The sparse-ingest growth probes (where only
    * Bench runs) ride the override legitimately and declare it with
    * `spark.graft.hn05.probeMode=true`. */
  private def h5OraclePin(s: SparkSession): Long = {
    val mod = h5Mod(s)
    require(mod == 211L || s.conf.get(H5ProbeConf, "false").toBoolean,
      s"$H5ModConf=$mod diverges from the oracle's fixed %211 split; " +
        s"set $H5ProbeConf=true for Bench-only growth probes, or unset " +
        "the mod for oracle-compared runs")
    mod
  }

  /** The ONE hash-geometric level rule every ladder shares (oracle
    * CASE-chain twin): largest l <= lmax with h = 0 (mod 4^l), built
    * inside-out so the strongest test sits outermost. Takes the hash
    * COLUMN so callers that pre-project `h` evaluate the md5 once. */
  private def ladderLevel(h: Column, lmax: Int): Column =
    (1 to lmax).foldLeft(lit(0)) { case (els, l) =>
      when(h % math.pow(4, l).toLong === 0, lit(l)).otherwise(els)
    }

  /** Two-stage hierarchical argmax against an EXPLICIT dense-keyed
    * centroid table (cid 0.., cemb) — [[assignedDfHier]] generalized
    * to a frozen codebook that is not an id prefix of the corpus.
    * Both stages are the broadcast-array map-side idiom: stage 1
    * against the ⌈ncells/128⌉ representatives (cid ≡ 0 mod 128),
    * stage 2 against the chosen group's ≤128 centroids via a
    * broadcast equi-join on the group id. */
  private def h5HierAssign(vecs: DataFrame, cents: DataFrame): DataFrame = {
    def argmax(arr: Column, emb: Column): Column =
      array_max(transform(arr, c =>
        struct(
          VectorExpressions.cosine_similarity(emb, c.getField("cemb"))
            .as("cos_c"),
          (-c.getField("cid")).as("neg_cid"),
          c.getField("cid").as("cid"))))
    val repArr = cents.filter(col("cid") % 128 === 0)
      .agg(sort_array(collect_list(struct(col("cid"), col("cemb"))))
        .as("reps"))
    val groupArrs = cents
      .groupBy(floor(col("cid") / 128).cast(LongType).as("g"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cemb"))))
        .as("gc"))
    vecs.crossJoin(broadcast(repArr))
      .withColumn("g",
        floor(argmax(col("reps"), col("embedding")).getField("cid") / 128)
          .cast(LongType))
      .join(broadcast(groupArrs), Seq("g"))
      .withColumn("best", argmax(col("gc"), col("embedding")))
      .select(col("vec_id"), col("embedding"), col("best.cid").as("cid"))
  }

  /** Layer-explode a node table (vec_id, embedding, cid, lvl): one
    * row per (node, layer ≤ lvl) with the layer's bucket key — a node
    * at level L participates in layers 0..L (one plan for all layers;
    * the per-layer Scala loop cost 5 s in pure stage barriers). */
  private[graft] def ladderByLayer(df: DataFrame): DataFrame =
    df.withColumn("layer", explode(sequence(lit(0), col("lvl"))))
      .withColumn("bkt",
        floor(col("cid") / expr("shiftleft(1L, layer * 2)"))
          .cast(LongType))
      .select(col("layer"), col("bkt"), col("vec_id"), col("embedding"))

  /** Assign + level a delta under a frozen dense-keyed codebook — the
    * admission front door shared by hn05's batch twin and the
    * streaming face ([[graft.streaming.EventStreams]]). */
  private[graft] def ladderAssignDelta(vecs: DataFrame, cents: DataFrame,
      lmax: Int): DataFrame =
    h5HierAssign(vecs, cents).withColumn("lvl", ladderLevel(h3HashCol, lmax))

  /** Within-bucket kNN over a layer-keyed member frame, SALTED: the
    * per-(layer, src) top-k rides the k-bounded heap operator, and the
    * pair GENERATION is spread across [[H5Salt]] sub-keys — the src
    * side replicates each row once per salt, the dst side pins each
    * row to hash(dst) % S, so every (src, dst) pair is produced
    * exactly once but a hot bucket's Θ(pop²) pair block runs as S
    * tasks instead of one. AQE cannot rescue this case: skew detection
    * reads the map-side INPUT sizes, and a bucket self-join's inputs
    * are tiny while its OUTPUT is quadratic — the 1000× probe measured
    * the unsalted variant spending most of its wall-clock in a
    * single-task tail on the largest Voronoi cells. */
  private val H5Salt = 8

  private def layerKnn(ms: DataFrame, k: Int): DataFrame = {
    // The pair JOIN runs at full core width even inside a sized child
    // (r17): the salt spreads a hot bucket's Θ(pop²) pair block across
    // sub-keys, but a narrowed session width (the ladder census runs
    // at 1–2 partitions at harness scale) funnels every salted block
    // back into one task — measured as the census job's single-task
    // 1.7 s straggler stage. Conditional like Tables.fanout: only when
    // the session width is below the context parallelism (never at
    // production width, where the join's own exchange already spreads).
    // Both sides repartition on the equi keys with the SAME width, so
    // the join plans co-partitioned — no third exchange.
    val sess = ms.sparkSession
    val par = sess.sparkContext.defaultParallelism
    val widen = scala.util.Try(
      sess.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(par) < par
    val a0 = ms
      .select(col("layer"), col("bkt"), col("vec_id").as("src"),
        col("embedding").as("se"))
      .withColumn("salt", explode(lit((0 until H5Salt).toArray)))
    val b0 = ms
      .select(col("layer").as("lb"), col("bkt").as("bb"),
        col("vec_id").as("dst"), col("embedding").as("de"))
      .withColumn("salt2", pmod(hash(col("dst")), lit(H5Salt)))
    val wp = math.min(par, 2 * H5Salt)
    val a = if (widen) a0.repartition(wp, col("layer"), col("bkt"), col("salt"))
      else a0
    val b = if (widen) b0.repartition(wp, col("lb"), col("bb"), col("salt2"))
      else b0
    val pairs = a.join(b,
        col("layer") === col("lb") && col("bkt") === col("bb")
          && col("salt") === col("salt2") && col("src") =!= col("dst"))
      .select(col("layer"), col("bkt"), col("src"), col("dst"),
        VectorExpressions.cosine_similarity(col("se"), col("de"))
          .as("cos_e"))
    graft.plans.TopKPerGroup.perGroup(pairs,
      Seq(col("layer"), col("src")),
      struct(col("cos_e"), -col("dst")), k = k)
      .select(col("layer"), col("bkt"), col("src"), col("dst"))
  }

  /** The affected-bucket ADMIT kernel shared by hn04, hn05, and the
    * streaming ladder upsert: fold an assigned+leveled `delta` into a
    * stored ladder (`nodes` + per-layer bucketed `edges`), recomputing
    * layer-l edges ONLY in buckets a delta node lands in and carrying
    * every other bucket verbatim. Because bucket membership and levels
    * are pure per-node functions of the frozen quantizer, the result
    * is EXACTLY the full rebuild over base∪delta — for any batch split
    * or arrival order (a bucket's final edges are recomputed by the
    * last batch that touches it, over exactly its full membership) —
    * which is what makes the same kernel serve batch IVM and
    * micro-batched streaming ingestion unchanged.
    *
    * Per-(layer, src) top-h3M(layer) runs through the K-BOUNDED HEAP
    * operator, split by layer band for the M0 = 2M convention — a
    * row_number window here re-sorts every affected bucket's full
    * pair list (measured SLOWER than the full rebuild at the 100×
    * probe, which always used the heap path).
    *
    * Returns (ln = layer-exploded base∪delta nodes, affected buckets,
    * new edge table) — callers census or persist as they need. */
  private[graft] def ladderAdmit(nodes: DataFrame, edges: DataFrame,
      delta: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // ONE kernel: the recompute half delegates to [[ladderRecompute]]
    // (hn05/hn06/streaming run it verbatim), so the band convention
    // and the rec symmetrization can never fork between the faces;
    // this face adds the carry and the census's layer-exploded frame
    // (a map-side pass its one aggregate reader streams — the old
    // pinned full-ln was a heavier materialization for the same read)
    val all = nodes.unionByName(delta)
    val (_, affected, rec) = ladderRecompute(all, delta)
    val carried = edges
      .join(broadcast(affected), Seq("layer", "bkt"), "left_anti")
      .select(col("layer"), col("bkt"), col("src"), col("dst"))
    (ladderByLayer(all), affected, carried.unionByName(rec))
  }

  /** The O(delta-bucket-mass) half of the admit/delete: recompute
    * layer-l edges over EXACTLY the affected buckets' membership and
    * never build (or carry) anything index-sized — callers own the
    * carry, which under the (layer, bucket-group)-partitioned edge
    * store ([[h5EdgeGrp]]) never moves on disk, and own the census,
    * which the per-bucket summaries answer in O(buckets)
    * ([[summaryCensus]]). `nodes` is every node that survives the
    * operation (base ∪ delta for an admit, base ∖ deleted for a
    * delete); `touched` is the node set whose buckets are affected
    * (the delta / the deleted). The one remaining corpus-order term is
    * a single map-side explode+semi-join pass over the node table to
    * FETCH affected members — a scan, never a shuffle, a write, or a
    * persist. Returns (pinned members — caller unpersists, affected
    * buckets, recomputed edges). */
  private[graft] def ladderRecompute(nodes: DataFrame, touched: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val affected = ladderByLayer(touched)
      .select(col("layer"), col("bkt")).distinct()
    val members = ladderByLayer(nodes)
      .join(broadcast(affected), Seq("layer", "bkt"), "left_semi")
      .pinned // four readers: two layerKnn bands × two join sides
    // (r17 probe: eagerly forcing the pin with members.count() before
    // the census measured NET NEGATIVE on the trio — hn05 0.91x /
    // hn06 0.81x WITHOUT it vs 1.09x for hn04 — the block manager
    // already serializes concurrent first readers of a computing
    // cached partition, so the extra job mostly adds a barrier;
    // reverted, probe recorded here)
    val knn = layerKnn(members.filter(col("layer") === 0), 2 * HnM)
      .unionByName(layerKnn(members.filter(col("layer") > 0), HnM))
    val rec = knn.union(knn.select(col("layer"), col("bkt"),
      col("dst").as("src"), col("src").as("dst"))).distinct()
    (members, affected, rec)
  }

  /** In-place O(delta) edge-store upsert: dynamic-partition-overwrite
    * ONLY the (layer, egrp) partitions the affected buckets live in,
    * with a partition-LOCAL carry (the affected partitions' other
    * buckets ride along verbatim; every unaffected partition is never
    * read, never rewritten). The affected-partition list collects to
    * the driver (bounded by the delta's bucket count) so the carry
    * read prunes STATICALLY — no reliance on runtime DPP. The carried
    * ∪ recomputed frame local-checkpoints before the write because
    * Spark refuses to overwrite a path that feeds the writing plan;
    * eager materialization of a delta-bucket-sized frame is the cost.
    * Idempotent under replay at any crash point: a partition's final
    * content is a pure function of the affected buckets' full
    * membership, re-deriving the carry from an already-overwritten
    * partition anti-joins the recomputed rows right back out, and the
    * emptied-partition delete below is a no-op the second time.
    *
    * EMPTIED partitions are deleted explicitly: dynamic overwrite only
    * replaces partitions PRESENT in the written frame, so an affected
    * partition whose post-operation content is zero rows (a deletion
    * that kills every edge-bearing bucket in its group — possible
    * whenever a group holds one bucket, the small-corpus layout) would
    * otherwise keep its stale files and silently diverge from the
    * from-scratch rebuild. */
  private[graft] def ladderEdgeUpsert(s: SparkSession, path: String,
      affected: DataFrame, rec: DataFrame): Unit = {
    val parts = affected
      .select(col("layer"), h5EdgeGrp(col("bkt")).as("egrp")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    if (parts.isEmpty) return
    val partCond = parts.map { case (l, g) =>
      col("layer") === l && col("egrp") === g }.reduce(_ || _)
    val carried = s.read.parquet(path)
      .filter(partCond) // literal partition predicate → static pruning
      .join(broadcast(affected), Seq("layer", "bkt"), "left_anti")
      .select(col("layer"), col("egrp"), col("bkt"), col("src"), col("dst"))
    val out = graft.Pin.cut(carried
      .unionByName(rec.withColumn("egrp", h5EdgeGrp(col("bkt")))
        .select(col("layer"), col("egrp"), col("bkt"), col("src"), col("dst")))
      // cluster by target partition (one writing task per dir — the
      // small-file guard the base build documents), then materialize
      // out of the plan so the overwrite doesn't read its own output
      // (graft.Pin.cut: reliable checkpoint when a checkpoint dir is
      // set — the cluster-grade seam — local blocks otherwise)
      .repartition(col("layer"), col("egrp")))
    val written = out.select(col("layer"), col("egrp")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("layer", "egrp").parquet(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    parts.filterNot(written).foreach { case (l, g) =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/layer=$l/egrp=$g"),
        true); ()
    }
  }

  /** Census over the POST-operation ladder computed from per-bucket
    * summaries instead of index-sized frames: unaffected buckets'
    * contributions come from the stored (layer, bkt) aggregates —
    * node counts in `nsum`, edge counts + modular checksums in `esum`
    * (both additive, both bucket-pure) — affected buckets' old
    * contributions subtract out, and the recompute's add in. Every
    * frame here is O(#buckets + #delta), so the census no longer
    * scans the node or edge table at all; the values are EXACTLY
    * [[ladderCensus]]'s over the materialized result (the oracle
    * proves it per run). `nodeDelta` carries one (layer, bkt) row per
    * node added/removed; `bucketDelta` one row per bucket created
    * (admit: affected ∖ nsum) or emptied (delete: affected ∖ surviving
    * members); `sign` is +1 for an admit, −1 for a delete. */
  private def summaryCensus(s: SparkSession, lmax: Int,
      nsum: DataFrame, esum: DataFrame, affected: DataFrame,
      rec: DataFrame, nodeDelta: DataFrame, bucketDelta: DataFrame,
      sign: Int): DataFrame = {
    // ONE union-tall aggregation (r17) instead of seven per-source
    // aggregates broadcast-joined onto a layer anchor: every census
    // term is a per-layer COUNT or SUM, both of which commute with the
    // union, so each source projects the metric columns (zeros
    // elsewhere), the 0..lmax anchor rides the union as all-zero rows,
    // and a single groupBy(layer) produces identical values (absent
    // sources contribute the zeros the old left-join coalesce did).
    // The joined form's seven broadcast builds each paid a driver
    // barrier AND raced one another to evaluate the shared pinned
    // delta/members frames before their caches populated (guide §2.4
    // — operations keyed the same way share one exchange).
    val metricNames =
      Seq("bn", "bb", "be", "bc", "dn", "db", "na", "ae", "ac", "re", "rc")
    def tallRow(df: DataFrame, cols: Map[String, Column]): DataFrame =
      df.select((col("layer").cast(IntegerType).as("layer") +:
        metricNames.map(m =>
          cols.getOrElse(m, lit(0L)).cast(LongType).as(m))): _*)
    val anchor = s.range(0, lmax + 1).select(col("id").as("layer"))
    val tall = tallRow(anchor, Map.empty)
      .unionByName(tallRow(nsum, Map("bn" -> col("n"), "bb" -> lit(1L))))
      .unionByName(tallRow(esum, Map("be" -> col("n_edges"), "bc" -> col("chk"))))
      .unionByName(tallRow(nodeDelta, Map("dn" -> lit(1L))))
      .unionByName(tallRow(bucketDelta, Map("db" -> lit(1L))))
      .unionByName(tallRow(affected, Map("na" -> lit(1L))))
      .unionByName(tallRow(
        esum.join(broadcast(affected), Seq("layer", "bkt"), "left_semi"),
        Map("ae" -> col("n_edges"), "ac" -> col("chk"))))
      .unionByName(tallRow(rec, Map("re" -> lit(1L),
        "rc" -> (col("src") * lit(1000003L) + col("dst")) % lit(1000000007L))))
    val agg = tall.groupBy(col("layer"))
      .agg(sum(col(metricNames.head)).as(metricNames.head),
        metricNames.tail.map(m => sum(col(m)).as(m)): _*)
    agg
      .withColumn("n_nodes", col("bn") + lit(sign.toLong) * col("dn"))
      .withColumn("n_buckets", col("bb") + lit(sign.toLong) * col("db"))
      .withColumn("n_edges", col("be") - col("ae") + col("re"))
      // NULL (not 0) when the layer ends with zero edges — the shape
      // the oracle's SUM-over-empty produces and ladderCensus kept
      .withColumn("edge_sum",
        when(col("n_edges") === 0, lit(null).cast(LongType))
          .otherwise(col("bc") - col("ac") + col("rc")))
      .withColumn("n_affected", col("na"))
      .select(col("layer"), col("n_nodes"), col("n_buckets"),
        col("n_affected"), col("n_edges"), col("edge_sum"))
      .orderBy("layer")
  }

  /** The per-layer census both upsert queries report: node/bucket/
    * affected counts plus the edge count and order-independent edge
    * checksum, anchored on the full 0..lmax layer list (a degenerate
    * corpus can leave a layer with zero nodes or edges and the oracle
    * still emits its row — an inner join would drop it). */
  private def ladderCensus(s: SparkSession, ln: DataFrame,
      affected: DataFrame, edges: DataFrame, lmax: Int): DataFrame = {
    // Union-tall + one groupBy(layer) (r17 — [[summaryCensus]]'s
    // collapse): the three broadcast-joined aggregates each paid a
    // driver barrier and their concurrent builds raced to evaluate
    // ln/edges. countDistinct over the tag-restricted bkt ignores the
    // null bkt of non-node rows, so the values are exactly the joined
    // form's; the 0..lmax anchor keeps degenerate layers in the output
    // (all-zero counts, NULL edge_sum — the old left-join shape).
    def t(df: DataFrame, tag: String, bkt: Column, chk: Column): DataFrame =
      df.select(col("layer").cast(IntegerType).as("layer"),
        bkt.cast(LongType).as("bkt"), lit(tag).as("tag"),
        chk.cast(LongType).as("chk"))
    val nullL = lit(null).cast(LongType)
    val tall = t(ln, "n", col("bkt"), nullL)
      .unionByName(t(edges, "e", nullL,
        (col("src") * lit(1000003L) + col("dst")) % lit(1000000007L)))
      .unionByName(t(affected, "a", nullL, nullL))
      .unionByName(t(s.range(0, lmax + 1).withColumnRenamed("id", "layer"),
        "z", nullL, nullL))
    tall.groupBy(col("layer"))
      .agg(
        coalesce(sum(when(col("tag") === "n", 1L)), lit(0L)).as("n_nodes"),
        countDistinct(when(col("tag") === "n", col("bkt"))).as("n_buckets"),
        coalesce(sum(when(col("tag") === "a", 1L)), lit(0L)).as("n_affected"),
        coalesce(sum(when(col("tag") === "e", 1L)), lit(0L)).as("n_edges"),
        sum(when(col("tag") === "e", col("chk"))).as("edge_sum"))
      .select(col("layer"), col("n_nodes"), col("n_buckets"),
        col("n_affected"), col("n_edges"), col("edge_sum"))
      .orderBy("layer")
  }

  /** Edge-store bucket groups: the stored ladder's edge table is
    * partitioned by (layer, egrp = bkt % [[H5EdgeGroups]]) so an
    * incremental upsert can dynamic-partition-overwrite EXACTLY the
    * partitions its affected buckets live in — the carry side never
    * moves on disk and is never rewritten. 512 bounds the directory
    * fan-out (≤ 512 per layer; small corpora produce one dir per
    * bucket) while keeping a sparse delta's touched-partition set
    * ≈ its touched-bucket set. */
  private[graft] val H5EdgeGroups = 512

  private[graft] def h5EdgeGrp(bkt: Column): Column =
    pmod(bkt, lit(H5EdgeGroups.toLong)).cast(IntegerType)

  /** Build + persist the production-shape BASE ladder once per
    * (session, sf dir, delta-mod): the frozen dense-keyed codebook,
    * base nodes (id, embedding, cell, level), per-layer bucketed edges
    * partitioned by (layer, bucket-group) for O(delta) incremental
    * overwrites, per-(layer, bucket) node/edge SUMMARIES (counts +
    * order-independent checksums — what lets the census read
    * O(buckets) instead of O(edges)), and the staged ingest batch
    * (`delta_src`) — production ingest arrives as a small batch file;
    * scanning the standing corpus to re-discover the delta would
    * charge an O(corpus) pass to the operator that exists to avoid
    * one. Returns (dir, lmax) — lmax is frozen index state, derived
    * from the BASE count. */
  def h5IndexDir(s: SparkSession, d: String): (String, Int) =
    h5Dirs.synchronized {
      h5Dirs.getOrElseUpdate((s, d, h5Mod(s)), {
        val dir = graft.Scratch.dir("graft_hn05_")
        var lmax = 0
        graft.Phases.timed("hn05_ladder_upsert", "setup") {
          VectorExpressions.register(s)
          val mod = h5Mod(s)
          val base = Tables.embeddings(s, d)
            .filter(col("vec_id") % mod =!= 0)
            .select(col("vec_id"), col("embedding"))
          val nBase = base.count()
          val ncells = math.max(16L, (nBase + 127L) / 128L)
          lmax = h3Lmax(ncells)
          // frozen codebook: ncells smallest base ids re-keyed dense
          // by rank (TakeOrdered heap, then a window over ncells rows)
          base.orderBy("vec_id").limit(ncells.toInt)
            .withColumn("cid",
              (row_number().over(Window.orderBy("vec_id")) - 1)
                .cast(LongType))
            .select(col("cid"), col("embedding").as("cemb"))
            .write.mode("overwrite").parquet(s"$dir/cents")
          val cents = s.read.parquet(s"$dir/cents")
          h5HierAssign(base, cents)
            .withColumn("lvl", ladderLevel(h3HashCol, lmax))
            .write.mode("overwrite").parquet(s"$dir/nodes")
          val nodes = s.read.parquet(s"$dir/nodes")
          (0 to lmax).map { l =>
            val div = math.pow(4, l).toLong
            h4LayerEdges(nodes.filter(col("lvl") >= l)
              .withColumn("bkt",
                floor(col("cid") / div).cast(LongType)), l)
              .withColumn("layer", lit(l))
          }.reduce(_ unionByName _)
            .withColumn("egrp", h5EdgeGrp(col("bkt")))
            // cluster rows by their target partition before the
            // partitioned write: without this every write task emits a
            // file into every (layer, egrp) dir it sees — tasks ×
            // partitions small files (measured 570 s vs 48 s setup at
            // the 100× probe); hashed together, each dir is written by
            // exactly one task
            .repartition(col("layer"), col("egrp"))
            .write.mode("overwrite").partitionBy("layer", "egrp")
            .parquet(s"$dir/edges")
          // per-(layer, bucket) summaries: node counts, edge counts +
          // modular checksums. Both are pure per-bucket aggregates, so
          // an upsert maintains the census by SUBTRACTING the affected
          // buckets' stored rows and ADDING the recompute's — no full
          // node explode, no full edge scan on the timed path.
          ladderByLayer(nodes).groupBy(col("layer"), col("bkt"))
            .agg(count(lit(1)).as("n"))
            .write.mode("overwrite").parquet(s"$dir/nsum")
          s.read.parquet(s"$dir/edges").groupBy(col("layer"), col("bkt"))
            .agg(count(lit(1)).as("n_edges"),
              sum((col("src") * lit(1000003L) + col("dst"))
                % lit(1000000007L)).cast(LongType).as("chk"))
            .write.mode("overwrite").parquet(s"$dir/esum")
          // the staged ingest batch the timed path admits
          Tables.embeddings(s, d).filter(col("vec_id") % mod === 0)
            .select(col("vec_id"), col("embedding"))
            .write.mode("overwrite").parquet(s"$dir/delta_src")
        }
        (dir, lmax)
      })
    }

  val hn05LadderUpsert: GraftQuery = {
    val LMAX = 2 // the oracle's unroll depth (IvfSpec pins it)
    def censusSql(l: Int): String = {
      val div = math.pow(4, l).toLong
      s"""c$l AS (
         |  SELECT $l AS layer,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ln$l) AS n_nodes,
         |    (SELECT CAST(COUNT(DISTINCT bkt) AS BIGINT) FROM ln$l) AS n_buckets,
         |    (SELECT CAST(COUNT(DISTINCT a.cid // $div) AS BIGINT)
         |     FROM assigned a JOIN lvl ON lvl.vec_id = a.vec_id
         |       AND lvl.lvl >= $l
         |     WHERE a.vec_id % 211 = 0) AS n_affected,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM e$l) AS n_edges,
         |    (SELECT CAST(SUM((src * 1000003 + dst) % 1000000007) AS BIGINT) FROM e$l)
         |      AS edge_sum)""".stripMargin
    }
    q("hn05_ladder_upsert",
      "incremental HNSW-ladder upsert at production shape: count-calibrated frozen quantizer, hierarchical delta assignment, affected-bucket rebuild ≡ full rebuild (edge checksum)",
      s"""WITH normed AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, SQRT(${sqlNorm2("e")}) AS nrm
         |  FROM embeddings e),
         |params AS MATERIALIZED (
         |  SELECT GREATEST(16, CAST(CEIL(COUNT(*) / 128.0) AS BIGINT)) AS ncells
         |  FROM embeddings WHERE vec_id % 211 <> 0),
         |cents AS MATERIALIZED (
         |  SELECT rk - 1 AS cid, embedding, nrm AS cnrm FROM (
         |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rk, embedding, nrm
         |    FROM normed WHERE vec_id % 211 <> 0) b, params
         |  WHERE rk <= ncells),
         |coarse AS MATERIALIZED (
         |  SELECT vec_id, g FROM (
         |    SELECT v.vec_id, r.cid // 128 AS g,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${sqlDot("v", "r")} / (v.nrm * r.cnrm) DESC, r.cid) AS rr
         |    FROM normed v CROSS JOIN cents r WHERE r.cid % 128 = 0)
         |  WHERE rr = 1),
         |scored0 AS (
         |  SELECT v.vec_id, c.cid,
         |    ${sqlDot("v", "c")} / (v.nrm * c.cnrm) AS cos_c
         |  FROM normed v JOIN coarse ON coarse.vec_id = v.vec_id
         |  JOIN cents c ON c.cid // 128 = coarse.g),
         |scored AS (
         |  SELECT vec_id, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY cos_c DESC, cid) AS rc
         |  FROM scored0),
         |assigned AS MATERIALIZED (
         |  SELECT vec_id, cid FROM scored WHERE rc = 1),
         |lvl AS MATERIALIZED (
         |  SELECT vec_id,
         |    CASE WHEN h % 16 = 0 THEN 2 WHEN h % 4 = 0 THEN 1 ELSE 0 END AS lvl
         |  FROM (SELECT vec_id, $sqlH3Hash AS h FROM normed)),
         |${(0 to LMAX).map(sqlH3LayerEdges).mkString(",\n")},
         |${(0 to LMAX).map(censusSql).mkString(",\n")}
         |SELECT * FROM (
         |  SELECT * FROM c0 UNION ALL SELECT * FROM c1
         |  UNION ALL SELECT * FROM c2)
         |ORDER BY layer""".stripMargin) { (s, d) =>
      VectorExpressions.register(s)
      h5OraclePin(s)
      val (dir, lmax) = h5IndexDir(s, d)
      // the genuinely-new work: hierarchically assign + level the
      // DELTA under the persisted frozen codebook — the timed path
      // reads the staged ingest batch (production shape: a delta
      // ARRIVES as a small batch file, nobody rescans the standing
      // corpus to find it) and ncells codebook rows — then recompute
      // edges over exactly the affected buckets' membership
      // ([[ladderRecompute]], the same kernel the streaming face
      // runs) and answer the census from the per-bucket summaries
      // ([[summaryCensus]]): O(delta-bucket mass + #buckets), with
      // one map-side member-fetch pass over the node table as the
      // only corpus-order term.
      val delta = ladderAssignDelta(s.read.parquet(s"$dir/delta_src"),
        s.read.parquet(s"$dir/cents"), lmax).pinned
      try {
        val nodes = s.read.parquet(s"$dir/nodes")
        val nsum = s.read.parquet(s"$dir/nsum")
        val (members, affected, rec) =
          ladderRecompute(nodes.unionByName(delta), delta)
        try {
          LadderGuard.check(s, "hn05_ladder_upsert",
            members.count(),
            nsum.agg(sum(col("n"))).head().getLong(0)
              + ladderByLayer(delta).count())
          // the census is O(lmax) rows — materialize it EAGERLY so the
          // pinned members/delta frames can unpersist in the finally
          // blocks (the streaming face's discipline; without this a
          // 258-query sweep / min-of-5 bench accumulates executor
          // cache it never releases). Bench times build+force
          // together, so moving the work to build time is
          // timing-neutral.
          summaryCensus(s, lmax, nsum, s.read.parquet(s"$dir/esum"),
            affected, rec,
            nodeDelta = ladderByLayer(delta).select(col("layer"), col("bkt")),
            bucketDelta = affected
              .join(broadcast(nsum), Seq("layer", "bkt"), "left_anti"),
            sign = 1).localCheckpoint(true)
        } finally { members.unpersist(); () }
      } finally { delta.unpersist(); () }
    }
  }

  // ---------------------------------------------------------- hn06
  /** LADDER DELETION — the other half of production index maintenance
    * (hn04/hn05/ladderUpsert are insert-only IVM). Removing a vector
    * set from the persisted hn05 ladder rides the SAME affected-bucket
    * discipline, with membership shrinking instead of growing: the
    * affected buckets are exactly the deleted nodes' (layer, bucket)
    * pairs (an edge lives strictly inside its bucket, so every edge
    * that must die or change is in one), layer-l edges recompute over
    * the SURVIVING members of those buckets, every other bucket
    * carries verbatim — and the result is EXACTLY the from-scratch
    * rebuild over base ∖ deleted, which is what the oracle computes
    * under the FROZEN base codebook (deletion never retrains, the same
    * way ingestion never does). The census is [[summaryCensus]] with
    * sign = −1: deleted nodes subtract from the stored per-bucket node
    * counts, and a bucket whose members ALL die leaves n_buckets (the
    * recompute emits no row for it — structurally, not by special
    * case). IvfSpec pins the algebra: delete ∘ insert ≡ identity on
    * the per-layer edge checksum over the partitioned edge store.
    *
    * The deleted set reads from the PERSISTED node table — a deletion
    * names indexed ids; it never touches the corpus, the codebook, or
    * any unaffected bucket. Deployed cost is O(affected-bucket mass),
    * the hn05 bound, and [[LadderGuard]] fail-fasts a mass-heavy
    * deletion the same way it guards a dense ingest. */
  val hn06LadderDelete: GraftQuery = {
    val LMAX = 2 // the oracle's unroll depth (IvfSpec pins it)
    val DelRes = 105L // deleted = base nodes with vec_id % 211 == 105
    def censusSql(l: Int): String = {
      val div = math.pow(4, l).toLong
      s"""c$l AS (
         |  SELECT $l AS layer,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ln$l) AS n_nodes,
         |    (SELECT CAST(COUNT(DISTINCT bkt) AS BIGINT) FROM ln$l) AS n_buckets,
         |    (SELECT CAST(COUNT(DISTINCT da.cid // $div) AS BIGINT)
         |     FROM delass da JOIN lvl ON lvl.vec_id = da.vec_id
         |       AND lvl.lvl >= $l) AS n_affected,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM e$l) AS n_edges,
         |    (SELECT CAST(SUM((src * 1000003 + dst) % 1000000007) AS BIGINT) FROM e$l)
         |      AS edge_sum)""".stripMargin
    }
    q("hn06_ladder_delete",
      "incremental HNSW-ladder DELETION: affected-bucket edge recompute over surviving members ≡ full rebuild on base∖deleted (edge checksum); delete∘insert ≡ identity",
      s"""WITH normed AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, SQRT(${sqlNorm2("e")}) AS nrm
         |  FROM embeddings e),
         |params AS MATERIALIZED (
         |  SELECT GREATEST(16, CAST(CEIL(COUNT(*) / 128.0) AS BIGINT)) AS ncells
         |  FROM embeddings WHERE vec_id % 211 <> 0),
         |cents AS MATERIALIZED (
         |  SELECT rk - 1 AS cid, embedding, nrm AS cnrm FROM (
         |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rk, embedding, nrm
         |    FROM normed WHERE vec_id % 211 <> 0) b, params
         |  WHERE rk <= ncells),
         |coarse AS MATERIALIZED (
         |  SELECT vec_id, g FROM (
         |    SELECT v.vec_id, r.cid // 128 AS g,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${sqlDot("v", "r")} / (v.nrm * r.cnrm) DESC, r.cid) AS rr
         |    FROM normed v CROSS JOIN cents r
         |    WHERE r.cid % 128 = 0 AND v.vec_id % 211 <> 0)
         |  WHERE rr = 1),
         |scored0 AS (
         |  SELECT v.vec_id, c.cid,
         |    ${sqlDot("v", "c")} / (v.nrm * c.cnrm) AS cos_c
         |  FROM normed v JOIN coarse ON coarse.vec_id = v.vec_id
         |  JOIN cents c ON c.cid // 128 = coarse.g),
         |scored AS (
         |  SELECT vec_id, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY cos_c DESC, cid) AS rc
         |  FROM scored0),
         |assignedb AS MATERIALIZED (
         |  SELECT vec_id, cid FROM scored WHERE rc = 1),
         |assigned AS MATERIALIZED (
         |  SELECT vec_id, cid FROM assignedb WHERE vec_id % 211 <> $DelRes),
         |delass AS MATERIALIZED (
         |  SELECT vec_id, cid FROM assignedb WHERE vec_id % 211 = $DelRes),
         |lvl AS MATERIALIZED (
         |  SELECT vec_id,
         |    CASE WHEN h % 16 = 0 THEN 2 WHEN h % 4 = 0 THEN 1 ELSE 0 END AS lvl
         |  FROM (SELECT vec_id, $sqlH3Hash AS h FROM normed)),
         |${(0 to LMAX).map(sqlH3LayerEdges).mkString(",\n")},
         |${(0 to LMAX).map(censusSql).mkString(",\n")}
         |SELECT * FROM (
         |  SELECT * FROM c0 UNION ALL SELECT * FROM c1
         |  UNION ALL SELECT * FROM c2)
         |ORDER BY layer""".stripMargin) { (s, d) =>
      VectorExpressions.register(s)
      h5OraclePin(s)
      val (dir, lmax) = h5IndexDir(s, d)
      val nodes = s.read.parquet(s"$dir/nodes")
      // the deletion names INDEXED ids: both the deleted rows (with
      // their stored cell + level — no re-assignment, no codebook
      // read) and the survivors come from the persisted node table
      val del = nodes.filter(col("vec_id") % 211 === DelRes)
      val remaining = nodes.filter(col("vec_id") % 211 =!= DelRes)
      val nsum = s.read.parquet(s"$dir/nsum")
      val (members, affected, rec) = ladderRecompute(remaining, del)
      try {
        // post-operation mass on BOTH guard sides (survivor members ÷
        // surviving total) — the population convention every caller
        // shares; summaries make it O(buckets): stored mass − deleted
        // exploded mass
        LadderGuard.check(s, "hn06_ladder_delete",
          members.count(),
          nsum.agg(sum(col("n"))).head().getLong(0)
            - ladderByLayer(del).count())
        // a bucket whose members ALL died: affected but absent from the
        // surviving member set — it leaves the bucket census
        val emptied = affected.join(
          members.select(col("layer"), col("bkt")).distinct(),
          Seq("layer", "bkt"), "left_anti")
        // eager O(lmax)-row materialization so the pinned members frame
        // unpersists here (hn05's discipline — see its comment)
        summaryCensus(s, lmax, nsum, s.read.parquet(s"$dir/esum"),
          affected, rec,
          nodeDelta = ladderByLayer(del).select(col("layer"), col("bkt")),
          bucketDelta = emptied,
          sign = -1).localCheckpoint(true)
      } finally { members.unpersist(); () }
    }
  }

  /** Shared text/kernel builders for the PQ family (pq01–pq05): the
    * quantized-space SQL primitives, the qv/qvn/cents/asg oracle
    * scaffolding, the codes/ADC join shapes, and the ADC-shortlist →
    * exact-rerank tail — hoisted so the queries can never fork on the
    * conventions they share (the [[sqlH3LayerEdges]] precedent).
    * Pure-text refactor: every string below is byte-identical to the
    * per-query originals it replaced (pq01–pq04 oracle rows proved
    * unchanged at all three SFs). */
  private object PqSql {
    val M = 4 // subspaces
    val K = 8 // codewords per subspace
    val SUB = Dim / M // dims per subspace
    val NQ = 3 // query prefix
    val C = 20 // ADC shortlist size fed to the exact rerank
    def sqlQDot(a: String, b: String): String =
      (1 to Dim).map(i => s"$a.q[$i] * $b.q[$i]").mkString("(", " + ", ")")
    def sqlQN2(a: String): String =
      (1 to Dim).map(i => s"$a.q[$i] * $a.q[$i]").mkString("(", " + ", ")")
    def sqlQCos(a: String, b: String): String =
      s"CAST(${sqlQDot(a, b)} AS DOUBLE) / (SQRT(CAST($a.n2 AS DOUBLE)) * SQRT(CAST($b.n2 AS DOUBLE)))"
    // Σ (v.q[i] − c.q[i])² over subspace m, unrolled — int64-exact
    def sqlSubDist(v: String, c: String, m: Int): String =
      (m * SUB + 1 to (m + 1) * SUB).map(i =>
        s"($v.q[$i] - $c.q[$i]) * ($v.q[$i] - $c.q[$i])")
        .mkString("(", " + ", ")")
    // Σ (v.r_i − c.r_i)² over subspace m — residual-column variant
    def sqlRDist(v: String, c: String, m: Int): String =
      (m * SUB + 1 to (m + 1) * SUB).map(i =>
        s"($v.r$i - $c.r$i) * ($v.r$i - $c.r$i)")
        .mkString("(", " + ", ")")
    /** corpus residuals + the dense-rekeyed residual codebook (pq04's
      * convention: seeds skip the coarse centroids, whose own residual
      * is the zero vector). */
    def sqlResidual: String =
      s"""res AS MATERIALIZED (
         |  SELECT v.vec_id, a.cid,
         |    ${(1 to Dim).map(i => s"v.q[$i] - c.q[$i] AS r$i").mkString(", ")}
         |  FROM qv v JOIN asg a ON a.vec_id = v.vec_id
         |  JOIN cents c ON c.cid = a.cid),
         |cbr AS MATERIALIZED (
         |  SELECT vec_id - $CELLS AS k, ${(1 to Dim).map(i => s"r$i").mkString(", ")} FROM res
         |  WHERE vec_id >= $CELLS AND vec_id < ${CELLS + K})""".stripMargin
    /** qv → qvn → cents → asg: quantize, norm, seed cells, probe-1
      * coarse assignment (ties → smallest cid). */
    def sqlPrefix: String =
      s"""qv AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding,
         |    e -> CAST(ROUND(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS q
         |  FROM embeddings),
         |qvn AS MATERIALIZED (
         |  SELECT vec_id, q, ${sqlQN2("qv")} AS n2 FROM qv),
         |cents AS MATERIALIZED (
         |  SELECT vec_id AS cid, q, n2 FROM qvn WHERE vec_id < $CELLS),
         |asg0 AS (
         |  SELECT v.vec_id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${sqlQCos("v", "c")} DESC, c.cid) AS rc
         |  FROM qvn v CROSS JOIN cents c),
         |asg AS MATERIALIZED (SELECT vec_id, cid FROM asg0 WHERE rc = 1)""".stripMargin
    /** per-subspace argmin encode CTEs against `book(m)` (a shared
      * book for the seeded/residual variants, per-subspace trained
      * books for pq03), with the family's distance text plugged per
      * variant. */
    def sqlCodesCtes(src: String, book: Int => String,
        dist: (String, String, Int) => String): String =
      (0 until M).map { m =>
        s"""codes$m AS MATERIALIZED (
           |  SELECT vec_id, k AS code$m FROM (
           |    SELECT v.vec_id, c.k,
           |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
           |        ORDER BY ${dist("v", "c", m)} ASC, c.k) AS r
           |    FROM $src v CROSS JOIN ${book(m)} c) WHERE r = 1)""".stripMargin
      }.mkString(",\n")
    /** the M per-subspace code columns zipped into one row per vector */
    def sqlCodes: String =
      s"""codes AS MATERIALIZED (
         |  SELECT codes0.vec_id, ${(0 until M).map(m => s"code$m").mkString(", ")}
         |  FROM codes0 ${(1 until M).map(m => s"JOIN codes$m USING (vec_id)").mkString(" ")})""".stripMargin
    /** ADC lookup joins against a single shared-key qd table. */
    def sqlQdJoins: String = (1 until M).map(m =>
      s"JOIN qd q$m ON q$m.query_id = q0.query_id AND q$m.k = x.code$m")
      .mkString("\n  ")
    /** top-C-by-ADC shortlist over cand0 (probe-1's per-query cut). */
    def sqlShortlist: String =
      s"""shortlist AS (
         |  SELECT query_id, cand_id, adc FROM (
         |    SELECT query_id, cand_id, adc,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY adc, cand_id) AS rc
         |    FROM cand0) WHERE rc <= $C)""".stripMargin
    /** exact rerank of a `shortlist` CTE on the raw quantized vectors
      * → final top-5 readout. */
    def sqlRerank: String =
      s"""rer AS (
         |  SELECT t.query_id, t.cand_id, t.adc,
         |    ${sqlQCos("vq", "vc")} AS qcos
         |  FROM shortlist t
         |  JOIN qvn vq ON vq.vec_id = t.query_id
         |  JOIN qvn vc ON vc.vec_id = t.cand_id)
         |SELECT query_id, cand_id, adc, qcos, rn FROM (
         |  SELECT query_id, cand_id, adc, qcos,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY qcos DESC, cand_id) AS BIGINT) AS rn
         |  FROM rer) WHERE rn <= 5
         |ORDER BY query_id, rn""".stripMargin
    /** shortlist (top-C by ADC over cand0) → exact rerank on the raw
      * quantized vectors → final top-5 readout. */
    def sqlTail: String = s"$sqlShortlist,\n$sqlRerank"
  }

  /** exact int64 dot of two quantized vectors (left-associated fold —
    * the hash-proven chain every quantized query shares). */
  private def qdotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** one IEEE divide of exact integers — bit-identical across engines */
  private def qcosCol(da: Column, na: Column, nb: Column): Column =
    da.cast(DoubleType) /
      (sqrt(na.cast(DoubleType)) * sqrt(nb.cast(DoubleType)))

  /** Σ (v−c)² over subspace m of two Dim-length quantized arrays */
  private def pqSubDist(vq: Column, cq: Column, m: Int): Column =
    aggregate(
      zip_with(slice(vq, m * PqSql.SUB + 1, PqSql.SUB),
        slice(cq, m * PqSql.SUB + 1, PqSql.SUB),
        (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** ONE broadcast row of seed (cid, cq, cn2) structs — the quantized
    * centroid array [[pqCoarseAsg]] argmaxes over and pq05's
    * multi-probe ranks over. */
  private def pqCentArr(qv: DataFrame): DataFrame =
    qv.filter(col("vec_id") < CELLS)
      .agg(sort_array(collect_list(struct(col("vec_id").as("cid"),
        col("q").as("cq"), col("n2").as("cn2")))).as("cents"))

  /** Coarse probe-1 assignment in the quantized space: per-row argmax
    * over [[pqCentArr]] — assignedDf's idiom (zero corpus shuffle;
    * ties to the smallest cid). Callers that also rank cells (pq05's
    * multi-probe) pass the centArr they already built so the 1-row
    * aggregate runs once. */
  private def pqCoarseAsg(qv: DataFrame): DataFrame =
    pqCoarseAsgOver(qv, pqCentArr(qv))

  private def pqCoarseAsgOver(qv: DataFrame, centArr: DataFrame): DataFrame = {
    qv.crossJoin(broadcast(centArr))
      .withColumn("best", array_max(transform(col("cents"), c =>
        struct(
          qcosCol(qdotCol(col("q"), c.getField("cq")), col("n2"),
            c.getField("cn2")).as("cos_c"),
          (-c.getField("cid")).as("neg_cid"),
          c.getField("cid").as("cid")))))
      .select(col("vec_id"), col("best.cid").as("cid"))
  }

  /** Seeded codebook: one broadcast row of k-sorted (k, subvector
    * source) structs — pq01's convention, shared by pq02. */
  private def pqSeedBooks(qv: DataFrame): DataFrame =
    qv.filter(col("vec_id") < PqSql.K)
      .agg(sort_array(collect_list(struct(
        col("vec_id").cast(IntegerType).as("k"), col("q").as("cq"))))
        .as("cbs"))

  /** PQ encode (pq01's map-side shape): shared broadcast codebook,
    * per-row argmin per subspace. */
  private def pqEncode(qv: DataFrame, cbArr: DataFrame): DataFrame =
    qv.crossJoin(broadcast(cbArr)).select(
      col("vec_id") +:
        (0 until PqSql.M).map(m => array_min(transform(col("cbs"), c =>
          struct(pqSubDist(col("q"), c.getField("cq"), m).as("dist"),
            c.getField("k").as("k"))))
          .getField("k").as(s"code$m")): _*)

  /** residuals: v − centroid(cell(v)), one 16-row broadcast fetch —
    * exact int64 on the ×1000 grid (a difference of integers). */
  private def pqResiduals(qv: DataFrame, asg: DataFrame): DataFrame = {
    val centQ = qv.filter(col("vec_id") < CELLS)
      .select(col("vec_id").as("cid"), col("q").as("centq"))
    qv.select(col("vec_id"), col("q")).join(asg, Seq("vec_id"))
      .join(broadcast(centQ), Seq("cid"))
      .select(col("vec_id"), col("cid"),
        zip_with(col("q"), col("centq"), (x, y) => x - y).as("r"))
  }

  /** residual codebook: first K NON-CENTROID vectors' residuals,
    * re-keyed dense (a centroid's own residual is the zero vector, so
    * the vec_id < K convention would seed K degenerate codewords). */
  private def pqResidualBooks(res: DataFrame): DataFrame =
    res.filter(col("vec_id") >= CELLS && col("vec_id") < CELLS + PqSql.K)
      .agg(sort_array(collect_list(struct(
        (col("vec_id") - CELLS).cast(IntegerType).as("k"),
        col("r").as("cr")))).as("cbs"))

  /** residual encode: (vec_id, cid, code0..M−1) — pq01's map-side
    * argmin over the residual columns, cell id carried for probing. */
  private def pqResidualEncode(res: DataFrame, cbArr: DataFrame): DataFrame =
    res.crossJoin(broadcast(cbArr)).select(
      col("vec_id") +: col("cid") +:
        (0 until PqSql.M).map(m => array_min(transform(col("cbs"), c =>
          struct(pqSubDist(col("r"), c.getField("cr"), m).as("dist"),
            c.getField("k").as("k"))))
          .getField("k").as(s"code$m")): _*)

  /** top-C ADC shortlist through the k-bounded heap operator, then the
    * exact rerank on raw quantized vectors (NQ·C fetch rows only) and
    * the final top-5 readout — the serving tail every IVF-PQ variant
    * shares. */
  private def pqShortlistRerank(scored: DataFrame, qv: DataFrame,
      groups: Seq[Column] = Seq(col("query_id"))): DataFrame = {
    val shortlist = graft.plans.TopKPerGroup.perGroup(scored,
      groups, struct(col("adc"), col("cand_id")),
      k = PqSql.C, desc = false)
    val rer = shortlist
      .join(qv.select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("n2").as("qn2")), Seq("query_id"))
      .join(qv.select(col("vec_id").as("cand_id"), col("q").as("cq"),
        col("n2").as("cn2")), Seq("cand_id"))
      .select(col("query_id"), col("cand_id"), col("adc"),
        qcosCol(qdotCol(col("qq"), col("cq")), col("qn2"), col("cn2"))
          .as("qcos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("cand_id"))
    rer.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("cand_id"), col("adc"), col("qcos"),
        col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Product quantization + ADC search (Jégou et al. 2011) — the
    * memory-cheapening axis IVF doesn't cover: each vector's 64 dims
    * split into M=4 subspaces of 16; every subspace has its own
    * K=8-codeword codebook (seeded deterministically from the first K
    * vectors' subvectors — the c0-init convention ivf01 established)
    * and a vector is stored as just M codes (4 bytes vs 256). A query
    * never touches the raw corpus: it precomputes an M×K table of
    * exact subspace distances to every codeword (24 int64 cells here)
    * and scores each candidate with M table lookups — Asymmetric
    * Distance Computation.
    *
    * Scale shape: the codebook collapses to ONE broadcast row of
    * sorted (k, subvector) structs; encoding is a per-row
    * transform+array_min (map-side, zero corpus shuffle — ivf01's
    * idiom); the query-side distance tables are a 3-row broadcast; ADC
    * scoring is per-row lookup arithmetic; and top-5-per-query runs
    * through the k-bounded TopKPerGroup operator, never a full-group
    * window sort. At 100 TB the code table is the only thing scanned
    * at serving time — 4 bytes/vector — and composes with ivf's cell
    * partitioning (scan one cell's codes, rerank its top-k on raw
    * vectors). All distances are exact int64 on the ×1000-quantized
    * grid, so codes, tables, and ADC sums hash-match DuckDB. */
  val pq01AdcSearch: GraftQuery = {
    import PqSql.{M, K}
    q("pq01_pq_adc_search",
      "product quantization: M=4xK=8 codebooks, 4-byte codes, ADC top-5 per query",
      s"""WITH qv AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding,
         |    e -> CAST(ROUND(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS q
         |  FROM embeddings),
         |cb AS MATERIALIZED (SELECT vec_id AS k, q FROM qv WHERE vec_id < $K),
         |${PqSql.sqlCodesCtes("qv", _ => "cb", PqSql.sqlSubDist)},
         |${PqSql.sqlCodes},
         |qd AS MATERIALIZED (
         |  SELECT v.vec_id AS query_id, c.k,
         |    ${(0 until M).map(m => s"${PqSql.sqlSubDist("v", "c", m)} AS t$m").mkString(", ")}
         |  FROM qv v CROSS JOIN cb c WHERE v.vec_id < 3),
         |adc0 AS (
         |  SELECT q0.query_id, x.vec_id AS cand_id,
         |    ${(0 until M).map(m => s"q$m.t$m").mkString(" + ")} AS adc
         |  FROM codes x
         |  JOIN qd q0 ON q0.k = x.code0
         |  ${PqSql.sqlQdJoins}
         |  WHERE x.vec_id <> q0.query_id),
         |ranked AS (
         |  SELECT query_id, cand_id, adc,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adc, cand_id) AS BIGINT) AS rn
         |  FROM adc0)
         |SELECT query_id, cand_id, adc, rn FROM ranked WHERE rn <= 5
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      val qv = quantizedDf(s, d).select(col("vec_id"), col("q"))
      // codebook: one broadcast row of k-sorted (k, subvector source)
      val cbArr = pqSeedBooks(qv)
      // encode: per-row argmin per subspace (struct-min: dist asc, k asc)
      val coded = pqEncode(qv, cbArr)
      // query-side ADC tables: K distances per subspace, k-ordered
      // (cbs is k-sorted, transform preserves order → index = k+1)
      val qd = qv.filter(col("vec_id") < 3).crossJoin(broadcast(cbArr)).select(
        col("vec_id").as("query_id") +:
          (0 until M).map(m => transform(col("cbs"),
            c => pqSubDist(col("q"), c.getField("cq"), m)).as(s"dt$m")): _*)
      val scored = coded.crossJoin(broadcast(qd))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          (0 until M).map(m =>
            element_at(col(s"dt$m"), col(s"code$m") + 1)).reduce(_ + _)
            .as("adc"))
      val top = graft.plans.TopKPerGroup.perGroup(scored,
        Seq(col("query_id")), struct(col("adc"), col("cand_id")),
        k = 5, desc = false)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc"), col("cand_id"))
      top.withColumn("rn", row_number().over(w).cast(LongType))
        .select(col("query_id"), col("cand_id"), col("adc"), col("rn"))
        .orderBy("query_id", "rn")
    }
  }

  /** IVF-PQ COMPOSED SERVING (Jégou et al. 2011 §IV; the FAISS
    * `IVFx,PQy` production shape) — the two axes this family built
    * separately, joined: ivf's coarse cells bound WHICH candidates a
    * query touches, pq's codes bound WHAT is read per candidate.
    * Pipeline: coarse-assign the corpus to the 16 seed cells in the
    * quantized integer space; encode every vector as M=4 PQ codes
    * against the shared K=8 codebook (pq01's encoder); a query probes
    * ONLY its own cell, ADC-scores the cell's members from their codes
    * alone (M table lookups each — the raw corpus is never touched),
    * keeps the top-C=20 by ADC through the k-bounded heap operator,
    * and exact-reranks just those C on true quantized cosine for the
    * final top-5.
    *
    * The memory claim this composition exists for: serving state per
    * vector is M code bytes + a cell id — n·M bytes total (n·4 here)
    * instead of n·d floats (n·256) — a 64× shrink; raw vectors are
    * read back for exactly NQ·C rows at rerank, independent of the
    * corpus. All ADC arithmetic is exact int64 on the ×1000 grid and
    * the rerank cosine is one IEEE divide of exact integers, so codes,
    * ADC sums, and the reranked order hash-match DuckDB. */
  val pq02IvfPqSearch: GraftQuery = {
    import PqSql.{M, K, NQ, C}
    q("pq02_ivfpq_search",
      s"IVF-PQ composed serving: probe-1 cell, ADC top-$C from codes only, exact rerank to top-5",
      s"""WITH ${PqSql.sqlPrefix},
         |cb AS MATERIALIZED (SELECT vec_id AS k, q FROM qv WHERE vec_id < $K),
         |${PqSql.sqlCodesCtes("qv", _ => "cb", PqSql.sqlSubDist)},
         |${PqSql.sqlCodes},
         |qd AS MATERIALIZED (
         |  SELECT v.vec_id AS query_id, c.k,
         |    ${(0 until M).map(m => s"${PqSql.sqlSubDist("v", "c", m)} AS t$m").mkString(", ")}
         |  FROM qv v CROSS JOIN cb c WHERE v.vec_id < $NQ),
         |qa AS (SELECT vec_id AS query_id, cid FROM asg WHERE vec_id < $NQ),
         |cand0 AS (
         |  SELECT q0.query_id, x.vec_id AS cand_id,
         |    ${(0 until M).map(m => s"q$m.t$m").mkString(" + ")} AS adc
         |  FROM codes x
         |  JOIN asg ax ON ax.vec_id = x.vec_id
         |  JOIN qa ON qa.cid = ax.cid AND x.vec_id <> qa.query_id
         |  JOIN qd q0 ON q0.query_id = qa.query_id AND q0.k = x.code0
         |  ${PqSql.sqlQdJoins}),
         |${PqSql.sqlTail}""".stripMargin) { (s, d) =>
      val qv = quantizedDf(s, d) // (vec_id, q, n2)
      // coarse assignment + PQ encode — the hoisted shared kernels
      val asg = pqCoarseAsg(qv)
      val cbArr = pqSeedBooks(qv)
      val coded = pqEncode(qv, cbArr)
      // the serving STATE: (vec_id, cid, code0..3) — n·M code bytes +
      // a cell id per vector; pinned because the shortlist join and
      // nothing else reads it (raw q is fetched only at rerank)
      val index = coded.join(asg, Seq("vec_id")).pinned
      val qd = qv.filter(col("vec_id") < NQ).crossJoin(broadcast(cbArr))
        .select(
          col("vec_id").as("query_id") +:
            (0 until M).map(m => transform(col("cbs"),
              c => pqSubDist(col("q"), c.getField("cq"), m)).as(s"dt$m")): _*)
      val qa = asg.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"), col("cid").as("qcid"))
        .join(broadcast(qd), Seq("query_id"))
      // probe-1: candidates meet the query ONLY via the cell equi-join
      val scored = index.join(broadcast(qa),
          col("cid") === col("qcid") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          (0 until M).map(m =>
            element_at(col(s"dt$m"), col(s"code$m") + 1)).reduce(_ + _)
            .as("adc"))
      pqShortlistRerank(scored, qv)
    }
  }

  /** TRAINED PQ codebooks (Jégou et al. 2011 §II-C / the FAISS
    * `ProductQuantizer::train` shape) — pq01/pq02 seed each subspace's
    * K=8 codewords from the first K vectors' subvectors (the c0-init
    * convention); real PQ trains M INDEPENDENT k-means, one per 16-dim
    * subspace, because the codebook exists to minimize per-subspace
    * quantization distortion. pq03 runs ivf03's Lloyd discipline per
    * subspace — assignment by exact int64 squared L2 (ties → smallest
    * k), centroid recompute as the coordinate-wise ROUNDED mean (one
    * correctly-rounded IEEE divide of exact integers per coordinate,
    * then the same ROUND both engines proved bit-identical in the
    * quantizer itself) — init'd from the seeded books, 2 rounds,
    * clusters that lose all members drop (classical Lloyd). Lloyd
    * never increases total distortion from its init, so the trained
    * books dominate the seeded ones by construction; IvfSpec measures
    * the recall@5 gain through the full IVF-PQ serving path.
    *
    * Scale shape: training is 2·M map-side assignment passes over the
    * corpus (broadcast 8-row codebooks, no shuffle) + K-row
    * aggregations — ivf03's exact cost, ×M subspaces; serving is
    * pq02's pipeline verbatim under the trained books (probe-1 cell,
    * ADC from 4-byte codes, NQ·C exact rerank). Trained codeword ids
    * can be SPARSE (lost clusters), so the ADC lookup joins per-(m, k)
    * tables — the oracle's own shape — instead of positional
    * element_at. */
  val pq03TrainedPq: GraftQuery = {
    import PqSql.{M, K, SUB, NQ}
    val ITERS = 2
    // Σ (v.q[m·SUB+i] − c.c_i)² — vector row vs a book row's c1..c16
    def sqlBookDist(v: String, c: String, m: Int): String =
      (1 to SUB).map(i =>
        s"($v.q[${m * SUB + i}] - $c.c$i) * ($v.q[${m * SUB + i}] - $c.c$i)")
        .mkString("(", " + ", ")")
    val cols = (1 to SUB).map(i => s"c$i").mkString(", ")
    // per-subspace Lloyd: init from the seeded books, `ITERS` unrolled
    // rounds of (argmin assign, rounded-mean recompute)
    def sqlTrain(m: Int): String = {
      val init =
        s"""cb0x$m AS (
           |  SELECT vec_id AS k,
           |    ${(1 to SUB).map(i => s"q[${m * SUB + i}] AS c$i").mkString(", ")}
           |  FROM qv WHERE vec_id < $K)""".stripMargin
      val rounds = (1 to ITERS).map { r =>
        s"""ta${r}x$m AS (
           |  SELECT v.vec_id, c.k,
           |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
           |      ORDER BY ${sqlBookDist("v", "c", m)} ASC, c.k) AS rr
           |  FROM qv v CROSS JOIN cb${r - 1}x$m c),
           |aa${r}x$m AS (SELECT vec_id, k FROM ta${r}x$m WHERE rr = 1),
           |cb${r}x$m AS (
           |  SELECT a.k,
           |    ${(1 to SUB).map(i =>
              s"CAST(ROUND(CAST(SUM(v.q[${m * SUB + i}]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c$i")
              .mkString(", ")}
           |  FROM aa${r}x$m a JOIN qv v ON v.vec_id = a.vec_id
           |  GROUP BY a.k)""".stripMargin
      }.mkString(",\n")
      s"$init,\n$rounds"
    }
    val qdCtes = (0 until M).map { m =>
      s"""qd$m AS MATERIALIZED (
         |  SELECT v.vec_id AS query_id, c.k,
         |    ${sqlBookDist("v", "c", m)} AS t$m
         |  FROM qv v CROSS JOIN cb${ITERS}x$m c WHERE v.vec_id < $NQ)""".stripMargin
    }.mkString(",\n")
    val qdJoins = (1 until M).map(m =>
      s"JOIN qd$m q$m ON q$m.query_id = q0.query_id AND q$m.k = x.code$m")
      .mkString("\n  ")
    q("pq03_trained_pq",
      s"IVF-PQ serving from TRAINED per-subspace codebooks: M=$M independent $ITERS-round Lloyd loops, then probe-1 + ADC + exact rerank",
      s"""WITH ${PqSql.sqlPrefix},
         |${(0 until M).map(sqlTrain).mkString(",\n")},
         |${PqSql.sqlCodesCtes("qv", m => s"cb${ITERS}x$m", sqlBookDist)},
         |${PqSql.sqlCodes},
         |$qdCtes,
         |qa AS (SELECT vec_id AS query_id, cid FROM asg WHERE vec_id < $NQ),
         |cand0 AS (
         |  SELECT q0.query_id, x.vec_id AS cand_id,
         |    ${(0 until M).map(m => s"q$m.t$m").mkString(" + ")} AS adc
         |  FROM codes x
         |  JOIN asg ax ON ax.vec_id = x.vec_id
         |  JOIN qa ON qa.cid = ax.cid AND x.vec_id <> qa.query_id
         |  JOIN qd0 q0 ON q0.query_id = qa.query_id AND q0.k = x.code0
         |  $qdJoins),
         |${PqSql.sqlTail}""".stripMargin) { (s, d) =>
      val qv = quantizedDf(s, d) // (vec_id, q, n2)
      // exact int64 squared L2 between a SUB-dim slice of q and a
      // SUB-dim codeword
      def bookDist(sq: Column, cq: Column): Column =
        aggregate(zip_with(sq, cq, (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, x) => acc + x)
      // per-subspace Lloyd trainer: k-row codebook state, map-side
      // assignment against the broadcast book, rounded-mean recompute
      // (ivf03's loop restricted to one 16-dim slice)
      def train(m: Int): DataFrame = {
        var cb = qv.filter(col("vec_id") < K)
          .select(col("vec_id").cast(IntegerType).as("k"),
            slice(col("q"), m * SUB + 1, SUB).as("cq"))
        for (_ <- 1 to ITERS) {
          val cbArr = cb
            .agg(sort_array(collect_list(struct(col("k"), col("cq"))))
              .as("cbs"))
          cb = qv
            .select(col("vec_id"), slice(col("q"), m * SUB + 1, SUB).as("sq"))
            .crossJoin(broadcast(cbArr))
            .withColumn("k", array_min(transform(col("cbs"), c =>
              struct(bookDist(col("sq"), c.getField("cq")).as("dist"),
                c.getField("k").as("k")))).getField("k"))
            .groupBy(col("k"))
            .agg(count(lit(1)).as("n"),
              array((1 to SUB).map(i => sum(element_at(col("sq"), i))): _*)
                .as("sv"))
            .select(col("k"),
              transform(col("sv"),
                x => round(x.cast(DoubleType) / col("n")).cast(LongType))
                .as("cq"))
            .pinned
        }
        cb
      }
      // coarse probe-1 assignment — the hoisted shared kernel
      val asg = pqCoarseAsg(qv)
      // ONE broadcast row per trained book: a k-sorted (k, cq) struct
      // array — the scalar-join idiom every encode/lookup below rides
      val bookArrs = (0 until M).map(m => train(m)
        .agg(sort_array(collect_list(struct(col("k"), col("cq"))))
          .as(s"cbs$m")))
      // encode against the TRAINED books (ids may be sparse after
      // lost clusters — the per-row struct-min carries the true k)
      val coded = (0 until M).foldLeft(
        qv.select(col("vec_id"), col("q"))) { (acc, m) =>
        acc.crossJoin(broadcast(bookArrs(m)))
          .withColumn(s"code$m", array_min(transform(col(s"cbs$m"), c =>
            struct(bookDist(slice(col("q"), m * SUB + 1, SUB),
              c.getField("cq")).as("dist"),
              c.getField("k").as("k")))).getField("k"))
          .drop(s"cbs$m")
      }.drop("q")
      val index = coded.join(asg, Seq("vec_id")).pinned
      // per-(m, k) query distance tables, joined by code — the
      // sparse-id-safe ADC lookup (the oracle's own join shape)
      val qds = (0 until M).map { m =>
        qv.filter(col("vec_id") < NQ)
          .select(col("vec_id").as("query_id"),
            slice(col("q"), m * SUB + 1, SUB).as("sq"))
          .crossJoin(broadcast(bookArrs(m)))
          .select(col("query_id"), explode(col(s"cbs$m")).as("c"),
            col("sq"))
          .select(col("query_id"), col("c.k").as(s"code$m"),
            bookDist(col("sq"), col("c.cq")).as(s"t$m"))
      }
      val qa = asg.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"), col("cid").as("qcid"))
      val scored = (0 until M).foldLeft(
        index.join(broadcast(qa),
          col("cid") === col("qcid") && col("vec_id") =!= col("query_id"))) {
        (acc, m) => acc.join(broadcast(qds(m)), Seq("query_id", s"code$m"))
      }.select(col("query_id"), col("vec_id").as("cand_id"),
        (0 until M).map(m => col(s"t$m")).reduce(_ + _).as("adc"))
      pqShortlistRerank(scored, qv)
    }
  }

  /** RESIDUAL IVF-PQ encoding (Jégou et al. 2011 §IV-A; FAISS
    * `IndexIVFPQ`'s default) — pq02 PQ-encodes RAW vectors, which
    * wastes the codebook's 8 codewords re-describing the coarse cell's
    * position; encoding the residual v − centroid(cell(v)) centers
    * every cell's cloud at the origin so the codewords spend their
    * precision on the within-cell structure — the property that makes
    * 4-byte codes usable at high cell counts. A query forms its OWN
    * residual against the probed cell's centroid and ADC-scores
    * candidates' residual codes — both sides are offsets from the SAME
    * centroid, so residual ADC estimates the true within-cell
    * distance. Residuals stay exact int64 on the ×1000 grid (a
    * difference of integers), so codes, tables, and ADC sums
    * hash-match DuckDB; the rerank is pq02's raw-cosine readout.
    *
    * The residual codebook seeds from the first K vectors that are NOT
    * coarse centroids (ids CELLS..CELLS+K−1, re-keyed dense): a
    * centroid's own residual is the zero vector, so pq02's vec_id < K
    * convention would seed K degenerate identical codewords. IvfSpec
    * measures the recall gain over pq02 through the same serving path.
    * Scale shape is pq02's verbatim: one extra broadcast equi-join
    * (the 16-row centroid fetch) on the encode pass, nothing else
    * changes. */
  val pq04ResidualPq: GraftQuery = {
    import PqSql.{M, NQ}
    q("pq04_residual_pq",
      s"IVF-PQ with RESIDUAL encoding: codes quantize v - centroid(cell), query ADC on its own residual, exact rerank to top-5",
      s"""WITH ${PqSql.sqlPrefix},
         |${PqSql.sqlResidual},
         |${PqSql.sqlCodesCtes("res", _ => "cbr", PqSql.sqlRDist)},
         |${PqSql.sqlCodes},
         |qd AS MATERIALIZED (
         |  SELECT v.vec_id AS query_id, c.k,
         |    ${(0 until M).map(m => s"${PqSql.sqlRDist("v", "c", m)} AS t$m").mkString(", ")}
         |  FROM res v CROSS JOIN cbr c WHERE v.vec_id < $NQ),
         |qa AS (SELECT vec_id AS query_id, cid FROM asg WHERE vec_id < $NQ),
         |cand0 AS (
         |  SELECT q0.query_id, x.vec_id AS cand_id,
         |    ${(0 until M).map(m => s"q$m.t$m").mkString(" + ")} AS adc
         |  FROM codes x
         |  JOIN asg ax ON ax.vec_id = x.vec_id
         |  JOIN qa ON qa.cid = ax.cid AND x.vec_id <> qa.query_id
         |  JOIN qd q0 ON q0.query_id = qa.query_id AND q0.k = x.code0
         |  ${PqSql.sqlQdJoins}),
         |${PqSql.sqlTail}""".stripMargin) { (s, d) =>
      val qv = quantizedDf(s, d) // (vec_id, q, n2)
      // coarse assignment, residuals, books, encode — shared kernels
      val asg = pqCoarseAsg(qv)
      val res = pqResiduals(qv, asg)
      val cbArr = pqResidualBooks(res)
      val index = pqResidualEncode(res, cbArr).pinned
      val qd = res.filter(col("vec_id") < NQ).crossJoin(broadcast(cbArr))
        .select(
          col("vec_id").as("query_id") +:
            (0 until M).map(m => transform(col("cbs"),
              c => pqSubDist(col("r"), c.getField("cr"), m)).as(s"dt$m")): _*)
      val qa = asg.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"), col("cid").as("qcid"))
        .join(broadcast(qd), Seq("query_id"))
      val scored = index.join(broadcast(qa),
          col("cid") === col("qcid") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          (0 until M).map(m =>
            element_at(col(s"dt$m"), col(s"code$m") + 1)).reduce(_ + _)
            .as("adc"))
      pqShortlistRerank(scored, qv)
    }
  }

  /** MULTI-PROBE RESIDUAL IVF-PQ (Jégou et al. 2011 §IV; FAISS
    * `IndexIVFPQ` at `nprobe > 1` — the standard high-cell-count
    * operating point). pq04's recall ceiling is its cell hit rate: a
    * probe-1 query never sees a true neighbor that landed one Voronoi
    * cell over. pq05 composes pq04's residual path with ivf04's
    * multi-probe: each query probes its P=2 nearest coarse cells,
    * forms a SEPARATE residual against each probed cell's centroid
    * (both sides of the ADC stay offsets from the SAME centroid —
    * residual codes are only comparable within their cell), ADC-scores
    * each probed cell's candidates against that cell's own distance
    * table, keeps a top-C shortlist PER PROBED CELL (FAISS scans each
    * inverted list independently — and per-cell cuts are what make the
    * recall law provable: cell 1's shortlist is exactly pq04's, so the
    * merged rerank pool strictly contains pq04's, and an exact rerank
    * over a superset can only displace a true neighbor with a truer
    * one), then exact-reranks the merged pool (≤ P·C rows; a candidate
    * appears exactly once — its own cell) to the final top-5.
    *
    * Scale shape: query-side state grows to NQ·P residuals and
    * distance tables (still a broadcast — P is a serving knob, never
    * corpus-order); the candidate equi-join fans to P cells' inverted
    * lists, exactly ivf04's bound; everything else (one 16-row
    * centroid fetch, 4-byte codes, NQ·C rerank fetch) is pq04's.
    * IvfSpec pins recall(pq05, nprobe=2) ≥ recall(pq04, probe-1) on
    * the filtered ground truth both rank by. */
  val pq05MultiprobeResidual: GraftQuery = {
    import PqSql.{M, NQ}
    val P = 2 // probed cells per query
    q("pq05_multiprobe_residual",
      s"multi-probe residual IVF-PQ: P=$P cells per query, per-cell query residuals + ADC, merged shortlist, exact rerank to top-5",
      s"""WITH ${PqSql.sqlPrefix},
         |${PqSql.sqlResidual},
         |${PqSql.sqlCodesCtes("res", _ => "cbr", PqSql.sqlRDist)},
         |${PqSql.sqlCodes},
         |probes AS MATERIALIZED (
         |  SELECT vec_id AS query_id, cid FROM asg0
         |  WHERE rc <= $P AND vec_id < $NQ),
         |qres AS MATERIALIZED (
         |  SELECT p.query_id, p.cid,
         |    ${(1 to Dim).map(i => s"v.q[$i] - c.q[$i] AS r$i").mkString(", ")}
         |  FROM probes p JOIN qv v ON v.vec_id = p.query_id
         |  JOIN cents c ON c.cid = p.cid),
         |qd AS MATERIALIZED (
         |  SELECT v.query_id, v.cid, c.k,
         |    ${(0 until M).map(m => s"${PqSql.sqlRDist("v", "c", m)} AS t$m").mkString(", ")}
         |  FROM qres v CROSS JOIN cbr c),
         |cand0 AS (
         |  SELECT q0.query_id, ax.cid, x.vec_id AS cand_id,
         |    ${(0 until M).map(m => s"q$m.t$m").mkString(" + ")} AS adc
         |  FROM codes x
         |  JOIN asg ax ON ax.vec_id = x.vec_id
         |  JOIN qd q0 ON q0.cid = ax.cid AND q0.k = x.code0
         |    AND x.vec_id <> q0.query_id
         |  ${(1 until M).map(m =>
              s"JOIN qd q$m ON q$m.query_id = q0.query_id AND q$m.cid = q0.cid AND q$m.k = x.code$m")
              .mkString("\n  ")}),
         |shortlist AS (
         |  SELECT query_id, cand_id, adc FROM (
         |    SELECT query_id, cand_id, adc,
         |      ROW_NUMBER() OVER (PARTITION BY query_id, cid
         |        ORDER BY adc, cand_id) AS rc
         |    FROM cand0) WHERE rc <= ${PqSql.C}),
         |${PqSql.sqlRerank}""".stripMargin) { (s, d) =>
      val qv = quantizedDf(s, d) // (vec_id, q, n2)
      val centArr = pqCentArr(qv)
      val asg = pqCoarseAsgOver(qv, centArr)
      val res = pqResiduals(qv, asg)
      val cbArr = pqResidualBooks(res)
      // the serving STATE is pq04's verbatim: (vec_id, cid, code0..3)
      val index = pqResidualEncode(res, cbArr).pinned
      // top-P cells per query — ivf04's probedDf idiom in the
      // quantized space: desc-sort the per-centroid struct array,
      // slice P, explode (NQ·P rows, zero corpus shuffle)
      val probes = qv.filter(col("vec_id") < NQ)
        .crossJoin(broadcast(centArr))
        .withColumn("probe", explode(slice(reverse(array_sort(
          transform(col("cents"), c => struct(
            qcosCol(qdotCol(col("q"), c.getField("cq")), col("n2"),
              c.getField("cn2")).as("cos_c"),
            (-c.getField("cid")).as("neg_cid"),
            c.getField("cid").as("cid"),
            c.getField("cq").as("centq"))))), 1, P)))
        .select(col("vec_id").as("query_id"), col("q"),
          col("probe.cid").as("qcid"),
          // the query's residual against THIS probed cell's centroid
          zip_with(col("q"), col("probe.centq"), (x, y) => x - y).as("qr"))
      // per-(query, probed cell) ADC tables over the query residual
      val qa = probes.crossJoin(broadcast(cbArr)).select(
        col("query_id") +: col("qcid") +:
          (0 until M).map(m => transform(col("cbs"),
            c => pqSubDist(col("qr"), c.getField("cr"), m)).as(s"dt$m")): _*)
      // candidates meet a query ONLY via the probed-cell equi-join; a
      // candidate carries one cid, so the P probes never duplicate it
      val scored = index.join(broadcast(qa),
          col("cid") === col("qcid") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("qcid"), col("vec_id").as("cand_id"),
          (0 until M).map(m =>
            element_at(col(s"dt$m"), col(s"code$m") + 1)).reduce(_ + _)
            .as("adc"))
      // per-(query, probed cell) top-C — the provable-dominance cut
      pqShortlistRerank(scored, qv,
        groups = Seq(col("query_id"), col("qcid")))
    }
  }

  // ------------------------------------------------------ filtered ANN
  /** FILTERED ANN, pre-filter plan (FAISS `IDSelector` semantics —
    * the capability every production vector query actually needs:
    * top-k OF THE FILTERED SET, with a metadata predicate fused into
    * the index probe instead of bolted onto its output). fa01 is the
    * selective-filter plan shape: the predicate is applied to the
    * probed cell's inverted list DURING the scan — the candidate side
    * filters before any distance is computed, so the scored pair set
    * is |cell ∩ filter| per query, never |cell|. The label predicate
    * reaches the parquet scan (PushedFilters); the probe stays the
    * ivf02 equi-join on cid. A probe-1 pre-filter can under-return
    * when the filter starves the cell — that regime is exactly what
    * fa02's adaptive plan exists for; fa01 reports what the probed
    * cell honestly contains (rows < k possible, the FAISS probe-1
    * behavior).
    *
    * 100 TB: filter selectivity multiplies the scanned list length
    * DOWN — pre-filtering is strictly cheaper than post-filtering at
    * every scale, and the plan is one broadcast equi-join + one
    * pushed predicate. */
  val fa01FilteredAnn: GraftQuery = {
    val NQ = 5
    val LabelLt = 3 // ~30% selective on the 0..9 uniform label
    q("fa01_filtered_ann",
      s"filtered ANN (IDSelector pre-filter): probe-1 cell, candidates filtered to label < $LabelLt during the list scan, exact top-5 of the filtered cell",
      s"""WITH $sqlAssign,
         |pairs AS (
         |  SELECT qa.vec_id AS query_id, ca.vec_id AS cand_id,
         |    CAST(l.label AS BIGINT) AS label,
         |    ${sqlDot("q", "c")} / (q.nrm * c.nrm) AS cosine
         |  FROM assigned qa JOIN normed q ON q.vec_id = qa.vec_id
         |  JOIN assigned ca ON ca.cid = qa.cid AND ca.vec_id <> qa.vec_id
         |  JOIN embeddings l ON l.vec_id = ca.vec_id AND l.label < $LabelLt
         |  JOIN normed c ON c.vec_id = ca.vec_id
         |  WHERE qa.vec_id < $NQ),
         |ranked AS (
         |  SELECT query_id, cand_id, label, cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, cand_id) AS BIGINT) AS rn
         |  FROM pairs)
         |SELECT query_id, cand_id, label, cosine, rn FROM ranked WHERE rn <= 5
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      val assigned = assignedDf(s, d).pinned // query side + candidate side
      val qv = assigned.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("cid"))
      // the predicate joins in BEFORE scoring: label < 3 is pushed to
      // the embeddings scan and prunes the inverted list pre-distance
      val lab = Tables.embeddings(s, d)
        .filter(col("label") < LabelLt)
        .select(col("vec_id").as("cand_id"),
          col("label").cast(LongType).as("label"))
      val cv = assigned
        .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
          col("cid").as("ccid"))
        .join(lab, Seq("cand_id"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("cand_id"))
      broadcast(qv)
        .join(cv, col("cid") === col("ccid") && col("cand_id") =!= col("query_id"))
        .select(col("query_id"), col("cand_id"), col("label"),
          VectorExpressions.cosine_similarity(col("qe"), col("ce")).as("cosine"))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= 5)
        .orderBy("query_id", "rn")
    }
  }

  /** FILTERED ANN, adaptive-shortlist plan — the under-return-proof
    * composition the pre-filter probe can't give: a query probes its
    * cells in proximity order (cos desc, cid — the full per-query cell
    * ranking the coarse quantizer already produces) and STOPS at the
    * first prefix whose cumulative filtered-survivor count covers k —
    * computed from a per-cell survivor census (index metadata:
    * O(cells) rows, maintained like nsum), not by scanning lists and
    * hoping. The guarantee is structural: if the filtered corpus
    * (excluding the query itself — counted via its own always-probed
    * rank-1 cell) holds ≥ k candidates, the chosen prefix holds ≥ k,
    * so the query NEVER under-returns — the failure mode of a fixed
    * shortlist under a selective filter (pq02's C=20 silently starves
    * at 90% selectivity); in the worst case the prefix is every cell
    * and the answer degrades gracefully to exact brute force over the
    * filtered set, which is the correct semantics. `n_probed` is
    * reported per query, so the adaptivity is itself oracle-checked.
    *
    * 100 TB: the survivor census is O(cells) broadcast metadata per
    * predicate family; probed mass tracks filter selectivity instead
    * of a guessed constant; every query-side frame is NQ·cells rows.
    * The candidate fetch stays the IVF equi-join on cid. */
  val fa02FilteredAnnAdaptive: GraftQuery = {
    val NQ = 5
    val K = 5
    val LabelEq = 7 // ~10% selective: the cell-starving regime fa02 exists for
    q("fa02_filtered_ann_adaptive",
      s"filtered ANN (adaptive probe): per-query cell prefix sized by a filtered-survivor census so k results are guaranteed whenever they exist; exact top-$K of the probed filtered set + n_probed",
      s"""WITH $sqlAssign,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |surv AS (
         |  SELECT a.cid, CAST(COUNT(*) AS BIGINT) AS n_surv
         |  FROM assigned a JOIN lab l ON l.vec_id = a.vec_id
         |  WHERE l.label = $LabelEq GROUP BY a.cid),
         |qrank AS (
         |  SELECT vec_id AS query_id, cid, rc FROM scored WHERE vec_id < $NQ),
         |cum AS (
         |  SELECT q.query_id, q.cid, q.rc,
         |    SUM(COALESCE(s.n_surv, 0)) OVER (PARTITION BY q.query_id
         |      ORDER BY q.rc) AS cum_surv
         |  FROM qrank q LEFT JOIN surv s ON s.cid = q.cid),
         |qself AS (
         |  SELECT vec_id AS query_id,
         |    CASE WHEN label = $LabelEq THEN 1 ELSE 0 END AS self
         |  FROM embeddings WHERE vec_id < $NQ),
         |pick AS (
         |  SELECT c.query_id,
         |    COALESCE(MIN(CASE WHEN c.cum_surv - qs.self >= $K
         |      THEN c.rc END), $CELLS) AS n_probed
         |  FROM cum c JOIN qself qs ON qs.query_id = c.query_id
         |  GROUP BY c.query_id),
         |probed AS (
         |  SELECT c.query_id, c.cid, p.n_probed
         |  FROM cum c JOIN pick p ON p.query_id = c.query_id
         |  WHERE c.rc <= p.n_probed),
         |pairs AS (
         |  SELECT pr.query_id, pr.n_probed, ca.vec_id AS cand_id,
         |    CAST(l.label AS BIGINT) AS label,
         |    ${sqlDot("q", "c")} / (q.nrm * c.nrm) AS cosine
         |  FROM probed pr
         |  JOIN normed q ON q.vec_id = pr.query_id
         |  JOIN assigned ca ON ca.cid = pr.cid AND ca.vec_id <> pr.query_id
         |  JOIN lab l ON l.vec_id = ca.vec_id AND l.label = $LabelEq
         |  JOIN normed c ON c.vec_id = ca.vec_id),
         |ranked AS (
         |  SELECT query_id, n_probed, cand_id, label, cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, cand_id) AS BIGINT) AS rn
         |  FROM pairs)
         |SELECT query_id, n_probed, cand_id, label, cosine, rn
         |FROM ranked WHERE rn <= $K
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      VectorExpressions.register(s)
      val e = Tables.embeddings(s, d)
      val assigned = assignedDf(s, d).pinned
      val lab = e.select(col("vec_id"), col("label"))
      // per-cell filtered-survivor census — O(cells) index metadata
      val surv = assigned.join(lab.filter(col("label") === LabelEq), Seq("vec_id"))
        .groupBy(col("cid")).agg(count(lit(1)).as("n_surv"))
      // full per-query cell ranking (cos desc, cid) — the coarse pass
      // ivf04 slices P from, posexploded whole: NQ·cells rows
      val centArr = e.filter(col("vec_id") < CELLS)
        .agg(sort_array(collect_list(struct(col("vec_id").as("cid"),
          col("embedding").as("cemb")))).as("cents"))
      val qrank = e.filter(col("vec_id") < NQ)
        .select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(centArr))
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          posexplode(reverse(array_sort(transform(col("cents"), c =>
            struct(
              VectorExpressions.cosine_similarity(col("embedding"),
                c.getField("cemb")).as("cos_c"),
              (-c.getField("cid")).as("neg_cid"),
              c.getField("cid").as("cid")))))))
        .select(col("query_id"), col("qe"), (col("pos") + 1).as("rc"),
          col("col.cid").as("cid"))
      // cumulative survivors along the proximity order, self-corrected
      // (the query's own cell is always rank 1, so its self-count is
      // subtracted exactly once when its label matches)
      val wc = Window.partitionBy(col("query_id")).orderBy(col("rc"))
      val cum = qrank.join(broadcast(surv), Seq("cid"), "left")
        .na.fill(0L, Seq("n_surv"))
        .withColumn("cum_surv", sum(col("n_surv")).over(wc))
      val qself = lab.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"),
          when(col("label") === LabelEq, 1L).otherwise(0L).as("self"))
      val pick = cum.join(broadcast(qself), Seq("query_id"))
        .groupBy(col("query_id"))
        .agg(coalesce(min(when(col("cum_surv") - col("self") >= K,
          col("rc"))), lit(CELLS.toLong)).as("n_probed"))
      val probed = cum.join(broadcast(pick), Seq("query_id"))
        .filter(col("rc") <= col("n_probed"))
        .select(col("query_id"), col("qe"), col("cid"), col("n_probed"))
      // candidate fetch: the IVF equi-join, filter fused pre-distance
      val cv = assigned
        .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
          col("cid").as("ccid"))
        .join(lab.filter(col("label") === LabelEq)
          .select(col("vec_id").as("cand_id"),
            col("label").cast(LongType).as("label")), Seq("cand_id"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("cand_id"))
      broadcast(probed)
        .join(cv, col("cid") === col("ccid") && col("cand_id") =!= col("query_id"))
        .select(col("query_id"), col("n_probed"), col("cand_id"),
          col("label"),
          VectorExpressions.cosine_similarity(col("qe"), col("ce")).as("cosine"))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= K)
        .orderBy("query_id", "rn")
    }
  }

  /** HARD-EXAMPLE TRIPLET MINING — the contrastive-training data op
    * (FaceNet/SimCLR-style batch construction): for each anchor, the
    * HARD POSITIVE (same label, LOWEST cosine — the most distant
    * example the model must still pull in) and the HARD NEGATIVE
    * (different label, HIGHEST cosine — the impostor it must push out),
    * plus the margin pos_cos − neg_cos the triplet loss would see.
    *
    * Scale shape is the IVF serving shape, the same bound ann01/sd01
    * ride: anchors are a fixed harness prefix (32 vectors — broadcast),
    * candidates meet them ONLY within the anchor's coarse cell (an
    * equi-join on cid — never anchors × corpus), and the per-anchor
    * extremes are struct-min/max AGGREGATES (map-side partial, no
    * window over an inflated pair set). Within-cell is also the
    * semantically right pool: a hard negative is by definition nearby,
    * and nearby vectors share a cell — the exact argument that makes
    * IVF a search index makes it a mining index. At 100 TB, mining a
    * training batch costs the anchors' cells, not the corpus.
    *
    * Determinism: cosines ride the shared left-associated dot chain
    * (hash-proven across engines by ann01/ivf02); ties break on
    * cand_id (lowest for positives, highest for negatives — the struct
    * extreme's natural order, mirrored in the oracle's ROW_NUMBER);
    * margin is one fp subtract of two identical doubles. Anchors
    * lacking a same-label or different-label cellmate drop (inner
    * joins — documented harness behavior, matching the oracle). */
  val tm01TripletMining: GraftQuery = {
    val NA = 32
    q("tm01_triplet_mining",
      "hard positive/negative triplet mining within IVF cells: per-anchor extremes + margin",
      s"""WITH $sqlAssign,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |anch AS (
         |  SELECT a.vec_id AS aid, a.cid, l.label AS alabel
         |  FROM assigned a JOIN lab l ON l.vec_id = a.vec_id
         |  WHERE a.vec_id < $NA),
         |cands AS (
         |  SELECT an.aid, an.alabel, ca.vec_id AS cand_id, cl.label AS clabel,
         |    ${sqlDot("q", "c")} / (q.nrm * c.nrm) AS cosine
         |  FROM anch an
         |  JOIN assigned ca ON ca.cid = an.cid AND ca.vec_id <> an.aid
         |  JOIN lab cl ON cl.vec_id = ca.vec_id
         |  JOIN normed q ON q.vec_id = an.aid
         |  JOIN normed c ON c.vec_id = ca.vec_id),
         |pos AS (
         |  SELECT aid, cand_id AS pos_id, cosine AS pos_cos,
         |    ROW_NUMBER() OVER (PARTITION BY aid
         |      ORDER BY cosine ASC, cand_id ASC) AS rn
         |  FROM cands WHERE clabel = alabel),
         |neg AS (
         |  SELECT aid, cand_id AS neg_id, cosine AS neg_cos,
         |    ROW_NUMBER() OVER (PARTITION BY aid
         |      ORDER BY cosine DESC, cand_id DESC) AS rn
         |  FROM cands WHERE clabel <> alabel)
         |SELECT a.aid AS anchor_id, CAST(a.alabel AS BIGINT) AS label,
         |  p.pos_id, p.pos_cos, n.neg_id, n.neg_cos,
         |  p.pos_cos - n.neg_cos AS margin
         |FROM (SELECT DISTINCT aid, alabel FROM cands) a
         |JOIN pos p ON p.aid = a.aid AND p.rn = 1
         |JOIN neg n ON n.aid = a.aid AND n.rn = 1
         |ORDER BY anchor_id""".stripMargin) { (s, d) =>
      val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      // the assignment feeds the anchor filter AND the candidate side
      // (and labels join both) — pin it or the centroid argmax pass
      // re-runs per consumer (ScanAudit: 15 embeddings scans unpinned)
      val assigned = assignedDf(s, d).pinned
      val anch = assigned.filter(col("vec_id") < NA)
        .join(lab, Seq("vec_id"))
        .select(col("vec_id").as("aid"), col("embedding").as("ae"),
          col("cid"), col("label").cast(LongType).as("label"))
      val cands = broadcast(anch)
        .join(assigned.select(col("vec_id").as("cand_id"),
          col("embedding").as("ce"), col("cid").as("ccid")),
          col("ccid") === col("cid") && col("cand_id") =!= col("aid"))
        .join(lab.select(col("vec_id").as("cand_id"), col("label").as("clabel")),
          Seq("cand_id"))
        .select(col("aid"), col("label"), col("cand_id"), col("clabel"),
          VectorExpressions.cosine_similarity(col("ae"), col("ce")).as("cosine"))
        .pinned // read by BOTH extreme aggregates (pos and neg)
      // per-anchor extremes as struct aggregates: min picks (lowest
      // cosine, lowest id), max picks (highest cosine, highest id) —
      // the oracle's two ROW_NUMBER orders, without a window over the
      // pair set
      val pos = cands.filter(col("clabel") === col("label"))
        .groupBy("aid").agg(min(struct(col("cosine"), col("cand_id"))).as("p"))
        .select(col("aid"), col("p.cand_id").as("pos_id"),
          col("p.cosine").as("pos_cos"))
      val neg = cands.filter(col("clabel") =!= col("label"))
        .groupBy("aid").agg(max(struct(col("cosine"), col("cand_id"))).as("n"))
        .select(col("aid"), col("n.cand_id").as("neg_id"),
          col("n.cosine").as("neg_cos"))
      anch.select(col("aid"), col("label"))
        .join(pos, Seq("aid")).join(neg, Seq("aid"))
        .select(col("aid").as("anchor_id"), col("label"),
          col("pos_id"), col("pos_cos"), col("neg_id"), col("neg_cos"),
          (col("pos_cos") - col("neg_cos")).as("margin"))
        .orderBy("anchor_id")
    }
  }

  /** Input-sized shuffle width for the embeddings-bounded serving
    * family ([[graft.Sessions.sizedFor]] — the gr06/dd08 discipline):
    * every shuffled frame in these queries is bounded by the
    * embeddings table (assignments, codes, per-query candidate sets),
    * so the width derives from ITS row count — full session width at
    * production corpus sizes, a handful of partitions at harness
    * scales where the fixed per-task scheduling cost dominated
    * (same-set min-of-5 probe at width 1: median 0.89×, no
    * regressions; total 10.5→9.0 s across the 24-query family; a
    * second quiet-box probe added hn04 0.83× / hn05 0.87× / hn06
    * ~1.0× — an earlier contended probe had mis-read the hn family
    * as regressing). The child is memoized per (session, dir) so the
    * per-session index/fixture memoizers keep their keys across a
    * bench's timed runs, with parent confs re-copied per access
    * (Sessions.sizedFor). hn01–hn03 are not embSized: each runs its
    * search on its own width-1 no-AQE child, because every shuffled
    * frame of the beam/descent search is query-count-bounded (r17
    * probes: hn01 0.89×, hn02 0.70×, hn03 0.78× min-of-5). */
  private val embCounts =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Long]

  private[operators] def embSized(s: SparkSession, d: String): SparkSession =
    graft.Sessions.sizedFor(s, s"emb:$d",
      // count the RAW scan: Tables.embeddings wraps fanout, and the
      // sizing count would pay that repartition's full shuffle just to
      // read a row count the parquet footers already hold
      embCounts.getOrElseUpdate((s, d), Tables.t(s, d, "embeddings").count()))

  /** The ladder-IVM trio runs on its OWN sized child (distinct key →
    * distinct child session, so the h4/h5 index memoizers keyed on it
    * stay stable) with AQE disabled: their timed path is a census over
    * many tiny aggregates plus an affected-bucket kNN — AQE's
    * per-query-stage driver barrier dominated at the sized width
    * (r17 min-of-5: hn04 0.53×, hn05 0.74×, hn06 0.90×). The serving
    * family keeps AQE (pq01 measured 1.37× WORSE without it — its
    * plan leans on the runtime broadcast conversion). No-op at scale:
    * the flag only applies when the width actually narrows. */
  private[operators] def ladderSized(s: SparkSession, d: String): SparkSession =
    graft.Sessions.sizedFor(s, s"ladder:$d",
      embCounts.getOrElseUpdate((s, d), Tables.t(s, d, "embeddings").count()),
      adaptive = false)

  private def sizedEmb(g: GraftQuery): GraftQuery =
    g.copy(build = (s0, d) => g.build(embSized(s0, d), d))

  private def sizedLadder(g: GraftQuery): GraftQuery =
    g.copy(build = (s0, d) => g.build(ladderSized(s0, d), d))

  private val SizedNames: Set[String] = Set(
    "ivf01_assign", "ivf02_probe_search", "ivf03_kmeans_train",
    "ivf04_multiprobe", "ivf05_trained_search", "ivf06_persisted_index",
    "ivf07_index_upsert", "sd01_semdedup", "dc02_semantic_decontam",
    "pq01_pq_adc_search", "pq02_ivfpq_search", "pq03_trained_pq",
    "pq04_residual_pq", "pq05_multiprobe_residual", "fa01_filtered_ann",
    "fa02_filtered_ann_adaptive", "tm01_triplet_mining", "ann01_recall",
    // cl01 quiet probe at width 1: 1.18 -> 1.00 min-of-5 (0.85x). Its
    // token-stream join is documents-bounded, a constant factor above
    // the embeddings count, and the rule saturates to session width at
    // scale, so the emb-count derivation stays safe.
    "cl01_cluster_labels")

  private val LadderSizedNames: Set[String] = Set(
    "hn04_hnsw_upsert", "hn05_ladder_upsert", "hn06_ladder_delete")

  val all: Seq[GraftQuery] =
    Seq(ivf01Assign, ivf02Probe, ivf03Train, ivf04Multiprobe, ivf05TrainedSearch,
      ivf06PersistedIndex, ivf07IndexUpsert, sd01SemDedup,
      dc02SemanticDecontam, cl01ClusterLabels, ann01Recall, hn01GraphAnn,
      hn02GraphServing, hn03HnswAnn, hn04HnswUpsert, hn05LadderUpsert,
      hn06LadderDelete, pq01AdcSearch, pq02IvfPqSearch, pq03TrainedPq,
      pq04ResidualPq, pq05MultiprobeResidual, fa01FilteredAnn,
      fa02FilteredAnnAdaptive, tm01TripletMining)
      .map(g =>
        if (SizedNames(g.name)) sizedEmb(g)
        else if (LadderSizedNames(g.name)) sizedLadder(g)
        else g)
}
