package graft

import graft.operators.IvfQueries
import graft.plans.VectorExpressions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF ANN invariants that the DuckDB oracle can't express: recall
  * against the exact brute-force ground truth, and the training loop's
  * conservation/determinism properties. */
class IvfSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** exact cosine top-5 per query (vec_id < 5) — the ground truth an
    * ANN result is measured against. */
  private lazy val truth: Map[Long, Set[Long]] = {
    VectorExpressions.register(spark)
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(q).join(c, col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        VectorExpressions.cosine_similarity(col("qe"), col("ce")).as("cosine"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
  }

  private def recall(rows: Array[(Long, Long)]): Double = {
    val byQ = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = truth.map { case (qid, t) =>
      byQ.getOrElse(qid, Set.empty).count(t.contains).toDouble / t.size
    }
    hits.sum / truth.size
  }

  private def resultPairs(name: String): Array[(Long, Long)] =
    Registry.all.find(_.name == name).get.build(spark, sf)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  test("hn03/hn05 oracle unroll depth: every oracle-compared corpus derives LMAX = 2") {
    // the oracle SQL hard-unrolls the ladder at LMAX = 2; the engine
    // derives lmax from the corpus count. If testdata ever grows past
    // 2048 embeddings (16 cells), this fails HERE with a clear message
    // instead of as an opaque verify hash mismatch.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val lmax = IvfQueries.oracleLadderDepth(spark, dir)
      assert(lmax == 2,
        s"$dir derives ladder depth $lmax but the hn03/hn05 oracle SQL " +
          "is unrolled at LMAX = 2 — re-unroll the oracle before trusting " +
          "the verify compare on this corpus")
    }
  }

  test("multi-probe recall >= probe-1 recall, both positive") {
    val r1 = recall(resultPairs("ivf02_probe_search"))
    val rp = recall(resultPairs("ivf04_multiprobe"))
    assert(rp >= r1, s"multi-probe recall $rp < probe-1 recall $r1")
    assert(rp > 0.0)
  }

  test("trained-cell search recall is positive and rows well-formed") {
    val rp = recall(resultPairs("ivf05_trained_search"))
    assert(rp > 0.0, "trained-cell search found none of the true top-5")
  }

  test("hn01: graph-ANN beam search — recall floor, beam-bounded work, self-consistent counts") {
    val rows = Registry.all.find(_.name == "hn01_graph_ann").get
      .build(spark, sf).collect()
    assert(rows.length == 32, "one row per query")
    val nVec = Tables.embeddings(spark, sf).count()
    var recallSum = 0.0
    rows.foreach { r =>
      val nVisited = r.getAs[Long]("n_visited")
      val nExact = r.getAs[Long]("n_exact")
      val nHits = r.getAs[Long]("n_hits")
      val rec = r.getAs[Double]("recall")
      assert(nExact == 5L)
      assert(nHits >= 0L && nHits <= nExact)
      assert(rec == nHits.toDouble / nExact)
      // the point of the graph index: work is beam-bounded, not a
      // corpus scan — visited ≲ hubs + H·B·(2M + hub-degree) ≪ corpus
      assert(nVisited < nVec / 2,
        s"beam search visited $nVisited of $nVec vectors — not beam-bounded")
      recallSum += rec
    }
    // recall floor for the fixed (M=4, B=8, H=3) configuration on the
    // deterministic corpus; brute-force would be 1.0 at corpus cost
    assert(recallSum / rows.length >= 0.6,
      s"mean recall@5 ${recallSum / rows.length} below floor")
  }

  test("curation funnel counts decrease monotonically, stages complete") {
    val rows = Registry.all.find(_.name == "cc01_curation_pipeline").get
      .build(spark, sf).collect()
    assert(rows.length == 6, "six funnel stages")
    val docs = rows.map(_.getLong(2))
    val toks = rows.map(_.getLong(3))
    assert(docs.zip(docs.tail).forall { case (a, b) => b <= a },
      s"doc counts must be non-increasing: ${docs.mkString(",")}")
    assert(toks.zip(toks.tail).forall { case (a, b) => b <= a },
      s"token counts must be non-increasing: ${toks.mkString(",")}")
    assert(docs.last > 0, "the curated corpus is non-empty")
  }

  test("persisted index: single-cell probe reads one partition directory") {
    val dir = graft.operators.IvfQueries.indexDir(spark, sf)
    val one = spark.read.parquet(dir).filter(org.apache.spark.sql.functions.col("cid") === 3)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cid"),
      "cell predicate must prune index partitions\n" + plan.take(2000))
    // and the persisted search equals the in-memory search (same oracle)
    val mem = SparkEntry.queries("ivf05_trained_search")(spark, sf).collect().toSeq
    val per = SparkEntry.queries("ivf06_persisted_index")(spark, sf).collect().toSeq
    assert(per == mem)
  }

  test("k-means training conserves the corpus and is deterministic") {
    val total = Tables.embeddings(spark, sf).count()
    def run() = Registry.all.find(_.name == "ivf03_kmeans_train").get
      .build(spark, sf).collect().toSeq
    val a = run()
    assert(a.map(_.getLong(1)).sum == total, "every vector lands in a cell")
    assert(a.map(_.getLong(0)).distinct.size == a.size, "cells are distinct")
    assert(a == run(), "two runs produce bit-identical centroids")
  }

  test("cluster labels: ≤3 contiguous ranks per cell, counts non-increasing") {
    val rows = Registry.all.find(_.name == "cl01_cluster_labels").get
      .build(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cid, g) =>
      val ranks = g.map(_._2).sorted
      assert(ranks == (1L to ranks.size).toSeq, s"cell $cid ranks not contiguous")
      assert(ranks.size <= 3)
      val byRank = g.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"cell $cid counts must be non-increasing in rank")
    }
  }

  test("pq01: ADC top-k runs through the k-bounded TopK operator, rank window over its output") {
    val df = SparkEntry.queries("pq01_pq_adc_search")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert("TopK".r.findAllIn(p).size >= 2,
      "expected partial+final TopK pair (never a full-corpus window sort)\n" +
        p.take(3000))
    assert(p.contains("Window") && p.indexOf("Window") < p.indexOf("TopK"),
      "the rank window must consume the TopK output (<=5 rows/query)\n" +
        p.take(3000))
    // shape sanity on the result itself (values are oracle-checked)
    val rows = df.collect()
    assert(rows.length == 15, "3 queries x top-5")
    assert(rows.forall(_.getLong(2) >= 0L), "ADC distances are non-negative")
  }

  test("hn05: production-shape upsert exercises both paths — delta admitted, buckets carried") {
    // values are oracle-checked (census ≡ full rebuild under the
    // count-calibrated frozen quantizer); this pins the two harness
    // properties the oracle can't see: the delta is non-empty (the
    // incremental path actually admits something) and the base layer
    // carries buckets (the recompute is not a disguised full rebuild)
    val rows = SparkEntry.queries("hn05_ladder_upsert")(spark, sf).collect()
    assert(rows.length == 3, "one census row per ladder layer (lmax=2)")
    val base = rows.find(_.getInt(0) == 0).get
    assert(base.getLong(3) > 0L,
      "the %211 delta must land somewhere at the base layer")
    assert(base.getLong(3) < base.getLong(2),
      s"base layer must CARRY some buckets (affected ${base.getLong(3)} " +
        s"of ${base.getLong(2)})")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2),
        "affected buckets are a subset of the layer's buckets")
      assert(r.getLong(1) >= r.getLong(2),
        "at least one node per non-empty bucket")
    }
  }

  test("PQ serving recall: trained books >= seeded, residual encoding >= raw (full IVF-PQ path)") {
    // exact top-5 per PQ query (vec_id < 3) under the SAME quantized
    // cosine the pq family ranks by — the ground truth for all three
    val qv = Tables.embeddings(spark, sf).select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000).cast("long")).as("q"))
      .withColumn("n2", expr("aggregate(q, 0L, (acc, x) -> acc + x * x)"))
    val q3 = qv.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("n2").as("qn2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("cand_id"))
    val exact: Map[Long, Set[Long]] = broadcast(q3)
      .join(qv.select(col("vec_id").as("cand_id"), col("q").as("cq"),
        col("n2").as("cn2")), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        (expr("aggregate(zip_with(qq, cq, (x, y) -> x * y), 0L, (acc, x) -> acc + x)")
          .cast("double") /
          (sqrt(col("qn2").cast("double")) * sqrt(col("cn2").cast("double"))))
          .as("qcos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def rec(name: String): Double = {
      val byQ = resultPairs(name).groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      exact.map { case (qid, t) =>
        byQ.getOrElse(qid, Set.empty).count(t.contains).toDouble / t.size
      }.sum / exact.size
    }
    val seeded = rec("pq02_ivfpq_search")
    val trained = rec("pq03_trained_pq")
    val residual = rec("pq04_residual_pq")
    val multiprobe = rec("pq05_multiprobe_residual")
    assert(trained >= seeded,
      s"trained codebooks must not lose recall: trained=$trained seeded=$seeded")
    assert(residual >= seeded,
      s"residual encoding must not lose recall: residual=$residual raw=$seeded")
    // probing P=2 cells can only widen the candidate pool pq04 ranks —
    // the probe-1 cell is always among the P (ivf04's law, composed
    // onto the residual path)
    assert(multiprobe >= residual,
      s"multi-probe must not lose recall: nprobe2=$multiprobe probe1=$residual")
    assert(trained > 0.0 && residual > 0.0, "PQ serving found none of the true top-5")
  }

  test("fa02: filtered ANN never under-returns and dominates post-filtering an unfiltered shortlist") {
    VectorExpressions.register(spark)
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label"))
    // filtered ground truth: exact top-5 over the label=7 candidate set
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = e.filter(col("label") === 7)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    val gt: Map[Long, Set[Long]] = broadcast(q)
      .join(c, col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        VectorExpressions.cosine_similarity(col("qe"), col("ce")).as("cosine"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recOn(byQ: Map[Long, Set[Long]]): Double =
      gt.map { case (qid, t) =>
        byQ.getOrElse(qid, Set.empty).count(t.contains).toDouble / t.size
      }.sum / gt.size
    val fa = SparkEntry.queries("fa02_filtered_ann_adaptive")(spark, sf)
      .collect()
    val faByQ = fa.map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // the under-return guarantee: every query returns min(5, available)
    val filteredIds = e.filter(col("label") === 7)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    (0L until 5L).foreach { qid =>
      val available = (filteredIds - qid).size
      assert(faByQ.getOrElse(qid, Set.empty).size == math.min(5, available),
        s"query $qid returned ${faByQ.getOrElse(qid, Set.empty).size} " +
          s"of min(5, $available) filtered candidates — the adaptive " +
          "prefix under-returned")
    }
    // the baseline fa02 exists to beat: post-filter the UNFILTERED
    // probe-1 top-5 (a fixed shortlist starves under a selective
    // filter — most of its 5 slots go to non-matching labels)
    val labels = e.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val postFiltered = resultPairs("ivf02_probe_search")
      .filter { case (_, cand) => labels(cand) == 7 }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val faRec = recOn(faByQ)
    val pfRec = recOn(postFiltered)
    assert(faRec >= pfRec,
      s"filtered search must dominate post-filtering: fa02=$faRec post=$pfRec")
    assert(faRec > 0.0, "filtered search found none of the filtered top-5")
    // the adaptive path actually engaged on this corpus: at least one
    // query needed more than its rank-1 cell to cover k survivors
    assert(fa.map(_.getLong(1)).max > 1L,
      "no query probed past its first cell — the starving regime is untested")
  }

  test("ladder edge store: delete ∘ insert ≡ identity on the per-layer edge checksum") {
    val (dir, lmax) = IvfQueries.h5IndexDir(spark, sf)
    def chks(df: org.apache.spark.sql.DataFrame): Map[Int, (Long, Long)] =
      df.groupBy(col("layer").cast("int").as("layer"))
        .agg(count(lit(1)).as("n"),
          sum((col("src") * lit(1000003L) + col("dst")) % lit(1000000007L))
            .cast("long").as("chk"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val baseChk = chks(spark.read.parquet(s"$dir/edges"))
    // a COPY of the partitioned edge store to mutate in place
    val tmp = java.nio.file.Files.createTempDirectory("graft-delins")
      .toString + "/edges"
    spark.read.parquet(s"$dir/edges")
      .write.partitionBy("layer", "egrp").parquet(tmp)
    val delta = IvfQueries.ladderAssignDelta(
      spark.read.parquet(s"$dir/delta_src"),
      spark.read.parquet(s"$dir/cents"), lmax).cache()
    val nodes = spark.read.parquet(s"$dir/nodes")
    // INSERT the delta (hn05's admit through the O(delta) edge upsert)
    val (m1, a1, r1) = IvfQueries.ladderRecompute(nodes.unionByName(delta), delta)
    IvfQueries.ladderEdgeUpsert(spark, tmp, a1, r1)
    m1.unpersist()
    // the inserted store must equal the hn05 census (oracle-checked ≡
    // a full rebuild over base ∪ delta)
    val census = SparkEntry.queries("hn05_ladder_upsert")(spark, sf)
      .collect().filter(_.getLong(4) > 0)
      .map(r => r.getInt(0) -> (r.getLong(4), r.getLong(5))).toMap
    val inserted = chks(spark.read.parquet(tmp))
    assert(inserted == census,
      s"insert diverged from the oracle-checked census: $inserted vs $census")
    // DELETE the same delta: survivors = base, touched = delta
    val (m2, a2, r2) = IvfQueries.ladderRecompute(nodes, delta)
    IvfQueries.ladderEdgeUpsert(spark, tmp, a2, r2)
    m2.unpersist(); delta.unpersist()
    val restored = chks(spark.read.parquet(tmp))
    assert(restored == baseChk,
      s"delete ∘ insert must restore the base edge store: $restored vs $baseChk")
  }

  test("ladderEdgeUpsert deletes partitions the operation empties — no stale edges survive") {
    // dynamic overwrite only replaces partitions PRESENT in the output,
    // so an affected (layer, egrp) partition whose post-delete content
    // is zero rows must be removed explicitly — otherwise a deletion
    // that kills a group's only edge-bearing bucket leaves stale edges
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-emptypart")
      .toString + "/edges"
    Seq((0, 3L, 10L, 11L), (0, 3L, 11L, 10L),
        (0, 5L, 20L, 21L), (0, 5L, 21L, 20L))
      .toDF("layer", "bkt", "src", "dst")
      .withColumn("egrp", pmod(col("bkt"), lit(512L)).cast("int"))
      .write.partitionBy("layer", "egrp").parquet(tmp)
    val affected = Seq((0, 3L)).toDF("layer", "bkt")
    val rec = Seq.empty[(Int, Long, Long, Long)]
      .toDF("layer", "bkt", "src", "dst")
    IvfQueries.ladderEdgeUpsert(spark, tmp, affected, rec)
    val left = spark.read.parquet(tmp).select(col("bkt"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(left == Set(5L),
      s"emptied bucket's partition must be deleted from the store, got $left")
  }

  test("hn06: deletion exercises both paths — buckets affected, buckets carried, census self-consistent") {
    val rows = SparkEntry.queries("hn06_ladder_delete")(spark, sf).collect()
    assert(rows.length == 3, "one census row per ladder layer (lmax=2)")
    val base = rows.find(_.getInt(0) == 0).get
    assert(base.getLong(3) > 0L,
      "the %211=105 deletion must affect somewhere at the base layer")
    assert(base.getLong(3) < base.getLong(2),
      s"base layer must CARRY some buckets (affected ${base.getLong(3)} " +
        s"of ${base.getLong(2)})")
    rows.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2),
        "at least one node per non-empty bucket")
    }
  }

  test("LadderGuard: admits a delta below the mass threshold, refuses one above, names the rebuild") {
    val key = graft.operators.LadderGuard.ConfKey
    try {
      // threshold below any real ratio → the dense branch REFUSES,
      // naming the rebuild path (the PairGuard fail-fast discipline)
      spark.conf.set(key, "1e-9")
      val ex = intercept[IllegalStateException] {
        SparkEntry.queries("hn05_ladder_upsert")(spark, sf)
      }
      assert(ex.getMessage.contains("rebuild") &&
        ex.getMessage.contains(key),
        s"diagnostic must name the rebuild path and the conf: ${ex.getMessage}")
      // threshold above the split's real affected-mass ratio → the
      // sparse branch ADMITS with the guard ENABLED (mass computed)
      spark.conf.set(key, "0.999")
      val rows = SparkEntry.queries("hn05_ladder_upsert")(spark, sf).collect()
      assert(rows.length == 3, "guarded admit still produces the census")
    } finally spark.conf.unset(key)
  }

  test("hn04: the upsert's carry path is real — some buckets carried, census self-consistent") {
    // the VALUES are oracle-checked (census ≡ full rebuild); this pins
    // the harness property the oracle cannot see: if the delta split
    // ever widens so every bucket has a delta member again (the
    // vacuous-carry regression the %10 split had), n_affected ==
    // n_buckets and the incremental path silently degrades to a full
    // rebuild while staying green
    val rows = SparkEntry.queries("hn04_hnsw_upsert")(spark, sf).collect()
    assert(rows.length == 3, "one census row per ladder layer")
    val base = rows.find(_.getInt(0) == 0).get
    assert(base.getLong(3) < base.getLong(2),
      s"base layer must CARRY some buckets (affected ${base.getLong(3)} " +
        s"of ${base.getLong(2)}) — a delta touching every bucket makes " +
        "the upsert a disguised full rebuild")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2),
        "affected buckets are a subset of the layer's buckets")
      assert(r.getLong(1) >= r.getLong(2),
        "at least one node per non-empty bucket")
    }
  }
}
