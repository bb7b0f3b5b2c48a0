package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** The plan-dump tool: `.explain("formatted")` of registry queries on
  * the harness session, so every captured plan is the one the bench
  * times.
  *
  * With no query names it writes PLANS.md: the formatted physical plan
  * of representative headline queries, each with the property that
  * makes it the plan we WANT at 100 TB (pushdown reaching the scan,
  * broadcast only on bounded sides, zero-Exchange layout joins, codegen
  * spans, the custom TopK operator). PlanSpec asserts these properties;
  * this artifact makes them reviewable without running anything.
  *
  * With names it writes `<outDir>/<name>_<suffix>.txt` per query — the
  * `plans/rN/<query>_{before,after}.txt` artifact an optimization round
  * diffs.
  *
  * Usage: runMain graft.PlanDump [sfDir] [outFile]
  *        runMain graft.PlanDump <sfDir> <outDir> <suffix> <queryName>...
  */
object PlanDump {
  private val picks: Seq[(String, String)] = Seq(
    "q01_pricing_summary" ->
      "Partial aggregation before the exchange (map-side combine); scan reads only the 4 referenced columns of lineitem (ReadSchema) with the date filter pushed (PushedFilters).",
    "q05_join_broadcast" ->
      "The bounded dimension side is broadcast (BroadcastHashJoin, BuildRight); the fact side streams — no shuffle of lineitem.",
    "q48_bucketed_join" ->
      "Bucketed layout on both sides: no Exchange anywhere below the SortMergeJoin — co-location comes from storage (the exchanges higher in the plan feed the final audit aggregation), the shape every big-big equi-join should have at 100 TB.",
    "tx13_tfidf" ->
      "Post-round-6 shape: the corpus-growing document-frequency table is never the broadcast side — the bounded 30-doc tf slice is the BuildLeft of the hash join, and the only nested-loop join is the 1-row totals cross join.",
    "q62_small_qty_revenue" ->
      "Q17's correlated scalar-AVG threshold fully decorrelated by the planner: ONE grouped aggregate over lineitem joined back on the correlation key (l_partkey) — no BroadcastNestedLoopJoin, no per-row re-aggregation of the fact table.",
    "q63_excess_ship_suppliers" ->
      "Q20's nested-IN + two-key correlated aggregate: both INs plan as left-semi equi-joins and the correlated AVG becomes one aggregate grouped by (l_partkey, l_suppkey) joined back — three rewrites composing with no CartesianProduct.",
    "pq02_ivfpq_search" ->
      "IVF-PQ composed serving: candidates meet the query ONLY through the cell equi-join; ADC scoring is per-row lookups against the broadcast NQ×K distance tables (the raw corpus is never scanned at serving time); the shortlist rides the k-bounded TopK operator and exact rerank touches NQ·C rows.",
    "hn05_ladder_upsert" ->
      "Production-shape incremental ladder admit at O(delta-bucket mass): the staged ingest batch assigns against the broadcast codebook; affected buckets broadcast into ONE left-semi member fetch (the single corpus-order pass — a map-side scan, never a shuffle or a write); within-bucket kNN through the salted self-join + k-bounded heaps; and the census reads the per-bucket SUMMARIES (subtract affected, add recompute) — the stored edge table, (layer, bucket-group)-partitioned for in-place partition overwrites, is never scanned at all.",
    "hn06_ladder_delete" ->
      "Index deletion by the same affected-bucket discipline: the deleted set reads from the PERSISTED node table (never the corpus or codebook), survivors of exactly the affected buckets recompute their kNN, and the summary census subtracts deleted nodes (sign = -1) with fully-emptied buckets leaving structurally — cost is affected-bucket mass, the carry never moves.",
    "pq03_trained_pq" ->
      "Trained product quantization: M=4 independent per-subspace Lloyd loops — each round is ONE map-side assignment pass against a broadcast 8-row codebook plus a K-row aggregation (rounded-mean recompute) — then pq02's serving pipeline under the trained books with a sparse-id-safe per-(m,k) ADC join; training cost is 2M corpus passes with zero corpus shuffle.",
    "pq04_residual_pq" ->
      "Residual IVF-PQ: one extra 16-row broadcast equi-join fetches each vector's cell centroid, residuals are a zip_with in the same map pass, and everything downstream is pq02's shape — codes bound WHAT is read per candidate, the probed cell bounds WHICH candidates are read, and both ADC sides are offsets from the SAME centroid.",
    "pq05_multiprobe_residual" ->
      "Multi-probe residual IVF-PQ (nprobe=2): the query side fans to NQ·P broadcast rows — a SEPARATE residual and ADC table per probed cell, built from the same one-row centroid broadcast — while the corpus side is pq04's serving state untouched; candidates meet queries only via the probed-cell hash equi-join, the shortlist is cut per (query, cell) through the k-bounded heap (cell 1's cut is exactly pq04's, which is what makes the recall law provable), and the merged ≤ P·C rows exact-rerank to top-5.",
    "fa01_filtered_ann" ->
      "Filtered ANN, pre-filter plan (IDSelector semantics): the label predicate is PUSHED to the embeddings parquet scan (PushedFilters) and joins the candidate side BEFORE any distance is computed, so the scored pair set is |cell ∩ filter| — selectivity multiplies the scanned list DOWN; the probe itself stays the ivf02 broadcast hash equi-join on cid.",
    "fa02_filtered_ann_adaptive" ->
      "Filtered ANN, adaptive probe: every query-side frame is NQ·cells rows — the full per-query cell ranking (one broadcast-centroid map pass, posexploded), a per-cell filtered-survivor census (O(cells) broadcast index metadata), a cumulative window over cell rank, and the minimal-prefix pick — so the under-return-proof prefix costs nothing corpus-sized; the candidate fetch is the same broadcast cid equi-join with the label filter fused pre-distance, and the worst case (ultra-selective filter) degrades structurally to exact brute force over the filtered set.",
    "q33_topk_operator" ->
      "The custom k-bounded TopKPerGroup physical operator replaces window-rank-filter: per-partition k-heaps, no full-group sort, k rows per group cross the exchange.",
    "dd10_production_lsh" ->
      "MinHash signatures are one map-side native expression (no UDF, single pass over shingles); banding converts all-pairs to a groupBy on band keys; only same-bucket candidates are ever joined.",
    "sm03_ann_bucketed" ->
      "LSH-bucketed ANN serving path: candidate generation is an equi-join on the bucket key, cosine only on candidates — never a cartesian.",
    "ev02_sessionize" ->
      "session_window aggregation shuffles once on (user, session); watermark bounds state. Identical operator tree runs as a stream.",
    "nu01_nfc_normalize" ->
      "The native NfcNormalize codegen expression stays inside the WholeStageCodegen span — no UDF boundary breaking the pipeline.",
    "rj01_range_join" ->
      "Range join against an inline dimension: the 3-row band table broadcasts (IdentityBroadcastMode) and the fact side streams through the nested-loop join with the range predicate — bounded build side by construction, zero fact-side shuffle.",
    "dd15_sorted_neighborhood" ->
      "Sorted-neighborhood blocking: the global rank is a range Exchange + partition-local Sort + zipWithIndex (no single-partition window anywhere); the neighbor join is an equi-join on the rank bucket — each row meets at most 2W candidates, never the corpus, and there is no CartesianProduct.",
    "cm03_heavy_hitters" ->
      "Two-pass heavy hitters: the Count-Min sketch (bounded DEPTH×WIDTH cells) and the scalar total are the only broadcast sides; the exact verify pass is a broadcast semi-join of the bounded candidate list against the token stream — the full key space is never exactly aggregated, yet the result is exact.",
    "q53_table_checksum" ->
      "Table fingerprints are pure partial+final aggregation per table — one scan each, one single-row combine, no join, no wide shuffle: the cheapest possible audit of a 100 TB copy.",
    "dd16_substring_spans" ->
      "Exact-substring dedup: the k-gram table (one row per token position, 32-hex key) is pinned once and feeds BOTH the repeat-count aggregation and the join-back on the SAME gram key; span assembly is a per-doc window whose partition is one document's hit positions — nothing quadratic, no driver-side state.",
    "pq01_pq_adc_search" ->
      "Product quantization serving: the codebook and the 3-row query distance tables are the only broadcast sides; encoding is a map-side transform/array_min per row (no corpus shuffle), ADC scoring is per-row lookups, and top-5-per-query runs through the k-bounded TopK operator — the corpus-scale exchange carries one candidate per partition per query.",
    "pc01_power_iteration" ->
      "Distributed PCA split: the plan below is only the returned 64-row local relation — the corpus-touching work ran eagerly at build time as ONE typed-Aggregator aggregation (partial ObjectHashAggregate per task folding rows into the constant 4096-long Gram buffer, one final merge), one scan, no join, no corpus shuffle; the eigensolve runs on the collected d×d matrix (the bounded collect MLlib's RowMatrix PCA also performs). SpectralSpec asserts the aggregation is partitioning-invariant — the distributed-merge law the plan can't show.",
    "ss01_setsim_join" ->
      "Prefix-filtered set-similarity join, rank-array form: each doc is ONE row carrying its packed rank array; the candidate join is an equi-join on the prefix-shingle rank with the lossless PPJoin length + positional filters fused into the join condition (pruned BEFORE the distinct), and verification is a per-row array_intersect of two long arrays — no CartesianProduct, no re-explosion of the shingle stream; the per-doc array frame is an InMemoryRelation pinned once and reused by all three consumers.",
    "aj04_asof_nearest" ->
      "Nearest as-of join: BOTH directional scans (latest-prior carry and earliest-next probe) appear as last()/first() inside a SINGLE Window operator over one Exchange + one Sort — nearest costs exactly one directional as-of; the semi-join prunes right rows whose key never occurs on the left before the sort.",
    "gr04_triangles" ->
      "Triangle counting: top-D adjacency sparsification (each vertex keeps its 20 strongest neighbors) bounds degrees BEFORE the triangle pass — without it the growth probe showed the co-purchase graph densifying toward complete (15x time at 10x data); oriented edges (a<b) then make the wedge step an equi-join on the middle vertex and the closure a LeftSemi probe on (a,c), with the pinned edge list scanned from cache by all three consumers.",
    "mb01_market_basket" ->
      "Association rules: the pair generator is an equi-join on the basket key of the distinct item frame (output bounded by per-basket item counts, not corpus size); the |parts|-bounded margins join WITHOUT a broadcast hint (size-based planning broadcasts while they fit, degrading to shuffle at scale instead of OOM) and only the provably-1-row basket count is hint-broadcast.",
    "rr01_rrf_fusion" ->
      "RRF hybrid retrieval: each leg ends in TakeOrderedAndProject (k-bounded heaps, no global sort) after a map-side scoring pass; the fusion full-outer join runs on two <=50-row frames — constant work regardless of corpus scale; the vector leg's 1-row query side is limit(1)-bounded and broadcast.",
    "ng01_native_ngrams" ->
      "The native ngram_explode Generator runs inside Generate over the scan (streaming one (pos, gram) row at a time — no per-document gram array is materialized, unlike the transform+explode composition); downstream is partial-aggregated HashAggregate on gram and a corpus-wide top-10 via TakeOrderedAndProject.",
    "dc02_semantic_decontam" ->
      "Semantic decontamination in the IVF serving shape: the fixed-size eval side is broadcast (BroadcastHashJoin on cid), candidates meet only within a coarse-quantizer cell, and cosine (native codegen'd dot_product/l2_norm) is evaluated on candidates only — never corpus x eval.",
    "dr01_distribution_drift" ->
      "Snapshot drift: bin id and epoch hash are map-side scalar expressions feeding ONE partial-aggregated groupBy on (source, bin); every operator after the first aggregate runs on a sources x bins frame (~tens of rows at any corpus size).",
    "pa01_skyline" ->
      "Pareto frontier: lineitem collapses to its <=50-point quantity domain in one partial-aggregated pass; the dominance test is an anti-join of that bounded frame against its broadcast self — fact rows are never pairwise compared.",
    "iv01_incremental_join" ->
      "Join IVM: every incremental leg is a broadcast-delta shape (BroadcastHashJoin on the upsert keys for delete/reinsert, broadcast fact-delta join) — the standing snapshot is never reshuffled; the full-recompute branch exists only to feed the EXCEPT ALL audit.",
    "ev15_attribution" ->
      "Last-touch attribution: ONE window pass partitioned by user_id (cardinality grows with the corpus — the sort parallelizes), struct-max picks the latest touch without a per-purchase join; the report aggregates to |channels| rows.",
    "hn01_graph_ann" ->
      "Graph ANN: assignment is HIERARCHICAL (coarse reps then one group's ≤128 centroids — both map-side broadcast-array argmax, ~(n/16384+128)·n cosines instead of the flat n²/128 the 1000× probe timed out on); the kNN edge build is an equi-join on the count-calibrated cell id through the k-bounded TopK operator; hub cliques stay within super-cells plus an apex clique (edge table ~n, never (n/128)²); the entry scan is hubs × broadcast(32 queries) map-side; beam rounds broadcast only beam-bounded candidate lists; per-round visited sets are pinned InMemoryRelations.",
    "ev17_bucketized_interval" ->
      "Pure (no-equi-key) interval join under time-bin blocking: the views side is exploded into (bin, bin+1) map-side, the join is a plain equi-join on the bin with the exact range predicate as its post-filter (hash-broadcast while the exploded side fits the 64 MB threshold, as at this SF; a shuffle join beyond it) — no BroadcastNestedLoopJoin, no CartesianProduct anywhere in the plan.",
    "dd18_evolving_admission" ->
      "Evolving LSH admission: ONE equi-join on (band_idx, bkey) between the delta bands and the corpus+delta pool (band-key-bucketed at cluster scale ⇒ no state reshuffle); the corpus/id-order predicates ride the join as post-filters, and the signature pass is pinned once for both splits.",
    "dd19_twin_safe_lsh" ->
      "Twin-safe LSH: the identical-set collapse is ONE groupBy on the 16-byte set fingerprint (map-side computed next to the shingle array — never the text); the signature/band/candidate/confirm stages all hang off the left-semi rep slice, so every self-join runs on the DISTINCT-set corpus; band keys, not text, are the shuffle keys throughout.",
    "mm05_pixel_decode" ->
      "Real pixel decode: both codec stages are per-partition mapPartitions over the typed Dataset (SerializeFromObject→MapPartitions→DeserializeToObject spans) — one decoder instantiation per partition, rows stream through; the only exchange is the final ORDER BY's range partition.",
    "mm07_phash_dedup" ->
      "Perceptual image dedup: decode + pool + dHash is ONE mapPartitions pass (per-byte linear, embarrassingly parallel); the dedup itself is a single partial-aggregated groupBy on the 64-bit hash — the exact-dedup shape — so the only corpus exchange carries (hash, partial counts).",
    "av01_incremental_agg" ->
      "Aggregate IVM: each γ is a partial-aggregated scan of its slice (map-side combine before the exchange); the ⊕/⊖ merge is a full-outer join of three KEYSPACE-sized frames (≤ |priorities|·|years| rows at any corpus size) — fact rows are touched once per γ and never by the merge; the recompute branch exists only for the EXCEPT ALL audit.",
    "sy03_storage_partitioned_join" ->
      "Storage-partitioned join: the custom DSv2 source reports KeyGroupedPartitioning(identity(grp), 97) and every input partition carries its key (HasPartitionKey), so BOTH per-side aggregations and the SortMergeJoin plan with ZERO hash Exchanges - the lake-table co-partitioned join shape, delivered by connector metadata instead of a catalog; the only Exchange is the presentation ORDER BY.",
    "rr02_mmr_rerank" ->
      "MMR diversity re-rank: the pool build is the only corpus-side work (broadcast-queries scan + k-bounded TopK); the 5 greedy rounds join query-count-sized frames (pool <=20/query, selected <=round/query) with the per-round argmax through the TopK operator - selection-step iteration, not data iteration.",
    "hn02_graph_serving" ->
      "Graph-ANN serving: the NSW index (edges repartitioned by src, hubs with embeddings, id->vector fetch table) persists ONCE per corpus dir (bench reports it as setup_write) and the timed plan is pure search — hub entry scan x broadcast(queries), HnH beam rounds whose every join broadcasts only beam-bounded candidate lists against storage-side fetch joins. The serving fleet shape: index offline, answer online.",
    "hn03_hnsw_ann" ->
      "Multi-layer HNSW serving: the ladder's edges persist partitioned BY LAYER, so every descent round's scan is one layer partition (partition pruning on `layer`); each of the log₄(cells) descent rounds joins that slice against a BROADCAST front of ≤ NQ·E candidates and scores via storage-side fetch joins (vecs looked up by id, the corpus is never rescanned); per-round frames are LogicalRDD-truncated so round-N plans stay round-sized (skipped when the ladder is too shallow to blow up). Every SHUFFLED frame here is query-count-bounded, so the search runs on one memoized child session at width 1 with AQE off (shared with hn01/hn02) — at the session default each of ~18 micro-stages fanned into near-empty tasks with an AQE driver barrier apiece, and AQE's parallelism-first coalescer never shrinks below core count (round-14, width 4: 4.9 → 2.3 s min-of-5 at sf0.1; r17, width 1 and AQE off: 2.69 → 2.09 s). Search cost follows ladder depth, not corpus size — measured 6.2 → 13.7 s across a 1000× corpus growth (BENCH_1000X_hn03_r12.json).",
    "hn04_hnsw_upsert" ->
      "Incremental ladder upsert as ONE fused plan: the delta assigns+levels against a 16-row broadcast codebook map-side; nodes explode to their layers once and (layer, bucket) keys every join; the affected-bucket recompute is a semi-join-bounded self-join, the carry is a broadcast ANTI join against the stored per-layer edges (partition-pruned by layer), and the census is two 3-row groupBys — the corpus is never rescanned and no stage depends on layer count sequentially.",
    "q61_min_cost_supplier" ->
      "TPC-H Q2 shape through the SQL parser: the correlated `= (SELECT MIN(..) WHERE same part)` probe decorrelates to a partial+final MIN aggregate joined back on the correlation key — no per-row subplan, no BroadcastNestedLoopJoin (PlanSpec pins it). The twice-read derived table is pinned once (InMemoryTableScan on both readers) because Spark inlines multi-referenced WITH clauses; DuckDB's MATERIALIZED is the oracle-side twin.",
    "mm09_video_decode" ->
      "Real video container walk: Y4M header tags, FRAME markers, planar reads and every-3rd-frame sampling all inside ONE mapPartitions pass (per-byte linear, one parser per partition); only the final ORDER BY exchanges - a 2-hour video contributes its sampled frames, never 200k rows.",
    "mm08_phash_neardup" ->
      "Perceptual near-dup: decode+dHash is one mapPartitions pass; distinct-hash collapse precedes the pair join (copies never meet the join); candidates come from the 4x16-char block equi-join (pigeonhole-lossless at radius 3), exact 64-position distance only on candidates — block-bucketed, never all-pairs.",
    "gr05_recursive_bfs" ->
      "Recursive-CTE BFS: ONE submitted plan whose UnionLoop node iterates engine-side (working table = previous step's rows) — no driver round-trips between rounds, no per-round plan growth; the recursive step is DISTINCT (levels bounded by |V|, never path counts) and depth-guarded, and the min-depth fold after the loop is one partial-aggregated groupBy.",
    "qs01_kll_quantiles" ->
      "Native TypedImperativeAggregate quantile sketch: ObjectHashAggregate partial/final pair — per-partition sketch states (O(k·log(n/k)) doubles each, NEVER the group's rows) serialize through the one exchange and merge; below the compaction threshold the estimate is provably the exact type-1 discrete quantile, which is what the DuckDB oracle hash-checks.",
    "mt02_blocked_gemm" ->
      "Blocked dense GEMM: k-block slicing + ×1000 int64 quantization ride ONE map-side posexplode (a vector's 4 blocks never leave its partition); the B side is 4 broadcast tiles (fixed 64×8 model width — broadcast is correct at any corpus scale, unlike mt01's corpus-growing vocab); the 16-term block contraction runs INSIDE a higher-order expression so the k dimension never becomes rows; per-vector C assembles via 8 map-side-combinable sums (complete before the single n-row exchange), and the census is 8 rows.",
    "mt01_sparse_matmul" ->
      "Distributed sparse GEMM: the contraction C=A·B is ONE shuffle equi-join on the contraction key (term) — A (corpus-sized tf triples) is touched by exactly that join, B (vocab-scale) rides the same shuffle and is never broadcast (the corpus-growing-vocabulary rule), fanning each triple by exactly 8 so a hot term cannot skew-amplify; C's partial sums combine map-side before the (doc, topic) exchange, the per-doc argmax runs through the k-bounded TopK operator (k=1, no window sort), and the report is an 8-row census. Bucketing both triple stores by term makes the contraction zero-Exchange at cluster scale (q48's layout argument applied to matrices).",
    "mv01_mv_rewrite" ->
      "Transparent materialized-view serving: the ONLY scan in the plan is the 6-row summary table (graft_mv_*) — lineitem never appears. The injected MvRewrite optimizer rule replaced the fact scan with a partial-state merge (COUNT -> SUM(cnt), SUM -> SUM(partial)) at optimization time; the query text is an ordinary fact-table aggregate. Measured scale-free: flat ~0.5 s while the fact table grew 100x (SCALING.md).",
    "mv03_mv_filtered" ->
      "MV rewrite under a predicate: the dim-only filter (l_returnflag <> 'A') selects whole grain groups, so the rule replays it verbatim over the summary scan — Filter sits above the 6-row MV relation, and the fact table is untouched. A predicate on any pre-aggregated column (q01's l_shipdate) structurally disqualifies the rewrite instead."
  )

  private def explain(spark: SparkSession, sfDir: String, name: String): String =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session()
    if (args.length > 3) {
      val Array(outDir, suffix) = args.slice(1, 3)
      Files.createDirectories(Paths.get(outDir))
      args.drop(3).foreach { name =>
        Files.write(Paths.get(s"$outDir/${name}_$suffix.txt"),
          explain(spark, sfDir, name).getBytes("UTF-8"))
        println(s"wrote $outDir/${name}_$suffix.txt")
      }
    } else {
      val out = args.lift(1).getOrElse("PLANS.md")
      val body = picks.map { case (name, why) =>
        s"## `$name`\n\n$why\n\n```\n${explain(spark, sfDir, name).trim}\n```\n"
      }.mkString("\n")
      val header =
        s"""# PLANS — physical-plan audit (generated by `graft.PlanDump`)
           |
           |Formatted plans for representative headline queries at $sfDir on the
           |harness session (`graft.Harness`, the bench's confs at ${Harness.cpus} cores).
           |Each section states the scale property the plan must carry; PlanSpec
           |enforces these properties in CI, this file makes them reviewable.
           |Regenerate: `tools/graft_java.sh graft.PlanDump`.
           |""".stripMargin
      Files.write(Paths.get(out), (header + "\n" + body).getBytes("UTF-8"))
      println(s"wrote $out (${picks.size} plans)")
    }
    spark.stop()
  }
}
