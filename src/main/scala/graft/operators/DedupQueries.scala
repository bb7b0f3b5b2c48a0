package graft.operators

import graft.{GraftQuery, Sessions, Sizing, Tables}
import graft.GraftQuery.q
import graft.Pin.PinOps
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines over the
  * `documents` table: exact (content-hash groupBy), n-gram/word-set
  * Jaccard pair scoring, and MinHash+LSH banding.
  *
  * Scale design: exact dedup is one hash-partitioned groupBy on the
  * content digest (never on the full text — the 16-byte digest is the
  * shuffle key). MinHash-LSH is the 100 TB near-dup path: signatures
  * are a per-row map-side computation, banding turns all-pairs O(n²)
  * into a groupBy on band keys, and only same-bucket candidates are
  * ever paired. The md5-min hash family keeps every value reproducible
  * in the DuckDB oracle.
  */
object DedupQueries {
  /** dd08/dd20's loop spans are bounded by the doc-bucket incidence, so
    * their width derives from `documents`; AQE off because its
    * per-stage driver barrier is pure latency at the sized width (r17
    * min-of-5: dd08 0.73×, dd20 0.81×). */
  private val ByDocuments = Sizing.Input("documents", adaptive = false)

  /** Exact-duplicate groups by content digest. The digest (not the
    * text) is the groupBy key, so the shuffle carries 32 hex chars per
    * row regardless of document size. */
  val dd01ExactGroups: GraftQuery = q(
    "dd01_exact_dup_groups",
    "exact dedup via content-hash groupBy",
    """SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
      |  MIN(doc_id) AS keeper_doc
      |FROM documents GROUP BY md5(text)
      |ORDER BY content_hash""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_doc"))
      .orderBy("content_hash")
  }

  /** Keep-first dedup: the surviving doc_id per distinct content. */
  val dd02KeepFirst: GraftQuery = q(
    "dd02_dedup_keep_first",
    "dedup keeping min doc_id per distinct text",
    """SELECT MIN(doc_id) AS doc_id, CAST(LENGTH(text) AS BIGINT) AS text_len
      |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), length(col("text")).cast(LongType).as("text_len"))
      .orderBy("doc_id")
  }

  /** Word-set Jaccard similarity for all pairs in a bounded cohort
    * (doc_id < 60 — the oracle-checkable miniature of the LSH
    * candidate-pair scoring stage; at scale the same pair scorer runs
    * only on same-bucket candidates from dd04/dd05). Exact integer
    * set sizes; one final double division. */
  val dd03JaccardPairs: GraftQuery = q(
    "dd03_jaccard_pairs",
    "n-gram (word-set) Jaccard pair scoring",
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents WHERE doc_id < 60),
      |cnt AS (SELECT doc_id, COUNT(*) AS c FROM tok GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, inter,
      |  CAST(inter AS DOUBLE) / CAST(ca.c + cb.c - inter AS DOUBLE) AS jaccard
      |FROM pairs JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
      |WHERE CAST(inter AS DOUBLE) / CAST(ca.c + cb.c - inter AS DOUBLE) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val tok = Tables.documents(s, d).filter(col("doc_id") < 60)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      .pinned // four readers: guard, cnt, both pair-join sides
    // the pair join emits one row per shared word per doc pair —
    // Θ(copies²·words) on a twin-heavy cohort; same fail-fast
    // discipline as dd10's banded stage (token histogram bounds the
    // join output exactly: every emitted row collides on its word)
    PairGuard.check(tok, Seq(col("w")), "dd03_jaccard_pairs",
      "dd19_twin_safe_lsh")
    val cnt = tok.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val a = tok.select(col("doc_id").as("doc_a"), col("w"))
    val b = tok.select(col("doc_id").as("doc_b"), col("w").as("wb"))
    val pairs = a.join(b, col("w") === col("wb") && col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val jac = col("inter").cast(DoubleType) /
      (col("ca") + col("cb") - col("inter")).cast(DoubleType)
    pairs
      .join(cnt.select(col("doc_id").as("da"), col("c").as("ca")), col("doc_a") === col("da"))
      .join(cnt.select(col("doc_id").as("db"), col("c").as("cb")), col("doc_b") === col("db"))
      .select(col("doc_a"), col("doc_b"), col("inter"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash signatures (4 hashes from the md5('j:'||word) family) +
    * 2 LSH bands of 2 rows each. Computed per-row with array
    * higher-order functions (TextFunctions.minhash) — fully map-side,
    * no explode, no shuffle; reproducible in any engine with md5. */
  val dd04MinhashSignatures: GraftQuery = q(
    "dd04_minhash_signatures",
    "MinHash signature + LSH band keys per document",
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |sig AS (
      |  SELECT doc_id,
      |    MIN(md5('0:' || w)) AS s0, MIN(md5('1:' || w)) AS s1,
      |    MIN(md5('2:' || w)) AS s2, MIN(md5('3:' || w)) AS s3
      |  FROM tok GROUP BY doc_id)
      |SELECT doc_id, s0, s1, s2, s3,
      |  md5(s0 || s1) AS band1, md5(s2 || s3) AS band2
      |FROM sig ORDER BY doc_id""".stripMargin) { (s, d) =>
    def mh(j: Int) = TextFunctions.minhash(col("text"), j).as(s"s$j")
    Tables.documents(s, d)
      .select(col("doc_id"), mh(0), mh(1), mh(2), mh(3))
      .withColumn("band1", md5(concat(col("s0"), col("s1"))))
      .withColumn("band2", md5(concat(col("s2"), col("s3"))))
      .orderBy("doc_id")
  }

  /** LSH candidate buckets: documents sharing band1 are near-dup
    * candidates. This groupBy-on-band-key is what replaces the O(n²)
    * all-pairs join at scale. */
  val dd05LshBuckets: GraftQuery = q(
    "dd05_lsh_buckets",
    "LSH banding: near-dup candidate buckets",
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |sig AS (
      |  SELECT doc_id, MIN(md5('0:' || w)) AS s0, MIN(md5('1:' || w)) AS s1
      |  FROM tok GROUP BY doc_id)
      |SELECT md5(s0 || s1) AS bucket, COUNT(*) AS n_docs,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM sig GROUP BY md5(s0 || s1)
      |HAVING COUNT(*) > 1
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), TextFunctions.lshBand(col("text"), 0, 2).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("bucket")
  }

  /** Embedding-cosine near-duplicates, bucketed: candidate pairs come
    * only from the same sign-bit LSH bucket (the 100 TB shape — an
    * equi-join on bucket id, never an all-pairs cross join), then the
    * exact cosine confirms. Same deterministic 64-term arithmetic as
    * sm01 (see [[SimilarityQueries]]). */
  val dd06EmbeddingNearDup: GraftQuery = {
    import VectorSql.{sqlBucket, sqlDot, sqlNorm2}
    q("dd06_embedding_neardup",
      "embedding-cosine near-dup pairs via LSH buckets",
      // norms pre-projected once per vector (not per pair) — the
      // oracle-memory fix applied across the cosine family this round;
      // dot/(na·nb) is the identical fp tree, hashes unchanged
      s"""WITH coded AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, ${sqlBucket("e")} AS bucket,
         |    SQRT(${sqlNorm2("e")}) AS nrm
         |  FROM embeddings e),
         |pairs AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    ${sqlDot("a", "b")} / (a.nrm * b.nrm) AS cosine
         |  FROM coded a JOIN coded b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
      val coded = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          VectorSql.bucketExpr("embedding").as("bucket"))
      val a = coded.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("bucket"))
      val b = coded.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("bucket").as("bb"))
      a.join(b, col("bucket") === col("bb") && col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          graft.plans.VectorExpressions.cosine_similarity(col("ea"), col("eb"))
            .as("cosine"))
        .filter(col("cosine") >= 0.4)
        .orderBy("vec_a", "vec_b")
    }
  }

  /** Text SimHash: 8-bit signature where bit j is the sign of the
    * occurrence-weighted sum of words' md5-derived bits — one explode +
    * one groupBy, all integer arithmetic, reproducible in any engine
    * with md5 and bitwise AND. */
  val dd07Simhash: GraftQuery = q(
    "dd07_simhash",
    "8-bit SimHash document fingerprint",
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |SELECT doc_id, ${sqlSimhash(8)} AS simhash
       |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id")
      .agg(simhash(8).as("simhash"))
      .orderBy("doc_id")
  }

  /** dd07/dd17's `bits`-bit SimHash of the words `w` of a group, as a
    * DuckDB aggregate: bit j is set when more words have bit j of their
    * md5 set than not. */
  private def sqlSimhash(bits: Int): String = (0 until bits).map { j =>
    val bitSum = s"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(md5(w), ${1 + j / 4}, 1)) - 1) & ${1 << (j % 4)}) > 0 THEN 1 ELSE -1 END)"
    s"(CASE WHEN $bitSum > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
  }.mkString(" + ")

  /** [[sqlSimhash]] as a Spark aggregate over column `w`. */
  private def simhash(bits: Int): Column = (0 until bits).map { j =>
    val hexVal = conv(substring(md5(col("w")), 1 + j / 4, 1), 16, 10).cast(LongType)
    val bitSum = sum(when(hexVal.bitwiseAND(lit(1L << (j % 4))) > 0, 1).otherwise(-1))
    when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
  }.reduceLeft(_ + _)

  /** Shared SQL prefix: doc → LSH band-1 bucket (as dd05). */
  private val sqlBkt =
    """tok AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |sig AS (
      |  SELECT doc_id, MIN(md5('0:' || w)) AS s0, MIN(md5('1:' || w)) AS s1
      |  FROM tok GROUP BY doc_id),
      |bkt AS (SELECT doc_id, md5(s0 || s1) AS bucket FROM sig)""".stripMargin

  /** dd08/dd20's oracle: min-label propagation over the shared-bucket
    * incidence. An earlier oracle materialized doc-doc edges (Σ bucket²
    * pairs — 15M at sf0.1, one mega-bucket) and ran a recursive
    * transitive closure over them; DuckDB timed out. This form mirrors
    * the engine's algorithm instead: min-label propagation over the
    * doc↔bucket INCIDENCE (≤ 2 rows per doc, never a pair set),
    * unrolled to the same 30-round cap as the Spark loop. Labels only
    * ever decrease, so rounds after convergence are identity — a fixed
    * 30 rounds is EQUIVALENT to the engine's fixpoint when it converges
    * within 30 rounds. Every CTE carries AS MATERIALIZED: DuckDB
    * otherwise INLINES the single-reference round CTEs into one
    * exponentially-nested plan (observed: 0.6 s materialized vs >120 s
    * inlined at sf0.01). */
  private val incidenceFoldSql: String =
    (s"""WITH tok AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |    MIN(md5('0:' || w)) AS s0, MIN(md5('1:' || w)) AS s1,
       |    MIN(md5('2:' || w)) AS s2, MIN(md5('3:' || w)) AS s3
       |  FROM tok GROUP BY doc_id),
       |inc0 AS MATERIALIZED (
       |  SELECT doc_id, '1:' || md5(s0 || s1) AS bucket FROM sig
       |  UNION ALL
       |  SELECT doc_id, '2:' || md5(s2 || s3) AS bucket FROM sig),
       |shared AS MATERIALIZED (SELECT bucket FROM inc0 GROUP BY bucket HAVING COUNT(*) > 1),
       |inc AS MATERIALIZED (SELECT i.doc_id, i.bucket FROM inc0 i JOIN shared USING (bucket)),
       |l0 AS MATERIALIZED (SELECT DISTINCT doc_id, doc_id AS lbl FROM inc)"""
      + (1 to 30).map(k =>
        s""",
       |b$k AS MATERIALIZED (SELECT i.bucket, MIN(l.lbl) AS blbl
       |  FROM inc i JOIN l${k - 1} l USING (doc_id) GROUP BY i.bucket),
       |l$k AS MATERIALIZED (SELECT i.doc_id, MIN(b.blbl) AS lbl
       |  FROM inc i JOIN b$k b USING (bucket) GROUP BY i.doc_id)""").mkString
      + s"""
       |SELECT doc_id, lbl AS cluster_id FROM l30 ORDER BY doc_id""").stripMargin

  /** Transitive near-dup clusters: connected components over the LSH
    * candidate graph with TWO band keys per doc (candidate ⇔ ANY band
    * matches — the standard LSH union rule), so a chain a~b (band 1)
    * ~c (band 2) lands in ONE cluster even though a and c share no
    * bucket. Components are computed on the bipartite doc↔bucket
    * incidence (never materializing the per-bucket quadratic edge
    * set), in one of two ways chosen by the input-sized width
    * ([[graft.Sessions.inputWidth]] of `documents`, a file listing, no
    * job):
    *  - width 1 (under 1 MB of documents, every testdata SF): one
    *    union-find task over the raw incidence ([[bucketComponents]]),
    *    so the LSH bands are computed once and the build starts no
    *    job beyond the parquet schema read;
    *  - wider: [[labelFold]], the distributed doc→bucket→doc min fold,
    *    one job per round, rounds = half the component diameter plus
    *    a confirming round (5, 4 and 4 at sf0.001, sf0.01 and sf0.1).
    *    At cluster scale the same loop stands (dd20's
    *    large-star/small-star for O(log n) rounds on adversarial
    *    graphs).
    * Both give the exact min-reachable-doc fixpoint; the fold refuses
    * to return labels it has not seen converge within 30 rounds.
    * Oracle: min-label propagation over the same incidence, 30 rounds
    * unrolled — the Spark side runs the full corpus at any scale
    * precisely because it never builds the pair edges (20M+ implied
    * pairs at sf0.1 on this high-collision synthetic corpus). */
  val dd08DupClusters: GraftQuery = q(
    "dd08_dup_clusters",
    "connected-component near-dup clusters over 2-band LSH candidates",
    incidenceFoldSql, sizing = ByDocuments) { (s, d) =>
    clusters(s, d)(inc0 => labelFold(shared(inc0).pinned))
  }

  /** dd08/dd20's builder: (doc_id, cluster_id) over the [[incidence]],
    * ordered by doc_id. When `documents` sizes to width 1 it is one
    * union-find task ([[bucketComponents]]), else the query's own
    * distributed loop `wide` over the raw incidence. */
  private def clusters(s: SparkSession, d: String)(
      wide: DataFrame => DataFrame): DataFrame = {
    val inc0 = incidence(s, d)
    val labels =
      if (Sessions.inputWidth(s, d, "documents") == 1L) bucketComponents(inc0)
      else wide(inc0)
    labels.orderBy("doc_id")
  }

  /** dd08/dd20's doc↔bucket incidence: each doc's two LSH band buckets. */
  private[graft] def incidence(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(array(
        concat(lit("1:"), TextFunctions.lshBand(col("text"), 0, 2)),
        concat(lit("2:"), TextFunctions.lshBand(col("text"), 2, 4)))).as("bucket"))

  /** The incidence rows of buckets with ≥ 2 docs: only those carry
    * edges, so solo incidences drop out. */
  private[graft] def shared(inc0: DataFrame): DataFrame = {
    val sh = inc0.groupBy("bucket").agg(count(lit(1)).as("nb"))
      .filter(col("nb") > 1).select("bucket")
    inc0.join(sh, "bucket").select(col("doc_id"), col("bucket"))
  }

  /** dd08/dd20's one-task path: (doc_id, cluster_id) from union-find over
    * the raw incidence. Each bucket links its members to the first doc
    * seen in it (the bucket-star reduction, in memory), so a doc whose
    * buckets are all solo joins no edge and drops out, as in
    * [[shared]]. */
  private def bucketComponents(inc0: DataFrame): DataFrame = {
    import inc0.sparkSession.implicits._
    inc0.as[(Long, String)].repartition(1).mapPartitions { rows =>
      val first = scala.collection.mutable.HashMap.empty[String, Long]
      Components.unionFind(rows.flatMap { case (doc, bucket) =>
        first.get(bucket) match {
          case Some(f) => Iterator.single((doc, f))
          case None => first(bucket) = doc; Iterator.empty
        }
      })
    }.toDF("doc_id", "cluster_id")
  }

  /** dd08's distributed path: the doc→bucket→doc min-label fold over
    * the shared incidence, at the session's width, to
    * (doc_id, cluster_id). [[graft.Pin]] keeps each round's
    * labels so later rounds read cached blocks (persist does NOT
    * truncate lineage — the plan grows one round per iteration).
    * Convergence is detected from the label sum, which strictly
    * decreases until the fixpoint: one scalar action per round, no
    * old-vs-new join. */
  private[graft] def labelFold(inc: DataFrame): DataFrame = {
    var labels = inc.select(col("doc_id")).distinct()
      .withColumn("lbl", col("doc_id")).pinned
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("lbl"), lit(0L))).head().getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 30) {
      val bucketMin = inc.join(labels, "doc_id")
        .groupBy("bucket").agg(min("lbl").as("blbl"))
      // persisted, not counted: labelSum's action fills the cache, so
      // each round pays ONE job
      val next = inc.join(bucketMin, "bucket")
        .groupBy("doc_id").agg(min("blbl").as("lbl")).pinned
      val s2 = labelSum(next)
      converged = s2 == prevSum
      prevSum = s2
      labels = next
      rounds += 1
    }
    // labels short of the fixpoint would differ from the one-task
    // path's exact components and from the oracle's 30 rounds
    require(converged,
      s"dd08_dup_clusters: the label fold did not converge in $rounds rounds; " +
        "refusing to return unconverged cluster labels")
    labels.select(col("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Keep-best dedup policy: per candidate bucket keep the longest doc
    * (ties → smallest doc_id), reported only for buckets that actually
    * contain duplicates. The keeper pick routes through the custom
    * [[graft.plans.TopKPerGroup]] operator with k=1 — the map-side
    * partial keeps one row per bucket per task, so the shuffle carries
    * one candidate per bucket per task instead of every member (the
    * window idiom would shuffle and sort full buckets). */
  val dd09KeepBest: GraftQuery = q(
    "dd09_keep_best_in_bucket",
    "keep-best dedup policy per LSH bucket (custom top-k operator)",
    s"""WITH $sqlBkt,
       |sized AS (
       |  SELECT b.bucket, d.doc_id, d.n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY b.bucket
       |      ORDER BY d.n_chars DESC, d.doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY b.bucket) AS n_docs
       |  FROM bkt b JOIN documents d ON b.doc_id = d.doc_id)
       |SELECT bucket, doc_id AS keeper, n_chars, n_docs
       |FROM sized WHERE rn = 1 AND n_docs > 1 ORDER BY bucket""".stripMargin) { (s, d) =>
    val bkt = Tables.documents(s, d)
      .select(col("doc_id"), TextFunctions.lshBand(col("text"), 0, 2).as("bucket"),
        col("n_chars"))
    val sizes = bkt.groupBy("bucket").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
    val keep = graft.plans.TopKPerGroup.perGroup(
      bkt, Seq(col("bucket")), struct(col("n_chars"), -col("doc_id")), 1)
    keep.join(sizes, "bucket")
      .select(col("bucket"), col("doc_id").as("keeper"), col("n_chars"),
        col("n_docs"))
      .orderBy("bucket")
  }

  /** Production-parameter MinHash-LSH end to end: word-3-gram
    * shingles, 8-component signatures, 2 bands × 4 rows (similarity
    * threshold (1/b)^(1/r) ≈ 0.84), band-OR candidate generation,
    * exact shingle-Jaccard confirm — the complete near-dup pipeline at
    * its real shape. Unigram sets saturate on this corpus's tiny
    * vocabulary (dd04/dd05 keep that miniature); shingles restore
    * selectivity, cutting candidates from ~82% of all pairs to ~0.02%.
    * Each doc explodes to its 2 (band_idx, band_key) rows; the
    * self-equi-join on the band key ORs the bands (groupBy on the pair
    * dedups multi-band hits); only surviving candidates ever reach the
    * exact scorer. The band key, not the text, is the shuffle key
    * throughout. */
  val dd10ProductionLsh: GraftQuery = {
    val R = 4 // rows per band
    val B = 2 // bands
    val bandsSql = (0 until B).map { b =>
      val comps = (b * R until (b + 1) * R).map(j => s"s$j").mkString(" || ")
      s"SELECT doc_id, $b AS band_idx, md5($comps) AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    q("dd10_production_lsh",
      "MinHash-LSH near-dup pipeline: 3-gram shingles, 8 hashes, 2 bands x 4 rows",
      s"""WITH words AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |  WHERE len(string_split(text, ' ')) >= 3),
         |sh AS (
         |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS w
         |  FROM words, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         |sig AS (
         |  SELECT doc_id,
         |    ${(0 until B * R).map(j => s"MIN(md5('$j:' || w)) AS s$j").mkString(", ")}
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandsSql),
         |cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_bands
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, c.n_bands, COUNT(*) AS i
         |  FROM cand c JOIN sh ta ON ta.doc_id = c.doc_a
         |  JOIN sh tb ON tb.doc_id = c.doc_b AND tb.w = ta.w
         |  GROUP BY c.doc_a, c.doc_b, c.n_bands)
         |SELECT doc_a, doc_b, n_bands,
         |  CAST(i AS DOUBLE) / CAST(ca.c + cb.c - i AS DOUBLE) AS jaccard
         |FROM inter JOIN cnt ca ON doc_a = ca.doc_id
         |JOIN cnt cb ON doc_b = cb.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      // The shingle array and the md5-family signature are the
      // expensive map-side expressions; every downstream branch (both
      // self-join sides, both confirm sides) would re-evaluate them
      // per reference. Pin materializes each ONCE — both frames
      // are a few rows-per-doc of short strings, so the materialized
      // state is tiny next to the recomputation it saves (9 s → s).
      val docs = Tables.documents(s, d)
        .filter(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"), TextFunctions.shingles(col("text"), 3).as("sh"))
        .pinned
      // 8-component signature (native single-pass expression, values
      // identical to the minhashOf composition) + B band rows, map-side
      val sig = docs.select(col("doc_id"),
        graft.plans.VectorExpressions.minhash_signature(col("sh"), B * R).as("sig"))
      val bands = sig.select(col("doc_id"), explode(array((0 until B).map(b =>
        struct(lit(b).as("band_idx"),
          md5(concat((b * R until (b + 1) * R).map(j =>
            element_at(col("sig"), j + 1)): _*)).as("bkey"))): _*)).as("e"))
        .select(col("doc_id"), col("e.band_idx").as("band_idx"), col("e.bkey").as("bkey"))
        .pinned
      // fail fast on twin-heavy corpora BEFORE the Θ(copies²) pair
      // join materializes: one bucket-histogram aggregate over the
      // pinned band frame bounds the output exactly (SCALING.md
      // documents the unguarded 100× twin-heavy OOM)
      PairGuard.check(bands, Seq(col("band_idx"), col("bkey")),
        "dd10_production_lsh", "dd19_twin_safe_lsh")
      val cand = bands.select(col("doc_id").as("doc_a"), col("band_idx"), col("bkey"))
        .join(bands.select(col("doc_id").as("doc_b"),
          col("band_idx").as("bi"), col("bkey").as("bk")),
          col("band_idx") === col("bi") && col("bkey") === col("bk") &&
            col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))
      // exact confirm: shingle-set intersection only for surviving pairs
      val tok = docs.select(col("doc_id"), explode(col("sh")).as("w"))
      val cnt = tok.groupBy("doc_id").agg(count(lit(1)).as("c"))
      val inter = cand
        .join(tok.select(col("doc_id").as("da"), col("w")), col("doc_a") === col("da"))
        .join(tok.select(col("doc_id").as("db"), col("w").as("wb")),
          col("doc_b") === col("db") && col("w") === col("wb"))
        .groupBy("doc_a", "doc_b", "n_bands").agg(count(lit(1)).as("i"))
      inter
        .join(cnt.select(col("doc_id").as("ca_id"), col("c").as("ca")),
          col("doc_a") === col("ca_id"))
        .join(cnt.select(col("doc_id").as("cb_id"), col("c").as("cb")),
          col("doc_b") === col("cb_id"))
        .select(col("doc_a"), col("doc_b"), col("n_bands"),
          (col("i").cast(DoubleType) /
            (col("ca") + col("cb") - col("i")).cast(DoubleType)).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }
  }

  /** Cross-document repeated n-grams — the substring-level view of
    * duplication that doc-level hashing misses (boilerplate headers,
    * license blocks, templated spans). Word 5-grams are a map-side
    * array transform per row (no self-join); the count is the classic
    * word-count shape (partial agg, one shuffle on the gram key); the
    * top-30 report plans as TakeOrderedAndProject, so the full gram
    * table is never globally sorted. At 100 TB the gram key-space is
    * huge but each task only holds its partial map — memory stays
    * bounded, and spans seen once (the overwhelming majority) die in
    * the partial aggregate's single pass. */
  val dd11RepeatedNgrams: GraftQuery = GraftQuery(
    "dd11_repeated_ngrams",
    (s, d) => {
      val grams = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .filter(size(col("ts")) >= 5)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ts)-5), i -> array_join(slice(ts, i+1, 5), ' '))"
        )).as("gram"))
      grams.groupBy("gram")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_total"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("n_total").desc, col("gram"))
        .limit(30)
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |grams AS (
      |  SELECT doc_id, array_to_string(ts[i:i+4], ' ') AS gram
      |  FROM toks, UNNEST(range(1, len(ts)-3)) AS t(i)
      |  WHERE len(ts) >= 5)
      |SELECT gram, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_total
      |FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
      |ORDER BY n_docs DESC, n_total DESC, gram LIMIT 30""".stripMargin),
    "cross-doc repeated 5-grams (substring-level duplication, map-side grams)")

  /** Boilerplate SCRUB — the removal-side complement of dd11's
    * detection: every word 5-gram instance is marked against the hot
    * set (grams appearing in ≥ 3 distinct docs — headers, license
    * blocks, templated spans), giving each document its boilerplate
    * ratio and clean-gram count, the per-doc signal a C4-style
    * pipeline filters and trims on. Scale shape: grams are a map-side
    * transform (no self-join); the hot set grows WITH the corpus (its
    * absolute size is Zipf-small at any one scale, but df>=3 grams are
    * corpus-unbounded, so it is never hinted for broadcast) — the
    * mark-back is a plain equi-join on the gram key, the same key the
    * hot aggregation already shuffled on, so AQE can still pick a
    * broadcast when the RUNTIME size is under threshold while the plan
    * stays safe at 100x. The ratio is one IEEE division of exact
    * integer counts. */
  val dd13BoilerplateScrub: GraftQuery = q(
    "dd13_boilerplate_scrub",
    "C4-style boilerplate scrub: per-doc hot-gram marking, ratio + clean count",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |grams AS (
      |  SELECT doc_id, array_to_string(ts[i:i+4], ' ') AS gram
      |  FROM toks, UNNEST(range(1, len(ts)-3)) AS t(i)
      |  WHERE len(ts) >= 5),
      |hot AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 3),
      |marks AS (
      |  SELECT g.doc_id, CASE WHEN h.gram IS NULL THEN 0 ELSE 1 END AS boiler
      |  FROM grams g LEFT JOIN hot h ON g.gram = h.gram)
      |SELECT doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(boiler) AS BIGINT) AS n_boiler,
      |  CAST(COUNT(*) - SUM(boiler) AS BIGINT) AS n_clean,
      |  CAST(SUM(boiler) AS DOUBLE) / COUNT(*) AS boiler_ratio
      |FROM marks GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 5)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ts)-5), i -> array_join(slice(ts, i+1, 5), ' '))"
      )).as("gram"))
    // Pre-aggregated hash-group path (r17): collapse the gram INSTANCE
    // stream to per-(doc, gram) counts once, and derive both the hot
    // set (count over the deduped pairs ≡ countDistinct(doc_id) over
    // instances) and the mark-back from that frame — the instance-
    // level form re-ran the corpus-wide explode on both sides of the
    // hot join (guide §2.3: aggregate before you shuffle). Forced
    // eagerly: the hot aggregate and the join probe are independent
    // stages the scheduler runs concurrently, and both would race to
    // evaluate a lazily-pinned explode.
    val g2 = grams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .pinned
    g2.count()
    val hot = g2.groupBy("gram")
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 3)
      .select(col("gram").as("hgram"))
    g2.join(hot, col("gram") === col("hgram"), "left")
      .select(col("doc_id"), col("c"),
        when(col("hgram").isNull, 0L).otherwise(col("c")).as("boiler"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_grams"),
        sum(col("boiler")).cast(LongType).as("n_boiler"),
        (sum(col("c")) - sum(col("boiler"))).cast(LongType).as("n_clean"))
      .withColumn("boiler_ratio",
        col("n_boiler").cast(DoubleType) / col("n_grams").cast(DoubleType))
      .orderBy("doc_id")
  }

  /** Incremental near-dup ADMISSION — the shape a 100 TB ingest
    * actually runs: a small new shard (here docs with doc_id % 10 = 0)
    * is checked against the EXISTING corpus's LSH bands without
    * re-clustering the corpus. The corpus band table is static state
    * (at cluster scale: bucketed by band key, so this is a
    * shuffle-free lookup join); the delta side is small and broadcast.
    * Per delta doc we report how many distinct corpus docs share any
    * band (band-OR, dd10's parameters) and whether it is admitted
    * (zero collisions). Docs under 3 words carry no shingles and are
    * auto-admitted. */
  /** LSH band table `(doc_id, band_idx, bkey)` under dd10/dd12's
    * 8-hash 2×4 banding. Streaming-safe (no pin, no action): the same
    * function builds dd12's batch band table AND the per-microbatch
    * delta bands in [[graft.streaming.EventStreams.incrementalAdmission]],
    * so batch and stream admission agree by construction. Caller
    * pre-filters docs to ≥ 3 words — shorter docs carry no 3-shingles. */
  def lshBands(docs: DataFrame, rows: Int = 4, bands: Int = 2): DataFrame = {
    val sh = docs.select(col("doc_id"),
      TextFunctions.shingles(col("text"), 3).as("sh"))
    val sig = sh.select(col("doc_id"),
      graft.plans.VectorExpressions.minhash_signature(col("sh"), bands * rows).as("sig"))
    sig.select(col("doc_id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band_idx"),
          md5(concat((b * rows until (b + 1) * rows).map(j =>
            element_at(col("sig"), j + 1)): _*)).as("bkey"))): _*)).as("e"))
      .select(col("doc_id"), col("e.band_idx").as("band_idx"),
        col("e.bkey").as("bkey"))
  }

  val dd12IncrementalAdmission: GraftQuery = {
    val R = 4
    val B = 2
    val bandsSql = (0 until B).map { b =>
      val comps = (b * R until (b + 1) * R).map(j => s"s$j").mkString(" || ")
      s"SELECT doc_id, $b AS band_idx, md5($comps) AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    q("dd12_incremental_admission",
      "delta-vs-corpus LSH admission: dedup a new shard without re-clustering the corpus",
      s"""WITH words AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |  WHERE len(string_split(text, ' ')) >= 3),
         |sh AS (
         |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS w
         |  FROM words, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         |sig AS (
         |  SELECT doc_id,
         |    ${(0 until B * R).map(j => s"MIN(md5('$j:' || w)) AS s$j").mkString(", ")}
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandsSql),
         |delta AS (SELECT * FROM bands WHERE doc_id % 10 = 0),
         |corpus AS (SELECT * FROM bands WHERE doc_id % 10 <> 0),
         |hits AS (
         |  SELECT d.doc_id, CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_cand
         |  FROM delta d JOIN corpus c
         |    ON d.band_idx = c.band_idx AND d.bkey = c.bkey
         |  GROUP BY d.doc_id),
         |deltadocs AS (SELECT DISTINCT doc_id FROM delta)
         |SELECT dd.doc_id, COALESCE(n_cand, 0) AS n_cand,
         |  COALESCE(n_cand, 0) = 0 AS admitted
         |FROM deltadocs dd LEFT JOIN hits ON dd.doc_id = hits.doc_id
         |ORDER BY dd.doc_id""".stripMargin) { (s, d) =>
      val bands = lshBands(
          Tables.documents(s, d).filter(size(split(col("text"), " ")) >= 3),
          rows = R, bands = B)
        .pinned // one signature pass feeds both split branches
      val delta = bands.filter(col("doc_id") % 10 === 0)
      val corpus = bands.filter(col("doc_id") % 10 =!= 0)
      val hits = broadcast(delta
          .select(col("doc_id").as("d_id"), col("band_idx"), col("bkey")))
        .join(corpus.select(col("doc_id").as("c_id"),
          col("band_idx").as("bi"), col("bkey").as("bk")),
          col("band_idx") === col("bi") && col("bkey") === col("bk"))
        .groupBy("d_id").agg(countDistinct(col("c_id")).as("n_cand"))
      delta.select(col("doc_id")).distinct()
        .join(hits, col("doc_id") === col("d_id"), "left")
        .select(col("doc_id"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          (coalesce(col("n_cand"), lit(0L)) === 0L).as("admitted"))
        .orderBy("doc_id")
    }
  }

  /** One evolving-admission verdict pass — the shared kernel of the
    * dd18 batch twin and the streaming face
    * ([[graft.streaming.EventStreams.evolvingAdmission]]), so batch ≡
    * stream by construction.
    *
    * `bands` is the arriving shard's band table; `state` is the
    * evolving band table `(doc_id, band_idx, bkey, is_corpus)` —
    * pre-existing corpus bands plus the bands of every
    * previously-arrived delta doc. A doc's candidates are the DISTINCT
    * docs sharing any band that are either corpus (pre-admitted,
    * whatever their id) or ID-EARLIER deltas (`o_id < doc_id`). The
    * id-order predicate — applied to state and intra-shard rows alike
    * — is what makes the verdict ARRIVAL-ORDER-INVARIANT: however the
    * stream splits docs into micro-batches, and in whatever order they
    * arrive, every pair (d', d) with d' < d is counted exactly once,
    * either from state (d' arrived earlier) or from the in-shard union
    * (same batch). So the stream needs no ordering contract at all,
    * and the batch twin is one self-join, not a recursion.
    *
    * Semantics note: the state accretes ALL seen docs' bands, not just
    * admitted ones — the conservative variant (admits a strict subset
    * of the admitted-only-state variant: any doc it admits collides
    * with nothing seen, so the serial variant admits it too). The
    * admitted-only variant's intra-shard chain (each verdict depends
    * on the previous verdict's outcome) is inherently serial and
    * cannot parallelize across a shard at any scale.
    *
    * Scale: one equi-join on (band_idx, bkey) — bucketed by band key
    * at cluster scale, so the probe never reshuffles the state table;
    * the id/corpus predicates ride the join as post-filters. */
  def evolvingVerdict(bands: DataFrame, state: DataFrame): DataFrame = {
    val pool = state
      .select(col("doc_id").as("o_id"), col("band_idx").as("bi"),
        col("bkey").as("bk"), col("is_corpus"))
      .unionByName(bands.select(col("doc_id").as("o_id"),
        col("band_idx").as("bi"), col("bkey").as("bk"),
        lit(false).as("is_corpus")))
    val hits = bands
      .join(pool, col("band_idx") === col("bi") && col("bkey") === col("bk") &&
        (col("is_corpus") || col("o_id") < col("doc_id")))
      .groupBy("doc_id").agg(countDistinct(col("o_id")).as("n_cand"))
    bands.select(col("doc_id")).distinct()
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        (coalesce(col("n_cand"), lit(0L)) === 0L).as("admitted"))
  }

  /** Evolving-corpus LSH admission — dd12 with the band table itself
    * evolving: each arriving doc's bands join every FUTURE arrival's
    * probe, so a shard full of mutual near-dups admits only its
    * id-first representative (dd12, stream-static, would admit them
    * all — its corpus never learns). This batch twin runs the whole
    * delta as one shard through [[evolvingVerdict]]; the streaming
    * face replays it micro-batch by micro-batch over persisted state
    * and StreamingSpec pins stream ≡ this oracle-checked query. */
  val dd18EvolvingAdmission: GraftQuery = {
    val R = 4
    val B = 2
    val bandsSql = (0 until B).map { b =>
      val comps = (b * R until (b + 1) * R).map(j => s"s$j").mkString(" || ")
      s"SELECT doc_id, $b AS band_idx, md5($comps) AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    q("dd18_evolving_admission",
      "evolving-corpus LSH admission: every arrival's bands screen all later arrivals",
      s"""WITH words AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |  WHERE len(string_split(text, ' ')) >= 3),
         |sh AS (
         |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS w
         |  FROM words, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         |sig AS (
         |  SELECT doc_id,
         |    ${(0 until B * R).map(j => s"MIN(md5('$j:' || w)) AS s$j").mkString(", ")}
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandsSql),
         |delta AS (SELECT * FROM bands WHERE doc_id % 10 = 0),
         |corpus AS (SELECT * FROM bands WHERE doc_id % 10 <> 0),
         |hits AS (
         |  SELECT d.doc_id, CAST(COUNT(DISTINCT o.doc_id) AS BIGINT) AS n_cand
         |  FROM delta d JOIN (
         |    SELECT doc_id, band_idx, bkey, TRUE AS is_corpus FROM corpus
         |    UNION ALL
         |    SELECT doc_id, band_idx, bkey, FALSE AS is_corpus FROM delta) o
         |    ON d.band_idx = o.band_idx AND d.bkey = o.bkey
         |      AND (o.is_corpus OR o.doc_id < d.doc_id)
         |  GROUP BY d.doc_id),
         |deltadocs AS (SELECT DISTINCT doc_id FROM delta)
         |SELECT dd.doc_id, COALESCE(n_cand, 0) AS n_cand,
         |  COALESCE(n_cand, 0) = 0 AS admitted
         |FROM deltadocs dd LEFT JOIN hits ON dd.doc_id = hits.doc_id
         |ORDER BY dd.doc_id""".stripMargin) { (s, d) =>
      val bands = lshBands(
          Tables.documents(s, d).filter(size(split(col("text"), " ")) >= 3),
          rows = R, bands = B)
        .pinned // one signature pass feeds the delta and corpus splits
      val delta = bands.filter(col("doc_id") % 10 === 0)
      val corpus = bands.filter(col("doc_id") % 10 =!= 0)
        .withColumn("is_corpus", lit(true))
      evolvingVerdict(delta, corpus).orderBy("doc_id")
    }
  }

  /** Twin-safe production LSH — dd10's exact pipeline (3-gram
    * shingles, 8-hash signatures, 2 bands × 4 rows, band-OR, exact
    * Jaccard confirm) run at the REPRESENTATIVE level: identical
    * shingle-sets collapse to their min-id doc first (copy counts
    * carried), the ss02/ss03 sequencing applied to the MinHash route.
    *
    * Why this variant must exist: dd10's doc-level pair output is
    * Θ(copies²) on a twin-heavy corpus — the 1000× key-shifted replica
    * gives every doc 999 identical twins, so the TRUE doc-level result
    * alone is ~5000·C(1000,2) ≈ 2.5e9 rows and no candidate-pruning
    * scheme escapes output cardinality (measured: dd10 heap-OOMs at
    * the 100× probe already — the exact-confirm stage streams ~100M
    * candidate pairs × their shingle arrays; SCALING.md growth table).
    * The
    * collapse is LOSSLESS for MinHash: identical sets ⇒ identical
    * signatures ⇒ identical bands, and Jaccard depends only on the
    * sets, so every doc-level pair (x, y) with distinct sets is the
    * representative pair (rep(x), rep(y)) with multiplicity
    * a_copies·b_copies, and within-set twins are the n_copies counts —
    * the doc-level answer is a cheap cross-expansion of this result.
    *
    * Scale: the per-doc work (shingle + fingerprint) is one map-side
    * pass; the collapse is one groupBy on the 16-byte set fingerprint
    * (never the text); everything downstream — signature, banding,
    * candidate join, confirm — runs on the DISTINCT-set corpus, whose
    * size the twin replicas cannot grow. */
  val dd19TwinSafeLsh: GraftQuery = {
    val R = 4 // rows per band
    val B = 2 // bands
    val bandsSql = (0 until B).map { b =>
      val comps = (b * R until (b + 1) * R).map(j => s"s$j").mkString(" || ")
      s"SELECT doc_id, $b AS band_idx, md5($comps) AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    q("dd19_twin_safe_lsh",
      "twin-safe MinHash-LSH: identical-set collapse, then dd10's pipeline over representatives",
      s"""WITH words AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |  WHERE len(string_split(text, ' ')) >= 3),
         |sh AS (
         |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS w
         |  FROM words, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         |fp AS (
         |  SELECT doc_id, md5(string_agg(w, chr(1) ORDER BY w)) AS f
         |  FROM sh GROUP BY doc_id),
         |grp AS (SELECT f, MIN(doc_id) AS rep, CAST(COUNT(*) AS BIGINT) AS n_copies
         |  FROM fp GROUP BY f),
         |rsh AS (SELECT s.doc_id, s.w FROM sh s JOIN grp g ON s.doc_id = g.rep),
         |sig AS (
         |  SELECT doc_id,
         |    ${(0 until B * R).map(j => s"MIN(md5('$j:' || w)) AS s$j").mkString(", ")}
         |  FROM rsh GROUP BY doc_id),
         |bands AS (
         |  $bandsSql),
         |cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_bands
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |cnt AS (SELECT doc_id, COUNT(*) AS c FROM rsh GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, c.n_bands, COUNT(*) AS i
         |  FROM cand c JOIN rsh ta ON ta.doc_id = c.doc_a
         |  JOIN rsh tb ON tb.doc_id = c.doc_b AND tb.w = ta.w
         |  GROUP BY c.doc_a, c.doc_b, c.n_bands)
         |SELECT doc_a, doc_b, n_bands,
         |  CAST(i AS DOUBLE) / CAST(ca.c + cb.c - i AS DOUBLE) AS jaccard,
         |  ga.n_copies AS a_copies, gb.n_copies AS b_copies
         |FROM inter JOIN cnt ca ON doc_a = ca.doc_id
         |JOIN cnt cb ON doc_b = cb.doc_id
         |JOIN grp ga ON ga.rep = doc_a
         |JOIN grp gb ON gb.rep = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      // Shingle set + its order-canonical fingerprint in ONE map-side
      // pass (shingles() is array_distinct'd, so sort_array(sh) is the
      // canonical set image); the fingerprint is engine-internal — it
      // only has to group identical sets together, which any correct
      // hash of the canonical image does in both engines.
      val docs = Tables.documents(s, d)
        .filter(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"), TextFunctions.shingles(col("text"), 3).as("sh"),
          md5(concat_ws("\u0001", sort_array(
            TextFunctions.shingles(col("text"), 3)))).as("f"))
        .pinned // three consumers: the collapse, the rep slice, the confirm
      val grp = docs.groupBy("f")
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_copies"))
      val reps = docs.join(
        grp.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("sh"))
        .pinned // rep-level frame feeds signature AND exact confirm
      val sig = reps.select(col("doc_id"),
        graft.plans.VectorExpressions.minhash_signature(col("sh"), B * R).as("sig"))
      val bands = sig.select(col("doc_id"), explode(array((0 until B).map(b =>
        struct(lit(b).as("band_idx"),
          md5(concat((b * R until (b + 1) * R).map(j =>
            element_at(col("sig"), j + 1)): _*)).as("bkey"))): _*)).as("e"))
        .select(col("doc_id"), col("e.band_idx").as("band_idx"), col("e.bkey").as("bkey"))
      val cand = bands.select(col("doc_id").as("doc_a"), col("band_idx"), col("bkey"))
        .join(bands.select(col("doc_id").as("doc_b"),
          col("band_idx").as("bi"), col("bkey").as("bk")),
          col("band_idx") === col("bi") && col("bkey") === col("bk") &&
            col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))
      val tok = reps.select(col("doc_id"), explode(col("sh")).as("w"))
      val cnt = tok.groupBy("doc_id").agg(count(lit(1)).as("c"))
      val inter = cand
        .join(tok.select(col("doc_id").as("da"), col("w")), col("doc_a") === col("da"))
        .join(tok.select(col("doc_id").as("db"), col("w").as("wb")),
          col("doc_b") === col("db") && col("w") === col("wb"))
        .groupBy("doc_a", "doc_b", "n_bands").agg(count(lit(1)).as("i"))
      inter
        .join(cnt.select(col("doc_id").as("ca_id"), col("c").as("ca")),
          col("doc_a") === col("ca_id"))
        .join(cnt.select(col("doc_id").as("cb_id"), col("c").as("cb")),
          col("doc_b") === col("cb_id"))
        .join(grp.select(col("rep").as("ga_id"), col("n_copies").as("a_copies")),
          col("doc_a") === col("ga_id"))
        .join(grp.select(col("rep").as("gb_id"), col("n_copies").as("b_copies")),
          col("doc_b") === col("gb_id"))
        .select(col("doc_a"), col("doc_b"), col("n_bands"),
          (col("i").cast(DoubleType) /
            (col("ca") + col("cb") - col("i")).cast(DoubleType)).as("jaccard"),
          col("a_copies"), col("b_copies"))
        .orderBy("doc_a", "doc_b")
    }
  }

  /** LSH tuning harness: precision/recall of the banded MinHash
    * candidate set (dd10's 8-hash, 2×4 scheme) against exact shingle
    * Jaccard ground truth, at two duplicate thresholds. This is the
    * evaluation every real pipeline runs before picking (bands, rows):
    * recall tells you what the bander MISSES, precision what the
    * confirm stage must filter. Ground truth is quadratic BY
    * DEFINITION, so the harness runs on a FIXED-ABSOLUTE-SIZE doc
    * slice: a fixed id prefix plus a modulus stripe whose modulus is
    * derived from the corpus count (mod = max(1, n/SAMP)), so the
    * stripe holds ~SAMP docs at EVERY corpus scale — at 100 TB the
    * truth join still sees a few hundred docs, not a 10% stripe of the
    * corpus (the same count-calibrated sampling a production tuning
    * pass uses; dd03's miniature precedent). The LSH side itself stays
    * the linear band shape.
    * All counts integer; ratios are single divisions of identical
    * BIGINTs, NULL-guarded on empty denominators. */
  val dd14LshQuality: GraftQuery = {
    val R = 4 // rows per band
    val B = 2 // bands
    val LIM = 200 // ground-truth fixed id prefix
    val SAMP = 400 // target modulus-stripe size (absolute, scale-free)
    val bandsSql = (0 until B).map { b =>
      val comps = (b * R until (b + 1) * R).map(j => s"s$j").mkString(" || ")
      s"SELECT doc_id, $b AS band_idx, md5($comps) AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    def mSql(t: String) =
      s"""SELECT CAST($t AS DOUBLE) AS threshold,
         |  CAST(COUNT(CASE WHEN j >= $t THEN 1 END) AS BIGINT) AS n_true,
         |  CAST(COUNT(CASE WHEN j >= $t AND isc THEN 1 END) AS BIGINT) AS n_hit
         |FROM fl""".stripMargin
    q("dd14_lsh_quality",
      "LSH tuning harness: banding precision/recall vs exact Jaccard truth",
      s"""WITH params AS (
         |  SELECT GREATEST(1, CAST(FLOOR(CAST(COUNT(*) AS DOUBLE) / $SAMP)
         |    AS BIGINT)) AS md FROM documents),
         |words AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents, params
         |  WHERE (doc_id < $LIM OR doc_id % md = 0)
         |    AND len(string_split(text, ' ')) >= 3),
         |sh AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS w
         |  FROM words, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         |cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
         |tr0 AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
         |  FROM sh a JOIN sh b ON a.w = b.w AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS MATERIALIZED (
         |  SELECT doc_a, doc_b,
         |    CAST(i AS DOUBLE) / CAST(ca.c + cb.c - i AS DOUBLE) AS j
         |  FROM tr0 JOIN cnt ca ON doc_a = ca.doc_id
         |  JOIN cnt cb ON doc_b = cb.doc_id),
         |sig AS MATERIALIZED (
         |  SELECT doc_id,
         |    ${(0 until B * R).map(j => s"MIN(md5('$j:' || w)) AS s$j").mkString(", ")}
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandsSql),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |fl AS (
         |  SELECT t.j, (c.doc_a IS NOT NULL) AS isc
         |  FROM truth t LEFT JOIN cand c
         |    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
         |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
         |m AS (
         |  ${mSql("0.5")}
         |  UNION ALL ${mSql("0.8")})
         |SELECT threshold, n_true, n_cand, n_hit,
         |  CASE WHEN n_true > 0
         |    THEN CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) END AS recall,
         |  CASE WHEN n_cand > 0
         |    THEN CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE) END AS prec
         |FROM m CROSS JOIN nc ORDER BY threshold""".stripMargin) { (s, d) =>
      // scale-free sampling modulus: n/SAMP keeps the stripe ~SAMP docs
      // no matter the corpus size (scalar-join idiom, 1-row broadcast)
      val params = Tables.documents(s, d).agg(
        greatest(lit(1L),
          floor(count(lit(1)) / SAMP).cast(LongType)).as("md"))
      val docs = Tables.documents(s, d)
        .crossJoin(broadcast(params))
        .filter((col("doc_id") < LIM || col("doc_id") % col("md") === 0) &&
          size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"), TextFunctions.shingles(col("text"), 3).as("sh"))
        .pinned
      val tok = docs.select(col("doc_id"), explode(col("sh")).as("w"))
      val cnt = tok.groupBy("doc_id").agg(count(lit(1)).as("c"))
      val inter = tok.select(col("doc_id").as("doc_a"), col("w"))
        .join(tok.select(col("doc_id").as("doc_b"), col("w").as("wb")),
          col("w") === col("wb") && col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
      val truth = inter
        .join(cnt.select(col("doc_id").as("da"), col("c").as("ca")),
          col("doc_a") === col("da"))
        .join(cnt.select(col("doc_id").as("db"), col("c").as("cb")),
          col("doc_b") === col("db"))
        .select(col("doc_a"), col("doc_b"),
          (col("i").cast(DoubleType) /
            (col("ca") + col("cb") - col("i")).cast(DoubleType)).as("j"))
        .pinned
      val sig = docs.select(col("doc_id"),
        graft.plans.VectorExpressions.minhash_signature(col("sh"), B * R).as("sig"))
      val bands = sig.select(col("doc_id"), explode(array((0 until B).map(b =>
        struct(lit(b).as("band_idx"),
          md5(concat((b * R until (b + 1) * R).map(j =>
            element_at(col("sig"), j + 1)): _*)).as("bkey"))): _*)).as("e"))
        .select(col("doc_id"), col("e.band_idx").as("band_idx"),
          col("e.bkey").as("bkey"))
      val cand = bands.select(col("doc_id").as("doc_a"), col("band_idx"), col("bkey"))
        .join(bands.select(col("doc_id").as("doc_b"),
          col("band_idx").as("bi"), col("bkey").as("bk")),
          col("band_idx") === col("bi") && col("bkey") === col("bk") &&
            col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
        .pinned
      val fl = truth.join(
        cand.withColumn("isc", lit(true)), Seq("doc_a", "doc_b"), "left")
        .select(col("j"), coalesce(col("isc"), lit(false)).as("isc"))
      val nc = cand.agg(count(lit(1)).cast(LongType).as("n_cand"))
      val m = Seq(0.5, 0.8).map { t =>
        fl.agg(
          count(when(col("j") >= t, 1)).cast(LongType).as("n_true"),
          count(when(col("j") >= t && col("isc"), 1)).cast(LongType).as("n_hit"))
          .select(lit(t).as("threshold"), col("n_true"), col("n_hit"))
      }.reduce(_ union _)
      m.crossJoin(broadcast(nc))
        .select(col("threshold"), col("n_true"), col("n_cand"), col("n_hit"),
          when(col("n_true") > 0,
            col("n_hit").cast(DoubleType) / col("n_true").cast(DoubleType))
            .as("recall"),
          when(col("n_cand") > 0,
            col("n_hit").cast(DoubleType) / col("n_cand").cast(DoubleType))
            .as("prec"))
        .orderBy("threshold")
    }
  }

  /** Repetition budget — the data-constrained-scaling mix policy
    * (Muennighoff et al. 2023-style epoch caps): a source may repeat a
    * given text up to its epoch budget (src0: 3 copies, src1: 2, the
    * long tail: 1), everything past the budget is dropped. Generalizes
    * dd02 (keep-first == budget 1 everywhere) and differs from dd09
    * (per-bucket best-1) in that the cap is a per-source POLICY, not a
    * similarity ranking. Selection is deterministic: within each
    * (digest, source) group the lowest doc_ids survive.
    *
    * Scale shape: one window over (digest, source) — hash-partitioned
    * on the 16-byte digest, never the text — then one per-source
    * aggregation. The budget table is a CASE expression (broadcast-free
    * by construction); at 100 TB this is exactly the exact-dedup
    * shuffle of dd01 plus a constant-width audit. */
  val rb01RepetitionBudget: GraftQuery = q(
    "rb01_repetition_budget",
    "per-source repetition budget: cap exact-dup copies at the source's epoch quota",
    """WITH d AS (
      |  SELECT doc_id, source, md5(text) AS dg FROM documents),
      |r AS (
      |  SELECT doc_id, source, dg,
      |    ROW_NUMBER() OVER (PARTITION BY dg, source ORDER BY doc_id) AS rn,
      |    CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2 ELSE 1 END AS budget
      |  FROM d)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN rn <= budget THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN rn > budget THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  CAST(COUNT(DISTINCT CASE WHEN rn > budget THEN dg END) AS BIGINT) AS n_over_groups
      |FROM r GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), md5(col("text")).as("dg"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("dg", "source").orderBy("doc_id")
    val r = docs
      .withColumn("rn", row_number().over(w))
      .withColumn("budget",
        when(col("source") === "src0", 3)
          .when(col("source") === "src1", 2).otherwise(1))
    r.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") <= col("budget"), 1L).otherwise(0L))
          .cast(LongType).as("n_kept"),
        sum(when(col("rn") > col("budget"), 1L).otherwise(0L))
          .cast(LongType).as("n_dropped"),
        countDistinct(when(col("rn") > col("budget"), col("dg")))
          .cast(LongType).as("n_over_groups"))
      .orderBy("source")
  }

  /** Paragraph-granularity keep-first dedup (the C4/RefinedWeb "drop
    * repeated paragraphs" pass). The corpus has no newline structure,
    * so the paragraph surrogate is the non-overlapping 20-word chunk
    * (tx17's chunker with stride = width); each chunk is keyed by the
    * md5 of its content and only the globally FIRST occurrence (lowest
    * (doc_id, chunk_idx)) survives. Differs from dd13 (which MARKS
    * hot grams by document frequency) in that removal here is
    * first-occurrence-wins at chunk granularity — order matters, the
    * semantics every C4-style pipeline actually ships.
    *
    * Scale shape: chunking is a map-side array transform; the only
    * shuffle is on the 16-byte chunk digest (never the text); the
    * first-occurrence window partitions BY that digest, so each window
    * group is a duplicate cluster (tiny — bounded by the copy count),
    * never a corpus-wide sort. The per-doc rollup reuses the doc_id
    * key. Linear, no all-pairs, broadcast-free. */
  val pd01ChunkDedup: GraftQuery = {
    val W = 20 // words per paragraph-surrogate chunk (non-overlapping)
    q("pd01_chunk_dedup",
      "paragraph-level keep-first dedup over non-overlapping 20-word chunks",
      s"""WITH ws AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |chunks AS (
         |  SELECT doc_id,
         |    unnest(range(0, CAST(CEIL(len(w) / $W.0) AS BIGINT))) AS chunk_idx,
         |    w
         |  FROM ws),
         |keyed AS (
         |  SELECT doc_id, chunk_idx,
         |    md5(array_to_string(w[chunk_idx * $W + 1 : chunk_idx * $W + $W], ' ')) AS ck
         |  FROM chunks),
         |marked AS (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY ck ORDER BY doc_id, chunk_idx) AS rn
         |  FROM keyed)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
         |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val nChunks = ceil(size(col("w")) / lit(W.toDouble)).cast(LongType)
      val keyed = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          md5(concat_ws(" ",
            slice(col("w"), (col("chunk_idx") * W + 1).cast(IntegerType), lit(W))))
            .as("ck"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("ck").orderBy("doc_id", "chunk_idx")
      keyed
        .withColumn("rn", row_number().over(w))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).cast(LongType).as("n_kept"),
          sum(when(col("rn") > 1, 1L).otherwise(0L)).cast(LongType).as("n_dropped"))
        .orderBy("doc_id")
    }
  }

  /** Sorted-neighborhood blocking (SNM) — the classic entity-resolution
    * alternative to LSH banding (Hernández & Stolfo's merge/purge).
    * Documents are globally ordered by a cheap sort key (lowercased
    * 32-char prefix); only pairs within a rank window of W are
    * compared, so candidate generation is O(n·W) instead of all-pairs
    * O(n²), with no hash family — it catches near-dups whose shared
    * prefix survives in the sort key, complementing MinHash (which is
    * prefix-blind) and SimHash.
    *
    * Scale shape: the global rank is a range repartition +
    * partition-local sort + zipWithIndex (one counting pass over
    * partition sizes, then a map adding offsets — the canonical
    * distributed row_number; there is NO single-partition window).
    * The neighbor join buckets rank by W: the lower-rank side emits
    * (bucket, bucket+1), the other side its own bucket, and the
    * equi-join on the bucket key meets each row with ≤ 2W candidates,
    * never the corpus. Confirm is exact word-set Jaccard on candidate
    * pairs only — same O(n·W) bound end to end. */
  val dd15SortedNeighborhood: GraftQuery = {
    val W = 5 // neighborhood rank window
    q("dd15_sorted_neighborhood",
      "sorted-neighborhood blocking: rank-window candidates + exact Jaccard confirm",
      s"""WITH ranked AS (
         |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws,
         |    ROW_NUMBER() OVER (ORDER BY lower(substring(text, 1, 32)), doc_id) AS rn
         |  FROM documents),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_intersect(a.ws, b.ws)) AS inter,
         |    len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws)) AS uni
         |  FROM ranked a JOIN ranked b ON b.rn - a.rn BETWEEN 1 AND $W)
         |SELECT doc_a, doc_b, inter, CAST(inter AS DOUBLE) / uni AS jaccard
         |FROM pairs WHERE CAST(inter AS DOUBLE) / uni >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).select(
        col("doc_id"),
        lower(substring(col("text"), 1, 32)).as("sk"),
        array_distinct(split(col("text"), " ")).as("ws"))
      // distributed row_number over the strict total order (sk, doc_id)
      // — Rank.globalRowNumber's range-partition + local-sort +
      // zipWithIndex; partition-count-invariant. Pinned: both sides of
      // the self-join read the ranked frame — without the pin the
      // range-sort + zipWithIndex runs twice. (r16 measured negative:
      // ranking the narrow (sk, doc_id) frame and re-attaching the
      // word arrays by equi-join — §2.3's move-payloads-once — was
      // 1.1–1.2× SLOWER here; the arrays are small enough that the
      // extra join dominates what the narrower sort saves. At
      // payload sizes where arrays dominate, that split is the shape
      // to revisit.)
      val ranked = Rank.globalRowNumber(
        base, Seq(col("sk"), col("doc_id")), "rn").pinned
      val a = ranked
        .select(col("doc_id").as("doc_a"), col("ws").as("wa"), col("rn").as("ra"))
        .withColumn("bk", explode(array(expr(s"ra div $W"), expr(s"ra div $W") + 1L)))
      val b = ranked
        .select(col("doc_id").as("doc_b"), col("ws").as("wb"), col("rn").as("rb"))
        .withColumn("bk", expr(s"rb div $W"))
      val inter = size(array_intersect(col("wa"), col("wb"))).cast(LongType)
      val uni = size(col("wa")).cast(LongType) + size(col("wb")).cast(LongType) - inter
      a.join(b, Seq("bk"))
        .filter(col("rb") - col("ra") >= 1 && col("rb") - col("ra") <= W)
        .select(col("doc_a"), col("doc_b"), inter.as("inter"),
          (inter.cast(DoubleType) / uni).as("jaccard"))
        .filter(col("jaccard") >= 0.8)
        .orderBy("doc_a", "doc_b")
    }
  }

  /** Exact-substring dedup spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): the REMOVAL side of
    * substring-level duplication. The paper builds a suffix array and
    * removes every ≥50-token substring that appears twice anywhere in
    * the corpus; the distributed approximation is the standard one —
    * a sorted k-token-gram table stands in for the suffix array:
    *
    *  1. every doc emits its sliding K-token windows (pos, md5(gram))
    *     — a map-side transform, one row per token, linear in corpus;
    *  2. grams occurring ≥2 times ANYWHERE (cross-doc or within-doc,
    *     the suffix-array repeat criterion) are the duplicated set —
    *     one groupBy on the 32-hex gram hash, never on the text;
    *  3. duplicated windows join back (equi-join on the SAME gram-hash
    *     key the count already shuffled on) and merge per doc into
    *     maximal spans (gaps-and-islands over pos: windows [p, p+K-1]
    *     merge when overlapping-or-adjacent, i.e. pos − prev ≤ K).
    *
    * Output is the span table a trimming pass consumes: (doc_id,
    * span_start, span_end, span_tokens), 1-based token positions.
    * K=10 is this corpus's miniature of the paper's 50 (docs here are
    * ~10²-token; dd10's production-shape precedent). 100 TB shape: the
    * gram table is linear with a bounded-width key, both heavy stages
    * shuffle on that key, and the island merge is a per-doc window
    * whose partition is bounded by a single document's token count —
    * nothing quadratic, nothing driver-side. */
  val dd16SubstringSpans: GraftQuery = {
    val K = 10
    q("dd16_substring_spans",
      "exact-substring dedup: repeated K-gram windows merged to per-doc removal spans",
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
         |  WHERE len(string_split(text, ' ')) >= $K),
         |grams AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    md5(array_to_string(ts[i:i+$K-1], ' ')) AS g
         |  FROM toks, UNNEST(range(1, len(ts) - $K + 2)) AS t(i)),
         |rep AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
         |hits AS (SELECT doc_id, pos FROM grams JOIN rep USING (g)),
         |fl AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |      <= $K THEN 0 ELSE 1 END AS ns
         |  FROM hits),
         |isl AS (
         |  SELECT doc_id, pos, SUM(ns) OVER (PARTITION BY doc_id
         |    ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
         |  FROM fl)
         |SELECT doc_id, MIN(pos) AS span_start,
         |  MAX(pos) + $K - 1 AS span_end,
         |  MAX(pos) + $K - MIN(pos) AS span_tokens
         |FROM isl GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      val grams = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .filter(size(col("ts")) >= K)
        .select(col("doc_id"), explode(expr(
          s"""transform(sequence(1, size(ts) - $K + 1),
             |  i -> struct(cast(i as bigint) as pos,
             |    md5(array_join(slice(ts, i, $K), ' ')) as g))""".stripMargin))
          .as("e"))
        .select(col("doc_id"), col("e.pos").as("pos"), col("e.g").as("g"))
        .pinned // both the count and the join-back read the gram table
      val rep = grams.groupBy("g").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select("g")
      val hits = grams.join(rep, Seq("g")).select("doc_id", "pos")
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val fl = hits.withColumn("ns",
        when(col("pos") - lag(col("pos"), 1).over(w) <= K, 0L).otherwise(1L))
      val isl = fl.withColumn("island",
        sum(col("ns")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      isl.groupBy(col("doc_id"), col("island"))
        .agg(min(col("pos")).as("span_start"),
          (max(col("pos")) + K - 1).as("span_end"),
          (max(col("pos")) + K - min(col("pos"))).as("span_tokens"))
        .select("doc_id", "span_start", "span_end", "span_tokens")
        .orderBy("doc_id", "span_start")
    }
  }

  /** SimHash hamming-ball near-dup join (Manku, Jain & Sarma, WWW
    * 2007 — the Google web-dedup algorithm): documents whose 60-bit
    * SimHash fingerprints differ in ≤ 3 bits. The block-permutation
    * trick makes the hamming join an EQUI-join: split the fingerprint
    * into 4 contiguous 15-bit blocks — by pigeonhole, any pair within
    * hamming distance 3 agrees EXACTLY on at least one block — so
    * candidates are pairs sharing any (block_id, block_value) key and
    * verification is one popcount on the XOR, map-side. Production
    * systems size block bits to the corpus (Manku used 64-bit prints
    * and bigger tables) so per-key buckets stay bounded; the plan
    * shape — explode k block keys, equi-join, popcount verify — is
    * unchanged. Complements dd10 (MinHash-LSH, set similarity,
    * probabilistic) with the bit-fingerprint family (order-sensitive
    * weighted features, EXACT radius guarantee).
    *
    * Identical fingerprints collapse to their min-doc_id
    * representative FIRST (copy counts carried) — the ss02/ss03
    * sequencing: on a twin-heavy corpus the doc-level hamming-0
    * output alone is Θ(copies²) (the 100× growth replica makes that
    * concrete: ~25M twin pairs), while the representative-level join
    * is bounded by the DISTINCT-fingerprint structure. Output rows
    * are near-dup fingerprint FAMILIES: representative pair, hamming
    * distance, and both copy counts. */
  val dd17SimhashHamming: GraftQuery = {
    val Bits = 60
    val BlockBits = 15
    val Radius = 3
    val sqlShift = (0 until 4).map(b =>
      s"WHEN $b THEN CAST(${1L << (b * BlockBits)} AS BIGINT)")
      .mkString("CASE b ", " ", s" ELSE CAST(${1L << (3 * BlockBits)} AS BIGINT) END")
    q("dd17_simhash_hamming",
      s"SimHash hamming<=$Radius near-dup join: 4x$BlockBits-bit block keys make it an equi-join",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |sh AS (SELECT doc_id, ${sqlSimhash(Bits)} AS h FROM tok GROUP BY doc_id),
         |fam AS (
         |  SELECT h, MIN(doc_id) AS rep, COUNT(*) AS n_copies
         |  FROM sh GROUP BY h),
         |blocks AS (
         |  SELECT rep, h, n_copies, b,
         |    (h // ($sqlShift)) % ${1 << BlockBits} AS bv
         |  FROM fam, UNNEST([0, 1, 2, 3]) AS t(b)),
         |cand AS (
         |  SELECT DISTINCT a.rep AS a_id, b.rep AS b_id,
         |    a.h AS ha, b.h AS hb,
         |    a.n_copies AS a_copies, b.n_copies AS b_copies
         |  FROM blocks a JOIN blocks b
         |    ON a.b = b.b AND a.bv = b.bv AND a.rep < b.rep)
         |SELECT a_id, b_id, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming,
         |  a_copies, b_copies
         |FROM cand WHERE bit_count(xor(ha, hb)) <= $Radius
         |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      val fam = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id")
        .agg(simhash(Bits).as("h"))
        .groupBy("h")
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_copies"))
      val blocks = fam.select(col("rep"), col("h"), col("n_copies"),
          explode(array((0 until 4).map(b => struct(lit(b).as("b"),
            (shiftrightunsigned(col("h"), b * BlockBits) % (1 << BlockBits))
              .as("bv"))): _*)).as("e"))
        .select(col("rep"), col("h"), col("n_copies"),
          col("e.b").as("b"), col("e.bv").as("bv"))
        .pinned // guard + both self-join sides read it; one simhash pass
      // twins can't trip this (fam collapsed them), but hamming-BALL
      // density can: a dense near-dup ball puts its whole family set
      // in shared block buckets and the candidate output goes
      // Θ(ball²). Block-key histogram bounds it exactly; the pair-free
      // route is cluster labels (star contraction), not pair rows.
      PairGuard.check(blocks, Seq(col("b"), col("bv")),
        "dd17_simhash_hamming", "dd20_star_components")
      val cand = blocks.as("ba").join(blocks.as("bb"),
          col("ba.b") === col("bb.b") && col("ba.bv") === col("bb.bv") &&
            col("ba.rep") < col("bb.rep"))
        .select(col("ba.rep").as("a_id"), col("bb.rep").as("b_id"),
          col("ba.h").as("ha"), col("bb.h").as("hb"),
          col("ba.n_copies").as("a_copies"), col("bb.n_copies").as("b_copies"))
        .distinct()
      cand
        .withColumn("hamming",
          expr("bit_count(ha ^ hb)").cast(LongType))
        .filter(col("hamming") <= Radius)
        .select(col("a_id"), col("b_id"), col("hamming"),
          col("a_copies"), col("b_copies"))
        .orderBy("a_id", "b_id")
    }
  }

  /** dd08's clustering semantics through the gr06 ALGORITHM: near-dup
    * clusters as large-star/small-star star contraction
    * ([[GraphQueries.starContraction]]) over a BUCKET-STAR REDUCTION
    * of the doc↔bucket incidence — each shared bucket contributes one
    * edge per member to the bucket's MIN member doc (one groupBy-min +
    * one equi-join; never the per-bucket quadratic pair set). The
    * reduction preserves components exactly (bucket co-membership ⇔
    * connected through the bucket min) and yields a doc-only graph, so
    * the component minimum is a doc id and labels match dd08's
    * min-reachable-doc; the oracle is the same 30-round incidence fold.
    *
    * Why carry BOTH dd08 and this: dd08's doc→bucket→doc min fold pays
    * rounds proportional to half the component DIAMETER — fine for the
    * blob-shaped duplicate families LSH usually makes, Θ(n) shuffles
    * for a CHAIN of near-dups (doc i ~ doc i+1 via band 1, i+1 ~ i+2
    * via band 2, ...), which template-drift corpora produce (and the
    * key-shifted twin replicas grow in SIZE). Star contraction pays
    * O(log) alternations on an edge set bounded by the incidence size
    * (≤ 2 rows per doc), so the worst-case family costs log-many
    * shuffles instead. Same answer, different fixpoint procedure;
    * SCALING.md carries the measured trade (dd08 is the cheaper
    * constant on today's blob-shaped corpus, dd20 the bounded-round
    * guarantee — GraphSpec's path-graph law is the shape that flips it).
    * That trade holds only at width > 1: when `documents` sizes to
    * width 1 (every testdata SF) dd20 takes dd08's one union-find task
    * over the raw incidence ([[clusters]]), so the edges are never
    * built in Spark. */
  val dd20StarComponents: GraftQuery = q(
    "dd20_star_components",
    "near-dup clusters via large-star/small-star over the doc-bucket incidence",
    incidenceFoldSql, sizing = ByDocuments) { (s, d) =>
    clusters(s, d)(inc0 =>
      GraphQueries.starContraction(bucketStarEdges(inc0).pinned)
        .select(col("node").as("doc_id"), col("comp").as("cluster_id")))
  }

  /** dd20's bucket-star reduction of the incidence: every member hangs
    * off its bucket's min member, so edges are born canonical
    * (u = member > v = bucket min) and a solo bucket, whose one member
    * is its min, gives no edge. */
  private[graft] def bucketStarEdges(inc: DataFrame): DataFrame = {
    val bmin = inc.groupBy("bucket").agg(min("doc_id").as("m"))
    inc.join(bmin, "bucket")
      .filter(col("doc_id") =!= col("m"))
      .select(col("doc_id").as("u"), col("m").as("v"))
      .distinct()
  }

  val all: Seq[GraftQuery] = Seq(
    dd01ExactGroups, dd02KeepFirst, dd03JaccardPairs,
    dd04MinhashSignatures, dd05LshBuckets, dd06EmbeddingNearDup, dd07Simhash,
    dd08DupClusters, dd09KeepBest, dd10ProductionLsh, dd19TwinSafeLsh,
    dd11RepeatedNgrams,
    dd12IncrementalAdmission, dd13BoilerplateScrub, dd14LshQuality,
    dd15SortedNeighborhood, dd16SubstringSpans, dd17SimhashHamming,
    dd18EvolvingAdmission, dd20StarComponents, rb01RepetitionBudget, pd01ChunkDedup)
}
