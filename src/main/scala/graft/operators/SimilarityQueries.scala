package graft.operators

import graft.{GraftQuery, Sizing, Tables}
import graft.GraftQuery.q
import graft.Pin.PinOps
import graft.plans.VectorExpressions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the correctness baseline and
  * a sign-bit (SimHash/random-hyperplane family) bucketed variant as
  * the scale path — bucketing turns all-pairs O(n²) into a groupBy on
  * bucket keys plus small per-bucket scans, the same shape an IVF
  * index gives.
  *
  * Determinism: dot products are generated as a fixed left-associated
  * 64-term double expression (float→double casts are exact, IEEE-754
  * mul/add/sqrt are deterministic), so Spark and DuckDB agree
  * bit-for-bit with a plain arithmetic oracle — no approximate vector
  * extension required on the oracle side.
  */
object SimilarityQueries {
  import VectorSql.{bucketExpr, sqlBucket, sqlDot, sqlDotCols, sqlNorm2}

  /** Cosine via the native codegen'd expressions (graft.plans) —
    * ascending-index double accumulation, bit-identical to the
    * left-associated SQL chain the oracle evaluates (see VectorSql). */
  private def cosineExpr(a: String, b: String): Column =
    VectorExpressions.cosine_similarity(col(a), col(b))

  /** Width for the embeddings-bounded sm/kn/rp/rr queries — the
    * IvfQueries serving-family rule. r16 quiet probe at width 1
    * (min-of-5, sf0.1): rp01 0.74x, rr02 0.89x; rr01 measured 1.26x
    * WORSE (its per-ranker TopK fan-out wants the width) and stays at
    * session width. */
  private val ByEmbeddings = Sizing.Input("embeddings")

  /** Brute-force cosine top-10 for 3 query vectors against the whole
    * table. The query side is tiny → broadcast; candidates stream.
    *
    * Oracle memory note: the query/candidate norms are pre-projected
    * in CTEs so the join evaluates ONE 64-term chain per pair (the
    * dot) instead of three — the round-5 form (norms recomputed per
    * pair over the full view) starved a long-lived DuckDB process of
    * memory. `dot / (qnorm * cnorm)` is the identical fp expression
    * tree to the inline form, so the hash compare is unaffected. */
  val sm01CosineTopK: GraftQuery = q(
    "sm01_cosine_topk",
    "brute-force cosine top-k (ANN baseline)",
    s"""WITH qv AS (
       |  SELECT e.vec_id AS query_id, e.embedding AS qe,
       |    SQRT(${sqlNorm2("e")}) AS qnorm
       |  FROM embeddings e WHERE e.vec_id < 3),
       |cv AS (
       |  SELECT e.vec_id AS cand_id, e.embedding AS ce,
       |    SQRT(${sqlNorm2("e")}) AS cnorm
       |  FROM embeddings e),
       |pairs AS (
       |  SELECT query_id, cand_id,
       |    ${sqlDotCols("qv", "qe", "cv", "ce")} / (qnorm * cnorm) AS cosine
       |  FROM qv JOIN cv ON cand_id <> query_id),
       |ranked AS (
       |  SELECT query_id, cand_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, cand_id) AS BIGINT) AS rn
       |  FROM pairs)
       |SELECT query_id, cand_id, cosine, rn FROM ranked
       |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin, sizing = ByEmbeddings) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val qv = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val cv = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
    // the baseline's contract IS the exhaustive |Q|x|C| scan (that is
    // what makes it ground truth) — fail fast when that product blows
    // the budget instead of letting 3 single-partition window sorts
    // churn; the bounded-candidate routes are the bucketed/IVF family
    PairGuard.checkCross(qv.select("query_id"), cv.select("cand_id"),
      "sm01_cosine_topk", "sm02_simhash_buckets")
    val cosine = cosineExpr("qe", "ce")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("cand_id"))
    broadcast(qv).join(cv, col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"), cosine.as("cosine"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 10)
      .orderBy("query_id", "rn")
  }

  /** Johnson–Lindenstrauss RANDOM PROJECTION with Achlioptas's sparse
    * database-friendly matrix (signs drawn {+1, 0, −1} with probability
    * {1/6, 2/3, 1/6} from the md5 family): 64-dim float vectors → 8
    * projected coordinates, the standard cheapening step before ANN
    * (shorter vectors → smaller index, faster distance kernels;
    * pairwise distances preserved within JL bounds). The sign matrix is
    * a COMPILE-TIME constant — it lives in the plan as literals, the
    * projection is pure per-row whole-stage-codegen arithmetic, no
    * shuffle, no UDF, no broadcast; at 100 TB this is a map-only pass.
    * Determinism: exact float→double casts and a fixed left-associated
    * add chain (sparse terms only), identical in Spark and the SQL
    * oracle, so the projected coordinates hash-match bit-for-bit.
    * Consumers scale by √(3/K) when absolute distances matter; ranking
    * is scale-invariant so the factor is left out of the stored
    * projection. */
  val rp01RandomProjection: GraftQuery = {
    val K = 8
    val D = 64
    // {+1,0,-1} ~ {1/6,2/3,1/6}: Achlioptas (2003), via the corpus-wide
    // md5 hash family so both engines could re-derive it
    def sign(k: Int, i: Int): Int = {
      val b = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$k:$i".getBytes("UTF-8"))
      (b(0) & 0xff) % 6 match { case 0 => 1; case 1 => -1; case _ => 0 }
    }
    val sparse: Seq[Seq[(Int, Int)]] = (0 until K).map(k =>
      (0 until D).map(i => (i, sign(k, i))).filter(_._2 != 0))
    val sqlCols = sparse.zipWithIndex.map { case (terms, k) =>
      val chain = terms.map {
        case (i, 1) => s"(CAST(embedding[${i + 1}] AS DOUBLE))"
        case (i, _) => s"(-CAST(embedding[${i + 1}] AS DOUBLE))"
      }.mkString(" + ")
      s"$chain AS p$k"
    }
    q("rp01_random_projection",
      "JL random projection 64→8 dims (Achlioptas sparse signs, map-only, codegen)",
      s"""SELECT vec_id,
         |  ${sqlCols.mkString(",\n  ")}
         |FROM embeddings ORDER BY vec_id""".stripMargin, sizing = ByEmbeddings) { (s, d) =>
      val projCols = sparse.zipWithIndex.map { case (terms, k) =>
        terms.map { case (i, sgn) =>
          val e = element_at(col("embedding"), i + 1).cast(DoubleType)
          if (sgn == 1) e else -e
        }.reduce(_ + _).as(s"p$k")
      }
      Tables.embeddings(s, d)
        .select(col("vec_id") +: projCols: _*)
        .orderBy("vec_id")
    }
  }

  /** SimHash-style sign-bit bucket histogram — the partition layout
    * the scalable ANN path shuffles by. */
  val sm02SimhashBuckets: GraftQuery = q(
    "sm02_simhash_buckets",
    "sign-bit LSH bucket histogram",
    s"""SELECT ${sqlBucket("e")} AS bucket, COUNT(*) AS n_vecs,
       |  MIN(vec_id) AS first_vec
       |FROM embeddings e GROUP BY 1 ORDER BY bucket""".stripMargin,
    sizing = ByEmbeddings) { (s, d) =>
    Tables.embeddings(s, d)
      .groupBy(bucketExpr("embedding").as("bucket"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("first_vec"))
      .orderBy("bucket")
  }

  /** Bucketed ANN: same cosine scoring as sm01 but only within the
    * query's LSH bucket — the 100 TB execution shape (equi-join on
    * bucket id instead of an all-pairs cross join). */
  val sm03AnnBucketed: GraftQuery = q(
    "sm03_ann_bucketed",
    "LSH-bucketed approximate nearest neighbors",
    s"""WITH coded AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, ${sqlBucket("e")} AS bucket,
       |    SQRT(${sqlNorm2("e")}) AS nrm
       |  FROM embeddings e),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    ${sqlDot("q", "c")} / (q.nrm * c.nrm) AS cosine
       |  FROM coded q JOIN coded c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10),
       |ranked AS (
       |  SELECT query_id, cand_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, cand_id) AS BIGINT) AS rn
       |  FROM pairs)
       |SELECT query_id, cand_id, cosine, rn FROM ranked
       |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin, sizing = ByEmbeddings) { (s, d) =>
    val coded = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), bucketExpr("embedding").as("bucket"))
    val qv = coded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("bucket"))
    val cv = coded.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
      col("bucket").as("cbucket"))
    val cosine = cosineExpr("qe", "ce")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("cand_id"))
    broadcast(qv)
      .join(cv, col("bucket") === col("cbucket") && col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"), cosine.as("cosine"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 5)
      .orderBy("query_id", "rn")
  }

  /** Per-vector L2 norm + label — embedding hygiene stats (map-only). */
  val sm04Norms: GraftQuery = q(
    "sm04_vector_norms",
    "per-vector L2 norm (map-side vector op)",
    s"""SELECT vec_id, label, SQRT(${sqlNorm2("e")}) AS l2_norm
       |FROM embeddings e WHERE vec_id < 200 ORDER BY vec_id""".stripMargin,
    sizing = ByEmbeddings) { (s, d) =>
    Tables.embeddings(s, d)
      .filter(col("vec_id") < 200)
      .select(col("vec_id"), col("label"),
        VectorExpressions.l2_norm(col("embedding")).as("l2_norm"))
      .orderBy("vec_id")
  }

  /** Symmetric int8 quantization (the storage/serving compression step
    * of an embedding pipeline): per-vector scale = max|x|/127, each
    * element rounds to round(x/scale) ∈ [-127, 127], plus the summed
    * absolute reconstruction error. Entirely per-row array math — a
    * map-only stage at any scale. Rounding is floor(x+0.5) on doubles
    * on BOTH sides because Spark's ROUND (HALF_UP on the decimal
    * rescale path) and DuckDB's ROUND need not agree on doubles; the
    * error fold is ascending-index (seed 0.0 ≡ DuckDB's first-element
    * seed since term 1 is non-negative, and +0.0 + x == x exactly). */
  val sm05Int8Quantize: GraftQuery = q(
    "sm05_int8_quantize",
    "per-vector int8 quantization + reconstruction error",
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale
      |  FROM embeddings)
      |SELECT vec_id, scale,
      |  array_to_string(list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))[1:8], ',') AS q_head,
      |  list_reduce(list_transform(embedding,
      |    x -> abs(CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)),
      |    (a, b) -> a + b) AS abs_err
      |FROM s ORDER BY vec_id""".stripMargin, sizing = ByEmbeddings) { (s, d) =>
    def xd(x: Column) = x.cast(DoubleType)
    def quant(x: Column) = floor(xd(x) / col("scale") + 0.5)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        (array_max(transform(col("embedding"), x => abs(xd(x)))) / 127).as("scale"))
      .select(col("vec_id"), col("scale"),
        concat_ws(",",
          slice(transform(col("embedding"), x => quant(x).cast(LongType)
            .cast(StringType)), 1, 8)).as("q_head"),
        aggregate(
          transform(col("embedding"), x => abs(xd(x) - quant(x) * col("scale"))),
          lit(0.0), (a, b) => a + b).as("abs_err"))
      .orderBy("vec_id")
  }

  /** Top-k search in the quantized space: candidates rank by the
    * int8×int8 dot product rescaled by the two per-vector scales —
    * the serving-time shape where the float corpus never leaves disk
    * and SIMD integer dots do the scanning. The dot is an exact int64
    * (|q|≤127 ⇒ 64·127² ≪ 2⁶³), so ranking is reproducible anywhere;
    * the one double rescale is exact-input IEEE math. */
  val sm06QuantizedTopK: GraftQuery = {
    val dims = 1 to VectorSql.Dim
    val qcols = dims.map(i =>
      s"CAST(floor(CAST(embedding[$i] AS DOUBLE) / scale + 0.5) AS BIGINT) AS q$i")
      .mkString(", ")
    val dotq = dims.map(i => s"a.q$i * b.q$i").mkString("(", " + ", ")")
    q("sm06_quantized_topk",
      "int8-quantized dot-product top-5 per query (serving-time ANN)",
      s"""WITH sc AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale
         |  FROM embeddings),
         |qc AS (SELECT vec_id, scale, $qcols FROM sc),
         |pairs AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
         |    $dotq AS dot_q,
         |    CAST($dotq AS DOUBLE) * a.scale * b.scale AS approx_dot
         |  FROM qc a JOIN qc b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 5),
         |ranked AS (
         |  SELECT query_id, cand_id, dot_q, approx_dot,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY approx_dot DESC, cand_id) AS BIGINT) AS rn
         |  FROM pairs)
         |SELECT query_id, cand_id, dot_q, approx_dot, rn
         |FROM ranked WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
      sizing = ByEmbeddings) { (s, d) =>
      def xd(x: Column) = x.cast(DoubleType)
      val qc = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          (array_max(transform(col("embedding"), x => abs(xd(x)))) / 127).as("scale"))
        .select(col("vec_id"), col("scale"),
          transform(col("embedding"),
            x => floor(xd(x) / col("scale") + 0.5).cast(LongType)).as("qv"))
      val qs = qc.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("scale").as("qscale"),
          col("qv").as("qa"))
      val cs = qc.select(col("vec_id").as("cand_id"), col("scale").as("cscale"),
        col("qv").as("qb"))
      val dotq = aggregate(zip_with(col("qa"), col("qb"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("approx_dot").desc, col("cand_id"))
      broadcast(qs)
        .join(cs, col("cand_id") =!= col("query_id"))
        .select(col("query_id"), col("cand_id"), dotq.as("dot_q"),
          (dotq.cast(DoubleType) * col("qscale") * col("cscale")).as("approx_dot"))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= 5)
        .orderBy("query_id", "rn")
    }
  }

  /** Hybrid retrieval via RECIPROCAL-RANK FUSION — the standard way a
    * RAG/search pipeline combines a lexical ranker and a vector ranker
    * whose raw scores are incomparable: each leg contributes
    * 1/(60+rank) and the fused list re-ranks by the sum (Cormack et
    * al., RRF). Ranks are the interface, so any scorer plugs into
    * either leg (bm01 is the full lexical model; the leg here ranks by
    * query-term frequency to keep the oracle compact).
    *
    * Scale shape: each leg is a map pass over its corpus ending in a
    * k-bounded global top-k (TakeOrderedAndProject — no full sort);
    * the fusion then full-outer-joins two ≤k-row frames — constant
    * size regardless of corpus scale. The vector leg's query side is
    * one broadcast row (the sanctioned scalar-join idiom).
    * Determinism: lexical ranks order by exact integers; vector ranks
    * by the bit-stable native cosine (see sm01); the RRF terms are
    * single IEEE divides of exact integers summed in fixed lex-then-
    * vec order, so both engines agree bit-for-bit. */
  val rr01RrfFusion: GraftQuery = {
    val terms = Seq("spark", "window", "stream")
    val sqlTfSum = terms.map(t =>
      s"len(list_filter(string_split(text, ' '), w -> w = '$t'))").mkString(" + ")
    q("rr01_rrf_fusion",
      "hybrid retrieval: lexical + vector top-k legs fused by reciprocal-rank fusion",
      s"""WITH lex0 AS (
         |  SELECT doc_id, $sqlTfSum AS tfsum FROM documents),
         |lex AS (
         |  SELECT doc_id,
         |    CAST(ROW_NUMBER() OVER (ORDER BY tfsum DESC, doc_id) AS BIGINT) AS lex_rn
         |  FROM lex0 WHERE tfsum > 0 QUALIFY lex_rn <= 50),
         |qv AS (
         |  SELECT e.embedding AS qe, SQRT(${sqlNorm2("e")}) AS qnorm
         |  FROM embeddings e WHERE e.vec_id = 0),
         |cv AS (
         |  SELECT e.vec_id AS doc_id, e.embedding AS ce, SQRT(${sqlNorm2("e")}) AS cnorm
         |  FROM embeddings e WHERE e.vec_id <> 0),
         |vec0 AS (
         |  SELECT cv.doc_id,
         |    ${sqlDotCols("qv", "qe", "cv", "ce")} / (qnorm * cnorm) AS cosine
         |  FROM cv CROSS JOIN qv),
         |vec AS (
         |  SELECT doc_id,
         |    CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT) AS vec_rn
         |  FROM vec0 QUALIFY vec_rn <= 50),
         |fused AS (
         |  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
         |    COALESCE(l.lex_rn, 0) AS lex_rn, COALESCE(v.vec_rn, 0) AS vec_rn,
         |    COALESCE(CAST(1 AS DOUBLE) / (60 + l.lex_rn), CAST(0 AS DOUBLE))
         |      + COALESCE(CAST(1 AS DOUBLE) / (60 + v.vec_rn), CAST(0 AS DOUBLE)) AS rrf
         |  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id)
         |SELECT doc_id, lex_rn, vec_rn, rrf,
         |  CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rn
         |FROM fused QUALIFY rn <= 20 ORDER BY rn""".stripMargin) { (s, d) =>
      val toks = split(col("text"), " ")
      val tfsum = terms.map(t => size(filter(toks, w => w === t))).reduce(_ + _)
      val lexW = Window.orderBy(col("tfsum").desc, col("doc_id"))
      val lex = Tables.documents(s, d)
        .select(col("doc_id"), tfsum.as("tfsum"))
        .filter(col("tfsum") > 0)
        .orderBy(col("tfsum").desc, col("doc_id")).limit(50)
        .withColumn("lex_rn", row_number().over(lexW).cast(LongType))
        .select("doc_id", "lex_rn")
      val e = Tables.embeddings(s, d)
      // limit(1) after the unique-key filter makes the 1-row bound
      // PROVABLE to the cross-join lint (a bare filter is structurally
      // unbounded), without changing semantics — vec_id is unique
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe")).limit(1)
      val cv = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("doc_id"), col("embedding").as("ce"))
      val vecW = Window.orderBy(col("cosine").desc, col("doc_id"))
      val vec = cv.crossJoin(broadcast(qv))
        .select(col("doc_id"), cosineExpr("qe", "ce").as("cosine"))
        .orderBy(col("cosine").desc, col("doc_id")).limit(50)
        .withColumn("vec_rn", row_number().over(vecW).cast(LongType))
        .select("doc_id", "vec_rn")
      def leg(rn: Column): Column =
        coalesce(lit(1.0) / (lit(60L) + rn), lit(0.0))
      val fused = lex.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("lex_rn"), lit(0L)).as("lex_rn"),
          coalesce(col("vec_rn"), lit(0L)).as("vec_rn"),
          (leg(col("lex_rn")) + leg(col("vec_rn"))).as("rrf"))
      val outW = Window.orderBy(col("rrf").desc, col("doc_id"))
      fused.orderBy(col("rrf").desc, col("doc_id")).limit(20)
        .withColumn("rn", row_number().over(outW).cast(LongType))
        .orderBy("rn")
    }
  }

  /** kNN classifier evaluation — the harness that tells you whether an
    * embedding space is any good before you build the ANN index over
    * it: hold out a FIXED query slice, predict each query's label by
    * majority vote of its k=5 nearest reference vectors (cosine), and
    * report the confusion matrix. Prediction ties break by smallest
    * label, neighbor ties by smallest cand_id — both integer rules, so
    * the matrix is engine-identical. Scale shape: the query side is a
    * fixed 64-vector slice (broadcast — scale-invariant, passes the
    * RegistrySweepSpec broadcast guard); the reference side streams once
    * map-side through the codegen'd cosine as a plain broadcast cross
    * (the slices are disjoint, so no join predicate — and no
    * BroadcastNestedLoopJoin per-pair filter); neighbor selection and
    * the vote argmax both run through the k-bounded TopK operator, so
    * parallelism is never capped at the 64 query groups the window
    * idiom would sort in. The |labels|² output is the eval artifact a
    * training run files next to ann01's recall\@k. */
  val kn01KnnClassifier: GraftQuery = q(
    "kn01_knn_classifier",
    "kNN (k=5) label prediction over held-out queries: majority vote + confusion matrix",
    s"""WITH qv AS (
       |  SELECT e.vec_id AS query_id, e.embedding AS qe,
       |    SQRT(${sqlNorm2("e")}) AS qnorm, e.label AS true_label
       |  FROM embeddings e WHERE e.vec_id < 64),
       |cv AS (
       |  SELECT e.vec_id AS cand_id, e.embedding AS ce,
       |    SQRT(${sqlNorm2("e")}) AS cnorm, e.label AS cand_label
       |  FROM embeddings e WHERE e.vec_id >= 64),
       |pairs AS (
       |  SELECT query_id, true_label, cand_id, cand_label,
       |    ${sqlDotCols("qv", "qe", "cv", "ce")} / (qnorm * cnorm) AS cosine
       |  FROM qv CROSS JOIN cv),
       |ranked AS (
       |  SELECT query_id, true_label, cand_label,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, cand_id) AS rn
       |  FROM pairs),
       |votes AS (
       |  SELECT query_id, true_label, cand_label, COUNT(*) AS nv
       |  FROM ranked WHERE rn <= 5
       |  GROUP BY query_id, true_label, cand_label),
       |pred AS (
       |  SELECT query_id, true_label, cand_label AS pred_label,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY nv DESC, cand_label) AS pr
       |  FROM votes)
       |SELECT true_label, pred_label, COUNT(*) AS n_queries
       |FROM pred WHERE pr = 1
       |GROUP BY true_label, pred_label
       |ORDER BY true_label, pred_label""".stripMargin, sizing = ByEmbeddings) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val qv = e.filter(col("vec_id") < 64)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("true_label"))
    val cv = e.filter(col("vec_id") >= 64)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("label").as("cand_label"))
    // plain broadcast CROSS join: the query (vec_id<64) and reference
    // (vec_id>=64) slices are disjoint by construction, so a
    // cand_id<>query_id condition would be vacuous — and worse, it
    // would plan a BroadcastNestedLoopJoin with a per-pair predicate
    // instead of the unconditional broadcast product
    val pairs = broadcast(qv).crossJoin(cv)
      .select(col("query_id"), col("true_label"), col("cand_id"),
        col("cand_label"), cosineExpr("qe", "ce").as("cosine"))
    // k-bounded TopK instead of a row_number window: the window shape
    // sorts each query's FULL candidate list in exactly |queries|=64
    // partitions — a hard parallelism cap. TopK's partial stage keeps
    // ≤5 rows per query per input partition map-side, so the exchange
    // carries ≤ 5·64·tasks rows and the scan parallelism is whatever
    // the corpus scan has. Ties: (cosine desc, cand_id asc) via the
    // lexicographic struct with negated id.
    val nn = graft.plans.TopKPerGroup.perGroup(pairs, Seq(col("query_id")),
      struct(col("cosine"), (-col("cand_id")).as("neg_id")), 5)
    val votes = nn
      .groupBy(col("query_id"), col("true_label"), col("cand_label"))
      .agg(count(lit(1)).as("nv"))
    // argmax vote = TopK with k=1, ties to the smallest label
    graft.plans.TopKPerGroup.perGroup(votes, Seq(col("query_id")),
        struct(col("nv"), (-col("cand_label")).as("neg_label")), 1)
      .groupBy(col("true_label"), col("cand_label").as("pred_label"))
      .agg(count(lit(1)).as("n_queries"))
      .orderBy("true_label", "pred_label")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998) — the diversity leg of the retrieval family (rr01 fuses
    * rankers, kn01 classifies, MMR de-redundantizes): from each
    * query's top-20 relevance pool, select 5 results GREEDILY where
    * each pick maximizes λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s).
    * The iteration is over SELECTION STEPS (5 rounds — a constant set
    * by the product surface), not over data size: every round joins
    * the ≤20-row-per-query pool against the ≤round-row selected set,
    * penalty sims come from the same bit-exact cosine both engines
    * compute, and the per-round argmax runs through the k-bounded
    * TopK operator. At 100 TB the pool build is the only corpus-side
    * work (one broadcast-queries scan + TopK); the MMR loop's frames
    * are query-count-sized whatever the corpus. All doubles are
    * products/sums of the deterministic dot chains, so the oracle
    * hash-matches bit-for-bit (λ is CAST(0.7 AS DOUBLE) on both
    * sides). */
  val rr02MmrRerank: GraftQuery = {
    val NQ = 8; val P = 20; val S = 5
    def sqlNormCols(a: String, c: String) = sqlDotCols(a, c, a, c)
    def selSql(i: Int): String =
      s"""sel$i AS (
         |  SELECT query_id, cand_id, $i AS rank, score FROM (
         |    SELECT t.query_id, t.cand_id, t.score, ROW_NUMBER() OVER (
         |      PARTITION BY t.query_id ORDER BY t.score DESC, t.cand_id) AS rn
         |    FROM (
         |      SELECT p.query_id, p.cand_id,
         |        CAST(0.7 AS DOUBLE) * p.rel
         |          - CAST(0.3 AS DOUBLE) * MAX(sp.sim) AS score
         |      FROM pool p
         |      JOIN cum${i - 1} c ON c.query_id = p.query_id
         |      JOIN simp sp ON sp.query_id = p.query_id
         |        AND sp.x = p.cand_id AND sp.y = c.cand_id
         |      WHERE NOT EXISTS (SELECT 1 FROM cum${i - 1} cc
         |        WHERE cc.query_id = p.query_id AND cc.cand_id = p.cand_id)
         |      GROUP BY p.query_id, p.cand_id, p.rel) t) WHERE rn = 1),
         |cum$i AS (SELECT * FROM cum${i - 1}
         |  UNION ALL SELECT * FROM sel$i)""".stripMargin
    q("rr02_mmr_rerank",
      s"MMR diversity re-rank: greedy lambda*rel - (1-lambda)*max-sim over the top-$P pool, $S picks per query",
      s"""WITH qs AS (
         |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
         |  WHERE vec_id < $NQ),
         |cs AS (SELECT vec_id AS cand_id, embedding AS ce FROM embeddings),
         |rel0 AS (
         |  SELECT q.query_id, c.cand_id,
         |    ${sqlDotCols("q", "qe", "c", "ce")}
         |      / (SQRT(${sqlNormCols("q", "qe")}) * SQRT(${sqlNormCols("c", "ce")})) AS rel
         |  FROM qs q JOIN cs c ON c.cand_id <> q.query_id),
         |pool AS (
         |  SELECT query_id, cand_id, rel FROM (
         |    SELECT query_id, cand_id, rel, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn
         |    FROM rel0) WHERE rn <= $P),
         |simp AS (
         |  SELECT a.query_id, a.cand_id AS x, b.cand_id AS y,
         |    ${sqlDotCols("ax", "ce", "by", "ce")}
         |      / (SQRT(${sqlNormCols("ax", "ce")}) * SQRT(${sqlNormCols("by", "ce")})) AS sim
         |  FROM pool a JOIN pool b
         |    ON b.query_id = a.query_id AND b.cand_id <> a.cand_id
         |  JOIN cs ax ON ax.cand_id = a.cand_id
         |  JOIN cs by ON by.cand_id = b.cand_id),
         |sel1 AS (
         |  SELECT query_id, cand_id, 1 AS rank, rel AS score FROM (
         |    SELECT query_id, cand_id, rel, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn
         |    FROM pool) WHERE rn = 1),
         |cum1 AS (SELECT * FROM sel1),
         |${(2 to S).map(selSql).mkString(",\n")}
         |SELECT query_id, cand_id, CAST(rank AS BIGINT) AS rank, score
         |FROM cum$S ORDER BY query_id, rank""".stripMargin, sizing = ByEmbeddings) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val qv = e.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val cv = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
      val pool = graft.plans.TopKPerGroup.perGroup(
        cv.join(broadcast(qv), col("cand_id") =!= col("query_id"))
          .select(col("query_id"), col("cand_id"),
            VectorExpressions.cosine_similarity(col("qe"), col("ce")).as("rel")),
        Seq(col("query_id")), struct(col("rel"), -col("cand_id")), k = P)
        .select(col("query_id"), col("cand_id"), col("rel"))
        .pinned // read by every MMR round
      var selected = graft.plans.TopKPerGroup.perGroup(
        pool, Seq(col("query_id")), struct(col("rel"), -col("cand_id")), k = 1)
        .select(col("query_id"), col("cand_id"),
          lit(1L).as("rank"), col("rel").as("score"))
        .pinned
      for (r <- 2 to S) {
        val rem = pool.join(
          selected.select(col("query_id"), col("cand_id")),
          Seq("query_id", "cand_id"), "left_anti")
        val pen = rem
          .join(cv, Seq("cand_id"))
          .join(selected.select(col("query_id"),
            col("cand_id").as("sel_id")), Seq("query_id"))
          .join(cv.select(col("cand_id").as("sel_id"),
            col("ce").as("se")), Seq("sel_id"))
          .select(col("query_id"), col("cand_id"), col("rel"),
            VectorExpressions.cosine_similarity(col("ce"), col("se")).as("sim"))
          .groupBy(col("query_id"), col("cand_id"), col("rel"))
          .agg(max(col("sim")).as("pen"))
        val scored = pen.select(col("query_id"), col("cand_id"),
          (lit(0.7) * col("rel") - lit(0.3) * col("pen")).as("score"))
        val pick = graft.plans.TopKPerGroup.perGroup(
          scored, Seq(col("query_id")), struct(col("score"), -col("cand_id")), k = 1)
          .select(col("query_id"), col("cand_id"),
            lit(r.toLong).as("rank"), col("score"))
        selected = selected.unionByName(pick).pinned
      }
      selected.orderBy("query_id", "rank")
    }
  }

  val all: Seq[GraftQuery] = Seq(
    sm01CosineTopK, sm02SimhashBuckets, sm03AnnBucketed, sm04Norms,
    sm05Int8Quantize, sm06QuantizedTopK, rp01RandomProjection, rr01RrfFusion,
    rr02MmrRerank, kn01KnnClassifier)
}
