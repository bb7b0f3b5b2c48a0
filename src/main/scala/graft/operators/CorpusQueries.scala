package graft.operators

import graft.{GraftQuery, Tables}
import graft.GraftQuery.q
import graft.Pin.PinOps
import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-level statistics and training-data hygiene over `documents`:
  * TF-IDF term weighting, bigram PMI collocations, Zipf rank-frequency,
  * and benchmark decontamination (n-gram overlap against an eval set).
  *
  * Determinism contract: every ranking orders by integer counts with a
  * lexicographic term tie-break, never by a floating score; doubles
  * (tf-idf, pmi, freq) are payload columns computed with an identical
  * expression tree on both engines and rounded to 6 dp where a
  * transcendental (`ln`) is involved.
  *
  * Scale notes: term/bigram/shingle extraction is map-side (higher-order
  * array functions, no UDFs); the aggregations are classic word-count
  * shapes (partial agg + one shuffle on the term key); eval-set shingles
  * are broadcast (an eval benchmark is KBs even when the corpus is TBs).
  */
object CorpusQueries {

  /** Top-3 TF-IDF terms per document (docs 0-29). `df` is computed over
    * the FULL corpus, `tf` only for the reported docs — the usual
    * "score a slice against global statistics" shape. Rank by
    * (tf desc, df asc, term) — integer-deterministic.
    */
  val tx13Tfidf: GraftQuery = q(
    "tx13_tfidf",
    "TF-IDF top terms per doc (global df, integer-ranked)",
    """WITH terms AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS n_tf FROM terms
      |  WHERE doc_id < 30 GROUP BY doc_id, term),
      |dfreq AS (
      |  SELECT term, COUNT(DISTINCT doc_id) AS n_df FROM terms GROUP BY term),
      |totals AS (SELECT COUNT(*) AS n_docs FROM documents),
      |ranked AS (
      |  SELECT tf.doc_id, tf.term, tf.n_tf, dfreq.n_df,
      |    ROUND(CAST(tf.n_tf AS DOUBLE) * LN(CAST(n_docs AS DOUBLE) / CAST(n_df AS DOUBLE)), 6) AS tfidf,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |                       ORDER BY tf.n_tf DESC, dfreq.n_df ASC, tf.term) AS rnk
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN totals)
      |SELECT doc_id, term, n_tf, n_df, tfidf FROM ranked WHERE rnk <= 3
      |ORDER BY doc_id, n_tf DESC, n_df, term""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val terms = docs.select(col("doc_id"),
      explode(TextFunctions.tokens(col("text"))).as("term"))
    val tf = terms.filter(col("doc_id") < 30)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("n_tf"))
    val dfreq = terms.groupBy("term").agg(countDistinct(col("doc_id")).as("n_df"))
    val totals = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("n_tf").desc, col("n_df").asc, col("term"))
    // `dfreq` is the FULL vocabulary — it grows with the corpus, so it must
    // never be the broadcast side. `tf` covers only the 30 reported docs and
    // is bounded regardless of corpus size: broadcast THAT into the
    // vocabulary-sized build.
    broadcast(tf).join(dfreq, "term").crossJoin(broadcast(totals))
      .withColumn("tfidf", round(col("n_tf").cast(DoubleType) *
        log(col("n_docs").cast(DoubleType) / col("n_df").cast(DoubleType)), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("doc_id", "term", "n_tf", "n_df", "tfidf")
      .orderBy(col("doc_id"), col("n_tf").desc, col("n_df"), col("term"))
  }

  /** Bigram collocations by pointwise mutual information. Bigrams are a
    * per-row array transform (no self-join); PMI is computed from the
    * four count aggregates with one identical double expression. Top 30
    * by (count desc, w1, w2).
    */
  val tx14PmiBigrams: GraftQuery = q(
    "tx14_pmi_bigrams",
    "bigram PMI collocations (map-side bigrams + word-count aggs)",
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bi AS (
      |  SELECT UNNEST(list_transform(generate_series(1, len(t) - 1),
      |                 i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
      |  FROM tok WHERE len(t) >= 2),
      |big AS (
      |  SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
      |uni AS (
      |  SELECT UNNEST(string_split(text, ' ')) AS w FROM documents),
      |unic AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
      |tot AS (
      |  SELECT (SELECT COUNT(*) FROM uni) AS tu, (SELECT COUNT(*) FROM bi) AS tb)
      |SELECT w1, w2, c12,
      |  ROUND(LN((CAST(c12 AS DOUBLE) * CAST(tu AS DOUBLE) * CAST(tu AS DOUBLE))
      |           / (CAST(tb AS DOUBLE) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 6) AS pmi
      |FROM big
      |JOIN unic u1 ON big.w1 = u1.w JOIN unic u2 ON big.w2 = u2.w
      |CROSS JOIN tot
      |ORDER BY c12 DESC, w1, w2 LIMIT 30""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val tok = docs.select(TextFunctions.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val bi = tok.select(explode(transform(
      sequence(lit(1), size(col("t")) - 1),
      i => struct(element_at(col("t"), i).as("w1"),
        element_at(col("t"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val big = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = docs.select(explode(TextFunctions.tokens(col("text"))).as("w"))
    val unic = uni.groupBy("w").agg(count(lit(1)).as("c"))
    // Token-COUNT totals from per-doc lengths — identical values to
    // counting the exploded streams (Σ len(t) tokens; Σ (len(t)−1)
    // bigrams over len ≥ 2 docs), but one narrow scan instead of
    // re-running both explodes just to count their rows. At 100× the
    // two totals were half the query's explode work (SCALING.md growth
    // table); the oracle still counts via UNNEST — same values, and
    // only values hash.
    val lens = docs.select(size(TextFunctions.tokens(col("text"))).as("n"))
    val tot = lens.agg(
      sum(col("n").cast(LongType)).as("tu"),
      sum(when(col("n") >= 2, col("n").cast(LongType) - 1L).otherwise(0L)).as("tb"))
    val u1 = unic.select(col("w").as("w1"), col("c").as("c1"))
    val u2 = unic.select(col("w").as("w2"), col("c").as("c2"))
    // Both the bigram table and the unigram table grow with the corpus —
    // neither side is broadcast-safe. Plain shuffle equi-joins on the term
    // key are the classic word-count shape this module's header promises;
    // only the 1-row totals frame is hinted.
    big.join(u1, "w1").join(u2, "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12").cast(DoubleType) * col("tu").cast(DoubleType) *
          col("tu").cast(DoubleType)) /
          (col("tb").cast(DoubleType) * col("c1").cast(DoubleType) *
            col("c2").cast(DoubleType))), 6).as("pmi"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(30)
  }

  /** Zipf rank-frequency profile of the corpus vocabulary: top-20 terms
    * with frequency share and cumulative share. Ranking and cumulation
    * are pure integer arithmetic; the two divisions are exact-input
    * double ops, deterministic across engines.
    */
  val tx15Zipf: GraftQuery = q(
    "tx15_zipf",
    "Zipf rank-frequency profile with cumulative share",
    """WITH unic AS (
      |  SELECT term, COUNT(*) AS n FROM (
      |    SELECT UNNEST(string_split(text, ' ')) AS term FROM documents) t
      |  GROUP BY term),
      |tot AS (SELECT SUM(n) AS total FROM unic),
      |ranked AS (
      |  SELECT term, n,
      |    ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rank,
      |    SUM(n) OVER (ORDER BY n DESC, term
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
      |  FROM unic)
      |SELECT rank, term, n,
      |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS freq,
      |  CAST(cum_n AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
      |FROM ranked CROSS JOIN tot
      |WHERE rank <= 20 ORDER BY rank""".stripMargin) { (s, d) =>
    // No global Window: an ORDER BY window with no partition key funnels
    // the whole vocabulary through ONE task. Top-20 goes through
    // TakeOrderedAndProject (per-partition partial top-k, 20-row driver
    // merge); rank + cumulative sum are then a 20×20 broadcast
    // self-join — bounded work regardless of vocabulary size.
    val unic = Tables.documents(s, d)
      .select(explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    val tot = unic.agg(sum(col("n")).as("total"))
    val top = unic.orderBy(col("n").desc, col("term")).limit(20)
    val peers = top.select(col("term").as("tb"), col("n").as("nb"))
    top.join(broadcast(peers),
      col("nb") > col("n") ||
        (col("nb") === col("n") && col("tb") <= col("term")))
      .groupBy(col("term"), col("n"))
      .agg(count(lit(1)).as("rank"), sum(col("nb")).as("cum_n"))
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("term"), col("n"),
        (col("n").cast(DoubleType) / col("total").cast(DoubleType)).as("freq"),
        (col("cum_n").cast(DoubleType) / col("total").cast(DoubleType))
          .as("cum_share"))
      .orderBy("rank")
  }

  /** Benchmark decontamination: flag corpus documents whose token
    * 3-gram shingles overlap a held-out eval set (doc_id % 50 = 0 plays
    * the benchmark). The eval shingle set is broadcast — eval suites
    * are KBs; the corpus side is one distinct-shingle explode plus a
    * per-doc count aggregation, linear at any corpus size.
    */
  val dc01Decontaminate: GraftQuery = q(
    "dc01_decontaminate",
    "eval-set contamination via 3-gram shingle overlap (broadcast eval)",
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |ev AS (
      |  SELECT DISTINCT UNNEST(list_transform(generate_series(1, len(t) - 2),
      |                          i -> array_to_string(t[i:i+2], ' '))) AS sh
      |  FROM tok WHERE doc_id % 50 = 0 AND len(t) >= 3),
      |cs AS (
      |  SELECT doc_id, UNNEST(list_distinct(
      |           list_transform(generate_series(1, len(t) - 2),
      |                          i -> array_to_string(t[i:i+2], ' ')))) AS sh
      |  FROM tok WHERE doc_id % 50 <> 0 AND len(t) >= 3),
      |scored AS (
      |  SELECT cs.doc_id, COUNT(*) AS n_shingles, COUNT(ev.sh) AS n_hit
      |  FROM cs LEFT JOIN ev ON cs.sh = ev.sh
      |  GROUP BY cs.doc_id)
      |SELECT doc_id, n_shingles, n_hit,
      |  CAST(n_hit AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS contamination
      |FROM scored WHERE n_hit > 0 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
    val shingles = transform(sequence(lit(1), size(col("t")) - 2),
      i => concat_ws(" ", slice(col("t"), i, lit(3))))
    val ev = tok.filter(col("doc_id") % 50 === 0)
      .select(explode(shingles).as("sh")).distinct()
      .withColumn("hit", lit(1))
    val cs = tok.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), explode(array_distinct(shingles)).as("sh"))
    cs.join(broadcast(ev), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hit"))
      .filter(col("n_hit") > 0)
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        (col("n_hit").cast(DoubleType) / col("n_shingles").cast(DoubleType))
          .as("contamination"))
      .orderBy("doc_id")
  }

  /** The 13-gram decontamination GATE published pipelines actually run
    * (GPT-3 appendix C / PaLM-style): the middle ground between dc01
    * (short shingles — chance collisions dominate) and dc02 (embedding
    * space). At n = 13 a random token window almost never collides, so
    * an overlapping gram is near-proof of true contamination (a copied
    * eval passage) — on this corpus only the planted duplicate docs
    * fire, exactly the published behavior. Differences from dc01, each
    * load-bearing at scale:
    *  - grams stream out of the native [[graft.plans.NGramExplode]]
    *    Generator (no per-doc 13-gram ARRAY is materialized — a 13-way
    *    concat per position would 13× the tokenized corpus in memory);
    *  - the join key is a 64-bit gram FINGERPRINT (16 hex chars of
    *    md5), not the ~90-char raw gram — the shuffle/broadcast
    *    payload shrinks ~6× and the key is fixed-width;
    *  - the corpus is tokenized and exploded ONCE (pinned) and both
    *    the eval and corpus sides read that frame — one corpus pass;
    *  - the output is a DECISION, not just an audit: dropped = overlap
    *    above τ = 0.2 by exact integer cross-multiply (n_hit·5 >
    *    n_grams — no fp boundary).
    * Eval suites are KBs at any corpus scale, so the distinct eval
    * fingerprint set broadcasts; the corpus side is one linear
    * Generator pass + a per-doc count aggregate. */
  val dc03NgramDecontam: GraftQuery = q(
    "dc03_ngram_decontam",
    "GPT-3-style 13-gram decontamination gate: fingerprinted eval n-grams vs corpus, overlap fraction + threshold drop",
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |ev AS (
      |  SELECT DISTINCT substr(md5(g), 1, 16) AS gh FROM (
      |    SELECT UNNEST(list_transform(generate_series(1, len(t) - 12),
      |      i -> array_to_string(t[i:i+12], ' '))) AS g
      |    FROM tok WHERE doc_id % 50 = 0 AND len(t) >= 13)),
      |cs AS (
      |  SELECT DISTINCT doc_id, substr(md5(g), 1, 16) AS gh FROM (
      |    SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 12),
      |      i -> array_to_string(t[i:i+12], ' '))) AS g
      |    FROM tok WHERE doc_id % 50 <> 0 AND len(t) >= 13)),
      |scored AS (
      |  SELECT cs.doc_id, COUNT(*) AS n_grams, COUNT(ev.gh) AS n_hit
      |  FROM cs LEFT JOIN ev ON ev.gh = cs.gh
      |  GROUP BY cs.doc_id)
      |SELECT doc_id, n_grams, n_hit,
      |  CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE) AS overlap,
      |  CAST(CASE WHEN n_hit * 5 > n_grams THEN 1 ELSE 0 END AS BIGINT)
      |    AS dropped
      |FROM scored WHERE n_hit > 0 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val N = 13
    // ONE tokenize+explode pass feeds both sides (pinned): distinct
    // (doc, fingerprint) pairs out of the streaming Generator
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= N)
      .select(col("doc_id"),
        graft.plans.VectorExpressions.ngram_explode(col("t"), N))
      .select(col("doc_id"), substring(md5(col("gram")), 1, 16).as("gh"))
      .distinct()
      .pinned
    val ev = grams.filter(col("doc_id") % 50 === 0)
      .select(col("gh")).distinct().withColumn("hit", lit(1))
    val cs = grams.filter(col("doc_id") % 50 =!= 0)
    cs.join(broadcast(ev), Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
      .filter(col("n_hit") > 0)
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        (col("n_hit").cast(DoubleType) / col("n_grams").cast(DoubleType))
          .as("overlap"),
        when(col("n_hit") * 5 > col("n_grams"), 1L).otherwise(0L)
          .as("dropped"))
      .orderBy("doc_id")
  }

  /** The full curation funnel a training-data pipeline runs, as ONE
    * lineage: eval holdout → quality gate → exact dedup (keep-first) →
    * near-dup removal (shingle MinHash-LSH, keep-smallest-in-bucket) →
    * decontamination vs the held-out eval shingles — reporting doc and
    * token counts after every stage. Each stage consumes the previous
    * stage's survivors; the expensive shingle/signature frames are
    * checkpointed once (dd10's pattern) and every removal is an
    * (anti-)join on doc_id or a band key, never on text. */
  val cc01CurationPipeline: GraftQuery = {
    val R = 4
    val B = 2
    val bandsSql = (0 until B).map { b =>
      val comps = (b * R until (b + 1) * R).map(j => s"s$j").mkString(" || ")
      s"SELECT doc_id, $b AS bi, md5($comps) AS bk FROM sig"
    }.mkString("\n  UNION ALL ")
    def stageSql(id: Int, name: String, cte: String) =
      s"""SELECT $id AS stage_id, '$name' AS stage, COUNT(*) AS n_docs,
         |  CAST(SUM(len(ws)) AS BIGINT) AS n_tokens FROM $cte""".stripMargin
    q("cc01_curation_pipeline",
      "end-to-end corpus curation funnel: holdout, quality, dedup, LSH, decontam",
      s"""WITH s1 AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
         |s2 AS (SELECT * FROM s1 WHERE doc_id % 50 <> 0),
         |s3 AS (SELECT * FROM s2 WHERE len(ws) >= 40),
         |keepers AS (SELECT MIN(doc_id) AS doc_id FROM s3 GROUP BY text),
         |s4 AS (SELECT s3.* FROM s3 JOIN keepers USING (doc_id)),
         |sh AS (
         |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS w
         |  FROM s4, UNNEST(range(1, len(ws) - 1)) AS t(i)),
         |sig AS (
         |  SELECT doc_id,
         |    ${(0 until B * R).map(j => s"MIN(md5('$j:' || w)) AS s$j").mkString(", ")}
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandsSql),
         |dominated AS (
         |  SELECT DISTINCT a.doc_id FROM bands a
         |  JOIN bands b ON a.bi = b.bi AND a.bk = b.bk AND b.doc_id < a.doc_id),
         |s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM dominated)),
         |ev AS (
         |  SELECT DISTINCT UNNEST(list_transform(generate_series(1, len(ws) - 2),
         |                          i -> array_to_string(ws[i:i+2], ' '))) AS sh
         |  FROM s1 WHERE doc_id % 50 = 0 AND len(ws) >= 3),
         |cs AS (SELECT doc_id, w AS sh FROM sh JOIN s5 USING (doc_id)),
         |contam AS (
         |  SELECT cs.doc_id, COUNT(*) AS ns, COUNT(ev.sh) AS nh
         |  FROM cs LEFT JOIN ev ON cs.sh = ev.sh GROUP BY cs.doc_id),
         |clean AS (SELECT doc_id FROM contam
         |          WHERE CAST(nh AS DOUBLE) / CAST(ns AS DOUBLE) < 0.5),
         |s6 AS (SELECT s5.* FROM s5 JOIN clean USING (doc_id))
         |SELECT * FROM (
         |  ${stageSql(1, "raw", "s1")}
         |  UNION ALL ${stageSql(2, "eval_holdout", "s2")}
         |  UNION ALL ${stageSql(3, "quality", "s3")}
         |  UNION ALL ${stageSql(4, "exact_dedup", "s4")}
         |  UNION ALL ${stageSql(5, "near_dedup", "s5")}
         |  UNION ALL ${stageSql(6, "decontaminated", "s6")})
         |ORDER BY stage_id""".stripMargin) { (s, d) =>
      // ONE corpus scan for the whole funnel: the six stage counts (and
      // the eval/corpus splits) all descend from s1, which unpinned
      // re-reads documents per consumer (ScanAudit: 8 scans/run). The
      // pinned frame is compact — the token ARRAY collapses to its
      // length here (stages only ever sum it; the shingle stages
      // re-derive what they need from `text`) — so the materialized
      // state is ~the corpus text, paid once.
      val s1 = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          size(split(col("text"), " ")).as("n_ws"))
        .pinned
      val s2 = s1.filter(col("doc_id") % 50 =!= 0)
      val s3 = s2.filter(col("n_ws") >= 40)
      // keepers/dominated are tiny doc_id sets, but their lineages are
      // the two expensive shuffles (full-text groupBy; band self-join).
      // Six stage counts re-traverse the funnel, so pin each set once —
      // the first action populates the cache and the other five read it.
      val keepers = s3.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id").pinned
      val s4 = s3.join(keepers, Seq("doc_id"), "left_semi")
      val shDf = s4
        .select(col("doc_id"), TextFunctions.shingles(col("text"), 3).as("sh"))
        .pinned
      val sig = shDf.select(col("doc_id"),
        graft.plans.VectorExpressions.minhash_signature(col("sh"), B * R).as("sig"))
      val bands = sig.select(col("doc_id"), explode(array((0 until B).map(b =>
        struct(lit(b).as("bi"),
          md5(concat((b * R until (b + 1) * R).map(j =>
            element_at(col("sig"), j + 1)): _*)).as("bk"))): _*)).as("e"))
        .select(col("doc_id"), col("e.bi").as("bi"), col("e.bk").as("bk"))
        .pinned
      val dominated = bands.select(col("doc_id").as("da"), col("bi"), col("bk"))
        .join(bands.select(col("doc_id").as("db"),
          col("bi").as("bi2"), col("bk").as("bk2")),
          col("bi") === col("bi2") && col("bk") === col("bk2") &&
            col("db") < col("da"))
        .select(col("da").as("doc_id")).distinct().pinned
      val s5 = s4.join(dominated, Seq("doc_id"), "left_anti")
      val ev = s1.filter(col("doc_id") % 50 === 0).filter(col("n_ws") >= 3)
        .select(explode(TextFunctions.shingles(col("text"), 3)).as("sh"))
        .distinct().withColumn("hit", lit(1))
      val cs = shDf.join(s5.select("doc_id"), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), explode(col("sh")).as("sh"))
      val clean = cs.join(broadcast(ev), Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("ns"), count(col("hit")).as("nh"))
        .filter(col("nh").cast(DoubleType) / col("ns").cast(DoubleType) < 0.5)
        .select("doc_id")
      val s6 = s5.join(clean, Seq("doc_id"), "left_semi")
      def stage(id: Int, name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"),
          sum(col("n_ws")).cast(LongType).as("n_tokens"))
          .select(lit(id).as("stage_id"), lit(name).as("stage"),
            col("n_docs"), col("n_tokens"))
      stage(1, "raw", s1)
        .unionAll(stage(2, "eval_holdout", s2))
        .unionAll(stage(3, "quality", s3))
        .unionAll(stage(4, "exact_dedup", s4))
        .unionAll(stage(5, "near_dedup", s5))
        .unionAll(stage(6, "decontaminated", s6))
        .orderBy("stage_id")
    }
  }

  /** Sequence packing: assign documents to fixed-budget training bins
    * (2048 tokens) by running token offset. A single global greedy pack
    * would serialize through one task (the tx15 lesson), so docs are
    * first spread across 32 independent pack groups by id hash and
    * packed within each — the running-sum window partitions by group,
    * so every group packs in parallel and the plan has NO
    * single-partition window. Per (group, bin): docs, tokens, fill
    * ratio — the padding-waste metric a data loader cares about. */
  val pk01SequencePacking: GraftQuery = {
    val BUDGET = 2048
    val GROUPS = 32
    q("pk01_sequence_packing",
      s"pack docs into $BUDGET-token training bins within $GROUPS parallel groups",
      s"""WITH sized AS (
         |  SELECT doc_id, doc_id % $GROUPS AS grp,
         |    len(string_split(text, ' ')) AS n_tokens
         |  FROM documents),
         |offs AS (
         |  SELECT grp, doc_id, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS off
         |  FROM sized),
         |binned AS (
         |  SELECT grp, doc_id, n_tokens,
         |    CAST(FLOOR(off / $BUDGET.0) AS BIGINT) AS bin
         |  FROM offs)
         |SELECT grp, bin, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS tokens,
         |  CAST(SUM(n_tokens) AS DOUBLE) / $BUDGET AS fill_ratio
         |FROM binned GROUP BY grp, bin ORDER BY grp, bin""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("grp")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), (col("doc_id") % GROUPS).as("grp"),
          size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
        .withColumn("off", sum(col("n_tokens")).over(w) - col("n_tokens"))
        .withColumn("bin", floor(col("off") / lit(BUDGET.toDouble)).cast(LongType))
        .groupBy("grp", "bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast(LongType).as("tokens"),
          (sum(col("n_tokens")).cast(DoubleType) / BUDGET).as("fill_ratio"))
        .orderBy("grp", "bin")
    }
  }

  /** Curriculum quality-binning: per-language EXACT quartile thresholds
    * of a per-doc metric (tokens), computed by the distributed
    * histogram-refinement selection ([[Rank.discretePercentiles]] — no
    * per-group sort, zero fact shuffles), broadcast back onto the
    * corpus, and every document assigned its quartile bin — the
    * bucketing step of curriculum/quality-tiered sampling. The
    * threshold table is |groups| rows at ANY corpus size, so the
    * assignment join is always a broadcast; the only full-data passes
    * are the selection's narrow scans and one final group-count. The
    * oracle recomputes the same discrete ranks ((n·p+99) div 100,
    * 1-based ceil — values at a rank are deterministic even under ties)
    * with a window, which is exactly the per-group sort this operator
    * exists to avoid. */
  val qb01QualityBins: GraftQuery = q(
    "qb01_quality_bins",
    "curriculum bins: exact per-language token quartiles (rank selection) + binned counts",
    """WITH t AS (
      |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS v
      |  FROM documents),
      |r AS (
      |  SELECT lang, v,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY v) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM t),
      |th AS (
      |  SELECT lang,
      |    MAX(CASE WHEN rn = (n * 25 + 99) // 100 THEN v END) AS t25,
      |    MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN v END) AS t50,
      |    MAX(CASE WHEN rn = (n * 75 + 99) // 100 THEN v END) AS t75
      |  FROM r GROUP BY lang),
      |b AS (
      |  SELECT t.lang,
      |    CAST(CASE WHEN v <= t25 THEN 0 WHEN v <= t50 THEN 1
      |              WHEN v <= t75 THEN 2 ELSE 3 END AS BIGINT) AS bin, v
      |  FROM t JOIN th ON t.lang = th.lang)
      |SELECT lang, bin, COUNT(*) AS n_docs,
      |  MIN(v) AS min_tokens, MAX(v) AS max_tokens
      |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("lang"), size(split(col("text"), " ")).cast(LongType).as("v"))
    val th = Rank.discretePercentiles(docs, "lang", "v",
      Seq("t25" -> 25, "t50" -> 50, "t75" -> 75))
    docs.join(broadcast(th), "lang")
      .withColumn("bin",
        when(col("v") <= col("t25"), 0L).when(col("v") <= col("t50"), 1L)
          .when(col("v") <= col("t75"), 2L).otherwise(3L))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"),
        min("v").as("min_tokens"), max("v").as("max_tokens"))
      .orderBy("lang", "bin")
  }

  /** Domain-mixture weights: per-source token shares and the sampling
    * weight that flattens the mix toward a uniform target (capped at 3×
    * upsampling so rare domains aren't repeated into memorization) —
    * the static data-mixing step of a pretraining pipeline. One
    * word-count-shaped aggregation over sources (tiny key space →
    * partial aggs collapse almost everything map-side); the totals row
    * is a broadcast cross join, so the plan is a single shuffle no
    * matter the corpus size. Weights are pure double arithmetic on
    * integer counts — identical expression tree on both engines. */
  val mx01DomainMix: GraftQuery = q(
    "mx01_domain_mix",
    "per-source token shares + capped uniform-target sampling weights",
    """WITH per AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(tokens) AS DOUBLE) AS tt, COUNT(*) AS ns FROM per)
      |SELECT source, n_docs, tokens,
      |  ROUND(tokens / tt, 6) AS share,
      |  ROUND(LEAST(3.0, (1.0 / ns) / (tokens / tt)), 6) AS weight
      |FROM per CROSS JOIN tot
      |ORDER BY source""".stripMargin) { (s, d) =>
    val per = Tables.documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast(LongType).as("tokens"))
    val tot = per.agg(sum(col("tokens")).cast(DoubleType).as("tt"),
      count(lit(1)).as("ns"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("tokens"),
        round(col("tokens") / col("tt"), 6).as("share"),
        round(least(lit(3.0),
          (lit(1.0) / col("ns")) / (col("tokens") / col("tt"))), 6).as("weight"))
      .orderBy("source")
  }

  /** Temperature-smoothed mixture weights (the multilingual-sampling
    * rule p_i^(1/T) / Σ p_j^(1/T), here at T = 2 so the exponent is an
    * exactly-rounded `sqrt`): up-samples tail sources less brutally
    * than mx01's hard cap. Cross-engine determinism of the normalizer
    * is the subtle part — Σ over per-source doubles is shuffle-order-
    * dependent — so each smoothed share is quantized to 6dp FIRST and
    * the normalizer sums EXACT decimals (order-independent), with one
    * final double divide. Single narrow aggregation; the normalizer is
    * a broadcast 1-row frame — same shape at any corpus size. */
  val mx02TemperatureMix: GraftQuery = q(
    "mx02_temperature_mix",
    "temperature-smoothed (T=2) domain sampling weights, exact-decimal normalizer",
    """WITH per AS (
      |  SELECT source,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(tokens) AS DOUBLE) AS tt FROM per),
      |sm AS (
      |  SELECT source, tokens,
      |    CAST(ROUND(SQRT(tokens / tt), 6) AS DECIMAL(18,6)) AS wq
      |  FROM per CROSS JOIN tot),
      |z AS (SELECT SUM(wq) AS zt FROM sm)
      |SELECT source, tokens,
      |  ROUND(tokens / (SELECT tt FROM tot), 6) AS share,
      |  ROUND(CAST(wq AS DOUBLE) / CAST((SELECT zt FROM z) AS DOUBLE), 6) AS temp_weight
      |FROM sm ORDER BY source""".stripMargin) { (s, d) =>
    val per = Tables.documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).as("n_tok"))
      .groupBy("source")
      .agg(sum(col("n_tok")).cast(LongType).as("tokens"))
    val tot = per.agg(sum(col("tokens")).cast(DoubleType).as("tt"))
    val sm = per.crossJoin(broadcast(tot))
      .withColumn("wq",
        round(sqrt(col("tokens") / col("tt")), 6).cast(DecimalType(18, 6)))
    val z = sm.agg(sum(col("wq")).as("zt"))
    sm.crossJoin(broadcast(z))
      .select(col("source"), col("tokens"),
        round(col("tokens") / col("tt"), 6).as("share"),
        round(col("wq").cast(DoubleType) / col("zt").cast(DoubleType), 6)
          .as("temp_weight"))
      .orderBy("source")
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every document by how target-like its token distribution is,
    * where "target" is one source's docs and "background" is the whole
    * corpus. Tokens are hashed into a FIXED feature space (1024
    * buckets, the paper's hashed n-gram trick) so the per-bucket
    * statistics table is bounded — 1024 rows whether the corpus is MBs
    * or 100 TB — and always broadcastable. Per-bucket weight is the
    * log-free integer odds ratio `tgt_ct·10⁶ div bg_ct` (the same
    * cross-engine-determinism device as bm01's idf): a document's
    * importance is Σ count_b·odds_b over its buckets, all BIGINT, so
    * the ranking is hash-exact on any engine. Headroom: 10¹² corpus
    * tokens × 10⁶ scale = 10¹⁸ < 2⁶³.
    *
    * Plan shape: ONE token-level aggregation — per-(doc, bucket)
    * counts, partial-agg'd map-side — which is then reused twice: the
    * global bucket odds are a second tiny aggregation OVER those
    * counts (docs×1024 rows, not tokens), broadcast back for the final
    * per-doc score. The exploded token stream crosses the wire once.
    * Linear in corpus size, no all-pairs, no UDFs. */
  val ir01ImportanceWeights: GraftQuery = {
    val NB = 1024L // hashed feature buckets
    val SCALE = 1000000L // odds fixed-point scale
    q("ir01_importance_weights",
      "DSIR hashed-feature importance weights: target-vs-background integer odds",
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    CAST((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 4096
         |       + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 256
         |       + (strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) * 16
         |       + (strpos('0123456789abcdef', substr(md5(tok), 4, 1)) - 1) AS BIGINT)
         |      % $NB AS b
         |  FROM (SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS tok
         |        FROM documents)),
         |per AS MATERIALIZED (
         |  SELECT doc_id, source, b, COUNT(*) AS c FROM toks GROUP BY 1, 2, 3),
         |odds AS MATERIALIZED (
         |  SELECT b,
         |    CAST(SUM(CASE WHEN source = 'src0' THEN c ELSE 0 END) * $SCALE
         |         // SUM(c) AS BIGINT) AS odds
         |  FROM per GROUP BY b)
         |SELECT doc_id, source,
         |  CAST(SUM(c) AS BIGINT) AS n_tokens,
         |  CAST(SUM(c * odds) AS BIGINT) AS ir_score
         |FROM per JOIN odds USING (b)
         |GROUP BY doc_id, source
         |ORDER BY ir_score DESC, doc_id LIMIT 40""".stripMargin) { (s, d) =>
      // same 16-bit md5 word value as tx07's fingerprint, folded mod NB
      val bucket = (conv(substring(md5(col("tok")), 1, 4), 16, 10)
        .cast(LongType) % NB).as("b")
      import graft.Pin.PinOps
      val per = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), col("source"), bucket)
        .groupBy(col("doc_id"), col("source"), col("b"))
        .agg(count(lit(1)).as("c"))
        .pinned // consumed twice: odds derivation + final scoring
      val odds = per.groupBy(col("b"))
        .agg(sum(col("c")).as("bg_ct"),
          sum(when(col("source") === "src0", col("c")).otherwise(0L)).as("tgt_ct"))
        .select(col("b"), expr(s"tgt_ct * $SCALE div bg_ct").as("odds"))
      per.join(broadcast(odds), Seq("b"))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("c")).cast(LongType).as("n_tokens"),
          sum(col("c") * col("odds")).cast(LongType).as("ir_score"))
        .orderBy(desc("ir_score"), col("doc_id"))
        .limit(40)
    }
  }

  /** Corpus-trained bigram-LM fluency scoring — the CCNet/KenLM-shaped
    * quality filter: train unigram + bigram counts on the corpus
    * itself, score every document by its average conditional bigram
    * probability p(w2|w1) = c(w1 w2)/c(w1), and surface both tails
    * (the low tail is what a perplexity filter drops; the high tail is
    * boilerplate-suspect). All integer arithmetic: each bigram instance
    * scores (c12 · 10^6) div c1, a document averages by one more
    * integer division — no logs, no floats, schedule-independent and
    * hash-exact cross-engine.
    *
    * Scale shape: classic word-count joins — the bigram-instance
    * stream joins the count tables on their own group keys (shuffle
    * equi-joins, NO broadcast: both count tables are vocab-sized and
    * grow with the corpus — the exact class the round-6 guard forbids
    * hinting), one per-doc aggregation, and two TakeOrdered tails
    * (k=10 heaps, never a global sort). */
  val lm01NgramScore: GraftQuery = q(
    "lm01_ngram_score",
    "bigram-LM fluency score (integer p(w2|w1) avg), low/high tails",
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bif AS (
      |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
      |    SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 1),
      |                   i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
      |    FROM tok)),
      |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM bif GROUP BY 1, 2),
      |unic AS (
      |  SELECT w, COUNT(*) AS c FROM (
      |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents) GROUP BY w),
      |sc AS (
      |  SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM((g.c12 * 1000000) // u.c) AS BIGINT) AS psum
      |  FROM bif f JOIN big g ON f.w1 = g.w1 AND f.w2 = g.w2
      |  JOIN unic u ON f.w1 = u.w
      |  GROUP BY f.doc_id),
      |ds AS (
      |  SELECT doc_id, n_bigrams,
      |    CAST(psum // n_bigrams AS BIGINT) AS score FROM sc),
      |low AS (
      |  SELECT 'low' AS tail, doc_id, n_bigrams, score FROM ds
      |  ORDER BY score, doc_id LIMIT 10),
      |high AS (
      |  SELECT 'high' AS tail, doc_id, n_bigrams, score FROM ds
      |  ORDER BY score DESC, doc_id LIMIT 10)
      |SELECT * FROM low UNION ALL SELECT * FROM high
      |ORDER BY tail, score, doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val tok = docs.select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val bif = tok.select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("w1"),
          element_at(col("t"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .pinned // one explode pass feeds the count build AND the scoring join
    val big = bif.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val unic = docs.select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    // Score each PAIR once on the vocab-bounded tables (big ⨝ unic is a
    // vocab-sized join), then hit the corpus-scale instance stream with
    // a single equi-join — identical psum (the score depends only on
    // the pair), one big-stream shuffle instead of two.
    val scored = big
      .join(unic.select(col("w").as("w1"), col("c")), Seq("w1"))
      .select(col("w1"), col("w2"), expr("(c12 * 1000000) div c").as("psc"))
    val ds = bif
      .join(scored, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("psc")).as("psum"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("psum div n_bigrams").cast(LongType).as("score"))
      // pinned: BOTH tails (low and high TakeOrdered) consume ds —
      // unpinned, each re-derived the vocab joins + the bigram-stream
      // join + the per-doc aggregate from scratch (bif's cache only
      // reached the explode; the unigram DOCS RESCAN and both
      // corpus-stream shuffles ran twice). One doc-count-bounded
      // cache row set serves both heaps.
      .pinned
    val low = ds.orderBy(col("score"), col("doc_id")).limit(10)
      .select(lit("low").as("tail"), col("doc_id"), col("n_bigrams"), col("score"))
    val high = ds.orderBy(col("score").desc, col("doc_id")).limit(10)
      .select(lit("high").as("tail"), col("doc_id"), col("n_bigrams"), col("score"))
    low.unionByName(high).orderBy("tail", "score", "doc_id")
  }

  /** One BPE training round for the DuckDB oracle: count adjacent
    * symbol pairs weighted by word frequency, pick the global argmax
    * (count desc, then lexicographic pair — fully deterministic), and
    * apply the merge with leftmost non-overlapping `replace` (identical
    * semantics in DuckDB and the JVM). Symbols ride as `|sym|`-wrapped,
    * space-joined strings so a merge is a pure string substitution and
    * no symbol can substring-collide with a neighbor. */
  private def bpeRoundSql(i: Int): String = {
    val prev = if (i == 1) "s0" else s"st${i - 1}"
    s"""p$i AS MATERIALIZED (
       |  SELECT p.s1 AS s1, p.s2 AS s2, CAST(SUM(f) AS BIGINT) AS cnt FROM (
       |    SELECT f, UNNEST(list_transform(generate_series(1, len(sy) - 1),
       |           k -> struct_pack(s1 := sy[k], s2 := sy[k + 1]))) AS p
       |    FROM (SELECT f, string_split(st, ' ') AS sy FROM $prev) t
       |    WHERE len(sy) >= 2)
       |  GROUP BY 1, 2),
       |m$i AS MATERIALIZED (
       |  SELECT s1, s2, replace(s1 || s2, '||', '') AS merged, cnt
       |  FROM p$i ORDER BY cnt DESC, s1, s2 LIMIT 1),
       |st$i AS MATERIALIZED (
       |  SELECT w, f, replace(st, m$i.s1 || ' ' || m$i.s2, m$i.merged) AS st
       |  FROM $prev CROSS JOIN m$i)""".stripMargin
  }

  /** Shared oracle prefix for the BPE family: word-frequency table,
    * initial per-character symbol state (keyed by the word so the
    * final segmentation is joinable), and 3 training rounds. */
  private val bpeChainSql: String =
    s"""wf AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
       |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w),
       |s0 AS MATERIALIZED (
       |  SELECT w, f, '|' || array_to_string(string_split(w, ''), '| |') || '|' AS st
       |  FROM wf),
       |${bpeRoundSql(1)},
       |${bpeRoundSql(2)},
       |${bpeRoundSql(3)}""".stripMargin

  /** Shared BPE trainer: 3 greedy merge rounds over the pinned
    * vocab-bounded word-frequency table. Returns the final symbol
    * state `(w, f, st)` — the word→segmentation map a tokenizer
    * applies — and the learned merge rules in training order. */
  private def bpeTrain(s: SparkSession, d: String)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) = {
    val docs = Tables.documents(s, d)
    val chars = filter(split(col("w"), ""), c => length(c) > 0)
    var state = docs
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).cast(LongType).as("f"))
      .select(col("w"), col("f"),
        concat(lit("|"), array_join(chars, "| |"), lit("|")).as("st"))
      .pinned // vocab-bounded; every round below iterates on this frame
    val rules = Seq.newBuilder[(Int, String, String, String, Long)]
    for (r <- 1 to 3) {
      val top = state
        .select(col("f"), split(col("st"), " ").as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("f"), explode(transform(
          sequence(lit(1), size(col("sy")) - 1),
          k => struct(element_at(col("sy"), k).as("s1"),
            element_at(col("sy"), k + 1).as("s2")))).as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("s1"), col("s2"))
        .limit(1).collect()(0) // 1-row argmax: the merge decision
      val (s1v, s2v, cnt) = (top.getString(0), top.getString(1), top.getLong(2))
      val merged = (s1v + s2v).replace("||", "")
      rules += ((r, s1v, s2v, merged, cnt))
      state = state.select(col("w"), col("f"),
        replace(col("st"), lit(s1v + " " + s2v), lit(merged)).as("st"))
    }
    (state, rules.result())
  }

  /** BPE vocabulary induction — the tokenizer-training primitive: 3
    * greedy merge rounds over the corpus, emitting the learned merge
    * rules (the artifact a tokenizer trainer actually produces). Each
    * round counts adjacent symbol pairs weighted by word frequency,
    * merges the globally most frequent pair (ties broken
    * lexicographically), and rewrites the symbol state.
    *
    * Scale shape — the standard BPE trainer decomposition: ONE
    * corpus-wide pass builds the word-frequency table (a word-count
    * shuffle), and every training round then iterates on that
    * VOCAB-BOUNDED frame (pinned once), never on the corpus again. The
    * per-round argmax is a 1-row TakeOrdered collect — the merge choice
    * is inherently sequential and O(1)-sized, same bounded-collect
    * class as the graph fixed-points (GraphQueries header). Merge
    * application is a map-side string substitution; leftmost
    * non-overlapping `replace` has identical semantics on the JVM and
    * in DuckDB, so the state evolution is hash-exact cross-engine. */
  val bpe01VocabInduction: GraftQuery = q(
    "bpe01_vocab_induction",
    "BPE vocabulary induction: 3 greedy pair-merge rounds, learned rules + counts",
    s"""WITH $bpeChainSql
       |SELECT * FROM (
       |  SELECT CAST(1 AS INTEGER) AS round, s1, s2, merged, cnt FROM m1
       |  UNION ALL
       |  SELECT CAST(2 AS INTEGER), s1, s2, merged, cnt FROM m2
       |  UNION ALL
       |  SELECT CAST(3 AS INTEGER), s1, s2, merged, cnt FROM m3)
       |ORDER BY round""".stripMargin) { (s, d) =>
    import s.implicits._
    val (_, rules) = bpeTrain(s, d)
    rules.toDF("round", "s1", "s2", "merged", "cnt").orderBy("round")
  }

  /** BPE encoding — the tokenizer APPLIED: join the corpus token
    * stream against the trained word→segmentation map and report
    * per-document word and symbol counts (the sequence length a
    * downstream packer/quota sees after tokenization).
    *
    * Scale shape: training iterates only on the vocab-bounded state
    * (see bpeTrain); the encode pass is ONE shuffle equi-join of the
    * corpus token stream against the vocab-sized segmentation table
    * on the word key — NO broadcast hint (vocabulary grows with the
    * corpus; size-based planning + AQE may still pick broadcast while
    * it truly fits, which is the safe default), then one per-doc
    * aggregation. The corpus stream is touched exactly once. */
  val bpe02Encode: GraftQuery = q(
    "bpe02_encode",
    "apply learned BPE merges: per-doc word/symbol counts via segmentation join",
    s"""WITH $bpeChainSql,
       |seg AS MATERIALIZED (
       |  SELECT w, len(string_split(st, ' ')) AS ns FROM st3),
       |tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents)
       |SELECT t.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(s.ns) AS BIGINT) AS n_symbols
       |FROM tok t JOIN seg s ON t.w = s.w
       |GROUP BY t.doc_id
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val (state, _) = bpeTrain(s, d)
    val seg = state.select(col("w"), size(split(col("st"), " ")).as("ns"))
    val docs = Tables.documents(s, d)
    docs.select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("w"))
      .join(seg, Seq("w")) // vocab-scale side: equi-join, no hint
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("ns")).cast(LongType).as("n_symbols"))
      .orderBy("doc_id")
  }

  /** fastText-style linear quality-classifier INFERENCE — the shape of
    * every learned document filter (quality, toxicity, domain) a
    * training pipeline runs over the whole corpus. Tokens hash into a
    * fixed 64-bucket feature space; each bucket carries a deterministic
    * integer weight ((b·37) mod 101 − 50, i.e. a frozen model
    * artifact); a document's score is the sum of its token weights and
    * its label the score's sign. All-integer, so hash-exact on any
    * engine.
    *
    * Scale shape: the entire inference is ONE map-side higher-order
    * expression — `aggregate(transform(tokens, weight))` — no explode,
    * no shuffle, no UDF; the plan is a codegen'd Project over the
    * scan. A real model swaps the weight formula for a broadcast of
    * its (bounded, vocab-hashed) weight table; the 100 TB cost is one
    * streaming pass either way. */
  val qc01ClassifierScore: GraftQuery = q(
    "qc01_classifier_score",
    "hashed linear classifier inference: map-only integer scoring + sign label",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |s AS (
      |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
      |    CAST(list_sum(list_transform(ts, tok ->
      |      ((CAST(CONCAT('0x', SUBSTRING(md5(tok), 1, 4)) AS BIGINT) % 64) * 37) % 101 - 50))
      |      AS BIGINT) AS score
      |  FROM t)
      |SELECT doc_id, n_tokens, score,
      |  CAST(CASE WHEN score >= 0 THEN 1 ELSE 0 END AS BIGINT) AS label
      |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        expr(
          """aggregate(
            |  transform(split(text, ' '),
            |    tok -> ((cast(conv(substring(md5(tok), 1, 4), 16, 10) as bigint) % 64) * 37) % 101 - 50),
            |  cast(0 as bigint), (a, x) -> a + x)""".stripMargin).as("score"))
      .withColumn("label",
        when(col("score") >= 0, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  /** Classifier-threshold retention sweep — the calibration loop run
    * before shipping any learned document filter: for each candidate
    * cutoff, how many documents and tokens survive, and what corpus
    * fraction is that? (FineWeb-Edu-style "pick the threshold that
    * hits the retention target".) Reuses qc01's map-only integer
    * scorer; the sweep explodes each DOC-level row (not tokens) across
    * the bounded threshold ladder and aggregates per threshold — one
    * corpus pass, 5× doc-row inflation, output bounded by the ladder.
    * Fractions are single exact-integer divisions (bit-identical both
    * engines). */
  val qc02ThresholdSweep: GraftQuery = q(
    "qc02_threshold_sweep",
    "classifier cutoff calibration: docs/tokens retained per threshold",
    """WITH s AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(list_sum(list_transform(string_split(text, ' '), tok ->
      |      ((CAST(CONCAT('0x', SUBSTRING(md5(tok), 1, 4)) AS BIGINT) % 64) * 37) % 101 - 50))
      |      AS BIGINT) AS score
      |  FROM documents),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |               CAST(SUM(n_tokens) AS BIGINT) AS n_toks FROM s),
      |th AS (SELECT UNNEST([-200, -100, 0, 100, 200]) AS threshold)
      |SELECT th.threshold,
      |  CAST(SUM(CASE WHEN s.score >= th.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
      |  CAST(SUM(CASE WHEN s.score >= th.threshold THEN s.n_tokens ELSE 0 END) AS BIGINT) AS n_tokens_kept,
      |  CAST(SUM(CASE WHEN s.score >= th.threshold THEN 1 ELSE 0 END) AS DOUBLE) / ANY_VALUE(tot.n_docs) AS frac_docs,
      |  CAST(SUM(CASE WHEN s.score >= th.threshold THEN s.n_tokens ELSE 0 END) AS DOUBLE) / ANY_VALUE(tot.n_toks) AS frac_tokens
      |FROM s CROSS JOIN th CROSS JOIN tot
      |GROUP BY th.threshold ORDER BY th.threshold""".stripMargin) { (s, d) =>
    val scored = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        expr(
          """aggregate(
            |  transform(split(text, ' '),
            |    tok -> ((cast(conv(substring(md5(tok), 1, 4), 16, 10) as bigint) % 64) * 37) % 101 - 50),
            |  cast(0 as bigint), (a, x) -> a + x)""".stripMargin).as("score"))
    val tot = scored.agg(count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).cast(LongType).as("n_toks"))
    scored
      .select(col("n_tokens"), col("score"),
        explode(array(Seq(-200, -100, 0, 100, 200).map(t => lit(t)): _*))
          .as("threshold"))
      .groupBy("threshold")
      .agg(
        sum(when(col("score") >= col("threshold"), 1L).otherwise(0L))
          .cast(LongType).as("n_docs_kept"),
        sum(when(col("score") >= col("threshold"), col("n_tokens")).otherwise(0L))
          .cast(LongType).as("n_tokens_kept"))
      .crossJoin(broadcast(tot))
      .select(col("threshold"), col("n_docs_kept"), col("n_tokens_kept"),
        (col("n_docs_kept").cast(DoubleType) / col("n_docs")).as("frac_docs"),
        (col("n_tokens_kept").cast(DoubleType) / col("n_toks")).as("frac_tokens"))
      .orderBy("threshold")
  }

  /** Water-filling token-budget allocation — the data-constrained
    * mixing computation: given per-source token capacities c_s and a
    * total training budget B (here 60% of the corpus), allocate
    * a_s = min(c_s, θ) where the water level θ solves Σ a_s = B —
    * small sources are taken whole, large sources are capped at the
    * common level (no source is over-sampled before every smaller
    * source is exhausted). θ has a CLOSED FORM over the sorted
    * capacities: k = the largest rank with prefix_k + (n−k)·c_(k) ≤ B,
    * then θ = (B − prefix_k)/(n−k); the integer remainder is dealt
    * deterministically to the lowest-ranked uncapped sources, so the
    * whole computation is exact 64-bit arithmetic, identical in both
    * engines. Everything past the one per-source aggregation runs on
    * the source-bounded frame (~20 rows): window prefix sums, a 1-row
    * scalar join — nothing corpus-sized crosses a shuffle. */
  val mx03BudgetMix: GraftQuery = q(
    "mx03_budget_mix",
    "water-filling allocation of a token budget across sources",
    """WITH src AS (
      |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS c
      |  FROM documents GROUP BY source),
      |o AS (
      |  SELECT source, c,
      |    ROW_NUMBER() OVER (ORDER BY c, source) AS rn,
      |    SUM(c) OVER (ORDER BY c, source
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
      |  FROM src),
      |scal AS (
      |  SELECT COUNT(*) AS n, (SUM(c) * 3) // 5 AS b FROM src),
      |kk AS (
      |  SELECT COALESCE(MAX(rn), 0) AS k FROM o, scal
      |  WHERE prefix + (n - rn) * c <= b),
      |base AS (
      |  SELECT k, n, b,
      |    COALESCE((SELECT prefix FROM o WHERE rn = k), 0) AS pk
      |  FROM kk, scal),
      |lvl AS (
      |  SELECT k, n, b, pk,
      |    CASE WHEN n > k THEN (b - pk) // (n - k) ELSE 0 END AS theta,
      |    CASE WHEN n > k THEN (b - pk) % (n - k) ELSE 0 END AS rem
      |  FROM base)
      |SELECT o.source, o.c AS capacity,
      |  CAST(CASE WHEN o.rn <= lvl.k THEN o.c
      |       ELSE lvl.theta + (CASE WHEN o.rn - lvl.k <= lvl.rem THEN 1 ELSE 0 END)
      |       END AS BIGINT) AS allocation,
      |  CAST(CASE WHEN o.rn <= lvl.k THEN o.c
      |       ELSE lvl.theta + (CASE WHEN o.rn - lvl.k <= lvl.rem THEN 1 ELSE 0 END)
      |       END AS DOUBLE) / o.c AS epochs
      |FROM o, lvl ORDER BY o.source""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val src = Tables.documents(s, d)
      .groupBy("source")
      .agg(sum(size(split(col("text"), " "))).cast(LongType).as("c"))
    val w = Window.orderBy("c", "source")
    // source-bounded frame (~20 rows): the single-partition window is
    // deliberate and safe here, the corpus never enters it
    val o = src
      .withColumn("rn", row_number().over(w).cast(LongType))
      .withColumn("prefix", sum(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .pinned
    val scal = o.agg(count(lit(1)).cast(LongType).as("n"),
      expr("(sum(c) * 3) div 5").as("b"))
    val k = o.crossJoin(broadcast(scal))
      .filter(col("prefix") + (col("n") - col("rn")) * col("c") <= col("b"))
      .agg(coalesce(max(col("rn")), lit(0L)).as("k"))
    val pk = o.join(broadcast(k), col("rn") === col("k"), "right")
      .select(col("k"), coalesce(col("prefix"), lit(0L)).as("pk"))
    val lvl = pk.crossJoin(broadcast(scal))
      .select(col("k"), col("pk"), col("n"), col("b"),
        when(col("n") > col("k"), expr("(b - pk) div (n - k)")).otherwise(0L)
          .as("theta"),
        when(col("n") > col("k"), (col("b") - col("pk")) % (col("n") - col("k")))
          .otherwise(0L).as("rem"))
    val alloc = when(col("rn") <= col("k"), col("c"))
      .otherwise(col("theta") +
        when(col("rn") - col("k") <= col("rem"), 1L).otherwise(0L))
      .cast(LongType)
    o.crossJoin(broadcast(lvl))
      .select(col("source"), col("c").as("capacity"), alloc.as("allocation"),
        (alloc.cast(DoubleType) / col("c")).as("epochs"))
      .orderBy("source")
  }

  /** Context-length padding-efficiency curve — the tuning loop for the
    * packer (pk01): if every document is split into ⌈n/L⌉ fixed-length-L
    * sequences, how much padding does each candidate L waste? Reported
    * per L: sequence count, padded-token waste, and waste fraction.
    * One corpus pass; the doc-level frame explodes across the bounded
    * L-ladder only. */
  val pk02PaddingCurve: GraftQuery = q(
    "pk02_padding_curve",
    "padding-waste curve across candidate context lengths",
    """WITH s AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
      |ls AS (SELECT UNNEST([64, 128, 256, 512]) AS ctx_len)
      |SELECT ls.ctx_len,
      |  CAST(SUM(CAST(CEIL(CAST(s.n AS DOUBLE) / ls.ctx_len) AS BIGINT)) AS BIGINT) AS n_seqs,
      |  CAST(SUM(CAST(CEIL(CAST(s.n AS DOUBLE) / ls.ctx_len) AS BIGINT) * ls.ctx_len - s.n) AS BIGINT) AS n_pad,
      |  CAST(SUM(CAST(CEIL(CAST(s.n AS DOUBLE) / ls.ctx_len) AS BIGINT) * ls.ctx_len - s.n) AS DOUBLE) /
      |    SUM(CAST(CEIL(CAST(s.n AS DOUBLE) / ls.ctx_len) AS BIGINT) * ls.ctx_len) AS pad_frac
      |FROM s CROSS JOIN ls GROUP BY ls.ctx_len ORDER BY ls.ctx_len""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(size(split(col("text"), " ")).cast(LongType).as("n"))
      .select(col("n"),
        explode(array(Seq(64, 128, 256, 512).map(l => lit(l)): _*)).as("ctx_len"))
      // integer ceil-div: (n + L - 1) div L, identical to the oracle's
      // double-ceil because n, L are positive integers
      .select(col("ctx_len"), col("n"),
        expr("(n + ctx_len - 1) div ctx_len").as("nseq"))
      .groupBy("ctx_len")
      .agg(sum(col("nseq")).cast(LongType).as("n_seqs"),
        sum(col("nseq") * col("ctx_len") - col("n")).cast(LongType).as("n_pad"),
        (sum(col("nseq") * col("ctx_len") - col("n")).cast(DoubleType) /
          sum(col("nseq") * col("ctx_len"))).as("pad_frac"))
      .orderBy("ctx_len")
  }

  /** Seeded reproducible shuffle + source-interleaved training order —
    * the step that turns a curated corpus into the SEQUENCE a training
    * run reads. Requirements a real pipeline has: (a) the order looks
    * random (no source/topic runs), (b) it is exactly reproducible
    * from a seed (restarts, audits), (c) every source is spread evenly
    * across the whole stream (a window of the stream has the same mix
    * as the corpus — the interleave property curriculum mixing needs).
    *
    * Construction: hk = md5(seed‖doc_id) is the shuffle key; each doc
    * gets a per-source shuffled rank rs, and the stream orders by
    * (rs, hk) — round r of the stream holds the r-th pick of every
    * source, so sources interleave ~uniformly at every prefix.
    *
    * Scale shape: per-source rank WITHOUT a per-source window (a
    * window partitioned by ~20 sources would funnel the corpus through
    * 20 tasks): one [[Rank.globalRowNumber]] over (source, hk) gives a
    * global rank in which each source's block is contiguous, and
    * subtracting the per-source offset (a running sum over the
    * source-cardinality-bounded count table, broadcast back) converts
    * it to the per-source rank — two range-shuffle passes + one
    * broadcast join, nothing keyed on a low-cardinality partition. */
  val sh01SeededShuffle: GraftQuery = q(
    "sh01_seeded_shuffle",
    "seeded reproducible corpus shuffle with per-source interleave (training order)",
    """WITH h AS (
      |  SELECT doc_id, source,
      |    md5('sh:' || CAST(doc_id AS VARCHAR)) AS hk
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source, hk,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY hk, doc_id)
      |      AS BIGINT) AS rs
      |  FROM h)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rs, hk, doc_id) AS BIGINT) AS seq,
      |  doc_id, source, rs
      |FROM r ORDER BY seq""".stripMargin) { (s, d) =>
    val h = Tables.documents(s, d).select(col("doc_id"), col("source"),
      md5(concat(lit("sh:"), col("doc_id").cast(StringType))).as("hk"))
    val g = Rank.globalRowNumber(
      h, Seq(col("source"), col("hk"), col("doc_id")), "grank").pinned
    // per-source offsets: counts over ~|sources| rows; the running-sum
    // window is source-bounded (the mx03 idiom), the join broadcasts
    val wOff = Window.orderBy("source")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = g.groupBy("source").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .select(col("source"), col("off"))
    val rs = g.join(broadcast(off), Seq("source"))
      .select(col("doc_id"), col("source"), col("hk"),
        (col("grank") - col("off")).as("rs"))
    Rank.globalRowNumber(rs, Seq(col("rs"), col("hk"), col("doc_id")), "seq")
      .select(col("seq"), col("doc_id"), col("source"), col("rs"))
      .orderBy("seq")
  }

  /** Equi-depth length bucketing — the batching-planner's view of the
    * corpus: documents split into 10 equal-population buckets by token
    * length, reporting each bucket's population and length range. The
    * decile assignment is pure integer rank arithmetic
    * (bucket = (rank−1)·10 div n + 1 — identical in both engines,
    * no float quantile interpolation), so bucket edges are exact.
    * Scale shape: the global rank comes from
    * [[Rank.globalRowNumber]]'s range-shuffle + zipWithIndex (no
    * single-partition window anywhere), the corpus count rides as a
    * broadcast scalar, and the final aggregation has 10 groups. */
  val lb01LengthBuckets: GraftQuery = q(
    "lb01_length_buckets",
    "equi-depth token-length decile buckets (batch-planner histogram)",
    """WITH s AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents),
      |t AS (SELECT COUNT(*) AS total FROM s),
      |r AS (
      |  SELECT doc_id, n,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n, doc_id) AS BIGINT) AS rk
      |  FROM s)
      |SELECT ((rk - 1) * 10) // total + 1 AS bucket,
      |  COUNT(*) AS n_docs, MIN(n) AS min_len, MAX(n) AS max_len,
      |  CAST(SUM(n) AS DOUBLE) / COUNT(*) AS avg_len
      |FROM r, t GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n"))
    val total = base.agg(count(lit(1)).as("total"))
    Rank.globalRowNumber(base, Seq(col("n"), col("doc_id")), "rk")
      .crossJoin(broadcast(total))
      .select(expr("((rk - 1) * 10) div total + 1").as("bucket"), col("n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), min("n").as("min_len"),
        max("n").as("max_len"),
        (sum("n").cast(DoubleType) / count(lit(1))).as("avg_len"))
      .orderBy("bucket")
  }

  val all: Seq[GraftQuery] = Seq(
    tx13Tfidf, tx14PmiBigrams, tx15Zipf, dc01Decontaminate,
    dc03NgramDecontam,
    cc01CurationPipeline, pk01SequencePacking, mx01DomainMix,
    mx02TemperatureMix, qb01QualityBins, ir01ImportanceWeights,
    qc02ThresholdSweep, pk02PaddingCurve, mx03BudgetMix,
    lm01NgramScore, bpe01VocabInduction, bpe02Encode, qc01ClassifierScore,
    sh01SeededShuffle, lb01LengthBuckets)
}
