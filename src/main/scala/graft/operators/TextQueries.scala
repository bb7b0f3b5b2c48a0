package graft.operators

import graft.{GraftQuery, Tables}
import graft.GraftQuery.q
import graft.Pin.PinOps
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators over `documents`: token counting, quality
  * scoring, language-ID heuristics, document fingerprinting, and term
  * document-frequency — the per-document stages of a training-data
  * pipeline. Everything is a per-row scalar computation (map-side,
  * codegen'd built-ins, no UDFs) except the final small aggregations,
  * so each scales linearly with zero extra shuffles.
  */
object TextQueries {

  /** Token/char statistics per language. Whitespace tokenization; all
    * integer arithmetic until one final division. */
  val tx01TokenStats: GraftQuery = q(
    "tx01_token_stats",
    "token counting + per-language stats",
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) AS chars_per_token
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val ntok = size(split(col("text"), " ")).cast(LongType)
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(ntok).cast(LongType).as("total_tokens"),
        sum(col("n_chars")).cast(LongType).as("total_chars"))
      .withColumn("chars_per_token",
        col("total_chars").cast(DoubleType) / col("total_tokens").cast(DoubleType))
      .orderBy("lang")
  }

  /** Per-document quality score: token count, mean token length,
    * stopword ratio, type-token ratio (distinct/total words). The
    * classic cheap heuristics used to filter web-scale corpora. */
  val tx02QualityScore: GraftQuery = q(
    "tx02_quality_score",
    "doc quality heuristics: stopword ratio, type-token ratio",
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types,
      |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop,
      |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS DOUBLE)
      |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS type_token_ratio
      |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val t = col("text")
    val toks = TextFunctions.tokens(t)
    val nTypes = size(array_distinct(toks)).cast(LongType)
    val nStop = size(filter(toks, w => w.isin("the", "a"))).cast(LongType)
    Tables.documents(s, d)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"),
        TextFunctions.tokenCount(t).as("n_tokens"), nTypes.as("n_types"),
        nStop.as("n_stop"),
        TextFunctions.stopwordRatio(t, Seq("the", "a")).as("stop_ratio"),
        TextFunctions.typeTokenRatio(t).as("type_token_ratio"))
      .orderBy("doc_id")
  }

  /** Language-ID by stopword-profile scoring (n-gram-heuristic family):
    * score each language by marker-token hits, argmax with a fixed
    * tie-break order, and report the confusion against the labeled
    * `lang` column. Marker hits are exact substring counts via the
    * replace-length trick — identical in any SQL engine. */
  val tx03LangId: GraftQuery = q(
    "tx03_langid",
    "language-ID heuristic + confusion vs labels",
    """WITH scored AS (
      |  SELECT lang,
      |    (LENGTH(text) - LENGTH(REPLACE(text, 'the', ''))) / 3 AS hits_en,
      |    (LENGTH(text) - LENGTH(REPLACE(text, 'data', ''))) / 4 AS hits_x
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN hits_en >= hits_x THEN 'en' ELSE 'xx' END AS pred,
      |  COUNT(*) AS n
      |FROM scored GROUP BY lang, CASE WHEN hits_en >= hits_x THEN 'en' ELSE 'xx' END
      |ORDER BY lang, pred""".stripMargin) { (s, d) =>
    def hits(m: String) = TextFunctions.occurrences(col("text"), m)
    Tables.documents(s, d)
      .select(col("lang"), hits("the").as("hits_en"), hits("data").as("hits_x"))
      .select(col("lang"),
        when(col("hits_en") >= col("hits_x"), "en").otherwise("xx").as("pred"))
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred")
  }

  /** Content fingerprints: full digest + 64-bit prefix, over normalized
    * text. The normalized-digest is the key exact-dedup runs on when
    * "duplicate" means case/punctuation-insensitive. */
  val tx04Fingerprint: GraftQuery = q(
    "tx04_fingerprint",
    "normalized document fingerprinting",
    """SELECT doc_id,
      |  md5(lower(text)) AS fp,
      |  substr(md5(lower(text)), 1, 16) AS fp64
      |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        substring(TextFunctions.fingerprint(col("text")), 1, 16).as("fp64"))
      .orderBy("doc_id")
  }

  /** Term document-frequency (the DF half of TF-IDF): distinct-word
    * explode then a 31-key groupBy; df_ratio replaces ln(N/df) to stay
    * engine-exact (no transcendental functions in the compare). */
  val tx05TermDf: GraftQuery = q(
    "tx05_term_df",
    "term document frequency (TF-IDF building block)",
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |n AS (SELECT COUNT(*) AS total FROM documents)
      |SELECT word, COUNT(*) AS df,
      |  CAST(COUNT(*) AS DOUBLE) / CAST((SELECT total FROM n) AS DOUBLE) AS df_ratio
      |FROM tok GROUP BY word ORDER BY df DESC, word LIMIT 30""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    // total stays IN the plan (broadcast scalar), not a driver action
    val total = docs.agg(count(lit(1)).as("total"))
    docs.select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("df"))
      .join(broadcast(total))
      .withColumn("df_ratio", col("df").cast(DoubleType) / col("total").cast(DoubleType))
      .drop("total")
      .orderBy(col("df").desc, col("word"))
      .limit(30)
  }

  /** BPE-ish regex tokenization: letter runs, digit runs, and single
    * punctuation marks each count as one token (the pre-tokenizer
    * split most BPE vocabularies assume) — vs naive whitespace count. */
  val tx06BpeTokens: GraftQuery = q(
    "tx06_bpe_tokens",
    "regex (BPE-style pre-tokenizer) token counting",
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
      |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast(LongType).as("n_bpe_tokens"),
        size(split(col("text"), " ")).cast(LongType).as("n_ws_tokens"))
      .orderBy("doc_id")
  }

  /** True rolling-hash fingerprint: h ← (h·31 + v(w)) mod p folded
    * left over the token stream (v = 16-bit md5-derived word value;
    * first token seeds the fold). Order-sensitive — unlike the set
    * hashes (dd04/dd07), permuted documents get different prints. One
    * higher-order-function fold per row, no explode, no shuffle. */
  val tx07RollingHash: GraftQuery = {
    val M = 1000000007L
    q("tx07_rolling_hash",
      "order-sensitive rolling-hash document fingerprint",
      s"""WITH v AS (
         |  SELECT doc_id, list_transform(string_split(text, ' '), w ->
         |    CAST((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 4096
         |       + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1) * 256
         |       + (strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1) * 16
         |       + (strpos('0123456789abcdef', substr(md5(w), 4, 1)) - 1) AS BIGINT)) AS vals
         |  FROM documents)
         |SELECT doc_id,
         |  list_reduce(vals, (h, x) -> CAST((h * 31 + x) % $M AS BIGINT)) AS rolling_fp
         |FROM v ORDER BY doc_id""".stripMargin) { (s, d) =>
      val vals = transform(split(col("text"), " "),
        w => conv(substring(md5(w), 1, 4), 16, 10).cast(LongType))
      Tables.documents(s, d)
        .select(col("doc_id"),
          aggregate(
            slice(vals, lit(2), greatest(size(vals) - 1, lit(0))),
            element_at(vals, 1),
            (h, x) => (h * 31 + x) % M).as("rolling_fp"))
        .orderBy("doc_id")
    }
  }

  /** Denylist scrubbing (the PII-masking shape): count and mask a term
    * denylist with one word-boundary regex pass, and fingerprint the
    * scrubbed text. Per-row regex only — at 100 TB this is a map-only
    * stage with zero shuffle. Spark's `regexp_replace` replaces all
    * occurrences by default; DuckDB needs the explicit 'g' flag. */
  val tx08Scrub: GraftQuery = q(
    "tx08_scrub",
    "denylist term scrubbing + masked fingerprint (PII-masking shape)",
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '\b(customer|query)\b')) AS BIGINT) AS n_hits,
      |  md5(regexp_replace(text, '\b(customer|query)\b', '<redacted>', 'g')) AS scrub_fp
      |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val pat = "\\b(customer|query)\\b"
    Tables.documents(s, d)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0)))
          .cast(LongType).as("n_hits"),
        md5(regexp_replace(col("text"), pat, "<redacted>")).as("scrub_fp"))
      .orderBy("doc_id")
  }

  /** Character-trigram language profile (the statistical core of real
    * language-ID, vs tx03's stopword heuristic): explode each doc into
    * its overlapping char 3-grams with a per-row `transform` over an
    * index sequence, then count per (lang, trigram). The explode is the
    * only row inflation (×~len) and feeds straight into a partial agg,
    * so the shuffle carries (lang, trigram) pairs, not documents. */
  val tx09CharNgrams: GraftQuery = q(
    "tx09_char_ngrams",
    "char-trigram language profiles (language-ID building block)",
    """WITH grams AS (
      |  SELECT lang,
      |    unnest(list_transform(range(1, LENGTH(text) - 1),
      |      i -> substr(text, CAST(i AS INT), 3))) AS trigram
      |  FROM documents WHERE LENGTH(text) >= 3)
      |SELECT lang, trigram, COUNT(*) AS n
      |FROM grams GROUP BY lang, trigram
      |ORDER BY n DESC, lang, trigram LIMIT 40""".stripMargin) { (s, d) =>
    // byte-indexed ASCII fast path with character-exact fallback —
    // see TextFunctions.trigramsFast
    Tables.documents(s, d)
      .filter(length(col("text")) >= 3)
      .withColumn("__bin", col("text").cast(BinaryType))
      .select(col("lang"),
        explode(TextFunctions.trigramsFast(col("text"), col("__bin")))
          .as("trigram"))
      .groupBy("lang", "trigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("lang"), col("trigram"))
      .limit(40)
  }

  /** Word-trigram list per doc as a Spark SQL expression string over a
    * pre-split `ws` column (element_at is 1-based in both engines).
    * Docs under 3 words get an empty list — guarded explicitly because
    * Spark's `sequence(1, 0)` counts DOWN ([1,0]) where DuckDB's
    * `range(1, 0)` is empty. */
  private val gramsExpr =
    "if(size(ws) >= 3, transform(sequence(1, size(ws) - 2), i -> " +
      "concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))), " +
      "cast(array() as array<string>))"

  /** DuckDB mirror of [[gramsExpr]] (range(1, n) is already empty for
    * n <= 1, so no guard needed). */
  private val sqlGrams =
    "list_transform(range(1, len(ws) - 1), i -> " +
      "ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)] || ' ' || ws[CAST(i + 2 AS INT)])"

  /** Intra-document repetition (the Gopher-style duplicate-n-gram
    * quality signal): fraction of word trigrams that are repeats of an
    * earlier trigram in the SAME document. Pure per-row array math —
    * map-only at any scale, unlike cross-document dedup. */
  val tx10Repetition: GraftQuery = q(
    "tx10_repetition",
    "intra-doc duplicate-trigram repetition ratio (quality signal)",
    s"""WITH g AS (
       |  SELECT doc_id, $sqlGrams AS grams
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
       |        FROM documents WHERE doc_id < 300))
       |SELECT doc_id,
       |  CAST(len(grams) AS BIGINT) AS n_grams,
       |  CAST(len(grams) - len(list_distinct(grams)) AS BIGINT) AS n_dup,
       |  CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
       |    / CAST(len(grams) AS DOUBLE) AS dup_ratio
       |FROM g ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), expr(gramsExpr).as("grams"))
      .select(col("doc_id"),
        size(col("grams")).cast(LongType).as("n_grams"),
        (size(col("grams")) - size(array_distinct(col("grams"))))
          .cast(LongType).as("n_dup"))
      .withColumn("dup_ratio",
        col("n_dup").cast(DoubleType) / col("n_grams").cast(DoubleType))
      .orderBy("doc_id")
  }

  /** Quality-filter funnel: the survival count of each Gopher-style
    * rule (length band, mean word length band, stopword presence,
    * repetition bound) and of their conjunction, per source — ONE scan
    * and one tiny aggregation for the whole rule panel (the
    * one-join-per-metric alternative multiplies scans). Threshold
    * comparisons are on per-row deterministic doubles. */
  val tx11QualityFunnel: GraftQuery = q(
    "tx11_quality_funnel",
    "quality-rule funnel: per-rule and conjunctive survival counts",
    s"""WITH m AS (
       |  SELECT source, len(ws) AS nw,
       |    CAST(LENGTH(text) - (len(ws) - 1) AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS mwl,
       |    list_contains(ws, 'the') OR list_contains(ws, 'a') AS has_stop,
       |    CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
       |      / CAST(len(grams) AS DOUBLE) AS dup_ratio
       |  FROM (SELECT source, text, ws, $sqlGrams AS grams
       |        FROM (SELECT source, text, string_split(text, ' ') AS ws FROM documents)))
       |SELECT source, COUNT(*) AS n_docs,
       |  COUNT(*) FILTER (WHERE nw BETWEEN 15 AND 1000) AS n_len_ok,
       |  COUNT(*) FILTER (WHERE mwl >= 3.0 AND mwl <= 8.0) AS n_mwl_ok,
       |  COUNT(*) FILTER (WHERE has_stop) AS n_stop_ok,
       |  COUNT(*) FILTER (WHERE dup_ratio < 0.30) AS n_rep_ok,
       |  COUNT(*) FILTER (WHERE nw BETWEEN 15 AND 1000 AND mwl >= 3.0 AND mwl <= 8.0
       |                     AND has_stop AND dup_ratio < 0.30) AS n_pass
       |FROM m GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val ws = col("ws")
    val lenOk = col("nw").between(15, 1000)
    val mwlOk = col("mwl") >= 3.0 && col("mwl") <= 8.0
    val repOk = col("dup_ratio") < 0.30
    def cnt(c: org.apache.spark.sql.Column) = count(when(c, lit(1)))
    Tables.documents(s, d)
      .select(col("source"), col("text"), split(col("text"), " ").as("ws"))
      .select(col("source"), col("text"), ws, expr(gramsExpr).as("grams"))
      .select(col("source"),
        size(ws).as("nw"),
        ((length(col("text")) - (size(ws) - 1)).cast(DoubleType) /
          size(ws).cast(DoubleType)).as("mwl"),
        (array_contains(ws, "the") || array_contains(ws, "a")).as("has_stop"),
        ((size(col("grams")) - size(array_distinct(col("grams")))).cast(DoubleType) /
          size(col("grams")).cast(DoubleType)).as("dup_ratio"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        cnt(lenOk).as("n_len_ok"), cnt(mwlOk).as("n_mwl_ok"),
        cnt(col("has_stop")).as("n_stop_ok"), cnt(repOk).as("n_rep_ok"),
        cnt(lenOk && mwlOk && col("has_stop") && repOk).as("n_pass"))
      .orderBy("source")
  }

  /** Inverted-index build: term → document-frequency + the first 20
    * postings (sorted doc_ids). One shuffle keyed on term; collect_list
    * is UNORDERED under parallel merge, so the sort happens after
    * aggregation and the emitted head is deterministic. At index scale
    * the postings column would be written bucketed by term so lookups
    * are one-bucket scans. */
  val tx12InvertedIndex: GraftQuery = q(
    "tx12_inverted_index",
    "inverted index: term -> df + sorted postings head",
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents)
      |SELECT term, COUNT(*) AS df,
      |  array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings_head
      |FROM tok GROUP BY term ORDER BY term""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        concat_ws(",", transform(
          slice(sort_array(collect_list(col("doc_id"))), 1, 20),
          x => x.cast(StringType))).as("postings_head"))
      .orderBy("term")
  }

  /** Trigram-profile language-ID — the n-gram-heuristic classifier
    * shape: build a top-20 char-trigram profile per language from a
    * training split (through the k-bounded [[graft.plans.TopKPerGroup]]
    * operator, so the profile build shuffles one candidate per lang per
    * task, never the trigram vocabulary), broadcast the tiny profile
    * table, score test docs by profile hits, argmax per doc (the
    * per-doc window is ≤ n_langs rows — bounded, unlike a global
    * window). Deterministic ties: profile rank breaks (n DESC, trigram
    * DESC) — the struct-max order TopKPerGroup natively produces —
    * and prediction breaks (hits DESC, lang ASC). On this synthetic
    * corpus the label is independent of the text, so the confusion
    * matrix is near-uniform BY CONSTRUCTION — the engine shape, not
    * classifier accuracy, is what's exercised. */
  val tx16LangIdNgram: GraftQuery = q(
    "tx16_langid_ngram",
    "trigram-profile language-ID: profile build + broadcast scoring + confusion",
    """WITH train AS (
      |  SELECT lang, text FROM documents WHERE doc_id % 5 <> 0 AND LENGTH(text) >= 3),
      |tg AS (
      |  SELECT lang, unnest(list_transform(range(1, LENGTH(text) - 1),
      |    i -> substr(text, CAST(i AS INT), 3))) AS trigram
      |  FROM train),
      |cnt AS (SELECT lang, trigram, COUNT(*) AS n FROM tg GROUP BY lang, trigram),
      |prof AS (
      |  SELECT lang, trigram FROM (
      |    SELECT lang, trigram,
      |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, trigram DESC) AS r
      |    FROM cnt) WHERE r <= 20),
      |dg AS (
      |  SELECT DISTINCT doc_id, lang, unnest(list_transform(range(1, LENGTH(text) - 1),
      |    i -> substr(text, CAST(i AS INT), 3))) AS trigram
      |  FROM documents WHERE doc_id % 5 = 0 AND LENGTH(text) >= 3),
      |hits AS (
      |  SELECT d.doc_id, d.lang, p.lang AS cand, COUNT(*) AS nh
      |  FROM dg d JOIN prof p ON d.trigram = p.trigram
      |  GROUP BY d.doc_id, d.lang, p.lang),
      |pred AS (
      |  SELECT doc_id, lang, cand AS pred FROM (
      |    SELECT doc_id, lang, cand,
      |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY nh DESC, cand) AS rc
      |    FROM hits) WHERE rc = 1)
      |SELECT lang, pred, COUNT(*) AS n FROM pred
      |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin) { (s, d) =>
    // byte-indexed ASCII fast path on BOTH gram sites — see
    // TextFunctions.trigramsFast (tx09's 5× trick; the training side
    // explodes 80% of the corpus, so it dominates this query's cost)
    val docs = Tables.documents(s, d).filter(length(col("text")) >= 3)
      .withColumn("__bin", col("text").cast(BinaryType))
    def trigrams = TextFunctions.trigramsFast(col("text"), col("__bin"))
    val cnt = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("lang"), explode(trigrams).as("trigram"))
      .groupBy("lang", "trigram").agg(count(lit(1)).as("n"))
    val prof = graft.plans.TopKPerGroup.perGroup(
      cnt, Seq(col("lang")), struct(col("n"), col("trigram")), 20)
      .select(col("lang").as("cand"), col("trigram"))
    // DISTINCT (doc, trigram) would shuffle the full exploded set; as
    // doc_id is unique per input row, de-duplicating the trigram ARRAY
    // before exploding is the same relation computed map-side.
    val dg = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(trigrams)).as("trigram"))
    val hits = dg.join(broadcast(prof), "trigram")
      .groupBy("doc_id", "lang", "cand").agg(count(lit(1)).as("nh"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("nh").desc, col("cand"))
    hits.withColumn("rc", row_number().over(w)).filter(col("rc") === 1)
      .groupBy(col("lang"), col("cand").as("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred")
  }

  /** Document chunking: fixed 50-token windows with stride 40 (10-token
    * overlap) — how long documents become training sequences. Chunk
    * boundaries are pure per-row arithmetic and the explode is bounded
    * by ⌈len/stride⌉, so the stage is map-side at any corpus size; the
    * md5 over each chunk's joined tokens gives the chunk-level content
    * key downstream exact dedup would use. */
  val tx17Chunking: GraftQuery = {
    val W = 50 // window (tokens per chunk)
    val S = 40 // stride
    q("tx17_chunking",
      s"doc → overlapping $W-token chunks (stride $S) with chunk content keys",
      s"""WITH ws AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |chunks AS (
         |  SELECT doc_id, len(w) AS n_tokens,
         |    unnest(range(0, CASE WHEN len(w) <= $W THEN 1
         |      ELSE 1 + CAST(CEIL((len(w) - $W) / $S.0) AS BIGINT) END)) AS chunk_idx,
         |    w
         |  FROM ws)
         |SELECT doc_id, chunk_idx,
         |  CAST(LEAST($W, n_tokens - chunk_idx * $S) AS BIGINT) AS chunk_tokens,
         |  md5(array_to_string(w[chunk_idx * $S + 1 : chunk_idx * $S + $W], ' ')) AS chunk_key
         |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      val nChunks = when(size(col("w")) <= W, lit(1L))
        .otherwise(lit(1L) + ceil((size(col("w")) - W) / lit(S.toDouble)).cast(LongType))
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), size(col("w")).as("n_tokens"), col("w"),
          explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          least(lit(W), col("n_tokens") - col("chunk_idx") * S)
            .cast(LongType).as("chunk_tokens"),
          md5(concat_ws(" ",
            slice(col("w"), (col("chunk_idx") * S + 1).cast(IntegerType), lit(W))))
            .as("chunk_key"))
        .orderBy("doc_id", "chunk_idx")
    }
  }

  /** Fuzzy vocabulary join at edit distance ≤ 1 WITHOUT the quadratic
    * all-pairs scan: the deletion-neighborhood trick. Every word emits
    * itself plus its single-character deletions; two words within one
    * edit share at least one variant (substitution → same-position
    * deletions collide; insert/delete → the shorter word IS a variant
    * of the longer), so an equi-join on the variant key generates all
    * candidates, and exact `levenshtein` confirms (a shared variant
    * can come from two DIFFERENT deletions — e.g. "ab"/"ba" both
    * reach "a" — so the confirm is not optional). Work is linear in
    * total characters, the shuffle key is the short variant string,
    * and the per-bucket join is bounded by variant-bucket sizes — the
    * standard scalable fuzzy join, same family as dd10's band-OR. */
  val fz01FuzzyJoin: GraftQuery = q(
    "fz01_fuzzy_join",
    "edit-distance-1 vocabulary join via deletion-neighborhood blocking",
    """WITH words AS (
      |  SELECT DISTINCT unnest(string_split(p_name, ' ')) AS w FROM part),
      |vars AS (
      |  SELECT w, w AS v FROM words
      |  UNION ALL
      |  SELECT w, SUBSTRING(w, 1, i) || SUBSTRING(w, i + 2) AS v
      |  FROM words, UNNEST(range(0, LEN(w))) t(i)),
      |cand AS (
      |  SELECT DISTINCT a.w AS wa, b.w AS wb
      |  FROM vars a JOIN vars b ON a.v = b.v AND a.w < b.w)
      |SELECT wa, wb, CAST(levenshtein(wa, wb) AS BIGINT) AS dist
      |FROM cand WHERE levenshtein(wa, wb) <= 1
      |ORDER BY wa, wb""".stripMargin) { (s, d) =>
    val words = Tables.part(s, d)
      .select(explode(split(col("p_name"), " ")).as("w")).distinct()
    val dels = words.select(col("w"), explode(expr(
      "transform(sequence(0, length(w) - 1)," +
        " i -> concat(substring(w, 1, i), substring(w, i + 2)))")).as("v"))
    val vars = words.select(col("w"), col("w").as("v")).unionByName(dels)
      .pinned // guard + both candidate-join sides
    // deletion-variant buckets go quadratic on dense neighborhoods
    // (short-word vocabularies: every length-k word shares variants
    // with ~k·|Σ| others) — bound the candidate join like dd10's
    // bands; the pair-free route is cluster labels over the buckets
    PairGuard.check(vars, Seq(col("v")), "fz01_fuzzy_join",
      "dd20_star_components")
    val cand = vars.select(col("w").as("wa"), col("v"))
      .join(vars.select(col("w").as("wb"), col("v").as("vb")),
        col("v") === col("vb") && col("wa") < col("wb"))
      .select("wa", "wb").distinct()
    cand.filter(levenshtein(col("wa"), col("wb")) <= 1)
      .select(col("wa"), col("wb"),
        levenshtein(col("wa"), col("wb")).cast(LongType).as("dist"))
      .orderBy("wa", "wb")
  }

  /** Vocabulary coverage (OOV rate) — the dictionary-based quality
    * signal: fraction of a doc's tokens found in the corpus's top-200
    * vocabulary. The vocabulary is a TakeOrdered top-k (never a global
    * sort) and broadcasts to the per-doc scoring join; per-doc math is
    * integer counts plus one final division. Report: per-language mean
    * coverage and the docs below 60% (the would-be filter victims). */
  val oov01VocabCoverage: GraftQuery = q(
    "oov01_vocab_coverage",
    "OOV rate vs the corpus top-200 vocabulary — dictionary quality gate",
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |vocab AS (
      |  SELECT word FROM tok GROUP BY word
      |  ORDER BY COUNT(*) DESC, word LIMIT 200),
      |scored AS (
      |  SELECT t.doc_id, t.lang,
      |    COUNT(*) AS n_tok,
      |    SUM(CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END) AS n_in
      |  FROM tok t LEFT JOIN vocab v ON t.word = v.word
      |  GROUP BY t.doc_id, t.lang)
      |SELECT lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_in) AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE) AS coverage,
      |  CAST(SUM(CASE WHEN n_in * 100 < n_tok * 60 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_low_coverage
      |FROM scored GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("word"))
    val vocab = tok.groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(200).select("word")
    val scored = tok.join(broadcast(vocab.withColumn("hit", lit(1))),
        Seq("word"), "left")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tok"), sum(coalesce(col("hit"), lit(0))).as("n_in"))
    scored.groupBy("lang")
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        (sum(col("n_in")).cast(DoubleType) /
          sum(col("n_tok")).cast(DoubleType)).as("coverage"),
        sum(when(col("n_in") * 100 < col("n_tok") * 60, 1).otherwise(0))
          .cast(LongType).as("n_low_coverage"))
      .orderBy("lang")
  }

  /** BM25 ranked retrieval for a fixed 3-term query. One map pass
    * computes per-doc term frequencies and length (no explode — the
    * tf of each query term is a `filter`+`size` over the token array,
    * so the corpus never inflates); corpus statistics (N, avgdl, the
    * three dfs) collapse to ONE broadcast row; scoring is then pure
    * per-row arithmetic and the global top-20 plans as
    * TakeOrderedAndProject (k-bounded heaps, no full sort). At 100 TB:
    * map pass + 1-row aggregate + map pass + top-k — zero wide
    * shuffles of the corpus.
    *
    * Determinism: BM25's usual ln() idf is NOT cross-engine
    * bit-stable, so the idf here is the raw Robertson–Spärck Jones
    * odds ratio (N−df+0.5)/(df+0.5) WITHOUT the log — idf ordering is
    * preserved (log is monotone), and every arithmetic step (IEEE
    * divides/multiplies/adds over exact integer inputs, fixed
    * association order, k1=1.2 b=0.75) is correctly rounded
    * identically in Spark and DuckDB, so scores hash-match
    * bit-for-bit. Per-term scores sum left-associated (s1+s2)+s3. */
  val bm01Bm25: GraftQuery = {
    val terms = Seq("spark", "window", "stream")
    val sqlTf = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(string_split(text, ' '), w -> w = '$t')) AS tf${i + 1}"
    }.mkString(",\n    ")
    val sqlDfs = terms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf${i + 1} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df${i + 1}")
      .mkString(", ")
    def sqlTermScore(i: Int): String =
      s"""((CAST(s.n_docs - s.df$i AS DOUBLE) + 0.5) / (CAST(s.df$i AS DOUBLE) + 0.5)
         | * (CAST(f.tf$i AS DOUBLE) * 2.2))
         | / (CAST(f.tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(f.dl AS DOUBLE) / s.avgdl)))""".stripMargin
    q("bm01_bm25",
      "BM25 top-20 retrieval: broadcast corpus stats, map-side scoring, heap top-k",
      s"""WITH tf AS (
         |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         |    $sqlTf
         |  FROM documents),
         |stats AS (
         |  SELECT COUNT(*) AS n_docs,
         |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
         |    $sqlDfs
         |  FROM tf),
         |scored AS (
         |  SELECT f.doc_id,
         |    ${sqlTermScore(1)}
         |    + ${sqlTermScore(2)}
         |    + ${sqlTermScore(3)} AS bm25
         |  FROM tf f, stats s
         |  WHERE f.tf1 + f.tf2 + f.tf3 > 0)
         |SELECT doc_id, bm25,
         |  CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rn
         |FROM scored QUALIFY rn <= 20 ORDER BY rn""".stripMargin) { (s, d) =>
      val toks = split(col("text"), " ")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        size(filter(toks, w => w === t)).as(s"tf${i + 1}")
      }
      val tf = Tables.documents(s, d)
        .select(col("doc_id") +: size(toks).as("dl") +: tfCols: _*)
      val stats = tf.agg(
        count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"),
        expr("CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT)").as("df1"),
        expr("CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT)").as("df2"),
        expr("CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT)").as("df3"))
      def termScore(i: Int): Column = {
        val tfi = col(s"tf$i").cast(DoubleType)
        val dfi = col(s"df$i")
        val idf = ((col("n_docs") - dfi).cast(DoubleType) + lit(0.5)) /
          (dfi.cast(DoubleType) + lit(0.5))
        (idf * (tfi * lit(2.2))) /
          (tfi + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast(DoubleType) / col("avgdl"))))
      }
      val scored = tf.filter(col("tf1") + col("tf2") + col("tf3") > 0)
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          (termScore(1) + termScore(2) + termScore(3)).as("bm25"))
      scored.orderBy(col("bm25").desc, col("doc_id")).limit(20)
        .withColumn("rn",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
            .cast(LongType))
        .orderBy("rn")
    }
  }

  /** Unicode NFC normalization ([[graft.plans.NfcNormalize]], a native
    * codegen expression — Spark has no built-in) applied to a
    * deliberately DECOMPOSED corpus: every 'e' is replaced by
    * e + combining acute (U+0301), then canonically recomposed. The
    * char counts prove real composition happened (each e+◌́ pair
    * collapses to one é) and the digest pins the exact normalized
    * bytes against DuckDB's utf8proc-based `nfc_normalize` — two
    * independent UAX #15 implementations agreeing byte-for-byte.
    * Map-only, zero shuffles; this is the canonicalization step that
    * runs before any fingerprint/dedup pass on web text. */
  val nu01NfcNormalize: GraftQuery = q(
    "nu01_nfc_normalize",
    "Unicode NFC canonicalization via a native expression, cross-checked vs utf8proc",
    """SELECT doc_id,
      |  LENGTH(decomp) AS n_raw,
      |  LENGTH(nfc_normalize(decomp)) AS n_nfc,
      |  md5(nfc_normalize(decomp)) AS fp
      |FROM (SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS decomp
      |      FROM documents WHERE doc_id < 100)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val decomp = regexp_replace(col("text"), "e", "e\u0301")
    val nfc = graft.plans.NfcNormalize.nfc_normalize(col("decomp"))
    Tables.documents(s, d)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), decomp.as("decomp"))
      .select(col("doc_id"),
        length(col("decomp")).cast(LongType).as("n_raw"),
        length(nfc).cast(LongType).as("n_nfc"),
        md5(nfc.cast(BinaryType)).as("fp"))
      .orderBy("doc_id")
  }

  /** Structured-PII redaction — the regex-entity pass (emails, SSN-like
    * ids) every web-scrape pipeline runs before training, distinct
    * from tx08's denylist scrub: entities are PATTERNS, not a term
    * list. The corpus is synthetic word soup with no real PII, so the
    * query first INJECTS deterministic fake entities derived from
    * doc_id (the nu01 pattern: decorate, then prove the transform
    * undoes it), then counts per-type hits and fingerprints the
    * redacted text. Patterns stay in the portable regex subset
    * (character classes + bounded repeats) that Java regex and RE2
    * evaluate identically. Map-only: per-row regex work inside
    * whole-stage codegen, zero shuffles before the final ORDER BY —
    * at 100 TB this is a pure scan-transform pass. */
  /** k-ANONYMITY audit (Sweeney 2002) — the release-side governance
    * twin of pr01's redaction: rows whose QUASI-IDENTIFIER tuple
    * (nation, market segment, coarsened balance band) is shared by
    * fewer than k individuals are re-identifiable by linkage, and a
    * k-anonymous release must suppress or further generalize them.
    * The audit is TWO aggregations — equivalence classes (one groupBy
    * on the quasi tuple), then the class-SIZE histogram with risky-row
    * and suppression accounting — so the corpus is touched once and
    * everything after the first groupBy is classes-count-sized. At
    * 100 TB the class table is bounded by the quasi-identifier domain
    * (|nations|·|segments|·|bands|), not by rows: this is a map-side-
    * combinable scan however large the release. k = 5 here; the
    * generalization lattice step (widen the band, drop a column) is a
    * parameter change, not a new plan. */
  val pr02KAnonymity: GraftQuery = q(
    "pr02_k_anonymity",
    "k-anonymity audit: quasi-identifier equivalence classes, size histogram, suppression accounting",
    """WITH classes AS (
      |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
      |    CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
      |    COUNT(*) AS class_size
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT class_size,
      |  CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(SUM(class_size) AS BIGINT) AS n_rows,
      |  CAST(CASE WHEN class_size < 5 THEN SUM(class_size) ELSE 0 END AS BIGINT)
      |    AS n_suppressed
      |FROM classes GROUP BY class_size
      |ORDER BY class_size""".stripMargin) { (s, d) =>
    val classes = Tables.customer(s, d)
      .groupBy(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") / 1000).cast(LongType).as("bal_band"))
      .agg(count(lit(1)).as("class_size"))
    classes.groupBy(col("class_size"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("class_size")).as("n_rows"))
      .select(col("class_size"), col("n_classes"), col("n_rows"),
        when(col("class_size") < 5, col("n_rows")).otherwise(0L)
          .as("n_suppressed"))
      .orderBy("class_size")
  }

  val pr01PiiRedact: GraftQuery = q(
    "pr01_pii_redact",
    "structured-PII redaction: injected fake entities, per-type counts, redacted fingerprint",
    """WITH dirty AS (
      |  SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.com id '
      |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
      |      || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
      |      || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') AS t
      |  FROM documents WHERE doc_id < 200)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '[a-z0-9]+@[a-z]+\.com')) AS BIGINT) AS n_email,
      |  CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ssn,
      |  md5(regexp_replace(regexp_replace(t, '[a-z0-9]+@[a-z]+\.com', '<EMAIL>', 'g'),
      |      '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g')) AS redacted_fp
      |FROM dirty ORDER BY doc_id""".stripMargin) { (s, d) =>
    val emailPat = "[a-z0-9]+@[a-z]+\\.com"
    val ssnPat = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
    val dirty = concat(col("text"),
      lit(" contact user"), col("doc_id").cast(StringType), lit("@mail.com id "),
      lpad((col("doc_id") % 1000).cast(StringType), 3, "0"), lit("-"),
      lpad((col("doc_id") % 100).cast(StringType), 2, "0"), lit("-"),
      lpad(((col("doc_id") * 7) % 10000).cast(StringType), 4, "0"))
    Tables.documents(s, d)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), dirty.as("t"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(emailPat), lit(0)))
          .cast(LongType).as("n_email"),
        size(regexp_extract_all(col("t"), lit(ssnPat), lit(0)))
          .cast(LongType).as("n_ssn"),
        md5(regexp_replace(
          regexp_replace(col("t"), emailPat, "<EMAIL>"),
          ssnPat, "<SSN>")).as("redacted_fp"))
      .orderBy("doc_id")
  }

  /** FEATURE HASHING (the "hashing trick", Weinberger et al. 2009) —
    * fixed-dimension text vectorization with NO vocabulary pass: each
    * token hashes to one of K=64 buckets with a hash-derived ±1 sign
    * (the sign makes collision noise zero-mean), and a document's
    * vector is the signed count per bucket. This is the featurizer a
    * pipeline uses when a vocabulary table is unaffordable or must be
    * training-free — dimensionality is fixed up front, new tokens
    * never resize anything, and the transform is stateless so train
    * and serving paths cannot skew. Shape: explode to token instances
    * (the only inflation), map-side bucket/sign arithmetic, one
    * partial+final aggregation on (doc, bucket) — the shuffle carries
    * at most 64 partials per doc per task regardless of document
    * length. The md5-derived hash family is the corpus-wide
    * convention both engines can evaluate, so values hash-match. */
  val fh01FeatureHashing: GraftQuery = q(
    "fh01_feature_hashing",
    "hashing-trick vectorization: 64 signed buckets, vocabulary-free, map+one agg",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents WHERE doc_id < 50),
      |h AS (
      |  SELECT doc_id,
      |    CAST(CONCAT('0x', SUBSTRING(md5('fh:' || w), 1, 8)) AS BIGINT) % 64 AS bucket,
      |    CASE WHEN CAST(CONCAT('0x', SUBSTRING(md5('fh:' || w), 9, 1)) AS BIGINT) % 2 = 0
      |         THEN 1 ELSE -1 END AS sgn
      |  FROM toks)
      |SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS value
      |FROM h GROUP BY doc_id, bucket
      |HAVING SUM(sgn) <> 0
      |ORDER BY doc_id, bucket""".stripMargin) { (s, d) =>
    val hash = md5(concat(lit("fh:"), col("w")))
    val bucket = conv(substring(hash, 1, 8), 16, 10).cast(LongType) % 64
    val sgn = when(conv(substring(hash, 9, 1), 16, 10).cast(LongType) % 2 === 0, 1)
      .otherwise(-1)
    Tables.documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), bucket.as("bucket"), sgn.as("sgn"))
      .groupBy("doc_id", "bucket")
      .agg(sum(col("sgn")).cast(LongType).as("value"))
      .filter(col("value") =!= 0)
      .orderBy("doc_id", "bucket")
  }

  /** Tokenizer-fertility audit per language — the report a tokenizer
    * team reads before training: how many subword pre-tokens the
    * corpus yields per whitespace word, and how many UTF-8 bytes each
    * pre-token carries. The stand-in subword rule splits words into
    * maximal vowel/consonant cluster runs (`[aeiou]+|[^aeiou ]+`) —
    * a deterministic proxy for a BPE segmentation whose fertility
    * genuinely varies across languages, unlike tx06's word-level
    * regex which reproduces whitespace tokens 1:1 on this corpus.
    * High fertility on a language means the tokenizer fragments it
    * (more sequence length per character of content). Ratios are
    * single divides of exact integer sums (the tx01 discipline), so
    * both engines hash identically. Scale shape: one map pass (both
    * token counts are per-row scalar expressions, codegen'd — no
    * explode), one partial-aggregated groupBy on the
    * ~constant-cardinality lang key. */
  val tx18Fertility: GraftQuery = q(
    "tx18_fertility",
    "tokenizer fertility per language: subword pre-tokens per word, bytes per pre-token",
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
      |  CAST(SUM(len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+'))) AS BIGINT) AS bpe_tokens,
      |  CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes,
      |  CAST(SUM(len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+'))) AS DOUBLE)
      |    / CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) AS fertility,
      |  CAST(SUM(strlen(text)) AS DOUBLE)
      |    / CAST(SUM(len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+'))) AS DOUBLE)
      |    AS bytes_per_token
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val bpe = size(regexp_extract_all(col("text"),
      lit("[aeiou]+|[^aeiou ]+"), lit(0))).cast(LongType)
    Tables.documents(s, d)
      .select(col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("ws"),
        bpe.as("bpe"),
        octet_length(col("text")).cast(LongType).as("nb"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("nb")).as("n_bytes"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        col("n_bytes"),
        (col("bpe_tokens").cast(DoubleType) / col("ws_tokens").cast(DoubleType))
          .as("fertility"),
        (col("n_bytes").cast(DoubleType) / col("bpe_tokens").cast(DoubleType))
          .as("bytes_per_token"))
      .orderBy("lang")
  }

  /** Corpus 4-gram mining through the native [[graft.plans.NGramExplode]]
    * Generator (the custom-UDTF Catalyst surface): each document
    * streams its overlapping 4-gram windows as (pos, gram) rows out of
    * a lazy iterator — no per-document gram ARRAY is ever
    * materialized, unlike the `explode(transform(sequence(...)))`
    * composition dc01/dd11 use (see NGramExplode's scaladoc for the
    * memory argument). Downstream is the standard shape: partial-
    * aggregated groupBy on gram, then a corpus-wide top-10 through
    * TakeOrderedAndProject (per-partition partial top-k, 10-row driver
    * merge — never a global sort). */
  val ng01NativeNgrams: GraftQuery = q(
    "ng01_native_ngrams",
    "top-10 corpus 4-grams via the native ngram_explode Generator (custom UDTF)",
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |w AS (
      |  SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 3),
      |    i -> {'pos': CAST(i - 1 AS BIGINT),
      |          'gram': array_to_string(t[i:i+3], ' ')})) AS win
      |  FROM tok),
      |g AS (SELECT doc_id, win.pos AS pos, win.gram AS gram FROM w),
      |c AS (
      |  SELECT gram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df,
      |    MIN(pos) AS min_pos
      |  FROM g GROUP BY gram)
      |SELECT gram, n, df, min_pos FROM c
      |ORDER BY n DESC, gram LIMIT 10""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.plans.VectorExpressions.ngram_explode(
          TextFunctions.tokens(col("text")), 4))
      .groupBy("gram")
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"),
        min(col("pos")).cast(LongType).as("min_pos"))
      .orderBy(col("n").desc, col("gram")).limit(10)
      .select(col("gram"), col("n"), col("df"), col("min_pos"))
  }

  val all: Seq[GraftQuery] = Seq(
    tx01TokenStats, tx02QualityScore, tx03LangId, tx04Fingerprint, tx05TermDf,
    tx06BpeTokens, tx07RollingHash, tx08Scrub, tx09CharNgrams, tx10Repetition,
    tx11QualityFunnel, tx12InvertedIndex, tx16LangIdNgram, tx17Chunking,
    tx18Fertility, ng01NativeNgrams, fz01FuzzyJoin, oov01VocabCoverage,
    bm01Bm25, nu01NfcNormalize, pr01PiiRedact, pr02KAnonymity, fh01FeatureHashing)
}
