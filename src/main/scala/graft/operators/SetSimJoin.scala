package graft.operators

import graft.{GraftQuery, Tables}
import graft.GraftQuery.q
import graft.Pin.PinOps
import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact set-similarity self-join with PREFIX FILTERING (the
  * PPJoin/AllPairs family — Xiao et al., WWW 2008; Bayardo et al.,
  * WWW 2007): all document pairs whose 3-gram-shingle-set Jaccard ≥ τ,
  * found WITHOUT the all-pairs shingle join, and EXACT — unlike the
  * MinHash route (dd10), which trades a small false-negative rate for
  * fixed-size signatures, prefix filtering prunes with a guarantee.
  *
  * Prefix-filtering principle: order the shingle universe by ascending
  * global frequency (rare first) and sort every document's shingle set
  * in that order. For a qualifying pair, jac ≥ τ implies
  * overlap ≥ ⌈τ·max(|x|,|y|)⌉ (since |y| ≥ τ·|x| whenever jac ≥ τ),
  * and two sorted sets whose prefixes of length |·| − ⌈τ·|·|⌉ + 1 are
  * disjoint can overlap by at most max(⌈τ·|x|⌉, ⌈τ·|y|⌉) − 1 — so
  * every qualifying pair collides on at least one PREFIX shingle.
  * Each document therefore exposes only its p = |x| − ⌈τ·|x|⌉ + 1
  * rarest shingles as join keys; exact verification runs on the
  * surviving candidates only.
  *
  * Scale story: the join key is a prefix SHINGLE — candidate volume is
  * Σ_s prefix-df(s)², driven by rare shingles (common ones sort to the
  * back of every set and never enter a prefix), not corpus². The
  * global frequency table is shingle-vocabulary-bounded; its rank
  * window runs over that vocabulary, never the corpus. Verification
  * joins the candidate list back to the shingle table twice — plain
  * equi-joins on doc_id. The oracle is the brute-force all-pairs join,
  * so the driver check proves the pruned plan EXACT. The τ test is
  * integer (inter·5 ≥ 3·union — τ = 3/5 exact), so threshold-edge
  * pairs are engine-identical.
  */
object SetSimJoin {

  /** τ = 3/5: pairs with shingle-Jaccard ≥ 0.6, exact via prefix
    * filtering. Docs under 3 words carry no 3-shingles and drop out
    * (dd10's convention). */
  val ss01SetSimJoin: GraftQuery = q(
    "ss01_setsim_join",
    "exact Jaccard>=0.6 shingle-set self-join via prefix filtering (PPJoin family)",
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS tok
      |  FROM words, UNNEST(range(1, len(ws) - 1)) AS t(i)),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |p AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
      |  FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT a_id, b_id, inter,
      |  sa.sz + sb.sz - inter AS union_sz,
      |  CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jac
      |FROM p
      |JOIN sz sa ON sa.doc_id = a_id
      |JOIN sz sb ON sb.doc_id = b_id
      |WHERE inter * 5 >= 3 * (sa.sz + sb.sz - inter)
      |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    setsimJoin(Tables.documents(s, d)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        explode(TextFunctions.shingles(col("text"), 3)).as("tok")),
      tNum = 3, tDen = 5, guardAs = "ss01_setsim_join")
  }

  /** Rarity rank over the shingle VOCAB (never the corpus stream),
    * chosen by size:
    *
    *  - window (below `globalRankBytes`): no-partition `row_number` —
    *    one in-task sort of the vocab. MEASURED 2.4× faster than the
    *    global form at harness scales (r16 probe: three extra
    *    vocab-frame evaluations + an RDD Row round-trip vs one
    *    in-task sort over a small vocab).
    *  - global: [[Rank.globalRowNumber]] (range partition +
    *    partition-local sort + zipWithIndex, the dd15 machinery) —
    *    no single-task sort anywhere; the form a corpus whose shingle
    *    vocab outgrows one task's sort must run.
    *
    * Ranks are IDENTICAL by construction: both rank the same strict
    * total order (tf, tok) — SetSimSpec pins branch equality. The size
    * is the ANALYZED plan's estimate of the frequency table's input
    * (file-scan bytes propagated by the size-only visitor): plan
    * metadata, no count job and no optimizer pass on the hot path. */
  private def vocabRank(tf: DataFrame, globalRankBytes: Long): DataFrame =
    if (tf.queryExecution.analyzed.stats.sizeInBytes > BigInt(globalRankBytes))
      graft.operators.Rank.globalRowNumber(
          tf, Seq(col("tf"), col("tok")), "srank")
        .select(col("tok"), col("srank"))
    else
      tf.withColumn("srank",
        row_number().over(Window.orderBy(col("tf"), col("tok"))).cast(LongType))
        .select("tok", "srank")

  /** Raw-text volume whose vocab could plausibly outgrow one task. */
  private[graft] val GlobalRankBytes: Long = 8L << 30

  /** Each document collapsed to ONE row: its rare-first-sorted rank
    * array (srank ↔ shingle is a bijection, so every set operation
    * downstream runs on packed longs, never strings), size, and safe
    * prefix length sz − ⌈τ·sz⌉ + 1. The global rank window runs over
    * the shingle VOCABULARY (bounded), never the corpus; attaching
    * ranks is one corpus-stream equi-join and the per-doc sort happens
    * INSIDE `sort_array` on a ≤doc-length array — no per-doc
    * row_number window over the exploded shingle stream. Per-row
    * state is bounded by document length, the same bound the corpus
    * already imposes. */
  private def rankedDocs(elements: DataFrame, tNum: Int, tDen: Int,
      globalRankBytes: Long): DataFrame = {
    // the exploded shingle stream feeds BOTH the frequency table and
    // the rank-attach join — pin it or it is recomputed from the scan
    val tok = elements.pinned
    val tf = tok.groupBy("tok").agg(count(lit(1)).as("tf"))
    val ord = vocabRank(tf, globalRankBytes)
    tok.join(ord, Seq("tok"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("srank"))).as("ranks"))
      .withColumn("sz", size(col("ranks")).cast(LongType))
      // p = sz − ⌈τ·sz⌉ + 1, integer ceil = (tNum·sz + tDen − 1) div tDen
      .withColumn("plen",
        (col("sz") - expr(s"($tNum * sz + ${tDen - 1}) div $tDen") + 1)
          .cast(IntegerType))
      .select(col("doc_id"), col("sz"), col("ranks"), col("plen"))
  }

  /** Prefix-filtered exact Jaccard ≥ tNum/tDen self-join over an
    * element table (doc_id, tok) — tok multiplicities must already be
    * deduplicated per doc. Factored from ss01 so specs can drive it
    * with crafted sets (threshold edges, containment pairs) and force
    * either vocab-rank branch through `globalRankBytes`. */
  def setsimJoin(elements: DataFrame, tNum: Int, tDen: Int,
      guardAs: String = "setsimJoin",
      guardAlt: String = "ss03_setsim_representatives",
      globalRankBytes: Long = GlobalRankBytes): DataFrame = {
    // per-doc array form read 3× (candidates + both verify sides)
    // (r17 probe: eager byDoc.count() measured 1.09-1.15x WORSE
    // min-of-5 across ss01/ss02 — block-level locking already
    // serializes concurrent first readers; reverted)
    val byDoc = rankedDocs(elements, tNum, tDen, globalRankBytes).pinned
    // prefix entries with their 1-based rare-first position (for the
    // positional filter) and the doc size (for the length filter)
    val pref = byDoc.select(col("doc_id"), col("sz"),
        posexplode(slice(col("ranks"), lit(1), col("plen"))))
      .select(col("doc_id"), col("sz"),
        (col("pos") + 1).as("pos"), col("col").as("srank"))
    // candidates: prefix-shingle collision, pruned by the two LOSSLESS
    // PPJoin filters before the distinct —
    //  length: jac ≥ τ forces τ·|x| ≤ |y| ≤ |x|/τ (both directions);
    //  positional: at the pair's FIRST collision (positions i, j), the
    //  overlap is ≤ 1 + min(sa−i, sb−j), and jac ≥ τ needs
    //  inter·(tNum+tDen) ≥ tNum·(sa+sb) — a qualifying pair always
    //  passes at its first collision, so keeping pairs where ANY
    //  collision passes drops no true pair (Xiao et al., WWW 2008)
    // fail fast on twin-heavy inputs BEFORE the Θ(copies²) candidate
    // join materializes: the prefix-key histogram bounds emitted
    // candidates exactly (every qualifying pair collides on a prefix
    // shingle — the filter's own guarantee)
    PairGuard.check(pref, Seq(col("srank")), guardAs, guardAlt)
    val cand = pref.as("pa").join(pref.as("pb"),
        col("pa.srank") === col("pb.srank") &&
          col("pa.doc_id") < col("pb.doc_id") &&
          col("pb.sz") * tDen >= col("pa.sz") * tNum &&
          col("pa.sz") * tDen >= col("pb.sz") * tNum &&
          (lit(1) + least(col("pa.sz") - col("pa.pos"),
            col("pb.sz") - col("pb.pos"))) * (tNum + tDen) >=
            (col("pa.sz") + col("pb.sz")) * tNum)
      .select(col("pa.doc_id").as("a_id"), col("pb.doc_id").as("b_id"))
      .distinct()
    // exact verification on candidates only: per-row intersection of
    // the two packed rank arrays — two narrow equi-joins on doc_id,
    // no re-explosion of the shingle stream
    cand
      .join(byDoc.select(col("doc_id").as("a_id"), col("ranks").as("ra"),
        col("sz").as("sa")), Seq("a_id"))
      .join(byDoc.select(col("doc_id").as("b_id"), col("ranks").as("rb"),
        col("sz").as("sb")), Seq("b_id"))
      .withColumn("inter",
        size(array_intersect(col("ra"), col("rb"))).cast(LongType))
      .withColumn("union_sz", col("sa") + col("sb") - col("inter"))
      .filter(col("inter") * tDen >= col("union_sz") * tNum)
      .select(col("a_id"), col("b_id"), col("inter"), col("union_sz"),
        (col("inter").cast(DoubleType) / col("union_sz").cast(DoubleType))
          .as("jac"))
      .orderBy("a_id", "b_id")
  }

  /** CONTAINMENT self-join — the asymmetric cousin of ss01: pairs
    * (A, B) with |A∩B| / |A| ≥ τ, i.e. documents whose shingle set is
    * mostly INSIDE another document's (quote / excerpt / superset
    * detection — the dedup mode where a page embeds a whole smaller
    * page, which symmetric Jaccard misses because the union is
    * dominated by the big side). Prefix filtering adapts: containment
    * ≥ τ forces |A∩B| ≥ ⌈τ·|A|⌉, so A's rare-first prefix of length
    * |A| − ⌈τ·|A|⌉ + 1 must hit B's FULL set (no prefix bound exists
    * on the container's side — that asymmetry is the difference from
    * ss01). Candidates are therefore prefix(A) ⋈ full(B) on the
    * shingle rank — still rare-shingle-driven (common shingles never
    * enter a prefix), then exact verification on candidates only. The
    * oracle is the brute-force all-pairs join, proving the pruned
    * plan exact. τ = 9/10, tested as inter·10 ≥ |A|·9 in exact
    * integers. */
  val ss02ContainmentJoin: GraftQuery = q(
    "ss02_containment_join",
    "exact containment>=0.9 join over identical-set representatives (quote/excerpt detection)",
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS tok
      |  FROM words, UNNEST(range(1, len(ws) - 1)) AS t(i)),
      |fp AS (
      |  SELECT doc_id, md5(string_agg(tok, chr(1) ORDER BY tok)) AS f
      |  FROM sh GROUP BY doc_id),
      |grp AS (SELECT f, MIN(doc_id) AS rep, COUNT(*) AS n_copies FROM fp GROUP BY f),
      |rsh AS (SELECT g.rep AS doc_id, s.tok FROM sh s JOIN grp g ON s.doc_id = g.rep),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM rsh GROUP BY doc_id),
      |p AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
      |  FROM rsh a JOIN rsh b ON a.tok = b.tok AND a.doc_id <> b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT a_id, b_id, inter, sa.sz AS a_sz,
      |  CAST(inter AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS containment,
      |  ga.n_copies AS a_copies, gb.n_copies AS b_copies
      |FROM p
      |JOIN sz sa ON sa.doc_id = a_id
      |JOIN grp ga ON ga.rep = a_id
      |JOIN grp gb ON gb.rep = b_id
      |WHERE inter * 10 >= sa.sz * 9
      |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    val tok = Tables.documents(s, d)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        explode(TextFunctions.shingles(col("text"), 3)).as("tok"))
      .pinned // fingerprint pass + representative slice
    // IDENTICAL-SET COLLAPSING before the expensive pass: group docs
    // by an order-canonical set fingerprint, keep one representative
    // per group, carry the copy count. This is the curation-funnel
    // sequencing (exact dedup BEFORE near-dup) applied inside the
    // operator: on a twin-heavy corpus the true doc-level containment
    // output is Θ(copies²) — the growth probe's 10× replica alone has
    // 451,600 identical-twin pairs — while the representative-level
    // output stays the size of the DISTINCT-set structure.
    val fp = tok.groupBy("doc_id")
      .agg(md5(concat_ws("\u0001", sort_array(collect_list(col("tok")))))
        .as("f"))
    val grp = fp.groupBy("f")
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_copies"))
    val repTok = tok.join(
      grp.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
    containmentJoin(repTok, tNum = 9, tDen = 10)
      .join(grp.select(col("rep").as("a_id"), col("n_copies").as("a_copies")),
        Seq("a_id"))
      .join(grp.select(col("rep").as("b_id"), col("n_copies").as("b_copies")),
        Seq("b_id"))
      .select("a_id", "b_id", "inter", "a_sz", "containment",
        "a_copies", "b_copies")
      .orderBy("a_id", "b_id")
  }

  /** Prefix-filtered exact containment ≥ tNum/tDen join over an
    * element table (doc_id, tok), asymmetric: output (a_id, b_id)
    * means a's set is ≥τ contained in b's. Factored like
    * [[setsimJoin]] so specs can drive threshold edges and crafted
    * subset pairs. */
  def containmentJoin(elements: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    // per-doc array form read 3× (A-prefix, B-probe, both verify sides)
    val byDoc = rankedDocs(elements, tNum, tDen, GlobalRankBytes).pinned
    // asymmetric candidates: A's prefix against B's FULL ranked set,
    // pruned by the containment forms of the lossless filters —
    //  length: inter ≥ ⌈τ·|A|⌉ and inter ≤ |B| force |B|·tDen ≥ |A|·tNum;
    //  positional: at the pair's first collision (positions i, j) the
    //  overlap is ≤ 1 + min(sa−i, sb−j), which must reach ⌈τ·|A|⌉
    val pref = byDoc.select(col("doc_id").as("a_id"), col("sz").as("sa"),
        posexplode(slice(col("ranks"), lit(1), col("plen"))))
      .select(col("a_id"), col("sa"), (col("pos") + 1).as("i"),
        col("col").as("srank"))
    val probe = byDoc.select(col("doc_id").as("b_id"), col("sz").as("sb"),
        posexplode(col("ranks")))
      .select(col("b_id"), col("sb"), (col("pos") + 1).as("j"),
        col("col").as("srank"))
    val cand = pref.join(probe, Seq("srank"))
      .filter(col("a_id") =!= col("b_id") &&
        col("sb") * tDen >= col("sa") * tNum &&
        (lit(1) + least(col("sa") - col("i"), col("sb") - col("j"))) * tDen >=
          col("sa") * tNum)
      .select("a_id", "b_id").distinct()
    cand
      .join(byDoc.select(col("doc_id").as("a_id"), col("ranks").as("ra"),
        col("sz").as("a_sz")), Seq("a_id"))
      .join(byDoc.select(col("doc_id").as("b_id"), col("ranks").as("rb")),
        Seq("b_id"))
      .withColumn("inter",
        size(array_intersect(col("ra"), col("rb"))).cast(LongType))
      .filter(col("inter") * tDen >= col("a_sz") * tNum)
      .select(col("a_id"), col("b_id"), col("inter"), col("a_sz"),
        (col("inter").cast(DoubleType) / col("a_sz").cast(DoubleType))
          .as("containment"))
      .orderBy("a_id", "b_id")
  }

  /** Twin-safe Jaccard self-join: ss01's semantics routed through
    * ss02's identical-set collapse — the variant a twin-heavy corpus
    * (crawl mirrors, boilerplate families) must run, because doc-level
    * output is Θ(copies²) when every page has mirrors (see SCALING's
    * set-similarity section: the 100× replica probe makes doc-level
    * ss01 un-runnable by OUTPUT size alone, no candidate scheme
    * escapes it). Identical shingle sets collapse to their min-doc_id
    * representative (order-canonical md5 fingerprint) with copy counts
    * carried; the prefix-filtered rank-array join then runs on the
    * DISTINCT-set structure, whose size tracks content diversity, not
    * duplication. Output = representative pairs + both copy counts —
    * enough to reconstruct every doc-level pair without materializing
    * them. */
  val ss03SetSimRepresentatives: GraftQuery = q(
    "ss03_setsim_representatives",
    "twin-safe exact Jaccard>=0.6 join: identical-set collapse, then representative-level PPJoin",
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS tok
      |  FROM words, UNNEST(range(1, len(ws) - 1)) AS t(i)),
      |fp AS (
      |  SELECT doc_id, md5(string_agg(tok, chr(1) ORDER BY tok)) AS f
      |  FROM sh GROUP BY doc_id),
      |grp AS (SELECT f, MIN(doc_id) AS rep, COUNT(*) AS n_copies FROM fp GROUP BY f),
      |rsh AS (SELECT g.rep AS doc_id, s.tok FROM sh s JOIN grp g ON s.doc_id = g.rep),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM rsh GROUP BY doc_id),
      |p AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
      |  FROM rsh a JOIN rsh b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT a_id, b_id, inter,
      |  sa.sz + sb.sz - inter AS union_sz,
      |  CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jac,
      |  ga.n_copies AS a_copies, gb.n_copies AS b_copies
      |FROM p
      |JOIN sz sa ON sa.doc_id = a_id
      |JOIN sz sb ON sb.doc_id = b_id
      |JOIN grp ga ON ga.rep = a_id
      |JOIN grp gb ON gb.rep = b_id
      |WHERE inter * 5 >= 3 * (sa.sz + sb.sz - inter)
      |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    val tok = Tables.documents(s, d)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        explode(TextFunctions.shingles(col("text"), 3)).as("tok"))
      .pinned // fingerprint pass + representative slice
    val fp = tok.groupBy("doc_id")
      .agg(md5(concat_ws("\u0001", sort_array(collect_list(col("tok")))))
        .as("f"))
    val grp = fp.groupBy("f")
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_copies"))
    val repTok = tok.join(
      grp.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
    setsimJoin(repTok, tNum = 3, tDen = 5,
      guardAs = "ss03_setsim_representatives",
      guardAlt = "a raised spark.graft.pairGuard.maxPairs (the input is " +
        "already representative-collapsed; a trip here means genuinely " +
        "huge non-duplicate candidate volume)")
      .join(grp.select(col("rep").as("a_id"), col("n_copies").as("a_copies")),
        Seq("a_id"))
      .join(grp.select(col("rep").as("b_id"), col("n_copies").as("b_copies")),
        Seq("b_id"))
      .select("a_id", "b_id", "inter", "union_sz", "jac",
        "a_copies", "b_copies")
      .orderBy("a_id", "b_id")
  }

  val all: Seq[GraftQuery] =
    Seq(ss01SetSimJoin, ss02ContainmentJoin, ss03SetSimRepresentatives)
}
