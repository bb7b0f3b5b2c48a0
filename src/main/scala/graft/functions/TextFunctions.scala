package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Composable Column-level text analytics — the building blocks the
  * canned queries in [[graft.operators.TextQueries]] /
  * [[graft.operators.DedupQueries]] are assembled from, exposed so
  * library users can put them in their own plans. All are codegen'd
  * built-in compositions (no UDFs): per-row, shuffle-free, linear.
  */
object TextFunctions {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /** Char-trigram array with a byte-indexed fast path. `substr` on a
    * STRING column rescans for codepoint boundaries from byte 0 each
    * call — O(len²) per document across the index sweep. For ASCII
    * rows (octet_length == length) slicing the BINARY cast is
    * byte-indexed O(1) per gram and ~5× faster end-to-end; rows with
    * multibyte codepoints fall back to the character-exact string
    * path per row, so non-ASCII text can never diverge from a
    * character-based oracle. `bin` must be `text.cast(BinaryType)`
    * PRE-PROJECTED to its own column, so the cast isn't re-evaluated
    * per gram. Text under 3 chars yields an empty array (guarded here:
    * `sequence(1, len-2)` with len < 3 would otherwise count DOWN and
    * emit nonsense grams). */
  def trigramsFast(text: Column, bin: Column): Column =
    when(length(text) < 3, array().cast(ArrayType(StringType)))
      .when(octet_length(text) === length(text),
        transform(sequence(lit(1), octet_length(text) - 2),
          i => bin.substr(i, lit(3)).cast(StringType)))
      .otherwise(
        transform(sequence(lit(1), length(text) - 2),
          i => text.substr(i, lit(3))))

  /** Distinct-word / total-word ratio — vocabulary richness. */
  def typeTokenRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast(DoubleType) /
      size(tokens(text)).cast(DoubleType)

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    size(filter(tokens(text), w => w.isin(stopwords: _*))).cast(DoubleType) /
      size(tokens(text)).cast(DoubleType)

  /** Exact substring occurrence count (replace-length trick). */
  def occurrences(text: Column, needle: String): Column =
    ((length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(needle), "")))
      / needle.length).cast(LongType)

  /** Normalized content fingerprint (case-insensitive md5). */
  def fingerprint(text: Column): Column = md5(lower(text))

  /** MinHash component j over the word set, using the md5('j:'||w)
    * hash family — reproducible in any engine. */
  def minhash(text: Column, j: Int): Column =
    array_min(transform(array_distinct(tokens(text)),
      w => md5(concat(lit(s"$j:"), w))))

  /** LSH band key over signature components [from, until). */
  def lshBand(text: Column, from: Int, until: Int): Column =
    md5(concat_ws("", (from until until).map(minhash(text, _)): _*))

  /** Distinct word n-gram shingles. Unigram sets saturate on a small
    * vocabulary (every doc contains every word → Jaccard ≈ 1 corpus-
    * wide); n-gram shingles recover the discriminating power MinHash
    * needs. Callers must filter docs with < n words (an empty range
    * would make `sequence` count downward). */
  def shingles(text: Column, n: Int): Column = {
    val ws = split(text, " ")
    array_distinct(transform(sequence(lit(0), size(ws) - n),
      i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k + 1)): _*)))
  }

  /** MinHash component j over an arbitrary shingle/token array column,
    * same md5('j:'||item) family as [[minhash]]. */
  def minhashOf(items: Column, j: Int): Column =
    array_min(transform(items, w => md5(concat(lit(s"$j:"), w))))
}
