package graft.sources

import java.util.regex.Pattern

/** Path predicate with the two evaluation modes the reference's
  * traversal needs (`Filter.Match` / `Filter.CouldMatch`,
  * reference `interfaces.go:4-7`): exact match for files, and
  * prefix-feasibility for directory-subtree pruning — what lets
  * [[Corpus.walk]] skip whole subtrees (reference `work.go:68-99`).
  */
sealed trait PathPredicate extends Serializable {
  /** Exact match of a full (root-relative, '/'-separated) file path. */
  def matches(path: String): Boolean
  /** Could any file at or strictly below this folder path match? */
  def couldMatch(folder: String): Boolean
  def or(other: PathPredicate): PathPredicate = MultiGlob(Seq(this, other))
}

/** Disjunction of predicates (reference `MultiFilter`, glob.go:9-30). */
final case class MultiGlob(filters: Seq[PathPredicate]) extends PathPredicate {
  def matches(path: String): Boolean = filters.exists(_.matches(path))
  def couldMatch(folder: String): Boolean = filters.exists(_.couldMatch(folder))
}

/** Glob over '/'-separated paths: `*` is a within-segment wildcard
  * (usable partially, e.g. `*.json`); `**` matches zero or more whole
  * segments (globstar).
  *
  * This is a fresh segment-DP implementation, not a port of the
  * reference's two-ended matcher (glob.go:70-117): the reference's
  * documented failure cases — doubled and split globstars
  * (glob_test.go:65-88) — match correctly here, and partial-segment
  * regexes are compiled once per glob instead of per call (the perf
  * bug noted at glob.go:35).
  */
final case class PathGlob(pattern: String) extends PathPredicate {
  import PathGlob.{Exact, Globstar, RegexSeg, Segment}

  @transient private lazy val segs: Array[Segment] =
    pattern.split("/", -1).map {
      case "**" => Globstar
      case s if s.contains("*") =>
        RegexSeg(Pattern.compile(
          s.split("\\*", -1).map(Pattern.quote).mkString("[^/]*")))
      case s => Exact(s)
    }

  private def segMatch(seg: Segment, s: String): Boolean = seg match {
    case Globstar    => true // handled structurally, not per-segment
    case Exact(e)    => e == s
    case RegexSeg(p) => p.matcher(s).matches()
  }

  /** Bottom-up DP, O(|pattern|·|path|): `row(j)` = "can pattern
    * segments [i..) resolve path segments [j..)". Globstar recurrences
    * read the same row at j+1 (consume a path segment) and the i+1 row
    * at j (consume the star), so one right-to-left sweep per pattern
    * segment suffices. The naive recursion is exponential when several
    * globstars stack (each branches 2-ways at every position) —
    * GlobSpec pins a 8-globstar × 40-segment case that must finish in
    * milliseconds.
    *
    * `exact`: can [i..) match [j..) exactly (matches()).
    * `!exact`: can [i..) match SOME extension of [j..) — true once the
    * folder path is fully consumed, since whatever pattern remains can
    * still match some file deeper in the tree (couldMatch()). */
  private def resolves(path: Array[String], exact: Boolean): Boolean = {
    val P = path.length
    // Base row i = S (pattern consumed): exact-mode matches only the
    // consumed path (j == P); could-mode is false for j < P (leftover
    // folder segments, nothing left to match them) and true at j == P.
    var below = new Array[Boolean](P + 1) // row i+1
    var row = new Array[Boolean](P + 1) // row i
    below(P) = true
    var i = segs.length - 1
    while (i >= 0) {
      // j == P (path consumed): could-mode is always feasible (deeper
      // files can still satisfy the remaining pattern); exact-mode only
      // if this segment is a globstar matching zero segments and the
      // rest of the pattern also resolves emptily.
      row(P) = !exact || (segs(i) == Globstar && below(P))
      var j = P - 1
      while (j >= 0) {
        row(j) = segs(i) match {
          case Globstar => below(j) || row(j + 1)
          case seg => segMatch(seg, path(j)) && below(j + 1)
        }
        j -= 1
      }
      val t = below; below = row; row = t
      i -= 1
    }
    below(0)
  }

  def matches(path: String): Boolean =
    resolves(path.split("/", -1), exact = true)

  def couldMatch(folder: String): Boolean =
    folder.isEmpty || resolves(folder.split("/", -1), exact = false)
}

object PathGlob {
  private[sources] sealed trait Segment extends Serializable
  private[sources] case object Globstar extends Segment
  private[sources] final case class Exact(s: String) extends Segment
  private[sources] final case class RegexSeg(p: Pattern) extends Segment

  def apply(patterns: Seq[String]): PathPredicate =
    if (patterns.size == 1) PathGlob(patterns.head)
    else MultiGlob(patterns.map(PathGlob(_)))
}
