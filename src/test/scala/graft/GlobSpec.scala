package graft

import graft.sources.{MultiGlob, PathGlob}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Port of the reference's glob tests (glob_test.go) plus its
  * *known-failure* cases (glob_test.go:65-88), which must pass here,
  * plus generator-driven property tests (plain ScalaCheck Gen —
  * scalatestplus isn't on the offline classpath). */
class GlobSpec extends AnyFunSuite {

  /** Deterministic sampling harness over a Gen. */
  private def forSamples[A](g: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    (0 until n).foreach { _ =>
      g.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
    }
  }

  // --- TestMatches (glob_test.go:36-63) ---
  test("exact match cases from reference") {
    assert(PathGlob("*/*").matches("foo/bar.json"))
    assert(PathGlob("*.json").matches("bar.json"))
    assert(!PathGlob("*.txt").matches("bar.json"))
    assert(PathGlob("**/a.txt").matches("a/b/c/a.txt"))
    assert(!PathGlob("*/*/a.txt").matches("a/b/c/a.txt"))
    assert(PathGlob("**/*").matches("a/b/c/a.txt"))
    assert(PathGlob("a/**").matches("a/b/c/a.txt"))
    assert(PathGlob("a/**/c/a.txt").matches("a/b/c/a.txt"))
  }

  // --- TestExpectedFailures (glob_test.go:65-88): must pass here ---
  test("reference known-failure cases are fixed") {
    assert(PathGlob("**/**").matches("foo/bar.json"))
    assert(PathGlob("**/foo/**").matches("a/foo/bar.json"))
  }

  // --- TestPotentialMatches (glob_test.go:7-34) ---
  test("couldMatch cases from reference") {
    assert(PathGlob("*/*").couldMatch("foo"))
    assert(PathGlob("*o").couldMatch("foo"))
    assert(PathGlob("foo/*").couldMatch("foo"))
    assert(!PathGlob("bar/*").couldMatch("foo"))
    assert(PathGlob("*").couldMatch("foo.json"))
    assert(PathGlob("**/foo.json").couldMatch("a"))
    assert(PathGlob("a/b/foo.json").couldMatch("a/b"))
    assert(!PathGlob("*/c").couldMatch("a/b"))
  }

  test("MultiGlob is a disjunction (reference MultiFilter)") {
    val m = MultiGlob(Seq(PathGlob("*.txt"), PathGlob("*.json")))
    assert(m.matches("a.txt") && m.matches("a.json") && !m.matches("a.csv"))
  }

  private val seg = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val pathGen = Gen.nonEmptyListOf(seg).map(_.mkString("/"))

  test("property: literal pattern matches exactly itself") {
    forSamples(pathGen) { p =>
      assert(PathGlob(p).matches(p))
      assert(!PathGlob(p).matches(p + "x"))
      assert(!PathGlob(p).matches("zqx/" + p))
    }
  }

  test("property: **/tail matches any prefix plus the literal tail") {
    forSamples(Gen.zip(pathGen, seg)) { case (prefix, tail) =>
      assert(PathGlob("**/" + tail).matches(prefix + "/" + tail))
      assert(PathGlob("**/" + tail).matches(tail)) // zero segments
    }
  }

  test("property: match implies couldMatch on every ancestor folder") {
    forSamples(pathGen) { p =>
      val g = PathGlob("**/" + p.split("/").last)
      val parts = p.split("/")
      (1 until parts.length).foreach { k =>
        assert(g.couldMatch(parts.take(k).mkString("/")), s"ancestor $k of $p")
      }
    }
  }

  test("pathological globstar stacks resolve in polynomial time") {
    // 8 stacked globstars over 40 segments: the naive two-branch
    // recursion is ~2^40 here; the DP must answer instantly.
    val deep = (1 to 40).map(i => s"x$i").mkString("/")
    val manyStars = PathGlob(("**/" * 8) + "a")
    val t0 = System.nanoTime()
    assert(manyStars.matches(deep + "/a"))
    assert(!manyStars.matches(deep))
    assert(manyStars.couldMatch(deep))
    val splitStars = PathGlob("a/**/**/**/**/**/**/**/b")
    assert(splitStars.matches("a/" + deep + "/b"))
    assert(!splitStars.matches("a/" + deep + "/c"))
    assert(splitStars.couldMatch("a/" + deep))
    assert(!splitStars.couldMatch("z/" + deep))
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(elapsedMs < 1000.0, s"glob DP took ${elapsedMs}ms — exponential?")
  }

  test("globstar consumes zero segments at the path end") {
    assert(PathGlob("a/**").matches("a"))
    assert(PathGlob("a/**/**").matches("a"))
    assert(PathGlob("**").matches(""))
    assert(!PathGlob("a/b").matches("a"))
    assert(!PathGlob("a/**/b").matches("a"))
  }

  test("partial segment wildcards") {
    assert(PathGlob("*.json").matches("bar.json"))
    assert(PathGlob("b*r.json").matches("bar.json"))
    assert(!PathGlob("b*r.json").matches("baz.json"))
    // '*' must not cross '/' (reference regex-fallback bug, glob.go:145-153)
    assert(!PathGlob("a*b").matches("a/b"))
  }
}
