package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one harness session and its probe-conf parser. */
class HarnessSpec extends AnyFunSuite {
  test("the harness session carries every bench conf and injects the graft extensions") {
    // a fresh session: defaults only, nothing another spec set or registered
    val s = TestSpark.spark.newSession()
    Harness.confs(4).foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
    assert(s.sparkContext.master == "local[4]")
    // l2_norm resolves through the injected extension, not register()
    assert(s.sql("SELECT l2_norm(array(cast(3.0 as float), cast(4.0 as float)))")
      .head().getDouble(0) == 5.0)
  }

  test("probe confs split on ';' when present, else on ','") {
    assert(Harness.probeConfs("a=1;b=x,y") == Seq("a" -> "1", "b" -> "x,y"))
    assert(Harness.probeConfs("a=1,b=2") == Seq("a" -> "1", "b" -> "2"))
    assert(Harness.probeConfs("a=1;") == Seq("a" -> "1"), "blank tokens are skipped")
    assert(Harness.probeConfs("k=v=w") == Seq("k" -> "v=w"), "only the first '=' splits")
  }

  test("a malformed probe-conf token fails instead of being dropped") {
    Seq("a=1,oops", "a=1;=2").foreach { raw =>
      val e = intercept[RuntimeException](Harness.probeConfs(raw))
      assert(e.getMessage.contains("malformed token"), raw)
    }
  }
}
