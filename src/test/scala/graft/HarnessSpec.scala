package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The one harness session, its probe-conf parser, the engine's option
  * set and its one SparkListener. */
class HarnessSpec extends AnyFunSuite {
  /** Every `spark.graft.*` key the engine reads, with why it is an
    * option: two workloads need different values, or it is a fail-fast
    * budget a deployment sizes. A new key earns its line here. */
  private val graftOptions: Map[String, String] = Map(
    "spark.graft.mv.registry" -> "MvSpec and the streaming faces register different views",
    "spark.graft.approxDistinct" -> "ad01 runs exact, ad02 runs approximate",
    "spark.graft.pairGuard.maxPairs" -> "fail-fast budget on quadratic pair joins",
    "spark.graft.ladder.maxAffectedFrac" -> "fail-fast budget on incremental ladder admission")

  test("the engine reads exactly the allow-listed spark.graft options") {
    val key = """spark\.graft\.[a-zA-Z][a-zA-Z0-9_.]*""".r
    val sources = Files.walk(Paths.get("src/main/scala"))
    val found =
      try sources.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .flatMap((f: Path) => key.findAllIn(Files.readString(f))).toSet
      finally sources.close()
    assert(found == graftOptions.keySet)
  }

  test("the engine adds a SparkListener only in Profile") {
    val sources = Files.walk(Paths.get("src/main/scala"))
    val found =
      try sources.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .filter((f: Path) => Files.readString(f).contains("addSparkListener"))
        .map(_.getFileName.toString).toSet
      finally sources.close()
    assert(found == Set("Profile.scala"))
  }

  test("no map or cache in the engine is keyed on a SparkSession outside Sessions.children") {
    // a val bound to a Map/Set/Cache whose key type (the first type
    // argument, or the whole tuple) names SparkSession: such a memo
    // keeps every session it has seen reachable for the JVM's life
    val memo = ("""(?:val|var)\s+(\w+)\s*[:=]\s*(?:new\s+)?[\w.]*(?:Map|Set|Cache)\b""" +
      """[\w.\s]*\[\s*(\([^)]*\)|[^,\]]*)""").r
    val sources = Files.walk(Paths.get("src/main/scala"))
    val found =
      try sources.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
        .flatMap((f: Path) => memo.findAllMatchIn(Files.readString(f))
          .filter(_.group(2).contains("SparkSession"))
          .map(m => s"${f.getFileName}:${m.group(1)}"))
        .toSet
      finally sources.close()
    assert(found == Set("Core.scala:children"))
  }

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
