package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // median-of-N timed runs (default 3): single-run spread on
    // sub-second queries is ±50% on this machine (BASELINE.md)
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // dev-only: comma-separated name prefixes restrict the run (the
    // driver never sets this → full sweep)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    def selected(name: String) = only.forall(_.exists(name.startsWith))
    val spark = Harness.session()
    // Machine contention context: without it a uniformly-slow run (a
    // loaded host) is indistinguishable from a real regression in the
    // artifact (round-7 driver run: uniform ~1.4x vs same-day builder
    // run, unadjudicable). getSystemLoadAverage is 1-minute load.
    // emitted as JSON null when the platform reports -1 (unsupported),
    // so artifact consumers can tell "unavailable" from a real reading
    def loadAvg: String = {
      val v = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
      if (v < 0) "null" else v.toString
    }
    val loadStart = loadAvg
    val results = SparkEntry.queries.toSeq.filter(kv => selected(kv._1))
      .sortBy(_._1).map { case (name, fn) =>
      // warm-up pass absorbs JIT/codegen/file-footer costs, then
      // median of `runs` steady-state executions
      try { Harness.force(fn(spark, sfDir)) } catch { case _: Throwable => () }
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        // a failing query is reported as -1, never as a fast success
        try { Harness.force(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      }
      val elapsed =
        if (times.exists(_ < 0)) -1.0
        else times.sorted.apply(times.size / 2)
      // min-of-N is the contention-robust floor: medians inflate under
      // external load, mins survive unless every run was contended
      val floor = if (times.exists(_ < 0)) -1.0 else times.min
      Harness.release(spark)
      (name, elapsed, floor)
    }
    val loadEnd = loadAvg
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsMin = results.map { case (k, _, m) => s"\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    // Sub-phase timings (write-vs-read split for layout-write queries):
    // elapsed above is the whole round trip; "write" is the phase the
    // query recorded on its last timed run, "read" the remainder.
    val phases = results.flatMap { case (k, v, _) =>
      if (v < 0) None
      else {
        // one-time fixtures ([[Fixtures]]: indexes, MVs, base labels,
        // staged tables) record a "setup" phase under the query that
        // first built them for this corpus dir: it ran during warm-up
        // only, so the timed elapsed excludes it. A query may
        // ALSO record a per-timed-run "write" phase — both keys are
        // emitted then (folding write into "read" because a setup key
        // exists would silently mis-attribute the artifact).
        val setup = graft.Phases.get(k, "setup")
        val write = graft.Phases.get(k, "write")
        (setup, write) match {
          case (Some(sw), Some(w)) if w <= v =>
            Some(s"""\"$k\":{\"setup_write\":$sw,\"write\":$w,\"read\":${math.max(0.0, v - w)}}""")
          case (Some(sw), Some(w)) =>
            // write larger than the timed elapsed ⇒ it ran during
            // WARM-UP only: fold it into setup so the measurement is
            // preserved instead of silently dropped
            Some(s"""\"$k\":{\"setup_write\":${sw + w},\"read\":$v}""")
          case (Some(sw), None) =>
            Some(s"""\"$k\":{\"setup_write\":$sw,\"read\":$v}""")
          case (None, Some(w)) if w <= v =>
            Some(s"""\"$k\":{\"write\":$w,\"read\":${math.max(0.0, v - w)}}""")
          case (None, Some(w)) =>
            // write phase larger than the timed elapsed ⇒ the write
            // ran during WARM-UP only but predates the explicit setup
            // key: report it as setup so the artifact doesn't imply
            // every timed run paid it
            Some(s"""\"$k\":{\"setup_write\":$w,\"read\":$v}""")
          case (None, None) => None
        }
      }
    }.mkString("{", ",", "}")
    val failed = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalMin = results.map(_._3).filter(_ >= 0).sum
    // Per-query map on its own line FIRST; the driver tail-captures
    // the LAST 2000 chars of stdout, so the final line must be the
    // compact JSON and carry everything that must survive: the giant
    // per_query line gets its FRONT truncated (r5 lost the phases map
    // by leading with it), so the write/read phase split rides the
    // total line instead — it is small by construction (only the
    // layout-write queries record a phase).
    println(s"""{"metric":"per_query","unit":"sec","sf":"$sfDir","queries":$qs}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","total_min_of_n":$totalMin,"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"n_queries":${results.size},"n_failed":$failed,"runs_per_query":$runs,"sf":"$sfDir","phases":$phases}""")
    // The stdout tail truncates the per-query line on 15x-query runs,
    // so the COMPLETE artifact (every query + phases + total) is also
    // written to a file — committed per round as BENCH_FULL_r{N}.json
    // so regressions diff without log scraping.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try {
      val full =
        s"""{"metric":"per_query_full","unit":"sec","sf":"$sfDir","runs_per_query":$runs,"total":$total,"total_min_of_n":$totalMin,"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"n_queries":${results.size},"n_failed":$failed,"queries":$qs,"queries_min":$qsMin,"phases":$phases}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        full.getBytes("UTF-8"))
    } catch { case _: Throwable => () } // artifact write must never fail the bench
    spark.stop()
    // a broken query must not shrink the headline total and exit 0
    if (failed > 0) sys.exit(1)
  }
}
