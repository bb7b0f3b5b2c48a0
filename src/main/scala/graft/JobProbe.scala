package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool for optimization rounds: run ONE registry query under the
  * bench's session confs with a job listener attached and print the
  * per-job wall-clock breakdown of the final (steady-state) run — the
  * §1 "where does the time actually go" step for queries whose cost is
  * spread over many driver-scheduled jobs (broadcast builds, eager
  * checkpoints, loop rounds) rather than one big stage.
  *
  * Usage: runMain graft.JobProbe <sfDir> <queryName> [warmups=2]
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobProbe <sfDir> <queryName> [warmups]")
    val sfDir = args(0)
    val name = args(1)
    val warmups = if (args.length > 2) args(2).toInt else 2
    val spark = Harness.session()
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
    def force(): Unit = Harness.force(fn(spark, sfDir))
    (1 to warmups).foreach { _ =>
      force()
      Harness.release(spark)
    }
    // timed run under the listener
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, String, Int)]
    val stages = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Int, String)]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(js.jobId, (js.time, desc, js.stageIds.size))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (t0, desc, nStages) =>
          done.synchronized {
            done += ((je.jobId, (je.time - t0) / 1e3, desc, nStages)); ()
          }
        }
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (for (a <- si.completionTime; b <- si.submissionTime)
          yield (a - b) / 1e3).getOrElse(-1.0)
        stages.synchronized {
          stages += ((si.stageId, dur, si.numTasks,
            si.name.take(60) + " | " + si.details.linesIterator
              .filterNot(_.contains("org.apache.spark"))
              .filterNot(_.contains("java.")).take(2).mkString(" <- "))); ()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    force()
    val elapsed = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let listener events drain
    spark.sparkContext.removeSparkListener(listener)
    println(f"query=$name elapsed=$elapsed%.3f s, jobs=${done.size}")
    done.sortBy(_._1).foreach { case (id, sec, desc, nStages) =>
      println(f"  job $id%3d  $sec%7.3f s  stages=$nStages%3d  $desc")
    }
    println(f"sum-of-jobs=${done.map(_._2).sum}%.3f s (gaps = driver/planning time)")
    println("slowest stages:")
    stages.sortBy(-_._2).take(25).foreach { case (id, sec, nt, name) =>
      println(f"  stage $id%4d  $sec%7.3f s  tasks=$nt%3d  $name")
    }
    spark.stop()
  }
}
