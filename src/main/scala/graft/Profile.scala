package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** What one block of code cost in Spark: the jobs it launched,
  * their stages, and the task-level IO totals. The runtime-counter
  * complement to the plan-shape guards (PlanSpec pins that a filter is
  * *printed* as pushed, MetricsSpec that the scan *read fewer bytes*)
  * and the job counts the builder pins (ComponentsSpec, MapReduceSpec)
  * assert on. */
final case class Profile(
    seconds: Double,
    jobs: Seq[Profile.Job],
    stages: Seq[Profile.Stage],
    inputBytes: Long, inputRecords: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long)

object Profile {
  /** One job: its wall time, stage count, description and start event
    * (whose `stageInfos` say which RDDs each stage reads). */
  final case class Job(id: Int, seconds: Double, stageCount: Int,
      description: String, start: SparkListenerJobStart)
  /** One completed stage: wall time, task count and name. */
  final case class Stage(id: Int, seconds: Double, tasks: Int, name: String)

  private val ScopeKey = "graft.profile.scope"

  /** Runs `body` and profiles the jobs it launches. Scope: a thread-local
    * property marks this call, so jobs from `body`'s thread and the
    * threads it starts (broadcast builds and subqueries inherit it)
    * count, and a job another thread started on the shared context does
    * not. Listener events arrive asynchronously, so before returning it
    * waits until every scoped job has ended and the counters hold still
    * for two 100 ms polls (10 s backstop). */
  def of[T](spark: SparkSession)(body: => T): (T, Profile) = {
    val scope = java.util.UUID.randomUUID().toString
    val started = new ConcurrentHashMap[Int, SparkListenerJobStart]()
    val ended = new ConcurrentHashMap[Int, Long]()
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val stages = new ConcurrentHashMap[Int, Stage]()
    val inB, inR, srB, swB, sp = new LongAdder
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(ScopeKey) == scope)) {
          e.stageIds.foreach(stageIds.add)
          started.put(e.jobId, e); ()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (started.containsKey(e.jobId)) { ended.put(e.jobId, e.time); () }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        if (stageIds.contains(si.stageId)) {
          val sec = (for (a <- si.completionTime; b <- si.submissionTime)
            yield (a - b) / 1e3).getOrElse(-1.0)
          stages.put(si.stageId, Stage(si.stageId, sec, si.numTasks,
            si.name.take(60) + " | " + si.details.linesIterator
              .filterNot(_.contains("org.apache.spark"))
              .filterNot(_.contains("java.")).take(2).mkString(" <- "))); ()
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null && stageIds.contains(e.stageId)) {
          inB.add(m.inputMetrics.bytesRead)
          inR.add(m.inputMetrics.recordsRead)
          srB.add(m.shuffleReadMetrics.totalBytesRead)
          swB.add(m.shuffleWriteMetrics.bytesWritten)
          sp.add(m.diskBytesSpilled)
        }
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(ScopeKey, scope)
    try {
      val t0 = System.nanoTime()
      val result = body
      val seconds = (System.nanoTime() - t0) / 1e9
      def snap() = (started.size, ended.size, stages.size,
        inB.sum, inR.sum, srB.sum, swB.sum, sp.sum)
      var last = snap()
      var stable, waited = 0
      while (stable < 2 && waited < 10000) {
        Thread.sleep(100); waited += 100
        val cur = snap()
        if (cur == last && ended.keySet.containsAll(started.keySet)) stable += 1
        else { stable = 0; last = cur }
      }
      val jobs = started.values.asScala.toSeq.sortBy(_.jobId).map { e =>
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))
            .orElse(Option(p.getProperty("callSite.short"))))
          .getOrElse(e.stageInfos.maxByOption(_.stageId).fold("")(_.name))
        val end = Option(ended.get(e.jobId)).fold(-1.0)(t => (t - e.time) / 1e3)
        Job(e.jobId, end, e.stageIds.size, desc, e)
      }
      (result, Profile(seconds, jobs, stages.values.asScala.toSeq.sortBy(_.id),
        inB.sum, inR.sum, srB.sum, swB.sum, sp.sum))
    } finally {
      sc.setLocalProperty(ScopeKey, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Dev tool: run ONE registry query on the harness session and print
    * the per-job and slowest-stage breakdown of its last run, the build
    * (the builder's eager jobs) apart from the force (the returned
    * plan) — where the time goes for queries whose cost is spread over
    * many small jobs rather than one big stage.
    *
    * Usage: tools/graft_java.sh graft.Profile <sfDir> <queryName> [warmups=2] */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <queryName> [warmups]")
    val Array(sfDir, name) = args.take(2)
    val warmups = if (args.length > 2) args(2).toInt else 2
    val spark = Harness.session()
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
    (1 to warmups).foreach { _ =>
      Harness.force(fn(spark, sfDir))
      Harness.release(spark)
    }
    val (df, built) = of(spark)(fn(spark, sfDir))
    val (_, forced) = of(spark)(Harness.force(df))
    Seq("build" -> built, "force" -> forced).foreach { case (phase, p) =>
      println(f"query=$name $phase=${p.seconds}%.3f s, jobs=${p.jobs.size}")
      p.jobs.foreach { j =>
        println(f"  job ${j.id}%3d  ${j.seconds}%7.3f s  stages=${j.stageCount}%3d  ${j.description}")
      }
      println(f"sum-of-jobs=${p.jobs.map(_.seconds).sum}%.3f s (gaps = driver/planning time)")
      println("slowest stages:")
      p.stages.sortBy(-_.seconds).take(25).foreach { st =>
        println(f"  stage ${st.id}%4d  ${st.seconds}%7.3f s  tasks=${st.tasks}%3d  ${st.name}")
      }
    }
    spark.stop()
  }
}
