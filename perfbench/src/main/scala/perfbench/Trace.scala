package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One call into a layer, timed from outside the engine. Times are epoch
  * nanoseconds so they line up with listener event times (epoch ms). */
final case class Span(name: String, op: Int, parent: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Spans and per-op counts of the traced passes, kept in memory and
  * written out when the run ends. Only the driver thread records spans. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  val counts = ArrayBuffer.empty[(String, Int, Long)]
  val kinds = scala.collection.mutable.Map.empty[Int, String]
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private var stack: List[String] = Nil
  var on = false

  def now(): Long = base + System.nanoTime()

  def span[A](name: String, op: Int)(body: => A): A =
    if (!on) body
    else {
      val parent = stack.headOption.getOrElse("")
      stack = name :: stack
      val t0 = now()
      try body
      finally { spans += Span(name, op, parent, t0, now()); stack = stack.tail }
    }

  def count(name: String, op: Int, v: Long): Unit = if (on) counts += ((name, op, v))
}

final case class JobRec(id: Int, start: Long, end: Long, desc: String, stages: Seq[Int])
final case class StageRec(id: Int, corpusScan: Boolean)
final case class TaskRec(stage: Int, waitMs: Long, busyMs: Long,
    gcMs: Long, inBytes: Long, inRecords: Long, outBytes: Long, outRecords: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, failed: Boolean)

/** Jobs, stages and tasks of the shared SparkContext, so it also sees the
  * jobs of child sessions the query builders create. */
final class LayerListener extends SparkListener {
  private val started = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
  private val submitted = new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val materialized = scala.collection.mutable.Set.empty[Int]
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    started.put(e.jobId, (e.time, desc, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach { case (t0, desc, st) =>
      jobs.synchronized { jobs += JobRec(e.jobId, t0, e.time, desc, st); () }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    val t: Long = si.submissionTime.getOrElse(System.currentTimeMillis())
    submitted.put((si.stageId, si.attemptNumber()), t)
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val infos = si.rddInfos.map(r => r.id -> r).toMap
    val parents = si.rddInfos.flatMap(_.parentIds).toSet
    def cachedRdd(r: org.apache.spark.storage.RDDInfo) = r.storageLevel.useMemory || r.storageLevel.useDisk
    // Does the stage compute a binaryFile scan (the Corpus source)? The
    // walk down the stage's lineage stops at a persisted RDD that an
    // earlier stage already filled: that read is a cache hit.
    def scans(id: Int): Boolean = infos.get(id).exists { r =>
      if (cachedRdd(r) && materialized(r.id)) false
      else (r.name == "FileScanRDD" && r.scope.exists(_.name.contains("binaryFile"))) ||
        r.parentIds.exists(scans)
    }
    val scan = si.rddInfos.filterNot(r => parents(r.id)).exists(r => scans(r.id))
    if (si.failureReason.isEmpty) materialized ++= si.rddInfos.filter(cachedRdd).map(_.id)
    stages.synchronized { stages += StageRec(si.stageId, scan); () }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    val sub = Option(submitted.get((e.stageId, e.stageAttemptId)))
      .map(_.longValue).getOrElse(ti.launchTime)
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
    val rec = TaskRec(e.stageId, ti.launchTime - sub,
      g(_.executorRunTime), g(_.jvmGCTime),
      g(_.inputMetrics.bytesRead), g(_.inputMetrics.recordsRead),
      g(_.outputMetrics.bytesWritten), g(_.outputMetrics.recordsWritten),
      g(x => x.shuffleReadMetrics.remoteBytesRead + x.shuffleReadMetrics.localBytesRead),
      g(_.shuffleWriteMetrics.bytesWritten),
      g(x => x.memoryBytesSpilled + x.diskBytesSpilled),
      ti.failed || ti.killed)
    tasks.synchronized { tasks += rec; () }
  }
}

/** Half-open interval arithmetic on epoch-nanosecond spans. */
object Intervals {
  type I = (Long, Long)

  def union(xs: Seq[I]): Seq[I] =
    xs.filter(i => i._2 > i._1).sortBy(_._1).foldLeft(List.empty[I]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, i) => i :: acc
    }.reverse

  def length(xs: Seq[I]): Long = union(xs).map(i => i._2 - i._1).sum

  /** Length of the part of `w` that `xs` covers. */
  def covered(w: I, xs: Seq[I]): Long =
    length(xs.map(i => (math.max(i._1, w._1), math.min(i._2, w._2))))
}

/** Reduces the spans and listener records of the traced ops to per-op
  * layer metrics. A layer's self time is its spans' duration minus the
  * part Spark jobs cover; job time belongs to `exec`, wherever the job was
  * started from. */
object Layers {
  import Intervals._
  private val MrJob = "graft mr job "

  /** Per traced op: its op id, layer metrics and MapReduce job spans. */
  def perOp(t: Tracer, l: LayerListener): Seq[(Int, Map[String, Double], Seq[Double])] = {
    val ops = t.spans.toSeq.filter(_.name == "op")
    val stageScan = l.stages.map(s => s.id -> s.corpusScan).toMap
    val tasksByStage = l.tasks.toSeq.groupBy(_.stage)
    def ms(x: Long) = x * 1000000L
    ops.map { op =>
      val sp = t.spans.toSeq.filter(s => s.op == op.op && s.name != "op")
      val jobs = l.jobs.toSeq.filter(j => ms(j.start) >= op.start && ms(j.start) <= op.end)
      val jobI = jobs.map(j => (ms(j.start), math.min(ms(j.end), op.end)))
      def spansOf(name: String) = sp.filter(_.name == name)
      def dur(name: String) = spansOf(name).map(_.dur).sum.toDouble
      def jobCovered(prefix: String) =
        sp.filter(_.name.startsWith(prefix)).map(s => covered((s.start, s.end), jobI)).sum.toDouble
      def selfOf(prefix: String) =
        sp.filter(_.name.startsWith(prefix)).map(_.dur).sum - jobCovered(prefix)
      val build = spansOf("operators.build")
      val buildJobs = jobs.filter(j => build.exists(b => ms(j.start) >= b.start && ms(j.start) <= b.end))
      val stageIds = jobs.flatMap(_.stages).toSet
      val tasks = stageIds.toSeq.flatMap(s => tasksByStage.getOrElse(s, Nil))
      val mrJobs = jobs.filter(_.desc.startsWith(MrJob))
      val mrStages = mrJobs.flatMap(_.stages).toSet
      val mrRun = spansOf("mr.run")
      val materialize = jobs.filterNot(_.desc.startsWith(MrJob))
        .filter(j => mrRun.exists(r => ms(j.start) >= r.start && ms(j.start) <= r.end))
      val jobSpans = mrJobs.groupBy(_.desc).values
        .map(js => (ms(js.map(_.start).min), ms(js.map(_.end).max))).toSeq
      val phase = if (jobSpans.isEmpty) 0L
        else jobSpans.map(_._2).max - jobSpans.map(_._1).min
      val execCover = length(jobI ++ spansOf("exec.force").map(s => (s.start, s.end)))
      val cover = length(jobI ++ sp.filter(_.parent == "op").map(s => (s.start, s.end)))
      val busy = tasks.map(_.busyMs).sum / 1e3
      val sec = 1e-9
      val m = Map(
        "wall" -> op.dur * sec,
        "operators.build_s" -> dur("operators.build") * sec,
        "operators.build_jobs" -> buildJobs.size.toDouble,
        "operators.build_job_s" -> jobCovered("operators.build") * sec,
        "operators.build_self_s" -> selfOf("operators.build") * sec,
        "plans.analyze_s" -> dur("plans.analyze") * sec,
        "plans.optimize_s" -> dur("plans.optimize") * sec,
        "plans.physical_s" -> dur("plans.physical") * sec,
        "plans.self_s" -> selfOf("plans.") * sec,
        "exec.force_s" -> dur("exec.force") * sec,
        "exec.self_s" -> execCover * sec,
        "exec.jobs" -> jobs.size.toDouble,
        "exec.stages" -> stageIds.count(stageScan.contains).toDouble,
        "exec.tasks" -> tasks.size.toDouble,
        "exec.task_busy_s" -> busy,
        "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
        "exec.tasks_failed" -> tasks.count(_.failed).toDouble,
        "exec.task_wait_sum_s" -> tasks.map(_.waitMs).sum / 1e3,
        "exec.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
        "exec.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
        "exec.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
        "sources.input_bytes" -> tasks.map(_.inBytes).sum.toDouble,
        "sources.input_records" -> tasks.map(_.inRecords).sum.toDouble,
        "sources.output_bytes" -> tasks.map(_.outBytes).sum.toDouble,
        "sources.output_records" -> tasks.map(_.outRecords).sum.toDouble,
        "sources.list_s" -> dur("sources.list") * sec,
        "sources.self_s" -> selfOf("sources.") * sec,
        "sources.files_listed" -> t.counts.filter(c => c._1 == "sources.files_listed" && c._2 == op.op)
          .map(_._3).sum.toDouble,
        "mr.self_s" -> selfOf("mr.") * sec,
        "mr.materialize_s" -> length(materialize.map(j => (ms(j.start), ms(j.end)))) * sec,
        "mr.job_max_s" -> (if (jobSpans.isEmpty) 0.0 else jobSpans.map(s => s._2 - s._1).max * sec),
        "mr.overlap" -> (if (phase == 0L) 0.0 else jobSpans.map(s => s._2 - s._1).sum.toDouble / phase),
        "mr.traversals" -> stageIds.count(s => stageScan.getOrElse(s, false)).toDouble,
        "mr.jobs_input_bytes" -> mrStages.toSeq.flatMap(s => tasksByStage.getOrElse(s, Nil))
          .map(_.inBytes).sum.toDouble,
        "unaccounted" -> (op.dur - cover) * sec
      )
      (op.op, m, jobSpans.map(s => (s._2 - s._1) * sec))
    }
  }

  /** Means over ops, except the ratios and medians named below. */
  def summarize(per: Seq[(Int, Map[String, Double], Seq[Double])], cores: Int): Map[String, Double] = {
    if (per.isEmpty) return Map.empty
    val n = per.size.toDouble
    val keys = per.head._2.keys
    val mean = keys.map(k => k -> per.map(_._2(k)).sum / n).toMap
    val wall = per.map(_._2("wall")).sum
    val nTasks = per.map(_._2("exec.tasks")).sum
    val mrSpans = per.flatMap(_._3).sorted
    mean - "wall" - "unaccounted" - "exec.task_wait_sum_s" ++ Map(
      "exec.task_wait_s" -> (if (nTasks == 0) 0.0 else per.map(_._2("exec.task_wait_sum_s")).sum / nTasks),
      "exec.core_util" -> per.map(_._2("exec.task_busy_s")).sum / (wall * cores),
      "mr.job_p50_s" -> (if (mrSpans.isEmpty) 0.0 else mrSpans(mrSpans.size / 2)),
      "trace.unaccounted_frac" -> per.map(_._2("unaccounted")).sum / wall)
  }
}
