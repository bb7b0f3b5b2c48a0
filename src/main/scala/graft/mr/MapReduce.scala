package graft.mr

import graft.sources.{Corpus, MultiGlob, PathPredicate}
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SerializableConfiguration

/** The reference's job model (`jobs.go:9-20`) re-expressed Spark-first.
  *
  * A job is: a path filter, an optional directory-files filter
  * (hierarchy context), a flatMap-shaped mapper
  * `(path, parents, content) → 0..n records` (reference
  * `interfaces.go:17-27` — strictly a flatMap, covering projection,
  * filtering and record splitting), and a distributive reduction
  * `(zero, fold, merge)`; `zero` must be an identity of `merge`.
  *
  * Departures from the reference, by design (SURVEY.md §7.3):
  *  - the goroutine pipeline / batching / backpressure machinery
  *    (mapreduce.go:39-129,356-399) is replaced by one Spark pass
  *    ([[MapReduceRunner]]);
  *  - reduction is partial-per-partition then merged — the
  *    distributed reduction the reference left as a TODO
  *    (readme.md:44); its `Sorter` per-batch sort semantic
  *    (mapreduce.go:461-477) maps to sorting one partition's mapped
  *    records by `sortKey` in the task before folding them;
  *  - errors fail the whole run via Spark task failure → exception,
  *    matching the reference's first-error-cancels-everything
  *    (mapreduce.go:215-220).
  *
  * The job is shipped to every task of the pass; `finish` runs on the
  * driver only and is not shipped.
  */
final case class MapReduceJob[M, R](
    name: String,
    filter: PathPredicate,
    mapper: (String, Seq[Array[Byte]], Array[Byte]) => IterableOnce[M],
    zero: R,
    fold: (R, M) => R,
    merge: (R, R) => R,
    directoryFiles: Option[PathPredicate] = None,
    sortKey: Option[M => Long] = None,
    @transient finish: R => Unit = (_: R) => ())(
    implicit val enc: Encoder[M], val rct: scala.reflect.ClassTag[R])
  extends CorpusJob {
  type Acc = R

  /** The mapper on one file, its failure wrapped with the job and path
    * (reference errors.go:5-33: every error is wrapped with the job and
    * path that produced it) — a million-file run must say WHERE it died,
    * not just surface the raw mapper exception. */
  private def mapFile(path: String, parents: Seq[Array[Byte]],
      content: Array[Byte]): IterableOnce[M] =
    try mapper(path, parents, content)
    catch { case e: Exception => throw GraftJobException(name, path, e) }

  /** Run the map phase only, as a typed Dataset (composable with the
    * whole relational surface). */
  def mapped(files: DataFrame): Dataset[M] = {
    val parentsFor = ParentStacks.resolvers(files, Seq(directoryFiles)).head
    files
      .filter(col("path").isNotNull)
      .flatMap { row =>
        val path = row.getAs[String]("path")
        if (filter.matches(path))
          mapFile(path, parentsFor(path), row.getAs[Array[Byte]]("content"))
        else Iterator.empty
      }(enc)
  }

  def folder(): CorpusJob.Folder[R] = sortKey match {
    case None => new CorpusJob.Folder[R] {
      private var acc = zero
      def add(path: String, parents: Seq[Array[Byte]], content: Array[Byte]): Unit =
        mapFile(path, parents, content).iterator.foreach(v => acc = fold(acc, v))
      def result(): R = acc
    }
    case Some(key) => new CorpusJob.Folder[R] {
      private val buf = scala.collection.mutable.ArrayBuffer.empty[M]
      def add(path: String, parents: Seq[Array[Byte]], content: Array[Byte]): Unit = {
        buf ++= mapFile(path, parents, content); ()
      }
      // Reference Sorter semantics: the sort is per delivered batch, not
      // global (interfaces.go:54); the batch here is the task's partition.
      def result(): R = buf.sortBy(key).foldLeft(zero)(fold)
    }
  }

  def run(files: DataFrame): Any =
    MapReduceRunner.run(files.sparkSession, files, Seq(this))(name)
}

/** What [[MapReduceRunner]] needs of a job: which files it reads, a
  * fresh fold state per task, and the driver-side merge and finish. */
trait CorpusJob extends Serializable {
  type Acc
  def name: String
  def filter: PathPredicate
  def directoryFiles: Option[PathPredicate]
  /** A new fold state, made inside the task that uses it. */
  def folder(): CorpusJob.Folder[Acc]
  def zero: Acc
  def merge: (Acc, Acc) => Acc
  def finish: Acc => Unit

  // the runner holds the K partials of different types as `Any`
  private[mr] final def mergeAny(a: Any, b: Any): Any =
    merge(a.asInstanceOf[Acc], b.asInstanceOf[Acc])
  private[mr] final def finishAny(r: Any): Unit = finish(r.asInstanceOf[Acc])
}

object CorpusJob {
  /** One task's fold of one job: `add` each file the job's filter
    * passes, in partition order, then `result` is the task's partial. */
  trait Folder[A] {
    def add(path: String, parents: Seq[Array[Byte]], content: Array[Byte]): Unit
    def result(): A
  }
}

/** Mapper failure wrapped with its job and path (reference
  * errors.go:5-33 — `fileError`/`jobError` context chain). Spark
  * re-wraps task failures in SparkException, but this message — job +
  * path — survives in the cause chain and the task log. */
final case class GraftJobException(jobName: String, path: String,
    cause: Exception)
  extends RuntimeException(
    s"graft job '$jobName' failed on path '$path': ${cause.getMessage}", cause)

/** Hierarchy context (SURVEY.md §1.3, §7.3): files matching a job's
  * `directoryFiles` filter become ancestor context for every file in
  * the *strict* subtree below their folder, ordered root→leaf —
  * reference semantics from work.go:68-100 / mapreduce.go:152-204,
  * including the rule that a file in the same folder as a directory
  * file does NOT see it (both load in the same folder pass).
  *
  * Directory files are few and small by contract (the reference holds
  * them all in one in-process map, mapreduce.go:187), so this is a
  * hand-rolled broadcast join: the matching rows reach the driver
  * ([[resolvers]] finds them with Spark, [[MapReduceRunner.runOnDirectory]]
  * in its walk of the tree), [[stacks]] sorts them into the stack table the
  * pass ships to its tasks, and each row resolves map-side. No shuffle.
  *
  * Intentional divergence: when SEVERAL files in one folder match
  * `directoryFiles`, ALL are kept as context, path-ordered within the
  * folder — the reference keeps exactly one (its per-folder map entry
  * is overwritten per job, mapreduce.go:193, so the survivor is
  * iteration-order luck). Keeping all, deterministically ordered, is
  * strictly more informative and reproducible.
  */
object ParentStacks {
  /** Phase 1 of directory-file discovery: the PATH-ONLY scan. Exposed
    * so PlanSpec can pin that this plan's read schema never includes
    * `content` — the whole point of the two-phase shape: on an
    * UNCACHED columnar corpus, finding the ~100 directory files must
    * cost a path-column scan, not a deserialization of every file's
    * payload bytes (a row-lambda `filter(r => ...)` forced exactly
    * that: a typed filter reads whole rows). The predicate runs as a
    * Column expression over `path` alone, so column pruning holds. */
  private[graft] def discoveryPlan(files: DataFrame, pred: PathPredicate)
      : DataFrame = {
    val matchesPath = org.apache.spark.sql.functions
      .udf((p: String) => pred.matches(p))
    files.select(col("path")).filter(matchesPath(col("path")))
  }

  /** One resolver per entry of `dirFilters`, found by ONE discovery
    * for all of them: a path-only scan over the disjunction of every
    * job's filter, then one content fetch for the discovered paths — two
    * Spark jobs per run however many jobs use directory files, none when
    * no job does. */
  def resolvers(files: DataFrame, dirFilters: Seq[Option[PathPredicate]])
      : IndexedSeq[String => Seq[Array[Byte]]] = {
    val preds = dirFilters.flatten.distinct
    // phase 1: path-only discovery (column-pruned scan, no content)
    val dirPaths = if (preds.isEmpty) Array.empty[String]
      else discoveryPlan(files, MultiGlob(preds)).collect().map(_.getString(0))
    // phase 2: fetch content for ONLY the discovered paths. The `isin`
    // compiles to an In filter a columnar source pushes down (row-group
    // skipping), so the content bytes of non-directory files are never
    // materialized.
    val dirRows = if (dirPaths.isEmpty) Seq.empty[(String, Array[Byte])]
      else files
        .filter(col("path").isin(dirPaths.toIndexedSeq: _*))
        .select(col("path"), col("content"))
        .collect() // only the few matching directory files reach the driver
        .map(r => (r.getString(0), r.getAs[Array[Byte]](1))).toSeq
    stacks(dirRows, dirFilters)
  }

  /** One resolver per entry of `dirFilters` over the discovered
    * directory files `dirRows` (root-relative path, content): each job's
    * stack is the subset its own filter matches, ordered root→leaf and
    * by path within a folder. */
  def stacks(dirRows: Seq[(String, Array[Byte])], dirFilters: Seq[Option[PathPredicate]])
      : IndexedSeq[String => Seq[Array[Byte]]] = {
    val sorted = dirRows.map { case (path, content) => (dirOf(path), path, content) }
      .sortBy { case (_, path, _) => (path.count(_ == '/'), path) }
    dirFilters.toIndexedSeq.map {
      case None => (_: String) => Nil
      case Some(pred) =>
        val mine = sorted.filter(t => pred.matches(t._2))
        (path: String) => {
          val fileDir = dirOf(path)
          mine.collect {
            case (dfDir, _, content)
                if dfDir != fileDir &&
                  (dfDir.isEmpty || fileDir.startsWith(dfDir + "/")) =>
              content
          }
        }
    }
  }

  /** The folder of a root-relative path, '' at the root. */
  private def dirOf(path: String): String = path.lastIndexOf('/') match {
    case -1 => ""
    case i  => path.substring(0, i)
  }
}

/** Multi-job executor (reference `MapReduce(filesystem, jobs)`,
  * mapreduce.go:12-221): N jobs over ONE traversal. The reference
  * reads each file once and hands it to every job's pipeline, and finds
  * directory files during that same traversal (mapreduce.go:152-204).
  * Here directory files are found once for all jobs, and then ONE Spark
  * job folds every job: each task reads its files once, feeds each
  * `(path, content)` to every job's filter and mapper, and returns the K
  * partials, which the driver merges job by job before calling each
  * `finish`.
  *
  * The pass has two sources:
  *  - [[runOnDirectory]] walks the tree itself ([[Corpus.walk]]),
  *    pruned to the folders some job could match, as the reference's
  *    traversal is (work.go:29-37,68-99). It reads the few directory
  *    files on the driver and hands each task a group of files to
  *    open, so the pass is the only Spark job on a tree without wide
  *    folders, and nothing is persisted;
  *  - [[run]] takes any corpus frame (a table has no tree listing) and
  *    discovers with Spark: a path-only scan and a content fetch. It
  *    persists the corpus (MEMORY_AND_DISK) for the run only when some
  *    job declares `directoryFiles`, so those two jobs and the pass
  *    share one read; a corpus the caller cached stays cached.
  *
  * An input with fewer partitions P than cores would leave cores idle,
  * so the pass reads the input g = min(K, ⌈cores / P⌉) times within the
  * same stage, copy i folding only the jobs whose index is i (mod g):
  * tasks = P × g. Each task holds the fold states of its jobs at once,
  * and a `sortKey` job buffers its partition's mapped records in task
  * memory.
  *
  * First error cancels everything (reference mapreduce.go:215-220): a
  * failed task fails the pass, whose job group interrupts the tasks
  * still running. The merge is a driver-side collect of one partial
  * per task.
  */
object MapReduceRunner {
  // the thread-local properties `setJobGroup` writes, restored afterwards
  private val GroupProps =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  def run(spark: SparkSession, corpus: DataFrame, jobs: Seq[CorpusJob])
      : Map[String, Any] = {
    if (jobs.isEmpty) return Map.empty
    val js = jobs.toIndexedSeq
    // without discovery the pass is the only read, so a cache would only
    // cost its fill; a corpus the caller cached stays cached: only what
    // the run persists is unpersisted
    val owned = js.exists(_.directoryFiles.isDefined) &&
      corpus.storageLevel == StorageLevel.NONE
    val cached = if (owned) corpus.persist(StorageLevel.MEMORY_AND_DISK) else corpus
    try {
      val parents = ParentStacks.resolvers(cached, js.map(_.directoryFiles))
      // a row's content is read before the scan moves to the next row,
      // which may reuse the row object
      val files = cached.filter(col("path").isNotNull).select(col("path"), col("content"))
        .queryExecution.toRdd
        .mapPartitions(_.map(r => (r.getUTF8String(0).toString, () => r.getBinary(1))))
      pass(spark, files, js, parents)
    } finally if (owned) { cached.unpersist(); () }
  }

  /** [[run]] over the tree at `root`, read without a DataFrame: one
    * [[Corpus.walk]] lists the folders some job's filter or directory-file
    * filter could match (`listed` sees each), the directory files among
    * the files it finds are read on the driver, and the files are split
    * by [[Corpus.groups]]; each task of the pass opens its group's files
    * itself. One Spark job unless the walk meets a wide folder, no
    * persist. */
  def runOnDirectory(spark: SparkSession, root: String, jobs: Seq[CorpusJob],
      listed: String => Unit = _ => ()): Map[String, Any] = {
    if (jobs.isEmpty) return Map.empty
    val js = jobs.toIndexedSeq
    val dirFilters = js.flatMap(_.directoryFiles).distinct
    val files = Corpus.walk(spark, root, MultiGlob(js.map(_.filter) ++ dirFilters), listed)
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val top = new Path(root)
    val dirRows = if (dirFilters.isEmpty) Nil else {
      val fs = top.getFileSystem(conf.value)
      val anyDir = MultiGlob(dirFilters)
      files.collect { case f if anyDir.matches(f.path) => (f.path, Corpus.bytes(fs, f.location)) }
    }
    val groups = Corpus.groups(spark, files)
    val input = spark.sparkContext.parallelize(groups, groups.size.max(1)).mapPartitions { it =>
      val fs = top.getFileSystem(conf.value)
      it.flatten.map(f => (f.path, () => Corpus.bytes(fs, f.location)))
    }
    pass(spark, input, js, ParentStacks.stacks(dirRows, js.map(_.directoryFiles)))
  }

  /** The one Spark job: every job folded over `files`, each task's
    * (path, content reader) pairs, partials merged and finished on the
    * driver. */
  private def pass(spark: SparkSession, files: RDD[(String, () => Array[Byte])],
      js: IndexedSeq[CorpusJob], parents: IndexedSeq[String => Seq[Array[Byte]]])
      : Map[String, Any] = {
    val sc = spark.sparkContext
    val nParts = files.getNumPartitions.max(1)
    val g = js.size.min((sc.defaultParallelism + nParts - 1) / nParts)
    val copies = (0 until g).map { c =>
      val mine = js.indices.filter(_ % g == c)
      files.mapPartitions(it => Iterator.single(foldPartition(it, js, mine, parents)))
    }
    val partials = if (g == 1) copies.head else sc.union(copies)
    val add = (acc: Array[Any], part: Array[(Int, Any)]) => {
      part.foreach { case (i, p) => acc(i) = js(i).mergeAny(acc(i), p) }
      acc
    }
    val zeros = js.map(j => j.zero: Any).toArray
    val saved = GroupProps.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(s"graft-mr-${java.util.UUID.randomUUID()}",
      s"graft mr job pass[${js.size}]", interruptOnCancel = true)
    val result =
      try partials.collect().foldLeft(zeros)(add)
      finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    js.indices.foreach(i => js(i).finishAny(result(i)))
    js.map(_.name).zip(result).toMap
  }

  /** One task: each file of the partition once, through every job in
    * `mine`; returns (job index, partial) for those jobs. */
  private def foldPartition(files: Iterator[(String, () => Array[Byte])],
      jobs: IndexedSeq[CorpusJob], mine: Seq[Int],
      parents: IndexedSeq[String => Seq[Array[Byte]]]): Array[(Int, Any)] = {
    val folders = mine.map(i => (i, jobs(i).filter, parents(i), jobs(i).folder())).toArray
    files.foreach { case (path, read) =>
      lazy val content = read() // read once, only if a job wants it
      folders.foreach { case (_, filter, parentsFor, f) =>
        if (filter.matches(path)) f.add(path, parentsFor(path), content)
      }
    }
    folders.map { case (i, _, _, f) => (i, f.result(): Any) }
  }
}
