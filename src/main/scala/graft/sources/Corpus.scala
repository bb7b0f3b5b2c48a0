package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** File-corpus ingestion: the reference's `FileSystem` abstraction
  * (interfaces.go:89-94), as a DataFrame source and as a walk.
  *
  * [[read]] gives one row per file with schema
  * `(path string, dir string, depth int, length long, content binary)`;
  * `path` is root-relative and '/'-separated. Backed by Spark's
  * `binaryFile` source with `recursiveFileLookup` (Spark's
  * InMemoryFileIndex lists in parallel across executors).
  *
  * [[walk]] is the reference's traversal (mapreduce.go:142-205) for
  * `MapReduceRunner.runOnDirectory`: recursive `FileSystem.listStatus`
  * that enters only the folders a predicate could match (the
  * reference's CouldMatch prune, work.go:29-37,68-99). Its caller opens
  * the files it returns with [[bytes]] and splits them with [[groups]].
  *
  * Split sizing: Spark packs a file scan by charging every file
  * `spark.sql.files.openCostInBytes` (4 MB), so a tree of ~300-byte
  * files reads as one partition per ~32 files and every pass over it
  * runs that many tasks. When the listed bytes are below
  * `defaultParallelism × spark.sql.files.maxPartitionBytes` the scan is
  * coalesced to `defaultParallelism` partitions (one per core); a larger
  * tree keeps Spark's packing. The bytes come from the listing the read
  * already holds, so sizing launches no job. [[groups]] uses the same
  * bound.
  *
  * Known divergence from the reference's raw directory walk: both paths
  * skip what Spark's file index skips ([[hidden]]) — basenames starting
  * with `_` or `.` (the `_SUCCESS`/`.crc` convention) and empty files
  * never reach a job, whatever the predicate says. Corpora must not
  * rely on such names carrying data (mr01 originally named its
  * directory files `_ctx.txt` and saw an empty corpus).
  */
object Corpus {

  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("dir", StringType, nullable = false),
    StructField("depth", IntegerType, nullable = false),
    StructField("length", LongType, nullable = false),
    StructField("content", BinaryType, nullable = true)))

  /** Read a directory tree rooted at `root` as a corpus DataFrame. */
  def read(spark: SparkSession, root: String): DataFrame =
    withDerivedColumns(
      sized(spark.read.format("binaryFile").option("recursiveFileLookup", "true").load(root))
        .select(
          regexp_replace(col("path"), java.util.regex.Pattern.quote(rootUri(root) + "/"), "")
            .as("path"),
          col("length"), col("content")))

  /** `scan` coalesced to one partition per core when its listed bytes
    * are [[perCore]], else `scan` itself. */
  private def sized(scan: DataFrame): DataFrame = {
    val spark = scan.sparkSession
    if (perCore(spark, scan.queryExecution.analyzed.stats.sizeInBytes))
      scan.coalesce(spark.sparkContext.defaultParallelism)
    else scan
  }

  /** Whether `bytes` of files read as one split per core: they fit in
    * `defaultParallelism` splits of `spark.sql.files.maxPartitionBytes`. */
  private def perCore(spark: SparkSession, bytes: BigInt): Boolean =
    bytes < BigInt(spark.sparkContext.defaultParallelism) *
      spark.sessionState.conf.filesMaxPartitionBytes

  /** One file [[walk]] found: its root-relative path, as [[read]]'s
    * `path` column spells it, its location and its length. */
  final case class File(path: String, location: Path, length: Long)

  /** The files below `root` in the folders `want` could match, found by
    * one walk. A folder is listed only when `want.couldMatch` it, so a
    * subtree no match can lie in is never listed; `listed` sees each
    * folder listed, root-relative ('' is the root).
    *
    * The walk goes level by level on the driver. A folder with more
    * subfolders to enter than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` has them
    * walked by a Spark job instead, with the same prune, as
    * InMemoryFileIndex lists such a folder; one job takes every such
    * folder of the walk. */
  def walk(spark: SparkSession, root: String, want: PathPredicate,
      listed: String => Unit = _ => ()): Seq[File] = {
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val sql = spark.sessionState.conf
    val top = new Path(root)
    val (folders, files, wide) = descend(top.getFileSystem(conf.value), want,
      Seq("" -> top), sql.parallelPartitionDiscoveryThreshold)
    val below = if (wide.isEmpty) Nil else spark.sparkContext
      .parallelize(wide, wide.size.min(sql.parallelPartitionDiscoveryParallelism))
      .mapPartitions { dirs =>
        val (f, fs, _) = descend(top.getFileSystem(conf.value), want, dirs.toSeq, Int.MaxValue)
        Iterator.single((f, fs))
      }.collect().toSeq
    (folders ++ below.flatMap(_._1)).foreach(listed)
    files ++ below.flatMap(_._2)
  }

  /** Lists `level` and then each level of folders below it that `want`
    * could match: returns the folders listed, the files in them and the
    * subfolders of every folder that had more than `threshold` of them to
    * enter, left unlisted. */
  private def descend(fs: FileSystem, want: PathPredicate, level: Seq[(String, Path)],
      threshold: Int): (Seq[String], Seq[File], Seq[(String, Path)]) = {
    val folders = Seq.newBuilder[String]
    val files = Seq.newBuilder[File]
    val wide = Seq.newBuilder[(String, Path)]
    var next = level
    while (next.nonEmpty) {
      next = next.flatMap { case (rel, dir) =>
        folders += rel
        val (subs, leaves) = fs.listStatus(dir).toSeq
          .filterNot(s => hidden(s.getPath.getName)).partition(_.isDirectory)
        def relOf(s: FileStatus) =
          if (rel.isEmpty) s.getPath.getName else s"$rel/${s.getPath.getName}"
        // a scan reads no empty file and no `_metadata*` file either
        // (Spark's PartitioningAwareFileIndex.isNonEmptyFile)
        files ++= leaves.filter(s => s.getLen > 0 && !underscored(s.getPath.getName))
          .map(s => File(relOf(s), s.getPath, s.getLen))
        val enter = subs.map(s => relOf(s) -> s.getPath).filter { case (r, _) => want.couldMatch(r) }
        if (enter.size > threshold) { wide ++= enter; Nil } else enter
      }
    }
    (folders.result(), files.result(), wide.result())
  }

  /** Names Spark's file index does not list, folders and files alike; a
    * copy of Spark's `HadoopFSUtils.shouldFilterOutPathName`, which is
    * private to Spark. */
  private def hidden(name: String): Boolean = {
    val exclude = underscored(name) || name.startsWith(".") || name.endsWith("._COPYING_")
    val include = name.startsWith("_common_metadata") || name.startsWith("_metadata")
    exclude && !include
  }

  private def underscored(name: String): Boolean =
    name.startsWith("_") && !name.contains("=")

  /** `files` in byte-balanced groups, one per task: one group per core
    * when their bytes are [[perCore]], else groups of about
    * `maxPartitionBytes`. In path order, each file joins the group its
    * first byte falls in, so one listing always gives the same groups;
    * empty groups are dropped. */
  def groups(spark: SparkSession, files: Seq[File]): Seq[Seq[File]] = {
    val sorted = files.sortBy(_.path)
    val starts = sorted.scanLeft(0L)(_ + _.length)
    val total = starts.last
    val max = spark.sessionState.conf.filesMaxPartitionBytes
    val n = if (perCore(spark, total)) spark.sparkContext.defaultParallelism
      else ((total + max - 1) / max).toInt
    sorted.zip(starts).groupBy { case (_, s) => (s.toDouble / total * n).toInt }
      .toSeq.sortBy(_._1).map(_._2.map(_._1))
  }

  /** The bytes of one file. */
  def bytes(fs: FileSystem, file: Path): Array[Byte] = {
    val in = fs.open(file)
    try in.readAllBytes() finally in.close()
  }

  private def rootUri(root: String): String =
    "file:" + new java.io.File(root).getAbsolutePath

  /** In-memory corpus (the reference's StaticVirtualFileSystem,
    * virtualFileSystem.go:9-42) — for tests and small synthetic trees. */
  def fromRecords(spark: SparkSession, files: Seq[(String, Array[Byte])]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = files.map { case (p, c) =>
      org.apache.spark.sql.Row(p, c.length.toLong, c)
    }.asJava
    val base = spark.createDataFrame(rows, StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("length", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true))))
    withDerivedColumns(base)
  }

  /** dir = parent folder ('' at root), depth = number of ancestors. */
  private def withDerivedColumns(df: DataFrame): DataFrame = df.select(
    col("path"),
    when(col("path").contains("/"),
      regexp_replace(col("path"), "/[^/]*$", "")).otherwise(lit("")).as("dir"),
    (size(split(col("path"), "/")) - 1).as("depth"),
    col("length"), col("content"))
}
