package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-corpus ingestion: the reference's `FileSystem` abstraction
  * (interfaces.go:89-94) re-expressed as a DataFrame source.
  *
  * One row per file with schema
  * `(path string, dir string, depth int, length long, content binary)`;
  * `path` is root-relative and '/'-separated. Backed by Spark's
  * `binaryFile` source with `recursiveFileLookup` (the distributed
  * analog of the reference's single-threaded DFS traversal,
  * mapreduce.go:142-205 — Spark's InMemoryFileIndex lists in parallel
  * across executors).
  *
  * Scan pruning: a [[PathGlob]] is translated to the source's
  * `pathGlobFilter` when it is a simple one-segment suffix pattern, and
  * always re-checked post-scan, mirroring the reference's
  * CouldMatch-prune + Match-confirm split (work.go:19-37).
  *
  * Split sizing: Spark packs a file scan by charging every file
  * `spark.sql.files.openCostInBytes` (4 MB), so a tree of ~300-byte
  * files reads as one partition per ~32 files and every pass over it
  * runs that many tasks. When the listed bytes are below
  * `defaultParallelism × spark.sql.files.maxPartitionBytes` the scan is
  * coalesced to `defaultParallelism` partitions (one per core); a larger
  * tree keeps Spark's packing. The bytes come from the listing the read
  * already holds, so sizing launches no job.
  *
  * Known divergence from the reference's raw directory walk: Hadoop's
  * listing applies its hidden-file filter — basenames starting with
  * `_` or `.` (the `_SUCCESS`/`.crc` convention) never reach the
  * DataFrame, whatever the predicate says. Corpora must not rely on
  * such names carrying data (mr01 originally named its directory
  * files `_ctx.txt` and saw an empty corpus).
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
    readFiltered(spark, root, None)

  /** Read with a path predicate. Two listing-time prunes, both always
    * re-checked by the exact predicate post-scan (the reference's
    * CouldMatch-prune / Match-confirm split, work.go:19-37):
    *
    *  1. Subtree restriction: the predicate's longest static directory
    *     prefix moves INTO the load root (`a/b/«**»/«*».txt` lists only
    *     `root/a/b`, never a sibling subtree) — the distributed analog
    *     of the reference's traversal skipping subtrees no filter
    *     could match (work.go:68-99, jobs.go:35-43). At 100 TB trees
    *     listing is the dominant cost; a glob rooted in one shard must
    *     not pay for the whole corpus.
    *  2. Basename pushdown: a remaining glob whose directory part is
    *     all globstars pushes its basename into the source's
    *     `pathGlobFilter` (files dropped during listing).
    */
  def readFiltered(spark: SparkSession, root: String,
      predicate: Option[PathPredicate]): DataFrame = {
    val prefix = predicate.map(_.staticPrefix).getOrElse(Nil)
    val loadRoot = (root +: prefix).mkString("/")
    // a restricted root may simply not exist — that's "no matches",
    // not an error (the reference's traversal just never finds it)
    if (prefix.nonEmpty && !new java.io.File(loadRoot).isDirectory)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val reader = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
    // A basename is only pushable if it's safe under BOTH glob
    // dialects: Hadoop's pathGlobFilter treats ? [ ] { } as
    // metacharacters that PathGlob treats literally, so pushing such a
    // pattern could silently prune files the predicate matches (or
    // throw at listing time). '*' is the only shared metachar.
    def hadoopSafe(seg: String): Boolean =
      seg.forall(c => c == '*' || c.isLetterOrDigit || "._-".contains(c))
    val pushed = predicate match {
      case Some(PathGlob(p)) =>
        // the static prefix is already consumed by the load root;
        // pushability is judged on what remains
        val segs = p.split("/", -1).drop(prefix.length)
        // pushable iff every directory segment is a globstar (any depth)
        if (segs.length == 1 && hadoopSafe(segs.head))
          reader.option("pathGlobFilter", segs.head)
        else if (segs.init.forall(_ == "**") && hadoopSafe(segs.last))
          reader.option("pathGlobFilter", segs.last)
        else reader
      case _ => reader
    }
    val base = withDerivedColumns(
      sized(pushed.load(loadRoot)).select(
        regexp_replace(col("path"), java.util.regex.Pattern.quote(rootUri(root) + "/"), "")
          .as("path"),
        col("length"), col("content")))
    predicate match {
      // a Column predicate over `path` alone (not a row lambda): the
      // exact re-check must not force whole-row deserialization —
      // content bytes stay columnar until a row has matched
      case Some(pred) =>
        val matchesPath = udf((p: String) => pred.matches(p))
        base.filter(matchesPath(col("path")))
      case None => base
    }
  }

  /** `scan` coalesced to one partition per core when its listed bytes
    * fit in `defaultParallelism` splits of `maxPartitionBytes`, else
    * `scan` itself. */
  private def sized(scan: DataFrame): DataFrame = {
    val spark = scan.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val bytes = scan.queryExecution.analyzed.stats.sizeInBytes
    if (bytes < BigInt(cores) * spark.sessionState.conf.filesMaxPartitionBytes)
      scan.coalesce(cores)
    else scan
  }

  /** The files of a corpus [[read]] returned for `root`, from the listing
    * the read already holds (no job, no second listing): each file's
    * root-relative path, as the `path` column spells it, with its Hadoop
    * path. */
  def listing(corpus: DataFrame, root: String): Seq[(String, Path)] = {
    val prefix = rootUri(root) + "/"
    // inputFiles are URI strings (a space reads `%20`); the `path` column
    // holds the decoded Hadoop path string, which `Path.toString` gives
    corpus.inputFiles.toSeq.map { f =>
      val p = new Path(new java.net.URI(f))
      (p.toString.stripPrefix(prefix), p)
    }
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
