package perfbench

import graft.mr.{CorpusJob, MapReduceJob}
import graft.sources.{PathGlob, PathPredicate}
import org.apache.spark.sql.{Encoders, SparkSession}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** The file tree and the K jobs of `mr_shared_traversal`.
  *
  * The tree holds every row of `documents.parquet` as
  * `<lang>/<source>/doc_<id>.txt`, plus `ctx.txt` directory files at the
  * root, each lang and each lang/source folder. The seed picks the write
  * order and every job parameter.
  *
  * Each job is described by a [[JobSpec]] whose fields say, in terms of
  * the table's columns, which documents it reads and what it computes. The
  * result check recomputes each job from `documents.parquet` with those
  * fields alone, never from the path globs built here. */
final case class JobSpec(name: String, kind: String, lang: String = "",
    source: String = "", word: String = "", digit: String = "",
    digitAt: String = "", langOrSource: Boolean = false)

final case class Doc(id: Long, lang: String, source: String, text: String)

object MrJobs {
  def readDocs(spark: SparkSession, sfDir: String): Seq[Doc] =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "source", "text").collect().toSeq
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))

  /** Writes the tree under `root`; returns the number of files written. */
  def writeTree(root: Path, docs: Seq[Doc], rng: scala.util.Random): Int = {
    def put(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes(UTF_8)); ()
    }
    val ctx = Seq("ctx.txt" -> "root") ++
      docs.map(_.lang).distinct.map(l => s"$l/ctx.txt" -> s"lang=$l") ++
      docs.map(d => (d.lang, d.source)).distinct.map { case (l, s) => s"$l/$s/ctx.txt" -> s"src=$s" }
    val files = ctx ++ docs.map(d => s"${d.lang}/${d.source}/doc_${d.id}.txt" -> d.text)
    rng.shuffle(files).foreach { case (p, c) => put(p, c) }
    files.size
  }

  /** The K = 16 jobs of one op. */
  def specs(docs: Seq[Doc], rng: scala.util.Random): Seq[JobSpec] = {
    val langs = docs.map(_.lang).distinct.sorted
    val sources = docs.map(_.source).distinct.sorted
    val words = docs.flatMap(_.text.split(' ')).filter(_.nonEmpty).distinct.sorted
    val Seq(l1, l2) = rng.shuffle(langs).take(2)
    val Seq(s1, s2) = rng.shuffle(sources).take(2)
    val Seq(w1, w2) = rng.shuffle(words).take(2)
    val d = rng.nextInt(10).toString
    Seq(
      // trivial byte counts: traversal dominates
      JobSpec("bytes_all", "bytes"),
      JobSpec("files_all", "files"),
      JobSpec(s"bytes_lang_$l1", "bytes", lang = l1),
      JobSpec(s"bytes_src_$s1", "bytes", source = s1),
      // parse-heavy word counts
      JobSpec("tokens_all", "tokens"),
      JobSpec(s"word_$w1", "word", word = w1),
      JobSpec(s"word_${w2}_$l2", "word", word = w2, lang = l2),
      JobSpec("vocab_all", "vocab"),
      // PathGlob-filtered subsets
      JobSpec(s"docs_id_prefix_$d", "docs", digit = d, digitAt = "prefix"),
      JobSpec(s"tokens_id_suffix_$d", "tokens", digit = d, digitAt = "suffix"),
      JobSpec(s"docs_${l1}_or_$s2", "docs", lang = l1, source = s2, langOrSource = true),
      JobSpec(s"vocab_src_$s2", "vocab", source = s2),
      // directoryFiles hierarchy context
      JobSpec("ctx_chain", "ctx_chain"),
      JobSpec(s"ctx_lang_bytes_$l2", "ctx_lang_bytes", lang = l2),
      // sortKey: the fold keeps the last (or first) id it sees, which is
      // the partition's max (or min) only if the partition is sorted
      JobSpec(s"max_id_sorted_$s1", "max_id", source = s1),
      JobSpec(s"min_id_sorted_$l2", "min_id", lang = l2))
  }

  private def glob(s: JobSpec): PathPredicate = {
    val file = s.digitAt match {
      case "prefix" => s"doc_${s.digit}*.txt"
      case "suffix" => s"doc_*${s.digit}.txt"
      case _ => "doc_*.txt"
    }
    val lang = if (s.lang.isEmpty) "*" else s.lang
    val src = if (s.source.isEmpty) "*" else s.source
    if (s.langOrSource) PathGlob(s"$lang/*/$file").or(PathGlob(s"*/$src/$file"))
    else PathGlob(s"$lang/$src/$file")
  }

  private def tokens(c: Array[Byte]): Iterator[String] =
    new String(c, UTF_8).split(' ').iterator.filter(_.nonEmpty)

  private def idOf(path: String): Long =
    path.substring(path.lastIndexOf("doc_") + 4, path.length - 4).toLong

  private def plus(a: Long, b: Long) = a + b
  private def mergeCounts(a: Map[String, Long], b: Map[String, Long]) =
    b.foldLeft(a) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0L) + v) }

  def job(s: JobSpec): CorpusJob = {
    implicit val longEnc = Encoders.scalaLong
    implicit val strEnc = Encoders.STRING
    val g = glob(s)
    val w = s.word
    s.kind match {
      case "bytes" => MapReduceJob[Long, Long](s.name, g,
        (_, _, c) => Iterator.single(c.length.toLong), 0L, plus, plus)
      case "files" => MapReduceJob[Long, Long](s.name, PathGlob("**"),
        (_, _, _) => Iterator.single(1L), 0L, plus, plus)
      case "tokens" => MapReduceJob[Long, Long](s.name, g,
        (_, _, c) => Iterator.single(tokens(c).size.toLong), 0L, plus, plus)
      case "word" => MapReduceJob[Long, Long](s.name, g,
        (_, _, c) => Iterator.single(tokens(c).count(_ == w).toLong), 0L, plus, plus)
      case "vocab" => MapReduceJob[String, Map[String, Long]](s.name, g,
        (_, _, c) => tokens(c), Map.empty,
        (m, t) => m.updated(t, m.getOrElse(t, 0L) + 1L), mergeCounts)
      case "docs" => MapReduceJob[Long, (Long, Long)](s.name, g,
        (_, _, c) => Iterator.single(c.length.toLong), (0L, 0L),
        (a, b) => (a._1 + 1L, a._2 + b), (a, b) => (a._1 + b._1, a._2 + b._2))
      case "ctx_chain" => MapReduceJob[String, Map[String, Long]](s.name, g,
        (_, ps, _) => Iterator.single(ps.map(new String(_, UTF_8)).mkString("|")), Map.empty,
        (m, t) => m.updated(t, m.getOrElse(t, 0L) + 1L), mergeCounts,
        directoryFiles = Some(PathGlob("**/ctx.txt")))
      case "ctx_lang_bytes" => MapReduceJob[Long, Long](s.name, g,
        (_, ps, _) => Iterator.single(ps.map(_.length.toLong).sum), 0L, plus, plus,
        directoryFiles = Some(PathGlob("*/ctx.txt")))
      case "max_id" => MapReduceJob[Long, Long](s.name, g,
        (p, _, _) => Iterator.single(idOf(p)), -1L, (_, id) => id, math.max,
        sortKey = Some((id: Long) => id))
      case "min_id" => MapReduceJob[Long, Long](s.name, g,
        (p, _, _) => Iterator.single(idOf(p)), -1L, (acc, id) => if (acc < 0) id else acc,
        (a, b) => if (a < 0) b else if (b < 0) a else math.min(a, b),
        sortKey = Some((id: Long) => id))
    }
  }

  /** Order-independent text form of a job result, the same form the
    * result check writes for its recomputed value. */
  def canon(r: Any): String = r match {
    case m: Map[_, _] => m.toSeq.map { case (k, v) => s"$k=$v" }.sorted.mkString(";")
    case (a, b) => s"$a,$b"
    case x => x.toString
  }
}
