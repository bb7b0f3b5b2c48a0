package graft.sources

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}

/** Loader hooks over a corpus DataFrame — the reference's pluggable
  * `LoaderFunc` ("consolidate the cost of dealing with structured
  * data", filesystem.go:10-12) as declarative column transforms.
  *
  * Where the reference runs one Go closure per file and shares the
  * parsed value across jobs, here the parse is a Catalyst expression
  * over the corpus frame, and `MapReduceRunner`'s one pass hands each
  * row to every job — same parse-once-share-many economics, but
  * codegen'd and spillable.
  */
object Loaders {

  /** Bytes → UTF-8 text column. */
  def text(corpus: DataFrame): DataFrame =
    corpus.withColumn("text", col("content").cast(StringType))

  /** Bytes → parsed JSON struct under `json` (schema explicit —
    * downstream of ingest the engine is always schema-first). */
  def json(corpus: DataFrame, schema: DataType): DataFrame =
    text(corpus).withColumn("json", from_json(col("text"), schema))

  /** Bytes → one row per line with a 1-based line number (the
    * record-splitting loader shape: one file, many records). */
  def lines(corpus: DataFrame): DataFrame =
    text(corpus)
      .select(col("path"), col("dir"), col("depth"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .withColumn("line_no", (col("pos") + 1).cast("long"))
      .drop("pos")
}
