package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import graft.GraftQuery
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A full DataSource V2 connector — the Spark-idiomatic analog of the
  * reference engine's pluggable input stage (its Opener/Loader pair,
  * reference `interfaces.go:17-42`): the engine asks the source for
  * partitions and per-partition readers, and pushes work INTO it.
  *
  * The table is a deterministic arithmetic generator, which makes
  * every connector feature checkable end to end:
  *  - **partition planning**: [0, rows) splits into `parts` contiguous
  *    ranges, each read by an independent `PartitionReader` — the
  *    parallel-scan contract a 1000-executor cluster relies on;
  *  - **filter pushdown** (`SupportsPushDownFilters`): range
  *    predicates on `id` narrow the generated interval AT PLANNING
  *    TIME, so partitions outside the band are never created (the
  *    connector-side equivalent of parquet row-group pruning; pinned
  *    in SynthSourceSpec by partition count);
  *  - **column pruning** (`SupportsPushDownRequiredColumns`): readers
  *    materialize only requested fields;
  *  - **aggregate pushdown** (`SupportsPushDownAggregates`): group-by-
  *    less COUNT/MIN/MAX served as closed-form per-partition partials,
  *    zero data rows generated (sy02);
  *  - **runtime filtering** (`SupportsRuntimeFiltering`): a join's
  *    build-side key set, materialized at execution time, narrows the
  *    band before partitions are planned — dynamic pruning INTO the
  *    connector, the lake-format scan contract;
  *  - and the row formula is plain 64-bit arithmetic, so the DuckDB
  *    oracle reproduces the whole table from `range()` and sy01 gets a
  *    full hash check, custom connector and all.
  */
class SynthSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SynthSource.SCHEMA
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new SynthTable(
      properties.getOrDefault("rows", "1000").toLong,
      properties.getOrDefault("parts", "8").toInt,
      properties.getOrDefault("batchRows",
        SynthSource.DEFAULT_BATCH_ROWS.toString).toLong,
      properties.getOrDefault("layout", "range"))
}

object SynthSource {
  /** Single source of truth for the per-micro-batch admission cap —
    * previously duplicated as a literal in three signatures, which
    * could silently drift apart. */
  val DEFAULT_BATCH_ROWS = 250L

  val SCHEMA: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("grp", LongType, nullable = false),
    StructField("val", LongType, nullable = false),
    StructField("label", StringType, nullable = false)))

  /** Observability hook for SynthSourceSpec: counts runtime-filter
    * deliveries (join-time dynamic pruning reaching the connector). */
  val runtimeFilterApplications = new java.util.concurrent.atomic.AtomicLong

  /** Knuth multiplicative mix mod a prime — overflow-free for any id
    * a test will use, and identical in DuckDB BIGINT arithmetic. */
  def valOf(id: Long): Long = (id * 2654435761L) % 1000003L
  def grpOf(id: Long): Long = id % 97L
  val SQL_VAL = "(id * 2654435761) % 1000003"
  val SQL_GRP = "id % 97"
}

final class SynthTable(rows: Long, parts: Int, batchRows: Long,
    layout: String = "range")
    extends Table with SupportsRead {
  override def name: String = s"graft_synth($rows rows, $parts parts)"
  override def schema: StructType = SynthSource.SCHEMA
  override def capabilities: java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SynthScanBuilder(rows, parts, batchRows, layout)
}

final class SynthScanBuilder(rows: Long, parts: Int,
    batchRows: Long = SynthSource.DEFAULT_BATCH_ROWS,
    layout: String = "range")
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  private var lo = 0L
  private var hi = rows
  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = SynthSource.SCHEMA
  private var pushedAggs: Array[AggregateFunc] = Array.empty

  /** Accept range predicates on `id` by narrowing [lo, hi); everything
    * else stays a post-scan filter. The narrowing is EXACT for every
    * accepted shape (contiguous id band over a dense generator), so
    * accepted filters are fully consumed — returning no residual is
    * what lets Catalyst push a following aggregation down too (it only
    * pushes aggregates when no post-scan filter remains). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.flatMap {
      // saturating bounds arithmetic: v = Long.MaxValue must not wrap
      // v+1 to Long.MinValue (an empty scan — a WRONG result, since
      // accepted filters are fully consumed with no residual re-check)
      case f @ GreaterThanOrEqual("id", v: Long) => lo = math.max(lo, v); Some(f)
      case f @ GreaterThan("id", v: Long) =>
        if (v != Long.MaxValue) lo = math.max(lo, v + 1) else lo = hi; Some(f)
      case f @ LessThan("id", v: Long) => hi = math.min(hi, v); Some(f)
      case f @ LessThanOrEqual("id", v: Long) =>
        if (v != Long.MaxValue) hi = math.min(hi, v + 1); Some(f)
      case f @ EqualTo("id", v: Long) =>
        lo = math.max(lo, v)
        if (v != Long.MaxValue) hi = math.min(hi, v + 1)
        Some(f)
      case f @ IsNotNull("id") => Some(f) // nothing is null here
      case _ => None
    }
    filters.filterNot(accepted.contains)
  }
  override def pushedFilters(): Array[Filter] = accepted
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Aggregate pushdown (the DSv2 feature a warehouse-grade connector
    * ships): group-by-less COUNT(star or id) / MIN(id) / MAX(id) over
    * a dense id band have CLOSED FORMS per partition — count = width,
    * min = start, max = end−1 — so the pushed scan emits ONE partial
    * row per surviving partition and generates NO data rows at all.
    * Partial pushdown contract (supportCompletePushDown stays false):
    * Spark's final aggregation merges the per-partition partials, so
    * correctness is partition-count-independent. Anything else (sums
    * of the mixed `val`, group-bys) is declined and planned normally. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    def isId(e: org.apache.spark.sql.connector.expressions.Expression) =
      e match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference =>
          r.fieldNames.sameElements(Array("id"))
        case _ => false
      }
    val ok = aggregation.groupByExpressions.isEmpty &&
      aggregation.aggregateExpressions.nonEmpty &&
      aggregation.aggregateExpressions.forall {
        case _: CountStar => true
        case c: Count => !c.isDistinct && isId(c.column)
        case m: Min => isId(m.column)
        case m: Max => isId(m.column)
        case _ => false
      }
    if (ok && layout != "grp") pushedAggs = aggregation.aggregateExpressions
    ok && layout != "grp"
  }

  override def build(): Scan =
    if (pushedAggs.nonEmpty)
      new SynthAggScan(rows, lo, math.max(lo, hi), parts, pushedAggs)
    else if (layout == "grp")
      new SynthGroupedScan(rows, lo, math.max(lo, hi), required)
    else new SynthScan(rows, lo, math.max(lo, hi), parts, required, batchRows)
}

/** KEY-GROUPED layout (`option("layout", "grp")`): one input partition
  * per grp value, each declaring its key through [[HasPartitionKey]],
  * and the scan reporting `KeyGroupedPartitioning(identity(grp), 97)`
  * — the DSv2 contract behind STORAGE-PARTITIONED JOINS (SPARK-37166):
  * with `spark.sql.sources.v2.bucketing.enabled`, Catalyst recognizes
  * two such scans as co-partitioned and plans grp-keyed aggregations
  * and joins with ZERO shuffle Exchanges — q48's zero-Exchange layout
  * argument, but delivered by a CUSTOM connector's metadata instead of
  * a warehouse catalog. Filter pushdown composes: the [lo, hi) band
  * narrows each key's stride, never the key set (the partitioning
  * metadata must stay stable or Spark's co-partition check would be
  * wrong to trust it). */
final class SynthGroupedScan(rows: Long, lo: Long, hi: Long,
    required: StructType) extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  private val G = 97
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description: String =
    s"graft-synth grp-keyed [$lo, $hi) $G key-partitions"
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      Array(Expressions.identity("grp")), G)
  override def planInputPartitions(): Array[InputPartition] =
    (0L until G.toLong).map(g => SynthGrpPartition(g, lo, hi))
      .toArray[InputPartition]
  override def createReaderFactory(): PartitionReaderFactory =
    new SynthGrpReaderFactory(required.fieldNames)
}

final case class SynthGrpPartition(g: Long, lo: Long, hi: Long)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(g)
}

/** Strided reader: partition g emits exactly the ids ≡ g (mod 97)
  * inside [lo, hi) — same generator semantics, key-clustered layout. */
final class SynthGrpReaderFactory(cols: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val SynthGrpPartition(g, lo, hi) = partition
    new PartitionReader[InternalRow] {
      // first id >= lo with id % 97 == g, then stride by 97
      private var cur = lo + ((g - lo % 97 + 97) % 97) - 97
      override def next(): Boolean = { cur += 97; cur < hi }
      override def get(): InternalRow = {
        val values: Array[Any] = cols.map {
          case "id" => cur
          case "grp" => SynthSource.grpOf(cur)
          case "val" => SynthSource.valOf(cur)
          case "label" => UTF8String.fromString("g" + SynthSource.grpOf(cur))
        }
        InternalRow.fromSeq(values.toSeq)
      }
      override def close(): Unit = ()
    }
  }
}

/** Scan serving a pushed group-by-less aggregation: same fixed-width
  * partition grid as [[SynthScan]] (filter pruning composes), but each
  * partition reader emits exactly one closed-form partial row. */
final class SynthAggScan(rows: Long, lo: Long, hi: Long, parts: Int,
    aggs: Array[AggregateFunc]) extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(aggs.zipWithIndex.map { case (f, i) =>
      StructField(s"agg_$i", LongType, nullable = false)
    })
  override def toBatch: Batch = this
  override def description: String =
    s"graft-synth-agg [$lo, $hi) pushed=[${aggs.map(_.toString).mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] = {
    if (hi <= lo) Array.empty
    else {
      val width = math.max(1L, (rows + parts - 1) / parts)
      (0L until rows by width).iterator
        .map(s => SynthPartition(math.max(s, lo), math.min(s + width, hi)))
        .filter(p => p.end > p.start).toArray[InputPartition]
    }
  }
  override def createReaderFactory(): PartitionReaderFactory = {
    val fns = aggs // serializable closure capture
    new PartitionReaderFactory {
      override def createReader(
          partition: InputPartition): PartitionReader[InternalRow] = {
        val SynthPartition(start, end) = partition
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean =
            if (emitted) false else { emitted = true; true }
          override def get(): InternalRow =
            InternalRow.fromSeq(fns.toIndexedSeq.map {
              case _: CountStar => end - start
              case _: Count => end - start // id is never null
              case _: Min => start
              case _: Max => end - 1
              case f => throw new IllegalStateException(s"unpushable $f")
            })
          override def close(): Unit = ()
        }
      }
    }
  }
}

final case class SynthPartition(start: Long, end: Long) extends InputPartition

/** Stream offset = count of ids emitted so far; JSON round-trips
  * through the checkpoint log, which is what makes restart exact. */
final case class SynthOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** The DSv2 STREAMING source contract, same surface Spark's kafka/rate
  * sources implement: [[MicroBatchStream]] plans each batch as
  * [start, end) offset ranges; [[SupportsAdmissionControl]] caps a
  * batch at `batchRows` ids (the maxOffsetsPerTrigger idiom), so a
  * backlog drains in bounded steps instead of one giant batch; and
  * [[SupportsTriggerAvailableNow]] lets Trigger.AvailableNow snapshot
  * the bounded backlog and stop when it's drained. Offsets persist in
  * the checkpoint log as JSON — a restarted query resumes from the
  * committed offset and re-emits NOTHING (pinned in SynthSourceSpec).
  * Partitions reuse the batch grid and reader, so the streamed rows
  * are bit-identical to the batch scan's. */
final class SynthMicroBatchStream(rows: Long, lo: Long, hi: Long, parts: Int,
    batchRows: Long, required: StructType) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  // the statically-pushed id band [lo, hi): the stream replays ONLY
  // this band, so a filter-narrowed scan streams the same rows its
  // batch face would scan. Offset stays "id position", just starting
  // at lo instead of 0 — checkpoint restart semantics are unchanged.
  private val bandEnd = math.max(lo, math.min(rows, hi))
  override def initialOffset(): Offset = SynthOffset(lo)
  override def deserializeOffset(json: String): Offset = SynthOffset(json.toLong)
  override def prepareForTriggerAvailableNow(): Unit = ()
  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(batchRows)
  // admission-control sources get offsets through the 2-arg overload
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control path")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SynthOffset].v
    val cap = limit match {
      case mr: ReadMaxRows => math.min(bandEnd, s + mr.maxRows())
      case _ => bandEnd
    }
    SynthOffset(math.max(s, cap))
  }
  override def reportLatestOffset(): Offset = SynthOffset(bandEnd)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = math.max(start.asInstanceOf[SynthOffset].v, lo)
    val e = math.min(end.asInstanceOf[SynthOffset].v, bandEnd)
    if (e <= s) Array.empty
    else {
      // same fixed-width grid as the batch face, intersected with the
      // micro-batch's [s, e) slice of the band
      val width = math.max(1L, (rows + parts - 1) / parts)
      (0L until rows by width).iterator
        .map(x => SynthPartition(math.max(x, s), math.min(x + width, e)))
        .filter(p => p.end > p.start).toArray[InputPartition]
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new SynthReaderFactory(required.fieldNames)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final class SynthScan(rows: Long, lo: Long, hi: Long, parts: Int,
    required: StructType,
    batchRows: Long = SynthSource.DEFAULT_BATCH_ROWS) extends Scan with Batch
    with SupportsRuntimeFiltering {
  // runtime-narrowed band: starts at the statically-pushed [lo, hi)
  // and shrinks further when a join-time filter arrives (see below)
  @volatile private var rLo = lo
  @volatile private var rHi = hi
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  // executed-plan text reflects what was ACTUALLY scanned: when a
  // runtime filter narrowed the band after planning, the narrowed
  // range is appended (prefix kept stable — specs match on it)
  override def description: String = {
    val base = s"graft-synth [$lo, $hi) in <=$parts parts"
    if (rLo != lo || rHi != hi)
      s"$base runtime-narrowed to [$rLo, $rHi)"
    else base
  }

  /** Runtime filtering (dynamic pruning into the connector — what a
    * lake-format scan does when the dimension side of a join
    * materializes first): Spark hands the set of join keys actually
    * present on the build side; the generator narrows its band to the
    * keys' envelope BEFORE partitions are planned, so grid chunks that
    * can't match never become tasks. Conservative by construction —
    * the envelope over-approximates the IN-set, and Spark re-applies
    * the join predicate above the scan. */
  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("id"))
  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case In("id", vs) if vs.nonEmpty =>
      val longs = vs.collect { case v: java.lang.Long => v.longValue }
      if (longs.length == vs.length) {
        rLo = math.max(rLo, longs.min)
        rHi = math.min(rHi, longs.max + 1)
        SynthSource.runtimeFilterApplications.incrementAndGet(); ()
      }
    case _ => ()
  }

  /** Fixed-width chunks aligned on the ORIGINAL [0, rows) grid — like
    * a file source's fixed splits — each intersected with the pushed
    * band and dropped when the intersection is empty. A predicate
    * covering 1/parts of the id space therefore plans ONE partition
    * (pruning you can count), not `parts` slivers of a re-split band. */
  override def planInputPartitions(): Array[InputPartition] = {
    if (rHi <= rLo) Array.empty
    else {
      val width = math.max(1L, (rows + parts - 1) / parts)
      (0L until rows by width).iterator
        .map(s => SynthPartition(math.max(s, rLo), math.min(s + width, rHi)))
        .filter(p => p.end > p.start).toArray[InputPartition]
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new SynthReaderFactory(required.fieldNames)

  /** Streaming face of the same scan (TableCapability.MICRO_BATCH_READ):
    * the id space replays as a bounded stream of micro-batches. Column
    * pruning composes — `required` arrives through the same
    * ScanBuilder the batch path uses — and so does FILTER pushdown:
    * the statically-pushed [lo, hi) band carries into the stream
    * (offsets start at `lo`, cap at `hi`, partitions clamp to the
    * band). pushFilters reported accepted id-range filters as fully
    * consumed with no residual, so a narrowed scan that dropped the
    * band here would silently re-emit filtered-out rows the moment
    * Spark's micro-batch planner starts invoking pushdown. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SynthMicroBatchStream(rows, lo, hi, parts, batchRows, required)
}

final class SynthReaderFactory(cols: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val SynthPartition(start, end) = partition
    new PartitionReader[InternalRow] {
      private var cur = start - 1
      override def next(): Boolean = { cur += 1; cur < end }
      override def get(): InternalRow = {
        val values: Array[Any] = cols.map {
          case "id" => cur
          case "grp" => SynthSource.grpOf(cur)
          case "val" => SynthSource.valOf(cur)
          case "label" => UTF8String.fromString("g" + SynthSource.grpOf(cur))
        }
        InternalRow.fromSeq(values.toSeq)
      }
      override def close(): Unit = ()
    }
  }

  /** Vectorized path: the scan hands whole-stage codegen 4096-row
    * `ColumnarBatch`es instead of one `InternalRow` per call — the
    * same contract Spark's own parquet reader serves, and why a
    * `ColumnarToRow` boundary appears above the scan in the plan
    * (pinned in SynthSourceSpec). Vectors are allocated once per
    * reader and refilled per batch, parquet-reader style. */
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.ColumnarBatch
    val SynthPartition(start, end) = partition
    val CAP = 4096
    val schema = StructType(cols.map(c => SynthSource.SCHEMA(c)))
    new PartitionReader[ColumnarBatch] {
      private val vectors = OnHeapColumnVector.allocateColumns(CAP, schema)
      private val batch = new ColumnarBatch(
        vectors.map(_.asInstanceOf[org.apache.spark.sql.vectorized.ColumnVector]))
      private var cur = start
      override def next(): Boolean = {
        if (cur >= end) return false
        val n = math.min(CAP.toLong, end - cur).toInt
        var i = 0
        while (i < n) {
          val id = cur + i
          var c = 0
          while (c < cols.length) {
            cols(c) match {
              case "id" => vectors(c).putLong(i, id)
              case "grp" => vectors(c).putLong(i, SynthSource.grpOf(id))
              case "val" => vectors(c).putLong(i, SynthSource.valOf(id))
              case "label" =>
                val b = ("g" + SynthSource.grpOf(id)).getBytes("UTF-8")
                vectors(c).putByteArray(i, b, 0, b.length)
            }
            c += 1
          }
          i += 1
        }
        cur += n
        batch.setNumRows(n)
        true
      }
      override def get(): ColumnarBatch = batch
      override def close(): Unit = batch.close()
    }
  }
}

/** Registry face of the connector. */
object SynthQueries {
  /** Read through the custom connector with a pushed id-band predicate
    * and aggregate per group. The oracle regenerates the identical
    * table from DuckDB's `range()` — a full cross-engine hash check of
    * a custom DSv2 connector's read path, pushdown and all. */
  val sy01SynthSource: GraftQuery = GraftQuery(
    "sy01_synth_source",
    (s, _) => s.read.format("graft.sources.SynthSource")
      .option("rows", "100000").option("parts", "8").load()
      .filter(col("id") >= 25000 && col("id") < 75000)
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("val")).cast(LongType).as("sum_val"))
      .orderBy("grp"),
    Some(s"""SELECT ${SynthSource.SQL_GRP} AS grp, COUNT(*) AS n,
       |  CAST(SUM(${SynthSource.SQL_VAL}) AS BIGINT) AS sum_val
       |FROM range(25000, 75000) t(id)
       |GROUP BY 1 ORDER BY grp""".stripMargin),
    "custom DataSource V2 connector: partition planning + filter/column pushdown")

  /** Aggregates THROUGH the connector's pushdown path: the band filter
    * narrows the grid at planning time, then count/min/max are served
    * as closed-form per-partition partials (no data row is ever
    * generated — SynthSourceSpec pins the graft-synth-agg scan in the
    * plan). The oracle recomputes the same three numbers from
    * DuckDB's range(). */
  val sy02AggPushdown: GraftQuery = GraftQuery(
    "sy02_agg_pushdown",
    (s, _) => s.read.format("graft.sources.SynthSource")
      .option("rows", "100000").option("parts", "8").load()
      .filter(col("id") >= 25000 && col("id") < 75000)
      .agg(count(lit(1)).as("n_rows"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id")),
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(MIN(id) AS BIGINT) AS min_id, CAST(MAX(id) AS BIGINT) AS max_id
       |FROM range(25000, 75000) t(id)""".stripMargin),
    "DSv2 aggregate pushdown: closed-form partials from the connector")

  /** STORAGE-PARTITIONED JOIN through the connector's own layout
    * metadata: two grp-keyed synth scans (layout=grp →
    * KeyGroupedPartitioning) aggregate per grp and join on grp with
    * ZERO shuffle Exchanges — Catalyst trusts the reported
    * co-partitioning (SPARK-37166) exactly as it trusts q48's catalog
    * buckets, but here the layout comes from a CUSTOM DSv2 source.
    * The only Exchange in the plan is the final presentation ORDER BY
    * (PlanSpec pins the absence of hashpartitioning). At 100 TB this
    * is the lake-table join shape: co-partitioned storage, no shuffle
    * on either fact side. */
  val sy03StoragePartitionedJoin: GraftQuery = GraftQuery(
    "sy03_storage_partitioned_join",
    (s, _) => {
      // child session (ad02's idiom): same SparkContext + extensions,
      // but the SPJ planner opt-in can't leak into later queries —
      // RegistrySweepSpec checks every registry query for exactly this
      val s2 = graft.Sessions.child(s,
        "spark.sql.sources.v2.bucketing.enabled" -> "true")
      def rd(rows: Int) = s2.read.format("graft.sources.SynthSource")
        .option("rows", rows.toString).option("layout", "grp").load()
      val ga = rd(100000).groupBy("grp")
        .agg(count(lit(1)).as("n_a"), sum(col("val")).cast(LongType).as("sum_a"))
      val gb = rd(50000).groupBy("grp")
        .agg(sum(col("val")).cast(LongType).as("sum_b"))
      ga.join(gb, Seq("grp")).orderBy("grp")
    },
    Some(s"""WITH a AS (
       |  SELECT ${SynthSource.SQL_GRP} AS grp, ${SynthSource.SQL_VAL} AS v
       |  FROM range(0, 100000) t(id)),
       |b AS (
       |  SELECT ${SynthSource.SQL_GRP} AS grp, ${SynthSource.SQL_VAL} AS v
       |  FROM range(0, 50000) t(id)),
       |ga AS (SELECT grp, COUNT(*) AS n_a, CAST(SUM(v) AS BIGINT) AS sum_a
       |       FROM a GROUP BY grp),
       |gb AS (SELECT grp, CAST(SUM(v) AS BIGINT) AS sum_b FROM b GROUP BY grp)
       |SELECT ga.grp AS grp, n_a, sum_a, sum_b
       |FROM ga JOIN gb ON gb.grp = ga.grp ORDER BY ga.grp""".stripMargin),
    "storage-partitioned join: KeyGroupedPartitioning from a custom DSv2 layout, zero-shuffle agg+join")

  val all: Seq[GraftQuery] =
    Seq(sy01SynthSource, sy02AggPushdown, sy03StoragePartitionedJoin)
}
