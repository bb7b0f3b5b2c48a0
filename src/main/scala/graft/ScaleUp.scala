package graft

import org.apache.spark.sql.functions._

/** Writes a key-shifted K× replica of a testdata scale-factor dir — the
  * empirical input for SCALING.md's growth table (run:
  * `sbt "runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/sfx10 10"`).
  *
  * Replication is a crossJoin against `range(K)` with every entity key
  * shifted per copy (doc/vec/event/user ids), so DISTINCT key counts,
  * dedup component structure, group cardinalities, and session counts
  * all grow ~K× alongside row counts — the honest growth shape; a
  * naive row copy without key shifts would collapse dedup and
  * grouping into the original keyspace and make super-linear operators
  * look flat. Text/embedding payloads repeat, which near-dup queries
  * see as K-sized duplicate families — dd08's components grow in SIZE
  * not count, the worst case for label propagation, which is exactly
  * what a growth probe should stress.
  *
  * Only the three corpus tables the heavy bench family reads are
  * replicated (documents, embeddings, events); `events.ts` is written
  * back as int64 NANOSECONDS — the legacy physical encoding the driver
  * corpus used before its micros regeneration — which keeps the
  * schema-adaptive [[Tables.events]] loader's nanos branch exercised
  * by every growth probe while originals take the micros branch. */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: comma-separated table subset (the 1000x probe
    // of the documents-only dedup heads need not pay an 11 GB
    // lineitem replica)
    val tables: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    def wanted(t: String): Boolean = tables.forall(_.contains(t))
    val spark = Harness.session()
    val copies = spark.range(k.toLong).select(col("id").as("copy"))

    if (wanted("documents")) {
      val docs = Tables.documents(spark, src)
      val docShift = docs.agg(max("doc_id")).head().getLong(0) + 1
      docs.crossJoin(copies)
        .select((col("doc_id") + col("copy") * docShift).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars"))
        .repartition(k * 2).write.mode("overwrite")
        .parquet(s"$out/documents.parquet")
    }

    if (wanted("embeddings")) {
      val emb = Tables.embeddings(spark, src)
      val vecShift = emb.agg(max("vec_id")).head().getLong(0) + 1
      emb.crossJoin(copies)
        .select((col("vec_id") + col("copy") * vecShift).as("vec_id"),
          col("embedding"), col("label"))
        .repartition(k * 2).write.mode("overwrite")
        .parquet(s"$out/embeddings.parquet")
    }

    if (wanted("events")) {
      val ev = Tables.events(spark, src)
      val evShift = ev.agg(max("event_id")).head().getLong(0) + 1
      val userShift = ev.agg(max("user_id")).head().getLong(0) + 1
      ev.crossJoin(copies)
        .select((col("event_id") + col("copy") * evShift).as("event_id"),
          expr("unix_micros(ts) * 1000").as("ts"), // int64 ns, as the driver writes it
          (col("user_id") + col("copy") * userShift).as("user_id"),
          col("event_type"), col("value"), col("props"))
        .repartition(k * 2).write.mode("overwrite")
        .parquet(s"$out/events.parquet")
    }

    // relational fact tables for the WRITE-HEAVY probe family (q47/zo01
    // read orders; q49 reads lineitem): order/cust keys shift per copy
    // so key cardinalities — and zo01's z-value distribution over
    // key%256 — grow with rows. lineitem keeps l_orderkey aligned with
    // the shifted orders copy so the join family stays consistent.
    if (wanted("orders")) {
      val ord = Tables.orders(spark, src)
      val ordShift = ord.agg(max("o_orderkey")).head().getLong(0) + 1
      val custShift = ord.agg(max("o_custkey")).head().getLong(0) + 1
      ord.crossJoin(copies)
        .select((col("o_orderkey") + col("copy") * ordShift).as("o_orderkey"),
          (col("o_custkey") + col("copy") * custShift).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
        .repartition(k * 2).write.mode("overwrite")
        .parquet(s"$out/orders.parquet")

      val li = Tables.lineitem(spark, src)
      li.crossJoin(copies)
        .select((col("l_orderkey") + col("copy") * ordShift).as("l_orderkey"),
          col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax"), col("l_returnflag"), col("l_linestatus"),
          col("l_shipdate"))
        .repartition(k * 2).write.mode("overwrite")
        .parquet(s"$out/lineitem.parquet")

      // customer rides the same custShift as orders so FK joins (q55's
      // NOT IN probe, q48's bucketed join family) stay consistent per copy
      val cust = Tables.customer(spark, src)
      cust.crossJoin(copies)
        .select((col("c_custkey") + col("copy") * custShift).as("c_custkey"),
          col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
        .repartition(k * 2).write.mode("overwrite")
        .parquet(s"$out/customer.parquet")
    }

    println(s"wrote ${k}x replicas of documents/embeddings/events/orders/lineitem/customer to $out")
    spark.stop()
  }
}
