package graft.operators

import graft.{Det, GraftQuery, Tables}
import graft.GraftQuery.q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-stream operators over `events`, expressed in batch form so the
  * DuckDB oracle can check them; `graft.streaming.EventStreams` runs
  * the same aggregations as Structured Streaming queries (watermarks +
  * windows) and the test suite asserts batch/stream equivalence.
  *
  * Timestamps: all arithmetic is on exact epoch-microsecond longs
  * (Spark `unix_micros` ≡ DuckDB `epoch_us`), never on floating point.
  */
object EventQueries {
  import Det._

  /** Tumbling 1-hour windows per event type — the batch face of the
    * streaming `window(ts, "1 hour")` aggregation. */
  val ev01Tumbling: GraftQuery = q(
    "ev01_tumbling_window",
    "tumbling 1h window agg (batch ≡ streaming window())",
    s"""SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
       |  COUNT(*) AS n_events, ${sqlDsum("value")} AS total_value
       |FROM events GROUP BY DATE_TRUNC('hour', ts), event_type
       |ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .orderBy("window_start", "event_type")
  }

  /** Sessionization with a 30-minute inactivity gap: flag session
    * starts with lag(), number sessions with a running sum — the batch
    * face of `session_window` / mapGroupsWithState. Exact µs integer
    * arithmetic throughout. */
  val ev02Sessionize: GraftQuery = q(
    "ev02_sessionize",
    "gap-based sessionization (batch ≡ session_window)",
    """WITH flagged AS (
      |  SELECT user_id, ts, value, event_id,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
      |        PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |      OR LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |      THEN 1 ELSE 0 END AS is_start
      |  FROM events),
      |sessions AS (
      |  SELECT user_id, ts, value,
      |    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
    val order = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val running = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevUs = lag(unix_micros(col("ts")), 1).over(order)
    Tables.events(s, d)
      .withColumn("is_start",
        when(unix_micros(col("ts")) - prevUs > 1800000000L || prevUs.isNull, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("is_start")).over(running).cast(LongType))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
      .orderBy("user_id", "session_id")
  }

  /** Per-user daily activity with a trailing-7-CALENDAR-day rolling
    * event count: a RANGE frame over the integer day number, so gaps
    * in activity age out correctly (a ROWS frame would instead span
    * the last 7 *active* days, however old). */
  val ev03RollingDaily: GraftQuery = q(
    "ev03_rolling_daily",
    "daily counts + trailing-7-calendar-day rolling window per user",
    """WITH daily AS (
      |  SELECT user_id, DATE_TRUNC('day', ts) AS day,
      |    epoch_us(DATE_TRUNC('day', ts)) // 86400000000 AS daynum,
      |    COUNT(*) AS n
      |  FROM events GROUP BY user_id, DATE_TRUNC('day', ts))
      |SELECT user_id, day, n,
      |  CAST(SUM(n) OVER (PARTITION BY user_id ORDER BY daynum
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
      |FROM daily ORDER BY user_id, day""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("daynum"))
      .rangeBetween(-6, Window.currentRow)
    Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("daynum", expr("unix_micros(day) div 86400000000"))
      .withColumn("n_7d", sum(col("n")).over(w).cast(LongType))
      .drop("daynum")
      .orderBy("user_id", "day")
  }

  /** Funnel: per user, did a view precede a purchase? Conditional
    * min-timestamp comparison — the batch face of pattern detection. */
  val ev04Funnel: GraftQuery = q(
    "ev04_funnel",
    "view→purchase funnel via conditional min timestamps",
    """SELECT user_id,
      |  MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
      |  MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase,
      |  CASE WHEN MIN(CASE WHEN event_type = 'view' THEN ts END)
      |         < MIN(CASE WHEN event_type = 'purchase' THEN ts END)
      |    THEN 1 ELSE 0 END AS converted
      |FROM events GROUP BY user_id
      |HAVING MIN(CASE WHEN event_type = 'view' THEN ts END) IS NOT NULL
      |   AND MIN(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val firstView = min(when(col("event_type") === "view", col("ts")))
    val firstPurchase = min(when(col("event_type") === "purchase", col("ts")))
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(firstView.as("first_view"), firstPurchase.as("first_purchase"))
      .filter(col("first_view").isNotNull && col("first_purchase").isNotNull)
      .select(col("user_id"), col("first_view"), col("first_purchase"),
        when(col("first_view") < col("first_purchase"), 1).otherwise(0).as("converted"))
      .orderBy("user_id")
  }

  /** Time-interval self-join (the batch face of the watermarked
    * stream-stream join in EventStreams.viewToPurchase): purchases
    * within 30 minutes after a view by the same user. Exact µs bounds. */
  val ev05IntervalJoin: GraftQuery = q(
    "ev05_interval_join",
    "time-interval join (batch ≡ stream-stream join)",
    """SELECT v.event_id AS view_id, p.event_id AS purchase_id, p.value
      |FROM events v JOIN events p
      |  ON v.user_id = p.user_id
      | AND v.event_type = 'view' AND p.event_type = 'purchase'
      | AND epoch_us(p.ts) >= epoch_us(v.ts)
      | AND epoch_us(p.ts) <= epoch_us(v.ts) + 1800000000
      |ORDER BY view_id, purchase_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("vu"),
        unix_micros(col("ts")).as("vt"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"),
        unix_micros(col("ts")).as("pt"), col("value"))
    v.join(p, col("vu") === col("pu")
      && col("pt") >= col("vt") && col("pt") <= col("vt") + 1800000000L)
      .select(col("view_id"), col("purchase_id"), col("value"))
      .orderBy("view_id", "purchase_id")
  }

  /** RANGE frame over event time: per-user 30-day trailing spend using
    * a numeric range on exact epoch-µs — event-time windows without
    * bucketing. */
  val ev06RangeFrame: GraftQuery = q(
    "ev06_range_frame",
    "RANGE BETWEEN interval frame on event time",
    """SELECT user_id, event_id,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
      |FROM events ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
      .rangeBetween(-2592000000000L, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        sum(dec2(col("value"))).over(w).cast(DoubleType).as("spend_30d"))
      .orderBy("user_id", "event_id")
  }

  /** Cohort retention: users grouped by their first active day, counted
    * per (cohort_day, day_offset) — the standard retention triangle.
    * ONE shuffle on user_id computes min-day and the deduped
    * active-day set together (collect_set partial-aggregates map-side
    * and its state is bounded by days-in-horizon, not events), so no
    * self-join of the fact table is ever needed; the exploded
    * (user × active-day) rows then partial-agg into the tiny
    * days×offsets result. The equivalent join formulation (first-day ⋈
    * distinct user-days) costs a third shuffle and benched 3× slower. */
  val ev07Retention: GraftQuery = q(
    "ev07_retention",
    "cohort retention triangle (first-day cohorts × day offset)",
    """WITH f AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
      |SELECT f.d0 AS cohort_day,
      |  CAST(date_diff('day', f.d0, a.d) AS BIGINT) AS day_offset,
      |  COUNT(*) AS n_users
      |FROM a JOIN f ON a.user_id = f.user_id
      |GROUP BY f.d0, date_diff('day', f.d0, a.d)
      |ORDER BY cohort_day, day_offset""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy("user_id")
      .agg(min(col("d")).as("d0"), collect_set(col("d")).as("days"))
      .select(col("d0"), explode(col("days")).as("d"))
      .groupBy(col("d0").as("cohort_day"),
        datediff(col("d"), col("d0")).cast(LongType).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Sliding 1-hour/15-minute windows — the batch face of
    * `window(ts, "1 hour", "15 minutes")` (see
    * [[graft.streaming.EventStreams.slidingQuarterHourly]]; the
    * StreamingSpec asserts batch ≡ stream). The oracle reconstructs
    * Spark's window assignment explicitly: each event belongs to the 4
    * slide-aligned windows k = 0..3 behind its 15-minute bucket. */
  val ev08SlidingWindow: GraftQuery = q(
    "ev08_sliding_window",
    "sliding 1h/15min window agg (batch ≡ streaming window())",
    s"""WITH ks AS (SELECT UNNEST(generate_series(0, 3)) AS k),
       |ev AS (
       |  SELECT time_bucket(INTERVAL '15 minutes', ts) - to_minutes(k * 15) AS window_start,
       |         event_type, value
       |  FROM events CROSS JOIN ks)
       |SELECT window_start, event_type, COUNT(*) AS n_events,
       |  ${sqlDsum("value")} AS total_value
       |FROM ev GROUP BY window_start, event_type
       |ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
    graft.streaming.EventStreams
      .slidingQuarterHourly(Tables.events(s, d), withWatermarkCol = false)
      .orderBy("window_start", "event_type")
  }

  /** Inter-event latency percentiles — the SLO question ("p50/p95 gap
    * between consecutive events of a type") answered with the
    * histogram-refinement rank engine ([[Rank.discretePercentiles]],
    * refineLevels = 1) rather than a per-type global sort: the lag
    * window partitions by (user, type) — high cardinality, bounded
    * per-user history, scale-safe — and the percentile selection never
    * shuffles the gap table (gaps are integer microseconds, heavily
    * repeated, exactly the discrete distribution the refinement's
    * all-equal shortcut eats). The oracle mirrors the rank definition
    * itself (ROW_NUMBER = ceil(n·pct/100)), so the exact-rank contract
    * is checked, not an engine's interpolation. */
  val ev09LatencyPercentiles: GraftQuery = q(
    "ev09_latency_percentiles",
    "p50/p95 inter-event gap per type via shuffle-free exact-rank selection",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
      |d AS (
      |  SELECT event_type,
      |    us - LAG(us) OVER (PARTITION BY user_id, event_type
      |                       ORDER BY us, event_id) AS gap
      |  FROM e),
      |g AS (SELECT event_type, gap FROM d WHERE gap IS NOT NULL),
      |r AS (
      |  SELECT event_type, gap,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY gap) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM g)
      |SELECT event_type,
      |  CAST(MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN gap END) AS BIGINT) AS p50_us,
      |  CAST(MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN gap END) AS BIGINT) AS p95_us
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), expr("unix_micros(ts)").as("us"))
    val wl = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    val gaps = e.withColumn("gap", col("us") - lag("us", 1).over(wl))
      .filter(col("gap").isNotNull).select("event_type", "gap")
    Rank.discretePercentiles(gaps, "event_type", "gap",
        Seq("p50_us" -> 50, "p95_us" -> 95), refineLevels = 1)
      .select(col("event_type"),
        col("p50_us").cast(LongType), col("p95_us").cast(LongType))
      .orderBy("event_type")
  }

  /** Sequential pattern mining — the top-5 most common 3-step user
    * journeys. Shape: ONE shuffle keys the events by user; each user's
    * ordered type sequence is assembled in its task (sort_array over
    * the collected (ts, event_id, type) structs — per-user data, never
    * a global sort) and sliding trigrams come from a higher-order
    * `transform` over index offsets, so the n-gram inflation happens
    * map-side AFTER the only exchange. Count + TakeOrdered top-5
    * finish it. Per-user sequences are bounded by session behavior;
    * a pathological user would be capped/sessionized upstream (ev02). */
  val ev10PathMining: GraftQuery = q(
    "ev10_path_mining",
    "top-5 3-step user journeys: per-user ordered trigrams, one shuffle",
    """WITH seqs AS (
      |  SELECT user_id, list(event_type ORDER BY ts, event_id) AS types
      |  FROM events GROUP BY user_id),
      |tris AS (
      |  SELECT unnest(CASE WHEN len(types) >= 3
      |    THEN list_transform(generate_series(1, len(types) - 2),
      |      i -> types[i] || '>' || types[i+1] || '>' || types[i+2])
      |    ELSE [] END) AS path
      |  FROM seqs)
      |SELECT path, COUNT(*) AS n
      |FROM tris GROUP BY path
      |ORDER BY n DESC, path LIMIT 5""".stripMargin) { (s, d) =>
    val types = transform(
      sort_array(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
      e => e.getField("event_type"))
    val paths = when(size(col("types")) >= 3,
      transform(sequence(lit(1), size(col("types")) - 2),
        i => concat_ws(">",
          element_at(col("types"), i),
          element_at(col("types"), i + 1),
          element_at(col("types"), i + 2))))
      .otherwise(array().cast(ArrayType(StringType)))
    Tables.events(s, d)
      .groupBy("user_id").agg(types.as("types"))
      .select(explode(paths).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(5)
  }

  /** Volume-anomaly detection: each (event_type, hour) count scored
    * against the TRAILING 24 hours (rows 24..1 preceding — the current
    * hour never contaminates its own baseline) as a z-score; top-20 by
    * |z|. Shape: the fact table collapses to hourly counts first (one
    * aggregation), the window then runs over type×hour rows — bounded
    * by the calendar, not the corpus — and the top-20 is a TakeOrdered
    * heap. Determinism: baseline mean/variance come from exact integer
    * window sums (s, ss, n all < 2^53 so the double casts are exact),
    * the z chain is a fixed expression tree, and the var > 0 guard is
    * the INTEGER test n·ss − s² > 0 — no epsilon, no fp comparison. */
  val ev11AnomalyZscore: GraftQuery = q(
    "ev11_anomaly_zscore",
    "hourly volume anomalies: trailing-24h z-score, top-20 by |z|",
    """WITH hourly AS (
      |  SELECT event_type, DATE_TRUNC('hour', ts) AS h, COUNT(*) AS c
      |  FROM events GROUP BY event_type, DATE_TRUNC('hour', ts)),
      |w AS (
      |  SELECT event_type, h, c,
      |    SUM(c) OVER win AS s, SUM(c * c) OVER win AS ss,
      |    COUNT(*) OVER win AS n
      |  FROM hourly
      |  WINDOW win AS (PARTITION BY event_type ORDER BY h
      |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
      |scored AS (
      |  SELECT event_type, h, c,
      |    (CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |      / SQRT((CAST(ss AS DOUBLE) - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE))
      |              / CAST(n - 1 AS DOUBLE)) AS z
      |  FROM w WHERE n = 24 AND n * ss - s * s > 0)
      |SELECT event_type, h, c, z FROM scored
      |ORDER BY ABS(z) DESC, event_type, h LIMIT 20""".stripMargin) { (s, d) =>
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    val win = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(-24, -1)
    val sCol = sum(col("c")).over(win)
    val ssCol = sum(col("c") * col("c")).over(win)
    val nCol = count(lit(1)).over(win)
    val scored = hourly
      .select(col("event_type"), col("h"), col("c"),
        sCol.as("s"), ssCol.as("ss"), nCol.as("n"))
      .filter(col("n") === 24 && col("n") * col("ss") - col("s") * col("s") > 0)
      .select(col("event_type"), col("h"), col("c"),
        ((col("c").cast(DoubleType) - col("s").cast(DoubleType) / col("n").cast(DoubleType)) /
          sqrt((col("ss").cast(DoubleType) -
              (col("s").cast(DoubleType) * col("s").cast(DoubleType)) / col("n").cast(DoubleType)) /
            (col("n") - 1).cast(DoubleType))).as("z"))
    scored.orderBy(abs(col("z")).desc, col("event_type"), col("h")).limit(20)
  }

  /** Watermark-calibration lateness audit — the measurement a
    * streaming team runs BEFORE picking `withWatermark`'s delay:
    * simulate each event's ARRIVAL time (event time + a deterministic
    * per-event transport delay of 0–30 min — the testdata's event
    * times carry no disorder of their own, md5-hash jitter injects the
    * realistic kind), cut arrivals into 5-minute trigger batches, take
    * each batch's watermark as the max EVENT time seen in all prior
    * batches, and histogram how late each event is relative to that
    * watermark. The bucket fractions answer "what watermark delay
    * admits which fraction of events" — the exact trade the watermark
    * knob sets (state size vs dropped-late data).
    *
    * Scale shape: batch assignment is map-side arithmetic (no global
    * sort anywhere), one groupBy on the batch id, a running max over
    * the BATCH frame only (span-bounded, hundreds of rows — the
    * single-partition window never sees events), a broadcast join of
    * the tiny watermark table back onto the stream, then one bounded
    * histogram aggregation. All time arithmetic on exact epoch-µs
    * longs. */
  val ev12LatenessAudit: GraftQuery = {
    val DELAY_MOD = 1800000000L // transport delay ∈ [0, 30 min) µs
    val TRIGGER = 300000000L // 5-minute arrival micro-batches
    q("ev12_lateness_audit",
      "event-time lateness histogram vs simulated per-batch watermark",
      s"""WITH b AS (
         |  SELECT event_id, epoch_us(ts) AS us,
         |    (epoch_us(ts) +
         |     CAST(CONCAT('0x', SUBSTRING(md5('d:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % $DELAY_MOD)
         |      // $TRIGGER AS batch
         |  FROM events),
         |bm AS (SELECT batch, MAX(us) AS bmax FROM b GROUP BY batch),
         |wm AS (
         |  SELECT batch,
         |    MAX(bmax) OVER (ORDER BY batch
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS watermark
         |  FROM bm),
         |l AS (
         |  SELECT CASE WHEN wm.watermark IS NULL OR b.us >= wm.watermark THEN 0
         |              ELSE wm.watermark - b.us END AS late_us
         |  FROM b JOIN wm USING (batch)),
         |h AS (
         |  SELECT CASE WHEN late_us = 0 THEN 'a_on_time'
         |              WHEN late_us < 60000000 THEN 'b_lt_1m'
         |              WHEN late_us < 600000000 THEN 'c_lt_10m'
         |              WHEN late_us < 3600000000 THEN 'd_lt_1h'
         |              ELSE 'e_gte_1h' END AS bucket
         |  FROM l),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM h)
         |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(tot.n) AS frac
         |FROM h, tot GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      val delay = conv(substring(md5(concat(lit("d:"),
        col("event_id").cast(StringType))), 1, 8), 16, 10)
        .cast(LongType) % DELAY_MOD
      val b = Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("arrival", col("us") + delay)
        .withColumn("batch", expr(s"arrival div $TRIGGER"))
        .select(col("event_id"), col("us"), col("batch"))
      val bm = b.groupBy("batch").agg(max(col("us")).as("bmax"))
      // batch-bounded frame: the running max runs over ~n_events/B rows
      val wm = bm.withColumn("watermark",
        max(col("bmax")).over(Window.orderBy("batch")
          .rowsBetween(Window.unboundedPreceding, -1)))
        .select(col("batch"), col("watermark"))
      val late = b.join(broadcast(wm), Seq("batch"))
        .select(when(col("watermark").isNull || col("us") >= col("watermark"), 0L)
          .otherwise(col("watermark") - col("us")).as("late_us"))
      val bucket = when(col("late_us") === 0, "a_on_time")
        .when(col("late_us") < 60000000L, "b_lt_1m")
        .when(col("late_us") < 600000000L, "c_lt_10m")
        .when(col("late_us") < 3600000000L, "d_lt_1h")
        .otherwise("e_gte_1h")
      val h = late.select(bucket.as("bucket"))
      // the total is the SUM of the ≤5-row bucket histogram — a window
      // over the aggregate, not a second corpus pass (r17: the old
      // h.agg() total re-derived the full events scan + watermark join
      // a second time; Σ n_events is the same count by construction)
      h.groupBy("bucket").agg(count(lit(1)).cast(LongType).as("n_events"))
        .withColumn("n", sum(col("n_events")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("bucket"), col("n_events"),
          (col("n_events").cast(DoubleType) / col("n")).as("frac"))
        .orderBy("bucket")
    }
  }

  /** CEP sequential-pattern extraction (the MATCH_RECOGNIZE /
    * Flink-CEP class Spark lacks): per user, the EARLIEST-completing
    * instance of view → click → purchase whose total span fits in 24
    * hours (the window that separates ~the fastest decile of journeys
    * on this corpus — a 1h window matches nothing, an unbounded one
    * is just ev04). Unlike ev04 (first-timestamp funnel counts) and ev05
    * (two-step interval join), this extracts an ordered THREE-step
    * instance under a window constraint — the shape that degenerates
    * to a triple self-join in SQL but runs as one LINEAR scan per user
    * in a real CEP engine.
    *
    * Engine shape: one shuffle keys events by user; each user's
    * ordered stream folds through a codegen'd higher-order `aggregate`
    * whose accumulator is the 4-field NFA state — `lv` (latest view),
    * `lvc` (latest view known to precede some click — the only
    * prefix-summary the window check needs, because feasibility at a
    * purchase only improves with a LATER qualifying view), and the
    * first completed (v, p). Per-event work is O(1); no joins, no
    * quadratic pair set; the per-user array is session-bounded (the
    * ev02/ev10 assumption). The oracle spells the identical semantics
    * as the naive triple join + earliest-purchase pick; equal-ts edge
    * ordering follows the sorted (t, type) sequence — alphabetical
    * type order at ties, mirrored exactly in the oracle's strict/
    * non-strict comparisons. All integer µs. */
  val ev13CepPattern: GraftQuery = {
    val T = 86400000000L // 24 hours in µs
    q("ev13_cep_pattern",
      "CEP: earliest view→click→purchase within 24h — linear NFA fold per user",
      s"""WITH e AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
         |p AS (SELECT user_id, t AS p_t FROM e WHERE event_type = 'purchase'),
         |feas AS (
         |  SELECT p.user_id, p.p_t, MAX(v.t) AS v_t
         |  FROM p
         |  JOIN e c ON c.user_id = p.user_id AND c.event_type = 'click'
         |    AND c.t <= p.p_t
         |  JOIN e v ON v.user_id = p.user_id AND v.event_type = 'view'
         |    AND v.t < c.t AND v.t >= p.p_t - $T
         |  GROUP BY 1, 2),
         |firstm AS (
         |  SELECT user_id, v_t, p_t,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY p_t) AS r
         |  FROM feas)
         |SELECT user_id, v_t AS view_us, p_t AS purchase_us,
         |  CAST(p_t - v_t AS BIGINT) AS span_us
         |FROM firstm WHERE r = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
      val seq = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("t"),
          col("event_type"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("t"), col("event_type"))))
          .as("es"))
      val nfa = expr(
        s"""aggregate(es,
           |  named_struct('lv', CAST(-1 AS BIGINT), 'lvc', CAST(-1 AS BIGINT),
           |               'v', CAST(-1 AS BIGINT), 'p', CAST(-1 AS BIGINT)),
           |  (a, x) -> CASE
           |    WHEN a.p >= 0 THEN a
           |    WHEN x.event_type = 'view' THEN
           |      named_struct('lv', x.t, 'lvc', a.lvc, 'v', a.v, 'p', a.p)
           |    WHEN x.event_type = 'click' THEN
           |      named_struct('lv', a.lv, 'lvc', greatest(a.lvc, a.lv),
           |                   'v', a.v, 'p', a.p)
           |    WHEN x.event_type = 'purchase' AND a.lvc >= 0
           |         AND a.lvc >= x.t - $T THEN
           |      named_struct('lv', a.lv, 'lvc', a.lvc, 'v', a.lvc, 'p', x.t)
           |    ELSE a END)""".stripMargin)
      seq.select(col("user_id"), nfa.as("m"))
        .filter(col("m.p") >= 0)
        .select(col("user_id"), col("m.v").as("view_us"),
          col("m.p").as("purchase_us"),
          (col("m.p") - col("m.v")).cast(LongType).as("span_us"))
        .orderBy("user_id")
    }
  }

  /** Half-life time-decay engagement score — the recency weighting a
    * freshness-aware curation or ranking pass applies: each event
    * contributes value·2^(−days_old), so a day of age halves an
    * event's weight. Determinism: the weight denominator is an EXACT
    * power of two built by integer shift (never a transcendental —
    * libm `exp` is not bit-portable across engines), the per-event
    * product/divide chain is fixed-order exactly-rounded IEEE, and the
    * result is quantized to integer 1e-4 units before the cross-row
    * SUM — so the aggregation is order-independent and the top-20
    * ranking keys on an exact integer. One corpus scan, map-side
    * combinable, group key = user_id: the standard decayed-counter
    * shape that needs no per-event state at serving time. days_old is
    * clamped at 60 (2^60 shifts stay in Long; older events round to
    * weight 0 anyway). */
  val ev14DecayScore: GraftQuery = q(
    "ev14_decay_score",
    "half-life time-decay engagement score (top-20 users, exact-integer ranking)",
    """WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS d0 FROM events),
      |e AS (
      |  SELECT user_id,
      |    LEAST(date_diff('day', CAST(ts AS DATE), (SELECT d0 FROM mx)), 60) AS dd,
      |    value
      |  FROM events),
      |q AS (
      |  SELECT user_id,
      |    CAST(ROUND(value * 10000 /
      |      CAST((CAST(1 AS BIGINT) << dd) AS DOUBLE)) AS BIGINT) AS qd
      |  FROM e)
      |SELECT user_id, CAST(SUM(qd) AS BIGINT) AS score_q,
      |  CAST(SUM(qd) AS DOUBLE) / 10000.0 AS decay_score
      |FROM q GROUP BY user_id
      |ORDER BY score_q DESC, user_id LIMIT 20""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    // anchor date stays IN the plan (broadcast scalar), not a collect
    val mx = ev.agg(max(to_date(col("ts"))).as("d0"))
    val dd = least(datediff(col("d0"), to_date(col("ts"))), lit(60))
    ev.crossJoin(broadcast(mx))
      .select(col("user_id"), col("value"), dd.as("dd"))
      .select(col("user_id"),
        round(col("value") * 10000 /
          expr("shiftleft(CAST(1 AS BIGINT), CAST(dd AS INT))").cast(DoubleType))
          .cast(LongType).as("qd"))
      .groupBy("user_id")
      .agg(sum("qd").as("score_q"))
      .select(col("user_id"), col("score_q"),
        (col("score_q").cast(DoubleType) / 10000.0).as("decay_score"))
      .orderBy(col("score_q").desc, col("user_id"))
      .limit(20)
  }

  /** CUSUM changepoint detection over daily volumes — "on which day
    * did this event type's level shift?" The CUSUM statistic is the
    * running sum of deviations from the series mean; its extremum
    * marks the most likely changepoint (Page 1954; the batch face of
    * drift monitoring on an ingest pipeline). All arithmetic is EXACT
    * integers: the deviation is scaled by the day count
    * (n_i·k − total ≡ k·(n_i − mean)), so the running sum never
    * touches floating point and the oracle hash-matches regardless of
    * either engine's window-aggregation association (a double CUSUM
    * would diverge in the last bits under DuckDB's segment-tree window
    * sums). Shape: one day-grain aggregation (the corpus collapses to
    * |types|·|days| rows), a broadcast-size per-type stats join, one
    * partition-local window — nothing scales with raw event count
    * after the first aggregate. */
  val cp01Changepoint: GraftQuery = q(
    "cp01_changepoint",
    "CUSUM level-shift detection per event type: integer-exact running deviation extremum",
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, SUM(n) AS total, COUNT(*) AS k
      |  FROM daily GROUP BY 1),
      |c AS (
      |  SELECT d.event_type, d.day, st.k,
      |    SUM(d.n * st.k - st.total) OVER (PARTITION BY d.event_type
      |      ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      |  FROM daily d JOIN st ON d.event_type = st.event_type),
      |r AS (
      |  SELECT event_type, day, cusum, k,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY ABS(cusum) DESC, day) AS rn
      |  FROM c)
      |SELECT event_type, CAST(day AS VARCHAR) AS cp_day,
      |  CAST(cusum AS BIGINT) AS cusum_at_cp, CAST(k AS BIGINT) AS n_days
      |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val st = daily.groupBy("event_type")
      .agg(sum(col("n")).as("total"), count(lit(1)).as("k"))
    val wc = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wr = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("cusum")).desc, col("day"))
    daily.join(st, "event_type")
      .withColumn("cusum", sum(col("n") * col("k") - col("total")).over(wc))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("cp_day"),
        col("cusum").cast(LongType).as("cusum_at_cp"),
        col("k").cast(LongType).as("n_days"))
      .orderBy("event_type")
  }

  /** Last-touch attribution — the marketing-analytics classic: each
    * purchase is credited to the SAME user's most recent click/view in
    * the preceding 24 hours (or 'none'). The per-purchase touch is one
    * ordered window pass per user — `max(struct(ts, event_id, type))`
    * over preceding rows picks the latest touch lexicographically
    * (exactly the oracle's ORDER BY ts DESC, event_id DESC LIMIT 1
    * lateral), so ts ties break identically in both engines. The
    * report aggregates to |channels| rows; the time-gap statistic is a
    * single divide of an exact integer µs sum (the ev09 discipline).
    * Scale: the window's partition key is user_id — cardinality grows
    * WITH the corpus, so the sort parallelizes (no 3-partition window
    * hazard); one shuffle on user_id total. */
  val ev15Attribution: GraftQuery = q(
    "ev15_attribution",
    "last-touch purchase attribution: latest prior click/view within 24h, per-channel report",
    """WITH p AS (
      |  SELECT e.event_id, e.user_id, e.ts,
      |    t.event_type AS touch_type, t.ts AS touch_ts
      |  FROM events e
      |  LEFT JOIN LATERAL (
      |    SELECT t.event_type, t.ts FROM events t
      |    WHERE t.user_id = e.user_id
      |      AND t.event_type IN ('click', 'view')
      |      AND (epoch_us(t.ts) < epoch_us(e.ts)
      |           OR (epoch_us(t.ts) = epoch_us(e.ts) AND t.event_id < e.event_id))
      |      AND epoch_us(t.ts) >= epoch_us(e.ts) - 86400000000
      |    ORDER BY t.ts DESC, t.event_id DESC LIMIT 1) t ON TRUE
      |  WHERE e.event_type = 'purchase'),
      |lbl AS (
      |  SELECT COALESCE(touch_type, 'none') AS channel,
      |    user_id, epoch_us(ts) - epoch_us(touch_ts) AS gap_us
      |  FROM p)
      |SELECT channel, COUNT(*) AS n_purchases,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(gap_us) AS DOUBLE)
      |    / CAST(COUNT(gap_us) * 1000000 AS DOUBLE) AS avg_gap_s
      |FROM lbl GROUP BY channel ORDER BY channel""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val isTouch = col("event_type").isin("click", "view")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lastTouch = max(when(isTouch,
      struct(col("ts"), col("event_id"), col("event_type")))).over(w)
    val attributed = ev
      .withColumn("lt", lastTouch)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("lt.event_type").as("touch_type"), col("lt.ts").as("touch_ts"))
      // 24h validity: a touch older than the lookback is no touch
      .withColumn("valid", col("touch_ts").isNotNull &&
        unix_micros(col("touch_ts")) >= unix_micros(col("ts")) - 86400000000L)
      .select(
        when(col("valid"), col("touch_type")).otherwise(lit("none")).as("channel"),
        col("user_id"),
        when(col("valid"),
          unix_micros(col("ts")) - unix_micros(col("touch_ts"))).as("gap_us"))
    attributed.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"),
        (sum(col("gap_us")).cast(DoubleType) /
          (count(col("gap_us")) * 1000000L).cast(DoubleType)).as("avg_gap_s"))
      .orderBy("channel")
  }

  /** Linear (multi-touch) attribution — ev15's companion: every
    * click/view in the 24h before a purchase shares the credit
    * EQUALLY. Credit is exact integer parts-per-million: each touch
    * gets ⌊1M/n⌋ ppm and the EARLIEST touch absorbs the remainder, so
    * per-purchase credit sums to exactly 1,000,000 and channel totals
    * are integer-deterministic (no per-touch float division — the
    * ev14 quantization discipline). Shapes: one user-keyed interval
    * join (ev05's shape), windows partitioned by purchase id
    * (cardinality grows with the corpus), |channels|-row report with
    * a broadcast 1-row total for the share divide. */
  val ev16LinearAttribution: GraftQuery = q(
    "ev16_linear_attribution",
    "multi-touch linear attribution: exact-ppm credit split across 24h prior touches",
    """WITH j AS (
      |  SELECT p.event_id AS pid, t.event_id AS tid, t.event_type AS channel,
      |    t.ts AS tts
      |  FROM events p JOIN events t
      |    ON t.user_id = p.user_id
      |   AND p.event_type = 'purchase'
      |   AND t.event_type IN ('click', 'view')
      |   AND (epoch_us(t.ts) < epoch_us(p.ts)
      |        OR (epoch_us(t.ts) = epoch_us(p.ts) AND t.event_id < p.event_id))
      |   AND epoch_us(t.ts) >= epoch_us(p.ts) - 86400000000),
      |c AS (
      |  SELECT pid, tid, channel,
      |    COUNT(*) OVER (PARTITION BY pid) AS n,
      |    ROW_NUMBER() OVER (PARTITION BY pid ORDER BY tts, tid) AS rk
      |  FROM j),
      |cr AS (
      |  SELECT channel,
      |    1000000 // n + CASE WHEN rk = 1 THEN 1000000 % n ELSE 0 END AS ppm
      |  FROM c),
      |agg AS (
      |  SELECT channel, COUNT(*) AS n_touches,
      |    CAST(SUM(ppm) AS BIGINT) AS credit_ppm
      |  FROM cr GROUP BY channel),
      |tot AS (SELECT CAST(SUM(credit_ppm) AS BIGINT) AS total FROM agg)
      |SELECT channel, n_touches, credit_ppm,
      |  CAST(credit_ppm AS DOUBLE) / CAST(total AS DOUBLE) AS share
      |FROM agg CROSS JOIN tot ORDER BY channel""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"),
        unix_micros(col("ts")).as("pus"))
    val t = ev.filter(col("event_type").isin("click", "view"))
      .select(col("event_id").as("tid"), col("user_id"),
        col("event_type").as("channel"), col("ts").as("tts"),
        unix_micros(col("ts")).as("tus"))
    val j = p.join(t, Seq("user_id"))
      .filter((col("tus") < col("pus") ||
        (col("tus") === col("pus") && col("tid") < col("pid"))) &&
        col("tus") >= col("pus") - 86400000000L)
    val wN = Window.partitionBy(col("pid"))
    val wR = Window.partitionBy(col("pid")).orderBy(col("tts"), col("tid"))
    val credited = j
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("rk", row_number().over(wR))
      .select(col("channel"),
        (expr("1000000 div n") +
          when(col("rk") === 1, expr("1000000 % n")).otherwise(0L)).as("ppm"))
    val agg = credited.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"), sum(col("ppm")).as("credit_ppm"))
    val tot = agg.agg(sum(col("credit_ppm")).as("total"))
    agg.crossJoin(broadcast(tot))
      .select(col("channel"), col("n_touches"), col("credit_ppm"),
        (col("credit_ppm").cast(DoubleType) / col("total").cast(DoubleType))
          .as("share"))
      .orderBy("channel")
  }

  /** PURE interval join — no equi key at all — made shuffle-joinable
    * by time-bin blocking. ev05's view→purchase join survives scale
    * because `user_id = user_id` gives the planner an equi-key and the
    * 30-min range rides as a post-filter; drop the user key (global
    * attribution: "how many views, from ANYONE, preceded this
    * purchase?") and the naive plan is a BroadcastNestedLoopJoin that
    * compares every view to every purchase — the classic non-equi
    * 100 TB killer.
    *
    * The blocking: with interval width W, bucket both sides into
    * W-wide epoch bins; a qualifying pair (vt ≤ pt ≤ vt+W) always has
    * bin(pt) ∈ {bin(vt), bin(vt)+1}, so replicating each VIEW into
    * its own bin and the next (2× the smaller side, map-side explode)
    * and equi-joining on the bin turns the join into a plain shuffle
    * hash/merge join; the exact range predicate rides as the join's
    * post-filter. No dedup step is needed — a purchase lives in
    * exactly one bin, so each qualifying pair meets exactly once.
    * Work is Σ-per-bin-products (time-local), never |V|·|P|;
    * PlanSpec pins the no-nested-loop shape. This is the interval
    * analog of dd15's sorted-neighborhood blocking, and the batch
    * form of what a stream-stream time-range join does with
    * watermark-bounded state. */
  /** Batch face of [[graft.streaming.EventStreams.windowedQuantiles]]:
    * tumbling 1-hour p50/p95 latency-style quantiles per event type
    * through graft's native TypedImperativeAggregate sketch (qs01's
    * operator composed with event-time windows — StreamingSpec proves
    * the STREAMING run of the identical function emits these same
    * rows). Quantile selection does no arithmetic on the values, so
    * the double `value` column is hash-safe as-is; ranks use the
    * integer (n·p+99) div 100 formula on both sides. One shuffle of
    * per-partition sketch states keyed by (window, type); state and
    * shuffle bytes are O(k·log n/k) per group at any event volume. */
  val ev18WindowQuantiles: GraftQuery = q(
    "ev18_window_quantiles",
    "tumbling-window p50/p95 via the native quantile sketch (batch ≡ streaming state-store face)",
    """WITH r AS (
      |  SELECT DATE_TRUNC('hour', ts) AS window_start, event_type, value AS v,
      |    ROW_NUMBER() OVER (PARTITION BY DATE_TRUNC('hour', ts), event_type
      |      ORDER BY value) AS rn,
      |    COUNT(*) OVER (PARTITION BY DATE_TRUNC('hour', ts), event_type) AS n
      |  FROM events)
      |SELECT window_start, event_type, COUNT(*) AS n_events,
      |  MAX(CASE WHEN rn = GREATEST(1, (n * 50 + 99) // 100) THEN v END) AS p50,
      |  MAX(CASE WHEN rn = GREATEST(1, (n * 95 + 99) // 100) THEN v END) AS p95
      |FROM r GROUP BY window_start, event_type
      |ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
    graft.streaming.EventStreams
      .windowedQuantiles(Tables.events(s, d), withWatermarkCol = false)
      .orderBy("window_start", "event_type")
  }

  val ev17BucketizedInterval: GraftQuery = {
    val W = 1800000000L // 30 min in µs = bin width = interval length
    q("ev17_bucketized_interval",
      "pure (no-equi-key) interval join via time-bin blocking: views preceding each purchase",
      s"""WITH v AS (
         |  SELECT epoch_us(ts) AS vt FROM events WHERE event_type = 'view'),
         |p AS (
         |  SELECT event_id AS purchase_id, epoch_us(ts) AS pt FROM events
         |  WHERE event_type = 'purchase'),
         |hits AS (
         |  SELECT purchase_id, CAST(COUNT(*) AS BIGINT) AS n_views
         |  FROM p JOIN v ON vt <= pt AND pt <= vt + $W
         |  GROUP BY purchase_id)
         |SELECT p.purchase_id, COALESCE(n_views, 0) AS n_views
         |FROM p LEFT JOIN hits ON p.purchase_id = hits.purchase_id
         |ORDER BY p.purchase_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("pt"),
          expr(s"unix_micros(ts) div $W").as("bin"))
      val v = ev.filter(col("event_type") === "view")
        .select(unix_micros(col("ts")).as("vt"))
        .select(col("vt"), explode(array(expr(s"vt div $W"),
          expr(s"vt div $W + 1"))).as("bin"))
      val hits = p.join(v, Seq("bin"))
        .filter(col("vt") <= col("pt") && col("pt") <= col("vt") + W)
        .groupBy("purchase_id").agg(count(lit(1)).as("n_views"))
      p.select("purchase_id")
        .join(hits, Seq("purchase_id"), "left")
        .select(col("purchase_id"),
          coalesce(col("n_views"), lit(0L)).as("n_views"))
        .orderBy("purchase_id")
    }
  }

  val all: Seq[GraftQuery] = Seq(ev01Tumbling, ev02Sessionize, ev03RollingDaily,
    ev04Funnel, ev05IntervalJoin, ev06RangeFrame, ev07Retention,
    ev08SlidingWindow, ev09LatencyPercentiles, ev10PathMining, ev11AnomalyZscore,
    ev12LatenessAudit, ev13CepPattern, ev14DecayScore, ev15Attribution,
    ev16LinearAttribution, ev17BucketizedInterval, ev18WindowQuantiles,
    cp01Changepoint)
}
