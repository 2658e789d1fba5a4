package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Window-function operators (SURVEY §2.5 W1-W4). Each window partitions by
  * a real key (event_type / user_id) so state is distributed across
  * executors — one shuffle on the partition key, then per-partition sorts;
  * no global sort, no driver collect. Window ORDER BY uses event_id (the
  * unique insertion sequence, time-correlated) so frame order is exactly
  * reproducible across engines regardless of timestamp precision.
  */
object WindowFns {

  /** W1 — top-N per group via row_number (the distributed form of the
    * dashboard's sort+head at dashboard.py:357). */
  def w1TopNPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("event_type"), col("rn"), col("event_id"), col("value"))
      .orderBy(col("event_type"), col("rn"))
  }

  /** W2 — lag delta: change vs the user's previous reading (the real form
    * of the dashboard's hardcoded gauge delta, dashboard.py:73). */
  def w2LagDelta(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    Tables.events(spark, dir)
      .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(col("delta")).as("n_deltas"),
        // + 0.0 normalizes IEEE negative zero: a delta stream summing to
        // −ε rounds to −0.0 in one engine and 0.0 in the other, and the
        // driver's string compare sees "-0.0" ≠ "0.0" (found at sf0.1)
        (round(avg(col("delta")), 2) + lit(0.0)).as("avg_delta"),
        (round(max(col("delta")), 2) + lit(0.0)).as("max_delta"))
      .orderBy(col("user_id"))
  }

  /** W3 — 1-hour trailing moving aggregate per group: a RANGE frame over
    * epoch seconds, so frame membership is value-defined (tie-order
    * independent) and identical across engines. Moving SUM + frame count
    * rather than moving avg: the values carry exactly 2 decimals, so the
    * true sum is an integer number of cents and round(_,2) can never land
    * on a half-cent boundary (a moving avg can, and engines then disagree
    * in the last ulp). */
  def w3MovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("epoch_s")).rangeBetween(-3600, 0)
    Tables.events(spark, dir)
      .withColumn("epoch_s", unix_timestamp(col("ts")))
      .withColumn("mov_sum", round(sum(col("value")).over(w), 2))
      .withColumn("n_frame", count(lit(1)).over(w))
      .filter(col("event_id") < 300)
      .select(col("event_id"), col("event_type"), col("mov_sum"), col("n_frame"))
      .orderBy(col("event_id"))
  }

  /** W4 — running cumulative sum per user in insertion order. */
  def w4RunningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("running_total", round(sum(col("value")).over(w), 2))
      .filter(col("user_id") < 10)
      .select(col("user_id"), col("event_id"), col("running_total"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** W5 — distribution ranks per group: ntile deciles + percent_rank +
    * cume_dist over value within event_type (the quantile-bucket
    * assignment a training pipeline uses for stratified splits). Ties
    * broken by event_id so rank order is engine-exact. */
  def w5DistributionRanks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("decile", ntile(10).over(w))
      .withColumn("pct_rank", round(percent_rank().over(w), 4))
      .withColumn("cume", round(cume_dist().over(w), 4))
      .filter(col("event_id") < 200)
      .select(col("event_id"), col("event_type"), col("decile"),
        col("pct_rank"), col("cume"))
      .orderBy(col("event_id"))
  }

  /** THE gap-based session assignment (chained windows: lag → boundary
    * flag → running sum = session id), shared by w6 and the
    * batch↔streaming parity spec. Boundary rule: a NEW session starts
    * only when the gap since the previous event EXCEEDS gapSeconds —
    * the same inclusive merge boundary as streaming `session_window`
    * (an event exactly `gap` after its predecessor still merges;
    * verified empirically by the parity spec's exact-boundary case), so
    * the two session definitions cannot drift at the boundary. The
    * two windows share ONE partition+sort (both keyed
    * user_id/`orderCol` — Spark evaluates them in a single Window
    * exchange+sort). Epochs are second-truncated so both engines
    * compare identical integers. */
  def sessionAssign(events: DataFrame, gapSeconds: Long,
                    orderCol: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col(orderCol))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("epoch_s", unix_timestamp(col("ts")))
      .withColumn("gap", col("epoch_s") - lag(col("epoch_s"), 1).over(w))
      .withColumn("new_sess",
        when(col("gap").isNull || col("gap") > gapSeconds, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_sess")).over(wRun))
  }

  /** W6 — batch sessionization: [[sessionAssign]] (30-min gap, event_id
    * order) + a per-session aggregate — the batch twin of the streaming
    * session windows in streaming/Windows.scala, pinned to them by the
    * parity test in StreamingSpec. */
  def w6Sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionAssign(Tables.events(spark, dir).filter(col("user_id") < 50),
      gapSeconds = 1800L, orderCol = "event_id")
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"),
        (max(col("epoch_s")) - min(col("epoch_s"))).as("duration_s"))
      .orderBy(col("user_id"), col("session_seq"))

  /** W12 — the concurrency curve: per hour, how many sessions ran AT
    * ONCE at the peak (plus how many started) — the capacity-planning
    * number behind every "do we need more serving replicas" decision,
    * and the interval-overlap verb (sweep-line) the engine was missing:
    * w6 counts sessions, this counts their OVERLAP.
    *
    * Distributed sweep-line, no global sort: each session interval
    * becomes two deltas (+1 at start, −1 past end); deltas reduce to
    * per-SECOND nets map-side (which also makes tie order moot — the
    * running sum is over distinct seconds, a total order); the running
    * concurrency then splits two-level, the a18/global-rank device: an
    * intra-hour running sum partitioned by hour (parallel across
    * hours), plus per-hour carry-ins from one tiny window over the
    * hour-count frame (time-range-bounded, broadcast back). Peak-per-
    * hour is greatest(carry-in, max point level) — between hour start
    * and its first delta the curve still sits at the carry-in, which
    * an hour of pure session-ends would otherwise under-report. */
  def w12Concurrency(spark: SparkSession, dir: String): DataFrame =
    concurrencyCurve(sessionSpans(spark, dir))

  /** THE session-span frame (user_id, session_seq, start_s, end_s) —
    * the single derivation w12, j12, g1 and g2 all build on (w6's
    * 30-min gap rule, event_id order). One definition, so the overlap/
    * graph tier can never drift off the sessionizer — and the matching
    * oracle CTE below moves in lockstep (the D10N discipline).
    *
    * Memoized per (session, dir) with the graphFor device (r22, r21
    * verdict ask #6): spans are INPUT DERIVATION shared by three
    * consumers — j12's overlap pairs, w12's concurrency curve, and the
    * co-presence graph build (which already memoized its spans-derived
    * edges, so the graph tier never recomputed them) — not any query's
    * result. One sessionize window pass per session instead of one per
    * consumer; each query's own verb (interval join, sweep-line,
    * overlap graph) stays fully in its timed line. Eager
    * localCheckpoint pins the frame; the temp-view name carries the
    * dir hash so distinct dirs cannot collide. */
  private val spanCache = SessionMemo[String, String]()
  def sessionSpans(spark: SparkSession, dir: String): DataFrame = {
    val view = spanCache.getOrBuild(spark, dir) {
      val name = "session_spans_" + Similarity.dirTag(dir)
      sessionAssign(Tables.events(spark, dir), gapSeconds = 1800L,
        orderCol = "event_id")
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("epoch_s")).as("start_s"),
          max(col("epoch_s")).as("end_s"))
        .localCheckpoint(true).createOrReplaceTempView(name)
      name
    }
    spark.table(view)
  }

  /** The DuckDB replay of [[sessionSpans]] (CTEs g → s → spans),
    * interpolated into every oracle that consumes spans. */
  private[graft] val SessionSpansCte: String =
    """g AS (
      |  SELECT user_id, event_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
      |    CAST(floor(epoch(ts)) AS BIGINT)
      |      - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
      |        OVER (PARTITION BY user_id ORDER BY event_id) AS gap
      |  FROM events),
      |s AS (
      |  SELECT user_id, epoch_s,
      |    CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS session_seq
      |  FROM g),
      |spans AS (
      |  SELECT user_id, session_seq,
      |    min(epoch_s) AS start_s, max(epoch_s) AS end_s
      |  FROM s GROUP BY user_id, session_seq)""".stripMargin

  /** The sweep-line kernel over caller-supplied [start_s, end_s] spans —
    * split out so overlap semantics (inclusive bounds, carry-in peaks,
    * tie collapsing) pin on planted intervals independent of the
    * sessionizer. */
  def concurrencyCurve(spans: DataFrame): DataFrame =
    curveFromDeltas(spanDeltas(spans))

  /** The per-second delta reduction of a span frame: (t, net, n_starts).
    * Sum-reduced, so it is ASSOCIATIVE and COMMUTATIVE over any split of
    * the spans — which is exactly what lets micro-batches fold into an
    * accumulated delta frame ([[graft.streaming.ConcurrencyStreamFold]],
    * w12's live twin) and serve through the SAME curve synthesis as
    * batch w12. */
  private[graft] def spanDeltas(spans: DataFrame): DataFrame =
    spans
      .select(col("start_s").as("t"), lit(1L).as("d"))
      .unionByName(spans.select((col("end_s") + 1L).as("t"), lit(-1L).as("d")))
      .groupBy(col("t"))
      .agg(sum(col("d")).as("net"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("n_starts"))

  /** Curve synthesis over an (already-reduced) delta frame. */
  private[graft] def curveFromDeltas(points: DataFrame): DataFrame = {
    // the per-second delta frame feeds BOTH the carry-in branch and the
    // point branch — eager localCheckpoint (the d35 gram-set device) so
    // the sessionize+union+reduce lineage runs ONCE, not once per
    // consumer; the frame is narrow (4 columns) and bounded by distinct
    // active seconds, so materializing it is the cheap side of the trade
    val deltas = points
      .withColumn("hour_idx", floor(col("t") / 3600L).cast("long"))
      .localCheckpoint(true)
    val hourNet = deltas.groupBy(col("hour_idx"))
      .agg(sum(col("net")).as("hour_net"))
    // the FULL hour lattice lo..hi (the w11 grid device): an hour wholly
    // inside a long session has no delta points, but the capacity curve
    // still sits at a nonzero level there — for a capacity-planning
    // output, silently omitting loaded hours misleads (r10 advice); the
    // lattice is TIME-RANGE-bounded, never corpus-sized
    val lattice = deltas
      .agg(min(col("hour_idx")).as("lo"), max(col("hour_idx")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("hour_idx"))
    // carry-in per LATTICE hour: one running sum over the hour-count
    // frame — single-partition by construction, bounded by the TIME
    // RANGE (sum skips the left-join nulls of delta-free hours)
    val wh = Window.orderBy(col("hour_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = lattice
      .join(broadcast(hourNet), Seq("hour_idx"), "left")
      .withColumn("carry_in", coalesce(sum(col("hour_net")).over(wh), lit(0L)))
      .select(col("hour_idx"), col("carry_in"))
    val wi = Window.partitionBy(col("hour_idx")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val deltaHours = deltas.join(broadcast(offsets), Seq("hour_idx"))
      .withColumn("conc", col("carry_in") + sum(col("net")).over(wi))
      .groupBy(col("hour_idx"), col("carry_in"))
      .agg(sum(col("n_starts")).as("n_starts"),
        min(col("t")).as("first_t"),
        max(col("conc")).as("max_point"))
      // the carry-in level exists WITHIN the hour only if there is time
      // before its first delta: a delta landing exactly on the hour
      // boundary (second hour_idx·3600) means the pre-delta level never
      // occurs inside this hour — counting it would report a phantom
      // peak for an hour the curve spent entirely at the post-delta
      // level (a session ending at second 3599 must not give hour 1 a
      // peak of 1)
      .select(col("hour_idx"), col("n_starts"),
        when(col("first_t") > col("hour_idx") * 3600L,
          greatest(col("carry_in"), col("max_point")))
          .otherwise(col("max_point")).as("max_concurrent"))
    // densify: delta-free hours report zero starts at the carried level
    // (both sides hour-count-bounded — broadcast keeps the lattice leg
    // off the shuffle it would otherwise add to the batch plan)
    offsets.join(broadcast(deltaHours), Seq("hour_idx"), "left")
      .select(col("hour_idx"),
        coalesce(col("n_starts"), lit(0L)).as("n_starts"),
        coalesce(col("max_concurrent"), col("carry_in")).as("max_concurrent"))
      .orderBy(col("hour_idx"))
  }

  /** W7 — feed-gap detection: for each user's event stream, flag
    * inter-event gaps beyond a threshold and report the outage profile
    * per user — the "missing sensor readings" monitoring query the
    * reference's domain runs on every feed (its dashboard assumes an
    * unbroken hourly series; this measures where that breaks). Same
    * one-exchange discipline as w6: the lag window and the per-user
    * aggregate share the user_id hash partitioning; epochs are
    * second-truncated integers so both engines compare identically. */
  def w7GapDetection(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("epoch_s"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("user_id") < 50)
      .withColumn("epoch_s", unix_timestamp(col("ts")))
      .withColumn("gap", col("epoch_s") - lag(col("epoch_s"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        count(col("gap")).as("n_intervals"),
        sum(when(col("gap") > 21600L, 1L).otherwise(0L)).as("n_outages"),
        max(col("gap")).as("max_gap_s"))
      .orderBy(col("user_id"))
  }

  /** W8 — ordered conversion funnel (view → click → purchase): per user,
    * the earliest view, the earliest click AT-OR-AFTER that view, and the
    * earliest purchase at-or-after that click; reported as the one-row
    * funnel card (stage user counts + conversion%). The product-analytics
    * query every event warehouse runs; order matters — a click before
    * the first view must NOT advance the funnel.
    *
    * Scale shape: one hash shuffle on user_id drives a single
    * partition+sort shared by all three running step expressions (each
    * is a running `min` over the (ts, step-rank) prefix — monotone, so
    * the per-user final value is just the ignore-null aggregate min),
    * then the funnel card is a global one-row aggregate. No joins, no
    * self-union, no per-step pass over the corpus — the three-join SQL
    * formulation the oracle uses would shuffle events three times. */
  def w8Funnel(spark: SparkSession, dir: String): DataFrame =
    funnelCard(Tables.events(spark, dir))

  /** W10 — OHLC resample bars per (event_type, hour): open/high/low/
    * close/count/sum — the downsampling verb every time-series store
    * exposes (candlesticks, sensor rollups, metric bars). First/last
    * are ORDER-SENSITIVE aggregates that Spark has no ordered-agg
    * syntax for; the windowless device is `min_by`/`max_by` over a
    * (unix_micros, event_id) struct — declarative aggregates with
    * map-side partial merge, so the whole query is ONE hash shuffle on
    * (type, hour) with partial aggregation, no corpus sort, no window.
    * A row_number() formulation would sort every partition; this plan's
    * per-bar cost is O(rows) with O(1) state per bar.
    *
    * The ordering key is unix_MICROS, not the raw timestamp, because
    * the parquet stamps are nanos and the engines must tie-break
    * identically after Spark's nanos→micros truncation (the oracle
    * mirrors with epoch_ns // 1000); event_id makes the key unique so
    * first/last are deterministic, not partition-order luck. Sums of
    * doubles round(2) (abs error ~1e-10 relative, far below the
    * rounding grain); open/close are exact row picks and high/low exact
    * extrema, so the bar values are engine-exact. */
  def w10OhlcBars(spark: SparkSession, dir: String): DataFrame =
    ohlcBars(Tables.events(spark, dir))

  /** The OHLC kernel over a caller-supplied (event_type, event_id, ts,
    * value) frame — split out so order-sensitivity (open/close pick by
    * (micros, event_id), not arrival luck) pins on planted rows in
    * OhlcSpec, independent of the oracle. */
  def ohlcBars(events: DataFrame): DataFrame = {
    val orderKey = struct(expr("unix_micros(ts)").as("us"), col("event_id"))
    events
      .select(col("event_type"), col("value"), col("event_id"), col("ts"),
        floor(unix_timestamp(col("ts")) / 3600L).cast("long").as("hour_idx"))
      .groupBy(col("event_type"), col("hour_idx"))
      .agg(
        min_by(col("value"), orderKey).as("open"),
        round(max(col("value")), 2).as("high"),
        round(min(col("value")), 2).as("low"),
        max_by(col("value"), orderKey).as("close"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("value_sum"))
      .orderBy(col("event_type"), col("hour_idx"))
  }

  /** W11 — forward-fill (LOCF) resample: every (event_type, hour) cell of
    * a complete hourly grid carries the LAST observed value at-or-before
    * it, so gaps surface as explicit filled rows — the frame a
    * time-series model trains on (the sparse frame under-represents
    * quiet hours), and the value-filling twin of w7's gap DETECTION and
    * f15's gap COUNTING.
    *
    * 100 TB shape: the corpus is touched exactly once, by a map-side-
    * combined hash aggregate down to (type, hour) cells; everything
    * after — grid synthesis (`sequence` explode off a single min/max
    * row × the tiny distinct-type frame), the left join (observed side
    * broadcast), and the LOCF window — runs on the GRID, whose size is
    * bounded by the time range × type cardinality, never by the corpus.
    * The per-type ordered window would be a parallelism wall if it ran
    * over raw events; over grid cells it is O(hours) per type.
    *
    * Within-hour pick is `max_by` over a (unix_micros, event_id) struct
    * — same deterministic tie-break as the OHLC close (w10), so both
    * engines carry forward the identical observation. */
  def w11ForwardFill(spark: SparkSession, dir: String): DataFrame =
    locfFill(Tables.events(spark, dir))

  /** The LOCF kernel over a caller-supplied (event_type, event_id, ts,
    * value) frame — split out so gap semantics (leading nulls stay null,
    * fills never cross type boundaries, within-hour pick is the LAST
    * observation) pin on planted rows in OhlcSpec, independent of the
    * oracle. */
  def locfFill(events: DataFrame): DataFrame = {
    val orderKey = struct(expr("unix_micros(ts)").as("us"), col("event_id"))
    val hourly = events
      .select(col("event_type"), col("value"), col("event_id"), col("ts"),
        floor(unix_timestamp(col("ts")) / 3600L).cast("long").as("hour_idx"))
      .groupBy(col("event_type"), col("hour_idx"))
      .agg(max_by(col("value"), orderKey).as("obs"),
        count(lit(1)).as("n_events"))
    // the grid: complete hour lattice spanning the data's own range,
    // one sequence explode off a single global min/max row, crossed
    // with the distinct types — both sides time/domain-bounded
    // (CensusSpec allowlists this broadcast-singleton nested loop)
    val hours = hourly.agg(min(col("hour_idx")).as("lo"), max(col("hour_idx")).as("hi"))
      .select(explode(expr("sequence(lo, hi)")).as("hour_idx"))
    val grid = hourly.select(col("event_type")).distinct().crossJoin(hours)
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(broadcast(hourly), Seq("event_type", "hour_idx"), "left")
      .select(col("event_type"), col("hour_idx"),
        round(col("obs"), 2).as("obs_value"),
        round(last(col("obs"), ignoreNulls = true).over(w), 2)
          .as("filled_value"),
        col("obs").isNull.as("is_gap"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy(col("event_type"), col("hour_idx"))
  }

  /** W13 — time-weighted average (TWAP): the hourly mean under
    * HOLD-UNTIL-NEXT semantics, where each reading's weight is the time
    * it remained the live value — the correct aggregate over
    * IRREGULARLY-sampled telemetry, and the number w10's per-event
    * `avg` misreports whenever sampling density correlates with level
    * (a sensor that reports every minute during spikes and hourly when
    * quiet drags the naive mean toward the spikes; TWAP weights the
    * quiet 59 minutes correctly). The financial twin is the
    * TWAP/realized-average bar; the telemetry twin is "average
    * concentration actually in the air this hour".
    *
    * Semantics: a reading holds from its own timestamp to the NEXT
    * reading of the same series ((micros, event_id) order — the w10
    * tie-break); the final reading of a series holds nothing (no
    * defined horizon — stated contract, pinned in spec). A segment
    * crossing hour boundaries contributes to EACH hour pro rata; hours
    * wholly inside one segment are covered by the explode (the w11
    * lattice lesson: a loaded-but-eventless hour must still report).
    *
    * Scale + float discipline: the lead window partitions by (type,
    * DAY BLOCK) — types × days parallelism; the r11 per-type-only
    * window serialized the corpus sort over |types| partitions, the
    * wall the r12 100× probe named — with block-crossing holds
    * recovered from the bounded per-(type, block) ends frame (see
    * [[hourlyTwapPartials]]); the hour explode is bounded by each
    * segment's own span (never a corpus × hours product), and the
    * aggregate is map-side combined. All weights are EXACT micros
    * longs; values quantize to an exact ×10⁴ integer basis (the sim19
    * device) and the weighted sum accumulates in DECIMAL(38,0) (Spark
    * long sum would wrap silently at 100 TB weight-mass; DuckDB's
    * BIGINT sum auto-widens to HUGEINT — decimal makes both exact), so
    * the ONLY float op is the final division, rounded(4). */
  def w13Twap(spark: SparkSession, dir: String): DataFrame =
    twapBars(Tables.events(spark, dir))

  private val HourUs = 3600000000L

  def twapBars(events: DataFrame): DataFrame =
    twapReport(hourlyTwapPartials(events))

  /** The per-(series, hour) TWAP partials: closed hold segments explode
    * pro-rata across the hours they cover and reduce to the ADDITIVE
    * triple (n_obs, mass = Σ v4·w as DECIMAL(38,0), w = Σ micros).
    * Split out because the triple is a MERGEABLE MONOID — plain
    * addition merges partials across micro-batches — which makes this
    * frame the live fold's state shape
    * ([[graft.streaming.TwapStreamFold]] folds exactly these rows; the
    * w15/a29 shared-state discipline). A series' final observation has
    * no successor → no closed segment → contributes nothing, in batch
    * and in the fold alike (where it is the pending carry). */
  /** Day-sized segmenting blocks for the two-level w13 plan. */
  private val TwapBlockUs: Long = 24L * HourUs

  private[graft] def hourlyTwapPartials(events: DataFrame): DataFrame = {
    // TWO-LEVEL hold segmenting (the r12 parallelism fix): a single
    // per-type window makes the corpus sort serialize over |types|
    // partitions — a parallelism wall a 1000-executor cluster feels
    // long before a 32-thread box does (the r12 100× probe read alpha
    // 0.53 with the sort as the named cost). Instead the lead window
    // partitions by (type, DAY BLOCK) — types × days parallelism — and
    // the segments that CROSS a block boundary are recovered from the
    // per-(type, block) ends frame: each block's last observation holds
    // until the next PRESENT block's first event (one lag over that
    // types×blocks-bounded frame, the w12 carry-in device — never the
    // corpus). Interior + boundary segments union into the identical
    // pro-rata explode, so the result is byte-identical to the
    // single-window form — the oracle did not move.
    val seq = Window.partitionBy(col("event_type"), col("blk"))
      .orderBy(col("us"), col("event_id"))
    val ev = events
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("us"),
        round(round(col("value"), 4) * 10000, 0).cast("long").as("v4"))
      // interior window + ends frame each scan the narrow projection;
      // at 100 TB two pushed-projection scans beat materializing the
      // corpus-sized frame a checkpoint would pin
      .withColumn("blk", expr(s"us div ${TwapBlockUs}L"))
    val interior = ev
      .withColumn("us_end", lead(col("us"), 1).over(seq))
      .filter(col("us_end").isNotNull)
      .select(col("event_type"), col("us"), col("v4"), col("us_end"))
    val wBlk = Window.partitionBy(col("event_type")).orderBy(col("blk"))
    val boundary = ev
      .groupBy(col("event_type"), col("blk"))
      .agg(min(struct(col("us"), col("event_id"))).as("first"),
        max(struct(col("us"), col("event_id"), col("v4"))).as("last"))
      .withColumn("next_first_us", lead(col("first.us"), 1).over(wBlk))
      .filter(col("next_first_us").isNotNull)
      .select(col("event_type"), col("last.us").as("us"),
        col("last.v4").as("v4"), col("next_first_us").as("us_end"))
    interior.unionByName(boundary)
      .filter(col("us_end") > col("us"))
      .withColumn("hour_idx", explode(sequence(
        expr(s"us div $HourUs"), expr(s"(us_end - 1) div $HourUs"))))
      .withColumn("w",
        least(col("us_end"), (col("hour_idx") + 1) * HourUs) -
          greatest(col("us"), col("hour_idx") * HourUs))
      .filter(col("w") > 0)
      .groupBy(col("event_type"), col("hour_idx"))
      .agg(
        count(lit(1)).as("n_obs"),
        sum((col("v4") * col("w")).cast("decimal(38,0)")).as("mass"),
        sum(col("w")).as("w"))
  }

  /** The report arithmetic over a caller-supplied partials frame —
    * shared verbatim by the batch query and the fold's serve pass, so
    * the division/round/order rules cannot drift. */
  private[graft] def twapReport(partials: DataFrame): DataFrame =
    partials
      .select(col("event_type"), col("hour_idx"), col("n_obs"),
        round((col("mass").cast("double") / col("w").cast("double"))
          / 10000.0, 4).as("twap"),
        round(col("w").cast("double") / 1000000.0, 2).as("coverage_s"))
      .orderBy(col("event_type"), col("hour_idx"))

  /** W14 — rolling cross-correlation matrix: 24-hour windowed Pearson
    * r between every pair of series (types), over hourly-mean resampled
    * values — "do these two signals move together, and does the
    * coupling drift" (pair monitoring / leading-indicator discovery;
    * a15's single global r hides a coupling that flips sign by regime,
    * which is exactly what the min_r/max_r spread surfaces).
    *
    * Scale shape: the corpus is touched ONCE by a map-side-combined
    * aggregate down to the (types × hours) profile frame; the pair
    * alignment self-join, the rolling windows, and the report all ride
    * that bounded frame (|types|²/2 pairs × hours), never events.
    *
    * Float discipline: hourly means quantize to an exact ×10⁴ integer
    * basis (the sim19 device), so every windowed moment (Σx, Σy, Σxy,
    * Σx², Σy²) is an EXACT LONG — the classic five-sums Pearson form
    * evaluates in one float expression per window, rounded(4), and r
    * re-quantizes before the per-pair summary so avg/min/max fold
    * integers. Windows require the full 24 aligned observations
    * (partial windows at series edges are excluded — stated contract);
    * zero-variance windows are excluded (x/0 guard). */
  def w14RollingCorr(spark: SparkSession, dir: String): DataFrame =
    rollingCorr(Tables.events(spark, dir))

  private[graft] def rollingCorr(events: DataFrame): DataFrame =
    rollingCorrFromHourly(hourlyMeanPartials(events))

  /** The per-(series, hour) mean partials behind w14: per-event values
    * quantize to the exact ×10⁴ integer basis FIRST (the w13/sim19
    * discipline applied one op earlier than the r11 form, which
    * averaged raw doubles and then quantized — same value on ≤4-dp
    * inputs, but (Σ v4, n) is an ADDITIVE MONOID where a double avg is
    * not), then reduce to (v4sum, n). Plain addition merges these
    * across micro-batches, so this frame is the live fold's state
    * shape ([[graft.streaming.RollingCorrStreamFold]]). */
  private[graft] def hourlyMeanPartials(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"),
        expr(s"unix_micros(ts) div $HourUs").as("hour_idx"))
      .agg(sum(round(col("value") * 10000, 0).cast("long")).as("v4sum"),
        count(lit(1)).as("n"))

  /** The pair-alignment + rolling-window + report arithmetic over a
    * caller-supplied hourly partials frame — shared verbatim by the
    * batch query and the fold's serve pass. The hourly mean m4 is one
    * exact-integer division rounded to the ×10⁴ grid; everything
    * downstream folds integers (the w14 five-sums device). */
  private[graft] def rollingCorrFromHourly(partials: DataFrame): DataFrame = {
    val h = partials
      .select(col("event_type"), col("hour_idx"),
        round(col("v4sum").cast("double") / col("n"), 0)
          .cast("long").as("m4"))
    val a = h.select(col("event_type").as("type_a"), col("hour_idx"),
      col("m4").as("x"))
    val b = h.select(col("event_type").as("type_b"), col("hour_idx"),
      col("m4").as("y"))
    val p = a.join(b, Seq("hour_idx")).filter(col("type_a") < col("type_b"))
    val w = Window.partitionBy(col("type_a"), col("type_b"))
      .orderBy(col("hour_idx")).rowsBetween(-23, 0)
    val wins = p.select(col("type_a"), col("type_b"),
        count(lit(1)).over(w).as("n"),
        sum(col("x")).over(w).as("sx"), sum(col("y")).over(w).as("sy"),
        sum(col("x") * col("y")).over(w).as("sxy"),
        sum(col("x") * col("x")).over(w).as("sxx"),
        sum(col("y") * col("y")).over(w).as("syy"))
      .filter(col("n") === 24)
      .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
      .filter(col("vx") =!= 0 && col("vy") =!= 0)
      .withColumn("r4", round(
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt(col("vx").cast("double")) * sqrt(col("vy").cast("double"))),
          4) * 10000, 0).cast("long"))
    wins.groupBy(col("type_a"), col("type_b")).agg(
        count(lit(1)).as("n_windows"),
        round(avg(col("r4")) / 10000.0, 4).as("avg_r"),
        round(min(col("r4")) / 10000.0, 4).as("min_r"),
        round(max(col("r4")) / 10000.0, 4).as("max_r"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** W15 — exponentially-weighted hourly volume baseline (EWMA burst
    * detector): per (event_type, hour), the EWMA of hourly event value
    * volume over the trailing 24 STRICTLY PRIOR hours with λ = 1/2,
    * and the hour's burst ratio against that baseline — "is this
    * hour's traffic an excursion from its own recent decay-weighted
    * history", the smoothing a23's flat rolling mean can't give (a
    * spike 23 hours ago weighs 2⁻²³ here but a full 1/24 there, so the
    * EWMA baseline recovers from a transient in ~3 hours instead of
    * dragging it for a day). The baseline EXCLUDES the current hour
    * (lags 1..24): the r11 lag-0 form gave the scored hour itself the
    * dominant weight, capping burst_ratio below 2 — a 100× spike read
    * as ~1.9998. Against strictly prior history the ratio is unbounded
    * and means what a burst detector needs it to mean; a series' first
    * hour has no history and reports NULL baseline/ratio.
    *
    * Exactness device: λ = 1/2 makes every truncated weight a POWER OF
    * TWO — scaled by 2²⁴ the lag-k weight is the exact long 2^(24−k),
    * so the weighted numerator (weights × hourly cents) and the
    * normalizing denominator both accumulate as EXACT LONG sums, immune
    * to aggregation-order float drift across engines (the w13/w14
    * integer-basis discipline, here closing over the weights too). The
    * only floats are the two final divisions, rounds(4). Headroom: the
    * max weight is 2²³, so the long numerator is exact while per-hour
    * volume stays under 2⁶³⁄2²³ ≈ 1.1e12 cents (10 billion dollars per
    * series-hour) — beyond that, switch the accumulator to
    * DECIMAL(38,0), the w13 device (DuckDB's BIGINT sum auto-widens to
    * HUGEINT, so the oracle would error before Spark's non-ANSI sum
    * wrapped — stated bound, not a silent edge). Hours missing from a
    * series contribute no weight — the denominator renormalizes over
    * the hours actually present in the 24-hour tail (stated contract;
    * the w11 grid would densify if a consumer needed the zero-filled
    * reading).
    *
    * Scale shape: ONE map-side-combined corpus aggregate down to the
    * (types × hours) hourly frame; the 24-way lag explode and both
    * aggregates ride that bounded profile, never events, and the
    * final attach is a broadcast join. */
  def w15EwmaBaseline(spark: SparkSession, dir: String): DataFrame =
    ewmaBaseline(Tables.events(spark, dir))

  private[graft] def ewmaBaseline(events: DataFrame): DataFrame =
    ewmaFromHourly(hourlyCents(events))

  /** The corpus reduction behind w15: hourly exact-cents volume per
    * series — ONE map-side-combined aggregate. Split out because this
    * additive frame is ALSO the live fold's state shape
    * ([[graft.streaming.EwmaStreamFold]] merges these per batch). */
  private[graft] def hourlyCents(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"),
        expr("unix_timestamp(ts) div 3600").as("hour_idx"))
      .agg(sum(expr("cast(round(value * 100, 0) as bigint)")).as("cents"))

  /** The EWMA arithmetic over a caller-supplied hourly-cents frame —
    * shared verbatim by the batch query and the streaming fold's serve
    * pass, so the two legs cannot drift (the a26/seasonalReport
    * discipline). */
  private[graft] def ewmaFromHourly(h: DataFrame): DataFrame = {
    // Lags 1..24: the baseline is STRICTLY PRIOR history. The r11 form
    // included lag 0 with the dominant weight 2^23 (more than half the
    // total), which mathematically capped burst_ratio below 2 — a 100×
    // traffic spike read as ~1.9998, undercutting the detector's whole
    // point. With the current hour excluded, a spike against a quiet
    // baseline reads as the multiple it is. A series' FIRST hour has no
    // prior history → left join → NULL baseline and ratio (stated
    // contract, the w16 NULL-not-fake-zero rule).
    val contrib = h
      .withColumn("k", explode(sequence(lit(1), lit(24))))
      .select(col("event_type"),
        (col("hour_idx") + col("k")).as("hour_idx"),
        expr("shiftleft(cast(1 as bigint), 24 - k)").as("w"),
        col("cents").as("src_cents"))
      .groupBy(col("event_type"), col("hour_idx"))
      .agg(sum(col("w") * col("src_cents")).as("num"),
        sum(col("w")).as("den"))
    h.join(broadcast(contrib), Seq("event_type", "hour_idx"), "left")
      .select(col("event_type"), col("hour_idx"),
        col("cents").as("volume_cents"),
        round(col("num").cast("double") / (col("den") * lit(100.0)), 4)
          .as("ewma_value"),
        when(col("num").isNull || col("num") === 0L,
          lit(null).cast("double"))
          .otherwise(round(col("cents").cast("double") * col("den")
            / col("num"), 4)).as("burst_ratio"))
      .orderBy(col("event_type"), col("hour_idx"))
  }

  /** W16 — day-over-day hourly volume comparison: each (series, hour)
    * against the SAME CLOCK HOUR yesterday — the "vs yesterday" number
    * every metrics dashboard leads with, and the seasonal-aware
    * complement to w15 (the EWMA baseline smooths the recent past; DoD
    * compares like hour to like hour, so a daily traffic rhythm never
    * reads as a burst). Hours with no same-hour-yesterday observation
    * (series start, gaps) report NULL change rather than vanishing or
    * faking a 0% — stated contract; a zero-volume prior hour also
    * reports NULL (x/0, the d29 engine-divergence guard).
    *
    * Scale shape: the corpus collapses ONCE through the shared w15
    * hourly-cents kernel (checkpointed — it feeds both sides of the
    * lag join), and the hour_idx−24 self-join rides that bounded
    * (types × hours) profile as an equi-join — a row-lag window would
    * silently compare against "the previous OBSERVED hour" across
    * gaps, which is exactly the wrong number. Cents stay exact longs;
    * change is one float expression, rounds(4). */
  def w16DayOverDay(spark: SparkSession, dir: String): DataFrame =
    dayOverDay(Tables.events(spark, dir))

  private[graft] def dayOverDay(events: DataFrame): DataFrame =
    dayOverDayFromHourly(hourlyCents(events))

  /** The same-clock-hour comparison over a caller-supplied hourly-cents
    * frame — shared verbatim by the batch query and
    * [[graft.streaming.DayOverDayStreamFold]]'s serve pass (hourly
    * cents are the SAME additive state w15's fold already proves). */
  private[graft] def dayOverDayFromHourly(h0: DataFrame): DataFrame = {
    val h = h0.localCheckpoint(true)
    val prev = h.select(col("event_type"),
      (col("hour_idx") + 24).as("hour_idx"),
      col("cents").as("prev_cents"))
    h.join(prev, Seq("event_type", "hour_idx"), "left")
      .select(col("event_type"), col("hour_idx"),
        col("cents").as("volume_cents"), col("prev_cents"),
        when(col("prev_cents").isNull || col("prev_cents") === 0L,
          lit(null).cast("double"))
          .otherwise(round((col("cents") - col("prev_cents")) * 100.0
            / col("prev_cents"), 4)).as("change_pct"))
      .orderBy(col("event_type"), col("hour_idx"))
  }

  /** W17 — conversion-latency distribution: over users who completed
    * w8's ordered funnel (view → click ≥ view → purchase ≥ click), the
    * one-row latency card — converter count, exact interpolated
    * p50/p90 and max of total view→purchase seconds, and mean
    * per-stage latencies. The funnel COUNTS (w8) say how many convert;
    * this says how LONG conversion takes and where the time goes —
    * the number an onboarding or checkout team actually optimizes.
    *
    * Scale + determinism shape: rides [[funnelStages]]'s single
    * user_id shuffle verbatim (the per-user stage frame is the shared
    * kernel — the two queries cannot disagree on what "converted"
    * means); latencies are SECOND-truncated integer epochs (the w7
    * device: both engines floor identically), the percentile is a14's
    * exact interpolated convention (Spark `percentile` ≡ DuckDB
    * `quantile_cont`; approx would not hash-match), stage means
    * average over CONVERTERS only (the p-join contract, stated). The
    * exact percentile buffers converter latencies on one reducer —
    * converters are user-bounded, orders of magnitude under events
    * (the a14 boundedness argument). */
  def w17ConversionLatency(spark: SparkSession, dir: String): DataFrame =
    conversionLatency(Tables.events(spark, dir))

  private[graft] def conversionLatency(events: DataFrame): DataFrame =
    funnelStages(events)
      .filter(col("p").isNotNull)
      .select(
        (expr("unix_timestamp(c)") - expr("unix_timestamp(v)"))
          .as("view_to_click_s"),
        (expr("unix_timestamp(p)") - expr("unix_timestamp(c)"))
          .as("click_to_purchase_s"),
        (expr("unix_timestamp(p)") - expr("unix_timestamp(v)"))
          .as("total_s"))
      .agg(count(lit(1)).as("n_converters"),
        round(expr("percentile(total_s, 0.5)"), 2).as("p50_total_s"),
        round(expr("percentile(total_s, 0.9)"), 2).as("p90_total_s"),
        max(col("total_s")).as("max_total_s"),
        round(avg(col("view_to_click_s")), 2).as("avg_view_to_click_s"),
        round(avg(col("click_to_purchase_s")), 2)
          .as("avg_click_to_purchase_s"))

  /** W18 — event-time lateness audit: how far out of event-time order
    * does the arrival log run? For every event, lateness = how far its
    * timestamp sits BEHIND the latest timestamp already arrived for
    * the same user (event_id is the arrival order — the producer→
    * consumer contract the ST tier replays), bucketed
    * {in_order, ≤60 s, ≤1 h, >1 h} per event type with counts, shares,
    * and the worst case. This is the batch diagnostic that SETS a
    * watermark: Structured Streaming's `withWatermark` horizon is
    * exactly "the lateness beyond which events drop" — a real team
    * reads this card and picks the boundary whose loss share it can
    * live with, instead of folklore-copying "10 minutes".
    *
    * Scale + determinism shape: ONE user-partitioned window ordered by
    * event_id (the w5/w7 shuffle — never a global order), running max
    * over PRECEDING rows only; lateness in SECOND-truncated integer
    * epochs (the w7 device); shares round(4) off exact long counts
    * over the ≤|types×buckets| grouped frame. The frontier is per-user
    * BY CONSTRUCTION: a cross-user frontier would depend on executor
    * interleaving — a non-deterministic quantity no registered
    * statistic may touch. No fold twin by design: the audit is a
    * property of the ARRIVAL LOG itself, and the landed corpus with
    * event_id IS that log — a fold would re-derive the same frame from
    * the same rows. */
  def w18LatenessAudit(spark: SparkSession, dir: String): DataFrame =
    latenessAudit(Tables.events(spark, dir))

  /** The shared per-event lateness frame (w18's kernel, split out so
    * w19's horizon derivation reads the SAME definition of "late"): one
    * user-partitioned window ordered by arrival, running max over
    * PRECEDING rows, second-truncated integer lateness. */
  private def lateness(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("us", expr("unix_timestamp(ts)"))
      .withColumn("frontier", max(col("us")).over(w))
      .withColumn("late_s",
        when(col("frontier").isNull, 0L)
          .otherwise(greatest(col("frontier") - col("us"), lit(0L))))
  }

  private[graft] def latenessAudit(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val late = lateness(events)
      .withColumn("bucket",
        when(col("late_s") === 0L, "in_order")
          .when(col("late_s") <= 60L, "late_1m")
          .when(col("late_s") <= 3600L, "late_1h")
          .otherwise("late_over_1h"))
    late.groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"), max(col("late_s")).as("max_late_s"))
      .withColumn("share",
        round(col("n").cast("double") * lit(100.0)
          / sum(col("n")).over(
            Window.partitionBy(col("event_type"))), 4))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** W19 — watermark HORIZON derivation: the CONSUMER w18's card was
    * written for (r14 verdict ask #4). w18 measures how late arrivals
    * run; w19 executes the "read the card, pick the boundary" step: it
    * walks the fixed boundary ladder {0 s, 60 s, 3600 s, max-observed}
    * over the SAME lateness kernel and marks CHOSEN the smallest
    * boundary whose cumulative arrival coverage clears 99% — exactly
    * the number `withWatermark` wants, with the loss share the team
    * accepted printed beside it. The streaming twin
    * ([[graft.streaming.Windows.latenessBoundedCounts]]) feeds this
    * horizon to a real watermarked window, and StreamingSpec pins that
    * the horizon admits/drops exactly the shares this card predicts on
    * planted lateness.
    *
    * Scale shape: the corpus reduces through ONE aggregate on the
    * lateness frame (the same w5/w7 user-partition shuffle w18 pays);
    * the ladder is a 4-row explode of that single aggregate row —
    * never a per-boundary rescan. Shares round(4) off exact longs
    * before the coverage compare, so both engines pick the same rung
    * on a borderline corpus. */
  def w19WatermarkHorizon(spark: SparkSession, dir: String): DataFrame =
    watermarkHorizon(Tables.events(spark, dir))

  private[graft] def watermarkHorizon(events: DataFrame,
                                      coverage: Double = 0.99): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = lateness(events).agg(
      count(lit(1)).as("n"),
      sum(when(col("late_s") <= 0L, 1L).otherwise(0L)).as("n0"),
      sum(when(col("late_s") <= 60L, 1L).otherwise(0L)).as("n1"),
      sum(when(col("late_s") <= 3600L, 1L).otherwise(0L)).as("n2"),
      max(col("late_s")).as("mx"))
    val cand = agg.select(explode(array(
        struct(lit(1).as("prec"), lit("in_order").as("bucket"),
          lit(0L).as("boundary_s"), col("n0").as("n_within"), col("n")),
        struct(lit(2).as("prec"), lit("late_1m").as("bucket"),
          lit(60L).as("boundary_s"), col("n1").as("n_within"), col("n")),
        struct(lit(3).as("prec"), lit("late_1h").as("bucket"),
          lit(3600L).as("boundary_s"), col("n2").as("n_within"), col("n")),
        struct(lit(4).as("prec"), lit("max_late").as("bucket"),
          col("mx").as("boundary_s"), col("n").as("n_within"), col("n"))))
        .as("c"))
      .select(col("c.*"))
      // n=0 (empty corpus): shares are NULL, no rung is chosen — not an
      // ANSI 0/0 error (advisor r15; the one-value reader maps this to
      // horizon 0)
      .withColumn("cum_share", when(col("n") > 0,
        round(col("n_within").cast("double") / col("n"), 4)))
    cand
      .withColumn("chosen", col("prec") ===
        min(when(col("cum_share") >= coverage, col("prec")))
          .over(Window.partitionBy(lit(1))))
      .select(col("bucket"), col("boundary_s"), col("n_within"),
        col("cum_share"), col("chosen"))
      .orderBy(col("boundary_s"), col("bucket"))
  }

  /** The chosen horizon in seconds, for callers wiring a stream — the
    * one-value read of the w19 card. An EMPTY events frame marks no
    * rung chosen (every cum_share is NULL on n=0), so the read returns
    * 0 — "no observed lateness, watermark at the event time itself" —
    * instead of throwing NoSuchElementException at the caller wiring
    * this straight into withWatermark (advisor r15). */
  def chosenHorizonSeconds(events: DataFrame,
                           coverage: Double = 0.99): Long =
    watermarkHorizon(events, coverage)
      .filter(col("chosen")).limit(1).collect()
      .headOption.map(_.getAs[Long]("boundary_s")).getOrElse(0L)

  /** W20 — Pareto / concentration card: per event type, how
    * concentrated is value across users? Prints the classic 80/20
    * readouts — the top decile's value share, the minimum number of
    * users covering 80% of value, and the Gini coefficient — the
    * numbers that decide whether per-user joins need j10's salting
    * (a handful of whales dominate) and whether a mean is even worth
    * reading before a40's winsorization.
    *
    * Scale + determinism: ONE user-partitioned reduction to exact
    * per-user cents, then one ranking window per event type over the
    * USER-sized frame (the w5 shuffle — never a global order over raw
    * events). All running sums and rank products are exact longs; the
    * 80% boundary compares 5·cum ≥ 4·total in integers (no float
    * threshold can sit on the fence); Gini comes from the
    * ascending-rank identity Σ i·x = (n+1)·Σx − Σ rk_desc·x, so its
    * only floats are two final divisions, rounded(4). Value-free
    * types (total 0) report NULL shares, not an engine-specific 0/0. */
  def w20ParetoConcentration(spark: SparkSession, dir: String): DataFrame =
    paretoConcentration(Tables.events(spark, dir))

  private[graft] def paretoConcentration(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uc = events.filter(col("value").isNotNull)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    val part = Window.partitionBy(col("event_type"))
    val w = part.orderBy(col("cents").desc, col("user_id").asc)
    val ranked = uc
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("cents")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_users", count(lit(1)).over(part))
      .withColumn("total", sum(col("cents")).over(part))
    ranked.groupBy(col("event_type"))
      .agg(
        first(col("n_users")).as("n_users"),
        first(col("total")).as("total_cents"),
        max(when(col("rk") === expr("(n_users + 9) div 10"), col("cum")))
          .as("top_decile_cents"),
        min(when(col("cum") * 5 >= col("total") * 4, col("rk")))
          .as("users_to_80pct"),
        sum(col("rk") * col("cents")).as("s_rkc"))
      .select(col("event_type"), col("n_users"), col("total_cents"),
        when(col("total_cents") > 0,
          round(col("top_decile_cents").cast("double")
            / col("total_cents"), 4)).as("top_decile_share"),
        when(col("total_cents") > 0, col("users_to_80pct"))
          .as("users_to_80pct"),
        when(col("total_cents") > 0, round(
          lit(2.0) * ((col("n_users") + 1) * col("total_cents")
            - col("s_rkc")).cast("double")
            / (col("n_users") * col("total_cents"))
            - (col("n_users") + 1).cast("double") / col("n_users"), 4))
          .as("gini"))
      .orderBy(col("event_type"))
  }

  /** The funnel kernel over a caller-supplied (user_id, ts, event_type)
    * frame — split out so the order-sensitivity semantics (a click
    * BEFORE the first view must not advance the funnel) are pinned on
    * planted rows in FunnelSpec, independent of the oracle. */
  def funnelCard(events: DataFrame): DataFrame =
    funnelStages(events).agg(
        count(col("v")).as("n_view"),
        count(col("c")).as("n_click_after_view"),
        count(col("p")).as("n_purchase_after_click"))
      // explicit zero-view guard: engines disagree on x/0 (the d29
      // empty-input lesson) — a view-free slice reports NULL, not an
      // engine-specific division artifact
      .withColumn("conversion_pct",
        when(col("n_view") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_purchase_after_click") * 100.0
            / col("n_view"), 4)))

  /** The per-user stage frame behind [[funnelCard]]: (user_id, v, c, p)
    * — first view, first click at-or-after it, first purchase
    * at-or-after that (nulls where a stage was never reached). Split
    * out so the streaming state machine
    * ([[graft.streaming.Windows.funnelStream]]) pins stream ≡ batch on
    * this frame, the d18'/as-of parity discipline. */
  def funnelStages(events: DataFrame): DataFrame = {
    // step rank breaks intra-timestamp ties in funnel order (a click at
    // the exact ts of the first view qualifies — `>=` semantics, matching
    // the oracle's ts-only comparison)
    val stepRank = when(col("event_type") === "view", 0)
      .when(col("event_type") === "click", 1).otherwise(2)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), stepRank)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .withColumn("view_ts",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("click_ts",
        min(when(col("event_type") === "click" &&
          col("view_ts").isNotNull && col("ts") >= col("view_ts"),
          col("ts"))).over(w))
      .withColumn("purchase_ts",
        min(when(col("event_type") === "purchase" &&
          col("click_ts").isNotNull && col("ts") >= col("click_ts"),
          col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(min(col("view_ts")).as("v"), min(col("click_ts")).as("c"),
        min(col("purchase_ts")).as("p"))
  }

  /** W9 — cohort retention: users grouped by first-activity week, and
    * for each (cohort, week-offset) the count of distinct users active
    * that many weeks later — the retention triangle every growth
    * dashboard renders, and the engagement-weighting signal a
    * behavioral-data curation pass reads. Scale shape: ONE hash
    * shuffle on user_id serves both the cohort window (min week over
    * the user partition, no sort needed) and the (user, cohort, offset)
    * dedup that makes the final count distinct-by-construction; the
    * (cohort, offset) rollup then shuffles rows bounded by
    * users×active-weeks, already deduplicated map-side. Weeks are
    * integer epoch-week indices so both engines bucket identically. */
  def w9CohortRetention(spark: SparkSession, dir: String): DataFrame =
    cohortFromWeeks(userWeeks(Tables.events(spark, dir)))

  /** The (user, epoch-week) projection behind w9 — NOT deduplicated
    * here: the batch plan's dedup rides the (user, cohort, offset)
    * frame AFTER the cohort window so both share ONE user_id exchange
    * (PlanSpec-pinned ≤ 3); the fold dedups its own state instead
    * (distinct of a union ≡ union of distincts, so the two paths agree
    * — [[graft.streaming.CohortStreamFold]]). */
  private[graft] def userWeeks(events: DataFrame): DataFrame =
    events.select(col("user_id"),
      floor(unix_timestamp(col("ts")) / 604800L).cast("long").as("week"))

  /** Cohort window + offset dedup + census over a caller-supplied
    * (user, week) frame — shared verbatim by batch (raw projection) and
    * the fold's serve pass (already-distinct state — the inner distinct
    * is then a content no-op, keeping one kernel for both). Because the
    * cohort (min week) recomputes here, the fold needs NO ordering
    * contract at all: a late-arriving earlier week retroactively
    * re-cohorts its user, exactly as a batch rerun would. */
  private[graft] def cohortFromWeeks(pairs: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    pairs
      .withColumn("cohort", min(col("week")).over(byUser))
      .select(col("user_id"), col("cohort"),
        (col("week") - col("cohort")).as("week_offset"))
      .distinct()
      .groupBy(col("cohort"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort"), col("week_offset"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "w9_cohort_retention" -> w9CohortRetention,
    "w10_ohlc_bars" -> w10OhlcBars,
    "w13_twap" -> w13Twap,
    "w14_rolling_corr" -> w14RollingCorr,
    "w15_ewma_baseline" -> w15EwmaBaseline,
    "w16_day_over_day" -> w16DayOverDay,
    "w11_forward_fill" -> w11ForwardFill,
    "w12_concurrency" -> w12Concurrency,
    "w8_funnel" -> w8Funnel,
    "w17_conversion_latency" -> w17ConversionLatency,
    "w18_lateness_audit" -> w18LatenessAudit,
    "w19_watermark_horizon" -> w19WatermarkHorizon,
    "w20_pareto_concentration" -> w20ParetoConcentration,
    "w7_gap_detection" -> w7GapDetection,
    "w6_sessionize" -> w6Sessionize,
    "w1_topn_per_group" -> w1TopNPerGroup,
    "w2_lag_delta" -> w2LagDelta,
    "w3_moving_avg" -> w3MovingAvg,
    "w4_running_sum" -> w4RunningSum,
    "w5_distribution_ranks" -> w5DistributionRanks
  )

  val oracle: Map[String, String] = Map(
    // w18 replays the per-user arrival-order frontier, the second-
    // truncated integer lateness, the bucket CASE, and the share off
    // exact counts (CAST AS DOUBLE before the 100.0 product — a bare
    // decimal would pull DuckDB into decimal division)
    "w18_lateness_audit" ->
      """WITH l AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS us,
        |    max(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
        |      PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS frontier
        |  FROM events),
        |l2 AS (
        |  SELECT event_type,
        |    CASE WHEN frontier IS NULL THEN 0
        |         ELSE greatest(frontier - us, 0) END AS late_s
        |  FROM l),
        |l3 AS (
        |  SELECT event_type,
        |    CASE WHEN late_s = 0 THEN 'in_order'
        |         WHEN late_s <= 60 THEN 'late_1m'
        |         WHEN late_s <= 3600 THEN 'late_1h'
        |         ELSE 'late_over_1h' END AS bucket, late_s
        |  FROM l2),
        |g AS (
        |  SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
        |    CAST(max(late_s) AS BIGINT) AS max_late_s
        |  FROM l3 GROUP BY 1, 2)
        |SELECT event_type, bucket, n, max_late_s,
        |  round(CAST(n AS DOUBLE) * 100.0
        |    / sum(n) OVER (PARTITION BY event_type), 4) AS share
        |FROM g ORDER BY event_type, bucket""".stripMargin,
    // w19 rides w18's lateness CTE verbatim (ONE definition of "late"),
    // then the fixed boundary ladder off a single aggregate row and the
    // chosen-rung rule on the rounded coverage — exact longs until the
    // final round(4), so both engines pick the same rung
    "w19_watermark_horizon" ->
      """WITH l AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS us,
        |    max(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
        |      PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS frontier
        |  FROM events),
        |l2 AS (
        |  SELECT CASE WHEN frontier IS NULL THEN 0
        |         ELSE greatest(frontier - us, 0) END AS late_s
        |  FROM l),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN late_s <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN late_s <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN late_s <= 3600 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(max(late_s) AS BIGINT) AS mx
        |  FROM l2),
        |c AS (
        |  SELECT 1 AS prec, 'in_order' AS bucket,
        |    CAST(0 AS BIGINT) AS boundary_s, n0 AS n_within, n FROM s
        |  UNION ALL SELECT 2, 'late_1m', CAST(60 AS BIGINT), n1, n FROM s
        |  UNION ALL SELECT 3, 'late_1h', CAST(3600 AS BIGINT), n2, n FROM s
        |  UNION ALL SELECT 4, 'max_late', mx, n, n FROM s),
        |c2 AS (
        |  SELECT prec, bucket, boundary_s, n_within,
        |    round(CAST(n_within AS DOUBLE) / n, 4) AS cum_share FROM c)
        |SELECT bucket, boundary_s, n_within, cum_share,
        |  prec = min(CASE WHEN cum_share >= CAST(0.99 AS DOUBLE)
        |                  THEN prec END) OVER () AS chosen
        |FROM c2 ORDER BY boundary_s, bucket""".stripMargin,
    // w20: exact per-user cents, one ranking window per type, integer
    // 80% boundary (5·cum ≥ 4·total), Gini off the ascending-rank
    // identity — the two final divisions are the only floats
    "w20_pareto_concentration" ->
      """WITH uc AS (
        |  SELECT event_type, user_id,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY event_type, user_id),
        |r AS (
        |  SELECT event_type, cents,
        |    CAST(row_number() OVER wr AS BIGINT) AS rk,
        |    CAST(sum(cents) OVER wc AS BIGINT) AS cum,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n_users,
        |    CAST(sum(cents) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS total
        |  FROM uc
        |  WINDOW
        |    wr AS (PARTITION BY event_type
        |           ORDER BY cents DESC, user_id ASC),
        |    wc AS (PARTITION BY event_type
        |           ORDER BY cents DESC, user_id ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (
        |  SELECT event_type,
        |    max(n_users) AS n_users, max(total) AS total_cents,
        |    max(CASE WHEN rk = (n_users + 9) // 10 THEN cum END)
        |      AS top_decile_cents,
        |    min(CASE WHEN cum * 5 >= total * 4 THEN rk END)
        |      AS users_to_80pct,
        |    CAST(sum(rk * cents) AS BIGINT) AS s_rkc
        |  FROM r GROUP BY event_type)
        |SELECT event_type, n_users, total_cents,
        |  CASE WHEN total_cents > 0 THEN
        |    round(CAST(top_decile_cents AS DOUBLE) / total_cents, 4)
        |  END AS top_decile_share,
        |  CASE WHEN total_cents > 0 THEN users_to_80pct END
        |    AS users_to_80pct,
        |  CASE WHEN total_cents > 0 THEN
        |    round(2.0 * CAST((n_users + 1) * total_cents - s_rkc
        |        AS DOUBLE) / (n_users * total_cents)
        |      - CAST(n_users + 1 AS DOUBLE) / n_users, 4)
        |  END AS gini
        |FROM g ORDER BY event_type""".stripMargin,
    // w17 rides w8's funnel CTEs verbatim (shared stage semantics) and
    // adds the latency card: second-floored epochs, quantile_cont = the
    // a14 exact-interpolation convention, stage means over converters
    "w17_conversion_latency" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |v AS (SELECT user_id, min(ts) AS vts FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS cts FROM e
        |      JOIN v ON e.user_id = v.user_id AND e.ts >= v.vts
        |      WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS pts FROM e
        |      JOIN c ON e.user_id = c.user_id AND e.ts >= c.cts
        |      WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        |lat AS (
        |  SELECT
        |    CAST(floor(epoch(cts)) AS BIGINT)
        |      - CAST(floor(epoch(vts)) AS BIGINT) AS view_to_click_s,
        |    CAST(floor(epoch(pts)) AS BIGINT)
        |      - CAST(floor(epoch(cts)) AS BIGINT) AS click_to_purchase_s,
        |    CAST(floor(epoch(pts)) AS BIGINT)
        |      - CAST(floor(epoch(vts)) AS BIGINT) AS total_s
        |  FROM p JOIN c USING (user_id) JOIN v USING (user_id))
        |SELECT count(*) AS n_converters,
        |  round(quantile_cont(total_s, 0.5), 2) AS p50_total_s,
        |  round(quantile_cont(total_s, 0.9), 2) AS p90_total_s,
        |  max(total_s) AS max_total_s,
        |  round(avg(view_to_click_s), 2) AS avg_view_to_click_s,
        |  round(avg(click_to_purchase_s), 2) AS avg_click_to_purchase_s
        |FROM lat""".stripMargin,
    // w16 replays the hour_idx−24 equi-join on the same hourly exact
    // cents — the NULL contract (no prior / zero prior) is explicit in
    // both engines
    "w16_day_over_day" ->
      """WITH h AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour_idx,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events GROUP BY 1, 2)
        |SELECT h.event_type, h.hour_idx, h.cents AS volume_cents,
        |  p.cents AS prev_cents,
        |  CASE WHEN p.cents IS NULL OR p.cents = 0 THEN NULL
        |       ELSE round((h.cents - p.cents) * 100.0 / p.cents, 4)
        |  END AS change_pct
        |FROM h LEFT JOIN h p
        |  ON p.event_type = h.event_type
        | AND p.hour_idx = h.hour_idx - 24
        |ORDER BY h.event_type, h.hour_idx""".stripMargin,
    // w15 replays the power-of-two weight ladder as exact BIGINT
    // shifts — both engines sum longs, so aggregation order can't
    // drift the float tail; divisions are the only float ops
    "w15_ewma_baseline" ->
      """WITH h AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour_idx,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events GROUP BY 1, 2),
        |contrib AS (
        |  SELECT h.event_type, h.hour_idx + t.k AS hour_idx,
        |    CAST(sum((CAST(1 AS BIGINT) << (24 - t.k)) * h.cents)
        |      AS BIGINT) AS num,
        |    CAST(sum(CAST(1 AS BIGINT) << (24 - t.k)) AS BIGINT) AS den
        |  FROM h CROSS JOIN range(1, 25) t(k)
        |  GROUP BY 1, 2)
        |SELECT h.event_type, h.hour_idx, h.cents AS volume_cents,
        |  round(CAST(c.num AS DOUBLE) / (c.den * 100.0), 4) AS ewma_value,
        |  CASE WHEN c.num IS NULL OR c.num = 0 THEN NULL
        |       ELSE round(CAST(h.cents AS DOUBLE) * c.den / c.num, 4)
        |  END AS burst_ratio
        |FROM h LEFT JOIN contrib c USING (event_type, hour_idx)
        |ORDER BY event_type, hour_idx""".stripMargin,
    // w14 replays the hourly-mean quantization, the five exact integer
    // window moments, and the one-float-expression Pearson form
    "w14_rolling_corr" ->
      """WITH hp AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
        |    CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT)
        |      AS v4sum,
        |    count(*) AS n
        |  FROM events GROUP BY event_type, hour_idx),
        |h AS (
        |  SELECT event_type, hour_idx,
        |    CAST(round(CAST(v4sum AS DOUBLE) / n, 0) AS BIGINT) AS m4
        |  FROM hp),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.hour_idx, a.m4 AS x, b.m4 AS y
        |  FROM h a JOIN h b ON a.hour_idx = b.hour_idx
        |   AND a.event_type < b.event_type),
        |wins AS (
        |  SELECT type_a, type_b,
        |    count(*) OVER w AS n,
        |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
        |    sum(x*y) OVER w AS sxy, sum(x*x) OVER w AS sxx,
        |    sum(y*y) OVER w AS syy
        |  FROM p
        |  WINDOW w AS (PARTITION BY type_a, type_b ORDER BY hour_idx
        |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
        |rr AS (
        |  SELECT type_a, type_b,
        |    CAST(round(round(
        |      CAST(n*sxy - sx*sy AS DOUBLE)
        |        / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
        |         * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 4) * 10000, 0)
        |      AS BIGINT) AS r4
        |  FROM wins
        |  WHERE n = 24 AND n*sxx - sx*sx <> 0 AND n*syy - sy*sy <> 0)
        |SELECT type_a, type_b, count(*) AS n_windows,
        |  round(avg(r4) / 10000.0, 4) AS avg_r,
        |  round(min(r4) / 10000.0, 4) AS min_r,
        |  round(max(r4) / 10000.0, 4) AS max_r
        |FROM rr GROUP BY type_a, type_b
        |ORDER BY type_a, type_b""".stripMargin,
    // w13 replays hold-until-next segments, the per-segment hour
    // explode, and the exact-integer weighted sum (v4 × micros; DuckDB's
    // BIGINT sum widens to HUGEINT ≡ Spark's DECIMAL(38,0) — both exact)
    "w13_twap" ->
      """WITH seg AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |    CAST(round(round(value, 4) * 10000, 0) AS BIGINT) AS v4,
        |    lead(epoch_us(ts)) OVER (
        |      PARTITION BY event_type
        |      ORDER BY epoch_us(ts), event_id) AS us_end
        |  FROM events),
        |x AS (
        |  SELECT event_type, v4, us, us_end,
        |    unnest(range(us // 3600000000,
        |                 ((us_end - 1) // 3600000000) + 1)) AS hour_idx
        |  FROM seg WHERE us_end IS NOT NULL AND us_end > us),
        |ov AS (
        |  SELECT event_type, hour_idx, v4,
        |    least(us_end, (hour_idx + 1) * 3600000000)
        |      - greatest(us, hour_idx * 3600000000) AS w
        |  FROM x)
        |SELECT event_type, hour_idx, count(*) AS n_obs,
        |  round(CAST(sum(v4 * w) AS DOUBLE)
        |    / CAST(sum(w) AS DOUBLE) / 10000.0, 4) AS twap,
        |  round(CAST(sum(w) AS DOUBLE) / 1000000.0, 2) AS coverage_s
        |FROM ov WHERE w > 0
        |GROUP BY event_type, hour_idx
        |ORDER BY event_type, hour_idx""".stripMargin,
    "w12_concurrency" ->
      (s"WITH $SessionSpansCte,\n" +
      """d AS (
        |  SELECT start_s AS t, 1 AS dd FROM spans
        |  UNION ALL SELECT end_s + 1, -1 FROM spans),
        |p AS (
        |  SELECT t, CAST(sum(dd) AS BIGINT) AS net,
        |    CAST(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_starts
        |  FROM d GROUP BY t),
        |r AS (
        |  SELECT t, net, n_starts,
        |    CAST(sum(net) OVER (ORDER BY t) AS BIGINT) AS conc,
        |    t // 3600 AS hour_idx
        |  FROM p),
        |h AS (
        |  SELECT hour_idx, CAST(sum(n_starts) AS BIGINT) AS n_starts,
        |    CASE WHEN min(t) > hour_idx * 3600
        |         THEN greatest(first(conc - net ORDER BY t), max(conc))
        |         ELSE max(conc) END AS max_concurrent
        |  FROM r GROUP BY hour_idx),
        |hn AS (
        |  SELECT hour_idx, CAST(sum(net) AS BIGINT) AS hour_net
        |  FROM r GROUP BY hour_idx),
        |rng AS (SELECT min(hour_idx) AS lo, max(hour_idx) AS hi FROM hn),
        |lattice AS (
        |  SELECT unnest(generate_series(lo, hi)) AS hour_idx FROM rng),
        |c AS (
        |  SELECT l.hour_idx,
        |    CAST(coalesce(sum(hour_net) OVER (ORDER BY l.hour_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS carry_in
        |  FROM lattice l LEFT JOIN hn USING (hour_idx))
        |SELECT c.hour_idx,
        |  CAST(coalesce(h.n_starts, 0) AS BIGINT) AS n_starts,
        |  coalesce(h.max_concurrent, c.carry_in) AS max_concurrent
        |FROM c LEFT JOIN h USING (hour_idx)
        |ORDER BY hour_idx""".stripMargin),
    "w11_forward_fill" ->
      """WITH e AS (
        |  SELECT event_type, value, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour_idx,
        |    epoch_ns(ts) // 1000 AS us
        |  FROM events),
        |hourly AS (
        |  SELECT event_type, hour_idx,
        |    last(value ORDER BY us, event_id) AS obs,
        |    count(*) AS n_events
        |  FROM e GROUP BY 1, 2),
        |r AS (SELECT min(hour_idx) AS lo, max(hour_idx) AS hi FROM hourly),
        |grid AS (
        |  SELECT t.event_type, unnest(generate_series(lo, hi)) AS hour_idx
        |  FROM (SELECT DISTINCT event_type FROM hourly) t CROSS JOIN r),
        |j AS (
        |  SELECT g.event_type, g.hour_idx, h.obs,
        |    coalesce(h.n_events, 0) AS n_events
        |  FROM grid g LEFT JOIN hourly h USING (event_type, hour_idx))
        |SELECT event_type, hour_idx,
        |  round(obs, 2) AS obs_value,
        |  round(last_value(obs IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY hour_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |    AS filled_value,
        |  (obs IS NULL) AS is_gap,
        |  CAST(n_events AS BIGINT) AS n_events
        |FROM j ORDER BY event_type, hour_idx""".stripMargin,
    "w10_ohlc_bars" ->
      """WITH e AS (
        |  SELECT event_type, value, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour_idx,
        |    epoch_ns(ts) // 1000 AS us
        |  FROM events)
        |SELECT event_type, hour_idx,
        |  first(value ORDER BY us, event_id) AS open,
        |  round(max(value), 2) AS high,
        |  round(min(value), 2) AS low,
        |  last(value ORDER BY us, event_id) AS close,
        |  count(*) AS n_events,
        |  round(sum(value), 2) AS value_sum
        |FROM e GROUP BY event_type, hour_idx
        |ORDER BY event_type, hour_idx""".stripMargin,
    "w9_cohort_retention" ->
      """WITH w AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week
        |  FROM events),
        |f AS (SELECT user_id, min(week) AS cohort FROM w GROUP BY user_id),
        |a AS (
        |  SELECT DISTINCT w.user_id, cohort, week - cohort AS week_offset
        |  FROM w JOIN f USING (user_id))
        |SELECT cohort, week_offset, count(*) AS n_users
        |FROM a GROUP BY cohort, week_offset
        |ORDER BY cohort, week_offset""".stripMargin,
    "w8_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |v AS (SELECT user_id, min(ts) AS vts FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS cts FROM e
        |      JOIN v ON e.user_id = v.user_id AND e.ts >= v.vts
        |      WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS pts FROM e
        |      JOIN c ON e.user_id = c.user_id AND e.ts >= c.cts
        |      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |  (SELECT count(*) FROM c) AS n_click_after_view,
        |  (SELECT count(*) FROM p) AS n_purchase_after_click,
        |  CASE WHEN (SELECT count(*) FROM v) = 0 THEN NULL
        |       ELSE round((SELECT count(*) FROM p) * 100.0
        |                  / (SELECT count(*) FROM v), 4) END
        |    AS conversion_pct""".stripMargin,
    "w7_gap_detection" ->
      """WITH g AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
        |        OVER (PARTITION BY user_id ORDER BY
        |          CAST(floor(epoch(ts)) AS BIGINT), event_id) AS gap
        |  FROM events WHERE user_id < 50)
        |SELECT user_id, count(*) AS n_events,
        |  count(gap) AS n_intervals,
        |  CAST(sum(CASE WHEN gap > 21600 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outages,
        |  max(gap) AS max_gap_s
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "w6_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
        |        OVER (PARTITION BY user_id ORDER BY event_id) AS gap
        |  FROM events WHERE user_id < 50),
        |s AS (
        |  SELECT user_id, value, epoch_s,
        |    CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_seq
        |  FROM g)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  round(sum(value), 2) AS session_value,
        |  max(epoch_s) - min(epoch_s) AS duration_s
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "w1_topn_per_group" ->
      """SELECT event_type, rn, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS INT) AS rn
        |  FROM events) WHERE rn <= 3
        |ORDER BY event_type, rn""".stripMargin,
    "w2_lag_delta" ->
      """SELECT user_id, count(delta) AS n_deltas,
        |  round(avg(delta), 2) + 0 AS avg_delta,
        |  round(max(delta), 2) + 0 AS max_delta
        |FROM (SELECT user_id,
        |        value - lag(value, 1) OVER (PARTITION BY user_id
        |          ORDER BY event_id) AS delta
        |      FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "w3_moving_avg" ->
      """SELECT event_id, event_type, mov_sum, n_frame FROM (
        |  SELECT event_id, event_type,
        |    round(sum(value) OVER (PARTITION BY event_type
        |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2) AS mov_sum,
        |    count(*) OVER (PARTITION BY event_type
        |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_frame
        |  FROM events) WHERE event_id < 300
        |ORDER BY event_id""".stripMargin,
    "w4_running_sum" ->
      """SELECT user_id, event_id, running_total FROM (
        |  SELECT user_id, event_id,
        |    round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |      AS running_total
        |  FROM events) WHERE user_id < 10
        |ORDER BY user_id, event_id""".stripMargin,
    "w5_distribution_ranks" ->
      """SELECT event_id, event_type, decile, pct_rank, cume FROM (
        |  SELECT event_id, event_type,
        |    CAST(ntile(10) OVER w AS INT) AS decile,
        |    round(percent_rank() OVER w, 4) AS pct_rank,
        |    round(cume_dist() OVER w, 4) AS cume
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id))
        |WHERE event_id < 200 ORDER BY event_id""".stripMargin
  )
}
