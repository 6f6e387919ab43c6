package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Gap-based sessionization over the `events` table (event_id, ts, user_id, event_type,
 * value, props) — the window-function family of the training-data pipeline: a new
 * session starts when a user's inter-event gap exceeds `gapMinutes`.
 *
 * Determinism/oracle design: all time arithmetic runs on `unix_micros` BIGINTs
 * (DuckDB: `epoch_us`) — no float seconds, no timezone arithmetic — and the window
 * order (`ts, event_id`) is total, so lag/sum-over produce identical results on both
 * engines.
 *
 * Scale design: ONE shuffle on user_id serves both the windowed session assignment and
 * the per-session rollup for NORMAL users (the groupBy keys are a superset of the
 * window partition key, so no second exchange is needed — verify with PlanAudit).
 * The bot tail is the classic killer: one user with 10^8 events pins one window task
 * no matter how the rest of the corpus is partitioned (VERDICT r3 #2). Users above
 * [[BotEventThreshold]] therefore route through [[assignChunked]] — count-threshold
 * routing that pays off here because the window itself, not only a final row build,
 * is split across tasks:
 *
 *   1. each bot's events are split into TIME CHUNKS sized from the user's own
 *      (span, count) stats to ~[[TargetChunkRows]] events/chunk — the window then
 *      partitions on (user_id, chunk), bounding any one task;
 *   2. a per-(user, chunk) summary (first/last timestamp, sessions started) — three
 *      orders of magnitude smaller than the events — is windowed per user to decide,
 *      per chunk, whether its first session CONTINUES the previous chunk's last
 *      session (boundary gap <= gap) and what global session offset it starts at;
 *   3. offsets join back on (user_id, chunk) — the exchange introduced by the chunked
 *      window is reused — and `session_idx = base + local_idx` reproduces the
 *      unsalted numbering EXACTLY (byte-identical output; SessionSaltSpec).
 *
 * Known limitation (documented, not handled): a flood of events sharing ONE identical
 * timestamp cannot be time-chunked (all land in one chunk). Gap semantics make any
 * order-monotone split of such a flood trivially correct (every boundary gap is 0),
 * but the current implementation does not special-case it.
 */
object Sessions {

  /** Users with more events than this take the chunked (salted) path. Far above any
    * human activity (≈1 event/30s for 35 days) and far below the 10^7+ row count
    * where a single window task becomes the straggler. */
  val BotEventThreshold = 100000

  /** Target events per (user, chunk) window task on the salted path. */
  val TargetChunkRows = 65536

  private def tsUs = unix_micros(col("ts").cast("timestamp"))

  private def gapUsOf(gapMinutes: Int): Long = gapMinutes * 60L * 1000000L

  /** Per-event session assignment: adds session_idx (1-based per user). The
    * single-window LIGHT path — correct at any scale, skewed for bots. */
  def assign(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // events.ts is TIMESTAMP_NTZ; the UTC session (engine-wide default) makes the
    // cast exact and matches DuckDB's epoch_us on the naive timestamp
    val gapUs = gapUsOf(gapMinutes)
    events
      .withColumn("ts_us", tsUs)
      .withColumn("new_sess",
        when(lag(col("ts_us"), 1).over(w).isNull
          || col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_sess")).over(w))
  }

  /**
   * The SALTED assignment for heavy users: windows partition on (user_id, chunk)
   * instead of user_id, then chunk-local session numbers are lifted to the global
   * numbering with a per-chunk base offset derived from a tiny summary window.
   * `stats` must carry one row per user: (user_id, __n, __lo, __hi) — event count and
   * unix-micros span, produced by the same aggregation that routed the user here.
   * Output column set matches [[assign]] plus the internal chunk/base columns.
   */
  private[graft] def assignChunked(
      events: DataFrame, stats: DataFrame, gapMinutes: Int): DataFrame = {
    val gapUs = gapUsOf(gapMinutes)
    // per-user chunk span targeting ~TargetChunkRows events per chunk; max(1, ...)
    // guards the all-one-timestamp degenerate span
    val sized = stats.select(col("user_id"),
      greatest(lit(1L),
        ceil((col("__hi") - col("__lo") + 1).cast("double")
          / ceil(col("__n").cast("double") / TargetChunkRows)).cast("long"))
        .as("__span"),
      col("__lo"))
    val e = events
      .join(broadcast(sized), Seq("user_id")) // bot list is tiny by construction
      .withColumn("ts_us", tsUs)
      .withColumn("__chunk", floor((col("ts_us") - col("__lo")) / col("__span")))
    // stage 1: chunk-local windows — the salt; any one task holds ~TargetChunkRows
    val wc = Window.partitionBy(col("user_id"), col("__chunk"))
      .orderBy(col("ts"), col("event_id"))
    val local = e
      .withColumn("new_sess",
        when(lag(col("ts_us"), 1).over(wc).isNull
          || col("ts_us") - lag(col("ts_us"), 1).over(wc) > gapUs, 1L).otherwise(0L))
      .withColumn("__local_idx", sum(col("new_sess")).over(wc))
    // stage 2: per-chunk summaries (|users| x |chunks| rows — vanishing vs events);
    // cont(k) = 1 iff chunk k's first event continues chunk k-1's last session
    val ws = Window.partitionBy(col("user_id")).orderBy(col("__chunk"))
    val summary = local.groupBy(col("user_id"), col("__chunk"))
      .agg(min(col("ts_us")).as("__first"), max(col("ts_us")).as("__last"),
        max(col("__local_idx")).as("__n_sess"))
    val bases = summary
      .withColumn("__cont",
        when(lag(col("__last"), 1).over(ws).isNotNull
          && col("__first") - lag(col("__last"), 1).over(ws) <= gapUs, 1L)
          .otherwise(0L))
      // base(k) = sessions started before chunk k, minus continuations up to and
      // including k: global idx of an event = base(chunk) + its chunk-local idx
      .withColumn("__base",
        coalesce(sum(col("__n_sess"))
          .over(ws.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          - sum(col("__cont")).over(ws.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("user_id"), col("__chunk"), col("__base"))
    // join back on the window's own partitioning keys (exchange reuse, no new
    // shuffle of the event stream)
    local.join(bases, Seq("user_id", "__chunk"))
      .withColumn("session_idx", col("__base") + col("__local_idx"))
  }

  /**
   * Tumbling-window event rates: per (1-hour window, event_type) counts via the
   * `window()` builtin — the batch face of the streaming windowed-metrics surface
   * ([[graft.streaming.StreamingExtract]]'s windowedMetrics uses the identical
   * expression), under the DuckDB gate via epoch-aligned bucket starts
   * (`time_bucket` mirrors Spark's epoch-origin tumbling windows exactly on the
   * UTC-session NTZ timestamps). One map-side-partial shuffle over
   * (window, type) keys — cardinality = timespan/1h x |types|, independent of
   * event volume. Output (win_start_us, event_type, n_events), totally ordered.
   */
  def eventRates(events: DataFrame): DataFrame =
    events.select(col("event_type"), col("ts").cast("timestamp").as("t"))
      .groupBy(window(col("t"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n_events"))
      .orderBy(col("win_start_us"), col("event_type"))

  /** Session-level rollup WITHOUT the final sort (shared by both routes). */
  private def rollup(assigned: DataFrame): DataFrame =
    assigned
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("dur_us"))

  /** Session-level rollup: (user_id, session_idx, n_events, n_types, start_us, end_us,
    * dur_us), totally ordered. Users above `botThreshold` events are routed through
    * the salted path; each user lives in exactly one route, so the per-route rollups
    * union losslessly and the light route keeps its one-shuffle plan. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30,
      botThreshold: Int = BotEventThreshold): DataFrame = {
    val stats = events
      .select(col("user_id"), tsUs.as("__us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("__n"), min(col("__us")).as("__lo"),
        max(col("__us")).as("__hi"))
      .filter(col("__n") > botThreshold)
    val light = events.join(broadcast(stats.select(col("user_id"))),
      Seq("user_id"), "left_anti")
    val heavy = events.join(broadcast(stats.select(col("user_id"))),
      Seq("user_id"), "left_semi")
    rollup(assign(light, gapMinutes))
      .unionByName(rollup(assignChunked(heavy, stats, gapMinutes)))
      .orderBy(col("user_id"), col("session_idx"))
  }
}
