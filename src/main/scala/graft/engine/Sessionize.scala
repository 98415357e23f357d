package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sessionization — gaps-and-islands over each series: a new session
  * starts wherever the gap to the previous point exceeds `gap`. The
  * activity-burst / connection-session analysis every monitoring
  * stack runs, absent from the reference. One per-series window pass
  * (lag → break flag → running session id) + one hash aggregation;
  * partitioned by series, ordered only within a series — no global
  * sort at any corpus size. Equal-timestamp points produce zero gaps
  * whatever their relative order, so the session assignment is
  * deterministic even with duplicate timestamps.
  */
object Sessionize {

  /** (series, session, session_start, session_end, n_points,
    * duration); sessions number 1..k per series in time order. */
  def sessions(points: DataFrame, gap: Long): DataFrame = {
    val w = Window.partitionBy(col("series"))
      .orderBy(col("ts").asc, col("pid").asc)
    points
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .withColumn("__brk",
        when(col("__prev").isNull || col("ts") - col("__prev") > gap, 1L)
          .otherwise(0L))
      .withColumn("__sid", sum(col("__brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("series"), col("__sid").as("session"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_points"))
      .withColumn("duration", col("session_end") - col("session_start"))
  }

  /** Gap detection — the inverse report: every place a series was
    * SILENT for more than `minGap` seconds (the "no data from host X"
    * alert a monitoring stack raises, and the input to an SLO
    * availability calculation). Same one-window-pass shape as
    * [[sessions]]; output is gap-sized, not point-sized. Duplicate
    * timestamps are safe: only the last point of a tie group (by pid)
    * sees the true successor timestamp — earlier tie members see a
    * zero gap and never pass the filter — so the report is
    * deterministic whatever the tie order. */
  def gaps(points: DataFrame, minGap: Long): DataFrame = {
    val w = Window.partitionBy(col("series"))
      .orderBy(col("ts").asc, col("pid").asc)
    points
      .withColumn("__nxt", lead(col("ts"), 1).over(w))
      .where(col("__nxt") - col("ts") > minGap)
      .select(col("series"), col("ts").as("gap_start"),
        col("__nxt").as("gap_end"),
        (col("__nxt") - col("ts")).as("gap"))
  }

  /** Session-gap tuning curve: per candidate gap, how many sessions
    * the corpus would split into, how many silences the [[gaps]]
    * report would raise, the total silent seconds, and the
    * availability those silences imply. One row per gap: (gap,
    * n_series, n_sessions, n_gaps, silent_seconds, span_seconds,
    * avail_q6); n_series / span_seconds repeat across rows so each row
    * is a self-contained availability statement. Raising g filters the
    * SAME predecessor gap Δ, so n_sessions / n_gaps / silent are
    * pointwise non-increasing and avail non-decreasing (TsAnalyticsSpec
    * pins it). avail_q6 = (span − silent)·1e6 DIV span is exact int64
    * below ~9.2e12 total span-seconds; span 0 (every series a single
    * point) reads vacuously available (1e6). A [[graft.llm.Sweep]] on
    * the shared side: one lag window pass, every gap a conditional
    * aggregate (sessions per series = 1 + #(Δ > g); silence = Σ Δ over
    * Δ > g), and the groupBy(series) rides the window's own series
    * exchange. */
  def gapCurve(points: DataFrame,
      gaps: Seq[Long] = Seq(300L, 900L, 3600L, 21600L)): DataFrame = {
    require(gaps.nonEmpty && gaps.forall(_ > 0L),
      "each gap must be positive")
    val w = Window.partitionBy(col("series"))
      .orderBy(col("ts").asc, col("pid").asc)
    val d = points.withColumn("__d", col("ts") - lag(col("ts"), 1).over(w))
    val perCols = (max(col("ts")) - min(col("ts"))).as("__span") +:
      gaps.zipWithIndex.flatMap { case (g, i) => Seq(
        sum(when(col("__d") > g, 1L).otherwise(0L)).as(s"nb_$i"),
        sum(when(col("__d") > g, col("__d")).otherwise(0L)).as(s"sl_$i"))
      }.toIndexedSeq
    val perSeries = d.groupBy(col("series"))
      .agg(perCols.head, perCols.tail: _*)
    val totCols = Seq(count(lit(1)).as("ns"),
      coalesce(sum(col("__span")), lit(0L)).as("span")) ++
      gaps.indices.flatMap { i => Seq(
        coalesce(sum(col(s"nb_$i")), lit(0L)).as(s"nbt_$i"),
        coalesce(sum(col(s"sl_$i")), lit(0L)).as(s"slt_$i"))
      }
    graft.llm.Sweep.unstack(perSeries.agg(totCols.head, totCols.tail: _*),
        Seq("gap", "n_series", "n_sessions", "n_gaps", "silent_seconds",
          "span_seconds"))(
        gaps.zipWithIndex.map { case (g, i) =>
          Seq(lit(g), col("ns"), col("ns") + col(s"nbt_$i"), col(s"nbt_$i"),
            col(s"slt_$i"), col("span"))
        })
      .withColumn("avail_q6", when(col("span_seconds") === 0L, lit(1000000L))
        .otherwise(expr(
          "(span_seconds - silent_seconds) * 1000000L DIV span_seconds")))
  }

  /** Live sessionization — [[sessions]] over an unbounded stream via
    * Spark's native `session_window` (merging state windows, append
    * mode: a session finalizes once the watermark passes its close).
    * Boundary parity with the batch operator is exact and deliberate:
    * the batch rule merges two points when `diff <= gap` (a new
    * session starts strictly BEYOND the gap), while `session_window`
    * with duration d merges when `diff < d` — so the stream uses
    * d = gap + 1 seconds (timestamps are integer seconds) and reports
    * session_end = window end − d, the last event's own timestamp,
    * matching the batch columns row-for-row (StreamingSpec pins the
    * stream-vs-batch agreement). State is per-open-session and
    * evicted at the watermark — bounded by active series, not
    * history. */
  def streamingSessions(stream: DataFrame, gap: Long,
      lateness: String): DataFrame = {
    val d = gap + 1L
    stream
      .select(col("series"), timestamp_seconds(col("ts")).as("ev"))
      .withWatermark("ev", lateness)
      .groupBy(col("series"), session_window(col("ev"), s"$d seconds"))
      .agg(count(lit(1)).as("n_points"))
      .select(col("series"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        (unix_timestamp(col("session_window.end")) - d).as("session_end"),
        col("n_points"))
  }
}
