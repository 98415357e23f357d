package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-series arithmetic — the PromQL/InfluxQL "series math" surface
  * the reference lacks: expressions that RELATE series instead of
  * aggregating one (`instance_cpu / sum(cluster_cpu)`, correlation at
  * a time shift, a step change against the series' own recent past).
  *
  * All three operators reduce raw points FIRST to the (series, bucket,
  * sum) hourly rollup — one exact-int64 hash aggregation, the same
  * frame a standing rollup already maintains — so the cross-series
  * pass touches ~points/1000 rows and raw points never pair. Every
  * comparison and every quantized output is integer arithmetic
  * (truncating DIV, cross-multiplied thresholds) or one fixed sequence
  * of IEEE ops on exact integers — bit-identical in any engine. */
object SeriesMath {

  /** Share-of-family: each series' per-bucket fraction of its metric
    * family's total — "what fraction of cluster CPU is this host",
    * the binary `a / sum(group)` form of series math. `famExpr` names
    * the family and MUST be a function of `series` only (it is
    * evaluated on the (series, bucket) rollup, where ts/val no longer
    * exist — an expression over them fails analysis); the rollup joins its
    * own per-(family, bucket) totals on the SAME key it was grouped
    * by, so the join is co-partitioned and shuffle-free after the two
    * aggregations (the totals side is family-cardinality tiny —
    * Spark broadcasts it under AQE regardless).
    *
    * Output (family, series, bucket, x, total, share_q6) with
    * share_q6 = x·10⁶ DIV total (truncating integer division on both
    * engines — no float anywhere); total = 0 buckets are dropped
    * (a zero-total family bucket has no meaningful share). */
  def shareOfTotal(points: DataFrame, bucket: Long = 3600L,
      famExpr: String = "regexp_extract(series, '^[^.]+\\\\.[^.]+', 0)")
      : DataFrame = {
    // family is a FUNCTION of series: derive it on the rollup (one
    // regexp per (series, bucket) row), not per raw point — grouping
    // by (series, bucket) first is the identical integer rollup, and
    // the family total becomes a window sum over the rollup instead
    // of a second aggregation + join (3 exchanges → 2, and the point
    // stream never pays the regexp)
    val h = points.groupBy(col("series"), expr(s"ts DIV $bucket").as("bucket"))
      .agg(sum(col("val")).as("x"))
      .withColumn("family", expr(famExpr))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("family"), col("bucket"))
    h.withColumn("total", sum(col("x")).over(w))
      .where(col("total") =!= 0L)
      .select(col("family"), col("series"), col("bucket"), col("x"),
        col("total"), expr("x * 1000000 DIV total").as("share_q6"))
  }

  /** Lead/lag correlation discovery — Pearson r between series pairs
    * at every time shift in [-maxLag, +maxLag] buckets: "queue depth
    * correlates with latency ONE HOUR LATER" is invisible at lag 0.
    *
    * Same blocked self-join shape as [[Correlate.pairwisePearson]]
    * (only same-`groupExpr` series pair, so fan-out is Σ groupSize²
    * not S²), except side b is first exploded by the (2·maxLag+1)-row
    * lag list — a constant-factor widening of the SMALL rollup, not
    * of raw points — and the join aligns a.bucket = b.bucket − lag.
    * The five pair moments are exact int64 sums; r is quantized
    * floor(r·10⁶) off one deterministic int→double sequence. Pairs
    * keep a lag only when ≥ minBuckets buckets overlap at that shift.
    * Exact while n·Σx² < 2^63, i.e. n·max|bucket sum| ≲ 3·10⁹ (the
    * [[trendSlope]] headroom convention): hourly sums ≤ 10⁶ hold to
    * ~3000 buckets (≈4 months); per-bucket sums ~10⁹ overflow within
    * ~3 buckets and ANSI mode faults loudly. Coarsening the bucket
    * does NOT buy headroom here (n shrinks but the sums grow in step);
    * the remedies are a shorter time range or pre-scaled values
    * (val DIV s before the rollup).
    *
    * `groupExpr` must be a function of `series` only — it is
    * evaluated on the (series, bucket) rollup (see [[shareOfTotal]]),
    * so an expression over ts/val fails analysis. */
  def laggedPearson(points: DataFrame, bucket: Long = 3600L,
      maxLag: Int = 2, minBuckets: Long = 24L,
      groupExpr: String = "regexp_extract(series, '^[^.]+\\\\.[^.]+', 0)")
      : DataFrame = {
    // grp is a function of series: derive it on the rollup (one
    // regexp per rollup row), never per raw point (shareOfTotal's
    // same cut — the rollup is bit-identical)
    val h = points.groupBy(col("series"), expr(s"ts DIV $bucket").as("bucket"))
      .agg(sum(col("val")).as("x"))
      .withColumn("grp", expr(groupExpr))
    val lags = (-maxLag to maxLag).map(l => s"${l}L").mkString(", ")
    val b = h.select(col("grp"), col("series"), col("bucket"), col("x"))
      .withColumn("lag", explode(expr(s"array($lags)")))
      .withColumn("abucket", col("bucket") - col("lag"))
    val pairs = h.as("a").join(b.as("b"),
        col("a.grp") === col("b.grp") &&
          col("a.bucket") === col("b.abucket") &&
          col("a.series") < col("b.series"))
      .select(col("a.series").as("series_a"), col("b.series").as("series_b"),
        col("b.lag").as("lag"), col("a.x").as("x"), col("b.x").as("y"))
    pearsonQ6(pairs, Seq("series_a", "series_b", "lag"), minBuckets)
  }

  /** The one shared Pearson tail — the five exact-int64 pair moments,
    * the integer covariance/variance algebra, and the floor-quantized
    * r, grouped by `keys` (which must include the pair identity).
    * ONE definition so the bit-identical IEEE op sequence can never
    * drift between [[laggedPearson]], [[acf]], and their oracles. */
  private def pearsonQ6(pairs: DataFrame, keys: Seq[String],
      minBuckets: Long): DataFrame = {
    pairs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
      .where(col("n") >= minBuckets)
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("dx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dy", col("n") * col("syy") - col("sy") * col("sy"))
      .where(col("dx") > 0 && col("dy") > 0)
      .withColumn("r", col("num").cast("double") /
        (sqrt(col("dx").cast("double")) * sqrt(col("dy").cast("double"))))
      .select(keys.map(col) ++ Seq(col("n"),
        expr("CAST(floor(r * 1e6) AS BIGINT)").as("r_q6")): _*)
  }

  /** Autocorrelation function — [[laggedPearson]] aimed at the series
    * itself: Pearson r between x_t and x_(t+lag) for every lag in
    * [1, maxLag], the classic periodicity/memory diagnostic (a daily
    * cycle shows as the r peak at lag 24 on hourly buckets). Same
    * rollup-first shape — side b is the SAME series' rollup exploded
    * by the constant lag list, the join is per-series co-partitioned
    * (series rides the key), moments exact int64, r floor-quantized
    * ×1e6 off the one fixed IEEE sequence. Same int64 headroom as
    * [[laggedPearson]] — exact while n·max|bucket sum| ≲ 3·10⁹; ANSI
    * mode faults loudly beyond, and the remedy is a shorter range or
    * pre-scaled values (coarsening the bucket does not help: the sums
    * grow as fast as n shrinks). */
  def acf(points: DataFrame, bucket: Long = 3600L, maxLag: Int = 24,
      minBuckets: Long = 24L): DataFrame = {
    val h = points.groupBy(col("series"),
        expr(s"ts DIV $bucket").as("bucket"))
      .agg(sum(col("val")).as("x"))
    val lags = (1 to maxLag).map(l => s"${l}L").mkString(", ")
    val b = h.withColumn("lag", explode(expr(s"array($lags)")))
      .withColumn("abucket", col("bucket") - col("lag"))
    val pairs = h.as("a").join(b.as("b"),
        col("a.series") === col("b.series") &&
          col("a.bucket") === col("b.abucket"))
      .select(col("a.series").as("series"), col("b.lag").as("lag"),
        col("a.x").as("x"), col("b.x").as("y"))
    pearsonQ6(pairs, Seq("series", "lag"), minBuckets)
  }

  /** Distribution drift per series — the Population Stability Index
    * between the FIRST and SECOND half of the time range, over
    * `binWidth`-wide value bands: PSI = Σ_bins (p−q)·ln(p/q), the
    * "did this metric's distribution move" monitor ML and SRE teams
    * both run (PSI < 0.1 stable, > 0.25 shifted, by convention).
    *
    * Exactness: bin counts are integer; add-one smoothing over the
    * series' own occupied-bin count B makes p = (c₀+1)/(n₀+B) and
    * q = (c₁+1)/(n₁+B) strictly positive rationals; each bin's
    * (p−q)·ln(p/q) is ONE fixed IEEE sequence from those integers,
    * floor-quantized ×1e9 BEFORE the per-series sum — so the total is
    * an exact, order-independent integer (the DSIR trick). Plan: one
    * hash agg to (series, bin, half) counts, tiny per-series totals
    * broadcast back, one final agg — raw points shuffle once. */
  def psiDrift(points: DataFrame, binWidth: Long = 5000L): DataFrame = {
    val mid = points.agg(
      expr("min(ts) + (max(ts) - min(ts)) DIV 2").as("mid"))
    val binned = points.crossJoin(broadcast(mid)).select(col("series"),
      expr(s"(val - (((val % $binWidth) + $binWidth) % $binWidth)) DIV $binWidth")
        .as("bin"),
      when(col("ts") <= col("mid"), 0L).otherwise(1L).as("half"))
    val c = binned.groupBy(col("series"), col("bin"))
      .agg(sum(when(col("half") === 0L, 1L).otherwise(0L)).as("c0"),
        sum(when(col("half") === 1L, 1L).otherwise(0L)).as("c1"))
    val tot = c.groupBy(col("series"))
      .agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"),
        count(lit(1)).as("b"))
    c.join(broadcast(tot), Seq("series"))
      .withColumn("contrib_q9", expr(
        """CAST(floor(
          |  (CAST(c0 + 1 AS DOUBLE) / CAST(n0 + b AS DOUBLE)
          |   - CAST(c1 + 1 AS DOUBLE) / CAST(n1 + b AS DOUBLE))
          |  * ln((CAST(c0 + 1 AS DOUBLE) / CAST(n0 + b AS DOUBLE))
          |       / (CAST(c1 + 1 AS DOUBLE) / CAST(n1 + b AS DOUBLE)))
          |  * 1e9) AS BIGINT)""".stripMargin))
      .groupBy(col("series"))
      .agg(max(col("n0")).as("n0"), max(col("n1")).as("n1"),
        max(col("b")).as("n_bins"), sum(col("contrib_q9")).as("psi_q9"))
  }

  /** Per-bucket least-squares trend slope — the "which way is this
    * metric heading" arrow a dashboard draws per panel: within each
    * `bucket`-second cell, the OLS slope of val against the offset
    * INSIDE the bucket (t = ts mod bucket, so the moment magnitudes
    * are bucket-bounded, not epoch-bounded). All five moments are
    * exact int64 hash-aggregation sums; slope = num/den is ONE
    * deterministic IEEE divide of exact integers, shipped
    * floor-quantized ×1e6 per second. Cells with a degenerate time
    * axis (n < 2 or all samples at one offset → den = 0) are
    * dropped. Exact while n·Σt·y < 2^63 — with t < bucket this holds
    * to ~10⁵ points per cell at |val| ≤ 10⁶; beyond, coarsen. */
  def trendSlope(points: DataFrame, bucket: Long = 21600L): DataFrame = {
    points.select(col("series"), expr(s"ts DIV $bucket").as("bucket"),
        expr(s"ts % $bucket").as("t"), col("val").as("y"))
      .groupBy(col("series"), col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("st"),
        sum(col("y")).as("sy"), sum(col("t") * col("y")).as("sty"),
        sum(col("t") * col("t")).as("stt"))
      .withColumn("num", col("n") * col("sty") - col("st") * col("sy"))
      .withColumn("den", col("n") * col("stt") - col("st") * col("st"))
      .where(col("den") > 0)
      .select(col("series"), col("bucket"), col("n"),
        expr("CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6) AS BIGINT)")
          .as("slope_q6"))
  }

  /** Two-window mean-shift changepoints — step detection on the
    * rollup: at every bucket boundary, compare the sum of the k
    * buckets BEFORE against the k buckets FROM HERE; flag where the
    * level moved by ≥ relPct percent. With equal window widths the
    * mean shift IS the sum shift, so the score stays exact int64 and
    * the relative threshold cross-multiplies:
    * |after − before|·100 ≥ relPct·|before|. Only boundaries with k
    * full buckets on BOTH sides score (partial windows at the edges
    * would alias as shifts). One hash agg + one window pass per
    * series — the [[MovingAgg]] shuffle shape; no self-join, no
    * floats. CUSUM's sequential max(0, ·) recurrence is deliberately
    * avoided: it needs a per-series serial scan, this two-window form
    * is one declarative frame with the same step-detection power. */
  def meanShift(points: DataFrame, bucket: Long = 3600L, k: Int = 12,
      relPct: Long = 30L): DataFrame = {
    val h = points.groupBy(col("series"),
        expr(s"ts DIV $bucket").as("bucket"))
      .agg(sum(col("val")).as("x"))
    val before = Window.partitionBy(col("series")).orderBy(col("bucket"))
      .rowsBetween(-k.toLong, -1L)
    val after = Window.partitionBy(col("series")).orderBy(col("bucket"))
      .rowsBetween(Window.currentRow, k - 1L)
    h.withColumn("before_sum", sum(col("x")).over(before))
      .withColumn("nb", count(lit(1)).over(before))
      .withColumn("after_sum", sum(col("x")).over(after))
      .withColumn("na", count(lit(1)).over(after))
      .withColumn("minb", min(col("bucket")).over(before))
      .withColumn("maxa", max(col("bucket")).over(after))
      // k ROWS is not k BUCKETS when the series has idle gaps — a
      // row-count-only guard would stitch the 'before' window across
      // a gap into the previous regime and flag an ordinary resume as
      // a shift. Require the frames to also SPAN exactly k buckets.
      .where(col("nb") === k && col("na") === k &&
        col("bucket") - col("minb") === k.toLong &&
        col("maxa") - col("bucket") === (k - 1).toLong)
      .withColumn("shift", col("after_sum") - col("before_sum"))
      .where(abs(col("shift")) * 100L >= lit(relPct) * abs(col("before_sum")))
      .select(col("series"), col("bucket"), col("before_sum"),
        col("after_sum"), col("shift"))
  }

  /** Seasonality strength per series — the one-number "is this metric
    * diurnal" diagnostic: the ANOVA R² of the hour-of-day factor,
    * SSB/SST = (n·Σ_h s_h²/n_h − S1²) / (n·S2 − S1²), where (n_h, s_h)
    * are the per-(series, hour) count/sum and (n, S1, S2) the series
    * totals. 1 − R² is the residual share the hour baseline cannot
    * explain — the "strength" STL diagnostics report, without running
    * a decomposition.
    *
    * Exactness: all moments are int64 hash-aggregation sums; the only
    * non-integer term, Σ_h s_h²/n_h, is folded over the ≤24 hour
    * cells in FIXED ascending-hour order (sort_array + aggregate), so
    * it is ONE deterministic IEEE sequence from integers and the final
    * R² floor-quantizes ×1e6 identically in any engine. Headroom:
    * n·S2 < 2^63 — at |val| ≤ 5.6e4 that holds to ~5e4 points per
    * series per the seasonalZ bound times n; coarsen the window or
    * pre-scale beyond. Degenerate series (SST = 0: constant value)
    * are dropped — a constant has no variance to explain. Plan: one
    * hash agg to 24 rows/series, one 24-element fold; raw points
    * shuffle once. Output (series, n, strength_q6). */
  def seasonalStrength(points: DataFrame): DataFrame =
    points.select(col("series"), expr("(ts DIV 3600) % 24").as("hour"),
        col("val"))
      .groupBy(col("series"), col("hour"))
      .agg(count(lit(1)).as("nh"), sum(col("val")).as("sh"),
        sum(col("val") * col("val")).as("s2h"))
      .groupBy(col("series"))
      .agg(sum(col("nh")).as("n"), sum(col("sh")).as("s1"),
        sum(col("s2h")).as("s2"),
        expr("sort_array(collect_list(struct(hour, nh, sh)))").as("__hs"))
      .withColumn("__ssb_num", expr(
        """aggregate(__hs, CAST(0.0 AS DOUBLE),
          |  (acc, e) -> acc + CAST(e.sh AS DOUBLE) * CAST(e.sh AS DOUBLE)
          |                    / CAST(e.nh AS DOUBLE))""".stripMargin))
      .where(col("n") * col("s2") - col("s1") * col("s1") > 0L)
      .select(col("series"), col("n"), expr(
        """CAST(floor(
          |  (CAST(n AS DOUBLE) * __ssb_num - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
          |  / CAST(n * s2 - s1 * s1 AS DOUBLE) * 1e6) AS BIGINT)""".stripMargin)
        .as("strength_q6"))

  /** Capacity ETA — "when does this metric hit `cap`": a per-series
    * OLS fit of val against the HOUR offset inside a TRAILING
    * `windowHours` window ending at the series' last observation
    * (t = (ts − (max ts − windowHours·3600)) DIV 3600, points before
    * the window start dropped), then the fitted line solved for the
    * crossing: eta_hours = (cap − (a + b·windowHours)) / b from the
    * last observed hour. The trailing window is both the semantics a
    * capacity forecast wants (the RECENT trend, not a lifetime
    * average the old regime would dilute with years of history) and
    * the int64 headroom bound: t ≤ windowHours BY CONSTRUCTION, so a
    * 100×-longer history cannot grow the moment magnitudes — only
    * in-window density can. Only series still BELOW cap at the fit's
    * end and RISING (b > 0) get an ETA — a falling or
    * already-breached series has none, and is dropped rather than
    * reported with a negative countdown. All five moments are exact
    * int64 sums; slope, intercept and eta are one fixed IEEE sequence
    * from them, floor-quantized ×1e6 / ×1e3. Exact while
    * n·Σt·y < 2^63 — with t ≤ 720 (the default 30-day window) and
    * |val| ≤ 10⁶ that holds to ~10⁵ IN-WINDOW points per series;
    * shorten the window beyond. Plan: the window start rides a
    * whole-partition window max over the ONE series shuffle, and the
    * moment aggregation reuses that exchange — points are scanned and
    * shuffled once, no self-join. Output
    * (series, n, slope_q6, eta_hours_q3); n counts in-window points. */
  def thresholdEta(points: DataFrame, cap: Long,
      windowHours: Int = 720): DataFrame = {
    val w = Window.partitionBy(col("series"))
    points.select(col("series"), col("ts"), col("val"))
      .withColumn("__w0",
        max(col("ts")).over(w) - lit(windowHours * 3600L))
      .where(col("ts") >= col("__w0"))
      .select(col("series"),
        expr("(ts - __w0) DIV 3600").as("t"), col("val").as("y"))
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("st"),
        sum(col("y")).as("sy"), sum(col("t") * col("y")).as("sty"),
        sum(col("t") * col("t")).as("stt"))
      .withColumn("num", col("n") * col("sty") - col("st") * col("sy"))
      .withColumn("den", col("n") * col("stt") - col("st") * col("st"))
      .where(col("den") > 0 && col("num") > 0)
      .withColumn("b", col("num").cast("double") / col("den").cast("double"))
      .withColumn("a",
        (col("sy").cast("double") - col("b") * col("st").cast("double")) /
          col("n").cast("double"))
      .withColumn("fit_last",
        col("a") + col("b") * lit(windowHours.toDouble))
      .where(col("fit_last") < lit(cap).cast("double"))
      .select(col("series"), col("n"),
        expr("CAST(floor(b * 1e6) AS BIGINT)").as("slope_q6"),
        floor((lit(cap).cast("double") - col("fit_last")) / col("b") *
          lit(1e3)).cast("long").as("eta_hours_q3"))
  }
}
