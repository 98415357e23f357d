package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The adaptive md5-sampled slice shared by every trust-gate audit
  * ([[Dedup.simhashRecallAudit]], [[Dedup.semanticRecallAudit]],
  * [[Curate.sourceQualityReport]]): the exact-truth side of an audit
  * is pair-quadratic in duplicate density, so the audit runs on a
  * deterministic slice targeting ~`sampleTarget` ids at ANY corpus
  * size — constant cost by construction. One helper so the draw (the
  * 60-bit md5 prefix, the 1/target adaptive modulus) can never drift
  * between operators and their oracle replays.
  *
  * `sampleMod` > 0 fixes the modulus (1 = the whole frame); 0 derives
  * it from an EAGER 1-row count at plan-construction time — the
  * modulus must be a literal inside the filter expression, so it
  * cannot stay lazy, and callers building the plan without running it
  * still pay that one count job. */
private[llm] object Adaptive {
  /** The slice's modulus: explicit when sampleMod > 0, else derived
    * from the eager count (exposed separately because corpus-GLOBAL
    * statistics inside an audit — e.g. a df cap — must scale with the
    * thinning the modulus applies). */
  def modulus(df: DataFrame, sampleMod: Long, sampleTarget: Long): Long = {
    require(sampleMod >= 0L && sampleTarget >= 1L,
      "sampleMod must be >= 0 (0 = adaptive) and sampleTarget >= 1")
    if (sampleMod > 0L) sampleMod
    else math.max(1L, df.count() / sampleTarget)
  }

  /** The deterministic md5 slice at an already-resolved modulus. */
  def sliceAt(df: DataFrame, idCol: String, mod: Long): DataFrame =
    if (mod <= 1L) df
    else df.where(expr(
      s"CAST(conv(substring(md5(CAST($idCol AS STRING)), 1, 15), 16, 10) AS BIGINT)")
      % mod === 0)

  def slice(df: DataFrame, idCol: String, sampleMod: Long,
      sampleTarget: Long): DataFrame =
    sliceAt(df, idCol, modulus(df, sampleMod, sampleTarget))
}

/** Concurrent submission of INDEPENDENT, individually-deterministic
  * Spark materializations (guide-§2.6 "overlap independent jobs"):
  * the tuning curves and audits build several per-setting chains
  * (Lloyd trainings, candidate checkpoints, truth lists) whose eager
  * jobs are many small sequential stages — submitted from one thread
  * they serialize end to end and leave most executor slots idle, so
  * wall-clock is the SUM of the chains; submitted from a small pool
  * they interleave and wall-clock drops toward the longest chain.
  * Each chain is deterministic in isolation (every result the curves
  * consume is checkpointed/aggregated per chain), so concurrency
  * cannot change a single output row — the [[Ann.ivfPqTopK]] dual-
  * training pattern generalized.
  *
  * A dedicated pool per call (never the shared global EC — library
  * code must not contend for it), and EVERY thunk is awaited even
  * when one fails: awaiting only the failure would leave the
  * siblings' Spark jobs running detached. */
private[graft] object Par {
  def all[T](thunks: Seq[() => T]): Seq[T] = {
    if (thunks.size <= 1) thunks.map(_())
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      import scala.util.Try
      // cap the pool: curve grids are caller-supplied on public APIs,
      // and N concurrent eager checkpoint chains each materialize
      // corpus-scale stages — an uncapped width oversubscribes the
      // scheduler and executor memory with no backpressure. Results
      // are position-stable regardless of pool width, so the cap is
      // pure admission control.
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(thunks.size, 8))
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      try {
        val fs = thunks.map(t => Future(Try(t())))
        fs.map(Await.result(_, Duration.Inf)).map(_.get)
      } finally pool.shutdown()
    }
  }
}

/** The skeleton of the knob-tuning curves ([[Ann.nprobeCurve]],
  * [[Ann.nlistCurve]], [[Ann.lshCurve]], [[Ann.rerankCurve]],
  * [[Ann.pqCurve]], [[Dedup.bandCurve]], [[Dedup.bucketCurve]],
  * [[Dedup.semanticThetaCurve]], [[TextStats.boilerplateCurve]],
  * [[TextStats.temperatureCurve]], [[graft.engine.Sessionize.gapCurve]]):
  * one row, or one group of rows, per setting, in setting order.
  *
  * The cost argument they share:
  *  - Truth is computed ONCE. What a curve grades against (the exact
  *    top-k list, the exact pair truth) is one checkpointed pass at its
  *    own small size; every setting's grade reads it, and its size joins
  *    as one broadcast 1-row `n_truth`.
  *  - The per-setting contrast. A knob that only selects from shared
  *    state (nprobe, rerank depth, band split, bucket cap, θ, gap,
  *    minDf, α) never repeats the shared pass: its settings are lazy
  *    rows over checkpointed state, or conditional aggregates of one
  *    pass unstacked to rows. A knob baked into the index (nlist, LSH
  *    bits, PQ m) rebuilds per setting by design. Per-setting work that
  *    must be materialized (a re-trained quantizer or codebook, a
  *    candidate checkpoint) runs as independent eager chains, admitted
  *    together through [[Par.all]], so a curve pays its longest chain,
  *    not the sum. PlanSpec pins each curve's side.
  *
  * The parts: (a) recall grading against a checkpointed exact list
  * ([[truth]], [[hits]], [[recall]]); (b) labelled per-setting chains
  * ([[eager]], [[union]]); (c) per-setting columns to rows
  * ([[unstack]]). */
private[graft] object Sweep {
  /** (a) The exact (query_id, neighbor_id) list, checkpointed once so
    * no setting's grade replays the exact scan. */
  def truth(exact: DataFrame): DataFrame =
    exact.select(col("query_id"), col("neighbor_id")).localCheckpoint(true)

  /** (a) One setting's row: its 1-row `cost` frame beside `n_hit`, the
    * truth pairs that the (query_id, neighbor_id) frame `found` holds. */
  def hits(cost: DataFrame, truth: DataFrame, found: DataFrame): DataFrame =
    cost.crossJoin(truth
      .join(found.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("__hit")), Seq("query_id", "neighbor_id"), "left")
      .agg(coalesce(sum(col("__hit")), lit(0L)).as("n_hit")))

  /** (a) Appends `n_truth` (broadcast) and
    * `recall_q6 = n_hit * 1000000 DIV n_truth` to the settings' rows. */
  def recall(rows: DataFrame, truth: DataFrame): DataFrame =
    rows.crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .withColumn("recall_q6", expr("n_hit * 1000000L DIV n_truth"))

  /** (b) One eager chain per setting, admitted through one [[Par.all]]
    * together with `shared`, the sweep's other independent eager work
    * (its truth list). Results: `shared`'s first, then one per setting
    * in setting order. */
  def eager[S](settings: Seq[S], shared: (() => DataFrame)*)(
      chain: S => DataFrame): Seq[DataFrame] =
    Par.all(shared ++ settings.map(s => () => chain(s)))

  /** (b) Each setting's rows behind its labels (name -> literal),
    * unioned in setting order; lazy per-setting chains stay inside this
    * one plan. */
  def union[S](settings: Seq[S])(
      row: S => (Seq[(String, Any)], DataFrame)): DataFrame =
    settings.map { s =>
      val (labels, df) = row(s)
      df.select(labels.map { case (n, v) => lit(v).as(n) } :+ col("*"): _*)
    }.reduce(_ unionAll _)

  /** (c) Each input row becomes one output row per entry of `rows` (one
    * entry per setting, its columns named `names`), through
    * explode(array(struct …)). */
  def unstack(wide: DataFrame, names: Seq[String])(
      rows: Seq[Seq[Column]]): DataFrame =
    wide.select(explode(array(rows.map(r =>
        struct(r.zip(names).map { case (c, n) => c.as(n) }: _*)): _*)).as("__r"))
      .select(names.map(n => col(s"__r.$n").as(n)): _*)
}

/** The deterministic embedding cell shared by the SemDeDup family
  * ([[Dedup.semanticPairs]]) and the kNN graph ([[Ann.knnJoin]]):
  * upstream k-means `label` × an adaptive sign-bit prefix sized so
  * expected occupancy stays ~`targetCell` (the corpus growing 100×
  * adds ~7 prefix bits; per-cell work is constant). One helper so the
  * bit-sizing rule and the prefix expression can never drift between
  * the two operators — their oracles recompute the IDENTICAL integer
  * cells. The stats read is an eager 1-row aggregate at
  * plan-construction time (the [[Adaptive.slice]] precedent). */
private[llm] object Cells {
  /** (vec_id, label, v: array<double>, nrm, cell) with the adaptive
    * cell id `label * 2^bits + signPrefix(v, bits)`. */
  def celled(emb: DataFrame, targetCell: Int): DataFrame = {
    val stats = emb.agg(count(lit(1)).as("n"),
      countDistinct(col("label")).as("l")).head()
    val n = stats.getLong(0)
    val l = math.max(stats.getLong(1), 1L)
    var bits = 0
    while (bits < 32 && (l * targetCell.toLong << bits) < n) bits += 1
    val prefix =
      if (bits == 0) lit(0L)
      else expr(s"aggregate(transform(slice(v, 1, $bits), " +
        "x -> CASE WHEN x >= 0 THEN 1L ELSE 0L END), 0L, (a, x) -> a * 2 + x)")
    emb.select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS double))").as("v"))
      .withColumn("nrm", expr("sqrt(graft_norm2(v))"))
      .withColumn("cell", col("label").cast("long") * (1L << bits) + prefix)
  }
}
