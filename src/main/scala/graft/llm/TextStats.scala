package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over the
  * documents table (doc_id, text, lang, source, n_chars). All are
  * single-pass narrow transforms or one hash aggregation — fully
  * codegen-friendly, no UDFs, trivially scalable to 100 TB.
  */
object TextStats {

  private val tok = "split(trim(text), '\\\\s+')"

  /** Per-document token statistics: token count, char count, average
    * token length, lexical diversity (distinct/total tokens). The two
    * ratios are floor-quantized ×1e6 (the repo-wide fixed-point
    * convention — floor, never round, per the Interpolate.scala
    * rationale: engines' round() can disagree by 1 ulp on the SAME
    * double; the ratio itself is one correctly-rounded IEEE divide of
    * exact int64s, identical in any engine). */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      expr(s"CAST(size($tok) AS bigint)").as("n_tokens"),
      col("n_chars"),
      expr(s"aggregate(transform($tok, t -> length(t)), 0L, (a, x) -> a + x) * 1000000L DIV CAST(size($tok) AS BIGINT)")
        .as("avg_token_len_q6"),
      expr(s"CAST(size(array_distinct($tok)) AS BIGINT) * 1000000L DIV CAST(size($tok) AS BIGINT)")
        .as("lexical_diversity_q6"))

  /** Per-document top-k characteristic terms by tf-idf — the keyword
    * extraction step of corpus analysis/curation pipelines. tf is the
    * in-document term count, idf = ln(N/df) over the corpus; the score
    * is quantized to fixed point (floor(tf·idf·1e6) AS BIGINT) before
    * ranking so the ordering is engine-reproducible (the lm-perplexity
    * trick — floor, not round, per the Interpolate.scala rationale:
    * the two engines' round() implementations can disagree by one ulp
    * of the last digit on the SAME double), ties broken by term. The plan is two hash aggregations
    * (term counts, document frequencies), a broadcast of the 1-row
    * corpus size, and a per-document window — partitioned by doc_id,
    * never a global sort. */
  def tfidfKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    val t = docs.select(col("doc_id"), explode(expr(tok)).as("term"))
    val tf = t.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("q").desc, col("term").asc)
    tf.join(dfreq, Seq("term")).crossJoin(broadcast(n))
      .withColumn("q", expr(
        "CAST(floor(tf * ln(CAST(n AS DOUBLE) / df) * 1000000) AS BIGINT)"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"), col("term"))
  }

  /** BPE-ish subword token count: alpha runs, digit runs, and single
    * non-alphanumeric marks — a cheap proxy for a BPE tokenizer's
    * pre-tokenization. */
  def bpeTokenCount(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      expr("CAST(size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)) AS bigint)")
        .as("n_bpe"))

  /** Deterministic stratified sampling — the training-mix operator: a
    * per-document uniform draw derived from md5(doc_id) (portable,
    * reproducible across engines and runs — no RNG state, no seed
    * files) is compared against a per-stratum rate, so e.g. 'keep all
    * zh, half of en, 10% of the rest' is one narrow filter with no
    * shuffle, and re-running the pipeline reproduces the exact sample.
    * The draw uses the top 60 bits of the md5 as hv in [0, 2^60):
    * keep iff hv < rate * 2^60. */
  def sampleStratified(docs: DataFrame, rates: Map[String, Double],
      defaultRate: Double, keyCol: String = "lang"): DataFrame = {
    val hv = expr(
      "CAST(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS DOUBLE)")
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, r)) =>
      when(col(keyCol) === k, lit(r)).otherwise(acc)
    }
    docs.where(hv < rate * lit(1152921504606846976.0)) // 2^60
      .select(col("doc_id"), col(keyCol))
  }

  /** The per-source weight column shared by [[sampleMixture]],
    * [[mixtureReport]] and [[mixturePlan]]: a deterministic CASE fold
    * over the sorted weight map (0.0 for unweighted sources). One
    * helper so the report/plan tables can never read a different
    * weight than the draw they grade. */
  private def weightCase(weights: Map[String, Double])
      : org.apache.spark.sql.Column =
    weights.toSeq.sortBy(_._1).foldLeft(lit(0.0)) {
      case (acc, (k, v)) => when(col("source") === k, lit(v)).otherwise(acc)
    }

  /** Normalized ×1e6-quantized integer weights, computed ON THE
    * DRIVER (plain Scala arithmetic — deterministic, no engine fold
    * anywhere in the weight path): wq_s = floor(w_s/Σw · 1e6). Shared
    * by [[mixtureReport]], [[mixturePlan]] and
    * [[streamingMixtureDrift]] so target proportions are
    * scale-INVARIANT in the weights (passing raw corpus sizes is
    * legal) and every downstream ratio stays inside int64 (wq ≤ 1e6
    * by construction, where quantizing unnormalized weights overflowed
    * at w > ~9.2e6 and floored sub-1e-6 weights to zero). Rejects a
    * weight below 1e-6 of the total — it would quantize to 0 and
    * silently vanish from the plan. */
  private def quantWeights(weights: Map[String, Double]): Map[String, Long] = {
    require(weights.nonEmpty && weights.values.forall(_ > 0.0),
      "weights must be positive")
    val sw = weights.values.sum
    val wq = weights.map { case (k, v) =>
      k -> math.floor(v / sw * 1e6).toLong }
    wq.foreach { case (k, q) => require(q > 0L,
      s"weight for '$k' is under 1e-6 of the total — it would quantize to 0") }
    wq
  }

  /** Literal integer CASE over the quantized weights (0 for unlisted
    * sources) — the [[weightCase]] shape with driver-computed int64
    * constants, safe for ANY source-name characters. */
  private def wqCase(wq: Map[String, Long]): org.apache.spark.sql.Column =
    wq.toSeq.sortBy(_._1).foldLeft(lit(0L)) {
      case (acc, (k, q)) => when(col("source") === k, lit(q)).otherwise(acc)
    }

  /** Weighted source mixing — the data-mixture operator (Pile/DoReMi
    * shape): given target weights per source, sample each source at
    * the largest rate consistent with the target proportions and
    * never oversampling (rate_s = w_s·T/n_s with T = min_s n_s/w_s,
    * so the argmin source keeps everything and the rest downsample to
    * match). Source counts are one tiny aggregation broadcast back;
    * the draw is the same seedless md5(doc_id) uniform as
    * [[sampleStratified]], so the mixture is reproducible across
    * engines and re-runs. Sources absent from `weights` are dropped.
    * One narrow filter over the corpus — no shuffle of documents. */
  def sampleMixture(docs: DataFrame, weights: Map[String, Double]): DataFrame = {
    val hv = expr(
      "CAST(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS DOUBLE)")
    val w = weightCase(weights)
    val cnt = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .withColumn("w", w).where(col("w") > 0)
    val tmin = cnt.agg(min(col("n").cast("double") / col("w")).as("t"))
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(cnt), Seq("source"))
      .crossJoin(broadcast(tmin))
      // identical operation order to the oracle: ((w*t)/n)*2^60
      .where(hv < col("w") * col("t") / col("n").cast("double")
        * lit(1152921504606846976.0))
      .select(col("doc_id"), col("source"))
  }

  /** Live mixture sampling — the streaming half of [[sampleMixture]]
    * (the one sampling-family member without a live twin): the same
    * seedless md5(doc_id) draw against per-source keep RATES compiled
    * in as literals (the streamingIvfAssign pattern — rates come from
    * a planning pass such as [[mixturePlan]]/[[sampleMixture]]'s
    * w·T/n over a reference corpus; a stream has no stable corpus
    * counts to derive them from live). Stateless narrow filter: no
    * state store, no watermark, append mode with any sink, and —
    * because the draw has no RNG state — the kept set over any prefix
    * equals [[sampleMixture]]'s output whenever the rates match the
    * batch computation (StreamingSpec pins it on exactly-representable
    * rates). Sources absent from `rates` are dropped. */
  def streamingSampleMixture(stream: DataFrame,
      rates: Map[String, Double]): DataFrame = {
    require(rates.values.forall(r => r >= 0.0 && r <= 1.0),
      "rates must be keep probabilities in [0, 1]")
    val hv = expr(
      "CAST(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS DOUBLE)")
    stream.where(hv < weightCase(rates) * lit(1152921504606846976.0))
  }

  /** Live achieved-mixture monitor — the streaming half of
    * [[mixtureReport]]: cumulative per-source kept counts over the
    * [[streamingSampleMixture]] filter, the running table a mixture
    * dashboard compares against its targets while the draw is still
    * in flight. One streaming aggregation (complete/update mode),
    * source-sized state; counts are exact and, after any prefix,
    * equal the batch groupBy over the same kept set. */
  def streamingMixtureMonitor(stream: DataFrame,
      rates: Map[String, Double]): DataFrame =
    streamingSampleMixture(stream, rates)
      .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))

  /** Live mixture DRIFT monitor — the event-time-windowed streaming
    * twin of [[mixtureReport]]: per (window, planned source) the kept
    * count, the window total, the achieved proportion, the PLAN's
    * target proportion, and the signed gap — the alert feed that says
    * the live draw is bending away from the plan while it is still
    * in flight (a source going quiet upstream shows as a negative
    * err_q6 in that window, where the cumulative [[
    * streamingMixtureMonitor]] would take hours to move).
    *
    * Targets come from the PLAN weights via [[quantWeights]] —
    * normalized ×1e6 integers computed on the driver and emitted as
    * literals (scale-invariant, the [[mixtureReport]] convention) —
    * so target_q6 is a constant per source and every ratio is pure
    * int64 DIV. The kept stream is restricted to the PLANNED sources
    * before the window total, so achieved proportions are measured
    * against the same population the plan describes (a rates-kept
    * source outside `weights` must not dilute every planned source
    * into phantom negative drift — the batch report's n_total scope).
    * The per-source counts ride ONE windowed aggregation as
    * conditional sums over the compiled source list (no second agg,
    * no stream-stream join — Structured Streaming forbids joining two
    * streaming aggregates), then explode to rows; all construction is
    * Column-API, so any source-name characters are safe. Append mode
    * past the watermark; window×|plan| state. `ts` is epoch
    * seconds. */
  def streamingMixtureDrift(stream: DataFrame, rates: Map[String, Double],
      weights: Map[String, Double], windowSec: Long = 3600L,
      maxLateness: Long = 0L): DataFrame = {
    val wq = quantWeights(weights)
    val swq = wq.values.sum
    val srcs = wq.keys.toSeq.sorted
    val perSrc = srcs.zipWithIndex.map { case (s, i) =>
      sum(when(col("source") === s, 1L).otherwise(0L)).as(s"__c_$i") }
    val pairs = array(srcs.zipWithIndex.map { case (s, i) =>
      struct(lit(s).as("source"), col(s"__c_$i").as("n_sampled"),
        lit(wq(s) * 1000000L / swq).as("target_q6")) }: _*)
    streamingSampleMixture(stream, rates)
      .where(col("source").isin(srcs: _*))
      .select(col("source"), timestamp_seconds(col("ts")).as("__et"))
      .withWatermark("__et", s"$maxLateness seconds")
      .groupBy(window(col("__et"), s"$windowSec seconds"))
      .agg(count(lit(1)).as("n_total"), perSrc: _*)
      .select(unix_timestamp(col("window.start")).as("window_start"),
        col("n_total"), explode(pairs).as("x"))
      .select(col("window_start"), col("x.source").as("source"),
        col("x.n_sampled").as("n_sampled"), col("n_total"),
        expr("x.n_sampled * 1000000L DIV n_total").as("achieved_q6"),
        col("x.target_q6").as("target_q6"))
      .withColumn("err_q6", col("achieved_q6") - col("target_q6"))
  }

  /** Temperature-weighted source sampling — the multilingual-mix
    * operator (the p_s ∝ n_s^α upweighting mBERT/XLM-style recipes
    * use, α < 1 flattening the source distribution so small sources
    * are not drowned): target weights are DERIVED from source sizes
    * as w_s = n_s^α and fed through [[sampleMixture]]'s
    * no-oversampling rate (rate_s = w_s·T/n_s, T = min n_s/w_s —
    * the scale of w cancels, so no normalization is needed; with
    * α < 1 the smallest source keeps everything and larger sources
    * downsample toward the flattened target). Same broadcast count
    * frame, same seedless md5(doc_id) draw, one narrow filter.
    * Accepted cross-engine risk: `pow` may differ by 1 ulp between
    * libm and the JVM — the draw is a uniform 60-bit integer, so a
    * threshold landing within 1 ulp of a draw is a measure-zero
    * corpus coincidence (the lmPerplexity acceptance). */
  def sampleTemperature(docs: DataFrame, alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    val hv = expr(
      "CAST(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS DOUBLE)")
    val cnt = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .withColumn("w", expr(s"pow(CAST(n AS DOUBLE), $alpha)"))
    val tmin = cnt.agg(min(col("n").cast("double") / col("w")).as("t"))
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(cnt), Seq("source"))
      .crossJoin(broadcast(tmin))
      // identical operation order to the oracle: ((w*t)/n)*2^60
      .where(hv < col("w") * col("t") / col("n").cast("double")
        * lit(1152921504606846976.0))
      .select(col("doc_id"), col("source"))
  }

  /** Temperature (α) tuning curve: per α and per source, the corpus
    * count, the drawn count, the α-flattened TARGET share
    * n_s^α / Σ n^α, the ACHIEVED share, and their signed gap: rows
    * (alpha_q2, source, n_docs, n_sampled, target_q6, achieved_q6,
    * err_q6). α = 1 keeps every document, so achieved ≡ raw
    * proportions and err reads 0 up to the two quantizers' last digit
    * (exactly 0 on dyadic count ratios). Each setting keeps exactly
    * the documents [[sampleTemperature]]'s deterministic draw keeps,
    * so the curve is oracle-checkable end to end.
    *
    * Fixed-point contract: per source ONE pow (the measure-zero 1-ulp
    * acceptance [[sampleTemperature]] already carries), normalized by
    * the MAX pow before quantization: wq = floor(w/w_max · 1e9) ≤ 1e9,
    * so wq·1e6 and Σwq stay inside int64 at ANY corpus size;
    * w_max = max(w) equals pow(max n) bitwise. Everything past the two
    * IEEE ops (pow, the w/w_max·1e9 scale) is exact int64 `·1e6 DIV`.
    * A [[Sweep]] on the shared side: the source counts fan out to one
    * (α, source) threshold row per setting, and ONE corpus scan
    * computes the md5 draw once per document and meets every setting
    * through a broadcast join. */
  def temperatureCurve(docs: DataFrame,
      alphas: Seq[Double] = Seq(0.3, 0.5, 0.7, 1.0)): DataFrame = {
    require(alphas.nonEmpty && alphas.forall(a => a > 0.0 && a <= 1.0),
      "each alpha must be in (0, 1]")
    val hv = expr(
      "CAST(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS DOUBLE)")
    val wA = org.apache.spark.sql.expressions.Window.partitionBy("alpha_q2")
    // per-(α, source) constants: ONE source-sized count frame, each
    // row fanned out to one row per α (lit(a) is the same IEEE double
    // the replay's interpolated literal parsed to, and the threshold's
    // operation order is identical to sampleTemperature's — the
    // single-pass filter keeps exactly the documents the replay kept)
    val cnt = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val perA = Sweep.unstack(cnt, Seq("source", "n_docs", "alpha_q2", "alpha"))(
        alphas.map(a => Seq(col("source"), col("n_docs"),
          lit(math.round(a * 100)), lit(a))))
      .withColumn("wd", expr("pow(CAST(n_docs AS DOUBLE), alpha)"))
      .withColumn("t", min(col("n_docs").cast("double") / col("wd")).over(wA))
    val thr = perA.select(col("alpha_q2"), col("source"),
      (col("wd") * col("t") / col("n_docs").cast("double")
        * lit(1152921504606846976.0)).as("thr"))
    // THE one corpus pass: draw once, fan across settings, filter, count
    val drawn = docs.select(col("doc_id"), col("source"))
      .withColumn("hv", hv)
      .join(broadcast(thr), Seq("source"))
      .where(col("hv") < col("thr"))
      .groupBy(col("alpha_q2"), col("source"))
      .agg(count(lit(1)).as("n_sampled"))
    perA.join(drawn, Seq("alpha_q2", "source"), "left")
      .na.fill(0L, Seq("n_sampled"))
      .withColumn("n_total", sum(col("n_sampled")).over(wA))
      .withColumn("wq", expr(
        "CAST(floor(wd / max(wd) OVER (PARTITION BY alpha_q2) * 1e9) AS BIGINT)"))
      .withColumn("swq", sum(col("wq")).over(wA))
      .select(col("alpha_q2"), col("source"), col("n_docs"),
        col("n_sampled"),
        expr("wq * 1000000L DIV swq").as("target_q6"),
        expr("n_sampled * 1000000L DIV n_total").as("achieved_q6"))
      .withColumn("err_q6", col("achieved_q6") - col("target_q6"))
  }

  /** Mixture-quality report — the trust-gate row for the sampling
    * family (the recall@k / backtest pattern): replay
    * [[sampleMixture]] and report, per weighted source, the corpus
    * count, the drawn count, the TARGET proportion w_s/Σw, the
    * ACHIEVED proportion n_s/Σn, and their signed gap — the one
    * table that says whether the seedless md5 draw actually landed
    * the requested mixture before a training run trusts it.
    * Deterministic (the draw has no RNG state), so the oracle replays
    * it exactly; proportions are pure int64 ratios — the per-source
    * weight integers come from [[quantWeights]] (driver-side BigInt,
    * scale-invariant literals), and the TARGET normalizes them over
    * the planned sources actually PRESENT in the corpus (wq·1e6 DIV
    * Σ_present wq, one exact int64 window-sum over the source-sized
    * frame): [[sampleMixture]]'s rates make achieved proportions sum
    * to 1 over the present sources, so a planned source absent from
    * the corpus must renormalize the target the same way or every
    * present source would read a systematic phantom err_q6 (and the
    * absent source is visible as its missing row — the draw can't be
    * graded against a plan it was never able to run). The achieved is
    * an exact-count `·1e6 DIV`, err_q6 an exact int64 difference.
    * Source-sized aggregations over the already-narrow mixture filter
    * — no new corpus pass beyond the draw itself. */
  def mixtureReport(docs: DataFrame,
      weights: Map[String, Double]): DataFrame = {
    val sampled = sampleMixture(docs, weights)
    val wq = quantWeights(weights)
    val cnt = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("wq", wqCase(wq)).where(col("wq") > 0)
    val sc = sampled.groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))
    val tot = sampled.agg(count(lit(1)).as("n_total"))
    // no orderBy → the frame is the whole (single, source-sized)
    // partition: one exact int64 sum, no second corpus pass
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    cnt.join(sc, Seq("source"), "left")
      .na.fill(0L, Seq("n_sampled"))
      .crossJoin(broadcast(tot))
      .withColumn("swqp", sum(col("wq")).over(wAll))
      .select(col("source"), col("n_docs"), col("n_sampled"),
        expr("wq * 1000000L DIV swqp").as("target_q6"),
        expr("n_sampled * 1000000L DIV n_total").as("achieved_q6"))
      .withColumn("err_q6", col("achieved_q6") - col("target_q6"))
  }

  /** Weighted sampling WITHOUT replacement — Efraimidis–Spirakis
    * exponential races over the seedless md5 draw: doc i gets key
    * −ln(u_i)/w_i (u_i uniform in (0, 1] from the hash, w_i a
    * positive per-doc weight column such as length or a DSIR-derived
    * weight) and the n SMALLEST keys win — exactly a weighted
    * without-replacement draw, reproducible across engines and
    * re-runs with no RNG state. The global top-n is a
    * TakeOrderedAndProject (per-partition top-n, merge of n·#parts
    * rows — never a full sort). Keys are floor-quantized ×1e9 to
    * int64 before ranking with doc_id ties: floor, not round, because
    * the two engines' round() implementations can disagree by 1 ulp
    * on the SAME double (the Interpolate.scala rationale) and here a
    * flipped key near a boundary changes which DOCUMENT is selected —
    * a whole-row diff, not a last-digit one. The residual shared by
    * any quantizer (libm-vs-JVM ln differing by 1 ulp exactly at a
    * quantization boundary) is the measure-zero coincidence every
    * ln-derived op in this repo carries. */
  def sampleWeighted(docs: DataFrame, weightCol: String,
      n: Int): DataFrame = {
    require(n >= 1, "n must be at least 1")
    val hv = "CAST(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS DOUBLE)"
    docs.select(col("doc_id"), col(weightCol))
      // u in (0, 1]: (hv + 1) / 2^60 — never 0, so ln is finite
      .withColumn("key_q9", expr(
        s"CAST(floor(-ln(($hv + 1) / 1152921504606846976.0) / $weightCol * 1e9) AS BIGINT)"))
      .orderBy(col("key_q9").asc, col("doc_id").asc)
      .limit(n)
  }

  /** Vocabulary induction + coverage — the tokenizer-planning
    * operator: the top-`vocabSize` corpus terms by frequency (ties →
    * term asc) form the vocabulary, and every document reports its
    * token count, out-of-vocabulary count, and OOV rate. The corpus
    * pass is one explode + hash aggregation (term-distinct-sized);
    * vocab selection is a TakeOrdered of V rows (never a global sort
    * of the term table), broadcast back onto the token stream for the
    * per-doc coverage aggregation — documents never shuffle. */
  def vocabCoverage(docs: DataFrame, vocabSize: Int = 100): DataFrame = {
    val t = docs.select(col("doc_id"), explode(expr(tok)).as("term"))
    val vocab = t.groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term").asc).limit(vocabSize)
      .select(col("term"), lit(1).as("inv"))
    t.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate_q6",
        expr("n_oov * 1000000L DIV n_tokens"))
  }

  /** Sequence-packing preparation: assign documents to packing bins by
    * cumulative token count (greedy contiguous packing at context
    * length L — the standard prep before example packing). Packing is
    * inherently ordered, so instead of one global window the corpus is
    * split into `streams` independent streams (doc_id mod streams) and
    * each stream packs with a PARTITIONED window — no global sort at
    * any scale, streams pack in parallel (set streams ≈ cluster
    * parallelism at 100 TB). A document straddling a boundary starts
    * in its cumsum bin, as greedy packers do. Returns
    * (doc_id, stream, bin, n_tokens). */
  def packBins(docs: DataFrame, contextLen: Int = 4096,
      streams: Int = 8): DataFrame = {
    val toks = docs.select(col("doc_id"),
      (col("doc_id") % streams).as("stream"),
      expr(s"CAST(size($tok) AS bigint)").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stream")).orderBy(col("doc_id"))
      .rowsBetween(Long.MinValue, 0)
    toks.withColumn("bin",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / contextLen)
          .cast("long"))
      .select(col("doc_id"), col("stream"), col("bin"), col("n_tokens"))
  }

  /** Packing-efficiency report — the trust-gate row for [[packBins]]
    * (the mixtureReport / recall-audit pattern: every planning
    * operator ships the table that says whether to trust it): per
    * stream the document/token totals, the bin count, the FILL rate
    * (tokens per bin-capacity slot — greedy contiguous packing can
    * exceed 1e6 because a straddling document's tokens all count in
    * its starting bin), the OVERSIZE count (docs longer than the
    * context — they can never fit one bin and need [[chunkWindows]]
    * first), and the STRADDLE count (docs crossing a bin boundary —
    * the attention-mask contamination a packing board weighs against
    * padding waste). A fill rate far under 1e6 or a high straddle
    * share says re-order or re-chunk before training.
    *
    * Exactness: counts and token sums are exact int64; the straddle
    * test compares integer divisions of the int64 cumulative sums
    * (DIV — floor-exact at any corpus size, no double in the
    * comparison); fill_q6 is the pure-int64 identity
    * `n_tokens·1e6 DIV (n_bins·context)` — no double anywhere, so no
    * engine's division or fold behavior can perturb the floor (safe
    * while sum(n_tokens) < 9.2·10¹² per stream — int64 headroom for
    * the ×1e6). Scale shape: re-runs [[packBins]]'s
    * per-stream window on the SAME (stream, doc_id) ordering — the
    * sort ride-shares packBins' exchange — then one stream-sized
    * hash aggregation; output is `streams` rows. */
  def packEfficiency(docs: DataFrame, contextLen: Int = 4096,
      streams: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stream")).orderBy(col("doc_id"))
      .rowsBetween(Long.MinValue, 0)
    packBins(docs, contextLen, streams)
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .groupBy(col("stream"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (max(col("bin")) + 1L).as("n_bins"),
        sum(when(col("n_tokens") > contextLen.toLong, 1L).otherwise(0L))
          .as("n_oversize"),
        sum(when(
          expr(s"(cum - n_tokens) DIV $contextLen") =!=
            expr(s"(cum - 1) DIV $contextLen"), 1L).otherwise(0L))
          .as("n_straddle"))
      .select(col("stream"), col("n_docs"), col("n_tokens"), col("n_bins"),
        expr(s"n_tokens * 1000000L DIV (n_bins * ${contextLen}L)")
          .as("fill_q6"),
        col("n_oversize"), col("n_straddle"))
  }

  /** Combined Gopher-style quality gate vector (Rae et al. 2021 §A1.1
    * shape): per document the word count, mean word length, lexical
    * diversity, and most-frequent-word fraction (ratios are pure
    * int64 `·1e6 DIV` — no double anywhere — and gates compare in the
    * same fixed point, so the conjunction is engine-proof int64),
    * each with its gate,
    * plus the conjunction — the single-pass document filter a corpus
    * pipeline runs before dedup. One explode + two hash aggregations
    * (per-(doc,term) counts, then per-doc rollup) — no window, no
    * per-doc quadratic scan, documents never shuffle whole. */
  def gopherGates(docs: DataFrame,
      minWords: Long = 50, maxWords: Long = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minDiversity: Double = 0.3, maxTopFrac: Double = 0.2): DataFrame = {
    val t = docs.select(col("doc_id"), explode(expr(tok)).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
    t.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        max(col("c")).as("top_c"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * length(col("term"))).as("char_sum"))
      .select(col("doc_id"), col("n_words"),
        expr("char_sum * 1000000L DIV n_words").as("mean_len_q6"),
        expr("n_distinct * 1000000L DIV n_words").as("diversity_q6"),
        expr("top_c * 1000000L DIV n_words").as("top_word_frac_q6"))
      .withColumn("passes",
        col("n_words").between(minWords, maxWords) &&
          col("mean_len_q6").between(math.floor(minMeanLen * 1e6).toLong,
            math.floor(maxMeanLen * 1e6).toLong) &&
          (col("diversity_q6") > math.floor(minDiversity * 1e6).toLong) &&
          (col("top_word_frac_q6") < math.floor(maxTopFrac * 1e6).toLong))
  }

  /** Corpus language distribution with size stats. */
  def langDist(docs: DataFrame): DataFrame =
    // avg as a SPLIT integer floor-division — quotient·1e6 plus the
    // remainder's scaled quotient — exact at any corpus size without
    // the sum·1e6 overflow a direct DIV identity would hit
    docs.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("sc"),
      max(col("n_chars")).as("max_chars"))
    .select(col("lang"), col("n_docs"),
      expr("sc DIV n_docs * 1000000L + (sc % n_docs) * 1000000L DIV n_docs")
        .as("avg_chars_q6"),
      col("max_chars"))

  /** Quality score in [0,1]: lexical diversity blended with a length
    * prior (docs under ~100 tokens are down-weighted). */
  def qualityScore(docs: DataFrame): DataFrame =
    // pure int64: 0.5·(distinct/n)·1e6 + 0.5·least(1, n/100)·1e6 =
    // (distinct·500000 + least(500000, n·5000)·n) DIV n — one
    // cross-multiplied floor division (the pack-fill identity)
    docs.select(col("doc_id"),
      expr(s"""(CAST(size(array_distinct($tok)) AS BIGINT) * 500000L
              |  + least(500000L, CAST(size($tok) AS BIGINT) * 5000L)
              |    * CAST(size($tok) AS BIGINT))
              |DIV CAST(size($tok) AS BIGINT)""".stripMargin)
        .as("quality_q6"))

  /** Stopword-vote language ID (n-gram-free heuristic): counts hits
    * against tiny per-language stopword lists; deterministic argmax
    * with fixed tie-break order en > de > es > fr > zh. */
  def langId(docs: DataFrame): DataFrame = {
    def votes(words: Seq[String]) = {
      val arr = words.map(w => s"'$w'").mkString("array(", ", ", ")")
      s"CAST(size(filter($tok, t -> array_contains($arr, t))) AS bigint)"
    }
    docs.select(col("doc_id"),
      expr(votes(Seq("the", "a", "of", "and", "in", "to", "is"))).as("v_en"),
      expr(votes(Seq("der", "die", "das", "und", "ist", "ein"))).as("v_de"),
      expr(votes(Seq("el", "la", "de", "los", "y", "es"))).as("v_es"),
      expr(votes(Seq("le", "la", "les", "et", "est", "un"))).as("v_fr"),
      expr(votes(Seq("的", "是", "在", "了"))).as("v_zh"))
      .withColumn("pred_lang",
        expr("""CASE WHEN v_en >= v_de AND v_en >= v_es AND v_en >= v_fr AND v_en >= v_zh THEN 'en'
                |     WHEN v_de >= v_es AND v_de >= v_fr AND v_de >= v_zh THEN 'de'
                |     WHEN v_es >= v_fr AND v_es >= v_zh THEN 'es'
                |     WHEN v_fr >= v_zh THEN 'fr'
                |     ELSE 'zh' END""".stripMargin))
      .select(col("doc_id"), col("pred_lang"))
  }

  /** Language-ID audit — the [[langId]] heuristic evaluated against
    * the labeled `lang` column as a confusion matrix (label,
    * prediction, count): the quality-evaluation row a pipeline keeps
    * next to the classifier it gates on (the ann_recall_eval
    * pattern). One narrow prediction pass + one doc-keyed join + one
    * hash agg; output is |langs|² at most. */
  def langIdEval(docs: DataFrame): DataFrame =
    langId(docs).join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** Corpus-wide word n-gram frequencies (multiplicity counted),
    * thresholded — one explode + one hash aggregation, the standard
    * n-gram-LM / contamination-scan primitive. */
  def ngramFreq(docs: DataFrame, n: Int = 2, minFreq: Long = 5): DataFrame =
    docs.select(expr(tok).as("w"))
      .where(size(col("w")) >= n)
      .select(explode(expr(
        s"transform(sequence(0, size(w) - $n), i -> concat_ws(' ', slice(w, i + 1, $n)))"))
        .as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("freq"))
      .where(col("freq") >= minFreq)

  /** Document fingerprint: md5 over whitespace-normalized lowercase
    * text (the exact-dedup key, exposed as an operator). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1, the
    * standard LLM-corpus quality gate): per document, the fraction of
    * token n-grams claimed by the single most frequent n-gram
    * (top-n-gram fraction, n=2 here) and the fraction of n-grams that
    * are repeats of an earlier one (duplicate-n-gram fraction, n=3).
    * Docs too short to form an n-gram score 0.0. Two hash
    * aggregations per n (map-side combined) — no windows, no UDFs,
    * linear at any corpus size. */
  def repetition(docs: DataFrame): DataFrame = {
    def gramStats(n: Int) = docs
      .select(col("doc_id"), expr(tok).as("w"))
      .where(size(col("w")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $n), i -> concat_ws(' ', slice(w, i + 1, $n)))"))
        .as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(sum(col("c")).as("total"),
        count(lit(1)).as("distinct"), max(col("c")).as("mx"))
    val s2 = gramStats(2).select(col("doc_id"),
      expr("mx * 1000000L DIV total").as("top2_frac_q6"))
    val s3 = gramStats(3).select(col("doc_id"),
      expr("(total - distinct) * 1000000L DIV total").as("dup3_frac_q6"))
    docs.select(col("doc_id"))
      .join(s2, Seq("doc_id"), "left")
      .join(s3, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("top2_frac_q6"), lit(0L)).as("top2_frac_q6"),
        coalesce(col("dup3_frac_q6"), lit(0L)).as("dup3_frac_q6"))
  }

  /** Bigram-LM perplexity scoring — the CCNet/Wikipedia-LM quality
    * filter (Wenzek et al. 2020): train add-one-smoothed bigram
    * probabilities on the corpus itself, score each document by its
    * average negative log-probability (low = fluent/in-distribution,
    * high = noise). Per-pair logp = ln((c2(w1,w2)+1)/(c1(w1)+V)).
    *
    * Exactness across engines: a per-document SUM of doubles is
    * addition-order-dependent, so each pair's logp is quantized to
    * fixed point (floor(logp*1e6) as BIGINT — floor because the two
    * engines' round() half-boundary behavior can differ on the same
    * double, the Interpolate.scala rationale) and the document score
    * is an exact integer sum — order-independent by construction, and
    * the one double op per pair is bit-deterministic on both sides.
    * The doc-level average stays in integer land too:
    * avg_nll_q6 = (−sq) DIV n_pairs (positive operands — truncation
    * is floor in both engines; no double ever reappears).
    *
    * Scale shape: ONE pass over the exploded pair stream — it is
    * aggregated per (doc, w1, w2) first (map-side combine shrinks the
    * shuffle to distinct pairs), and the corpus bigram table derives
    * from that small frame. Both consumers sit above the SAME
    * aggregate subtree, so Spark's ReuseExchange serves the second
    * from the first's shuffle files — the tokenize+explode physically
    * runs once (the previous shape exploded the corpus twice: its two
    * consumers shuffled the raw pair stream differently, defeating
    * reuse). Then two joins over distinct-pair-sized frames and one
    * integer-sum agg per document. No windows, no driver state,
    * linear in corpus size. */
  def lmPerplexity(docs: DataFrame): DataFrame =
    pairNll(docs, pin = false).select(col("doc_id"), col("n_pairs"),
      expr("(-sq) DIV n_pairs").as("avg_nll_q6"))

  /** The shared bigram-NLL core of [[lmPerplexity]] and
    * [[pplBuckets]]: (doc_id, n_pairs, sq) with sq the exact integer
    * sum of ×1e6-quantized add-one bigram log-probs.
    *
    * The pair-count and unigram frames are each consumed TWICE (c2 /
    * the scoring join; vocab count / the c1 join). In lmPerplexity's
    * own flat plan Spark's ReusedExchange covers both, and an explicit
    * persist only ADDS a materialization (measured: 2.6 → 4.3 s at
    * sf1) — so `pin = false` there. Under pplBuckets' deeper plan
    * (join + ntile above) the reuse BREAKS and the token explode
    * re-ran 4× (measured: 5 parquet scans, 0 ReusedExchange, 10.1 s
    * at sf1 → 3.3 s pinned) — so that caller pins: both frames
    * persisted for the one pass, the DOC-sized output checkpointed
    * eagerly, caches released before return (the minhashPrep
    * pattern). Re-profiled r18 (graft.tools.Prof, sf0.1 warm rep:
    * 2.7 s): the unigram/pair aggregations and the broadcast build
    * already run as CONCURRENT stages of the one checkpoint job —
    * per-job times overlap (three ~0.4 s jobs completing out of
    * submission order) — and everything downstream is
    * dependency-sequential on both, so there is no independent chain
    * left for a Par.all to overlap; closed as a measured no-op. */
  private def pairNll(docs: DataFrame, pin: Boolean): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val t = docs.select(col("doc_id"), expr(tok).as("w"))
    val uni0 = t.select(explode(col("w")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val uni = if (pin) uni0.persist(lvl) else uni0
    val vocab = uni.agg(count(lit(1)).as("v"))
    val pairs0 = t.where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), i -> " +
          "struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))"))
        .as("p"))
      .groupBy(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("k"))
    val pairs = if (pin) pairs0.persist(lvl) else pairs0
    val c2 = pairs.groupBy("w1", "w2").agg(sum(col("k")).as("c2"))
    // k occurrences of a pair contribute k copies of the same
    // quantized logp, so sum(k * q) is bit-identical to the
    // occurrence-stream sum — still an exact integer
    val out = pairs.join(c2, Seq("w1", "w2")).join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("k"), expr(
        "CAST(floor(ln((c2 + 1) / CAST(c1 + v AS DOUBLE)) * 1000000) AS BIGINT)")
        .as("q"))
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_pairs"), sum(expr("k * q")).as("sq"))
    if (!pin) return out
    val pinned = out.localCheckpoint(eager = true)
    pairs.unpersist(blocking = true)
    uni.unpersist(blocking = true)
    pinned
  }

  /** CCNet-style perplexity terciles — the head/middle/tail split
    * CC-pipeline curation keys on: within each LANGUAGE, documents
    * rank by their LM score and cut into thirds (head = most
    * target-like). The ranking key is the EXACT integer
    * score_q6 = (−sq) DIV n_pairs (positive operands — truncation is
    * floor in both engines) with doc_id tiebreak, so ntile(3) buckets
    * identically everywhere (the RFM precedent). The per-language
    * window sorts the DOC-sized score frame, never tokens; at extreme
    * doc counts swap to broadcast approx cut points like RFM's note.
    * Output (doc_id, lang, n_pairs, score_q6, bucket, tier). */
  def pplBuckets(docs: DataFrame): DataFrame = {
    val scored = pairNll(docs, pin = true)
      .select(col("doc_id"), col("n_pairs"),
        expr("(-sq) DIV n_pairs").as("score_q6"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("score_q6").asc, col("doc_id").asc)
    scored.withColumn("bucket", ntile(3).over(w).cast("long"))
      .select(col("doc_id"), col("lang"), col("n_pairs"), col("score_q6"),
        col("bucket"),
        expr("CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END")
          .as("tier"))
  }

  /** BM25 document scoring against a fixed term set — the standard
    * sparse-retrieval ranking function (Robertson–Spärck Jones), used
    * in pipelines for targeted corpus slicing ("pull the docs about
    * X") and as the lexical half of hybrid search next to the ANN
    * operators. Corpus statistics (N, avgdl, per-term df) are ONE
    * 1-row aggregate broadcast to a narrow per-document map stage —
    * no shuffle touches the documents themselves. All doubles derive
    * from integer counts through a fixed op order, so the score is
    * bit-deterministic; it ships floor-quantized ×1e6 (bm25_q6) so no
    * engine-specific round() step can disagree on the boundary. */
  def bm25(docs: DataFrame, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[a-z0-9]+")))
    val t = docs.select(col("doc_id"), expr(tok).as("w"))
      .select(col("doc_id"), col("w"),
        expr("CAST(size(w) AS BIGINT)").as("dl"))
    val flagged = terms.zipWithIndex.foldLeft(t) { case (df, (term, i)) =>
      df.withColumn(s"tf_$i",
        expr(s"CAST(size(filter(w, x -> x = '$term')) AS BIGINT)"))
    }
    val aggs = Seq(count(lit(1)).as("n"), sum(col("dl")).as("sdl")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = flagged.agg(aggs.head, aggs.tail: _*)
    val avgdl = col("sdl").cast("double") / col("n").cast("double")
    val score = terms.indices.map { i =>
      val tf = col(s"tf_$i").cast("double")
      val idf = log(lit(1.0) +
        (col("n") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * col("dl").cast("double") / avgdl))
    }.reduce(_ + _)
    flagged.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"),
        floor(score * lit(1e6)).cast("long").as("bm25_q6"))
  }

  /** PMI collocation extraction: pointwise mutual information of each
    * bigram vs its unigram marginals, ln((c2·N1·N1)/(N2·c1(w1)·c1(w2))),
    * over bigrams with corpus frequency ≥ minFreq — the classic
    * collocation / multi-word-expression detector (Church & Hanks
    * 1990), used to mine phrases worth keeping atomic in tokenizer
    * or n-gram-LM training. Two count aggregations plus a join of the
    * (already frequency-pruned) bigram table against the unigram
    * table; integer counts everywhere until one deterministic double
    * expression per surviving bigram, shipped floor-quantized ×1e6
    * (pmi_q6 — the Interpolate.scala round()-divergence rationale). */
  def pmi(docs: DataFrame, minFreq: Long = 20): DataFrame = {
    val t = docs.select(expr(tok).as("w"))
    val uni = t.select(explode(col("w")).as("tk"))
      .groupBy("tk").agg(count(lit(1)).as("c1"))
    val totals = uni.agg(sum(col("c1")).as("n1"))
    val bi = t.where(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), i -> " +
          "struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))"))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("freq"))
    val n2 = bi.agg(count(lit(1)).as("n2"))
    c2.where(col("freq") >= minFreq)
      .join(uni.select(col("tk").as("w1"), col("c1").as("c1a")), Seq("w1"))
      .join(uni.select(col("tk").as("w2"), col("c1").as("c1b")), Seq("w2"))
      .crossJoin(broadcast(totals)).crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("freq"), expr(
        "CAST(floor(ln((CAST(freq AS DOUBLE) * n1 * n1) / (CAST(n2 AS DOUBLE) * c1a * c1b)) * 1000000) AS BIGINT)")
        .as("pmi_q6"))
  }

  /** Context-window chunking — the 1→N prep step that turns documents
    * into training sequences: overlapping token windows of `size`
    * tokens starting every `stride` tokens (start < |tokens|, so the
    * tail shorter than a stride still yields its final partial chunk).
    * A narrow explode with no shuffle: each document expands to its
    * own chunks in place, so at 100 TB the stage parallelizes by input
    * split and the output is immediately relational (doc_id,
    * chunk_idx, n_tokens, chunk). */
  def chunkWindows(docs: DataFrame, size: Int = 64, stride: Int = 48): DataFrame =
    docs.select(col("doc_id"), expr(tok).as("w"))
      .select(col("doc_id"), col("w"),
        explode(expr(s"sequence(0L, CAST((size(w) - 1) / $stride AS LONG))"))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"CAST(least(size(w) - chunk_idx * $stride, $size) AS BIGINT)")
          .as("n_tokens"),
        expr(s"array_join(slice(w, CAST(chunk_idx * $stride + 1 AS INT), $size), ' ')")
          .as("chunk"))

  /** Deterministic train/val/test assignment plus a reproducible
    * global-shuffle key — the split/ordering step of a training-data
    * pipeline. The split comes from the same md5-derived uniform draw
    * as [[sampleStratified]] (portable, seedless, stable under re-runs
    * and engine changes); the shuffle key is md5 over a salted doc_id,
    * so `ORDER BY shuffle_key` is a deterministic corpus-wide shuffle
    * that any engine reproduces. Narrow single pass, no shuffle —
    * ordering by the key is the CONSUMER's (optional) sort. */
  def trainValTestSplit(docs: DataFrame, valFrac: Double = 0.05,
      testFrac: Double = 0.05, salt: String = "shuf"): DataFrame = {
    val two60 = 1152921504606846976.0 // 2^60
    val hv = expr(
      "CAST(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS DOUBLE)")
    docs.select(col("doc_id"),
      when(hv < lit((1.0 - valFrac - testFrac) * two60), lit("train"))
        .when(hv < lit((1.0 - testFrac) * two60), lit("val"))
        .otherwise(lit("test")).as("split"),
      md5(concat(lit(salt + ":"), col("doc_id").cast("string")))
        .as("shuffle_key"))
  }

  /** Hashed n-gram bucket of a token — md5 hex digits 13..15 (12
    * bits) mod `buckets`, portable across engines (the md5-draw
    * family [[sampleStratified]] uses). */
  private def bucketOf(c: String, buckets: Int): String =
    s"CAST(conv(substring(md5($c), 13, 3), 16, 10) AS BIGINT) % $buckets"

  /** DSIR-style importance weighting (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw document by how much it resembles a small TARGET
    * distribution, in a hashed unigram feature space. Both corpora
    * reduce to `buckets` hashed token counts; each document's log
    * importance weight is Σ over its tokens of
    * log p̂_target(bucket) − log p̂_raw(bucket) (add-1 smoothed).
    * The downstream resample is [[sampleStratified]]'s md5 draw
    * against softmax'd weights; this operator is the scoring pass.
    *
    * Scale shape: the two distribution tables are `buckets`-sized (a
    * broadcast constant — NEVER corpus-sized, the paper's reason for
    * hashing); the doc stream aggregates per (doc, bucket) with
    * map-side combine before the broadcast join, so the shuffle
    * carries at most buckets rows per doc. Per-bucket log-ratios are
    * quantized to ×10⁶ fixed point BEFORE the per-doc sum (the
    * [[lmPerplexity]] determinism trick), so every weight is an
    * exact integer, order-independent, engine-reproducible.
    *
    * Returns (doc_id, n_tokens, logw_q6) — logw_q6 > 0 means "more
    * target-like than the raw average". */
  def dsirWeights(docs: DataFrame, targetLang: String = "en",
      buckets: Int = 1024): DataFrame = {
    val t = docs.select(col("doc_id"), col("lang"),
      explode(expr(tok)).as("w"))
      .select(col("doc_id"), col("lang"),
        expr(bucketOf("w", buckets)).as("b"))
    // per-(doc, bucket) counts: map-side combine shrinks the shuffle
    // to ≤ buckets rows per doc. PERSISTED: five consumers hang off
    // this one aggregate subtree (raw + target distributions, their
    // totals, the final per-doc rollup) and their exchanges differ
    // ((b) vs (doc_id, lang, b)), so Catalyst cannot serve them from
    // one shuffle — unpersisted, the corpus tokenize+explode re-runs
    // per consumer (the minhashPrep lesson)
    val db = t.groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val raw = db.groupBy(col("b")).agg(sum(col("k")).as("cr"))
    val tgt = db.where(col("lang") === targetLang)
      .groupBy(col("b")).agg(sum(col("k")).as("ct"))
    val dist = raw.join(tgt, Seq("b"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(raw.agg(sum(col("cr")).as("tr"))))
      .crossJoin(broadcast(tgt.agg(sum(col("ct")).as("tt"))))
      // identical op order to the oracle: two ln's, subtract, scale,
      // FLOOR. Floor (not round) removes the engines' round()-
      // implementation divergence on identical doubles (the
      // Interpolate.scala rationale); the residual risk that remains
      // is shared by any quantizer — JVM Math.log and libm ln may
      // differ by 1 ulp, so a log-ratio landing WITHIN 1 ulp of an
      // integer ×1e6 boundary could still quantize differently. The
      // inputs are integer-count ratios, so that landing is a
      // measure-zero corpus coincidence; the per-doc SUM of quantized
      // integers stays exact either way.
      .select(col("b"), expr(
        s"CAST(floor((ln((ct + 1) / CAST(tt + $buckets AS DOUBLE)) - " +
          s"ln((cr + 1) / CAST(tr + $buckets AS DOUBLE))) * 1000000) " +
          "AS BIGINT)").as("q"))
    val out = db.join(broadcast(dist), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"),
        sum(expr("k * q")).as("logw_q6"))
      .localCheckpoint(true) // doc-sized; caches must not outlive the call
    db.unpersist(blocking = true)
    out
  }

  /** The contact/PII regex classes a curation scrub redacts, in
    * redaction order (email first — its local part can contain dots
    * and digits the later classes would half-match). Patterns stay in
    * the common Java-regex/RE2 subset (no backrefs, no lookaround) so
    * both engines match identically. */
  private val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    "ipv4" -> "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}",
    "phone" -> "[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "ssn" -> "[0-9]{3}-[0-9]{2}-[0-9]{4}",
    // full-form colon groups only (the compressed `::` form would
    // need lookarounds outside the Java∩RE2 subset); ≥4 groups so
    // clock times don't shape-match
    "ipv6" -> "(?:[0-9a-fA-F]{1,4}:){3,7}[0-9a-fA-F]{1,4}",
    // country code + check digits + 10-30 alphanumerics; [[piiSpans]]
    // additionally mod-97-checks candidates. MUST redact before
    // ccard: an IBAN's digit tail is a 13-16-digit run the ccard
    // shape would otherwise split mid-account
    "iban" -> "[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}",
    // dashed 4-4-4-N or contiguous 13-16 digits; [[piiSpans]]
    // additionally Luhn-checks candidates
    "ccard" -> "[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{1,4}|[0-9]{13,16}")

  /** Luhn checksum over a candidate's digits (separators stripped):
    * from the RIGHT, double every second digit, subtract 9 when the
    * double exceeds 9, and sum — valid iff the sum ≡ 0 (mod 10). One
    * integer fold over the digit array, identical in any engine
    * (ISO/IEC 7812's published algorithm). `m` is a column/field
    * reference inside a SQL expression. */
  private def luhnSql(m: String): String =
    s"""aggregate(sequence(1, length(regexp_replace($m, '[^0-9]', ''))),
       |  0, (a, i) -> a + (CASE WHEN i % 2 = 1
       |    THEN CAST(substring(reverse(regexp_replace($m, '[^0-9]', '')), i, 1) AS INT)
       |    ELSE CASE WHEN CAST(substring(reverse(regexp_replace($m, '[^0-9]', '')), i, 1) AS INT) * 2 > 9
       |         THEN CAST(substring(reverse(regexp_replace($m, '[^0-9]', '')), i, 1) AS INT) * 2 - 9
       |         ELSE CAST(substring(reverse(regexp_replace($m, '[^0-9]', '')), i, 1) AS INT) * 2 END
       |    END)) % 10 = 0""".stripMargin

  /** IBAN mod-97 (ISO 13616): move the first 4 chars to the end, map
    * letters A→10…Z→35, and fold the resulting digit string into a
    * running remainder — one char at a time, ×10 for a digit, ×100
    * for a letter, mod 97 each step so the accumulator never exceeds
    * int range. Valid iff the remainder is 1. Pure integer fold via
    * ascii(), identical in any engine. */
  private def ibanSql(m: String): String = {
    val r = s"concat(substring($m, 5), substring($m, 1, 4))"
    s"""aggregate(sequence(1, length($m)), 0, (a, i) ->
       |  CASE WHEN ascii(substring($r, i, 1)) >= 65
       |    THEN (a * 100 + ascii(substring($r, i, 1)) - 55) % 97
       |    ELSE (a * 10 + ascii(substring($r, i, 1)) - 48) % 97 END) = 1""".stripMargin
  }

  /** Per-class candidate validation for [[piiSpans]]: checksum
    * classes only emit spans that PASS their check (the review table
    * lists real cards/accounts, not shape coincidences); shape-only
    * classes pass everything through. */
  private val piiValidSql: Map[String, String => String] = Map(
    "ccard" -> luhnSql, "iban" -> ibanSql)

  /** PII span extraction — the audit half of the contact scrub: one
    * row per (document, class, occurrence) with the matched text, the
    * review table a privacy pass samples before committing to
    * redaction (the contaminationSpans span idiom over regex classes
    * instead of probe shingles). Checksum classes (ccard via Luhn,
    * iban via mod-97 — [[luhnSql]]/[[ibanSql]], integer folds both
    * engines replay) emit only VALIDATED candidates; `idx` stays the
    * candidate's 0-based occurrence index on the original text, so a
    * filtered-out shape coincidence leaves a visible gap. Narrow
    * per-class extracts unioned; no shuffle, no UDF, linear in
    * corpus bytes. */
  def piiSpans(docs: DataFrame): DataFrame =
    piiPatterns.map { case (kind, pat) =>
      val spans = docs.select(col("doc_id"), lit(kind).as("kind"),
        posexplode(regexp_extract_all(col("text"), lit(pat), lit(0)))
          .as(Seq("idx", "match")))
      piiValidSql.get(kind) match {
        case Some(v) => spans.where(expr(v("match")))
        case None    => spans
      }
    }.reduce(_ unionAll _)
      .select(col("doc_id"), col("kind"), col("idx").cast("long").as("idx"),
        col("match"))

  /** PII/contact scrub — the redaction pass next to decontamination
    * in a curation pipeline: per-class match counts (each counted on
    * the ORIGINAL text, so overlapping classes report independently)
    * plus the redacted text with every class replaced by its
    * <CLASS> placeholder, applied in the fixed [[piiPatterns]] order
    * (the same sequential regexp_replace chain in both engines — op
    * order is part of the contract since an earlier replacement can
    * consume a later class's half-match). Checksum classes count and
    * redact SHAPE candidates — a redaction pass over-redacts by
    * design (a Luhn-failing 16-digit run is still not trainable
    * text); [[piiSpans]] is where validity is adjudicated. One
    * narrow projection. */
  def piiScrub(docs: DataFrame): DataFrame = {
    val counts = piiPatterns.map { case (kind, pat) =>
      size(regexp_extract_all(col("text"), lit(pat), lit(0)))
        .cast("long").as(s"n_$kind") }
    val clean = piiPatterns.foldLeft(col("text")) { case (c, (kind, pat)) =>
      regexp_replace(c, lit(pat), lit(s"<${kind.toUpperCase}>")) }
    docs.select((col("doc_id") +: counts :+ clean.as("clean_text")): _*)
  }

  /** Per-source PII incidence rollup — the privacy dashboard's ONE
    * table (the sourceQualityReport pattern aimed at redaction): per
    * source the document count, how many documents carry ANY contact
    * candidate, the incidence rate, and the per-class match totals —
    * the numbers that decide which source needs a redaction pass (or
    * exclusion) before training. Counts are [[piiScrub]]'s
    * shape-candidate counts (the scrub's own population — a privacy
    * decision over-counts by design; [[piiSpans]] adjudicates
    * validity). One regex projection + one source-sized hash
    * aggregation; pure int64, rate via `·1e6 DIV`. */
  def piiBySource(docs: DataFrame): DataFrame = {
    val counts = piiPatterns.map { case (kind, pat) =>
      size(regexp_extract_all(col("text"), lit(pat), lit(0)))
        .cast("long").as(s"n_$kind") }
    val perDoc = docs.select(
      (col("source") +: counts): _*)
    val anyPii = piiPatterns.map { case (kind, _) => col(s"n_$kind") }
      .reduce(_ + _) > 0L
    val aggCols = count(lit(1)).as("n_docs") +:
      sum(col("has_pii")).as("docs_with_pii") +:
      piiPatterns.map { case (kind, _) =>
        sum(col(s"n_$kind")).as(s"n_$kind") }
    perDoc
      .withColumn("has_pii", when(anyPii, 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("pii_rate_q6",
        expr("docs_with_pii * 1000000L DIV n_docs"))
  }

  /** Per-source, per-class PII PRECISION — the trust-gate row for the
    * privacy family (the recall@k / dedup-recall pattern aimed at
    * redaction): for each checksum-bearing class, of the SHAPE
    * candidates [[piiScrub]]/[[piiBySource]] count per source, how
    * many pass their real validation ([[luhnSql]] / [[ibanSql]] — the
    * [[piiSpans]] verdicts rolled up)? A source full of Luhn-failing
    * 16-digit runs (order ids, hashes) reads low precision — redact
    * but don't panic; a high-precision source carries REAL accounts —
    * escalate. Only the validatable classes get rows (shape-only
    * classes have no ground truth to be precise against); a source
    * with no candidates for a class has no row. One regex projection
    * per class + one (source × class)-sized aggregation, pure int64,
    * rate via `·1e6 DIV`. */
  def piiPrecisionBySource(docs: DataFrame): DataFrame = {
    val pats = piiPatterns.toMap
    piiValidSql.toSeq.sortBy(_._1).map { case (kind, v) =>
      docs.select(col("source"), lit(kind).as("kind"),
          explode(regexp_extract_all(col("text"), lit(pats(kind)), lit(0)))
            .as("match"))
        .withColumn("valid", when(expr(v("match")), 1L).otherwise(0L))
    }.reduce(_ unionAll _)
      .groupBy(col("source"), col("kind"))
      .agg(count(lit(1)).as("n_candidates"), sum(col("valid")).as("n_valid"))
      .withColumn("precision_q6",
        expr("n_valid * 1000000L DIV n_candidates"))
  }

  /** Zipf rank-frequency fit per language — the "is this slice
    * natural language" audit: OLS slope of ln(freq) against ln(rank)
    * over the unigram table (natural text reads ≈ −1, Zipf 1949;
    * boilerplate/generated/spammy slices bend away). The corpus-level
    * twin of the per-doc quality gates: one number per language for
    * the curation dashboard.
    *
    * Exactness: ranks come from a per-language row_number over
    * (freq DESC, term) — total order, so both engines rank
    * identically; ln(rank) and ln(freq) are floor-quantized ×1e3
    * PER TERM before the moment sums (the lm-perplexity trick), so
    * the five OLS moments are exact int64 and the slope is one IEEE
    * divide (the 1e3 scales cancel in the ratio), floor-quantized
    * ×1e6. Headroom: with x,y ≤ ln(10⁹)·10³ ≈ 2·10⁴, both
    * n·Σxy and Σx·Σy grow as n²·4·10⁸, so int64 holds to
    * n ≈ √(2^63/4·10⁸) ≈ 1.5·10⁵ vocabulary terms per language —
    * raise `minFreq` to prune the long tail before that (the default
    * minFreq=2 plus Zipf itself keeps real vocabularies far under it;
    * a 10⁵-term language slice would need a ≳10⁹-token corpus slice
    * routed through one zipfFit call). Plan: one token hash agg, one
    * VOCABULARY-sized (never corpus-sized) per-language window sort,
    * one moment agg. Output (keyCol, n_terms, slope_q6); `keyCol`
    * picks the grouping (lang for the language audit, source for the
    * per-source quality rollup). */
  def zipfFit(docs: DataFrame, minFreq: Long = 2L,
      keyCol: String = "lang"): DataFrame = {
    val f = docs.select(col(keyCol), explode(expr(tok)).as("w"))
      .groupBy(col(keyCol), col("w")).agg(count(lit(1)).as("freq"))
      .where(col("freq") >= minFreq)
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("freq").desc, col("w").asc)
    f.withColumn("rank", row_number().over(wr))
      .select(col(keyCol),
        expr("CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000.0) AS BIGINT)")
          .as("x"),
        expr("CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000.0) AS BIGINT)")
          .as("y"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_terms"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("num", col("n_terms") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n_terms") * col("sxx") - col("sx") * col("sx"))
      .where(col("den") > 0)
      .select(col(keyCol), col("n_terms"), expr(
        "CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6) AS BIGINT)")
        .as("slope_q6"))
  }

  /** Line-level boilerplate detection — the CCNet / RefinedWeb
    * curation pass that exact-dedup misses: a line (split on '\n',
    * trim-normalized) appearing in ≥ `minDf` DISTINCT documents is
    * boilerplate (nav bars, cookie banners, footers). One row per
    * (doc, line) with the line's corpus document-frequency and its
    * flag; whitespace-only lines are never boilerplate (their df
    * reports 0) — a scrub keeps paragraph structure.
    *
    * `normalized = true` switches the df key to the RefinedWeb
    * near-duplicate variant (Penedo et al. 2023's line dedup):
    * whitespace runs collapse to one space and digit runs mask to a
    * single '0' BEFORE hashing, so "Page 7 of 30" / "Page 8 of 30"
    * footers and re-indented banners share one key. The emitted
    * `line` stays the ORIGINAL text — normalization exists only
    * inside the key — and blankness is still judged on the raw trim.
    *
    * Scale shape: the df aggregation and the re-join key on
    * md5(trimmed line) — a fixed 32-char key, so shuffle width per
    * line is bounded no matter how long lines get (the 60-bit SimHash
    * rationale; md5 because both engines emit identical lowercase
    * hex). The df table is distinct-lines-sized; map-side combine
    * takes the per-partition duplicates out before the exchange. No
    * window, no self-join — two hash shuffles, both on the bounded
    * key. */
  def boilerplateLines(docs: DataFrame, minDf: Long = 2L,
      normalized: Boolean = false): DataFrame = {
    require(minDf >= 2L, "minDf must be at least 2")
    val l = lineFrame(docs, normalized)
    l.join(boilerplateIndex(docs, normalized), Seq("lh"), "left")
      .select(col("doc_id"), col("line_no"), col("line"),
        coalesce(col("df"), lit(0L)).as("df"),
        (coalesce(col("df"), lit(0L)) >= minDf).as("is_boilerplate"))
  }

  /** The per-(doc, line) exploded frame with the boilerplate line key
    * — ONE definition shared by [[boilerplateLines]],
    * [[boilerplateIndex]] and [[streamingBoilerplate]], so the
    * streaming twin can never hash a line differently than the index
    * it probes. */
  private def lineFrame(docs: DataFrame,
      normalized: Boolean): DataFrame = {
    val key =
      if (normalized)
        md5(regexp_replace(regexp_replace(trim(col("line")),
          lit("\\s+"), lit(" ")), lit("[0-9]+"), lit("0")))
      else md5(trim(col("line")))
    docs.select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("line_no", "line")))
      .select(col("doc_id"), col("line_no").cast("long").as("line_no"),
        col("line"), key.as("lh"),
        (trim(col("line")) =!= "").as("nonblank"))
  }

  /** The standing (line-key → document-frequency) index the streaming
    * twin probes: distinct-lines-sized (lh, df), nonblank lines only,
    * built with the SAME key as the batch pass. At 100 TB this table
    * is maintained across runs — [[mergeBoilerplateIndex]] folds each
    * day's delta in without re-reading the corpus; computing it from
    * a frame keeps the pair self-contained and oracle-checkable. */
  def boilerplateIndex(docs: DataFrame,
      normalized: Boolean = false): DataFrame =
    lineFrame(docs, normalized).where(col("nonblank"))
      .groupBy(col("lh")).agg(countDistinct(col("doc_id")).as("df"))

  /** The daily index refresh — (standing index, delta docs) →
    * refreshed index, the operational loop of [[streamingBoilerplate]]
    * as a first-class operator instead of a full rebuild: the delta's
    * own (lh, df) table is built by the SAME [[lineFrame]] key and
    * document-frequency rule as [[boilerplateIndex]], then the two
    * distinct-lines-sized tables sum dfs on the shared key. Under the
    * incremental contract (delta doc_ids disjoint from every document
    * the standing index counted — the [[boilerplateIncremental]]
    * requirement), per-side countDistinct sums are EXACTLY the
    * union's countDistinct, so merge ≡ rebuild over seen ∪ delta (the
    * oracle pins the equivalence). At 100 TB the refresh therefore
    * costs one pass over the DELTA plus an index-sized merge shuffle
    * — the corpus is never re-read. */
  def mergeBoilerplateIndex(seenIndex: DataFrame, deltaDocs: DataFrame,
      normalized: Boolean = false): DataFrame =
    seenIndex.select(col("lh"), col("df"))
      .unionAll(boilerplateIndex(deltaDocs, normalized))
      .groupBy(col("lh")).agg(sum(col("df")).as("df"))

  /** Boilerplate aggressiveness curve, the scrub's `minDf` knob: per
    * threshold, how many lines would flag, how many characters they
    * carry (what a scrub would remove), and how many documents are
    * touched. One row per threshold: (min_df, n_lines, n_flagged,
    * chars_flagged, n_docs_hit); the flagged counts are exact and
    * non-increasing in the threshold. Blank lines report df 0 and
    * never flag, exactly as the scrub treats them. A [[Sweep]] on the
    * shared side: every threshold is a conditional aggregate over the
    * ONE df-join pass [[boilerplateLines]] already does. */
  def boilerplateCurve(docs: DataFrame,
      thresholds: Seq[Long] = Seq(2L, 3L, 5L, 10L),
      normalized: Boolean = false): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(_ >= 2L),
      "each minDf must be at least 2")
    val lf = lineFrame(docs, normalized)
      .join(boilerplateIndex(docs, normalized), Seq("lh"), "left")
      .select(col("doc_id"), coalesce(col("df"), lit(0L)).as("df"),
        length(col("line")).cast("long").as("nc"))
    val aggs = thresholds.zipWithIndex.flatMap { case (t, i) =>
      Seq(sum(when(col("df") >= t, 1L).otherwise(0L)).as(s"n$i"),
        sum(when(col("df") >= t, col("nc")).otherwise(0L)).as(s"c$i"),
        countDistinct(when(col("df") >= t, col("doc_id"))).as(s"d$i"))
    }
    Sweep.unstack(lf.agg(count(lit(1)).as("n_lines"), aggs: _*),
        Seq("min_df", "n_lines", "n_flagged", "chars_flagged", "n_docs_hit"))(
      thresholds.zipWithIndex.map { case (t, i) =>
        Seq(lit(t), col("n_lines"), col(s"n$i"), col(s"c$i"), col(s"d$i"))
      })
  }

  /** Live boilerplate flagging — the streaming twin of
    * [[boilerplateIncremental]]'s scoring half (the streamingSeasonalZ
    * train/score split): arriving documents' lines probe the STANDING
    * df index as a stream-static broadcast join — stateless, append
    * mode, no watermark, no state store, so any sink works and a
    * micro-batch's rows equal [[boilerplateLines]]-against-the-index
    * for exactly those documents (StreamingSpec pins the parity).
    * Deliberate semantics: a banner repeating only WITHIN the live
    * stream does not raise df on the fly (counting it live would need
    * corpus-lifetime per-line state, unbounded); the operational loop
    * is a batch job refreshing the index between runs
    * ([[mergeBoilerplateIndex]] summing each delta's counts in) and
    * the stream restarting against it (StreamingSpec pins an
    * index-update-between-runs flip). Note the static side is
    * re-executed by Spark every micro-batch, so "frozen" holds only
    * because the CALLER hands in an immutable snapshot (the in-memory
    * frames the spec uses, or an immutable file snapshot); rewriting
    * a file-backed index mid-query could change flags without a
    * restart — persist it or snapshot the path if that matters. Same `normalized` knob,
    * same output schema as the batch pass.
    *
    * Scale note: the hint broadcasts the index once per query, which
    * is right for the index a scrub actually needs — at 100 TB feed
    * the `df >= minDf` SLICE (the only keys that can flag; a
    * sub-threshold line then reads df 0, its flag unchanged), which
    * is nav-bar/footer-sized, not corpus-sized. Passing the full
    * unpruned line table would be the one way to make this operator
    * not fit an executor. */
  def streamingBoilerplate(stream: DataFrame, dfIndex: DataFrame,
      minDf: Long = 2L, normalized: Boolean = false): DataFrame = {
    require(minDf >= 2L, "minDf must be at least 2")
    lineFrame(stream, normalized)
      .join(broadcast(dfIndex), Seq("lh"), "left")
      .select(col("doc_id"), col("line_no"), col("line"),
        coalesce(col("df"), lit(0L)).as("df"),
        (coalesce(col("df"), lit(0L)) >= minDf).as("is_boilerplate"))
  }

  /** Incremental line-boilerplate detection — the daily-delta shape
    * of [[boilerplateLines]] (the [[graft.llm.Dedup]]
    * incrementalMinhash pattern): flag the NEW documents' lines
    * against the document-frequency of the WHOLE corpus (seen ∪ new —
    * a banner introduced BY the delta still flags if it repeats
    * within the delta, and a seen-corpus footer flags a single new
    * occurrence), emitting rows for the new documents only. At 100 TB
    * the seen side's (line-key → df) table is a standing index
    * maintained across runs (distinct-lines-sized, ~bytes per line);
    * this method recomputes it from the seen frame so the operator is
    * self-contained and oracle-checkable. Requires disjoint doc_ids
    * between the frames (the incremental contract). Same `normalized`
    * knob as the batch pass. */
  def boilerplateIncremental(newDocs: DataFrame, seenDocs: DataFrame,
      minDf: Long = 2L, normalized: Boolean = false): DataFrame =
    boilerplateLines(
      seenDocs.select(col("doc_id"), col("text"))
        .unionAll(newDocs.select(col("doc_id"), col("text"))),
      minDf, normalized)
      .join(newDocs.select(col("doc_id")), Seq("doc_id"), "left_semi")

  /** Boilerplate scrub — the removal half of [[boilerplateLines]]:
    * per document the line count, the number of boilerplate lines
    * removed, and the text rebuilt from the surviving lines in
    * original order (empty string when everything was boilerplate).
    * The rebuild is a per-doc collect of its own (bounded) line list
    * — array_sort on the unique line_no restores order without a
    * window sort, so the only exchanges are [[boilerplateLines]]'s
    * two bounded-key shuffles plus one doc_id aggregation. */
  def boilerplateScrub(docs: DataFrame, minDf: Long = 2L,
      normalized: Boolean = false): DataFrame =
    boilerplateLines(docs, minDf, normalized)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("is_boilerplate"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(array_sort(collect_list(
            when(!col("is_boilerplate"),
              struct(col("line_no"), col("line"))))),
          x => x.getField("line")), "\n").as("clean_text"))

  /** Token-budget mixture plan — the table a training run derives its
    * per-source sampling from: given target weights and a total token
    * budget, each source reports its corpus size (docs, tokens), its
    * target share and token allocation, the sampling RATE a
    * downsampler would apply (capped at 1), and the EPOCHS factor
    * (allocation / available — > 1e6 means the source must repeat to
    * meet its share, the oversampling a mixture board reviews before
    * committing). The per-source weight integers come from
    * [[quantWeights]] (driver-side BigInt literals, scale-invariant);
    * shares and allocations normalize them over the planned sources
    * actually PRESENT in the corpus (one exact int64 window-sum over
    * the source-sized frame) so no planned-but-absent source strands
    * its share — under the all-plan Σwq a planned source absent from
    * the corpus would silently strand its slice of the budget, the
    * exact under-allocation a mixture board exists to catch. The
    * per-source floor divisions leave a remainder of at most
    * #present-sources − 1 tokens; it is assigned to the
    * LARGEST-weight present source (ties → lexicographically first —
    * deterministic, and least share-distorting there), so
    * Σ target_tokens equals the budget EXACTLY and epochs/rate read
    * the adjusted allocation. Allocation
    * uses the SPLIT floor-division identity `B DIV s · wq +
    * (B % s) · wq DIV s` (exact, no overflow at any budget: both
    * addends stay under B and ~1e15 respectively), the epochs/rate
    * ratio the same split form over the int64 token counts (exact
    * below ~9.2e12 tokens per source), capped via least(·, 1e6) AFTER
    * the scaled division (monotone, so the cap commutes with the
    * floor). One token-count projection (size(split) — no explode) +
    * a source-sized aggregation. */
  def mixturePlan(docs: DataFrame, weights: Map[String, Double],
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0L, "budgetTokens must be positive")
    val wq = quantWeights(weights)
    val per = docs
      .select(col("source"), expr(s"CAST(size($tok) AS BIGINT)").as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .withColumn("wq", wqCase(wq)).where(col("wq") > 0)
    // no orderBy → whole-partition frame over the source-sized rows
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    per
      .withColumn("swqp", sum(col("wq")).over(wAll))
      .withColumn("target_tokens", expr(
        s"${budgetTokens}L DIV swqp * wq" +
          s" + ${budgetTokens}L % swqp * wq DIV swqp"))
      // flooring remainder → the largest-wq source (ties → first
      // source name): Σ target_tokens == budget exactly; both windows
      // ride the same source-sized frame
      .withColumn("__alloc", sum(col("target_tokens")).over(wAll))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("wq").desc, col("source"))))
      .withColumn("target_tokens", when(col("__rn") === 1,
          col("target_tokens") + lit(budgetTokens) - col("__alloc"))
        .otherwise(col("target_tokens")))
      .withColumn("epochs_q6", expr(
        "target_tokens DIV n_tokens * 1000000L" +
          " + (target_tokens % n_tokens) * 1000000L DIV n_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("wq * 1000000L DIV swqp").as("target_share_q6"),
        col("target_tokens"),
        least(col("epochs_q6"), lit(1000000L)).as("rate_q6"),
        col("epochs_q6"))
  }
}
