package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines,
  * over a corpus DataFrame with (doc_id LONG, text STRING, ...).
  *
  * All operators are bucketed/blocked — no all-pairs crossJoin
  * anywhere: exact dedup is a hash groupBy; n-gram Jaccard uses an
  * inverted shingle index (join keyed on shingle); MinHash-LSH joins
  * on (band, band-signature) buckets. At 100 TB each join key is
  * high-cardinality, so the shuffles partition evenly; candidate
  * verification only touches candidate pairs.
  */
object Dedup {

  /** Whitespace tokenization of a text column. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** One-buffer MinHash signature aggregate: buffer = numHashes mins
    * updated in a tight loop. The hash family is the classic affine
    * permutation π_j(x) = a_j·x + b_j (mod 2⁶⁴, a_j odd → bijection)
    * over the xxhash64-mixed shingle value: one XXH64 mix plus
    * numHashes multiply-adds per shingle row, ~4× cheaper than
    * numHashes independent XXH64 evaluations. Signatures only
    * generate LSH candidates — pairs are verified with exact Jaccard
    * afterwards — so the family choice never changes reported pairs
    * as long as band recall holds (P(miss) ≈ 1.5e-4 at j=0.7 for
    * 32×4 bands, ~4e-8 at 0.9; pinned by the oracle + DedupSpec). */
  private final class MinHashSig(numHashes: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Seq[Long]] {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    private val rnd = new java.util.Random(0x5eedc0ffeeL)
    private val as = Array.fill(numHashes)(rnd.nextLong() | 1L)
    private val bs = Array.fill(numHashes)(rnd.nextLong())
    def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)
    def reduce(buf: Array[Long], h0: Long): Array[Long] = {
      val base = XXH64.hashLong(h0, 42L)
      var j = 0
      while (j < numHashes) {
        val h = as(j) * base + bs(j)
        if (h < buf(j)) buf(j) = h
        j += 1
      }
      buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var j = 0
      while (j < numHashes) { if (b(j) < a(j)) a(j) = b(j); j += 1 }
      a
    }
    def finish(buf: Array[Long]): Seq[Long] = buf.toSeq
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Distinct word n-gram shingles per document: (doc_id, shingle),
    * via the native expression graft.functions.Shingles (registered
    * by Tables.sessionBuilder) — one pass over the token array, no
    * interpreted higher-order functions and no UDF encoder round-trip
    * for the output array (this narrow stage is the floor of every
    * dedup operator's runtime). Null text emits no shingles. */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"),
      explode(expr(s"graft_shingles(text, $n)")).as("shingle"))

  /** N-gram novelty score — the memorization/duplication-risk signal
    * per document: what fraction of a doc's DISTINCT shingles appears
    * in NO other document (df = 1 over the distinct (doc, shingle)
    * frame). Near-1 means genuinely novel text; near-0 means the
    * document is assembled from corpus-common n-grams — the
    * doc-level complement of [[sourceOverlap]]'s source-level view.
    *
    * Scale shape: one distinct (doc, shingle) frame persisted for its
    * two consumers (the df table and the per-doc rollup — the
    * minhashPrep lesson), one vocabulary-keyed join, one hash agg;
    * novelty is an exact integer ratio ×1e6 (non-negative, so
    * truncating DIV is floor). Output (doc_id, n_shingles, n_unique,
    * novelty_q6); docs shorter than one shingle are absent. */
  def noveltyScore(docs: DataFrame, n: Int = 3): DataFrame = {
    val sh = shingles(docs, n).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val out = sh.join(dfreq, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty_q6", expr("n_unique * 1000000L DIV n_shingles"))
      .localCheckpoint(eager = true)
    sh.unpersist(blocking = true)
    out
  }

  /** Exact duplicate groups by content hash: one row per distinct
    * content with the canonical (lowest) doc_id and the group size. */
  def exactGroups(docs: DataFrame, normalize: Boolean = false): DataFrame = {
    val content =
      if (normalize) regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      else col("text")
    docs.select(col("doc_id"), md5(content).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
  }

  /** Exact n-gram Jaccard near-duplicate pairs via an inverted shingle
    * index: join on shingle, count co-occurrences, Jaccard from the
    * per-doc distinct-shingle counts. Returns (id_a, id_b, jaccard)
    * with id_a < id_b and jaccard >= theta, rounded to 6 decimals.
    *
    * `maxDf` caps a shingle's document frequency before the self-join:
    * one hot shingle in d documents makes d² candidate rows, so a
    * stop-phrase trigram is a skew-killer at scale. Dropping shingles
    * with df > maxDf bounds each join key's fan-out at maxDf² while
    * losing only pairs whose ONLY overlap is ubiquitous phrases —
    * which sit far below any useful theta anyway (their Jaccard is
    * ~1/|union|). maxDf <= 0 disables the cap (the exact oracle
    * setting); at scale prefer [[minhashLshPairs]], which has no hot
    * key by construction. Sizes still count ALL shingles, so a
    * reported pair's jaccard stays exact (intersection undercounts by
    * at most the dropped common shingles — a lower bound that cannot
    * create false positives). */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, theta: Double = 0.5,
      maxDf: Long = 0L): DataFrame = {
    // the shingle frame has 3-4 consumers (sizes agg, optional df agg,
    // both self-join sides): persist it once — relying on Catalyst
    // exchange reuse re-runs the shingling stage per consumer, and at
    // scale that stage IS the job (the minhashPrep lesson)
    val sh = shingles(docs, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // near-dup pairs are output-sized: pin them and release the cache
    // NOW (composing callers like dupRateBySource re-consume the
    // result, never the shingles)
    val out = jaccardPairsFrom(sh, theta, maxDf).localCheckpoint(eager = true)
    sh.unpersist(blocking = true)
    out
  }

  /** [[ngramJaccardPairs]]'s core over an already-persisted shingle
    * frame — exposed separately so [[simhashRecallAudit]] can derive
    * the uncapped truth AND the df-capped grade from ONE shingle pass
    * instead of re-shingling the slice per path. */
  private def jaccardPairsFrom(sh: DataFrame, theta: Double,
      maxDf: Long): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val idx =
      if (maxDf <= 0) sh
      else {
        // df per shingle is one hash aggregation; the anti-join drops
        // hot keys before they can fan out
        val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .where(col("df") > maxDf).select(col("shingle"))
        sh.join(hot, Seq("shingle"), "left_anti")
      }
    val inter = idx.as("a")
      .join(idx.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sza")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("szb")), "id_b")
      .withColumn("jaccard",
        round(col("inter") / (col("sza") + col("szb") - col("inter")), 6))
      .where(col("jaccard") >= theta)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Shared minhash prep for the batch ([[minhashLshPairs]]) and
    * incremental ([[incrementalMinhash]]) LSH paths — ONE definition of
    * the hash family and signature shape so the two can never
    * desynchronize from the oracle or each other.
    *
    * Hash each shingle string ONCE; the affine-permutation family in
    * MinHashSig then works over that long, so the signature is one
    * aggregation (a tight numHashes-wide min loop in ONE
    * array-buffered typed aggregate — 128 separate min() buffers bloat
    * the generated update code) with map-side combine keeping the
    * shuffle at #docs rows; per-doc distinct-shingle counts ride the
    * same aggregation. The shingle frame is persisted because multiple
    * consumers need it (signature pass + the verify join sides) and
    * shingling is the expensive narrow stage — CALLER must unpersist.
    * The signature frame (one row per doc: sz + numHashes longs) is
    * localCheckpoint'ed: it has up to three consumers (band keys,
    * bucket occupancy when capped, verify sizes) and Spark re-runs the
    * whole shingle+min lineage per consumer otherwise (the simhashPairs
    * lesson; the capped variant measured a full extra signature pass
    * before this checkpoint). */
  private def minhashPrep(docs: DataFrame, n: Int,
      numHashes: Int): (DataFrame, DataFrame) = {
    val sh = shingles(docs, n).withColumn("h0", xxhash64(col("shingle")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigAgg = udaf(new MinHashSig(numHashes))
    val sig = sh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("sz"), sigAgg(col("h0")).as("sig"))
      .localCheckpoint(true)
    (sh, sig)
  }

  /** (doc_id, band, bkey) band keys: one xxhash64 per band over that
    * band's minhash slice, unpivoted via stack — docs sharing any
    * (band, bkey) are LSH candidates. */
  private def bandKeysOf(sig: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      xxhash64((b * rows until (b + 1) * rows).map(j => col("sig")(j)): _*)
        .as(s"b$b")
    }
    val stackExpr = (0 until bands).map(b => s"$b, b$b").mkString(", ")
    sig.select(col("doc_id") +: bandCols: _*)
      .selectExpr("doc_id", s"stack($bands, $stackExpr) AS (band, bkey)")
  }

  /** MinHash + banded LSH near-duplicate pairs — the 100 TB scale path:
    * per-doc minhash signature (numHashes hash functions via seeded
    * xxhash64), split into `bands` bands; docs sharing any band
    * signature become candidates (join keyed on the band bucket, never
    * all-pairs); candidates are then verified with EXACT Jaccard
    * restricted to candidate pairs. With 128 hashes / 32 bands of 4
    * rows, P(miss | jaccard=0.7) = (1-0.7^4)^32 ≈ 1.5e-4 and ≈4e-8 at
    * 0.9, so verified output matches the exact pair set.
    * Returns (id_a, id_b, jaccard) like [[ngramJaccardPairs]]. */
  /** `maxBucket` (0 = off) caps a band bucket's occupancy before the
    * candidate pair expansion — the LSH analog of [[ngramJaccardPairs]]'s
    * maxDf: a bucket of m docs fans out m²/2 candidate rows, and the
    * scale run measured exactly this term (candidate density on a
    * duplicate-dense corpus made minhash the 4.0× worst ratio at 10×
    * data). Dropping buckets larger than maxBucket bounds every join
    * key's fan-out at maxBucket². Recall cost is confined to
    * MEGA-clusters: a true near-dup pair collides in many of the 32
    * bands, so it is only lost when EVERY shared bucket is over the
    * cap — which happens exactly for groups of > maxBucket mutually
    * identical docs (their buckets coincide in all bands; DedupSpec
    * pins this). Production pipelines run exact dedup first, which
    * removes identical groups before minhash ever sees them. */
  /** Within-bucket candidate pairs (id_a < id_b, deduped) from a
    * (doc_id, <bandCol>, bkey) band-key stream, via ONE aggregation:
    * each bucket's members are grouped (collect_list) and the ordered
    * pairs expand in a single expression. The equivalent band-key
    * SELF-join plans as a SortMergeJoin at corpus scale (a band-key
    * stream is never broadcastable there): AQE's final plan reuses
    * the partitioning exchange across the alias boundary, but the
    * join still pays TWO full sorts of the corpus-sized band-key
    * stream plus the merge itself — plans/r18/lsh_candidate_stage_
    * {before,after}.txt show the contrast (SMJ + 2 Sorts + Reused-
    * Exchange vs one sortless ObjectHashAggregate). This shape
    * replaces all of that with the hash aggregation the exchange
    * already feeds. The pair SET is identical: every pair sharing a
    * bucket appears exactly as with the join (pairs filter to
    * id_a < id_b from the full in-bucket cross, so the collect_list
    * order cannot matter), and the downstream distinct dedups
    * multi-bucket collisions as before. `maxBucket` > 0 drops buckets
    * larger than the cap — a free size() filter on the SAME
    * aggregation, replacing the separate occupancy aggregation +
    * anti-join the capped variants paid. Skew story unchanged: a
    * bucket of m docs expands its m²/2 pairs in the one task that
    * owns its key — exactly where the join's hash partitioning put
    * them — and the cap is the documented guard in both shapes. */
  private[graft] def bucketPairs(bandKeys: DataFrame, bandCol: String,
      maxBucket: Long = 0L): DataFrame = {
    val buckets = bandKeys.groupBy(col(bandCol), col("bkey"))
      .agg(collect_list(col("doc_id")).as("ids"))
    val kept =
      if (maxBucket <= 0L) buckets
      else buckets.where(size(col("ids")) <= maxBucket)
    kept.where(size(col("ids")) >= 2)
      .select(explode(expr(
        """filter(flatten(transform(ids, x -> transform(ids, y ->
          |  named_struct('id_a', x, 'id_b', y)))), p -> p.id_a < p.id_b)"""
          .stripMargin)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  def minhashLshPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 128,
      bands: Int = 32, theta: Double = 0.5, maxBucket: Long = 0L): DataFrame = {
    val (sh, sig) = minhashPrep(docs, n, numHashes)
    val cands = bucketPairs(bandKeysOf(sig, numHashes, bands), "band", maxBucket)
    // exact verification restricted to candidate pairs
    val sizes = sig.select(col("doc_id"), col("sz"))
    val inter = cands
      .join(sh.as("sa"), col("sa.doc_id") === col("id_a"))
      .join(sh.as("sb"),
        col("sb.doc_id") === col("id_b") && col("sb.shingle") === col("sa.shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    val pairs = inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sza")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("szb")), "id_b")
      .withColumn("jaccard",
        round(col("inter") / (col("sza") + col("szb") - col("inter")), 6))
      .where(col("jaccard") >= theta)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    // the verified pair set is tiny (near-dup pairs only): pin it and
    // release the shingle cache NOW — a long-lived server must not
    // leak one MEMORY_AND_DISK entry per call
    val out = pairs.localCheckpoint(eager = true)
    sh.unpersist(blocking = true)
    out
  }

  /** Train/test contamination check — the decontamination step of a
    * training-data pipeline: flag documents containing any probe
    * n-gram (benchmark/eval strings that must not leak into training
    * data). Probes are shingled with the same word n-grams as the
    * corpus and matched with a broadcast semi-join on the shingle: the
    * probe side is benchmark-sized (tiny) at any corpus scale, the
    * corpus side is the same narrow shingle stage dedup uses, and the
    * only shuffle is the per-doc hit aggregation. Returns
    * (doc_id, hits, first_hit) for contaminated documents only. */
  def contamination(docs: DataFrame, probes: Seq[String], n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val probeDocs = probes.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val probeShingles = shingles(probeDocs, n).select(col("shingle")).distinct()
    shingles(docs, n)
      .join(broadcast(probeShingles), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("hits"), min(col("shingle")).as("first_hit"))
  }

  /** Incremental near-dup dedup — the daily-delta shape of a
    * continuously-growing corpus: match NEW documents against an
    * already-curated SEEN corpus without ever self-joining either side.
    * Both sides get the same minhash signatures and band keys as
    * [[minhashLshPairs]]; candidates come from the seen×new band-bucket
    * join only (no seen×seen, no new×new — the delta never pays for
    * history's internal structure), and candidates are verified with
    * exact Jaccard. At 100 TB the seen side's signatures/band keys are
    * a standing index maintained across runs (#docs × numHashes longs,
    * ~1000× smaller than the text) — only the delta recomputes here;
    * this method recomputes both sides from their frames so the
    * operator is self-contained and oracle-checkable. Returns
    * (seen_id, new_id, jaccard) pairs with jaccard >= theta.
    *
    * theta defaults to 0.8 so the recall bound is CORPUS-INDEPENDENT:
    * any pair passing the exact verify has jaccard >= 0.8, where the
    * 32×4-band miss probability is (1-0.8^4)^32 ≈ 5e-8 — so the output
    * equals the exhaustive cross-boundary pair set for any input, not
    * just one whose near-dup pairs happen to be planted high. At a
    * looser theta the banding's recall floor at theta itself applies
    * (e.g. ~13% of jaccard≈0.5 pairs miss every band). */
  def incrementalMinhash(newDocs: DataFrame, seenDocs: DataFrame,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
      theta: Double = 0.8): DataFrame = {
    val (shSeen, sigSeen) = minhashPrep(seenDocs, n, numHashes)
    val (shNew, sigNew) = minhashPrep(newDocs, n, numHashes)
    val cands = bandKeysOf(sigSeen, numHashes, bands).as("a")
      .join(bandKeysOf(sigNew, numHashes, bands).as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("seen_id"), col("b.doc_id").as("new_id"))
      .distinct()
    val inter = cands
      .join(shSeen.as("sa"), col("sa.doc_id") === col("seen_id"))
      .join(shNew.as("sb"),
        col("sb.doc_id") === col("new_id") && col("sb.shingle") === col("sa.shingle"))
      .groupBy(col("seen_id"), col("new_id"))
      .agg(count(lit(1)).as("inter"))
    val pairs = inter
      .join(sigSeen.select(col("doc_id").as("seen_id"), col("sz").as("sza")), "seen_id")
      .join(sigNew.select(col("doc_id").as("new_id"), col("sz").as("szb")), "new_id")
      .withColumn("jaccard",
        round(col("inter") / (col("sza") + col("szb") - col("inter")), 6))
      .where(col("jaccard") >= theta)
      .select(col("seen_id"), col("new_id"), col("jaccard"))
    val out = pairs.localCheckpoint(eager = true)
    shSeen.unpersist(blocking = true)
    shNew.unpersist(blocking = true)
    out
  }

  /** Standing PORTABLE MinHash signature index — the persisted state
    * [[incrementalFromIndex]] matches daily deltas against: one row
    * per document, `numHashes` int64 minhash components under the
    * [[mhA]]/[[mhB]] affine family mod 2³¹−1 (exact int64 in any
    * engine, so a SQL oracle recomputes it bit-for-bit). This is the
    * "#docs × numHashes longs, ~1000× smaller than the text" standing
    * index [[incrementalMinhash]]'s docstring describes, as a
    * first-class frame: disjoint-delta refresh is a plain UNION
    * (signatures are per-doc rows — the [[graft.llm.TextStats]]
    * boilerplate-index analog with no shared keys to merge).
    * Documents with fewer than n tokens have no shingles and no row —
    * they can never near-dup match anyway. */
  def minhashIndex(docs: DataFrame, n: Int = 3,
      numHashes: Int = 128): DataFrame = {
    val sigAgg = udaf(new PortableMinHashSig(numHashes))
    shingles(docs, n)
      .withColumn("h0p", expr(
        s"CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT) % $MH_P"))
      .groupBy(col("doc_id")).agg(sigAgg(col("h0p")).as("sig"))
  }

  /** Incremental near-dup match against the standing signature index
    * ONLY — the daily loop at the scale where history's TEXT cannot
    * be re-read: the delta computes its own signatures, candidates
    * come from the seen×new band-bucket join exactly as
    * [[incrementalMinhash]] (no side self-joins), but verification is
    * the ESTIMATED Jaccard — the fraction of agreeing signature
    * components, an unbiased estimator of true Jaccard with
    * sd = sqrt(J(1−J)/numHashes) (≈ 0.035 at J = 0.8, 128 hashes) —
    * so the seen side touches `seenIndex` and NOTHING else. The
    * exact-verify twin [[incrementalMinhash]] re-reads seen shingles
    * and is the correctness reference; this form is the one a 100 TB
    * corpus actually runs, trading the estimator's quantized ±1/128
    * steps for never re-scanning history. Returns (seen_id, new_id,
    * est_jaccard_q6) for estimates ≥ theta; everything is integer
    * arithmetic on the portable components, so the oracle replays the
    * exact candidate set AND the exact estimates. */
  def incrementalFromIndex(newDocs: DataFrame, seenIndex: DataFrame,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
      theta: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val thrQ6 = math.round(theta * 1000000)
    // delta-sized; checkpointed so band keys + the estimate join
    // don't re-run the shingle aggregation
    val sigNew = minhashIndex(newDocs, n, numHashes)
      .localCheckpoint(eager = true)
    val cands = portableBandKeys(seenIndex, numHashes, bands).as("a")
      .join(portableBandKeys(sigNew, numHashes, bands).as("b"),
        col("a.bpos") === col("b.bpos") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("seen_id"), col("b.doc_id").as("new_id"))
      .distinct()
    cands
      .join(seenIndex.select(col("doc_id").as("seen_id"),
        col("sig").as("sig_a")), Seq("seen_id"))
      .join(sigNew.select(col("doc_id").as("new_id"),
        col("sig").as("sig_b")), Seq("new_id"))
      .withColumn("est_jaccard_q6", expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> " +
          "CASE WHEN x = y THEN 1L ELSE 0L END), 0L, (a, x) -> a + x)" +
          s" * 1000000L DIV $numHashes"))
      .where(col("est_jaccard_q6") >= lit(thrQ6))
      .select(col("seen_id"), col("new_id"), col("est_jaccard_q6"))
  }

  /** Cross-source overlap matrix — the corpus-curation view of WHERE
    * duplication lives: for every source pair, the n-gram-set Jaccard
    * and containment (inter / min size) between the sources' distinct
    * shingle sets. Catches a source that's a subset-scrape of another
    * (containment ≈ 1 at low Jaccard) before any doc-level dedup runs.
    *
    * Scale shape: the frame is (source, shingle) DISTINCT — vocabulary
    * × sources, far smaller than the corpus — and the self-join keys
    * on shingle whose fan-out is bounded by S² per shingle (S = number
    * of sources, inherently small); the output is the S×S matrix. One
    * distinct agg, one join, two tiny size joins — documents
    * themselves never move. */
  def sourceOverlap(docs: DataFrame, n: Int = 3): DataFrame = {
    // the distinct (source, shingle) frame has 3 consumers (sizes agg
    // + both self-join sides): persist it once, like ngramJaccardPairs.
    // Perf history: an r11 REPS=7 sample claimed the persist was 1.7×
    // slower and dropped it; the official r11 bench then read 4.4×
    // SLOWER. A controlled interleaved idle-box A/B (3×REPS=5, sf0.1,
    // alternating forms, nothing else running) settles it: persist
    // medians {2.30, 1.43, 2.69} s vs no-persist {1.90, 2.54, 1.61} s
    // — statistically indistinguishable; BOTH earlier claims were box
    // noise. The persist ships because it is the scale-safe form: the
    // no-persist plan re-runs the shingle explode + distinct whenever
    // the small join side broadcasts (ReusedExchange only fires when
    // both sides co-partition), and at 100 TB that re-run IS the job.
    val sh = docs.select(col("source"),
      explode(expr(s"graft_shingles(text, $n)")).as("shingle")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    // the S×S matrix is output-sized: pin it, then release the
    // vocabulary cache immediately
    val out = inter
      .join(sizes.select(col("source").as("src_a"), col("sz").as("sza")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("sz").as("szb")), "src_b")
      .select(col("src_a"), col("src_b"), col("inter"),
        round(col("inter") / (col("sza") + col("szb") - col("inter")), 6)
          .as("jaccard"),
        round(col("inter") / least(col("sza"), col("szb")).cast("double"), 6)
          .as("containment"))
      .localCheckpoint(eager = true)
    sh.unpersist(blocking = true)
    out
  }

  /** Span-level decontamination — [[contamination]] at sub-document
    * granularity: for every document, WHICH token positions start an
    * n-gram window that matches a probe (benchmark/eval) n-gram, so a
    * pipeline can excise the contaminated span instead of dropping the
    * whole document (the Lee/Gao decontamination practice). The probe
    * side is benchmark-sized and broadcast; the corpus side is one
    * narrow positional window explode — no shuffle of documents, the
    * output is match-bounded. Returns (doc_id, pos, shingle). */
  def contaminationSpans(docs: DataFrame, probes: Seq[String],
      n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val probeDocs = probes.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val probeShingles = shingles(probeDocs, n).select(col("shingle")).distinct()
    val t = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .where(size(col("w")) >= n)
    t.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(w) - $n), i -> array_join(slice(w, i + 1, $n), ' '))"))
        .as(Seq("pos", "shingle")))
      .join(broadcast(probeShingles), Seq("shingle"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("shingle"))
  }

  /** Near-duplicate cluster assignment: connected components over a
    * near-dup pair set, so a dedup pipeline can keep ONE document per
    * duplicate cluster (not just one per pair). Labels propagate by
    * iterated min over neighbors — a distributed label-propagation
    * loop whose per-iteration cost is one co-partitioned join + one
    * hash aggregation on the (small) pair-graph, converging in
    * O(cluster diameter) rounds; dup clusters are near-cliques, so a
    * handful of rounds suffice. Lineage is cut per round with
    * localCheckpoint so plans stay flat at scale.
    *
    * Input: (id_a, id_b [, ...]) pairs. Output one row per document
    * that appears in any pair: (doc_id, cluster_id, keep) where
    * cluster_id is the component's minimum doc_id and keep marks the
    * canonical representative. */
  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * duplicate clusters over an embedding column, following the
    * paper's actual shape — cluster the corpus FIRST, then find
    * cosine-threshold pairs only WITHIN cells, then keep one document
    * per connected component. The paper's k-means is the upstream
    * `label` column (the same precomputed coarse quantizer ivfTopK
    * probes; Ann.kmeansIvfTopK's distributed Lloyd derives one); because the
    * shipped test labels are few and coarse, each label is further
    * split by the sign bits of the first `bits` dimensions, with
    * `bits` sized from the corpus so expected cell occupancy stays
    * ~`targetCell` — so the pair stage costs N·targetCell·dim
    * multiply-adds and grows LINEARLY with the corpus (the previous
    * all-pairs form measured 11.7× for 10× data; this form's work is
    * occupancy-bounded by construction). Everything is deterministic
    * (integer cell math, fixed-fold sign prefix), so a SQL oracle
    * recomputes the exact cells, pairs, and components.
    *
    * Approximation is the paper's own: pairs straddling cells are
    * missed (SemDeDup likewise never compares across k-means
    * clusters). True duplicates have cosine ≈ 1 and identical sign
    * patterns, so they always share a cell — DedupSpec pins that
    * planted duplicates cluster with recall 1.0. On structureless
    * corpora at a LOW theta (the sf0.01 fixture's random vectors,
    * theta 0.45) most threshold pairs are cross-label noise and the
    * within-cell recall is correspondingly low — that population is
    * not semantic duplicates; the exact all-pairs form remains as the
    * oracle-only dedup_semantic_exact entry. */
  def semanticClusters(emb: DataFrame, theta: Double,
      targetCell: Int = 256): DataFrame =
    dupClusters(semanticPairs(emb, theta, targetCell))

  /** The pair stage of [[semanticClusters]], exposed for the recall
    * audit: cosine-threshold pairs WITHIN the deterministic cells
    * (label × adaptive sign-bit prefix). Same plan as before the
    * extraction — one celled self-join, occupancy-bounded. */
  def semanticPairs(emb: DataFrame, theta: Double,
      targetCell: Int = 256): DataFrame = {
    val e = Cells.celled(emb, targetCell)
    val a = e.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("qv"), col("nrm").as("qn"))
    val b = e.select(col("cell"), col("vec_id").as("id_b"),
      col("v"), col("nrm"))
    a.join(b, Seq("cell")).where(col("id_a") < col("id_b"))
      .withColumn("sim",
        round(expr("graft_dot(qv, v)") / (col("qn") * col("nrm")), 9))
      .where(col("sim") >= theta)
      .select(col("id_a"), col("id_b"))
  }

  /** SemDeDup recall audit — the trust gate for the celled semantic
    * dedup (the [[simhashRecallAudit]] pattern on the embedding
    * side): exact all-pairs cosine truth vs [[semanticPairs]]
    * candidates over the SAME adaptive md5-sampled slice, recall per
    * similarity band. The celled operator's documented miss mode is
    * cross-cell pairs; this row MEASURES that loss by band — high
    * bands (true near-duplicates, aligned sign patterns) should read
    * ~1e6, low bands read the cell restriction's real cost. The
    * exact truth side is all-pairs QUADRATIC, so the audit samples
    * vectors (not pairs) adaptively: mod = max(1, n/sampleTarget)
    * keeps the slice ~sampleTarget vectors at any corpus size —
    * constant audit cost by construction. The one count() is an
    * eager 1-row stat at plan-construction time. */
  def semanticRecallAudit(emb: DataFrame, theta: Double = 0.45,
      targetCell: Int = 256, sampleMod: Long = 0L,
      sampleTarget: Long = 1000L): DataFrame = {
    val slice = Adaptive.slice(emb, "vec_id", sampleMod, sampleTarget)
    val truth = Ann.cosinePairs(slice, theta)
    val caught = semanticPairs(slice, theta, targetCell)
      .select(col("id_a"), col("id_b"), lit(1L).as("__hit"))
    truth.join(caught, Seq("id_a", "id_b"), "left")
      .groupBy(least(floor(col("sim") * 10), lit(9L)).cast("long")
        .as("band"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_caught"))
      .withColumn("recall_q6", expr("n_caught * 1000000L div n_true"))
  }

  /** SemDeDup threshold (θ) tuning curve: per θ, what the celled
    * operator would DO (candidate pairs found, documents touched by
    * ≥1 pair) and what it would MISS (recall of the cell-restricted
    * pair stage against the exact all-pairs truth over the
    * [[semanticRecallAudit]] adaptive slice). One row per θ:
    * (theta_q2, n_pairs, n_docs_dup, n_true, n_caught, recall_q6).
    * Raising θ filters the SAME sim column, so n_pairs / n_docs_dup /
    * n_true / n_caught are pointwise non-increasing in θ (DedupSpec
    * pins it). recall_q6 reads 1e6 when a θ band has no truth pairs on
    * the slice (vacuously complete, not NULL). A [[Sweep]] on the
    * shared side: one celled pair pass keeps sims down to min(θ), and
    * every θ is a conditional aggregate of it; a truth pair is caught
    * at θ iff its two vectors share a cell, which is θ-independent, so
    * the audit grades off one truth ⟕ cell-share join. */
  def semanticThetaCurve(emb: DataFrame,
      thetas: Seq[Double] = Seq(0.45, 0.6, 0.75, 0.9),
      targetCell: Int = 256, sampleMod: Long = 0L,
      sampleTarget: Long = 1000L): DataFrame = {
    require(thetas.nonEmpty && thetas.forall(t => t > 0.0 && t <= 1.0),
      "each theta must be in (0, 1]")
    val tmin = thetas.min
    // full corpus: ONE celled pair pass with sims kept down to min(θ)
    val e = Cells.celled(emb, targetCell)
    val a = e.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("qv"), col("nrm").as("qn"))
    val b = e.select(col("cell"), col("vec_id").as("id_b"),
      col("v"), col("nrm"))
    val p = a.join(b, Seq("cell")).where(col("id_a") < col("id_b"))
      .withColumn("sim",
        round(expr("graft_dot(qv, v)") / (col("qn") * col("nrm")), 9))
      .where(col("sim") >= lit(tmin))
      // inline endpoint explode: the join lineage executes ONCE and
      // feeds both the pair counts (each pair seen twice -> DIV 2)
      // and the touched-documents counts
      .select(explode(array(
        struct(col("id_a").as("doc_id"), col("sim")),
        struct(col("id_b").as("doc_id"), col("sim")))).as("x"))
      .select(col("x.doc_id").as("doc_id"), col("x.sim").as("sim"))
    val pcCols = thetas.zipWithIndex.map { case (th, i) =>
      sum(when(col("sim") >= lit(th), 1L).otherwise(0L)).as(s"pc_$i")
    }
    val perDoc = p.groupBy(col("doc_id")).agg(pcCols.head, pcCols.tail: _*)
    val fullCols = thetas.indices.flatMap { i => Seq(
      expr(s"coalesce(sum(pc_$i), 0L) DIV 2").as(s"np_$i"),
      coalesce(sum(when(col(s"pc_$i") > 0L, 1L).otherwise(0L)), lit(0L))
        .as(s"nd_$i"))
    }
    val fullAgg = perDoc.agg(fullCols.head, fullCols.tail: _*)
    // audit: exact truth over the adaptive slice vs θ-independent
    // cell-sharing (hit ⇔ same cell — no dot products on this side)
    val slice = Adaptive.slice(emb, "vec_id", sampleMod, sampleTarget)
    val truth = Ann.cosinePairs(slice, tmin)
    val ec = Cells.celled(slice, targetCell)
    val cs = ec.select(col("cell"), col("vec_id").as("id_a"))
      .join(ec.select(col("cell"), col("vec_id").as("id_b")), Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1L).as("__hit"))
    val tf = truth.join(cs, Seq("id_a", "id_b"), "left")
    val sliceCols = thetas.zipWithIndex.flatMap { case (th, i) => Seq(
      coalesce(sum(when(col("sim") >= lit(th), 1L).otherwise(0L)), lit(0L))
        .as(s"nt_$i"),
      coalesce(sum(when(col("sim") >= lit(th) && col("__hit").isNotNull,
        1L).otherwise(0L)), lit(0L)).as(s"nc_$i"))
    }
    val sliceAgg = tf.agg(sliceCols.head, sliceCols.tail: _*)
    Sweep.unstack(fullAgg.crossJoin(sliceAgg),
        Seq("theta_q2", "n_pairs", "n_docs_dup", "n_true", "n_caught"))(
        thetas.zipWithIndex.map { case (th, i) =>
          Seq(lit(math.round(th * 100)), col(s"np_$i"), col(s"nd_$i"),
            col(s"nt_$i"), col(s"nc_$i"))
        })
      .withColumn("recall_q6", when(col("n_true") === 0L, lit(1000000L))
        .otherwise(expr("n_caught * 1000000L DIV n_true")))
  }

  def dupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val viaNeighbors = edges
        .join(labels.select(col("id").as("dst"), col("lbl")), Seq("dst"))
        .select(col("src").as("id"), col("lbl"))
      // the convergence signal rides the round's OWN checkpoint: the
      // (id, lbl, old) join materializes in the same job as the new
      // labels (labels' id set is exactly next's — ids never appear
      // or vanish mid-loop — so the inner join drops nothing), and
      // the isEmpty check then scans checkpointed partitions instead
      // of running a second join job per round
      val step = labels.unionByName(viaNeighbors)
        .groupBy(col("id")).agg(min(col("lbl")).as("lbl"))
        .join(labels.withColumnRenamed("lbl", "old"), Seq("id"))
        .localCheckpoint(true)
      converged = step.where(col("lbl") < col("old")).isEmpty
      labels = step.select(col("id"), col("lbl"))
      i += 1
    }
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
      (col("id") === col("lbl")).as("keep"))
  }

  /** Quality-aware cluster representatives — the selection a curation
    * run actually wants from [[dupClusters]]: instead of keeping the
    * MINIMUM doc_id (an arbitrary survivor), keep the HIGHEST-quality
    * member of each near-dup cluster (ties → lowest doc_id), with the
    * quality key supplied as a column of `docs` (n_chars = keep the
    * longest, or any upstream score). Output is one row per clustered
    * document: (doc_id, cluster_id, quality, keep).
    *
    * Scale shape: the cluster table is pair-incident-docs-sized
    * (≪ corpus); the argmax per cluster is a map-side-combinable
    * max(struct(quality, −doc_id)) aggregation — no per-cluster
    * window sort, so a mega-cluster costs a comparison fold, not a
    * sort cell. Quality joins in on doc_id (a narrow corpus
    * projection against the small cluster table — AQE broadcasts the
    * cluster side when it fits). */
  def clusterRepresentatives(docs: DataFrame, pairs: DataFrame,
      qualityCol: String = "n_chars"): DataFrame = {
    val cl = dupClusters(pairs).select(col("doc_id"), col("cluster_id"))
    val q = docs.select(col("doc_id"),
      col(qualityCol).cast("long").as("quality"))
    val members = cl.join(q, Seq("doc_id"))
    val best = members.groupBy(col("cluster_id"))
      .agg(max(struct(col("quality"), (-col("doc_id")).as("nd"))).as("b"))
    members.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        (col("quality") === col("b.quality") &&
          col("doc_id") === -col("b.nd")).as("keep"))
  }

  /** Per-source duplication report — the summary table a curation run
    * prints: for each source, how many documents it contributed and
    * what fraction were near-duplicates (non-keepers of their dup
    * cluster). The decision input for dropping or down-weighting a
    * source BEFORE spending compute on it. Composes the audited
    * pair/cluster operators; the report aggregation itself is
    * source-sized. Counts are exact int64 and the rate is ONE
    * division of exact integers, floor-quantized ×1e6. */
  def dupRateBySource(docs: DataFrame, n: Int = 3,
      theta: Double = 0.5): DataFrame = {
    val dups = dupClusters(ngramJaccardPairs(docs, n, theta))
      .where(!col("keep")).select(col("doc_id"), lit(1L).as("is_dup"))
    docs.select(col("doc_id"), col("source"))
      .join(dups, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("is_dup")), lit(0L)).as("n_dups"))
      .withColumn("dup_rate_q6", expr("n_dups * 1000000L DIV n_docs"))
  }

  /** 60-bit SimHash per document from md5-derived token hashes
    * (portable: the same hash is computable in ANSI SQL). Bit j of the
    * simhash (j in 0..59) is 1 iff the sum over tokens of
    * (2*bit_j(md5(token))-1) is positive. Token multiplicity counts.
    * 60 bits, not 64: the token hash is the low 15 md5 hex digits so
    * it fits a signed BIGINT in every engine — a 64th bit would be the
    * sign bit, which portable SQL cannot shift into without
    * overflow-behavior divergence. Size Hamming thresholds against a
    * 60-bit fingerprint. */
  /** SimHash near-duplicate PAIRS — the banded Hamming search that
    * turns the fingerprints into an actual dedup operator. The 60-bit
    * signature splits into `bands` equal bit-bands; by pigeonhole two
    * signatures within Hamming distance < bands agree exactly on at
    * least one band, so a bucket-join on (band, bandBits) reaches
    * every qualifying pair with NO all-pairs scan (the simhash analog
    * of MinHash-LSH banding; Manku et al. 2007's block-permuted
    * probing). Exact verify — bit_count(xor) <= maxDist — runs on
    * candidates only, and integer Hamming distances make the whole
    * operator bit-exact across engines. */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3,
      bands: Int = 4): DataFrame = {
    require(60 % bands == 0 && maxDist < bands,
      "pigeonhole recall needs maxDist < bands and bands | 60")
    val width = 60 / bands
    // One row per doc (2 longs): materialize once so the banded
    // self-join below doesn't re-run the whole tokenize+agg lineage
    // on both sides.
    val sig = simhash(docs).localCheckpoint(true)
    val banded = sig.select(col("doc_id"), col("simhash"), explode(expr(
      s"""transform(sequence(0, ${bands - 1}), b -> struct(b AS band,
         | (simhash div shiftleft(1L, b * $width)) % shiftleft(1L, $width) AS key))"""
        .stripMargin)).as("x"))
      .select(col("doc_id"), col("simhash"), col("x.band").as("band"),
        col("x.key").as("key"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct() // a close pair can share several bands
      .select(col("id_a"), col("id_b"),
        expr("CAST(bit_count(sa ^ sb) AS BIGINT)").as("hamming"))
      .where(col("hamming") <= maxDist)
  }

  /** Dedup-recall audit — "how much of the TRUE near-duplicate mass
    * does the cheap fingerprint recover?": the exact n-gram Jaccard
    * pair set ≥ `theta` ([[ngramJaccardPairs]]) is the truth, the
    * SimHash banded-Hamming pair set ([[simhashPairs]]) is the
    * candidate generator under audit, and the output is per
    * similarity band (floor(jaccard·10), 1.0 folded into band 9):
    * how many true pairs exist, how many SimHash caught, and the
    * recall ×1e6. This is the retrieval-quality-gate pattern
    * (ann_recall_eval) aimed at dedup: SimHash estimates COSINE over
    * token multisets, not Jaccard over shingle sets, so its recall
    * genuinely degrades toward theta — the banded table is the
    * curation-time decision input for "is a 2-long fingerprint
    * enough, or does this corpus need MinHash?". The recall ratio is
    * EXACT integer division ×1e6 — no float ever enters the audit.
    *
    * The mh_caught / mh_recall_q6 columns grade [[minhashLshPairs]] —
    * the operator whose recall-loss knobs (`maxDf` on the truth side,
    * `mhMaxBucket` on the candidate side) a curation run actually
    * tunes — over the SAME slice and truth set: at the default
    * 128-hash / 32-band setting every band reads 1.0 on this corpus
    * (the property the dedup_minhash_lsh oracle already certifies:
    * verified banded output equals the exact pair set), and the row
    * exists so a TUNED setting (fewer bands, a biting mhMaxBucket)
    * shows exactly which similarity bands pay — DedupSpec pins the
    * capped-vs-uncapped ordering on a planted over-cap cluster.
    *
    * Scale shape: the truth side is PAIR-QUADRATIC IN DUPLICATE
    * DENSITY — its inverted-index self-join emits Σ df² rows, and on
    * a corpus where every document has c near-copies every shingle's
    * df carries that factor, so the join grows c² (measured: the
    * 100×-replicated sf10 corpus takes the sf0.1 truth join from
    * 2.8 M to 28 G rows — a ~1 TB shuffle that exhausts local disk).
    * `maxDf` does NOT rescue it there: replication lifts EVERY df
    * past any useful cap, so the cap empties the truth set instead
    * of bounding it. The scale path is SAMPLING: restrict the audit
    * to documents whose portable md5 draw ≡ 0 (mod m) BEFORE both
    * paths — the same 1/m² pair subspace on the truth and candidate
    * sides, so per-band recall is estimated over sampled pairs, not
    * distorted (recall is a statistic; the estimate concentrates
    * long before the corpus is exhausted). `sampleMod` > 0 fixes m
    * explicitly (1 = full audit); the default 0 picks m ADAPTIVELY
    * as max(1, n_docs / sampleTarget) — the slice stays ~sampleTarget
    * documents whatever the corpus size, so the audit's cost is
    * CONSTANT in corpus scale by construction (the adaptive-cell
    * precedent from semanticClusters). The one count() this takes is
    * a 1-row stat, not a data-path collect. DedupSpec pins sampled ≡
    * unsampled-over-the-filtered-subset exactly, and adaptive ≡ full
    * below the target. */
  def simhashRecallAudit(docs: DataFrame, n: Int = 3, theta: Double = 0.5,
      maxDist: Int = 3, bands: Int = 4, maxDf: Long = 0L,
      sampleMod: Long = 0L, sampleTarget: Long = 2500L,
      mhHashes: Int = 128, mhBands: Int = 32,
      mhMaxBucket: Long = 0L, jcMaxDf: Long = 10L): DataFrame = {
    val mod = Adaptive.modulus(docs, sampleMod, sampleTarget)
    val slice = Adaptive.sliceAt(docs, "doc_id", mod)
    // ONE shingle pass feeds both the uncapped truth and the capped
    // grade (re-shingling the slice per path would double the
    // audit's dominant stage)
    val sh = shingles(slice, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the four graded paths are independent eager chains — the two
    // Jaccard walks consume the persisted shingle frame, the SimHash
    // and MinHash paths re-derive their own state from the slice —
    // so they are submitted concurrently (Par.all) and the audit pays
    // the longest path, not the sum of all four.
    // the capped-Jaccard column grades the EXACT family's own scale
    // knob (maxDf — hot shingles dropped from the inverted index): a
    // pair whose capped intersection falls below θ is the cap's real
    // recall cost, measured per band over the same truth set. df is a
    // CORPUS-GLOBAL statistic that thins with the slice (~df/mod under
    // the uniform draw), so the graded cap scales proportionally —
    // max(1, jcMaxDf/mod) bites on the slice where jcMaxDf would on
    // the corpus in expectation; below the sample target the slice IS
    // the corpus and the cap is exact.
    // the MinHash column audits the operator whose recall knobs a
    // curation run actually tunes: the REAL banded-LSH path (signature
    // -> band buckets -> occupancy cap -> candidate join -> exact
    // verification) over the same slice — any banding or maxBucket
    // miss decrements mh_recall_q6 against the same truth set
    val eager = Par.all[DataFrame](Seq(
      () => jaccardPairsFrom(sh, theta, maxDf).localCheckpoint(eager = true),
      () => jaccardPairsFrom(sh, theta, math.max(1L, jcMaxDf / mod))
        .select(col("id_a"), col("id_b"), lit(1L).as("__jhit"))
        .localCheckpoint(eager = true),
      () => simhashPairs(slice, maxDist, bands)
        .select(col("id_a"), col("id_b"), lit(1L).as("__hit")),
      () => minhashLshPairs(slice, n, mhHashes, mhBands, theta,
          mhMaxBucket)
        .select(col("id_a"), col("id_b"), lit(1L).as("__mhit"))))
    sh.unpersist(blocking = true)
    val truth = eager(0)
    val jcaught = eager(1)
    val caught = eager(2)
    val mcaught = eager(3)
    truth.join(caught, Seq("id_a", "id_b"), "left")
      .join(mcaught, Seq("id_a", "id_b"), "left")
      .join(jcaught, Seq("id_a", "id_b"), "left")
      .groupBy(least(floor(col("jaccard") * 10), lit(9L)).cast("long")
        .as("band"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_caught"),
        sum(coalesce(col("__mhit"), lit(0L))).as("mh_caught"),
        sum(coalesce(col("__jhit"), lit(0L))).as("jc_caught"))
      .withColumn("recall_q6",
        expr("n_caught * 1000000L div n_true"))
      .withColumn("mh_recall_q6",
        expr("mh_caught * 1000000L div n_true"))
      .withColumn("jc_recall_q6",
        expr("jc_caught * 1000000L div n_true"))
      .select(col("band"), col("n_true"), col("n_caught"),
        col("recall_q6"), col("mh_caught"), col("mh_recall_q6"),
        col("jc_caught"), col("jc_recall_q6"))
  }

  /** Low 60 bits of md5 (15 hex digits) as a non-negative Long — the
    * [[simhash]] portability trick on the driver side, so hash-family
    * constants derive identically however they are recomputed (the
    * [[Ann.md5Plane]] precedent). */
  private def md5Low60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** The PORTABLE affine MinHash family used by [[bandCurve]]:
    * h_j(x) = (a_j·x + b_j) mod p over the md5-low-60-of-shingle
    * value reduced mod p, p = 2³¹−1 (prime). Every term stays under
    * 2⁶² (a_j, x < 2³¹), so the arithmetic is exact int64 in ANY
    * engine — no wrapping, no overflow fault — and the DuckDB oracle
    * recomputes the EXACT signatures (the production family in
    * [[MinHashSig]] deliberately wraps mod 2⁶⁴, which only Spark can
    * replay; a curve whose per-setting catches depend on the hash
    * values needs the portable family). a_j/b_j are md5-derived
    * constants of j alone ([[md5Plane]]-style), a_j ∈ [1, p−1],
    * b_j ∈ [0, p−1]. */
  private[graft] val MH_P = 2147483647L
  private[graft] def mhA(j: Int): Long = md5Low60(s"mh:a:$j") % (MH_P - 1L) + 1L
  private[graft] def mhB(j: Int): Long = md5Low60(s"mh:b:$j") % MH_P

  /** [[MinHashSig]]'s one-buffer shape over the portable family. */
  private final class PortableMinHashSig(numHashes: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Seq[Long]] {
    private val as = Array.tabulate(numHashes)(mhA)
    private val bs = Array.tabulate(numHashes)(mhB)
    def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)
    def reduce(buf: Array[Long], h0p: Long): Array[Long] = {
      var j = 0
      while (j < numHashes) {
        val h = (as(j) * h0p + bs(j)) % MH_P
        if (h < buf(j)) buf(j) = h
        j += 1
      }
      buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var j = 0
      while (j < numHashes) { if (b(j) < a(j)) a(j) = b(j); j += 1 }
      a
    }
    def finish(buf: Array[Long]): Seq[Long] = buf.toSeq
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Shared prep for the two portable-minhash curves ([[bandCurve]] /
    * [[bucketCurve]]): the adaptive slice, ONE shingle pass feeding
    * both the exact pair truth and the portable signatures, both
    * checkpointed (each curve consumes them once per setting). */
  private def portableCurvePrep(docs: DataFrame, n: Int,
      numHashes: Int, theta: Double, sampleMod: Long,
      sampleTarget: Long): (DataFrame, DataFrame) = {
    val mod = Adaptive.modulus(docs, sampleMod, sampleTarget)
    val slice = Adaptive.sliceAt(docs, "doc_id", mod)
    val sh = shingles(slice, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigAgg = udaf(new PortableMinHashSig(numHashes))
    // truth and signatures are independent consumers of the persisted
    // shingle frame: materialize them concurrently (Par.all) so the
    // prep pays the longer of the two chains, not their sum
    val eager = Par.all[DataFrame](Seq(
      () => jaccardPairsFrom(sh, theta, 0L).localCheckpoint(eager = true),
      () => sh
        .withColumn("h0p", expr(
          s"CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT) % $MH_P"))
        .groupBy(col("doc_id")).agg(sigAgg(col("h0p")).as("sig"))
        .localCheckpoint(eager = true)))
    sh.unpersist(blocking = true)
    (eager(0), eager(1))
  }

  /** (doc_id, bpos, bkey) band keys over a portable signature frame:
    * md5 of the comma-joined decimal band slice (engine-identical
    * strings on both sides of the differential). */
  private def portableBandKeys(sig: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val rows = numHashes / bands
    sig.select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, ${bands - 1}), b ->
           |  md5(array_join(transform(sequence(0, ${rows - 1}),
           |    r -> CAST(sig[b * $rows + r] AS STRING)), ',')))"""
          .stripMargin)).as(Seq("bpos", "bkey")))
  }

  /** The per-Jaccard-decile grade shared by the two curves: deduped
    * candidate pairs vs the checkpointed truth, plus the measured
    * candidate count attached to every decile row: (band, n_true,
    * n_caught, recall_q6, n_candidates). `maxBucket` > 0 drops
    * over-cap buckets inside the ONE [[bucketPairs]] aggregation. */
  private def gradeCandidates(truth: DataFrame, bk: DataFrame,
      maxBucket: Long = 0L): DataFrame = {
    val cands = bucketPairs(bk, "bpos", maxBucket)
      .localCheckpoint(eager = true)
    val nCand = cands.agg(count(lit(1)).as("n_candidates"))
    truth
      .join(cands.withColumn("__hit", lit(1L)), Seq("id_a", "id_b"), "left")
      .groupBy(least(floor(col("jaccard") * 10), lit(9L)).cast("long")
        .as("band"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_caught"))
      .withColumn("recall_q6", expr("n_caught * 1000000L DIV n_true"))
      .crossJoin(broadcast(nCand))
  }

  /** MinHash banding tuning curve, measured at the operator's own
    * settings instead of the (1−J^r)^b formula (the ≈13%-at-J=0.5
    * caveat in [[graft.llm.Curate]]): per (bands, rows) split of
    * `numHashes` portable minhashes, the per-Jaccard-decile recall of
    * the band-bucket candidate stage against the exact pair truth,
    * plus the measured deduped candidate-pair count. One row per
    * (setting × Jaccard decile): (bands, rows_per_band, band, n_true,
    * n_caught, recall_q6, n_candidates).
    *
    * Exact: signatures use the PORTABLE affine family ([[mhA]]/[[mhB]]
    * mod 2³¹−1 over md5-low-60 shingle values) and band keys are md5
    * over the comma-joined decimal band slice, so the DuckDB oracle
    * recomputes the same buckets and therefore the same misses.
    * Monotone: settings that split 128 into contiguous slices with
    * rows halving (16×8 → 32×4 → 64×2) are nested refinements, so
    * finer-banded candidate sets are POINTWISE supersets and recall
    * and candidate count are nondecreasing in `bands` (DedupSpec pins
    * it). A [[Sweep]] on the shared side: bands only re-slice the
    * checkpointed signatures; each setting's candidates are one eager
    * checkpoint. */
  def bandCurve(docs: DataFrame, n: Int = 3, numHashes: Int = 128,
      bandsList: Seq[Int] = Seq(16, 32, 64), theta: Double = 0.5,
      sampleMod: Long = 0L, sampleTarget: Long = 2500L): DataFrame = {
    require(bandsList.nonEmpty &&
      bandsList.forall(b => b >= 1 && numHashes % b == 0),
      "each bands setting must divide numHashes")
    val (truth, sig) = portableCurvePrep(docs, n, numHashes, theta,
      sampleMod, sampleTarget)
    val graded = Sweep.eager(bandsList)(bands =>
      gradeCandidates(truth, portableBandKeys(sig, numHashes, bands)))
    Sweep.union(bandsList.zip(graded)) { case (bands, g) =>
      Seq("bands" -> bands.toLong,
        "rows_per_band" -> (numHashes / bands).toLong) -> g
    }
  }

  /** MinHash bucket-cap tuning curve, [[minhashLshPairs]]'s skew
    * guard (`maxBucket`): per cap, the per-Jaccard-decile recall of the
    * band-bucket candidate stage after dropping over-cap buckets, plus
    * the measured candidate count the cap admitted (cap 0 = uncapped).
    * One row per (cap × Jaccard decile): (max_bucket, bands, band,
    * n_true, n_caught, recall_q6, n_candidates).
    *
    * Exact: the same portable family and prep as [[bandCurve]], so the
    * DuckDB oracle recomputes the buckets, occupancies and drops.
    * Monotone: a cap keeps a SUBSET of a larger cap's buckets, so
    * candidates and catches are pointwise nondecreasing in the cap
    * (DedupSpec pins it, plus the planted contrast: a 20-doc identical
    * cluster's pairs vanish under both real caps, an 8-doc cluster's
    * survive cap 16 but not cap 4, occupancy-2 pairs survive every
    * cap). A [[Sweep]] on the shared side: band keys are built and
    * checkpointed once; each cap filters buckets inside its one eager
    * candidate checkpoint. */
  def bucketCurve(docs: DataFrame, n: Int = 3, numHashes: Int = 128,
      bands: Int = 32, caps: Seq[Long] = Seq(0L, 4L, 16L),
      theta: Double = 0.5, sampleMod: Long = 0L,
      sampleTarget: Long = 2500L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(caps.nonEmpty && caps.forall(_ >= 0L),
      "each cap must be >= 0 (0 = uncapped)")
    val (truth, sig) = portableCurvePrep(docs, n, numHashes, theta,
      sampleMod, sampleTarget)
    val bk = portableBandKeys(sig, numHashes, bands)
      .localCheckpoint(eager = true)
    val graded = Sweep.eager(caps)(cap => gradeCandidates(truth, bk, cap))
    Sweep.union(caps.zip(graded)) { case (cap, g) =>
      Seq("max_bucket" -> cap, "bands" -> bands.toLong) -> g
    }
  }

  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      // low 60 bits of md5 as a LONG (15 hex digits — portable)
      .withColumn("h", expr("cast(conv(substring(md5(t), 1, 15), 16, 10) AS bigint)"))
    // Bit j of the simhash is 1 iff sum over tokens of ±1 (by bit j of
    // the token hash) is positive, i.e. 2·(count of set bits) > n.
    // Computing the 60 set-bit counts as 60 sum columns in ONE hash
    // aggregate keeps the row count at |tokens| — the equivalent
    // explode(60)+groupBy formulation pushes 60× the rows through a
    // shuffle for the same integer result.
    val bitSums = (0 until 60).map(j => sum(expr(s"shiftright(h, $j) & 1L")).as(s"b$j"))
    tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), bitSums: _*)
      .select(col("doc_id"),
        (0 until 60).map(j =>
          when(col(s"b$j") * 2 > col("n"), expr(s"shiftleft(1L, $j)")).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** Substring-level duplication gate (the "deduplicating training
    * data" granularity BELOW whole-document near-dup): every n-token
    * window of every document is hashed, windows whose hash occurs in
    * ≥2 DISTINCT documents are "duplicated spans", and each document
    * reports its window count + duplicated-window count — the
    * filter/trim signal for corpora whose documents share boilerplate
    * passages without being near-duplicates of each other.
    *
    * Scale shape: an inverted WINDOW index — explode to (doc, pos,
    * hash), one count-distinct aggregation keyed on the hash, one
    * semi-join back. No self-join anywhere, so unlike pairwise dedup
    * there is NO candidate-density term: work is linear in total
    * token count at any duplicate density. Window hashes are md5 over
    * the space-joined tokens (portable — the oracle recomputes them
    * verbatim). */
  /** Streaming exact-dedup — dedup-on-ingest for a continuously
    * arriving corpus: the first document bearing a given content hash
    * within the watermark horizon passes, later copies are dropped.
    * `dropDuplicatesWithinWatermark` keeps the state store BOUNDED:
    * hashes older than the lateness horizon are evicted, so state
    * grows with arrival-rate × horizon, never with corpus size — the
    * property that lets a 100 TB/day ingest dedup without an
    * unbounded seen-set. (A copy arriving after its original's hash
    * was evicted passes again; downstream batch dedup catches those —
    * the streaming stage is the high-ratio first filter.) */
  def streamingExactDedup(docs: DataFrame, eventTimeCol: String = "event_time",
      lateness: String = "10 minutes", normalize: Boolean = false): DataFrame = {
    val content =
      if (normalize) regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      else col("text")
    docs.withColumn("content_hash", md5(content))
      .withWatermark(eventTimeCol, lateness)
      .dropDuplicatesWithinWatermark("content_hash")
  }

  def dupSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    val t = docs.select(col("doc_id"), tokens(col("text")).as("w"))
    // the window-hash frame feeds BOTH the shared-hash aggregation and
    // the per-doc dup count: persist it so the tokenize + per-window
    // md5 stage (the CPU-heavy narrow pass) runs once, not once per
    // consumer; released before return like the minhash shingle cache
    val win = t.where(size(col("w")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $n), i -> md5(array_join(slice(w, i + 1, $n), ' ')))"))
        .as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shared = win.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2)
      .select(col("h"))
    val dup = win.join(shared, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dupw"))
    val out = t.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        greatest(size(col("w")) - lit(n - 1), lit(0)).cast("long").as("n_windows"),
        coalesce(col("dupw"), lit(0L)).as("n_dup_windows"))
      .localCheckpoint(eager = true)
    win.unpersist(blocking = true)
    out
  }
}
