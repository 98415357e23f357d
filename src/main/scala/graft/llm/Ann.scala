package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * `cosineTopK` is the exact brute-force baseline: the (small) query
  * set is broadcast against the corpus — a broadcast-nested-loop with
  * NO shuffle of the corpus, linear in corpus size, which is the right
  * plan for exact search at any scale (the corpus side never moves).
  *
  * `lshTopK` is the approximate scale path: random-hyperplane LSH
  * signatures bucket the corpus; each query only scores vectors in
  * matching buckets (multi-probe over `tables` independent tables),
  * turning the per-query cost from O(N) into O(N / 2^bits * tables).
  *
  * Similarities are computed in double (the float embeddings are
  * upcast first) with a sequential fold, so results are deterministic.
  */
object Ann {

  /** (vec_id, v: array<double>, nrm) with precomputed L2 norm. */
  def withNorm(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS double))").as("v"))
      .withColumn("nrm", expr("sqrt(graft_norm2(v))"))

  /** Sequential-fold dot product via the native codegen'd expression
    * (graft.functions.DotProduct, registered by
    * Tables.sessionBuilder): same accumulation order as the
    * equivalent aggregate(zip_with(qv, v, (x,y) -> x*y), 0D, +) HOF
    * (so sims are bit-identical to the oracles), but emitted straight
    * into whole-stage codegen — no interpreted per-element lambdas,
    * no UDF boxing. Null embeddings propagate null (dropped by every
    * sim compare downstream). */
  private def dotCol = expr("graft_dot(qv, v)")

  /** Two-phase exact top-k over a scored candidate set, replacing a
    * global `Window.partitionBy(query_id)` (which funnels every scored
    * row for a query into ONE task's sort — a scale-killer at 100×
    * corpus). Phase 1 reduces each (query, source-partition) group to
    * its k best with a bounded array_sort — the group lives wholly
    * inside one input partition, so partial aggregation completes
    * map-side, and only narrow (sim, vec_id) structs ever shuffle
    * (never the embedding arrays). Phase 2 ranks the <= k * P
    * survivors per query. Identical output to the single-window plan
    * (sim desc, vec_id asc tie-break). */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val local = scored
      // null sims (null embeddings propagate null through dotUdf) must
      // be dropped here — array_sort/orderBy rank nulls FIRST, so an
      // unfiltered null candidate would displace every true neighbor
      .where(col("sim").isNotNull)
      .select(col("query_id"), col("sim"), col("vec_id"))
      .groupBy(col("query_id"), spark_partition_id().as("part"))
      .agg(expr(
        s"slice(array_sort(collect_list(struct(-sim AS ns, vec_id))), 1, $k)")
        .as("top"))
    val merged = local
      .select(col("query_id"), explode(col("top")).as("c"))
      .select(col("query_id"), col("c.ns").as("ns"), col("c.vec_id").as("vec_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ns").asc, col("vec_id").asc)
    merged.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"))
  }

  /** Exact cosine top-k: for every query vector (vec_id < nQueries),
    * the k nearest corpus vectors (self excluded). Output
    * (query_id, rank, neighbor_id); rank breaks similarity ties by
    * neighbor id. Similarity is rounded to 9 decimals before ranking
    * so the ordering is robust to summation-order ulps. */
  def cosineTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = withNorm(emb)
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(dotCol / (col("qn") * col("nrm")), 9))
    topK(scored, k)
  }

  /** Recall@k evaluation — the ANN quality gate run as a first-class
    * operator (the sketch-stats verdict pattern applied to retrieval):
    * per query, how many of the EXACT top-k neighbors the k-means-IVF
    * probe search returns. Output (query_id, n_hit, k, recall); a
    * recall collapse after an index change shows up as a changed row,
    * not a silent quality regression. Cost is the two searches it
    * audits (exact is query-bounded: nQueries × corpus broadcast
    * scan); the comparison itself is a k-row-per-query join. */
  def recallAtK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nlist: Int = 8, iters: Int = 2, nprobe: Int = 3,
      trainMod: Int = 1): DataFrame = {
    val exact = cosineTopK(emb, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = kmeansIvfTopK(emb, nQueries, k, nlist, iters, nprobe,
      trainMod)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .withColumn("k", lit(k.toLong))
      .withColumn("recall", round(col("n_hit") / col("k").cast("double"), 6))
  }

  /** Maximal-Marginal-Relevance diversified top-k — the retrieval
    * re-ranker that stops the result list being five near-copies of
    * the same document: greedily pick, k times, the candidate
    * maximizing λ·cos(q, d) − (1−λ)·max cos(d, selected). λ = 1
    * reduces EXACTLY to [[cosineTopK]] (AnnSpec pins the
    * equivalence); smaller λ trades relevance for diversity.
    *
    * Spark-first, no driver loop: the exact top-`nCandidates` per
    * query (same two-phase top-k machinery) collapses to ONE row per
    * query holding the candidates' UNIT vectors, and the whole greedy
    * selection runs inside a single SQL higher-order `aggregate` over
    * k rounds — candidate-candidate cosines are zip_with dot products
    * of unit vectors computed in the lambda, every score rounded to 9
    * before comparison (the ANN determinism contract), ties to the
    * lowest vec_id. Per-query cost is k · nCandidates² · dim floats
    * on one row — renderer-sized, embarrassingly parallel across
    * queries, and the oracle replays the identical fold. */
  def mmrTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nCandidates: Int = 20, lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && nCandidates >= k, "need nCandidates >= k >= 1")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0, 1]")
    val e = withNorm(emb)
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(dotCol / (col("qn") * col("nrm")), 9))
      .where(col("sim").isNotNull)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val cands = scored.withColumn("__r", row_number().over(w))
      .where(col("__r") <= nCandidates)
      .withColumn("u", expr("transform(v, x -> x / nrm)"))
      .groupBy(col("query_id"))
      .agg(expr(
        "array_sort(collect_list(struct(-sim AS ns, vec_id, u, sim)))")
        .as("cs"))
    val L = lambda
    val M = 1.0 - lambda
    val selT = "STRUCT<vec_id: BIGINT, u: ARRAY<DOUBLE>, sim: DOUBLE>"
    val mmr =
      s"""aggregate(sequence(1, $k),
         |  CAST(array() AS ARRAY<$selT>),
         |  (sel, r) -> array_append(sel, aggregate(
         |    transform(
         |      filter(cs, c -> size(filter(sel, s -> s.vec_id = c.vec_id)) = 0),
         |      c -> struct(c.vec_id AS vec_id, c.u AS u, c.sim AS sim,
         |        round($L * c.sim - $M * (CASE WHEN size(sel) = 0 THEN 0D
         |          ELSE aggregate(sel, CAST(-1.0 AS DOUBLE), (m, s) ->
         |            greatest(m, round(aggregate(zip_with(c.u, s.u,
         |              (x, y) -> x * y), 0D, (a, z) -> a + z), 9)))
         |          END), 9) AS score)),
         |    CAST(NULL AS STRUCT<vec_id: BIGINT, u: ARRAY<DOUBLE>,
         |                        sim: DOUBLE, score: DOUBLE>),
         |    (best, c) -> CASE
         |      WHEN best IS NULL OR c.score > best.score
         |           OR (c.score = best.score AND c.vec_id < best.vec_id)
         |        THEN c ELSE best END,
         |    b -> struct(b.vec_id AS vec_id, b.u AS u, b.sim AS sim))),
         |  sel -> sel)""".stripMargin
    cands
      .select(col("query_id"), posexplode(expr(mmr)).as(Seq("__p", "__s")))
      // a query with fewer than k candidates yields exhausted rounds
      // whose fold result is struct(NULL, NULL, NULL) — non-null as a
      // STRUCT, so the drop must test the field (the oracle's
      // vec_id IS NOT NULL predicate is the same test)
      .where(col("__s.vec_id").isNotNull)
      .select(col("query_id"), (col("__p") + 1).cast("long").as("rank"),
        col("__s.vec_id").as("neighbor_id"), col("__s.sim").as("sim"))
  }

  /** Embedding-cosine near-duplicate pairs: all (a, b) with
    * cosine >= theta, via the same broadcast pattern over a blocked
    * self-join on a coarse LSH bit prefix (sign bits of the first
    * `blockBits` dimensions) — near-identical vectors agree on sign
    * bits with high probability, so each block joins locally. For the
    * exact variant (oracle-checkable) set blockBits = 0 (plain a<b
    * join). */
  def cosinePairs(emb: DataFrame, theta: Double, blockBits: Int = 0): DataFrame = {
    val e = withNorm(emb)
    val keyed =
      if (blockBits <= 0) e.withColumn("blk", lit(0))
      else e.withColumn("blk", expr(
        s"aggregate(transform(slice(v, 1, $blockBits), x -> CASE WHEN x >= 0 THEN 1L ELSE 0L END), 0L, (a, x) -> a * 2 + x)"))
    val a = keyed.select(col("blk"), col("vec_id").as("id_a"),
      col("v").as("qv"), col("nrm").as("qn"))
    val b = keyed.select(col("blk"), col("vec_id").as("id_b"),
      col("v").as("v"), col("nrm").as("nrm"))
    a.join(b, Seq("blk")).where(col("id_a") < col("id_b"))
      .withColumn("sim", round(dotCol / (col("qn") * col("nrm")), 9))
      .where(col("sim") >= theta)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Cell-bounded k-nearest-neighbor SELF-join — every vector gets
    * its k nearest neighbors WITHIN its deterministic cell (the
    * semanticClusters cell: upstream k-means `label` × adaptive
    * sign-bit prefix sized so expected occupancy stays ~`targetCell`).
    * This is the batch kNN graph SemDeDup-style pruning, kNN-LM
    * datastores, and distillation neighbor-mining build first — the
    * all-queries analog of [[cosineTopK]], whose broadcast-the-queries
    * shape cannot serve N queries.
    *
    * Semantics are explicitly CELL-BOUNDED (the IVF nprobe=1 analog,
    * and SemDeDup's own within-cluster restriction): cross-cell
    * neighbors are not candidates. Near-identical vectors share a
    * cell (DedupSpec pins the planted-duplicate recall), so the graph
    * edges that matter for dedup/mining survive. The oracle
    * recomputes the identical integer cells, so the entry is EXACT
    * for what the operator claims.
    *
    * Scale shape: the scored join emits N·occupancy rows with
    * occupancy ~targetCell by construction (adaptive bits — the
    * corpus growing 100× adds ~7 prefix bits, work stays
    * N·targetCell·dim); the two-phase topK reduces map-side to k per
    * (query, partition), so only narrow (sim, id) structs shuffle,
    * never embeddings. The one .head() is an eager 1-row stat at
    * plan-construction time (the simhashRecallAudit precedent). */
  def knnJoin(emb: DataFrame, k: Int = 5, targetCell: Int = 256)
      : DataFrame = {
    require(k >= 1, "k must be at least 1")
    val e = Cells.celled(emb, targetCell)
    val a = e.select(col("cell"), col("vec_id").as("query_id"),
      col("v").as("qv"), col("nrm").as("qn"))
    val b = e.select(col("cell"), col("vec_id"), col("v"), col("nrm"))
    val scored = a.join(b, Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("sim", round(dotCol / (col("qn") * col("nrm")), 9))
    topK(scored, k)
  }

  /** Approximate top-k via IVF (inverted-file) coarse quantization:
    * corpus vectors are bucketed into `nlist` coarse cells (here the
    * precomputed `label` column acts as the coarse quantizer — a
    * k-means assignment precomputed upstream, the standard IVF setup);
    * each query scores only the `nprobe` cells whose centroids are
    * nearest, cutting per-query work to ~nprobe/nlist of the corpus.
    * Centroids are derived per cell with one aggregation; the probe
    * selection is a tiny broadcast join. Recall tracks how well the
    * coarse cells capture locality: high on clustered corpora
    * (AnnSpec: >=0.8), ~nprobe/nlist on structure-free random vectors
    * — the expected IVF behavior, not an implementation artifact
    * (measured 0.42 on the driver's near-random sf0.01 embeddings,
    * just above the 3/10 floor; AnnSpec pins both corpora). */
  def ivfTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nprobe: Int = 3): DataFrame = {
    val e = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS double))").as("v"),
      col("label").as("cell"))
      .withColumn("nrm", expr("sqrt(graft_norm2(v))"))
    probeAndScore(e, centroidsOf(e), nQueries, k, nprobe)
  }

  /** Per-cell centroids (elementwise mean) of an assigned frame
    * (vec_id, v, cell): posexplode → one groupBy per (cell, pos) with
    * map-side partial aggregation → re-assemble ordered — the scalable
    * shape for any corpus size, output is nlist rows. */
  private def centroidsOf(assigned: DataFrame): DataFrame =
    assigned.where(col("cell").isNotNull)
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("cx"))
      .groupBy(col("cell"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, cx))), s -> s.cx)").as("cv"))
      .withColumn("cnrm", expr("sqrt(graft_norm2(cv))"))

  /** IVF probe + exact scoring over a cell-assigned corpus: each query
    * scores only the `nprobe` cells whose centroids are nearest. */
  private def probeAndScore(e: DataFrame, cent: DataFrame, nQueries: Int,
      k: Int, nprobe: Int): DataFrame =
    topK(probeScored(e, cent, nQueries, nprobe), k)

  /** The scored-candidate frame of an IVF probe search (probe the
    * nprobe nearest cells per query, score every vector in them) —
    * shared by [[probeAndScore]]'s top-k and [[nprobeCurve]], which
    * also COUNTS it (the measured scan cost a recall is traded
    * against). */
  private def probeScored(e: DataFrame, cent: DataFrame, nQueries: Int,
      nprobe: Int): DataFrame = {
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    // probe the nprobe nearest cells per query (centroid table is tiny)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cell").asc)
    // csim is rounded like the scoring sims: centroid coordinates are
    // floating-point MEANS whose summation order differs run to run
    // (and engine to engine — the DuckDB oracle recomputes them), so
    // probe selection must not hinge on the last ulp of the dot
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("csim", round(
        expr("graft_dot(qv, cv)") /
          (col("qn") * col("cnrm")), 9))
      .withColumn("pr", row_number().over(wProbe))
      .where(col("pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))
    // score only vectors in probed cells
    probes.join(e, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(dotCol / (col("qn") * col("nrm")), 9))
  }

  /** IVF nprobe tuning curve: per probe setting, micro-averaged
    * recall@k against the exact top-k and the MEASURED number of
    * candidates scored (cell occupancies are skewed, so the scan cost
    * is not the analytic nprobe/nlist fraction). One row per nprobe:
    * (nprobe, n_queries, n_scanned, n_hit, n_truth, recall_q6).
    * Recall is monotone in nprobe and reaches exactly 1e6 at
    * nprobe = nlist, where a full probe scans every cell (AnnSpec pins
    * both). A [[Sweep]] on the shared side: the quantizer trains once,
    * and each setting re-runs only its narrow probe scan, whose size is
    * the n_scanned it reports. */
  def nprobeCurve(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nlist: Int = 8, iters: Int = 2, trainMod: Int = 1,
      nprobes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(p => p >= 1 && p <= nlist),
      "each nprobe must be in [1, nlist]")
    val e = withNorm(emb)
    val Seq(cent, exact) = Par.all[DataFrame](Seq(
      () => trainCoarse(e, nlist, iters, trainMod),
      () => Sweep.truth(cosineTopK(emb, nQueries, k))))
    val assigned = coarseAssign(e, cent)
    Sweep.recall(Sweep.union(nprobes) { p =>
      val scored = probeScored(assigned, cent, nQueries, p)
      Seq("nprobe" -> p.toLong, "n_queries" -> nQueries.toLong) ->
        Sweep.hits(scored.agg(count(lit(1)).as("n_scanned")), exact,
          topK(scored, k))
    }, exact)
  }

  /** IVF nlist tuning curve, the INDEX knob ([[nprobeCurve]] varies
    * the runtime one): per cell count, at a fixed probe fraction
    * (nprobe = ⌈nlist·probeFrac⌉), the recall@k against the exact
    * top-k, the measured scan cost, and the training cost the setting
    * commits to. One row per nlist: (nlist, nprobe, n_queries,
    * n_train_vectors, train_pairs, n_scanned, n_hit, n_truth,
    * recall_q6). `train_pairs` = n_train_vectors·nlist·iters is exact
    * by construction: every sampled vector scores every centroid each
    * Lloyd round. A [[Sweep]] on the rebuild side: nlist is baked into
    * the quantizer, so each setting re-trains (an eager chain) and
    * adds its own probe scan. */
  def nlistCurve(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nlists: Seq[Int] = Seq(2, 4, 8, 16), iters: Int = 2,
      trainMod: Int = 1, probeFrac: Double = 0.25): DataFrame = {
    require(nlists.nonEmpty && nlists.forall(_ >= 1), "nlists must be >= 1")
    require(probeFrac > 0.0 && probeFrac <= 1.0, "probeFrac in (0, 1]")
    val e = withNorm(emb)
    // the per-nlist Lloyd chains all train on the SAME trainMod
    // sample: persist it ONCE here and run the chains on trainCoarseOn
    // (per-chain trainCoarse persists collide — CacheManager keys by
    // canonicalized plan, so the siblings share one cache entry and
    // the first finisher's unpersist would evict it mid-training for
    // the rest), released after every chain has returned
    val doPersist = trainMod > 1
    val te0 = trainSample(e, trainMod)
    val te = if (doPersist)
      te0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else te0
    val exact +: cents = try Sweep.eager(nlists,
      () => Sweep.truth(cosineTopK(emb, nQueries, k)))(
      nl => trainCoarseOn(te, nl, iters, trainMod))
    finally if (doPersist) te.unpersist(blocking = true)
    val nTrain = trainSample(e, trainMod)
      .agg(count(lit(1)).as("n_train_vectors"))
    Sweep.recall(Sweep.union(nlists.zip(cents)) { case (nl, cent) =>
      val np = math.max(1, math.ceil(nl * probeFrac).toInt)
      val scored = probeScored(coarseAssign(e, cent), cent, nQueries, np)
      Seq("nlist" -> nl.toLong, "nprobe" -> np.toLong,
        "n_queries" -> nQueries.toLong) ->
        Sweep.hits(scored.agg(count(lit(1)).as("n_scanned")), exact,
          topK(scored, k))
    }, exact)
      .crossJoin(broadcast(nTrain))
      .withColumn("train_pairs", expr(s"n_train_vectors * nlist * ${iters}L"))
      .select(col("nlist"), col("nprobe"), col("n_queries"),
        col("n_train_vectors"), col("train_pairs"), col("n_scanned"),
        col("n_hit"), col("n_truth"), col("recall_q6"))
  }

  /** IVF with a trained coarse quantizer: spherical k-means over the
    * corpus itself, replacing the precomputed `label` cells ivfTopK
    * relies on — the trainer a 100 TB corpus actually needs. Fully
    * deterministic and engine-recomputable (the DuckDB oracle replays
    * it step for step): centroids initialize from the `nlist` lowest
    * vec_ids, each Lloyd iteration assigns every vector to its
    * nearest centroid by round-9 cosine (ties → lowest cell) and
    * recomputes centroids as elementwise means (an empty cell keeps
    * its previous centroid). Each iteration is one broadcast of the
    * tiny centroid table + one narrow assignment pass + one partial-
    * aggregated groupBy — the textbook scalable k-means shape; the
    * centroid table never leaves executor-broadcast size. */
  /** The collected nlist-row centroid table — the codebook-sized
    * collect [[coarseAssign]] compiles into its per-row expression
    * (the [[streamingIvfAssign]] pattern; centroid tables are
    * broadcast-sized by construction, so this is a metadata-class
    * read, never a data-path collect). Non-finite components would
    * render as 'NaND'/'InfinityD' and fail the SQL parse far from the
    * cause — fail HERE with the actual reason instead. */
  private def collectCents(centroids: DataFrame): Array[(Int, Seq[Double], Double)] = {
    val cents = centroids.select(col("cell"), col("cv"), col("cnrm"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    require(cents.nonEmpty, "coarse assignment needs a trained centroid table")
    require(cents.forall { case (_, cv, cnrm) =>
      java.lang.Double.isFinite(cnrm) && cv.forall(java.lang.Double.isFinite)
    }, "coarse assignment: centroid table contains non-finite " +
      "components (corrupt or zero-norm training corpus?)")
    cents
  }

  /** Literal-compile budget for [[coarseAssign]]'s narrow-map form:
    * the maximum number of compiled double literals (#centroids × dim)
    * before the assigner falls back to the broadcast-join + max_by
    * shape. The compiled form is ideal at codebook sizes (zero
    * shuffle, whole-stage codegen), but its expression grows
    * O(nlist·dim): past a few thousand literals the generated compare
    * chain risks Janino's 64 KB method limit — Spark falls back to
    * INTERPRETED evaluation, silently slower than the join it
    * replaced — and at 100 TB-scale settings (nlist ≈ √N, thousands
    * of cells) the driver would pay a multi-megabyte expression
    * re-analysis per Lloyd round. 4096 sits comfortably above every
    * shipped setting (nlist ≤ 16 × dim 64 = 1024) and comfortably
    * below the codegen cliff, so sf plans are unchanged and
    * large-nlist callers get the join shape that actually scales.
    * AnnSpec pins that both forms assign identically across the
    * threshold. ([[pqAssign]] ships the join shape outright; see its
    * docstring.) */
  private[graft] val compiledAssignBudget = 4096

  /** Nearest-centroid assignment by round-9 cosine, ties → lowest
    * cell — a pure NARROW map, no shuffle: the nlist-row centroid
    * table is collected once and compiled into a greatest() over
    * per-cell (csim, -cell) structs against literal centroid arrays
    * (the literals are the collected doubles themselves, bit-identical
    * to the trained centroids; graft_dot is the same sequential fold
    * as the zip_with HOF, so every csim is bit-identical to the
    * broadcast-join + max_by form — StreamingSpec pins exactly this
    * equivalence for the streaming twin). The join shape expanded
    * every vector nlist-way and re-shuffled one (vec_id, v, nrm) row
    * per vector through a groupBy: at 100 TB that exchange moves the
    * whole corpus's vector payloads once per assignment pass; the
    * compiled form moves nothing. Codebooks over
    * [[compiledAssignBudget]] literals keep the join shape — see the
    * budget's docstring. */
  private[graft] def coarseAssign(e: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = collectCents(centroids)
    if (cents.length.toLong * cents.head._2.size <= compiledAssignBudget)
      coarseAssignCompiled(e, cents)
    else coarseAssignJoin(e, centroids)
  }

  private[graft] def coarseAssignCompiled(e: DataFrame,
      cents: Array[(Int, Seq[Double], Double)]): DataFrame = {
    // a zero-norm side (possible for PQ SUBvectors — a block-sparse
    // vector's subspace slice can be exactly zero) has no cosine:
    // score it -2, below any real similarity, so assignment stays
    // deterministic (ties → lowest cell). Unguarded, the 0/0 double
    // divide yields NaN (double division never ANSI-faults), and a
    // NaN csim would win the comparison nondeterministically.
    // The oracle replays omit the branch: the shipped embedding
    // corpora have no zero-norm (sub)vectors, so it is unreachable
    // there — it exists for corpora that do.
    // Columns are built directly (array(lit(x)…) + call_function), not
    // string-rendered SQL: same expression tree, none of the per-call
    // re-parse cost a multi-round Lloyd driver would otherwise pay.
    val structs = cents.map { case (cell, cv, cnrm) =>
      val cvLit = array(cv.map(lit).toIndexedSeq: _*)
      struct(
        when(col("nrm") * lit(cnrm) === 0d, lit(-2d))
          .otherwise(round(call_function("graft_dot", col("v"), cvLit) /
            (col("nrm") * lit(cnrm)), 9)).as("s"),
        lit(-cell).as("nc"))
    }
    val best =
      if (structs.length == 1) structs.head
      else greatest(structs.toIndexedSeq: _*)
    e.withColumn("__best", best)
      .select(col("vec_id"), col("v"), col("nrm"),
        (-col("__best.nc")).as("cell"))
  }

  /** The broadcast-expand + map-side max_by assignment shape — the
    * over-budget fallback (see [[compiledAssignBudget]]): partial
    * aggregation collapses the nlist-way expansion map-side, so
    * nothing vector-sized shuffles beyond one row per vec_id. Same
    * round-9 cosine, same -2 zero-norm guard, same lowest-cell
    * tie-break — bit-identical output to the compiled form. */
  private[graft] def coarseAssignJoin(e: DataFrame,
      centroids: DataFrame): DataFrame = e
    .crossJoin(broadcast(centroids))
    .withColumn("csim", when(col("nrm") * col("cnrm") === 0d, lit(-2d))
      .otherwise(round(call_function("graft_dot", col("v"), col("cv")) /
        (col("nrm") * col("cnrm")), 9)))
    .groupBy(col("vec_id"))
    .agg(first(col("v")).as("v"), first(col("nrm")).as("nrm"),
      max_by(col("cell"), struct(col("csim"), (-col("cell")).as("nc")))
        .as("cell"))
    .select(col("vec_id"), col("v"), col("nrm"), col("cell"))

  /** Distributed spherical k-means over a normed corpus — returns the
    * trained (cell, cv, cnrm) centroid table (nlist rows). Centroids
    * initialize from the lowest sampled vec_ids; each Lloyd round is
    * one broadcast + one assignment pass + one partial-aggregated
    * groupBy.
    *
    * `trainMod` > 1 trains on the deterministic 1/trainMod subsample
    * `vec_id % trainMod == 0` (the faiss practice — codebooks need a
    * representative sample, not the corpus): Lloyd cost drops by
    * trainMod× while the final full-corpus assignment is unchanged,
    * and the filter is engine-recomputable so the oracle replays the
    * sampled training exactly. At 100 TB pick trainMod ≈ N / 256·k so
    * training touches a fixed-size sample regardless of corpus
    * growth. */
  /** The Lloyd training sample: every vector at trainMod ≤ 1, else
    * the deterministic 1/trainMod `vec_id % trainMod == 0` subset —
    * ONE definition shared by [[trainCoarse]] and [[nlistCurve]]'s
    * train-cost column, so the reported train_pairs can never drift
    * from the population Lloyd actually scores. */
  private def trainSample(e: DataFrame, trainMod: Int): DataFrame =
    if (trainMod <= 1) e else e.where(col("vec_id") % trainMod === 0)

  private def trainCoarse(e: DataFrame, nlist: Int, iters: Int,
      trainMod: Int = 1): DataFrame = {
    // the training sample is consumed iters+1 times (seed + one
    // assignment pass per Lloyd round), and each iteration's eager
    // checkpoint cuts lineage WITHOUT caching the sample — so
    // unpersisted, every round re-scans the embedding parquet and
    // re-derives the norms. Persist the trainMod-bounded sample once,
    // released right after the loop — but ONLY when trainMod actually
    // bounds it: at trainMod ≤ 1 the "sample" IS the whole corpus,
    // and caching 100 TB of norms to win two re-scans is the wrong
    // trade (the documented scale path is picking trainMod ≈ N/256k,
    // which makes the persisted frame corpus-size-independent).
    val doPersist = trainMod > 1
    val te0 = trainSample(e, trainMod)
    val te = if (doPersist)
      te0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else te0
    try trainCoarseOn(te, nlist, iters, trainMod)
    finally if (doPersist) te.unpersist(blocking = true)
  }

  /** The Lloyd loop over an ALREADY-PREPARED training sample, with no
    * persist management of its own — split out so concurrent
    * multi-nlist callers ([[nlistCurve]]) can persist the sample ONCE
    * and share it. Inside [[trainCoarse]] each call owned its persist,
    * but Spark's CacheManager keys cache entries by canonicalized
    * plan: concurrent trainCoarse siblings over the same trainMod all
    * mapped to ONE shared entry, and the first chain to finish
    * unpersisted it (blocking) out from under the still-training
    * rest, silently re-scanning the embedding parquet every remaining
    * Lloyd round — exactly the cost the persist exists to avoid. */
  private def trainCoarseOn(te: DataFrame, nlist: Int, iters: Int,
      trainMod: Int): DataFrame = {
    var cent = te.where(col("vec_id") < nlist.toLong * trainMod)
      .select(expr(s"CAST(vec_id DIV $trainMod AS INT)").as("cell"), col("v").as("cv"))
      .withColumn("cnrm", expr("sqrt(graft_norm2(cv))"))
    for (_ <- 1 to iters) {
      val next = centroidsOf(coarseAssign(te, cent))
      // empty cells keep their previous centroid (deterministic in
      // both engines via the same left-join + coalesce). The nlist-row
      // result is localCheckpoint'ed EAGERLY: without it each
      // iteration's plan re-derives every previous iteration's
      // assignment chain, multiplying corpus passes — checkpointed,
      // training is exactly one assignment pass per Lloyd round.
      cent = cent.alias("o")
        .join(next.alias("n"), Seq("cell"), "left")
        .select(col("cell"), coalesce(col("n.cv"), col("o.cv")).as("cv"),
          coalesce(col("n.cnrm"), col("o.cnrm")).as("cnrm"))
        .localCheckpoint(true)
    }
    cent
  }

  /** Public batch trainer: the spherical-k-means centroid table
    * (cell, cv, cnrm) over a corpus — the input
    * [[streamingIvfAssign]] compiles into its per-arrival map. */
  def trainCentroids(emb: DataFrame, nlist: Int = 8, iters: Int = 2,
      trainMod: Int = 1): DataFrame =
    trainCoarse(withNorm(emb), nlist, iters, trainMod)

  def kmeansIvfTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nlist: Int = 8, iters: Int = 2, nprobe: Int = 3,
      trainMod: Int = 1): DataFrame = {
    val e = withNorm(emb)
    val cent = trainCoarse(e, nlist, iters, trainMod)
    probeAndScore(coarseAssign(e, cent), cent, nQueries, k, nprobe)
  }

  /** Int8 scalar quantization of the embedding column — the standard
    * 4× storage/bandwidth compression for a 100 TB vector store
    * (per-vector absmax scaling, the faiss SQ8 shape). Fully
    * deterministic: absmax is comparison-based (order-independent),
    * the scale division and round-half-away are identical IEEE ops in
    * any engine, so the oracle reproduces every code exactly. Output
    * is exploded to (vec_id, pos, q, scale) scalar rows. A zero
    * vector quantizes to all-zero codes. Narrow single-pass transform,
    * no shuffle. */
  /** (vec_id, v, scale, qv: array<int>) — the stored SQ8 form plus
    * the raw double vector `v` it was coded from (kept so
    * [[quantDistortion]] can difference reconstruction against
    * source without a second scan; [[quantizeInt8]] projects it
    * away). */
  private def int8Codes(emb: DataFrame): DataFrame =
    emb.where(col("embedding").isNotNull)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS double))").as("v"))
      .withColumn("scale",
        expr("array_max(transform(v, x -> abs(x)))") / lit(127.0))
      .select(col("vec_id"), col("v"), col("scale"), expr(
        "transform(v, x -> CASE WHEN scale = 0D THEN 0 ELSE CAST(round(x / scale) AS INT) END)")
        .as("qv"))

  def quantizeInt8(emb: DataFrame): DataFrame =
    int8Codes(emb)
      .select(col("vec_id"), col("scale"),
        posexplode(col("qv")).as(Seq("pos", "q")))
      .select(col("vec_id"), col("pos"), col("q"), col("scale"))

  /** Asymmetric quantized search: float queries against the SQ8
    * corpus — the 4×-less-I/O scan path of a large vector store. The
    * corpus side is reconstructed on the fly (code × scale, exact
    * IEEE products of exact inputs, so fully deterministic and
    * oracle-reproducible); the plan is the exact-search plan —
    * broadcast queries, corpus never shuffles, two-phase top-k. */
  def quantizedTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val recon = int8Codes(emb)
      .select(col("vec_id"), expr("transform(qv, c -> c * scale)").as("v"))
      .withColumn("nrm", expr("sqrt(graft_norm2(v))"))
    val q = withNorm(emb).where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = recon.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(dotCol / (col("qn") * col("nrm")), 9))
    topK(scored, k)
  }

  /** Quantization distortion audit — the trust gate for the
    * compression family (the recall-eval pattern aimed at storage):
    * one row per scheme with the corpus-wide reconstruction error of
    * SQ8 (absmax int8), PQ (m-subspace codebooks), and BIN (1-bit
    * sign codes, mean-|x| scale) — the table that says how much
    * geometry a 4×/16×/32× storage saving actually costs
    * BEFORE a store commits to serving from codes. Columns
    * (scheme, n_vectors, sum_se_q9, mse_q9, max_se_q9): per-vector
    * squared L2 reconstruction error, floor-quantized ×1e9.
    *
    * Exactness: the error is quantized PER COMPONENT — each
    * component's (x − r)²·1e9 is a short chain of SINGLE IEEE ops on
    * engine-identical inputs (x is the stored double; r is code·scale
    * for SQ8 and the [[trainPq]] centroid for PQ, itself an exact
    * integer-sum mean), floor-quantized to int64, and every
    * aggregation past that point (the within-vector sum, the corpus
    * sum) is exact integer arithmetic. No float FOLD exists anywhere
    * in the audit, so neither partition order nor another engine's
    * list-sum algorithm can move a single q9 unit (the r14 driver-red
    * class). mse is one integer division. Headroom: measured sf0.01
    * sums sit ~1e10-1e11 q9-units per 500 vectors; even 100×
    * replication leaves four decades under int64.
    *
    * Scale shape: SQ8 and BIN are each one narrow pass; PQ is the
    * already-audited training plus ONE broadcast codebook join over
    * the subvector stream — nothing new shuffles; output is 3 rows. */
  def quantDistortion(emb: DataFrame, m: Int = 4, nlist: Int = 8,
      iters: Int = 2, trainMod: Int = 1): DataFrame = {
    val e = withNorm(emb)
    val dim = emb.where(col("embedding").isNotNull)
      .select(size(col("embedding")).as("d")).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val d = dim / m
    val sqv = int8Codes(emb)
      .withColumn("se", expr(
        """aggregate(zip_with(v, transform(qv, c -> c * scale),
          |  (x, r) -> CAST(floor((x - r) * (x - r) * 1e9) AS BIGINT)),
          |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin))
      .select(col("vec_id"), col("se"))
    val pqv = pqSeQ9(pqSubs(e, m, d), nlist, iters, trainMod)
    // 1-bit sign quantization (the 32× storage point past SQ8/PQ):
    // r_j = ±s with s = mean(|x_j|) — the L2-optimal 1-bit scale
    // (Rastegari et al. 2016's α). The mean is made exact the
    // trainPq way: |x| quantizes ×2^30 to int64 per component, the
    // sum is exact integer, the scale one IEEE divide — then the
    // same per-component q9 error floors as the other schemes.
    val binv = e.where(col("v").isNotNull)
      .withColumn("s", expr(
        """CAST(aggregate(v, CAST(0 AS BIGINT),
          |  (a, x) -> a + CAST(floor(abs(x) * 1073741824D) AS BIGINT))
          |AS DOUBLE) / CAST(CAST(size(v) AS BIGINT) * 1073741824L AS DOUBLE)"""
          .stripMargin))
      .withColumn("se", expr(
        """aggregate(v, CAST(0 AS BIGINT), (a, x) -> a +
          |  CAST(floor((x - CASE WHEN x >= 0D THEN s ELSE -s END)
          |    * (x - CASE WHEN x >= 0D THEN s ELSE -s END) * 1e9)
          |  AS BIGINT))""".stripMargin))
      .select(col("vec_id"), col("se"))
    def rowOf(scheme: String, per: DataFrame) = per
      .agg(count(lit(1)).as("n_vectors"), sum(col("se")).as("sum_se_q9"),
        max(col("se")).as("max_se_q9"))
      .select(lit(scheme).as("scheme"), col("n_vectors"), col("sum_se_q9"),
        expr("sum_se_q9 DIV n_vectors").as("mse_q9"), col("max_se_q9"))
    rowOf("pq", pqv) unionAll rowOf("sq8", sqv) unionAll rowOf("bin", binv)
  }

  /** Per-vector PQ squared reconstruction error (q9): train the
    * codebook over the subvector stream, assign, and difference each
    * subvector against its named centroid — the [[quantDistortion]]
    * error path, shared with [[pqCurve]]. Same exactness argument:
    * per-component q9 floors of single IEEE ops on engine-identical
    * inputs, then integer-only aggregation. */
  private def pqSeQ9(sv: DataFrame, nlist: Int, iters: Int,
      trainMod: Int): DataFrame = {
    val book = trainPq(sv, nlist, iters, trainMod)
    pqAssign(sv, book)
      .join(broadcast(book.select(col("sub"), col("cid"), col("cv"))),
        Seq("sub", "cid"))
      .withColumn("seq", expr(
        """aggregate(zip_with(sv, cv,
          |  (x, y) -> CAST(floor((x - y) * (x - y) * 1e9) AS BIGINT)),
          |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin))
      .groupBy(col("vec_id")).agg(sum(col("seq")).as("se"))
  }

  /** PQ rate-distortion tuning curve: per `m` (subspace count, fixed
    * `ks`-entry codebooks) the measured reconstruction error
    * (sum/mse/max, q9, the [[quantDistortion]] error path) next to the
    * storage it buys (dim·8 raw bytes → m byte-aligned codes, the
    * faiss layout; ks = 16 fits 4 bits but ships as a byte). One row
    * per m: (m, ks, n_vectors, bytes_raw, bytes_code, compression_x,
    * sum_se_q9, mse_q9, max_se_q9); the errors are exact integer sums.
    * A [[Sweep]] on the rebuild side: `m` is baked into the codebook
    * geometry, so each setting re-trains (an eager Lloyd chain). */
  def pqCurve(emb: DataFrame, mList: Seq[Int] = Seq(4, 8, 16),
      ks: Int = 16, iters: Int = 2, trainMod: Int = 1): DataFrame = {
    require(mList.nonEmpty && mList.forall(_ >= 1), "each m must be >= 1")
    val e = withNorm(emb)
    val dim = emb.where(col("embedding").isNotNull)
      .select(size(col("embedding")).as("d")).head().getInt(0)
    mList.foreach(m =>
      require(dim % m == 0, s"dim $dim not divisible into $m subspaces"))
    val pers = Sweep.eager(mList)(m =>
      pqSeQ9(pqSubs(e, m, dim / m), ks, iters, trainMod))
    Sweep.union(mList.zip(pers)) { case (m, per) =>
      Seq("m" -> m.toLong, "ks" -> ks.toLong) ->
        per.agg(count(lit(1)).as("n_vectors"),
            sum(col("se")).as("sum_se_q9"), max(col("se")).as("max_se_q9"))
          .select(col("n_vectors"), lit(dim * 8L).as("bytes_raw"),
            lit(m.toLong).as("bytes_code"),
            lit(dim * 8L / m).as("compression_x"), col("sum_se_q9"),
            expr("sum_se_q9 DIV n_vectors").as("mse_q9"), col("max_se_q9"))
    }
  }

  /** Hyperplane constant j, derived from md5("plane:j") — the
    * dedup_simhash portability trick — so ANY engine can recompute the
    * exact same hyperplanes and signatures (the DuckDB oracle does).
    * The first 13 hex chars are 52 bits, exactly representable in a
    * double, mapped affinely onto [-1, 1); every step (exact int →
    * power-of-two divide → subtract 1) is exact in IEEE-754, so the
    * constant is bit-identical however it is recomputed. */
  private[graft] def md5Plane(j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane:$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 13), 16).toDouble / (1L << 51) - 1.0
  }

  /** Approximate top-k via random-hyperplane LSH. Hyperplanes are a
    * deterministic md5-derived constant ([[md5Plane]]), built ONCE on
    * the driver and shipped as a broadcast literal array — per vector
    * the signature costs tables*bits*dim multiply-adds with plain
    * array lookups, never per-element hash evaluations. Each (table,
    * signature) bucket joins query-to-corpus; per-query candidates are
    * scored exactly and ranked. Because the planes are engine-
    * recomputable and the dot is a sequential fold (matching DuckDB's
    * list_sum order bit-for-bit), the whole operator is oracled in
    * DataOpsQueries; recall is additionally pinned by AnnSpec against
    * [[cosineTopK]].
    *
    * Size `bits` to the corpus: expected bucket occupancy is
    * N / 2^bits, and recall collapses once buckets shrink to a couple
    * of vectors — [[autoBits]] applies the rule (≈ log2(N / 30)) and
    * is the DEFAULT (`bits = 0`): the [[lshCurve]] measured that a
    * FIXED bits setting rots as the corpus grows (its sf10 candidate
    * counts ran 5.6× the sf0.1 sweep at the coarse settings — 100×
    * the data needs ~7 more bits, not the old setting re-run).
    * Measured on the driver's shipped sf0.01 embeddings (500 vectors,
    * dim 64, near-random): bits=4/tables=16 — exactly autoBits(500)
    * — reaches recall@5 = 0.90 vs exact search (AnnSpec pins >= 0.8
    * there), while bits=8 collapses buckets to ~2 vectors and recall
    * with them. */
  def lshTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      bits: Int = 0, tables: Int = 16): DataFrame = {
    val e = withNorm(emb)
    // one metadata-sized lookup for the dimensionality, then a flat
    // (tables*bits*dim) hyperplane constant, indexed as
    // H[(t*bits + b)*dim + i]
    val dim = emb.where(col("embedding").isNotNull)
      .select(size(col("embedding")).as("d")).head().getInt(0)
    val useBits =
      if (bits > 0) bits
      else autoBits(emb.where(col("embedding").isNotNull).count())
    topK(rescore(lshCandidates(e, nQueries, useBits, tables, dim), e), k)
  }

  /** Corpus-sized default for [[lshTopK]]'s `bits` knob — the
    * docstring rule (expected bucket occupancy ≈ `targetBucket`, i.e.
    * bits ≈ log2(n / targetBucket), rounded, floored at 1 and capped
    * at the signature-int bound) with [[lshCurve]] as the calibration
    * evidence: the curve measured fixed bits mistuning as N grows
    * (bits must track log2(N/30) — at the shipped sf0.01 corpus the
    * rule lands exactly on the measured-best 4). Derived from a cheap
    * corpus count; pass an explicit `bits` to pin a setting (the
    * oracled entries do, so their output is SF-invariant). */
  def autoBits(n: Long, targetBucket: Long = 30L): Int = {
    require(targetBucket >= 1L, "targetBucket must be >= 1")
    if (n <= targetBucket) 1
    else math.min(30, math.max(1,
      math.round(math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt))
  }

  /** The deduped LSH candidate-pair frame shared by [[lshTopK]] and
    * [[lshCurve]]: signature per (vec, table) via the native
    * codegen'd expression (graft.functions.LshSignatures, registered
    * by Tables.sessionBuilder — the equivalent nested
    * higher-order-function form evaluates its lambdas per element
    * interpreted, an order of magnitude slower for tables*bits*dim
    * multiply-adds per vector; same sequential fold order and
    * md5-derived planes, so the sign bits stay bit-identical to the
    * DuckDB oracle; a null vector yields a null signature array →
    * posexplode drops the row), then (table, signature) bucket join
    * and a distinct over the (query_id, vec_id) PAIRS — two longs —
    * before any embedding array is re-attached: shuffling and
    * distinct-ing the vectors themselves is the expensive
    * anti-pattern. */
  private def lshCandidates(e: DataFrame, nQueries: Int, bits: Int,
      tables: Int, dim: Int): DataFrame = {
    def sigs(df: DataFrame) = df
      .select(col("*"),
        posexplode(expr(s"graft_lsh_sigs(v, $tables, $bits, $dim)"))
          .as(Seq("t", "sig")))
      .select(col("vec_id"), col("v"), col("nrm"), col("t"), col("sig"))
    val corpus = sigs(e)
    val queries = sigs(e.where(col("vec_id") < nQueries))
      .select(col("t"), col("sig"), col("vec_id").as("query_id"))
    corpus.select(col("t"), col("sig"), col("vec_id"))
      .join(queries, Seq("t", "sig"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
  }

  /** LSH bits tuning curve: per `bits` setting at a fixed table count,
    * the micro-averaged recall@k against the exact top-k and the
    * MEASURED deduped candidate-pair count the buckets emitted
    * (expected occupancy is N/2^bits per table, but real corpora are
    * skewed). One row per setting: (bits, tables, n_queries,
    * n_candidates, n_hit, n_truth, recall_q6). A [[Sweep]] on the
    * rebuild side: `bits` is baked into the signature, so each setting
    * re-signs the corpus, one narrow codegen'd projection inside the
    * lazy plan; candidates are counted on the two-long pair frame.
    * This curve is the calibration evidence behind [[autoBits]]: its
    * sf10 sweep measured the coarse fixed settings' candidate counts
    * growing 5.6× at 100× data. */
  def lshCurve(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      bitsList: Seq[Int] = Seq(2, 4, 6, 8), tables: Int = 16): DataFrame = {
    require(bitsList.nonEmpty && bitsList.forall(b => b >= 1 && b <= 30),
      "each bits setting must be in [1, 30]")
    val e = withNorm(emb)
    val dim = emb.where(col("embedding").isNotNull)
      .select(size(col("embedding")).as("d")).head().getInt(0)
    val exact = Sweep.truth(cosineTopK(emb, nQueries, k))
    Sweep.recall(Sweep.union(bitsList) { b =>
      val pairs = lshCandidates(e, nQueries, b, tables, dim)
      Seq("bits" -> b.toLong, "tables" -> tables.toLong,
        "n_queries" -> nQueries.toLong) ->
        Sweep.hits(pairs.agg(count(lit(1)).as("n_candidates")), exact,
          topK(rescore(pairs, e), k))
    }, exact)
  }

  /** Product-quantized search — the classic memory-bound scale path
    * for a 100 TB vector store (the faiss PQ shape): each vector is
    * split into `m` subvectors, each subspace gets its own `nlist`-way
    * L2 k-means codebook, and a vector is stored as `m` byte codes —
    * dim×4 bytes shrinks to m bytes (here 64×4→4, a 64× compression
    * vs SQ8's 4×). Search is the asymmetric-distance scan: the query
    * stays float and every corpus vector is scored against the
    * CODEBOOK entries its codes name, so the corpus scan touches only
    * codes, never raw vectors.
    *
    * Everything is deterministic and engine-recomputable (the DuckDB
    * oracle replays it): per-subspace codebooks initialize from the
    * `nlist` lowest vec_ids' subvectors; each Lloyd round assigns by
    * round-9 L2 distance (ties → lowest code) and re-centers by an
    * elementwise EXACT mean — members quantize ×2^30 to int64, the
    * sum is exact integer, the mean one IEEE divide — so centroids
    * are order-independent and engine-identical (empty cells keep
    * their centroid); the ADC scan
    * quantizes each per-subspace partial dot and codebook-entry
    * squared-norm to fixed point (×2^30, the lm-perplexity trick)
    * BEFORE the cross-subspace sum, so the final cosine is an exact
    * integer sum however the `m` partials are ordered.
    *
    * Scale shape: training is one broadcast of the (m×nlist)-row
    * codebook + one narrow assignment pass + one partial-aggregated
    * groupBy per Lloyd round; codes are one narrow pass; the ADC scan
    * joins the (vec,sub,code) stream against the broadcast codebook ×
    * broadcast query subvectors and collapses the m-way expansion
    * map-side — the corpus never shuffles vector payloads. */
  /** (vec_id, nrm, sub, sv): the subvector stream — a narrow explode
    * of a normed frame into `m` subspaces of `d` dims each. */
  private def pqSubs(df: DataFrame, m: Int, d: Int): DataFrame =
    df.select(col("vec_id"), col("nrm"),
      posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> slice(v, s * $d + 1, $d))"))
        .as(Seq("sub", "sv")))

  /** Nearest codebook entry per (vec, sub) by rounded L2, ties →
    * lowest cid — the broadcast-join + map-side min_by shape, with
    * the distance as the native codegen'd graft_dist2 kernel
    * (bit-identical to the previous zip_with HOF fold, which ran
    * INTERPRETED once per ks-way-expanded row — the r17-measured cost
    * of this operator was mostly that interpreter loop, not the
    * expansion). min_by keeps the ks-way-expanded rows collapsing
    * map-side, and its exchange carries one (vec_id, sub, sv, cid) row
    * per subvector — the subvector stream itself, not an expansion —
    * so this is also the honest 100 TB plan. (The literal-compiled
    * narrow-map form, the [[coarseAssign]] trick, lost here twice: the
    * PQ codes feed a query crossJoin and two broadcast joins, and
    * fusing an un-materialized per-sub CASE/least chain into that
    * stage re-evaluates it downstream.) */
  private[graft] def pqAssign(sv: DataFrame, bk: DataFrame): DataFrame = sv
    .join(broadcast(bk.select(col("sub"), col("cid"), col("cv"))), Seq("sub"))
    .withColumn("dist",
      round(call_function("graft_dist2", col("sv"), col("cv")), 9))
    .groupBy(col("vec_id"), col("sub"))
    .agg(first(col("sv")).as("sv"),
      min_by(col("cid"), struct(col("dist"), col("cid"))).as("cid"))

  /** Per-subspace L2 Lloyd over the subvector stream — returns the
    * trained (sub, cid, cv, cn2q) codebook (m × nlist rows, cn2q =
    * fixed-point squared norm ×2^30 for the ADC scan). `trainMod` > 1
    * trains each codebook on the 1/trainMod `vec_id % trainMod == 0`
    * subsample (see [[trainCoarse]]) — code ASSIGNMENT still covers
    * every vector. */
  private def trainPq(sv: DataFrame, nlist: Int, iters: Int,
      trainMod: Int = 1): DataFrame = {
    // same persist rationale (and same trainMod > 1 guard) as
    // trainCoarse: the subvector sample feeds every Lloyd round and
    // the checkpoints don't cache it; an unbounded trainMod ≤ 1
    // "sample" is the corpus and must not be cached
    val doPersist = trainMod > 1
    val tsv0 = if (trainMod <= 1) sv
               else sv.where(col("vec_id") % trainMod === 0)
    val tsv = if (doPersist)
      tsv0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else tsv0
    var books = tsv.where(col("vec_id") < nlist.toLong * trainMod)
      .select(col("sub"), expr(s"CAST(vec_id DIV $trainMod AS INT)").as("cid"),
        col("sv").as("cv"))
    for (_ <- 1 to iters) {
      // re-center by an ORDER-INDEPENDENT mean: each member component
      // quantizes to int64 ×2^30 first (x·2^30 is a power-of-two
      // multiply — exact — and floor is unambiguous), the sum is
      // exact integer, and the mean is ONE IEEE divide of two exact
      // values — so the centroid is bit-identical however partitions
      // (or another engine's fold) order the members. A raw avg()
      // here was the repo's last engine-folded double feeding the
      // q9-floored distortion audit (VERDICT r14 What's-wrong #2).
      val next = pqAssign(tsv, books)
        .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(expr("CAST(sum(CAST(floor(x * 1073741824D) AS BIGINT)) AS DOUBLE)" +
          " / CAST(count(1) * 1073741824L AS DOUBLE)").as("cx"))
        .groupBy(col("sub"), col("cid"))
        .agg(expr("transform(sort_array(collect_list(struct(pos, cx))), s -> s.cx)")
          .as("cv"))
      books = books.alias("o")
        .join(next.alias("n"), Seq("sub", "cid"), "left")
        .select(col("sub"), col("cid"), coalesce(col("n.cv"), col("o.cv")).as("cv"))
        .localCheckpoint(true)
    }
    if (doPersist) tsv.unpersist(blocking = true)
    books.withColumn("cn2q", expr(
      "CAST(round(graft_norm2(cv) * 1073741824D) AS BIGINT)"))
  }

  /** ADC scoring of a (…, vec_id, sub, cid) code stream: per-subspace
    * partial dot against the named codebook entry, quantized to fixed
    * point, then an exact integer sum per (query, vec) — the final
    * cosine is order-independent however the m partials arrive. The
    * codebook and the query subvectors are broadcast; only narrow code
    * rows flow. */
  private def adcScore(codeRows: DataFrame, book: DataFrame,
      qsubs: DataFrame): DataFrame = codeRows
    .join(broadcast(book.select(col("sub"), col("cid"), col("cv"), col("cn2q"))),
      Seq("sub", "cid"))
    .join(broadcast(qsubs), Seq("query_id", "sub"))
    .withColumn("pdq", expr(
      "CAST(round(graft_dot(qsv, cv) * 1073741824D) AS BIGINT)"))
    .groupBy(col("query_id"), col("vec_id"))
    .agg(sum(col("pdq")).as("pd"), sum(col("cn2q")).as("rn2"),
      first(col("qn")).as("qn"))
    .withColumn("sim", round(
      (col("pd") / lit(1073741824.0)) /
        (col("qn") * sqrt(col("rn2") / lit(1073741824.0))), 6))

  private def pqQuerySubs(e: DataFrame, m: Int, d: Int, nQueries: Int): DataFrame =
    pqSubs(e.where(col("vec_id") < nQueries), m, d)
      .select(col("vec_id").as("query_id"), col("nrm").as("qn"),
        col("sub"), col("sv").as("qsv"))

  def pqTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      m: Int = 4, nlist: Int = 8, iters: Int = 2,
      trainMod: Int = 1): DataFrame = {
    val e = withNorm(emb)
    val dim = emb.where(col("embedding").isNotNull)
      .select(size(col("embedding")).as("d")).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val d = dim / m
    val sv = pqSubs(e, m, d)
    val book = trainPq(sv, nlist, iters, trainMod)
    val codes = pqAssign(sv, book).select(col("vec_id"), col("sub"), col("cid"))
    val qsubs = pqQuerySubs(e, m, d, nQueries)
    // exhaustive ADC: every (query, vec) pair is scored through codes
    val codeRows = codes.crossJoin(
      broadcast(qsubs.select(col("query_id")).distinct()))
      .where(col("vec_id") =!= col("query_id"))
    topK(adcScore(codeRows, book, qsubs), k)
  }

  /** IVF-PQ — the production composition for billion-scale ANN (the
    * faiss IndexIVFPQ shape, `by_residual=false`): a trained coarse
    * quantizer restricts each query to `nprobe` cells, and within the
    * probed cells vectors are scored by their PQ codes via the ADC
    * scan. Per-query work drops to ~(nprobe/nlist) of the corpus AND
    * each visited vector costs m byte-code lookups instead of a
    * dim-float dot — the two orthogonal reductions multiply.
    * Training, probing, code assignment, and the fixed-point ADC all
    * reuse the deterministic machinery above, so the DuckDB oracle
    * replays the whole composition. */
  def ivfPqTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nlist: Int = 8, iters: Int = 2, nprobe: Int = 3,
      m: Int = 4, pqNlist: Int = 8, pqIters: Int = 2,
      trainMod: Int = 1): DataFrame = {
    val e = withNorm(emb)
    val dim = emb.where(col("embedding").isNotNull)
      .select(size(col("embedding")).as("d")).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val d = dim / m
    // the coarse quantizer and the PQ codebooks are INDEPENDENT
    // trainings over the same corpus: submit both Lloyd loops
    // concurrently (Par.all — the pattern this operator introduced,
    // now shared by every tuning curve) so their per-round jobs
    // interleave instead of serializing; each loop is deterministic
    // in isolation, so no result changes
    val sv = pqSubs(e, m, d)
    val eager = Par.all[DataFrame](Seq(
      () => trainCoarse(e, nlist, iters, trainMod),
      () => trainPq(sv, pqNlist, pqIters, trainMod)))
    val cent = eager(0)
    val book = eager(1)
    val assigned = coarseAssign(e, cent).select(col("vec_id"), col("cell"))
    val codes = pqAssign(sv, book).select(col("vec_id"), col("sub"), col("cid"))
    // probe the nprobe nearest cells per query (tiny centroid table)
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cell").asc)
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("csim", round(
        expr("graft_dot(qv, cv)") /
          (col("qn") * col("cnrm")), 9))
      .withColumn("pr", row_number().over(wProbe))
      .where(col("pr") <= nprobe)
      .select(col("query_id"), col("cell"))
    // candidate (query, vec) pairs: only vectors in probed cells — the
    // probe table is queries×nprobe rows, broadcast onto the corpus
    val cand = assigned.join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val qsubs = pqQuerySubs(e, m, d, nQueries)
    topK(adcScore(cand.join(codes, Seq("vec_id")), book, qsubs), k)
  }

  /** Hybrid dense + lexical retrieval with reciprocal-rank fusion —
    * the two-tower search shape of production retrieval stacks: each
    * query's cosine top-`depth` (dense ranks) fuses with the corpus's
    * BM25 top-`depth` for a term set (lexical ranks) via RRF
    * (score = Σ 1/(rrfK + rank), Cormack et al.), which needs no score
    * normalization between the incomparable scales. The dense side is
    * the exact-search plan (broadcast queries, two-phase top-k); the
    * lexical side is [[TextStats.bm25]]'s broadcast-stats scan reduced
    * to `depth` rows by TakeOrdered (the post-limit rank window runs
    * over depth rows by construction); fusion joins two rank frames of
    * ≤ depth rows per query. All ranks are integers and the RRF sum is
    * two exact IEEE divisions, so the fusion is oracle-replayed to the
    * last tie-break. */
  def hybridTopK(emb: DataFrame, docsMeta: DataFrame, terms: Seq[String],
      nQueries: Int = 10, k: Int = 5, depth: Int = 20,
      rrfK: Int = 60): DataFrame = {
    val e = withNorm(emb)
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(dotCol / (col("qn") * col("nrm")), 9))
    val dense = topK(scored, depth)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dr"))
    val lexW = Window.orderBy(col("bm25_q6").desc, col("doc_id").asc)
    val lex = TextStats.bm25(docsMeta, terms)
      .orderBy(col("bm25_q6").desc, col("doc_id").asc).limit(depth)
      .withColumn("lr", row_number().over(lexW))
      .select(col("doc_id"), col("lr"))
    // query-id list from the nQueries-row q frame, NOT a distinct()
    // over `dense` — that would re-run the whole corpus-scoring scan
    // (dense's lineage) a second time just to enumerate ≤ nQueries ids
    val lcross = q.select(col("query_id"))
      .crossJoin(broadcast(lex))
      .where(col("doc_id") =!= col("query_id"))
    val fused = dense.join(lcross, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("score", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("dr")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("lr")), lit(0.0)), 9))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"))
  }

  /** Metadata-filtered vector search — the filtered-ANN capability of
    * a production vector store (pre-filtering): top-k over ONLY the
    * corpus vectors whose id appears in `allowed` (e.g. the doc_ids
    * passing a language/source/quality predicate on the paired
    * documents table). The filter is a semi-join applied BEFORE
    * scoring, so excluded vectors are never dotted — at a selective
    * predicate this is the dominant cost cut, and the plan stays the
    * exact-search shape (broadcast queries, corpus never shuffles,
    * two-phase top-k). Queries themselves are NOT filtered — asking
    * from any vector about a restricted corpus is the common case. */
  def filteredTopK(emb: DataFrame, allowed: DataFrame,
      nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = withNorm(emb)
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val corpus = e.join(allowed.select(col("vec_id")), Seq("vec_id"), "left_semi")
    val scored = corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(dotCol / (col("qn") * col("nrm")), 9))
    topK(scored, k)
  }

  /** Matryoshka-style dimension truncation + renormalization (MRL
    * deployment shape): keep the first `dims` dimensions and rescale
    * to unit L2 norm — the standard storage/latency cut for MRL-style
    * embeddings. Output is exploded to (vec_id, pos, x) scalar rows
    * with x rounded to 6 decimals so every value is oracle-pinned.
    * Narrow single pass, no shuffle; a zero-norm prefix yields zeros
    * (never NaN). */
  def truncateRenorm(emb: DataFrame, dims: Int = 16): DataFrame =
    emb.where(col("embedding").isNotNull)
      .select(col("vec_id"),
        expr(s"transform(slice(embedding, 1, $dims), x -> CAST(x AS double))")
          .as("t"))
      .withColumn("n", expr("sqrt(graft_norm2(t))"))
      .select(col("vec_id"), posexplode(expr(
        "transform(t, x -> CASE WHEN n = 0D THEN 0D ELSE round(x / n, 6) END)"))
        .as(Seq("pos", "x")))

  /** Per-label centroid export — the cluster-summary table of an
    * embedding corpus (one elementwise mean per label): the input to
    * downstream cluster naming / pruning / mixture decisions. One
    * partial-aggregated hash aggregation over (label, pos) — the
    * corpus never shuffles whole vectors, only (label, pos, sum)
    * partials. Output (label, n_vecs, pos, cx) with cx rounded 6. */
  def labelCentroids(emb: DataFrame): DataFrame = {
    val sizes = emb.where(col("embedding").isNotNull)
      .groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    emb.where(col("embedding").isNotNull)
      .select(col("label"), posexplode(
        expr("transform(embedding, x -> CAST(x AS double))")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("x")), 6).as("cx"))
      .join(broadcast(sizes), Seq("label"))
      .select(col("label"), col("n_vecs"), col("pos"), col("cx"))
  }

  /** Per-dimension embedding drift — the "did my embedding
    * distribution move" monitor an ML-data pipeline keeps next to its
    * encoder (the embedding-space analog of [[graft.engine.SeriesMath
    * .psiDrift]]): vectors split into the FIRST and SECOND id-range
    * halves (ids arrive roughly in ingest order, so the halves are a
    * before/after read), and each dimension gets a Welch z for the
    * mean shift between them — an encoder swap, a source-mix change,
    * or a normalization bug shows up as a block of hot dimensions.
    *
    * Exactness: each component is floor-quantized ×1e6 FIRST (floor
    * of the same widened double in any engine), so the per-(dim,
    * half) moments are exact int64 sums whose aggregation order
    * cannot matter; mu/var/z then follow by one fixed IEEE sequence,
    * z floor-quantized ×1e6. Exact while n·q² < 2^63 — at |x| ≤ 5
    * that is ~3·10⁵ vectors per half; re-quantize coarser (×1e3)
    * beyond. Plan: one posexplode → hash agg to 2·d rows (map-side
    * combine does the heavy lifting) → d-row final agg; the 1-row id
    * midpoint broadcasts. Dims where both halves are constant emit
    * NULL z. Output (dim, n0, n1, z_q6). */
  def embedDrift(emb: DataFrame): DataFrame = {
    val e = emb.where(col("embedding").isNotNull)
    val mid = e.agg(expr(
      "min(vec_id) + (max(vec_id) - min(vec_id)) DIV 2").as("mid"))
    val moments = e.crossJoin(broadcast(mid))
      .select(when(col("vec_id") <= col("mid"), 0L).otherwise(1L).as("half"),
        posexplode(expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"))
          .as(Seq("dim", "q")))
      .groupBy(col("dim").cast("long").as("dim"), col("half"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s1"),
        sum(col("q") * col("q")).as("s2"))
    moments.groupBy(col("dim"))
      .agg(sum(when(col("half") === 0L, col("n"))).as("n0"),
        sum(when(col("half") === 0L, col("s1"))).as("s10"),
        sum(when(col("half") === 0L, col("s2"))).as("s20"),
        sum(when(col("half") === 1L, col("n"))).as("n1"),
        sum(when(col("half") === 1L, col("s1"))).as("s11"),
        sum(when(col("half") === 1L, col("s2"))).as("s21"))
      .where(col("n0").isNotNull && col("n1").isNotNull)
      .select(col("dim"), col("n0"), col("n1"), expr(
        """CAST(floor(CASE WHEN
          |  (CAST(s20 AS DOUBLE) / CAST(n0 AS DOUBLE)
          |   - (CAST(s10 AS DOUBLE) / CAST(n0 AS DOUBLE)) * (CAST(s10 AS DOUBLE) / CAST(n0 AS DOUBLE))) / CAST(n0 AS DOUBLE)
          |  + (CAST(s21 AS DOUBLE) / CAST(n1 AS DOUBLE)
          |   - (CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE)) * (CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE))) / CAST(n1 AS DOUBLE) <= 0.0
          |  THEN CAST(NULL AS DOUBLE)
          |  ELSE (CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s10 AS DOUBLE) / CAST(n0 AS DOUBLE))
          |    / sqrt(
          |      (CAST(s20 AS DOUBLE) / CAST(n0 AS DOUBLE)
          |       - (CAST(s10 AS DOUBLE) / CAST(n0 AS DOUBLE)) * (CAST(s10 AS DOUBLE) / CAST(n0 AS DOUBLE))) / CAST(n0 AS DOUBLE)
          |      + (CAST(s21 AS DOUBLE) / CAST(n1 AS DOUBLE)
          |       - (CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE)) * (CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE))) / CAST(n1 AS DOUBLE))
          |  END * 1e6) AS BIGINT)""".stripMargin).as("z_q6"))
  }

  /** Embedding outlier detection — the prototypicality filter of an
    * embedding-curated corpus (the SemDeDup-family pruning signal):
    * per label cell, each vector's L2 distance to its cell centroid,
    * z-scored against the cell's distance distribution; vectors more
    * than `zCut` standard deviations out are flagged. Two
    * partial-aggregated passes (centroid means, then distance
    * moments) with only (label, pos, sum) partials and per-vec
    * distance scalars shuffling — never whole vectors; the per-label
    * stats table is label-count-sized and broadcast back. Distances
    * are rounded (6); the z-score path is EXACT fixed-point: each
    * rounded dist quantizes to an integer (×1000, floor of
    * bit-identical doubles), so the per-label moments are integer
    * sums whose aggregation order cannot matter, and mu/sd/z follow
    * by one fixed sequence of correctly-rounded IEEE ops — bit-equal
    * in any engine. z ships floor-quantized (×1e6 → `zq`). Exactness
    * holds while Σdi² < 2^63, i.e. ~1e10 vectors per label at unit-ish
    * norms — beyond that, re-quantize coarser. A single-vector cell
    * has sd 0 and is never an outlier. */
  def embedOutliers(emb: DataFrame, zCut: Double = 2.0): DataFrame = {
    val e = emb.where(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS double))").as("v"))
    val cents = e
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      // centroid components rounded to 6 BEFORE the distance pass so
      // aggregation-order ulps can never reach the distance values
      .groupBy(col("label"), col("pos")).agg(round(avg(col("x")), 6).as("cx"))
      .groupBy(col("label"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, cx))), s -> s.cx)")
        .as("cv"))
    // the fold + broadcast join is the heavy pass and feeds BOTH the
    // moment aggregation and the final join — materialize it once
    val dist = e.join(broadcast(cents), Seq("label"))
      .withColumn("dist", round(expr(
        "sqrt(graft_dist2(v, cv))"), 6))
      .select(col("vec_id"), col("label"),
        col("dist"), expr("CAST(floor(dist * 1000D + 0.5D) AS BIGINT)").as("di"))
      .localCheckpoint(true)
    val stats = dist.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("di")).as("s1"),
        sum(col("di") * col("di")).as("s2"))
    dist.join(broadcast(stats), Seq("label"))
      .withColumn("mu3", col("s1").cast("double") / col("n").cast("double"))
      .withColumn("sd3", sqrt(greatest(
        col("s2").cast("double") / col("n").cast("double") - col("mu3") * col("mu3"),
        lit(0.0))))
      .withColumn("z", when(col("sd3") === 0.0, lit(0.0))
        .otherwise((col("di").cast("double") - col("mu3")) / col("sd3")))
      .select(col("vec_id"), col("label"), col("dist"),
        expr("CAST(floor(z * 1e6) AS BIGINT)").as("zq"),
        (col("z") > zCut).as("is_outlier"))
  }

  /** Streaming IVF ingest — the continuous-index-build path of a
    * 100 TB/day vector pipeline: every ARRIVING vector is assigned to
    * its nearest trained coarse cell the moment it lands, so the IVF
    * postings (partitioned by cell) grow incrementally and a batch
    * retrain is only needed when cell occupancy drifts. The trained
    * centroid table (nlist rows — broadcast-sized by construction) is
    * collected once and compiled INTO the expression as literals, so
    * the per-batch work is a stateless narrow map: no stream-static
    * join, no aggregation, no state store, append-mode compatible with
    * any sink. Assignment is the same round-9 cosine / lowest-cell
    * tie-break as [[kmeansIvfTopK]]'s trainer (greatest over
    * per-cell (csim, -cell) structs), so a streamed vector lands in
    * exactly the cell a batch re-assignment would give it. Output:
    * input columns + (cell, csim). */
  def streamingIvfAssign(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    // nlist rows by design — the same bound that makes them broadcastable
    val cents = centroids.select(col("cell"), col("cv"), col("cnrm"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    require(cents.nonEmpty, "streamingIvfAssign needs a trained centroid table")
    // a NaN/Infinity component (corrupt or zero-norm training corpus)
    // would render as 'NaND'/'InfinityD' and fail the SQL parse far
    // from the cause — fail HERE with the actual reason instead
    require(cents.forall { case (_, cv, cnrm) =>
      java.lang.Double.isFinite(cnrm) && cv.forall(java.lang.Double.isFinite)
    }, "streamingIvfAssign: centroid table contains non-finite " +
      "components (corrupt or zero-norm training corpus?)")
    val v = expr("transform(embedding, x -> CAST(x AS double))")
    val withV = vectors.withColumn("__v", v)
      .withColumn("__nrm", expr("sqrt(graft_norm2(__v))"))
    // per-cell (csim, -cell) structs against literal centroid arrays —
    // Double.toString round-trips exactly, so the compiled literals
    // are bit-identical to the trained centroids; the dot is the same
    // codegen'd sequential fold as everywhere
    val structs = cents.map { case (cell, cv, cnrm) =>
      val cvLit = cv.map(x => s"${x}D").mkString("array(", ", ", ")")
      struct(
        round(expr(s"graft_dot(__v, $cvLit)") / (col("__nrm") * lit(cnrm)), 9)
          .as("s"),
        lit(-cell).as("nc"))
    }
    val best =
      if (structs.size == 1) structs.head
      else greatest(structs.toIndexedSeq: _*)
    withV
      .withColumn("__best", best)
      .withColumn("cell", -col("__best.nc"))
      .withColumn("csim", col("__best.s"))
      .drop("__v", "__nrm", "__best")
  }

  /** Binary (sign-bit) quantization search — the 32× compression point
    * of the quantization family (SQ8 4×, PQ 64×): every dimension
    * collapses to its sign bit, a dim-float vector becomes
    * ceil(dim/32) packed 32-bit words, and the candidate scan is pure
    * integer Hamming distance (xor + popcount — whole-stage-codegen'd
    * in Spark, no floats touched). The top `rerank` Hamming candidates
    * per query are then re-scored with the exact float cosine, the
    * standard binary-quantization + rerank shape of production vector
    * stores.
    *
    * Bits are packed 32 per word (bit j of word w = sign of dimension
    * 32w+j) so every word stays exactly representable — and exactly
    * recomputable by the DuckDB oracle — as a small positive BIGINT;
    * packing is a narrow fold, the signature frame is 2 longs per
    * vector at dim 64. The Hamming scan broadcasts the nQueries
    * signatures against the corpus signature frame (never the float
    * vectors) and reduces to `rerank` survivors with the same
    * two-phase local-top-k used everywhere (no global sort); only the
    * survivors' ids join back to the float corpus for the exact
    * re-score. Per-query scan cost at 100 TB: N × words integer ops
    * over a frame 32× smaller than the raw corpus, and the float reads
    * are rerank-bounded. Determinism: Hamming is integer (ties →
    * lowest vec_id), rerank cosine is the round-9 exact dot. */
  def binaryTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      rerank: Int = 50): DataFrame = {
    val e = withNorm(emb).where(col("embedding").isNotNull)
    val cand = rankedHamming(e, rerank, nQueries)
      .select(col("query_id"), col("vec_id"))
    // exact rerank: only rerank*nQueries ids rejoin the float corpus
    topK(rescore(cand, e), k)
  }

  /** The sign-bit Hamming candidate list shared by [[binaryTopK]] and
    * [[rerankCurve]]: the packed-word signature scan reduced to each
    * query's `depth` smallest Hamming distances, WITH the candidate's
    * global rank `r` (ham asc, vec_id asc — a deterministic TOTAL
    * order, so the top-r for any r <= depth is exactly the r-prefix:
    * the property rerankCurve's shared-scan design rests on). Output
    * (query_id, vec_id, r). */
  private def rankedHamming(e: DataFrame, depth: Int,
      nQueries: Int): DataFrame = {
    val dim = e.select(size(col("v")).as("d")).head().getInt(0)
    val nWords = (dim + 31) / 32
    // packed signature words: bit j of word w = 1 iff v[32w+j] >= 0
    val wordCols = (0 until nWords).map { w =>
      val width = math.min(32, dim - 32 * w)
      expr(
        s"""aggregate(transform(sequence(0, ${width - 1}),
           |  j -> CASE WHEN element_at(v, ${32 * w} + j + 1) >= 0D
           |            THEN shiftleft(1L, j) ELSE 0L END),
           |  0L, (a, x) -> a + x)""".stripMargin).as(s"w$w")
    }
    val sigs = e.select(col("vec_id") +: wordCols: _*)
    val qSigs = sigs.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id") +:
        (0 until nWords).map(w => col(s"w$w").as(s"qw$w")): _*)
    val ham = (0 until nWords)
      .map(w => expr(s"bit_count(w$w ^ qw$w)"): org.apache.spark.sql.Column)
      .reduce(_ + _)
    val scanned = sigs.crossJoin(broadcast(qSigs))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("ham", ham)
    // two-phase smallest-`depth` Hamming per query: local top inside
    // each scan partition (map-side, bounded array_sort), then a rank
    // over the <= depth * P narrow survivors — no global sort, and
    // nothing vector-sized ever shuffles
    val local = scanned
      .select(col("query_id"), col("ham"), col("vec_id"))
      .groupBy(col("query_id"), spark_partition_id().as("part"))
      .agg(expr(
        s"slice(array_sort(collect_list(struct(ham, vec_id))), 1, $depth)")
        .as("top"))
    val merged = local
      .select(col("query_id"), explode(col("top")).as("c"))
      .select(col("query_id"), col("c.ham").as("ham"), col("c.vec_id").as("vec_id"))
    val wCand = Window.partitionBy(col("query_id"))
      .orderBy(col("ham").asc, col("vec_id").asc)
    merged.withColumn("r", row_number().over(wCand))
      .where(col("r") <= depth)
      .select(col("query_id"), col("vec_id"), col("r"))
  }

  /** Exact float re-score of a (query_id, vec_id) candidate frame:
    * only the candidates' ids rejoin the float corpus (candidate-bounded
    * reads), round-9 cosine like every sim in the family. Shared by
    * [[binaryTopK]], [[lshTopK]] and their curves. */
  private def rescore(cand: DataFrame, e: DataFrame): DataFrame =
    cand
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn")), Seq("query_id"))
      .join(e, Seq("vec_id"))
      .withColumn("sim", round(dotCol / (col("qn") * col("nrm")), 9))

  /** Binary-search rerank tuning curve: per rerank depth, the
    * micro-averaged recall@k against the exact top-k and the number of
    * float-vector reads the rerank paid (the Hamming scan is
    * depth-independent; the float reads are the only depth-scaled
    * cost). One row per depth: (rerank, n_queries, n_float_reads,
    * n_hit, n_truth, recall_q6). Recall is monotone in depth, and a
    * depth >= corpus size makes the prefilter vacuous: the result IS
    * the exact top-k (AnnSpec pins both). A [[Sweep]] on the shared
    * side: the candidate order (ham asc, vec_id asc) is a total order,
    * so every depth's candidates are a prefix of ONE checkpointed
    * max-depth Hamming ranking, and each setting replays only its
    * float re-score. */
  def rerankCurve(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      reranks: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    require(reranks.nonEmpty && reranks.forall(_ >= k),
      "each rerank depth must be >= k (fewer candidates than results)")
    val e = withNorm(emb).where(col("embedding").isNotNull)
    val Seq(cand, exact) = Par.all[DataFrame](Seq(
      () => rankedHamming(e, reranks.max, nQueries).localCheckpoint(true),
      () => Sweep.truth(cosineTopK(emb, nQueries, k))))
    Sweep.recall(Sweep.union(reranks) { d =>
      val sel = cand.where(col("r") <= d)
      Seq("rerank" -> d.toLong, "n_queries" -> nQueries.toLong) ->
        Sweep.hits(sel.agg(count(lit(1)).as("n_float_reads")), exact,
          topK(rescore(sel.select(col("query_id"), col("vec_id")), e), k))
    }, exact)
  }
}
