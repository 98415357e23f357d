package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.llm.Ann

/** Pins the similarity-search operators on a deterministic clustered
  * corpus: brute-force top-k is exact; hyperplane-LSH top-k must reach
  * recall@5 >= 0.6 against it (it only searches matching buckets). */
class AnnSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // 120 vectors in 16 dims, 6 well-separated clusters with
  // deterministic per-vector jitter
  private def corpus = {
    val rows = (0 until 120).map { i =>
      val c = i % 6
      val v = Array.tabulate(16) { d =>
        val base = if (d % 6 == c) 1.0f else 0.0f
        val jitter = (((i * 31 + d * 17) % 13) - 6) / 40.0f
        base + jitter
      }
      (i.toLong, v, c)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("graft_dot yields NULL on mismatched dimensions, like zip_with") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)), // matched: 32.0
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0))       // malformed: NULL
    ).toDF("a", "b")
    val out = df.select(
      expr("graft_dot(a, b)").as("dot"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        .as("hof")).collect()
    assert(out(0).getDouble(0) === 32.0)
    assert(out(0).getDouble(1) === 32.0)
    assert(out(1).isNullAt(0), "graft_dot must not truncate to the shorter array")
    assert(out(1).isNullAt(1)) // the documented-equivalent HOF agrees
  }

  test("brute-force cosine top-k ranks same-cluster vectors first") {
    val top = Ann.cosineTopK(corpus, nQueries = 6, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(top.length === 30)
    // for each query, the top-1 neighbor is in the query's cluster
    val labelOf = (id: Long) => id % 6
    top.filter(_._2 == 1L).foreach { case (q, _, n) =>
      assert(labelOf(n) === labelOf(q), s"query $q top-1 $n")
    }
  }

  test("knnJoin: every vector gets a same-cluster top-1; within-cell ranking equals brute force on the cell") {
    // corpus: 120 vectors, 6 labels of 20 → adaptive bits = 0 (6·256
    // ≥ 120), so cells ARE the labels and within-cell kNN is exact
    // brute force over each 20-vector cluster
    val out = Ann.knnJoin(corpus, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every vector is a query with exactly k neighbors
    assert(out.length === 120 * 5, s"${out.length}")
    val labelOf = (id: Long) => id % 6
    out.foreach { case (q, _, n) =>
      assert(labelOf(n) === labelOf(q), s"cell-bounded: $q -> $n")
    }
    // within one cell the ranking equals the broadcast exact search
    // restricted to that cell (same sim rounding, same tie-break)
    val cell0 = corpus.where(col("label") === 0)
    val exact = Ann.cosineTopK(cell0, nQueries = 1, k = 5).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    val mine = out.filter(_._1 == 0L).map(t => (t._2, t._3)).toSet
    assert(mine === exact, s"$mine vs $exact")
  }

  test("null embeddings are dropped, never ranked first") {
    // a null-embedding row used to produce a null sim that array_sort
    // and the ranking window order FIRST, displacing true neighbors
    val withNull = corpus.unionByName(
      Seq((999L, null.asInstanceOf[Array[Float]], 0))
        .toDF("vec_id", "embedding", "label"))
    val top = Ann.cosineTopK(withNull, nQueries = 6, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(top.length === 30)
    assert(!top.exists(_._3 == 999L), "null-embedding row ranked as a neighbor")
    // result identical to the clean corpus
    val clean = Ann.cosineTopK(corpus, nQueries = 6, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(top.toSeq === clean.toSeq)
  }

  test("LSH top-k recall@5 >= 0.6 vs brute force") {
    val exact = Ann.cosineTopK(corpus, nQueries = 6, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Ann.lshTopK(corpus, nQueries = 6, k = 5,
      bits = 4, tables = 8).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("IVF top-k recall@5 >= 0.8 vs brute force (label cells + 3 probes)") {
    val exact = Ann.cosineTopK(corpus, nQueries = 6, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Ann.ivfTopK(corpus, nQueries = 6, k = 5, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("k-means IVF recovers the planted clusters and beats probe-floor recall") {
    // 6 planted clusters, nlist=6, 2 Lloyd rounds: the trained cells
    // should recover cluster structure, so recall@5 with 3 probes must
    // be high (the label-based IVF test above is the upper reference)
    val exact = Ann.cosineTopK(corpus, nQueries = 6, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val km = Ann.kmeansIvfTopK(corpus, nQueries = 6, k = 5,
      nlist = 6, iters = 2, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect km).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("mmrTopK: lambda=1 is exactly cosineTopK; lambda<1 keeps rank-1 and diversifies the rest") {
    val plain = Ann.cosineTopK(corpus, nQueries = 6, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mmr1 = Ann.mmrTopK(corpus, nQueries = 6, k = 5,
      nCandidates = 20, lambda = 1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(mmr1 === plain, "lambda = 1 disables the penalty: identical ranking")
    val mmr = Ann.mmrTopK(corpus, nQueries = 6, k = 5,
      nCandidates = 20, lambda = 0.5).collect()
    // first pick is always the relevance argmax
    val first = mmr.filter(_.getLong(1) == 1L)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val top1 = plain.filter(_._2 == 1L).map(t => (t._1, t._3))
    assert(first === top1, "rank 1 must be the exact nearest neighbor")
    // k distinct picks per query
    mmr.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getLong(2)).distinct.length === 5, s"query $q")
    }
    // on the planted-cluster corpus the diversified list must span at
    // least as many clusters (label = vec_id % 6) as the plain top-k
    def spanOf(rows: Iterable[(Long, Long)]): Map[Long, Int] =
      rows.groupBy(_._1).view
        .mapValues(_.map(_._2 % 6).toSet.size).toMap
    val plainSpan = spanOf(plain.map(t => (t._1, t._3)))
    val mmrSpan = spanOf(mmr.map(r => (r.getLong(0), r.getLong(2))).toSeq)
    assert(mmrSpan.forall { case (q, s) => s >= plainSpan(q) },
      s"diversity must not decrease: $mmrSpan vs $plainSpan")
  }

  test("recallAtK: probing every cell is exhaustive (recall 1.0); fewer probes can only lose") {
    val full = Ann.recallAtK(corpus, nQueries = 6, k = 5,
      nlist = 6, iters = 2, nprobe = 6).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(full.size === 6)
    assert(full.values.forall(_ === 1.0),
      s"nprobe = nlist searches everything — recall must be 1.0: $full")
    val partial = Ann.recallAtK(corpus, nQueries = 6, k = 5,
      nlist = 6, iters = 2, nprobe = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(partial.forall { case (q, r) => r <= full(q) },
      s"fewer probes can only lose neighbors: $partial")
  }

  test("quantDistortion: exactly-representable corpus reads zero; jittered corpus reads sq8 << pq") {
    import spark.implicits._
    // integer components with per-vector absmax 127 → scale = 1.0, so
    // SQ8 reconstructs exactly; 8 vectors with nlist=8 are their own
    // PQ codebook → zero distortion in every subspace
    val zero = (0 until 8).map { i =>
      (i.toLong, Array.tabulate(16)(j =>
        if (j == 0) 127.0f else ((i * 16 + j) % 5).toFloat), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val z = Ann.quantDistortion(zero, m = 4, nlist = 8, iters = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(z("sq8") === ((8L, 0L, 0L, 0L)), z.toString)
    assert(z("pq") === ((8L, 0L, 0L, 0L)), z.toString)
    // the 1-bit scheme CANNOT represent this corpus (mixed component
    // magnitudes) — its row must exist and read a real loss
    assert(z("bin")._1 === 8L && z("bin")._3 > 0L, z.toString)
    // an equal-|component| corpus IS 1-bit-representable: s = |c|
    // exactly (the ×2^30 quantization of a power-of-two magnitude is
    // exact), signs recover every component
    val pm = (0 until 8).map { i =>
      (i.toLong, Array.tabulate(16)(j =>
        if ((i + j) % 3 == 0) -2.0f else 2.0f), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val zb = Ann.quantDistortion(pm, m = 4, nlist = 8, iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(zb("bin") === 0L, zb.toString)
    // on the jittered cluster corpus the int8 step error (~absmax/254
    // per component) is decades below the PQ cluster radius, and the
    // 1-bit loss dominates the 8-bit loss
    val real = Ann.quantDistortion(corpus, m = 4, nlist = 6, iters = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(real("pq")._2 > 0L, real.toString)
    assert(real("sq8")._2 < real("pq")._2,
      s"sq8 mse must undercut pq mse: $real")
    assert(real("sq8")._2 < real("bin")._2,
      s"1-bit codes must lose more geometry than 8-bit: $real")
  }

  test("pqCurve: mse monotone non-increasing in m; an exactly-representable corpus reads 0 at every m; bytes are the layout") {
    import spark.implicits._
    // finer subspace splits (same ks) can only tighten reconstruction
    // on the clustered corpus — the rate-distortion trade the curve
    // tables against the bytes column
    val rows = Ann.pqCurve(corpus, mList = Seq(4, 8, 16), ks = 16,
      iters = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(7)))).toMap
    assert(rows.keySet === Set(4L, 8L, 16L))
    // (n_vectors, bytes_raw = dim·8, bytes_code = m, compression)
    assert(rows(4L)._1 === 120L && rows(4L)._2 === 128L &&
      rows(4L)._3 === 4L && rows(4L)._4 === 32L, rows.toString)
    assert(rows(16L)._3 === 16L && rows(16L)._4 === 8L, rows.toString)
    assert(rows(4L)._5 >= rows(8L)._5 && rows(8L)._5 >= rows(16L)._5,
      s"mse must be non-increasing in m: $rows")
    assert(rows(4L)._5 > 0L, rows.toString)
    // 16 grid-valued vectors with ks=16: every subvector IS an init
    // centroid in its subspace, so assignment is dist-0, the exact
    // integer-sum mean of identical members reproduces the grid value
    // (×2^30 quantization of integers is exact), and the error reads
    // 0 at EVERY m
    val grid = (0 until 16).map { i =>
      (i.toLong, Array.tabulate(16)(j => ((i * 16 + j) % 5).toFloat), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val z = Ann.pqCurve(grid, mList = Seq(4, 8, 16), ks = 16, iters = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(6), r.getLong(7),
        r.getLong(8)))).toMap
    assert(z.values.forall(_ === ((0L, 0L, 0L))),
      s"grid corpus must be exactly representable at every m: $z")
  }

  test("autoBits: the log2(N/30) occupancy rule, floored at 1; lshTopK's default applies it") {
    // the shipped sf0.01 corpus (500 vectors) lands exactly on the
    // measured-best 4, so the default's output is unchanged at the
    // correctness SF; 100× the data moves the setting (the lshCurve's
    // whole point), small corpora floor at 1
    assert(Ann.autoBits(500) === 4)
    assert(Ann.autoBits(5000) === 7)
    assert(Ann.autoBits(120) === 2)
    assert(Ann.autoBits(30) === 1 && Ann.autoBits(1) === 1)
    // the default call IS the explicit autoBits(count) call
    val d = Ann.lshTopK(corpus, nQueries = 6, k = 5, tables = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val e = Ann.lshTopK(corpus, nQueries = 6, k = 5,
      bits = Ann.autoBits(120), tables = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(d === e)
  }

  test("nprobeCurve: recall monotone in nprobe, full probe reads exactly 1e6 and scans the corpus") {
    val rows = Ann.nprobeCurve(corpus, nQueries = 6, k = 5,
      nlist = 6, iters = 2, nprobes = Seq(1, 3, 6)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))).toMap
    assert(rows.keySet === Set(1L, 3L, 6L))
    // truth is nQueries × k = 30 on this corpus
    assert(rows.values.forall(_._3 === 30L))
    // recall and scan cost are monotone in nprobe
    assert(rows(1L)._4 <= rows(3L)._4 && rows(3L)._4 <= rows(6L)._4)
    assert(rows(1L)._1 < rows(3L)._1 && rows(3L)._1 < rows(6L)._1)
    // nprobe = nlist scans every non-self vector and recovers exact search
    assert(rows(6L)._4 === 1000000L)
    assert(rows(6L)._1 === 6L * 119L)
  }

  test("nlistCurve: full probe fraction recovers exact search at every nlist; train_pairs is the Lloyd evaluation count") {
    // probeFrac = 1 → nprobe = nlist for every setting → every row
    // must read recall 1e6 (the index knob cannot lose what a full
    // probe rescues) and scan every non-self vector
    val rows = Ann.nlistCurve(corpus, nQueries = 6, k = 5,
      nlists = Seq(2, 4), iters = 2, probeFrac = 1.0).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(7), r.getLong(8)))).toMap
    assert(rows.keySet === Set(2L, 4L))
    for ((nl, (np, nTrain, pairs, scanned, nTruth, recall)) <- rows) {
      assert(np === nl, "probeFrac 1 probes every cell")
      assert(pairs === nTrain * nl * 2L,
        "train_pairs = sample × nlist × iters exactly")
      assert(scanned === 6L * 119L, "full probe scans every non-self vector")
      assert(nTruth === 30L)
      assert(recall === 1000000L, s"nlist=$nl full-probe recall")
    }
    // training cost grows linearly with nlist at fixed sample/iters
    assert(rows(4L)._3 === 2L * rows(2L)._3)
  }

  test("rerankCurve: recall and float reads monotone in depth; corpus-deep rerank IS exact search") {
    val rows = Ann.rerankCurve(corpus, nQueries = 6, k = 5,
      reranks = Seq(8, 32, 119)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))).toMap
    assert(rows.keySet === Set(8L, 32L, 119L))
    // truth is nQueries × k = 30 on this corpus
    assert(rows.values.forall(_._3 === 30L))
    // float reads are MEASURED: min(depth, N−1) per query
    assert(rows(8L)._1 === 6L * 8L)
    assert(rows(32L)._1 === 6L * 32L)
    assert(rows(119L)._1 === 6L * 119L)
    // recall is monotone in depth (prefix candidate sets)
    assert(rows(8L)._4 <= rows(32L)._4 && rows(32L)._4 <= rows(119L)._4)
    // depth >= corpus−1 makes the Hamming prefilter vacuous: the
    // re-score IS brute force, recall exactly 1e6...
    assert(rows(119L)._4 === 1000000L)
    // ...and binaryTopK at that depth returns cosineTopK verbatim
    val ex = Ann.cosineTopK(corpus, nQueries = 6, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bt = Ann.binaryTopK(corpus, nQueries = 6, k = 5, rerank = 119)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bt === ex, "full-depth binary rerank must equal exact search")
  }

  test("lshCurve: candidates shrink as bits grow; the default-setting row agrees with lshTopK's own hits") {
    val rows = Ann.lshCurve(corpus, nQueries = 6, k = 5,
      bitsList = Seq(1, 4, 8), tables = 16).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6)))).toMap
    assert(rows.keySet === Set(1L, 4L, 8L))
    assert(rows.values.forall(_._3 === 30L))
    // finer buckets emit fewer candidate pairs — the knob's cost side
    assert(rows(1L)._1 > rows(4L)._1 && rows(4L)._1 >= rows(8L)._1,
      rows.toString)
    // ...and recall degrades with them at the coarse->fine extremes
    assert(rows(1L)._4 >= rows(8L)._4, rows.toString)
    // 1 bit x 16 tables on a 120-vector corpus: buckets of ~60, the
    // candidate set is near-total and recall with it
    assert(rows(1L)._4 >= 800000L, rows.toString)
    // the curve's (bits=4, tables=16) row counts exactly the hits the
    // standalone lshTopK search scores against the same exact truth
    val ex = Ann.cosineTopK(corpus, nQueries = 6, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Ann.lshTopK(corpus, nQueries = 6, k = 5, bits = 4,
      tables = 16).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(rows(4L)._2 === (ex intersect lsh).size.toLong, rows.toString)
  }

  test("recall on the shipped sf0.01 embeddings (real distribution, default sizing)") {
    // the synthetic 6-cluster corpus above validates the mechanism;
    // this pins recall on the ACTUAL embeddings table the driver
    // ships — the distribution the bits/tables and nprobe defaults
    // are sized for (see the sizing note on Ann.lshTopK)
    val path = "/root/testdata/sf0.01/embeddings.parquet"
    assume(new java.io.File(path).exists(), s"$path not present")
    val emb = spark.read.parquet(path)
    val exact = Ann.cosineTopK(emb, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Ann.lshTopK(emb, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Ann.ivfTopK(emb, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val sq8 = Ann.quantizedTopK(emb, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lshRecall = (exact intersect lsh).size.toDouble / exact.size
    val ivfRecall = (exact intersect ivf).size.toDouble / exact.size
    val sq8Recall = (exact intersect sq8).size.toDouble / exact.size
    info(s"sf0.01 recall@5: lsh=$lshRecall ivf=$ivfRecall sq8=$sq8Recall")
    // int8 quantization barely moves the ranking (measured 0.98)
    assert(sq8Recall >= 0.9, s"sq8 recall=$sq8Recall")
    // measured: lsh=0.90, ivf=0.42 (near-random labels make IVF hover
    // just above its nprobe/nlist=0.3 floor — expected, see ivfTopK doc)
    assert(lshRecall >= 0.8, s"lsh recall=$lshRecall")
    assert(ivfRecall >= 0.35, s"ivf recall=$ivfRecall")
  }

  test("PQ top-k recall vs brute force on the planted clusters and on real embeddings") {
    // clustered corpus (16 dims → 4 subspaces of 4): codebooks learn
    // the cluster structure, so the coarse ADC ranking keeps most of
    // the exact top-5
    val exact = Ann.cosineTopK(corpus, nQueries = 6, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Ann.pqTopK(corpus, nQueries = 6, k = 5,
      m = 4, nlist = 8, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"pq recall=$recall")
    // top-1 of every query still lands in the query's cluster: 64×
    // compression must not break the coarse structure
    val top1 = Ann.pqTopK(corpus, nQueries = 6, k = 5, m = 4).collect()
      .filter(_.getLong(1) == 1L).map(r => (r.getLong(0), r.getLong(2)))
    top1.foreach { case (q, n) =>
      assert(n % 6 === q % 6, s"query $q pq-top-1 $n crossed clusters")
    }
    val path = "/root/testdata/sf0.01/embeddings.parquet"
    assume(new java.io.File(path).exists(), s"$path not present")
    val emb = spark.read.parquet(path)
    val exactR = Ann.cosineTopK(emb, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pqR = Ann.pqTopK(emb, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recallR = (exactR intersect pqR).size.toDouble / exactR.size
    info(s"sf0.01 pq recall@5 = $recallR")
    // 64 dims → 4 bytes is a 64× compression; on the near-random
    // shipped embeddings the ADC ranking keeps a usable fraction of
    // the exact top-5 (well above the 5/499 random floor ~0.01)
    assert(recallR >= 0.2, s"pq recall=$recallR")
  }

  test("IVF-PQ keeps coarse structure: top-1 in-cluster, recall above probe floor") {
    val exact = Ann.cosineTopK(corpus, nQueries = 6, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfpq = Ann.ivfPqTopK(corpus, nQueries = 6, k = 5,
      nlist = 6, iters = 2, nprobe = 3, m = 4, pqNlist = 8, pqIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // both reductions stacked (3/6 cells probed, 4-byte codes): the
    // planted-cluster corpus still keeps most of the exact top-5
    val recall = (exact intersect ivfpq.map(t => (t._1, t._3)).toSet)
      .size.toDouble / exact.size
    assert(recall >= 0.5, s"ivfpq recall=$recall")
    ivfpq.filter(_._2 == 1L).foreach { case (q, _, n) =>
      assert(n % 6 === q % 6, s"query $q ivfpq-top-1 $n crossed clusters")
    }
  }

  test("int8 quantization: reconstruction within half a step, zero vector safe") {
    val withZero = corpus.unionByName(
      Seq((500L, Array.fill(16)(0.0f), 0)).toDF("vec_id", "embedding", "label"))
    val q = Ann.quantizeInt8(withZero).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    // every code is a valid int8 and reconstructs within scale/2
    val orig = withZero.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    q.foreach { case (id, pos, code, scale) =>
      assert(code >= -127 && code <= 127, s"code $code out of int8 range")
      assert(math.abs(orig(id)(pos) - code * scale) <= scale / 2 + 1e-12,
        s"vec $id pos $pos reconstructs poorly")
    }
    assert(q.filter(_._1 == 500L).forall(r => r._3 === 0 && r._4 === 0.0))
  }

  test("cosine pairs: blocked variant finds the same high-sim pairs as exact") {
    val exact = Ann.cosinePairs(corpus, theta = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    exact.foreach { case (a, b) => assert(a % 6 === b % 6) }
  }

  test("filteredTopK: excluded vectors never appear; allowing everything equals exact search") {
    val all = corpus.select(col("vec_id"))
    val full = Ann.filteredTopK(corpus, all, nQueries = 6, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val exact = Ann.cosineTopK(corpus, nQueries = 6, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(full === exact, "allow-all filter must equal brute force")
    // restrict to even ids: every neighbor is even, and the top-5 are
    // the exact ranking of the even sub-corpus
    val even = corpus.where(col("vec_id") % 2 === 0).select(col("vec_id"))
    val filt = Ann.filteredTopK(corpus, even, nQueries = 6, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(filt.nonEmpty)
    filt.foreach { case (_, n) => assert(n % 2 === 0, s"odd neighbor $n leaked") }
  }

  test("hybridTopK: a doc in both rank lists outranks docs in only one") {
    import org.apache.spark.sql.functions.lit
    // docs: id 7 contains all three query terms (lexical hit); the
    // embedding corpus makes same-cluster docs the dense hits
    val docs = (0 until 120).map { i =>
      val text = if (i == 7) "table spark query " * 5 + s"w$i"
                 else s"alpha$i beta$i gamma$i delta$i"
      (i.toLong, text.trim)
    }.toDF("doc_id", "text")
    val out = Ann.hybridTopK(corpus, docs, Seq("table", "spark", "query"),
      nQueries = 6, k = 5, depth = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 30)
    // doc 7 is the only lexical hit; for query 1 (same cluster as 7:
    // 7 % 6 == 1) doc 7 carries BOTH a dense and the lexical rank, so
    // it must rank top-1 — fusion beats either list alone
    val q1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(q1.head._3 === 7L, s"query 1 fused top-1: ${q1.toSeq}")
    // for a query in another cluster, doc 7 still enters via the
    // lexical list (RRF unions the lists)
    val q0 = out.filter(_._1 == 0L).map(_._3)
    assert(q0.contains(7L), s"lexical-only doc missing from fusion: ${q0.toSeq}")
  }

  test("binary top-k: Hamming prefilter + rerank recovers exact search when rerank covers the corpus") {
    // with rerank >= corpus size the Hamming phase filters nothing, so
    // the exact float rerank must reproduce brute force EXACTLY
    val exact = Ann.cosineTopK(corpus, nQueries = 6, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val full = Ann.binaryTopK(corpus, nQueries = 6, k = 5, rerank = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(full === exact, "rerank >= N must equal brute force")
    // a tight rerank budget (sign bits of the planted clusters carry
    // the structure) still keeps high recall and in-cluster top-1
    val tight = Ann.binaryTopK(corpus, nQueries = 6, k = 5, rerank = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val recall = (exact.map(t => (t._1, t._3)).toSet intersect
      tight.map(t => (t._1, t._3)).toSet).size.toDouble / exact.size
    assert(recall >= 0.6, s"binary recall=$recall")
    tight.filter(_._2 == 1L).foreach { case (q, _, n) =>
      assert(n % 6 === q % 6, s"query $q binary-top-1 $n crossed clusters")
    }
    // 16 dims → one 16-bit word: every packed signature fits the width
    val path = "/root/testdata/sf0.01/embeddings.parquet"
    assume(new java.io.File(path).exists(), s"$path not present")
    val emb = spark.read.parquet(path)
    val exactR = Ann.cosineTopK(emb, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val binR = Ann.binaryTopK(emb, nQueries = 10, k = 5, rerank = 50)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recallR = (exactR intersect binR).size.toDouble / exactR.size
    info(s"sf0.01 binary recall@5 = $recallR")
    // near-random 64-dim corpus, 50/499 candidates: sign-bit Hamming
    // correlates with cosine, far above the ~0.1 random-candidate floor
    assert(recallR >= 0.3, s"binary recall=$recallR")
  }

  test("PCA: recovers the dominant axis, projections carry it, verdicts hold") {
    import graft.llm.Pca
    // 50 vectors living on two axes of a 64-dim space: dim 0 spread
    // ±25 (variance ~217), dim 1 spread ±1 — the top PC must be ±e0
    val rows = (0 until 50).map { i =>
      val v = new Array[Float](64)
      v(0) = (i - 25).toFloat
      v(1) = (i % 3 - 1).toFloat
      (i.toLong, v, 0L)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val (n, evals, evecs) = Pca.eigenBasis(df, dim = 64, k = 3)
    assert(n === 50L)
    assert(math.abs(evecs(0)(0)) > 0.999,
      s"top PC must align with e0: ${evecs(0).take(4).toSeq}")
    assert(evals(0) > evals(1) && evals(1) >= evals(2) - 1e-9, evals.toSeq.toString)
    // projections: the first component carries the dim-0 spread
    val pc = Pca.project(df, dim = 64, k = 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val c0 = pc(0L).head   // vec with v(0) = -25
    val c49 = pc(49L).head // vec with v(0) = +24
    assert(math.abs(c0 - c49) > 40.0, s"pc1 span: $c0 vs $c49")
    // verdict entry: booleans true, 64 exact per-dim rows
    val verdict = Pca.varianceWithVerdict(df, dim = 64, k = 3).collect()
    assert(verdict.length === 64)
    assert(verdict.forall(_.getBoolean(3)), "pca_ok must hold")
    // dim 2..63 are constant zero -> var_num 0; dim 0 dominates
    val byDim = verdict.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(byDim(2L) === 0L && byDim(63L) === 0L)
    assert(byDim(0L) > byDim(1L) && byDim(1L) > 0L)
  }

  test("SAX: identity banding on a full-range series; PAA mean banded without fractions") {
    // one point per bucket, vals 0..7, span 8 with alphabet 8 -> sym = val
    val a = (0 until 8).map(i => ("a", i * 3600L, i.toLong, i.toLong))
    // one 2-point bucket: {0, 7} -> PAA 3.5 -> band 3
    val b = Seq(("b", 0L, 100L, 0L), ("b", 10L, 101L, 7L),
      ("b", 3600L, 102L, 0L)) // second bucket pins vmin
    val out = graft.engine.Sax.symbolize(
      (a ++ b).toDF("series", "ts", "pid", "val"),
      bucket = 3600L, alphabet = 8).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    (0 until 8).foreach(i => assert(out(("a", i.toLong)) === i.toLong))
    assert(out(("b", 0L)) === 3L, s"PAA 3.5 bands to 3: $out")
    assert(out(("b", 1L)) === 0L)
  }

  test("embedDrift: a shifted dimension reads the exact Welch z; a constant one reads NULL") {
    // ids 0..9 → halves {0..4} / {5..9}; dim 0 jitters 0/1 and jumps
    // +10 in the second half, dim 1 is constant (no variance → NULL)
    val emb = (0 until 10).map { i =>
      (i.toLong, Array((i % 2).toFloat + (if (i > 4) 10f else 0f), 7f))
    }.toDF("vec_id", "embedding")
    val out = Ann.embedDrift(emb).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // scalar replay of the exact quantized-moment Welch formula
    def mom(vs: Seq[Long]) = (vs.size.toLong, vs.sum, vs.map(q => q * q).sum)
    val (n0, s10, s20) = mom(Seq(0L, 1L, 0L, 1L, 0L).map(_ * 1000000L))
    val (n1, s11, s21) = mom(Seq(11L, 10L, 11L, 10L, 11L).map(_ * 1000000L))
    val v0 = (s20.toDouble / n0 - (s10.toDouble / n0) * (s10.toDouble / n0)) / n0
    val v1 = (s21.toDouble / n1 - (s11.toDouble / n1) * (s11.toDouble / n1)) / n1
    val z = (s11.toDouble / n1 - s10.toDouble / n0) / math.sqrt(v0 + v1)
    assert(out(0L) === ((5L, 5L, Some(math.floor(z * 1e6).toLong))), out.toString)
    assert(out(1L) === ((5L, 5L, None)), "constant dim has no variance")
  }

  test("graft_dist2 equals the zip_with squared-L2 fold bit-for-bit; NULL on mismatched dimensions") {
    val df = Seq(
      (Array(1.0, 2.5, -3.0), Array(4.0, -5.5, 6.25)), // matched
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0))          // malformed: NULL
    ).toDF("a", "b")
    val out = df.select(
      expr("graft_dist2(a, b)").as("d2"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)")
        .as("hof")).collect()
    assert(java.lang.Double.doubleToLongBits(out(0).getDouble(0)) ===
      java.lang.Double.doubleToLongBits(out(0).getDouble(1)),
      "native kernel must reproduce the HOF's sequential fold exactly")
    assert(out(1).isNullAt(0), "graft_dist2 must not truncate to the shorter array")
    assert(out(1).isNullAt(1)) // the documented-equivalent HOF agrees
  }

  test("graft_norm2 equals the self-dot fold bit-for-bit") {
    val df = Seq((Array(1.5, -2.25, 3.0, 0.125), 0)).toDF("a", "i")
    val out = df.select(
      expr("graft_norm2(a)").as("n2"),
      expr("aggregate(a, 0D, (acc, x) -> acc + x * x)").as("hof"),
      expr("graft_dot(a, a)").as("dd")).collect()(0)
    assert(java.lang.Double.doubleToLongBits(out.getDouble(0)) ===
      java.lang.Double.doubleToLongBits(out.getDouble(1)))
    assert(java.lang.Double.doubleToLongBits(out.getDouble(0)) ===
      java.lang.Double.doubleToLongBits(out.getDouble(2)))
  }

  test("graft_dist2 and graft_norm2 are NULL on a null element, like the HOF folds, interpreted and compiled") {
    // the arrays come from a column, so every expression is evaluated
    // per row rather than constant-folded; row 0's `a` holds a null
    val df = spark.range(2).select(
      when(col("id") === 0, expr("array(1.0D, CAST(NULL AS DOUBLE), 2.0D)"))
        .otherwise(expr("array(1.5D, -2.0D, 0.5D)")).as("a"),
      expr("array(4.0D, 5.0D, 6.0D)").as("b"))
    val dist = "aggregate(zip_with(%s, %s, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
    val pairs = Seq(
      "graft_dist2(a, b)" -> dist.format("a", "b"),
      "graft_dist2(b, a)" -> dist.format("b", "a"),
      "graft_norm2(a)" -> "aggregate(a, 0D, (acc, x) -> acc + x * x)",
      "graft_dot(a, b)" -> "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)",
      "graft_dot(b, a)" -> "aggregate(zip_with(b, a, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
    def check(mode: String): Unit = {
      val rows = df.select(pairs.flatMap { case (k, h) => Seq(expr(k), expr(h)) }: _*)
        .collect()
      pairs.indices.foreach { p =>
        assert(rows(0).isNullAt(2 * p + 1), s"${pairs(p)._2} ($mode)")
        assert(rows(0).isNullAt(2 * p), s"${pairs(p)._1} must be NULL ($mode)")
        assert(java.lang.Double.doubleToLongBits(rows(1).getDouble(2 * p)) ===
          java.lang.Double.doubleToLongBits(rows(1).getDouble(2 * p + 1)),
          s"${pairs(p)._1} ($mode)")
      }
    }
    check("codegen")
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try check("interpreted")
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("coarseAssign: compiled and join forms agree; an over-budget codebook dispatches to the join shape and still assigns correctly") {
    val e = Ann.withNorm(corpus)
    // trained in-budget codebook: the two forms must agree cell-for-cell
    val cent = Ann.trainCentroids(corpus, nlist = 6, iters = 2)
      .localCheckpoint(true)
    val cents = cent.select(col("cell"), col("cv"), col("cnrm")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    def cellsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    val compiled = cellsOf(Ann.coarseAssignCompiled(e, cents))
    val joined = cellsOf(Ann.coarseAssignJoin(e, cent))
    assert(compiled === joined)
    assert(compiled.size === 120)
    // synthetic 300-cell × 16-dim codebook (4800 literals > the 4096
    // budget): the dispatcher must take the join shape — and its
    // assignment must still match the compiled form's output
    assert(300 * 16 > Ann.compiledAssignBudget)
    val bigRows = (0 until 300).map { c =>
      val cv = Array.tabulate(16)(d =>
        (((c * 13 + d * 7) % 29) - 14) / 10.0 + (if (d % 6 == c % 6) 1.0 else 0.0))
      (c, cv, math.sqrt(cv.map(x => x * x).sum))
    }
    val bigCent = bigRows.toDF("cell", "cv", "cnrm")
    val viaDispatch = Ann.coarseAssign(e, bigCent)
    assert(viaDispatch.queryExecution.analyzed.toString.contains("max_by"),
      "over-budget codebook must keep the broadcast-join + max_by shape")
    val bigCents = bigRows.map { case (c, cv, n) => (c, cv.toSeq, n) }.toArray
    assert(cellsOf(viaDispatch) === cellsOf(Ann.coarseAssignCompiled(e, bigCents)))
  }

  test("pqAssign: one broadcast-join + min_by form, ties to the lowest cid") {
    // synthetic subvector stream (2 subs × 8 dims) with an EXACT-tie
    // vector: cells 0 and 1 of sub 0 are equidistant from it
    val sv = Seq(
      (0L, 1.0, 0, Array(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
      (0L, 1.0, 1, Array(0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
      (1L, 1.0, 0, Array(0.5, 0.5, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)), // tie: cid 0 vs 1
      (1L, 1.0, 1, Array(0.0, 0.0, 0.5, 0.0, 0.0, 0.0, 0.0, 0.0)),
      (2L, 1.0, 0, Array(-1.0, 0.25, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
      (2L, 1.0, 1, Array(0.0, 0.0, 0.0, 0.75, 0.0, 0.0, 0.0, 0.0))
    ).toDF("vec_id", "nrm", "sub", "sv")
    val bk = Seq(
      (0, 0, Array(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
      (0, 1, Array(0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
      (1, 0, Array(0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
      (1, 1, Array(0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0))
    ).toDF("sub", "cid", "cv")
    val codes = Ann.pqAssign(sv, bk).select(col("vec_id"), col("sub"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // nearest cells by hand; (0, 1) and the planted (1, 0) are exact
    // ties and resolve to the LOWEST cid
    assert(codes === Set((0L, 0, 0), (0L, 1, 0), (1L, 0, 0), (1L, 1, 0),
      (2L, 0, 1), (2L, 1, 1)))
    // the operator ships the broadcast-join + min_by shape
    assert(Ann.pqAssign(sv, bk).queryExecution.analyzed.toString
      .contains("min_by"),
      "pqAssign must keep the broadcast-join + min_by shape")
  }
}
