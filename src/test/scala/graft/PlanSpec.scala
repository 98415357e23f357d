package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Pipeline, SeriesStore}
import graft.engine.Pipeline._
import graft.llm.Ann
import graft.parser.{EngineEnv, Planner}

/** Physical-plan audits: the properties that keep these operators
  * viable at 100 TB are pinned here so a refactor cannot silently
  * reintroduce a full scan, a lost pushdown, or a single-task sort.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("time-range filters reach the parquet scan as pushed filters") {
    val df = Pipeline(SeriesStore.pointsF(spark, dir),
      Seq(TimeRange(Some(1705000000L), Some(1706000000L))))
    df.collect()
    val p = plan(df)
    // the ts predicate appears in PushedFilters on the events scan
    assert(p.contains("PushedFilters") &&
      p.replaceAll("\\s", "").contains("GreaterThanOrEqual(ts"), p)
  }

  test("parquet aggregate pushdown: bare min/max/count over a NaN double column answer as with it off") {
    // parquet keeps no min/max for a double chunk whose stats hold NaN,
    // so a footer-answered min/max would have nothing to read
    val out = java.nio.file.Files.createTempDirectory("graft-aggpush").toString +
      "/nan.parquet"
    import spark.implicits._
    Seq(Double.NaN, 1.5, -2.0, 3.25).toDF("v").coalesce(1).write.parquet(out)
    val key = "spark.sql.parquet.aggregatePushdown"
    assert(spark.conf.get(key) === "true")
    def agg = spark.read.parquet(out).agg(min("v"), max("v"), count(lit(1)))
    def answer(): Seq[String] = agg.collect().head.toSeq.map(String.valueOf)
    val session = answer()
    spark.conf.set(key, "false")
    val off = try answer() finally spark.conf.set(key, "true")
    assert(session === off)
    assert(session === Seq("-2.0", "NaN", "4"))
    // the setting reaches DataSource V2 parquet scans only: the
    // session reads parquet through V1, which pushes no aggregate
    assert(!agg.queryExecution.sparkPlan.toString.contains("PushedAggregation"))
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try assert(agg.queryExecution.sparkPlan.toString.contains("PushedAggregation"))
    finally spark.conf.unset("spark.sql.sources.useV1SourceList")
  }

  test("column pruning: a two-column projection reads a narrow schema") {
    val df = SeriesStore.pointsF(spark, dir).select(col("series"), col("ts"))
    df.collect()
    val p = plan(df)
    // the scan's ReadSchema must not include the unused props column
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("props"), read)
  }

  test("derived catalog is a driver snapshot: a catalog query scans no parquet") {
    val env = EngineEnv(spark, dir)
    val df = Planner.query("select count() from /^f\\..*/ where length > 10", env)
    df.collect()
    // type dispatch + where-filter both read the collected catalog rows,
    // never a re-aggregated full scan
    assert(plan(df).contains("LocalTableScan"), plan(df))
    assert(!plan(df).contains("FileScan"), plan(df))
  }

  test("a select costs exactly one catalog job (plan types + encode names)") {
    // plan-time type dispatch and encode-time output names both come
    // from ONE memoized (series, type) collect — a second catalog job
    // per select was pure overhead the reference never pays
    def catalogJobs(env: EngineEnv, q: String): Int = {
      val jobs = SparkTestSession.jobsOf {
        val stmt = graft.parser.QueryParser.parse(q, 1706000000L)
          .asInstanceOf[graft.parser.SelectStmt]
        Planner.run(stmt, env)            // plan: type dispatch
        Planner.selectNames(stmt, env)    // encode: output names
      }
      Planner.drainQueryCaches()
      jobs
    }
    val env = EngineEnv(spark, dir)
    // warm the catalog snapshot + parquet footers outside the count
    Planner.query("select count() from /^f\\..*/", env).collect()
    Planner.drainQueryCaches()
    // the parquet-demo catalog is a driver snapshot too: plan types and
    // encode names read its rows and start no job
    assert(catalogJobs(env, "select sum(3600) from /^f\\..*/") === 0,
      "a warm parquet-demo select must not run a catalog job")
    // a server's ranged select: the shard-pruned frames reuse the
    // store view's catalog instead of re-reading catalog.parquet
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft-one-cat").toString
    graft.streaming.Ingest.appendBatch((0 until 40).map(i =>
      graft.streaming.Ingest.PointIn(s"f.s${i % 4}", i * 20000L, i.toDouble,
        "float", i.toLong)).toDF(), store, shardDuration = 86400L)
    val apiEnv = new graft.server.ApiCore(spark, store).env("iris")
    Planner.query("select sum(3600) from /^f\\..*/ between 0 and 90000",
      apiEnv).collect()
    Planner.drainQueryCaches()
    // an Ingest store's catalog is a driver snapshot: once loaded, a
    // select's collect runs on the driver and starts no job at all
    assert(catalogJobs(apiEnv,
      "select sum(3600) from /^f\\..*/ between 100000 and 500000") === 0,
      "a warm store view's select must not run a catalog job")
  }

  test("one select loop: a scan cache per family read, tp only when families or types mix") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val env = EngineEnv(spark, dir)
    // (distinct caches, InMemoryRelation reads) in the optimized plan
    def caches(df: DataFrame): (Int, Int) = {
      val rels = df.queryExecution.optimizedPlan.collect {
        case r: InMemoryRelation => r.cacheBuilder
      }
      (rels.distinct.size, rels.size)
    }
    try {
      // a two-chain mixed select reads all three families: one cached
      // scan per family, read once by each chain; its rows are tagged
      // even though every chain outputs a count
      val mixed = Planner.query(
        """select count(1d) prefix "d-", count(1h) prefix "h-" from /.*/""", env)
      assert(caches(mixed) === (3, 6), mixed.queryExecution.optimizedPlan)
      assert(mixed.columns.contains("tp"))
      assert(mixed.schema("val").dataType === StringType)
      // a single-family select: one shared scan, no tp column, and the
      // family's own value type
      Seq("i" -> LongType, "f" -> DoubleType, "s" -> StringType).foreach {
        case (fam, valType) =>
          val one = Planner.query(
            s"""select first(1d) prefix "a-", last(1d) prefix "b-" from /^$fam\\..*/""", env)
          assert(caches(one) === (1, 2), one.queryExecution.optimizedPlan)
          assert(!one.columns.contains("tp"), one.columns.toSeq)
          assert(one.schema("val").dataType === valType, fam)
      }
    } finally Planner.drainQueryCaches()
  }

  test("ANN top-k has no global per-query sort of the scored corpus") {
    val df = Ann.cosineTopK(graft.core.Tables.embeddings(spark, dir),
      nQueries = 5, k = 3)
    df.collect()
    val p = plan(df)
    // scoring runs through the native codegen'd expression, not a
    // Scala UDF (per-row boxing + optimizer black box)
    assert(p.contains("graft_dot"), "native dot expression missing")
    assert(!p.contains("ScalaUDF"), "scoring fell back to a Scala UDF")
    // phase 1 aggregates narrow structs; the only window runs over the
    // <= k*P merged survivors, after an exchange keyed on query_id of
    // aggregated (not raw-scored) rows
    assert(p.contains("HashAggregate"), p)
    // the raw scored rows (with embedding arrays) never hit a sort:
    // every Sort in the plan sits above the explode of the k-bounded
    // local tops
    val sortsBeforeAgg = p.linesIterator.takeWhile(!_.contains("HashAggregate"))
      .count(_.trim.startsWith("+- Sort"))
    assert(sortsBeforeAgg === 0, p)
  }

  test("k-means training lineage stays flat; greedy limit has no window") {
    // each Lloyd round localCheckpoints its nlist-row centroid table —
    // without that the iteration plan re-derives every previous
    // round's assignment chain (measured: 40 shuffle exchanges for 2
    // rounds vs 10 checkpointed)
    val km = Ann.kmeansIvfTopK(graft.core.Tables.embeddings(spark, dir),
      nQueries = 5, k = 3, nlist = 4, iters = 2)
    km.collect()
    val shuffles = "Exchange hashpartitioning".r
      .findAllIn(plan(km)).size
    assert(shuffles <= 15, s"kmeans lineage blew up: $shuffles shuffles")
    // the greedy limit label pass is a sorted mapPartitions scan, not
    // a per-series window (which would re-sort on a second exchange)
    val lim = Pipeline(SeriesStore.pointsF(spark, dir),
      Seq(Pipeline.LimitFn(50, Pipeline.Mean)))
    lim.collect()
    assert(!plan(lim).contains("Window"), "greedy limit must not use a window")
  }

  test("bare count()/first() selects read zero point files on an Ingest store") {
    // (parquet-derived path is covered by the catalog-cache test; the
    // Ingest path must not even list the points directory — pinned in
    // IngestSpec; here we pin the catalog-only shape end-to-end)
    val env = EngineEnv(spark, dir)
    val df = Planner.query("select count() from /^i\\..*/", env)
    val p = df.queryExecution.optimizedPlan.toString
    // the skip path never references the val column of the points
    assert(!p.contains("val#") || !p.contains("pointsI"), p)
  }

  test("coarse selects answer from the standing rollup: zero point files read") {
    val sdir = java.nio.file.Files.createTempDirectory("graft-rollup").toString
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val api = new graft.server.ApiCore(spark, sdir)
    val node = mapper.createObjectNode()
    Seq("a", "b").foreach { name =>
      val arr = node.putArray(name)
      (0 until 50).foreach { i =>
        val p = arr.addArray(); p.add(1700000000L + i * 30L); p.add(i / 7.0)
      }
    }
    api.runInsert(node, "iris")
    // provision the standing rollup at 60 s (the fromPoints backfill —
    // a live store would keep it current with Rollup.startBucketed)
    val pts = graft.streaming.Ingest.points(spark, sdir)
      .select(col("series"), col("ts"), col("val"))
    graft.streaming.Rollup.fromPoints(pts, 60L)
      .write.parquet(s"$sdir/rollup/60")
    val env = api.env("iris")
    val served = Planner.query("select count(2m) from /.*/", env)
    val files = served.inputFiles.toSeq.filter(_.contains("/points/"))
    assert(files.isEmpty,
      s"rollup-eligible select touched raw point files: ${files.take(3)}")
    assert(served.inputFiles.exists(_.contains("/rollup/")),
      "select did not read the rollup at all")
    // and the served answer equals the raw-scan answer exactly
    val rawEnv = env.copy(rollup = None)
    val raw = Planner.query("select count(2m) from /.*/", rawEnv)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = served.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === raw)
    // ineligible shapes (mean; non-multiple width; ranged) stay on raw
    val mean = Planner.query("select mean(2m) from /.*/", env)
    assert(mean.inputFiles.exists(_.contains("/points/")),
      mean.inputFiles.take(3).toSeq)
    Planner.drainQueryCaches()
  }

  test("contamination broadcasts the probe side; packBins has no global sort") {
    import spark.implicits._
    val docs = (0L until 64L).map(i => (i, s"w$i x$i y$i z$i")).toDF("doc_id", "text")
    val cont = graft.llm.Dedup.contamination(docs, Seq("w1 x1 y1 z1"))
    cont.collect()
    val cp = plan(cont)
    // the probe (benchmark) side is broadcast — the corpus never
    // shuffles for the match, only for the per-doc aggregate
    assert(cp.contains("BroadcastHashJoin"), cp)
    val bins = graft.llm.TextStats.packBins(docs, contextLen = 8, streams = 4)
    bins.collect()
    val bp = plan(bins)
    // the packing window hash-partitions on the stream — never a
    // global range sort of the corpus
    assert(bp.contains("hashpartitioning(stream"), bp)
    assert(!bp.contains("rangepartitioning"), bp)
    // the efficiency report rides the SAME stream exchange: its
    // second window and the per-stream aggregation both require
    // hashpartitioning(stream), which the packBins window already
    // established — one shuffle total, never a re-exchange
    val eff = graft.llm.TextStats.packEfficiency(docs, contextLen = 8,
      streams = 4)
    eff.collect()
    // count the FINAL AQE plan only — executedPlan.toString repeats
    // the pre-AQE Initial Plan below it, double-counting exchanges
    val ep = plan(eff).split("== Initial Plan ==").head
    val effShuffles = "Exchange hashpartitioning".r.findAllIn(ep).size
    assert(effShuffles == 1, s"packEfficiency re-exchanged: $effShuffles\n$ep")
    assert(!ep.contains("rangepartitioning"), ep)
  }

  test("fidelityReport rides the series exchange; quantDistortion's lineage stays bounded") {
    import spark.implicits._
    def shuffles(df: DataFrame): Int = {
      df.collect()
      "Exchange hashpartitioning".r
        .findAllIn(plan(df).split("== Initial Plan ==").head).size
    }
    // the LTOB window, both LOCF bracket windows, the per-series agg
    // and the kept-count join all require hashpartitioning(series):
    // a handful of exchanges over the union's two branches, never a
    // rangepartitioning (no global sort) and never a per-point join
    val pts = (0L until 256L).map(i =>
      ("s" + (i % 4), i, math.sin(i.toDouble), i)).toDF("series", "ts", "val", "pid")
    val fid = graft.engine.Downsample.fidelityReport(pts, bucket = 16L)
    val fidShuffles = shuffles(fid) // collects once, plan is then final
    val fp = plan(fid).split("== Initial Plan ==").head
    assert(!fp.contains("rangepartitioning"), fp)
    assert(fidShuffles <= 6, s"fidelity re-exchanged: $fidShuffles")
    // distortion = one PQ training (localCheckpoint'ed per round) +
    // one broadcast codebook join + 1-row aggs: the same bounded
    // lineage budget the kmeans entries carry
    val emb = graft.core.Tables.embeddings(spark, dir)
    val qd = graft.llm.Ann.quantDistortion(emb, m = 4, nlist = 4, iters = 2)
    assert(shuffles(qd) <= 15, s"distortion lineage blew up: ${shuffles(qd)}")
  }

  test("abPower adds no exchange over abTest; nprobeCurve trains once (bounded lineage)") {
    import spark.implicits._
    val ev = (0L until 200L).map(i =>
      (i % 40L, i, if (i % 3 == 0) "buy" else "visit"))
      .toDF("user_id", "ts", "event_type")
    def shuffles(df: DataFrame): Int = {
      df.collect()
      // final AQE plan only (toString repeats the Initial Plan)
      "Exchange hashpartitioning".r
        .findAllIn(plan(df).split("== Initial Plan ==").head).size
    }
    // the power columns are a projection on abTest's goal-sized
    // output — same aggregation plan, zero added exchanges
    assert(shuffles(graft.engine.UserStats.abPower(ev)) ==
      shuffles(graft.engine.UserStats.abTest(ev)))
    // the curve varies only the search-time knob: the quantizer
    // trains ONCE (localCheckpoint'ed centroids), the exact truth is
    // checkpointed at nQueries·k rows, so adding probe settings adds
    // only their own probe/topk stages — not another training chain
    val emb = graft.core.Tables.embeddings(spark, dir)
    val one = shuffles(graft.llm.Ann.nprobeCurve(emb, nQueries = 5, k = 3,
      nlist = 4, iters = 2, nprobes = Seq(2)))
    val three = shuffles(graft.llm.Ann.nprobeCurve(emb, nQueries = 5, k = 3,
      nlist = 4, iters = 2, nprobes = Seq(1, 2, 4)))
    // per extra setting: probe-topk's two narrow exchanges + the
    // 1-row stat joins — far below a re-run of training (>= 10)
    assert(three - one <= 2 * 8,
      s"extra nprobe settings must not re-train: $one -> $three")
    // the CONTRAST: nlistCurve's knob is baked into the quantizer,
    // so each extra setting IS expected to bring its own training
    // chain — at least the two Lloyd-round re-center exchanges plus
    // the probe/topk stages (an ABSOLUTE bound: comparing against
    // nprobeCurve's growth is AQE-environment-sensitive and flaked
    // under the full-suite JVM)
    val nOne = shuffles(graft.llm.Ann.nlistCurve(emb, nQueries = 5, k = 3,
      nlists = Seq(2), iters = 2))
    val nTwo = shuffles(graft.llm.Ann.nlistCurve(emb, nQueries = 5, k = 3,
      nlists = Seq(2, 4), iters = 2))
    assert(nTwo - nOne >= 4,
      s"an nlist setting re-trains by design: $nOne -> $nTwo")
    // rerankCurve sits on the nprobeCurve side of the contrast: the
    // signature Hamming scan runs ONCE at max depth (checkpointed
    // ranked candidates), so extra depths add only their own
    // rerank-bounded rescore/topk + 1-row stat stages — never a
    // second signature scan
    val rOne = shuffles(graft.llm.Ann.rerankCurve(emb, nQueries = 5, k = 3,
      reranks = Seq(8)))
    val rThree = shuffles(graft.llm.Ann.rerankCurve(emb, nQueries = 5, k = 3,
      reranks = Seq(4, 8, 16)))
    assert(rThree - rOne <= 2 * 8,
      s"extra rerank depths must not re-scan signatures: $rOne -> $rThree")
    // pqCurve sits on the nlistCurve side: m is baked into the
    // codebook geometry, so each extra setting brings its own Lloyd
    // chain. The chain itself is EAGER-checkpointed (trainPq
    // truncates lineage per round), so the final plan shows each
    // setting's post-training assignment + error-agg exchanges —
    // strictly positive per setting, where the nprobe-side curves
    // share them
    val pOne = shuffles(graft.llm.Ann.pqCurve(emb, mList = Seq(4),
      ks = 4, iters = 2))
    val pTwo = shuffles(graft.llm.Ann.pqCurve(emb, mList = Seq(4, 8),
      ks = 4, iters = 2))
    assert(pTwo - pOne >= 2,
      s"a pq m setting re-assigns and re-aggregates by design: $pOne -> $pTwo")
  }

  test("boilerplateCurve: every threshold rides the ONE df-join pass — extra settings add zero exchanges") {
    import spark.implicits._
    def shuffles(df: DataFrame): Int = {
      df.collect()
      "Exchange hashpartitioning".r
        .findAllIn(plan(df).split("== Initial Plan ==").head).size
    }
    val docs = (0L until 40L)
      .map(i => (i, s"shared header\nbody $i text\nfooter ${i % 2}"))
      .toDF("doc_id", "text")
    val one = shuffles(graft.llm.TextStats.boilerplateCurve(docs,
      thresholds = Seq(2L)))
    val four = shuffles(graft.llm.TextStats.boilerplateCurve(docs,
      thresholds = Seq(2L, 3L, 5L, 10L)))
    assert(four === one,
      s"thresholds are conditional aggregates, not passes: $one -> $four")
  }

  test("temperatureCurve and semanticThetaCurve: the whole setting grid rides one corpus pass — extra settings add zero exchanges") {
    import spark.implicits._
    def shuffles(df: DataFrame): Int = {
      df.collect()
      "Exchange hashpartitioning".r
        .findAllIn(plan(df).split("== Initial Plan ==").head).size
    }
    // temperature: α settings are broadcast threshold rows over the
    // one count frame; the md5 draw is computed once per document and
    // fanned across settings by the broadcast join
    val docs = (0L until 60L).map(i => (i, s"src${i % 3}"))
      .toDF("doc_id", "source")
    val aOne = shuffles(graft.llm.TextStats.temperatureCurve(docs,
      alphas = Seq(0.5)))
    val aFour = shuffles(graft.llm.TextStats.temperatureCurve(docs,
      alphas = Seq(0.3, 0.5, 0.7, 1.0)))
    assert(aFour === aOne,
      s"alphas are broadcast rows, not corpus passes: $aOne -> $aFour")
    // semantic θ: one celled pair pass carries every θ as conditional
    // aggregates, and the audit side's cell-share grading is
    // θ-independent by construction
    val rnd = new scala.util.Random(11)
    val emb = Seq.tabulate(120)(i =>
        (i.toLong, i % 2, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "label", "embedding")
    val tTwo = shuffles(graft.llm.Dedup.semanticThetaCurve(emb,
      thetas = Seq(0.45, 0.9)))
    val tFour = shuffles(graft.llm.Dedup.semanticThetaCurve(emb,
      thetas = Seq(0.45, 0.6, 0.75, 0.9)))
    assert(tFour === tTwo,
      s"thetas are conditional aggregates, not passes: $tTwo -> $tFour")
    // sessionize gap curve: every candidate gap is a conditional
    // aggregate over the one lag pass, and the per-series groupBy
    // rides the window's own series exchange
    val pts = (0L until 120L).map(i => (s"s${i % 4}", i * 37L, i))
      .toDF("series", "ts", "pid")
    val gOne = shuffles(graft.engine.Sessionize.gapCurve(pts,
      gaps = Seq(300L)))
    val gFour = shuffles(graft.engine.Sessionize.gapCurve(pts,
      gaps = Seq(60L, 300L, 900L, 3600L)))
    assert(gFour === gOne,
      s"gaps are conditional aggregates, not passes: $gOne -> $gFour")
  }

  test("lshCurve: each bits setting re-signs the corpus (the nlistCurve side of the contrast)") {
    def shuffles(df: DataFrame): Int = {
      df.collect()
      "Exchange hashpartitioning".r
        .findAllIn(plan(df).split("== Initial Plan ==").head).size
    }
    def signings(df: DataFrame): Int =
      "graft_lsh_sigs".r.findAllIn(plan(df).split("== Initial Plan ==").head).size
    // bits is baked into the signature, so every setting brings its
    // own corpus and query signing, bucket join, pair distinct and
    // exact re-score into the one lazy plan
    val emb = graft.core.Tables.embeddings(spark, dir)
    val one = graft.llm.Ann.lshCurve(emb, nQueries = 5, k = 3,
      bitsList = Seq(4), tables = 4)
    val two = graft.llm.Ann.lshCurve(emb, nQueries = 5, k = 3,
      bitsList = Seq(4, 6), tables = 4)
    val (sOne, sTwo) = (shuffles(one), shuffles(two))
    assert(sTwo - sOne >= 4, s"a bits setting re-buckets by design: $sOne -> $sTwo")
    assert(signings(two) === 2 * signings(one) && signings(one) >= 1,
      s"a bits setting re-signs by design: ${signings(one)} -> ${signings(two)}")
  }

  test("bandCurve: extra band settings add no second shingle or signature pass") {
    import spark.implicits._
    def shuffles(df: DataFrame): Int = {
      df.collect()
      "Exchange hashpartitioning".r
        .findAllIn(plan(df).split("== Initial Plan ==").head).size
    }
    val docs = (0L until 64L)
      .map(i => (i, s"w${i % 8} x${i % 8} y${i % 8} z${i % 8} q$i r${i % 5}"))
      .toDF("doc_id", "text")
    // the shingle pass and the signature aggregation run once, into
    // checkpointed truth and signatures: each setting's lazy rows are
    // only its decile grade over those (one aggregation exchange, at
    // most one join exchange), never shingles or minhashes again
    val one = graft.llm.Dedup.bandCurve(docs, n = 3, numHashes = 128,
      bandsList = Seq(32), theta = 0.3, sampleMod = 1L)
    val three = graft.llm.Dedup.bandCurve(docs, n = 3, numHashes = 128,
      bandsList = Seq(16, 32, 64), theta = 0.3, sampleMod = 1L)
    val (sOne, sThree) = (shuffles(one), shuffles(three))
    assert(sThree - sOne <= 2 * 2,
      s"extra band settings must not re-shingle or re-sign: $sOne -> $sThree")
    val p = plan(three).split("== Initial Plan ==").head
    assert(!p.contains("shingle") && !p.contains("md5"), p)
  }

  test("bucketCurve: extra caps reuse the one checkpointed band-key frame") {
    import spark.implicits._
    def shuffles(df: DataFrame): Int = {
      df.collect()
      "Exchange hashpartitioning".r
        .findAllIn(plan(df).split("== Initial Plan ==").head).size
    }
    val docs = (0L until 64L)
      .map(i => (i, s"w${i % 8} x${i % 8} y${i % 8} z${i % 8} q$i r${i % 5}"))
      .toDF("doc_id", "text")
    // band keys are built once at the fixed `bands` and checkpointed;
    // a cap only filters buckets inside its own candidate checkpoint,
    // so each cap's lazy rows are its decile grade alone: no band-key
    // hashing and no signature slicing in the plan
    val one = graft.llm.Dedup.bucketCurve(docs, n = 3, numHashes = 128,
      bands = 32, caps = Seq(0L), theta = 0.3, sampleMod = 1L)
    val three = graft.llm.Dedup.bucketCurve(docs, n = 3, numHashes = 128,
      bands = 32, caps = Seq(0L, 4L, 16L), theta = 0.3, sampleMod = 1L)
    val (sOne, sThree) = (shuffles(one), shuffles(three))
    assert(sThree - sOne <= 2 * 2,
      s"extra caps must not rebuild band keys: $sOne -> $sThree")
    val p = plan(three).split("== Initial Plan ==").head
    assert(!p.contains("md5") && !p.contains("bkey"), p)
  }

  test("LM-score/BM25/PMI: corpus stats broadcast, no windows, no global sort") {
    import spark.implicits._
    val docs = (0L until 64L)
      .map(i => (i, s"w$i the a x${i % 7} table spark query y$i"))
      .toDF("doc_id", "text")
    val lm = graft.llm.TextStats.lmPerplexity(docs)
    lm.collect()
    val lp = plan(lm)
    // per-doc score is a hash aggregate over an exact integer sum —
    // never a window or a range sort over the pair stream
    assert(!lp.contains("Window"), lp)
    assert(!lp.contains("rangepartitioning"), lp)
    val bm = graft.llm.TextStats.bm25(docs, Seq("table", "spark", "query"))
    bm.collect()
    val bp = plan(bm)
    // the 1-row corpus-stats side joins by broadcast; the documents
    // themselves are scored in a narrow map stage, never shuffled
    assert(bp.contains("BroadcastNestedLoopJoin"), bp)
    assert(!bp.contains("SortMergeJoin"), bp)
    assert(!bp.contains("Window"), bp)
    val pm = graft.llm.TextStats.pmi(docs, minFreq = 1)
    pm.collect()
    val pp = plan(pm)
    assert(!pp.contains("Window"), pp)
    assert(!pp.contains("rangepartitioning"), pp)
  }

  test("tfidf keywords: per-doc window, no global range sort, 1-row size broadcast") {
    import spark.implicits._
    val docs = (0L until 64L)
      .map(i => (i, s"w$i the a x${i % 7} table spark query y$i"))
      .toDF("doc_id", "text")
    val kw = graft.llm.TextStats.tfidfKeywords(docs, k = 3)
    kw.collect()
    val p = plan(kw)
    // the ranking window partitions by doc_id (hash shuffle + local
    // sort); a global range sort over the scored term stream would be
    // the driver-bottleneck anti-shape
    assert(p.contains("Window"), p)
    assert(!p.contains("rangepartitioning"), p)
    // the corpus size is a 1-row broadcast, not a shuffled join side
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("chunking / split stages are narrow; media stages shuffle only ids") {
    import spark.implicits._
    val docs = (0L until 64L)
      .map(i => (i, (0 until 60).map(k => s"t${i}_$k").mkString(" ")))
      .toDF("doc_id", "text")
    for (df <- Seq(
        graft.llm.TextStats.chunkWindows(docs, size = 16, stride = 12),
        graft.llm.TextStats.trainValTestSplit(docs))) {
      df.collect()
      val p = plan(df)
      // per-partition transforms of their input split — an Exchange
      // here would mean the 100 TB pipeline reshuffles payloads it
      // only needed to map over
      assert(!p.contains("Exchange"), p)
    }
    for (df <- Seq(
        graft.llm.Multimodal.decodeMedia(docs).toDF(),
        graft.llm.Multimodal.decodeAudio(docs).toDF(),
        graft.llm.Multimodal.sampleFrames(docs).toDF())) {
      df.collect()
      val p = plan(df)
      // codec stages spread CPU-bound work across cores: the ONLY
      // exchange kind is the round-robin spread of the 8-byte id
      // column — payloads are synthesized/decoded after the shuffle,
      // never moved
      assert(p.contains("RoundRobinPartitioning"), p)
      val foreign = p.linesIterator.filter(_.contains("Exchange "))
        .filterNot(_.contains("RoundRobinPartitioning")).toList
      assert(foreign.isEmpty, foreign.mkString("\n"))
    }
  }

  test("PQ search: codebook and query subvectors broadcast; raw vectors never join the scan") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pq = Ann.pqTopK(emb, nQueries = 4, k = 3, m = 4, nlist = 8, iters = 1)
    pq.collect()
    val p = plan(pq)
    // the ADC scan joins the narrow (vec, sub, code) stream against
    // broadcast codebook + broadcast query subvectors — both tiny
    assert(p.contains("BroadcastHashJoin"), p)
    // no sort-merge join anywhere: a shuffled vector-payload join is
    // the anti-shape PQ exists to avoid
    assert(!p.contains("SortMergeJoin"), p)
    // per-query ranking is the two-phase top-k, not a global range sort
    assert(!p.contains("rangepartitioning"), p)
  }

  test("vocab/OOV: top-V via TakeOrdered (never a global term sort), vocab broadcast back") {
    import spark.implicits._
    val docs = (0L until 64L)
      .map(i => (i, s"w$i the a x${i % 7} table spark query y$i"))
      .toDF("doc_id", "text")
    val vc = graft.llm.TextStats.vocabCoverage(docs, vocabSize = 5)
    vc.collect()
    val p = plan(vc)
    // the V-row vocab comes from TakeOrdered over the count agg — a
    // global orderBy of the term table would range-sort the vocabulary
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("rangepartitioning"), p)
    // and it re-enters the token stream broadcast, never sort-merged
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("gopher gates: two hash aggregations, no window, no global sort") {
    import spark.implicits._
    val docs = (0L until 64L)
      .map(i => (i, ("tok " * 60).trim + s" w$i"))
      .toDF("doc_id", "text")
    val g = graft.llm.TextStats.gopherGates(docs)
    g.collect()
    val p = plan(g)
    assert(!p.contains("Window"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("binary search: Hamming scan is a broadcast over signature words, no shuffled vector join") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bin = Ann.binaryTopK(emb, nQueries = 4, k = 3, rerank = 20)
    bin.collect()
    val p = plan(bin)
    // query signatures (nQueries rows of packed longs) broadcast onto
    // the corpus signature frame; rerank ids rejoin the floats via
    // broadcast too — the corpus vectors never sort-merge-shuffle
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // ranking is the two-phase top-k, not a global range sort
    assert(!p.contains("rangepartitioning"), p)
  }

  test("bucketPairs: LSH candidates ride ONE band-key exchange — no self-join, cap adds nothing") {
    import spark.implicits._
    // band keys shaped like minhashLshPairs' stream: 3 buckets, one
    // with 3 members (3 pairs), one with 2, one singleton (dropped)
    val bk = Seq(
      (0L, 0, 11L), (1L, 0, 11L), (2L, 0, 11L),
      (3L, 1, 22L), (4L, 1, 22L),
      (5L, 2, 33L)
    ).toDF("doc_id", "band", "bkey")
    val pairs = graft.llm.Dedup.bucketPairs(bk, "band")
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L)))
    // the candidate stage is ONE sortless aggregation over the
    // band-key stream plus the pair-dedup distinct. The self-join
    // shape this replaced plans as a SortMergeJoin at corpus scale
    // (band keys are never broadcastable there): AQE reuses the
    // partitioning exchange but still pays TWO full sorts of the
    // stream + the merge (plans/r18/lsh_candidate_stage_*.txt).
    val p = plan(pairs).split("== Initial Plan ==").head
    assert(!p.contains("Join"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"band-key agg + pair distinct only:\n$p")
    // the occupancy cap is a size() filter on the SAME aggregation —
    // same plan shape, over-cap bucket dropped
    val capped = graft.llm.Dedup.bucketPairs(bk, "band", maxBucket = 2L)
    assert(capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((3L, 4L)))
    val cp = plan(capped).split("== Initial Plan ==").head
    assert(!cp.contains("Join"), cp)
    assert("Exchange hashpartitioning".r.findAllIn(cp).size <= 2, cp)
  }

  test("shingle frames run once: jaccard/overlap outputs are pinned and caches released") {
    import spark.implicits._
    val docs = (0L until 64L)
      .map(i => (i, s"src${i % 4}", s"w${i % 8} x${i % 8} y${i % 8} z${i % 8} q$i"))
      .toDF("doc_id", "source", "text")
    // ngramJaccardPairs: the shingle frame is a NARROW stage (no
    // exchange below its consumers), so it is persisted inside the
    // call and the output localCheckpoint'ed — consumers read ONE
    // cached shingle stage, and the returned plan is the pinned RDD,
    // not a live lineage holding the released cache. (sourceOverlap is
    // deliberately NOT persisted: its distinct() ends in a shuffle the
    // consumers share, and persisting was measured 1.7× slower at
    // sf0.1 — see the operator's scaladoc.)
    val jp = plan(graft.llm.Dedup.ngramJaccardPairs(docs, n = 3, theta = 0.1))
    assert(jp.contains("Scan ExistingRDD"), jp)
    graft.llm.Dedup.sourceOverlap(docs, n = 3).collect()
    // the shingle caches (the only large persists in these pipelines)
    // were released before return; only tiny checkpointed outputs may
    // remain registered (the minhash-cache-release pin's criterion)
    val bigCached = spark.sparkContext.getRDDStorageInfo
      .count(i => i.memSize + i.diskSize > (1L << 20))
    assert(bigCached === 0,
      spark.sparkContext.getRDDStorageInfo
        .map(i => (i.name, i.memSize, i.diskSize)).mkString("\n"))
  }

  test("tag membership stays distributed: tagging every series puts no name list on the driver") {
    val env = EngineEnv(spark, dir)
    val total = env.snapshot.df.count()
    val msg = Planner.query("alter series /.*/ tag `everything`", env)
      .collect().head.getString(0)
    assert(msg === s"Successfully tagged $total series.")
    // the stored membership frame is a checkpointed distributed RDD
    // scan, never a LocalRelation built from collected driver rows
    val stored = env.meta.tagFrames("everything")
    val lp = stored.queryExecution.optimizedPlan.toString
    assert(!lp.contains("LocalRelation"), lp)
    assert(lp.contains("LogicalRDD") || lp.contains("Scan ExistingRDD"), lp)
    // and selection through the tag still answers
    val n = Planner.query("count series `everything`", env).collect().head.getLong(0)
    assert(n === total)
  }

  test("rollupPyramid reads raw points once: higher levels reuse the 1h exchange") {
    val df = graft.engine.BucketStats.rollupPyramid(
      SeriesStore.pointsI(spark, dir))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // one parquet scan; the 6h/1d branches re-aggregate the 1h
    // exchange instead of replaying the scan lineage
    assert(p.linesIterator.count(_.contains("FileScan parquet")) === 1, p)
    assert(p.contains("ReusedExchange"), p)
  }

  test("seriesMath: one window pass for changepoints; lag explode never degenerates to a cross join") {
    import graft.engine.{SeriesMath, UserStats}
    val pts = SeriesStore.pointsI(spark, dir)
    // meanShift: a single Window node, no join anywhere — the whole
    // detector is one shuffle on series + one frame pass
    val ms = SeriesMath.meanShift(pts, bucket = 3600L, k = 24)
    ms.collect()
    // audit the FINAL adaptive plan only (the string repeats the tree
    // under "== Initial Plan ==", which would double-count nodes)
    val msp = plan(ms).split("== Initial Plan ==").head
    assert(msp.linesIterator.count(_.contains("Window [")) === 1, msp)
    assert(!msp.contains("Join"), msp)
    // laggedPearson: the constant lag-list explode must stay a
    // Generate feeding an equi-join — never a nested-loop/cartesian
    val lp = SeriesMath.laggedPearson(pts, bucket = 3600L, maxLag = 2,
      minBuckets = 10L)
    lp.collect()
    val lpp = plan(lp)
    assert(lpp.contains("Generate"), lpp)
    assert(!lpp.contains("CartesianProduct") &&
      !lpp.contains("BroadcastNestedLoopJoin"), lpp)
    // shareOfTotal joins rollup-vs-totals only: no explode, and the
    // events scan reads a pruned schema (no props column)
    val sh = SeriesMath.shareOfTotal(pts, bucket = 3600L)
    sh.collect()
    val shp = plan(sh)
    assert(!shp.contains("Generate"), shp)
    val shRead = shp.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!shRead.contains("props"), shRead)
    // stickiness: the 7-slot explode widens the DISTINCT user-day
    // frame (above an aggregate), never raw events — pin via the
    // pruned scan (only user_id + ts leave the parquet reader)
    val st = UserStats.stickiness(graft.core.Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000000000").as("ts"),
        col("event_type")), windowDays = 7)
    st.collect()
    val stRead = plan(st).linesIterator
      .filter(_.contains("ReadSchema")).mkString
    assert(!stRead.contains("props") && !stRead.contains("event_type"),
      stRead)
  }

  test("sloBurn/thresholdEta: one series shuffle carries everything downstream") {
    import graft.engine.{Anomaly, SeriesMath}
    // AQE's toString repeats the tree under "== Initial Plan ==" —
    // count only the final (executed) section
    def exchanges(p: String) = p.split("== Initial Plan ==").head
      .linesIterator
      .count(l => l.contains("Exchange") && !l.contains("ReusedExchange") &&
        !l.contains("ShuffleQueryStage"))
    // both RANGE frames + the alert filter evaluate in ONE Window node
    // above ONE exchange — a second shuffle or a split window pass
    // would double the dominant cost at scale
    val slo = Anomaly.sloBurn(SeriesStore.pointsI(spark, dir),
      threshold = 10000L)
    slo.collect()
    val sp = plan(slo)
    assert(exchanges(sp) === 1, sp)
    assert(sp.split("== Initial Plan ==").head.linesIterator
      .count(_.contains("+- Window ")) <= 1, sp)
    // the OLS moment aggregation reuses the window's hash(series)
    // partitioning — the per-series start must not cost a second
    // shuffle or a points self-join
    val eta = SeriesMath.thresholdEta(SeriesStore.pointsI(spark, dir),
      cap = 60000L)
    eta.collect()
    val ep = plan(eta)
    assert(exchanges(ep) === 1, ep)
    assert(!ep.contains("SortMergeJoin") && !ep.contains("BroadcastHashJoin"),
      ep)
  }

  test("pii scrub: one narrow codegen projection — no shuffle, no join, no window") {
    // parquet-backed input: a local Seq collapses to LocalTableScan
    // and proves nothing about the distributed plan
    val docs = graft.core.Tables.documents(spark, dir)
    val sc = graft.llm.TextStats.piiScrub(docs)
    sc.collect()
    val p = plan(sc)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
    // "*(n) Project" is executedPlan.toString's whole-stage-codegen
    // marker — the regex counts and the redaction chain stay fused
    assert(p.contains("*(1) Project"), p)
  }

  test("source-quality rollup: source-level joins broadcast; no cartesian; zipf window partitioned") {
    import spark.implicits._
    val docs = (0L until 64L)
      .map(i => (i, (0 until 60).map(k => s"w${(i + k) % 40}").mkString(" "),
        s"src${i % 4}"))
      .toDF("doc_id", "text", "source")
    val r = graft.llm.Curate.sourceQualityReport(docs)
    r.collect()
    val p = plan(r)
    // the source-sized gate/zipf/dup ROLLUPS join by broadcast and
    // nothing multiplies; the only sort-merge allowed is the
    // doc-keyed dup-loser join inside the full-corpus capped-MinHash
    // dup stage (its right side is data-dependent — up to doc-sized
    // on a fully-duplicated corpus, so a forced broadcast there would
    // be the 100× mistake)
    val smj = p.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smj.forall(_.contains("doc_id")), smj.mkString("\n"))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the zipf ranking window is PARTITIONED by source — a global
    // (unpartitioned) window would single-task the vocabulary
    assert(!p.contains("Window [") ||
      p.contains("windowspecdefinition(source"), p)
  }

  test("round-14 second batch: residual fold rides one series exchange; boilerplate/keeper/plan shapes hold") {
    def finalPlan(p: String) = p.split("== Initial Plan ==").head
    def exchanges(p: String) = finalPlan(p).linesIterator
      .count(l => l.contains("Exchange") && !l.contains("ReusedExchange") &&
        !l.contains("ShuffleQueryStage") && !l.contains("BroadcastExchange"))

    // holtResidualAnomaly: WindowGroupLimit bounds the cell to lastN
    // BELOW the exchange, and the collect_list aggregation reuses the
    // window's hash(series) partitioning — one shuffle total
    val ra = graft.engine.Forecast.holtResidualAnomaly(
      SeriesStore.pointsI(spark, dir))
    ra.collect()
    val rp = plan(ra)
    assert(rp.contains("WindowGroupLimit"), rp)
    assert(exchanges(rp) === 1, rp)

    // boilerplateScrub: no window sort anywhere (the rebuild is an
    // array_sort inside the doc agg), the df join keys on the bounded
    // md5 hash, and both corpus scans prune to (doc_id, text)
    val docs = graft.core.Tables.documents(spark, dir)
    val bs = graft.llm.TextStats.boilerplateScrub(docs)
    bs.collect()
    val bp = plan(bs)
    assert(!bp.contains("Window ["), bp)
    assert(!bp.contains("CartesianProduct"), bp)
    assert(finalPlan(bp).linesIterator.filter(_.contains("ReadSchema"))
      .forall(l => !l.contains("lang") && !l.contains("n_chars")), bp)

    // clusterRepresentatives: the per-cluster argmax is an
    // aggregation (max over a (quality, -doc_id) struct), never a
    // row_number window — a mega-cluster costs a fold, not a sort cell
    val cr = graft.llm.Dedup.clusterRepresentatives(docs,
      graft.llm.Dedup.minhashLshPairs(docs, n = 3, numHashes = 128,
        bands = 32, theta = 0.5, maxBucket = 16L))
    cr.collect()
    val cp = plan(cr)
    assert(!cp.contains("Window ["), cp)
    assert(!cp.contains("CartesianProduct"), cp)

    // mixturePlan: the weighted-source predicate reaches the parquet
    // scan as a data filter, and the only shuffles are the
    // source-sized aggregation + the SinglePartition hop shared by
    // the windows — both carry <= #sources rows
    val mp = graft.llm.TextStats.mixturePlan(docs,
      Map("src0" -> 4.0, "src1" -> 2.0, "src2" -> 1.0, "src3" -> 1.0),
      100000L)
    mp.collect()
    val mpp = plan(mp)
    // at most THREE windows (present-weight sum; allocation sum +
    // row_number for the flooring remainder), ALL on the
    // POST-aggregation source-sized frame (their input is the
    // source-keyed HashAggregate, never the corpus scan) and all
    // riding ONE SinglePartition hop
    assert("Window \\[".r.findAllIn(finalPlan(mpp)).size <= 3, mpp)
    assert(exchanges(mpp) <= 2, mpp)
    assert(finalPlan(mpp).linesIterator.filter(_.contains("FileScan"))
      .forall(_.contains("DataFilters: [CASE WHEN")), mpp)
  }
}
