package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.meta.Lookup
import graft.server.{ApiCore, PoolCluster}

/** Pool distribution re-expressed Spark-first (SURVEY "multi-node":
  * src/siri/db/lookup.c assignment, query.c fan-out → one Catalyst
  * plan over unioned pool frames, reindex.c expansion): the cluster
  * must answer every query exactly like a single store holding the
  * same data, and expansion must move exactly the lookup-predicted
  * series. */
class PoolSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val mapper = new ObjectMapper()

  test("lookup table matches the reference algorithm — lookup.c:37-71") {
    // 1 pool: everything in pool 0
    assert(Lookup(1).slots.forall(_ == 0))
    // 2 pools: the m=2 pass reassigns every second tick -> slot parity
    assert(Lookup(2).slots.take(8) === Vector(0, 1, 0, 1, 0, 1, 0, 1))
    // 3 pools: first ten slots, hand-walked through the counter scheme
    assert(Lookup(3).slots.take(10) ===
      Vector(0, 1, 0, 2, 2, 1, 0, 1, 0, 2))
    // series hash: uint32 byte sum mod 8192 (siridb_lookup_sn)
    assert(Lookup.slotOf("aggr") === (97 + 103 + 103 + 114) % 8192)
  }

  test("driver-side slotOf and the Spark slotSql expression agree on every name") {
    import spark.implicits._
    // routing (slotOf, insert path) and re-index (slotSql, executor
    // SQL) must assign identically or expansion splits a series'
    // placement — include non-ASCII and long names
    val names = Seq("aggr", "metric.cpu.7", "température.côté",
      "series-" + ("x" * 400), "точка.data", "日本語シリーズ", "a")
    val sparkSlots = names.toDF("series")
      .selectExpr("series", Lookup.slotSql("series") + " AS slot")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    names.foreach { n =>
      assert(Lookup.slotOf(n) === sparkSlots(n), n)
    }
  }

  test("growing the table n -> n+1 reassigns ONLY slots moving to the new pool") {
    (1 until 8).foreach { n =>
      val before = Lookup(n).slots
      val after = Lookup(n + 1).slots
      before.indices.foreach { i =>
        assert(after(i) == before(i) || after(i) == n,
          s"n=$n slot $i: ${before(i)} -> ${after(i)} (not the new pool)")
      }
      // and the reassigned share is ~1/(n+1) of the keyspace
      val movedFrac = before.indices.count(i => after(i) == n).toDouble /
        Lookup.Size
      assert(math.abs(movedFrac - 1.0 / (n + 1)) < 0.02,
        s"n=$n moved ${movedFrac}")
      // balance: every pool holds within 25% of the fair share
      val fair = Lookup.Size.toDouble / (n + 1)
      (0 to n).foreach { p =>
        val share = after.count(_ == p)
        assert(share > fair * 0.75 && share < fair * 1.25,
          s"n+1=${n + 1} pool $p share $share vs fair $fair")
      }
    }
  }

  private def insertBody(names: Seq[String]): String =
    names.map { n =>
      val pts = (0 until 6)
        .map(i => s"[${1700000000L + i * 60}, ${(n.hashCode % 97 + i).toDouble}]")
        .mkString("[", ",", "]")
      s""""$n": $pts"""
    }.mkString("{", ",", "}")

  // deterministic names spanning both pools of a 2-pool lookup
  private val names = (0 until 24).map(i => s"metric.cpu.$i")

  test("routed inserts + merged queries equal a single-store database") {
    val cbase = Files.createTempDirectory("graft-cluster").toString
    val sbase = Files.createTempDirectory("graft-single").toString
    val cluster = new PoolCluster(spark, cbase, initialPools = 2)
    val single = new ApiCore(spark, sbase)
    val body = mapper.readTree(insertBody(names))
    val ok = cluster.runInsert(body, "iris")
    assert(ok.get("success_msg").asText ===
      s"Successfully inserted ${names.size * 6} point(s).")
    single.runInsert(body, "iris")
    // both pools physically hold their lookup share, and nothing else
    val l2 = Lookup(2)
    (0 to 1).foreach { k =>
      val held = graft.streaming.Ingest
        .catalog(spark, s"$cbase/pool$k")
        .select("series").collect().map(_.getString(0)).toSet
      assert(held.nonEmpty, s"pool $k empty — test names don't span pools")
      assert(held.forall(l2.poolOf(_) == k),
        s"pool $k holds foreign series: ${held.filterNot(l2.poolOf(_) == k)}")
    }
    // the merged query surface answers exactly like the single store
    Seq(
      "select * from /^metric\\.cpu\\.1.*/",
      "select max(10m) => difference() from /.*/",
      // ranged: exercises the merged rangedFrames (per-pool
      // shard-directory pruning unioned across pools)
      "select * from /^metric\\.cpu\\.2.*/ between 1700000060 and 1700000200",
      "count series").foreach { q =>
      assert(cluster.runQuery(q, 1L, "iris").toString ===
        single.runQuery(q, 1L, "iris").toString, q)
    }
    // list row ORDER is map-iteration order in the reference (and the
    // driver's oracle gate sorts rows) — compare as sets
    def listRows(api: String => com.fasterxml.jackson.databind.JsonNode) = {
      val rows = api("list series name, length, start, end limit 30").get("rows")
      (0 until rows.size()).map(i => rows.get(i).toString).toSet
    }
    assert(listRows(q => cluster.runQuery(q, 1L, "iris")) ===
      listRows(q => single.runQuery(q, 1L, "iris")))
    // a cross-pool merge produces the same point multiset; equal-ts
    // tie ORDER follows per-pool insertion ids (exactly as the
    // reference's merge follows per-pool arrival, points.c k-way), so
    // compare order-insensitively within each timestamp
    def mergedPoints(api: String => com.fasterxml.jackson.databind.JsonNode) = {
      val arr = api("select sum(1h) from /.*/ merge as \"all\"").get("all")
      (0 until arr.size()).map(i =>
        (arr.get(i).get(0).asLong(), arr.get(i).get(1).asDouble())).sorted
    }
    assert(mergedPoints(q => cluster.runQuery(q, 1L, "iris")) ===
      mergedPoints(q => single.runQuery(q, 1L, "iris")))
    // list pools reports the real per-pool series counts
    val pools = cluster.runQuery("list pools", 1L, "iris")
    assert(pools.get("columns").toString === """["pool","servers","series"]""")
    val rows = pools.get("rows")
    assert(rows.size() === 2)
    val perPool = (0 until 2).map(i =>
      rows.get(i).get(0).asInt() -> rows.get(i).get(2).asLong()).toMap
    assert(perPool.values.sum === names.size)
    assert(perPool.keySet === Set(0, 1))
    assert(cluster.runQuery("count pools", 1L, "iris").toString ===
      """{"columns":["pools"],"rows":[[2]]}""")
    // where pool == k filters on the real owning pool
    val p0 = cluster.runQuery("count series where pool == 0", 1L, "iris")
      .get("rows").get(0).get(0).asLong()
    assert(p0 === names.count(l2.poolOf(_) == 0))
  }

  test("array-form insert with a repeated series name keeps every point") {
    val cbase = Files.createTempDirectory("graft-dupname").toString
    val cluster = new PoolCluster(spark, cbase, initialPools = 2)
    // the array wire form legally repeats a name (insert.c accepts
    // duplicate entries) — routing must not collapse them
    val ok = cluster.runInsert(mapper.readTree(
      """[{"name": "dup.a", "points": [[100, 1.0]]},
        | {"name": "dup.a", "points": [[200, 2.0]]},
        | {"name": "dup.b", "points": [[100, 3.0]]}]""".stripMargin), "iris")
    assert(ok.get("success_msg").asText ===
      "Successfully inserted 3 point(s).")
    val sel = cluster.runQuery("select * from 'dup.a'", 1L, "iris")
    assert(sel.get("dup.a").toString === "[[100,1.0],[200,2.0]]", sel)
  }

  test("a bad share aborts the whole cluster insert — nothing partially commits") {
    val cbase = Files.createTempDirectory("graft-atomic").toString
    val cluster = new PoolCluster(spark, cbase, initialPools = 2)
    val l2 = Lookup(2)
    val p0name = names.find(l2.poolOf(_) == 0).get
    val p1name = names.find(l2.poolOf(_) == 1).get
    // pool 0's share is valid; pool 1's carries an unsupported value —
    // the reference validates the whole package before scattering
    // (insert.c assign_by_map), so NOTHING may land
    intercept[graft.parser.QueryError] {
      cluster.runInsert(mapper.readTree(
        s"""{"$p0name": [[100, 1.0]], "$p1name": [[200, true]]}"""), "iris")
    }
    (0 to 1).foreach { k =>
      assert(graft.streaming.Ingest.catalog(spark, s"$cbase/pool$k")
        .count() === 0L, s"pool $k committed a share of an invalid insert")
    }
  }

  test("drop shards fans out to every pool's physical store") {
    val cbase = Files.createTempDirectory("graft-dropfan").toString
    val cluster = new PoolCluster(spark, cbase, initialPools = 2)
    cluster.runInsert(mapper.readTree(insertBody(names)), "iris")
    // one num shard per pool (all test points share a shard bucket)
    assert(cluster.runQuery("count shards", 1L, "iris").toString ===
      """{"columns":["shards"],"rows":[[2]]}""")
    val res = cluster.runQuery("drop shards set ignore_threshold true", 1L, "iris")
    assert(res.get("rows").get(0).get(0).asText ===
      "Successfully dropped 2 shards. (this number does not include replica shards)")
    assert(cluster.runQuery("count shards", 1L, "iris").toString ===
      """{"columns":["shards"],"rows":[[0]]}""")
    // series survive a shard drop as metadata (the reference keeps the
    // series objects; only their points are gone) — a select answers
    // every name with an empty array
    assert(cluster.runQuery("count series", 1L, "iris")
      .get("rows").get(0).get(0).asLong() === names.size.toLong)
    val sel = cluster.runQuery(s"select * from '${names.head}'", 1L, "iris")
    assert(sel.get(names.head).size() === 0, sel)
    // a pool owning ZERO shards contributes a typed 0 to the sum (no
    // message scraping), and timeit wraps the fan-out like any DDL
    val cbase2 = Files.createTempDirectory("graft-dropfan0").toString
    val cluster2 = new PoolCluster(spark, cbase2, initialPools = 2)
    val l2 = Lookup(2)
    cluster2.runInsert(mapper.readTree(
      insertBody(names.filter(l2.poolOf(_) == 0))), "iris")
    val res2 = cluster2.runQuery(
      "timeit drop shards set ignore_threshold true", 1L, "iris")
    assert(res2.get("rows").get(0).get(0).asText ===
      "Successfully dropped 1 shards. (this number does not include replica shards)")
    assert(res2.get("__timeit__").get(0).get("time").asDouble() > 0.0)
  }

  test("cluster coarse selects serve from the unioned per-pool rollups") {
    import org.apache.spark.sql.functions.col
    val cbase = Files.createTempDirectory("graft-crollup").toString
    val cluster = new PoolCluster(spark, cbase, initialPools = 2)
    cluster.runInsert(mapper.readTree(insertBody(names)), "iris")
    val raw = cluster.runQuery("select count(2m) from /.*/", 1L, "iris").toString
    // per-pool standing rollups at DIFFERENT widths (60 s and 40 s):
    // the merged view serves at their LCM (120 s) — each pool's
    // right-aligned labels nest into any select bucket the LCM divides
    Seq(0 -> 60L, 1 -> 40L).foreach { case (k, r) =>
      val pdir = s"$cbase/pool$k"
      graft.streaming.Rollup.fromPoints(
        graft.streaming.Ingest.points(spark, pdir)
          .select(col("series"), col("ts"), col("val")), r)
        .write.parquet(s"$pdir/rollup/$r")
    }
    cluster.meta.storeGeneration.incrementAndGet() // re-list rollups
    val env = cluster.mergedEnv("iris")
    assert(env.rollup.map(_._1) === Some(120L))
    val df = graft.parser.Planner.query("select count(2m) from /.*/", env)
    assert(!df.inputFiles.exists(_.contains("/points/")),
      "cluster coarse select rescanned raw points")
    assert(Seq("pool0", "pool1").forall(p =>
      df.inputFiles.exists(f => f.contains(p) && f.contains("/rollup/"))),
      "merged rollup view must read every pool's rollup")
    assert(cluster.runQuery("select count(2m) from /.*/", 1L, "iris")
      .toString === raw)
    // a width the LCM does not divide stays on the raw path
    val fine = graft.parser.Planner.query("select count(1m) from /.*/", env)
    assert(fine.inputFiles.exists(_.contains("/points/")))
    // one pool without a rollup disables the merged view — serving a
    // partial union would drop that pool's series from the answer
    val fs = new org.apache.hadoop.fs.Path(cbase)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$cbase/pool1/rollup"), true)
    cluster.meta.storeGeneration.incrementAndGet()
    assert(cluster.mergedEnv("iris").rollup.isEmpty)
    graft.parser.Planner.drainQueryCaches()
  }

  test("expansion re-indexes exactly the moved series — reindex.c, test_pool.py") {
    val cbase = Files.createTempDirectory("graft-expand").toString
    val cluster = new PoolCluster(spark, cbase, initialPools = 2)
    cluster.runInsert(mapper.readTree(insertBody(names)), "iris")
    val before = cluster.runQuery("select * from /.*/", 1L, "iris").toString
    val l2 = Lookup(2)
    val l3 = Lookup(3)
    val expectMoved = names.filter(n => l3.poolOf(n) == 2)
    assert(expectMoved.nonEmpty, "test names never move — widen the set")
    assert(cluster.expand() === 2)
    assert(cluster.nPools === 3)
    // every store holds exactly its new-lookup share
    (0 to 2).foreach { k =>
      val held = graft.streaming.Ingest
        .catalog(spark, s"$cbase/pool$k")
        .select("series").collect().map(_.getString(0)).toSet
      assert(held === names.filter(l3.poolOf(_) == k).toSet, s"pool $k")
    }
    // unmoved series never changed owner (the lookup growth property)
    names.filterNot(expectMoved.contains).foreach { n =>
      assert(l3.poolOf(n) === l2.poolOf(n), n)
    }
    // the query surface is unchanged by expansion
    assert(cluster.runQuery("select * from /.*/", 1L, "iris").toString
      === before)
    val rows = cluster.runQuery("list pools", 1L, "iris").get("rows")
    assert(rows.size() === 3)
    // the fleet view reports one server per pool after expansion
    val servers = cluster.runQuery("list servers name, pool", 1L, "iris")
      .get("rows")
    assert((0 until servers.size()).map(_.toString).size === 3)
    assert(cluster.runQuery("count servers", 1L, "iris").toString ===
      """{"columns":["servers"],"rows":[[3]]}""")
    // inserts after expansion route by the grown lookup
    cluster.runInsert(mapper.readTree("""{"post.expand.x": [[1700000000, 1.5]]}"""), "iris")
    val owner = l3.poolOf("post.expand.x")
    assert(graft.streaming.Ingest.catalog(spark, s"$cbase/pool$owner")
      .where(org.apache.spark.sql.functions.col("series") === "post.expand.x")
      .count() === 1L)
  }

  test("auto duration resolves ONCE cluster-wide and survives a reopen") {
    val cbase = Files.createTempDirectory("graft-cautodur").toString
    val cluster = new PoolCluster(spark, cbase, initialPools = 2,
      autoDuration = true)
    // 5-minute cadence across series spanning both pools → the first
    // pool to flush resolves 7-day shards into the SHARED metastore;
    // the other pool must bucket under the same choice (disagreeing
    // durations would map `drop shards before X` differently per pool)
    val body = names.map { n =>
      val pts = (0 until 20)
        .map(i => s"[${1700000000L + i * 300}, $i.0]").mkString("[", ",", "]")
      s""""$n": $pts"""
    }.mkString("{", ",", "}")
    cluster.runInsert(mapper.readTree(body), "iris")
    val expectSid = 1700000000L / 604800L
    (0 to 1).foreach { k =>
      val dirs = graft.streaming.Ingest.shardDirs(spark, s"$cbase/pool$k")
      assert(dirs.map(d => (d._1, d._2)) === Seq(("num", expectSid)),
        s"pool $k bucketed under a different duration")
    }
    // the resolution persisted at the cluster meta home (pool 0): a
    // reopened cluster WITHOUT the auto flag keeps the same bucketing
    val reopened = new PoolCluster(spark, cbase, initialPools = 2)
    assert(reopened.runQuery("show duration_num", 1L, "iris")
      .get("rows").get(0).get(1).asText === "604800")
  }

  test("inserts racing an expansion route to the NEW pool; queries exact in every phase — reindex.c:54-60") {
    import org.apache.spark.sql.functions.col
    val cbase = Files.createTempDirectory("graft-race").toString
    val cluster = new PoolCluster(spark, cbase, initialPools = 2)
    cluster.runInsert(mapper.readTree(insertBody(names)), "iris")
    val l3 = Lookup(3)
    val movedName = names.find(l3.poolOf(_) == 2).get
    val keptName = names.find(l3.poolOf(_) != 2).get
    def pointsOf(name: String): Int =
      cluster.runQuery(s"select * from '$name'", 1L, "iris").get(name).size()
    var phasesSeen = 0
    cluster.expandPhased(
      afterRouting = () => {
        phasesSeen += 1
        // a racing insert of a MOVED-slot series lands in the target
        // store (new-lookup routing), never in the source the
        // re-index is about to rewrite
        cluster.runInsert(mapper.readTree(
          s"""{"$movedName": [[1700009999, 42.5]]}"""), "iris")
        assert(graft.streaming.Ingest.catalog(spark, s"$cbase/pool2")
          .where(col("series") === movedName).count() === 1L)
        // old placement still serves the full history (target not
        // yet published; the racing point is invisible, not doubled)
        assert(pointsOf(keptName) === 6)
        assert(pointsOf(movedName) === 6)
      },
      afterSwitch = () => {
        phasesSeen += 1
        // target published + sources masked: the full data set,
        // racing point included, each point exactly once — the moved
        // series' history must not disappear or double while the
        // physical removal is still pending
        assert(pointsOf(movedName) === 7)
        assert(pointsOf(keptName) === 6)
      })
    assert(phasesSeen === 2)
    // final placement: the moved series (history + racing point)
    // lives wholly in the new pool; the sources are physically clean
    assert(graft.streaming.Ingest.points(spark, s"$cbase/pool2")
      .where(col("series") === movedName).count() === 7L)
    (0 to 1).foreach { k =>
      assert(graft.streaming.Ingest.points(spark, s"$cbase/pool$k")
        .where(col("series") === movedName).count() === 0L, s"pool $k")
    }
    assert(pointsOf(movedName) === 7)
    assert(pointsOf(keptName) === 6)
  }

  test("cluster expiration takes effect on the very next write to EVERY pool") {
    val cbase = Files.createTempDirectory("graft-clusterexp").toString
    val cluster = new PoolCluster(spark, cbase, initialPools = 2)
    val l2 = Lookup(2)
    val nowS = System.currentTimeMillis() / 1000
    // ancient points land in both pools (pre-expiration, so accepted)
    cluster.runInsert(mapper.readTree(insertBody(names)), "iris")
    // arm the expire machinery WITHOUT touching num shards, then run
    // one write per pool: each pool sweeps (drops nothing — log only)
    // and its once-per-interval gate closes at "now"
    cluster.runQuery("alter database set expiration_log 1w", 1L, "iris")
    val p0name = names.find(l2.poolOf(_) == 0).get
    val p1name = names.find(l2.poolOf(_) == 1).get
    cluster.runInsert(mapper.readTree(
      s"""{"$p0name": [[${nowS - 120}, 1.0]]}"""), "iris")
    cluster.runInsert(mapper.readTree(
      s"""{"$p1name": [[${nowS - 120}, 1.0]]}"""), "iris")
    // the DDL runs on pool 0's query path; the reference contract
    // (itest/test_expiration.py) is that it applies on the very next
    // write — for a cluster that means every pool's gate must reopen
    cluster.runQuery(
      "alter database set expiration_num 1w set ignore_threshold true",
      1L, "iris")
    cluster.runInsert(mapper.readTree(
      s"""{"$p1name": [[${nowS - 60}, 2.0]]}"""), "iris")
    val p1pts = graft.streaming.Ingest.points(spark, s"$cbase/pool1")
      .collect().map(_.getLong(1)).toSet
    assert(p1pts === Set(nowS - 120, nowS - 60),
      s"pool 1 kept expired points: $p1pts")
    // pool 0 sweeps on ITS next write too
    cluster.runInsert(mapper.readTree(
      s"""{"$p0name": [[${nowS - 60}, 2.0]]}"""), "iris")
    val p0pts = graft.streaming.Ingest.points(spark, s"$cbase/pool0")
      .collect().map(_.getLong(1)).toSet
    assert(p0pts === Set(nowS - 120, nowS - 60),
      s"pool 0 kept expired points: $p0pts")
  }

  test("a crashed expansion (mask persisted, sweep unfinished) recovers by re-run") {
    val cbase = Files.createTempDirectory("graft-crashrec").toString
    val a = new PoolCluster(spark, cbase, initialPools = 2)
    a.runInsert(mapper.readTree(insertBody(names)), "iris")
    def count(c: PoolCluster) = c.runQuery("count series", 1L, "iris")
      .get("rows").get(0).get(0).asLong()
    // the writer "crashes" right after SWITCH: pool count + mask are
    // persisted, the straggler sweep and unmask never ran
    intercept[RuntimeException] {
      a.expandPhased(afterSwitch =
        () => throw new RuntimeException("crash after switch"))
    }
    // a restarted process adopts the mid-flight state (grown pools +
    // mask) from disk and serves exactly — indefinitely
    val b = new PoolCluster(spark, cbase, initialPools = 2)
    assert(b.nPools === 3)
    assert(count(b) === names.size.toLong)
    // recovery re-runs the idempotent phases 4-5 (the background
    // optimize gate reaches the same path on the next gated write)
    b.optimizeNow()
    assert(!b.meta.config.contains("reindex_mask"))
    assert(count(b) === names.size.toLong)
    // placement converged: every pool physically holds exactly its
    // grown-lookup share
    val l3 = Lookup(3)
    (0 to 2).foreach { k =>
      val held = graft.streaming.Ingest.catalog(spark, s"$cbase/pool$k")
        .select("series").collect().map(_.getString(0)).toSet
      assert(held.forall(l3.poolOf(_) == k),
        s"pool $k holds foreign series after recovery")
    }
  }

  test("cluster optimize purges EVERY pool before lifting the shared tombstones") {
    val cbase = Files.createTempDirectory("graft-clusteropt").toString
    val cluster = new PoolCluster(spark, cbase, initialPools = 2)
    cluster.runInsert(mapper.readTree(insertBody(names)), "iris")
    val l2 = Lookup(2)
    // the regex matches names in BOTH pools (cpu.1, cpu.10..19)
    val doomed = names.filter(_.matches("metric\\.cpu\\.1.*"))
    assert(doomed.map(l2.poolOf).toSet === Set(0, 1),
      "test premise: dropped names must span both pools")
    cluster.runQuery(
      "drop series /^metric\\.cpu\\.1.*/ set ignore_threshold true",
      1L, "iris")
    assert(cluster.meta.droppedDf.isDefined)
    cluster.optimizeNow()
    // tombstones lifted only after BOTH pools' stores were purged
    assert(cluster.meta.droppedDf.isEmpty)
    (0 to 1).foreach { k =>
      val held = graft.streaming.Ingest.catalog(spark, s"$cbase/pool$k")
        .select("series").collect().map(_.getString(0)).toSet
      assert(held.intersect(doomed.toSet).isEmpty,
        s"pool $k still holds purged series")
    }
    val n = cluster.runQuery("count series", 1L, "iris")
      .get("rows").get(0).get(0).asLong()
    assert(n === names.size - doomed.size)
  }

  test("a SECOND cluster process over the same stores serves coherently — inserts, DDL, expansion adoption") {
    val cbase = Files.createTempDirectory("graft-twocluster").toString
    // two PoolCluster instances with separate metastores over the same
    // directories — the in-JVM stand-in for two cluster server
    // processes on shared storage (the durability/availability regime
    // replicate.c's fifo sync exists to approximate)
    val a = new PoolCluster(spark, cbase, initialPools = 2)
    val b = new PoolCluster(spark, cbase, initialPools = 2)
    def one(c: PoolCluster, q: String): String =
      c.runQuery(q, 1L, "iris").get("rows").get(0).toString
    def merged(c: PoolCluster) = {
      val arr = c.runQuery("select sum(1h) from /.*/ merge as \"all\"",
        1L, "iris").get("all")
      (0 until arr.size()).map(i =>
        (arr.get(i).get(0).asLong(), arr.get(i).get(1).asDouble())).sorted
    }
    // A writes; B serves the points with no in-process sharing
    a.runInsert(mapper.readTree(insertBody(names)), "iris")
    assert(one(b, "count series") === s"[${names.size}]")
    // DDL through B reaches A (generation-gated metastore reload)
    b.runQuery("create group `g2` for /^metric\\.cpu\\.1.*/", 1L, "iris")
    assert(one(a, "count groups") === "[1]")
    val before = merged(a)
    assert(merged(b) === before)
    // mid-expansion: while A is between SWITCH and UNMASK, B must
    // apply the persisted mask — the moved series exist in source AND
    // target during this window, and an unmasked remote reader would
    // serve them twice
    var midSeries: String = null
    var midMerged: Seq[(Long, Double)] = null
    a.expandPhased(afterSwitch = () => {
      midSeries = one(b, "count series")
      midMerged = merged(b)
    })
    assert(midSeries === s"[${names.size}]")
    assert(midMerged === before)
    // after the expansion B adopts the grown pool set from persisted
    // cluster state (pool count -> lookup -> placement) and agrees
    assert(one(b, "count pools") === "[3]")
    assert(merged(b) === before)
    assert(b.nPools === 3)
    // an insert routed through B lands by the GROWN lookup
    val l3 = Lookup(3)
    val fresh = (0 until 100).map(i => s"metric.fresh.$i")
      .find(n => l3.poolOf(n) == 2).get
    b.runInsert(mapper.readTree(s"""{"$fresh": [[1700009999, 5.0]]}"""), "iris")
    assert(graft.streaming.Ingest.catalog(spark, s"$cbase/pool2")
      .where(org.apache.spark.sql.functions.col("series") === fresh)
      .count() === 1L)
    assert(one(a, "count series") === s"[${names.size + 1}]")
  }

  test("a stale-routed remote insert mid-expansion is swept to the target — never lost") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cbase = Files.createTempDirectory("graft-staleins").toString
    val a = new PoolCluster(spark, cbase, initialPools = 2)
    val b = new PoolCluster(spark, cbase, initialPools = 2)
    a.runInsert(mapper.readTree(insertBody(names)), "iris")
    val movedName = names.find(Lookup(3).poolOf(_) == 2).get
    val oldOwner = Lookup(2).poolOf(movedName)
    a.expandPhased(
      afterRouting = () => {
        // B has not seen the expansion (nothing persists before
        // SWITCH): its insert routes by the OLD lookup into a source
        // store — the bulk copy's snapshot must carry it over
        b.runInsert(mapper.readTree(
          s"""{"$movedName": [[1700009999, 42.5]]}"""), "iris")
        assert(graft.streaming.Ingest.points(spark, s"$cbase/pool$oldOwner")
          .where(col("series") === movedName && col("ts") === 1700009999L)
          .count() === 1L)
      },
      afterSwitch = () => {
        // a remote request that resolved routing JUST before SWITCH
        // lands by the old lookup too, after the bulk copy already
        // ran — only the phase-4 straggler sweep can save this one
        graft.streaming.Ingest.appendBatch(Seq(
          graft.streaming.Ingest.PointIn(
            movedName, 1700009998L, 7.25, "float", 999999L)).toDF(),
          s"$cbase/pool$oldOwner", 86400L)
      })
    // every racing point survived, exactly once, in the target
    val sel = a.runQuery(s"select * from '$movedName'", 1L, "iris")
    assert(sel.get(movedName).size() === 8, sel)
    assert(graft.streaming.Ingest.points(spark, s"$cbase/pool2")
      .where(col("series") === movedName).count() === 8L)
    (0 to 1).foreach(k =>
      assert(graft.streaming.Ingest.points(spark, s"$cbase/pool$k")
        .where(col("series") === movedName).count() === 0L, s"pool $k"))
    // B's next request adopts the grown cluster and serves the same
    assert(b.runQuery(s"select * from '$movedName'", 1L, "iris")
      .get(movedName).size() === 8)
  }

  test("cluster tee mirrors each pool's processed share — their union is the request (tee.c)") {
    val cbase = Files.createTempDirectory("graft-ctee").toString
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val cluster = new PoolCluster(spark, cbase, initialPools = 2)
    try {
      cluster.runQuery(s"alter database set tee '127.0.0.1:$port'", 1L, "iris")
      val frames = new java.util.concurrent.LinkedBlockingQueue[String]
      val acceptor = new Thread(() => {
        try while (!server.isClosed) {
          val s = server.accept()
          new Thread(() => {
            try {
              val in = new java.io.DataInputStream(s.getInputStream)
              while (true) {
                val (_, tp, data) = graft.server.Cproto.readPkg(in)
                frames.put(s"$tp|${graft.server.QPack.decode(data)}")
              }
            } catch { case _: Exception => () }
          }).start()
        } catch { case _: Exception => () }
      })
      acceptor.start()
      // series spanning both pools: each pool mirrors ITS processed
      // share (the reference's multi-server tee mirrors per server,
      // insert.c:350 fires after the server's own scatter share) —
      // the shares' union must equal the original request exactly
      val subset = names.take(4)
      val l2 = Lookup(2)
      assert(subset.map(l2.poolOf).toSet === Set(0, 1),
        "test premise: the insert must span both pools")
      cluster.runInsert(mapper.readTree(insertBody(subset)), "iris")
      val got = (1 to 2).map(_ =>
        frames.poll(15, java.util.concurrent.TimeUnit.SECONDS))
      assert(!got.contains(null), s"missing tee frame: $got")
      val mirrored = scala.collection.mutable.Map[String, String]()
      got.foreach { f =>
        assert(f.startsWith("1|"), f) // REQ_INSERT
        val node = mapper.readTree(f.drop(2))
        assert(node.isArray, f) // cluster shares ride the array form
        node.forEach { e =>
          mirrored(e.get("name").asText()) = e.get("points").toString
        }
      }
      var expected = Map[String, String]()
      mapper.readTree(insertBody(subset)).properties().iterator()
        .forEachRemaining(e => expected += e.getKey -> e.getValue.toString)
      assert(mirrored.toMap === expected)
    } finally {
      cluster.runQuery("alter database set tee false", 1L, "iris")
      server.close()
    }
  }

  test("a dropped series re-inserted mid-expansion stays fresh — old points never migrate") {
    import org.apache.spark.sql.functions.col
    val cbase = Files.createTempDirectory("graft-resurrect-x").toString
    val cluster = new PoolCluster(spark, cbase, initialPools = 2)
    cluster.runInsert(mapper.readTree(insertBody(names)), "iris")
    val movedName = names.find(Lookup(3).poolOf(_) == 2).get
    cluster.runQuery(s"drop series '$movedName'", 1L, "iris")
    assert(cluster.meta.droppedDf.isDefined)
    cluster.expandPhased(afterRouting = () => {
      // the re-insert routes to the UNPUBLISHED target (reindex-aware
      // routing), purges it there and lifts the tombstone — the bulk
      // copy about to run must not migrate the source's old points
      // next to the fresh series (resurrect semantics,
      // ApiCore.commitInsert)
      cluster.runInsert(mapper.readTree(
        s"""{"$movedName": [[1700009999, 42.5]]}"""), "iris")
    })
    // the re-created series is exactly the fresh point, everywhere
    val sel = cluster.runQuery(s"select * from '$movedName'", 1L, "iris")
    assert(sel.get(movedName).size() === 1, sel)
    assert(sel.get(movedName).get(0).get(1).asDouble() === 42.5)
    assert(graft.streaming.Ingest.points(spark, s"$cbase/pool2")
      .where(col("series") === movedName).count() === 1L)
    (0 to 1).foreach { k =>
      assert(graft.streaming.Ingest.points(spark, s"$cbase/pool$k")
        .where(col("series") === movedName).count() === 0L, s"pool $k")
    }
  }

  test("expansion backfills the target's rollup — the merged view survives an expand") {
    import org.apache.spark.sql.functions.col
    val cbase = Files.createTempDirectory("graft-rollup-expand").toString
    val cluster = new PoolCluster(spark, cbase, initialPools = 2)
    cluster.runInsert(mapper.readTree(insertBody(names)), "iris")
    (0 to 1).foreach { k =>
      val pdir = s"$cbase/pool$k"
      graft.streaming.Rollup.fromPoints(
        graft.streaming.Ingest.points(spark, pdir)
          .select(col("series"), col("ts"), col("val")), 60L)
        .write.parquet(s"$pdir/rollup/60")
    }
    cluster.meta.storeGeneration.incrementAndGet() // re-list rollups
    val before =
      cluster.runQuery("select count(2m) from /.*/", 1L, "iris").toString
    assert(cluster.mergedEnv("iris").rollup.isDefined)
    cluster.expand()
    // the target inherited the sources' width, so the merged rollup
    // view re-enables — and the coarse path still reads ZERO raw
    // point files (without the backfill it would stay disabled
    // forever: rollupAppend only maintains dirs that already exist)
    assert(graft.streaming.Ingest.rollupDirs(spark, s"$cbase/pool2")
      .map(_._1) === Seq(60L))
    // the runQuery path syncs caches onto the post-expansion file set
    assert(cluster.runQuery("select count(2m) from /.*/", 1L, "iris")
      .toString === before)
    val env = cluster.mergedEnv("iris")
    assert(env.rollup.map(_._1) === Some(60L))
    val df = graft.parser.Planner.query("select count(2m) from /.*/", env)
    assert(!df.inputFiles.exists(_.contains("/points/")),
      "post-expansion coarse select rescanned raw points")
    graft.parser.Planner.drainQueryCaches()
  }

  test("drop shards guards the CLUSTER fraction and reaches the unpublished expansion target") {
    val cbase = Files.createTempDirectory("graft-dropexp").toString
    val cluster = new PoolCluster(spark, cbase, initialPools = 2)
    cluster.runInsert(mapper.readTree(insertBody(names)), "iris")
    // asymmetric shard sets: one pool-1 series gets a second shard, so
    // `sid == <old>` matches ALL of pool 0's shards (a per-pool guard
    // would refuse at the default threshold 1.0) but only 2/3 of the
    // cluster's — the reference guards the database fraction, not one
    // server's
    val l2 = Lookup(2)
    val p1name = names.find(l2.poolOf(_) == 1).get
    cluster.runInsert(mapper.readTree(
      s"""{"$p1name": [[1800000000, 1.0]]}"""), "iris")
    val sidOld = 1700000000L / 86400L
    val res = cluster.runQuery(s"drop shards where sid == $sidOld", 1L, "iris")
    assert(res.get("rows").get(0).get(0).asText ===
      "Successfully dropped 2 shards. (this number does not include replica shards)")
    // during expansion phases 1-2 the target is unpublished, but a
    // reindex-routed racing insert has already created shards there —
    // a cluster-wide drop must reach them or they silently survive
    cluster.runInsert(mapper.readTree(insertBody(names)), "iris")
    // distinct from p1name: its 1800000000 point must not muddy the
    // final per-series count
    val movedName =
      names.find(n => Lookup(3).poolOf(n) == 2 && n != p1name).get
    val sidNew = 1900000000L / 86400L
    cluster.expandPhased(afterRouting = () => {
      cluster.runInsert(mapper.readTree(
        s"""{"$movedName": [[1900000000, 9.0]]}"""), "iris")
      assert(graft.streaming.Ingest.shardDirs(spark, s"$cbase/pool2")
        .exists(_._2 == sidNew))
      cluster.runQuery(
        s"drop shards where sid == $sidNew set ignore_threshold true",
        1L, "iris")
      assert(!graft.streaming.Ingest.shardDirs(spark, s"$cbase/pool2")
        .exists(_._2 == sidNew),
        "target shard survived a cluster-wide drop")
    })
    // the expansion completes normally; the racing point is gone, the
    // re-indexed history is intact
    val sel = cluster.runQuery(s"select * from '$movedName'", 1L, "iris")
    assert(sel.get(movedName).size() === 6, sel)
  }

  test("a crash after a mid-expansion resurrect: recovery never migrates the old points") {
    import org.apache.spark.sql.functions.col
    val cbase = Files.createTempDirectory("graft-resurrect-crash").toString
    val cluster = new PoolCluster(spark, cbase, initialPools = 2)
    cluster.runInsert(mapper.readTree(insertBody(names)), "iris")
    val movedName = names.find(Lookup(3).poolOf(_) == 2).get
    cluster.runQuery(s"drop series '$movedName'", 1L, "iris")
    // the writer dies AFTER the switch persisted the mask: the
    // tombstone lift is durable but the writer's in-memory
    // resurrected set is gone — exactly the window the persisted
    // resurrected.json closes
    final class Crash extends RuntimeException("writer dies")
    intercept[Crash] {
      cluster.expandPhased(
        afterRouting = () => cluster.runInsert(mapper.readTree(
          s"""{"$movedName": [[1700009999, 42.5]]}"""), "iris"),
        afterSwitch = () => throw new Crash)
    }
    // a RECOVERING process (fresh instance over the same dirs) adopts
    // the grown pool set + mask from disk and completes the sweep; it
    // must leave the resurrected series' old points behind
    val recovered = new PoolCluster(spark, cbase, initialPools = 2)
    assert(recovered.nPools === 3)
    recovered.recoverExpansion()
    val sel = recovered.runQuery(s"select * from '$movedName'", 1L, "iris")
    assert(sel.get(movedName).size() === 1,
      s"recovery resurrected the old points: $sel")
    assert(sel.get(movedName).get(0).get(1).asDouble() === 42.5)
    assert(graft.streaming.Ingest.points(spark, s"$cbase/pool2")
      .where(col("series") === movedName).count() === 1L)
    (0 to 1).foreach { k =>
      assert(graft.streaming.Ingest.points(spark, s"$cbase/pool$k")
        .where(col("series") === movedName).count() === 0L, s"pool $k")
    }
    // recovery converged: mask lifted, resurrect mirror cleaned up
    assert(!recovered.meta.config.contains("reindex_mask"))
    assert(!new java.io.File(s"$cbase/pool0/meta/resurrected.json").exists())
  }

  test("cluster timeit reports one row per pool plus the master — listener.c:5026-5064") {
    val cbase = Files.createTempDirectory("graft-timeit").toString
    val cluster = new PoolCluster(spark, cbase, initialPools = 2)
    cluster.runInsert(mapper.readTree(insertBody(names)), "iris")
    val res = cluster.runQuery("timeit select sum(3600) from /.*/", 1L, "iris")
    val t = res.get("__timeit__")
    assert(t !== null, res)
    assert(t.size() === 3, t)
    assert((0 to 1).map(k => t.get(k).get("server").asText()) ===
      Seq("pool0", "pool1"))
    assert(t.get(2).get("server").asText() === "master")
    (0 until 3).foreach(i => assert(t.get(i).get("time").asDouble() >= 0.0))
    // the master row covers the whole request — at least any one
    // pool's setup share
    assert(t.get(2).get("time").asDouble() >=
      t.get(0).get("time").asDouble())
    // the query result itself is unchanged by the wrapper
    val plain = cluster.runQuery("select sum(3600) from /.*/", 1L, "iris")
    assert(!plain.has("__timeit__"))
    res.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .remove("__timeit__")
    assert(res.toString === plain.toString)
  }

  test("a cluster ranged select reads only in-range shards of every pool — series.c:927-938") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val cbase = Files.createTempDirectory("graft-cluster-prune").toString
    val sbase = Files.createTempDirectory("graft-single-prune").toString
    val cluster = new PoolCluster(spark, cbase, initialPools = 2)
    val single = new ApiCore(spark, sbase)
    // one point per day for five days: five day-shards per pool
    val body = mapper.readTree(names.map { n =>
      (0 until 5).map(d => s"[${1700000000L + d * 86400L}, ${d + n.length}]")
        .mkString(s""""$n": [""", ",", "]")
    }.mkString("{", ",", "}"))
    cluster.runInsert(body, "iris")
    single.runInsert(body, "iris")
    // 1700150000 / 86400 = 1700175000 / 86400 = shard 19677 (day 2)
    val q = "select * from /^metric\\.cpu\\..*/ between 1700150000 and 1700175000"
    // the point files the plan's scans select after partition pruning
    // (Dataset.inputFiles lists a path-read relation whole)
    def pointFiles(): Seq[String] =
      graft.parser.Planner.query(q, cluster.mergedEnv("iris"))
        .queryExecution.sparkPlan.collect { case s: FileSourceScanExec =>
          s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
            .flatMap(_.files.map(_.getPath.toString))
        }.flatten.filter(_.contains("/points/"))
    def check(pools: Int): Unit = {
      val files = pointFiles()
      assert(files.nonEmpty)
      assert(files.forall(_.contains("/shard=19677/")), files)
      (0 until pools).foreach(k =>
        assert(files.exists(_.contains(s"/pool$k/")), s"pool $k unread: $files"))
      val answer = cluster.runQuery(q, 1L, "iris")
      assert(answer.toString === single.runQuery(q, 1L, "iris").toString)
      assert(names.map(answer.get(_).size()).sum === names.size) // a point each
    }
    check(pools = 2) // steady state
    var switched = false
    cluster.expandPhased(afterSwitch = () => {
      switched = true
      check(pools = 3) // target published, sources masked
    })
    assert(switched)
    check(pools = 3)
  }
}
