package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.engine.Pipeline
import graft.engine.Pipeline._
import graft.streaming.Ingest
import graft.streaming.Ingest.PointIn

/** Out-of-order-tolerant continuous ingest (points.c:226-245): later
  * batches may carry older and duplicate timestamps; queries see all
  * points, and the incrementally-upserted catalog matches the data. */
class IngestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("bare first()/last() answer from the catalog, never the points — aggregate.c:495-510") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-skip").toString
    Ingest.appendBatch(Seq(
      PointIn("cpu", 300L, 2.5, "float", 2),
      PointIn("cpu", 100L, 1.5, "float", 1),
      PointIn("cpu", 200L, 9.0, "float", 3),
      PointIn("req", 100L, 0, "integer", 4, val_int = 7L),
      PointIn("req", 500L, 0, "integer", 5, val_int = 9223372036854775807L))
      .toDF(), dir, shardDuration = 100L)
    val env = new graft.server.ApiCore(spark, dir).env("iris")
    val first = graft.parser.Planner.query("select first() from 'cpu'", env)
    assert(first.collect().map(_.toSeq).toSeq === Seq(Seq("cpu", 100L, 1.5)))
    // the physical plan reads only catalog.parquet — no points scan
    val plan = first.queryExecution.executedPlan.toString
    assert(!plan.contains("/points"), plan)
    // integer series stay exact int64 through the canonical-string form
    val last = graft.parser.Planner.query("select last() from 'req'", env)
    assert(last.collect().map(_.toSeq).toSeq ===
      Seq(Seq("req", 500L, Long.MaxValue)))
  }

  test("ranged selects prune whole shard directories — series.c:927-938") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-prune").toString
    // five day-shards at the server's 86400 granularity
    Ingest.appendBatch((0 until 40).map(i =>
      PointIn("cpu", i.toLong * 10000, i.toDouble, "float", i.toLong)).toDF(),
      dir, shardDuration = 86400L)
    val env = new graft.server.ApiCore(spark, dir).env("iris")
    val df = graft.parser.Planner.query(
      "select * from 'cpu' between 110000 and 190000", env)
    val rows = df.collect().map(_.getLong(1)).sorted
    assert(rows.toSeq === (110000L to 180000L by 10000L))
    // the scan carries shard partition filters, so only the matching
    // shard directory is read
    val plan = df.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("shard"), plan)
    assert(pf.replaceAll("\\s", "").matches(".*PartitionFilters:\\[[^\\]]*shard.*"), pf)
  }

  test("list/count shards answer from shard-file metadata, zero point reads — shard.c") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-shardmeta").toString
    Ingest.appendBatch((0 until 30).map(i =>
      PointIn("cpu", i.toLong * 10000, i.toDouble, "float", i.toLong)).toDF(),
      dir, shardDuration = 86400L)
    val env = new graft.server.ApiCore(spark, dir).env("iris")
    val df = graft.parser.Planner.query("list shards", env)
    val rows = df.collect()
    // four day-shards (ts 0..290000 → sid 0..3); start/end are the
    // bucket bounds, size the real file bytes
    assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L, 3L))
    assert(rows.forall(r => r.getLong(3) === r.getLong(0) * 86400L &&
      r.getLong(4) === (r.getLong(0) + 1) * 86400L))
    assert(rows.forall(_.getLong(2) > 0L))
    // built from file statuses: the plan is a local relation over the
    // listing — the points directory is never scanned
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("/points"), plan)
    assert(!plan.contains("FileScan"), plan)
    val n = graft.parser.Planner.query("count shards", env).collect().head.getLong(0)
    assert(n === 4L)
  }

  test("compaction purges tombstoned series physically — optimize.c drop purge") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-purge").toString
    Ingest.appendBatch(Seq(
      PointIn("keep", 10L, 1.0, "float", 1),
      PointIn("gone", 20L, 2.0, "float", 2),
      PointIn("keep", 30L, 3.0, "float", 3)).toDF(),
      dir, shardDuration = 100L)
    Ingest.rollupBackfill(spark, dir, Seq(20L))
    val tombstones = Seq("gone").toDF("series")
    assert(Ingest.compact(spark, dir, maxFiles = 4, dropped = Some(tombstones)) === 1)
    val left = Ingest.points(spark, dir).select("series").distinct()
      .collect().map(_.getString(0)).toSet
    assert(left === Set("keep"))
    // the purged series leaves the catalog and the standing rollup too
    val api = new graft.server.ApiCore(spark, dir)
    assert(api.runQuery("count series", 1L, "iris").toString ===
      """{"columns":["series"],"rows":[[1]]}""")
    val rolled = spark.read.parquet(s"${Ingest.rollupPath(dir)}/20")
      .select("series").distinct().collect().map(_.getString(0)).toSet
    assert(rolled === Set("keep"))
  }

  test("removing a series costs the same Spark jobs in a 4-shard and a 16-shard store") {
    import spark.implicits._
    // a background series fills every shard; the removed one lives in
    // shard 0 only, so the pass rewrites one shard either way
    def removalJobs(shards: Int): Int = {
      val dir = Files.createTempDirectory(s"graft-remove$shards").toString
      Ingest.appendBatch(((0 until shards).map(s =>
        PointIn("bg", s * 100L, 1.0, "float", s)) :+
        PointIn("gone", 50L, 2.0, "float", shards)).toDF(),
        dir, shardDuration = 100L)
      val names = Seq("gone").toDF("series")
      val jobs = SparkTestSession.jobsOf {
        Ingest.compact(spark, dir, maxFiles = Int.MaxValue, dropped = Some(names))
      }
      assert(Ingest.points(spark, dir).collect().map(_.getString(0)).toSet ===
        Set("bg"))
      assert(Ingest.catalog(spark, dir).collect().map(_.getString(0)).toSeq ===
        Seq("bg"))
      jobs
    }
    val (small, large) = (removalJobs(4), removalJobs(16))
    info(s"removal: $small Spark jobs at 4 shards, $large at 16")
    assert(small === large)
  }

  test("drop shards keeps the catalog exact — bare count() and count series length match the points") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dropcat").toString
    Ingest.appendBatch(((0 until 40).map(i =>
      PointIn("cpu", i * 10L, i.toDouble, "float", i)) ++
      (0 until 10).map(i => PointIn("mem", i * 40L, 1.0, "float", 100L + i))).toDF(),
      dir, shardDuration = 100L)
    val api = new graft.server.ApiCore(spark, dir)
    def q(s: String) = api.runQuery(s, 1L, "iris").toString
    assert(q("drop shards where sid == 3 set ignore_threshold true").contains(
      "Successfully dropped 1 shards."))
    // the skip-points path answers from the catalog; `after 0` reads
    // the points
    assert(q("select count() from 'cpu'") === q("select count() from 'cpu' after 0"))
    assert(q("select last() from 'cpu'") === q("select last() from 'cpu' after 0"))
    assert(q("count series length") ===
      s"""{"columns":["series_length"],"rows":[[${Ingest.points(spark, dir).count()}]]}""")
  }

  test("insert coerces to the established series type — series.c:1141") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-coerce").toString
    // first point fixes 'cpu' as float, 'n' as integer
    Ingest.appendBatch(Seq(
      PointIn("cpu", 100L, 1.5, "float", 1),
      PointIn("n", 100L, 0, "integer", 2, val_int = 10L)).toDF(),
      dir, shardDuration = 100L)
    // later mismatched points coerce, they don't flip the type
    Ingest.appendBatch(Seq(
      PointIn("cpu", 200L, 0, "integer", 3, val_int = 7L),
      PointIn("n", 200L, 2.9, "float", 4),
      PointIn("n", 300L, 0, "string", 5, val_str = "12")).toDF(),
      dir, shardDuration = 100L)
    val cat = Ingest.catalog(spark, dir)
      .select("series", "type").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cat === Map("cpu" -> "float", "n" -> "integer"))
    val pts = Ingest.points(spark, dir)
      .orderBy("series", "ts").collect().map(_.toSeq)
    // cpu: integer 7 became 7.0 (float family); n: 2.9 truncated to 2,
    // "12" parsed to 12 (strtoll/strtod-style lenient parse)
    assert(pts.map(r => (r(0), r(1), r(2), r(3))).toSeq === Seq(
      ("cpu", 100L, 1.5, 0L), ("cpu", 200L, 7.0, 0L),
      ("n", 100L, 10.0, 10L), ("n", 200L, 2.0, 2L), ("n", 300L, 12.0, 12L)))
  }

  test("C-stdlib coercion table: prefix parse, saturation, %f — test_series.py") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-coerce2").toString
    Ingest.appendBatch(Seq(
      PointIn("string", 1538660000L, 0, "string", 1, val_str = "some string value"),
      PointIn("string", 1538660010L, 0, "integer", 2, val_int = -123456789L),
      PointIn("string", 1538660020L, -0.5, "float", 3),
      PointIn("string", 1538660030L, 1.0 / 3, "float", 4),
      PointIn("integer", 1538660000L, 0, "integer", 5, val_int = 1L),
      PointIn("integer", 1538660010L, 35.6, "float", 6),
      PointIn("integer", 1538660020L, 0, "string", 7, val_str = "-50%"),
      PointIn("integer", 1538660030L, 0, "string", 8, val_str = ""),
      PointIn("integer", 1538660035L, 0, "string", 9, val_str = "garbage"),
      PointIn("integer", 1538660040L, 0, "string", 10, val_str = "18446744073709551616"),
      PointIn("integer", 1538660050L, 0, "string", 11, val_str = "-18446744073709551616"),
      PointIn("double", 1538660000L, 1.0, "float", 12),
      PointIn("double", 1538660010L, 0, "integer", 13, val_int = -35L),
      PointIn("double", 1538660011L, 0, "string", 14, val_str = "-50%"),
      PointIn("double", 1538660030L, 0, "string", 15, val_str = ""),
      PointIn("double", 1538660035L, 0, "string", 16, val_str = "garbage"),
      // C strtod accepts inf/infinity/nan in ANY case (series.c:1141);
      // try_cast alone only parses 'Infinity'/'NaN' exactly
      PointIn("double", 1538660040L, 0, "string", 17, val_str = "inf"),
      PointIn("double", 1538660050L, 0, "string", 18, val_str = "-INFINITY"),
      PointIn("double", 1538660060L, 0, "string", 19, val_str = "+inf junk"),
      PointIn("double", 1538660070L, 0, "string", 20, val_str = "nan"),
      PointIn("double", 1538660080L, 0, "string", 21, val_str = "NaN")).toDF(),
      dir, shardDuration = 604800L)
    val pts = Ingest.points(spark, dir).orderBy("series", "ts", "pid").collect()
    def strs(s: String) = pts.filter(_.getString(0) == s).map(_.getString(4)).toSeq
    def ints(s: String) = pts.filter(_.getString(0) == s).map(_.getLong(3)).toSeq
    def dbls(s: String) = pts.filter(_.getString(0) == s).map(_.getDouble(2)).toSeq
    // string series: ints as %PRId64, doubles as %f (series.c:1190-1208;
    // the itest's comma decimals are its locale, C locale prints '.')
    assert(strs("string") ===
      Seq("some string value", "-123456789", "-0.500000", "0.333333"))
    // integer series: truncation + strtoll prefix parse with saturation
    assert(ints("integer") === Seq(1L, 35L, -50L, 0L, 0L,
      Long.MaxValue, Long.MinValue))
    // double series: strtod prefix parse, garbage/empty → 0.0,
    // case-insensitive signed inf/nan forms → IEEE specials
    val d = dbls("double")
    assert(d.take(5) === Seq(1.0, -35.0, -50.0, 0.0, 0.0))
    assert(d(5).isPosInfinity && d(6).isNegInfinity && d(7).isPosInfinity)
    assert(d(8).isNaN && d(9).isNaN)
  }

  test("catalog rewrite headroom: appendBatch against a 1M-series catalog") {
    // the catalog is rewritten in full per micro-batch (the reference
    // rewrites series.dat the same way); this measures the rewrite at
    // 1M series so the coalesce(1) write is a KNOWN cost, not a
    // guess. Measured here (local[4], 1M rows ≈ 40 MB): 9.6 s with
    // the old full-outer merge (catalog-wide shuffle per batch),
    // 6.1 s after the broadcast left-join + anti-join rewrite. Both
    // entry points merge one row per BATCH series (100 here, never the
    // 1M catalog rows) and rewrite the catalog in one job: the old rows
    // minus the batch's series, plus the merged rows. appendBatch
    // merges in one grouped, checkpointed pass joined to the catalog;
    // appendRows merges on the driver against the store's snapshot,
    // which its first call here loads (1M rows), and leaves the
    // snapshot advanced. On a 4-core VM, within a full test run:
    // appendBatch 4.3 s, appendRows 4.5 s with the snapshot load;
    // appendBatch took 13.1 s as the first test of a fresh JVM. The
    // residue is the single-task parquet encode. Acceptable for a
    // per-batch maintenance step; at 10M+ series move to
    // hash-partitioned catalog parquet with per-partition merge.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-bigcat").toString
    spark.range(1000000L).select(
      concat(lit("s."), col("id")).as("series"),
      lit(10L).as("length"), lit(100L).as("start"), lit(200L).as("end"),
      lit("float").as("type"), (col("id") % 4).as("pool"),
      lit("1.0").as("first_val"), lit("2.0").as("last_val"))
      .coalesce(4)
      .write.parquet(Ingest.catalogPath(dir))
    def batch(t: Long) = (1 to 100).map(i =>
      PointIn(s"s.$i", t + i, i.toDouble, "float", t + i))
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    try {
      val distributed = timed(Ingest.appendBatch(batch(300L).toDF(), dir,
        shardDuration = 86400L))
      val driver = timed(Ingest.appendRows(spark, batch(400L), dir,
        shardDuration = 86400L))
      info(f"over a 1M-series catalog: appendBatch $distributed%.1f s, " +
        f"appendRows $driver%.1f s")
      val cat = spark.read.parquet(Ingest.catalogPath(dir))
      assert(cat.count() === 1000000L)
      // each merge updated exactly the touched series
      val s1 = cat.where(col("series") === "s.1").head()
      assert(s1.getAs[Long]("length") === 12L)
      assert(s1.getAs[Long]("end") === 401L)
      assert(distributed < 60.0, f"appendBatch unexpectedly slow: $distributed%.1f s")
      assert(driver < 60.0, f"appendRows unexpectedly slow: $driver%.1f s")
    } finally Ingest.reloadCatalog(dir) // later suites keep no 1M-row snapshot
  }

  test("concurrent transport inserts serialize per store — test_insert.py:151-166") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-conc").toString
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val api = new graft.server.ApiCore(spark, dir)
    // 8 concurrent inserts over overlapping series; the catalog merge
    // is read-modify-write, so without per-store serialization counts
    // would be lost
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        val node = mapper.createObjectNode()
        (0 until 4).foreach { s =>
          val arr = node.putArray(s"cpu-$s")
          (0 until 5).foreach { k =>
            val pt = arr.addArray(); pt.add(i * 1000 + k * 10); pt.add(i * 10 + k)
          }
        }
        api.runInsert(node, "iris")
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val cat = Ingest.catalog(spark, dir)
    assert(cat.agg(org.apache.spark.sql.functions.sum("length")).head.getLong(0)
      === 8L * 4 * 5)
    assert(Ingest.points(spark, dir).count() === 8L * 4 * 5)
  }

  test("out-of-order batches land, queries see everything, catalog upserts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-ingest").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString

    val mem = MemoryStream[PointIn]
    val q = Ingest.start(mem.toDF(), dir, ckpt, shardDuration = 100L)
    try {
      // batch 1: in-order
      mem.addData(
        PointIn("cpu", 100L, 1.0, "float", 1),
        PointIn("cpu", 200L, 2.0, "float", 2),
        PointIn("mem", 150L, 5.0, "float", 3))
      q.processAllAvailable()
      // batch 2: OLDER timestamps + a duplicate ts — accepted, no
      // watermark drops anything
      mem.addData(
        PointIn("cpu", 50L, 0.5, "float", 4),
        PointIn("cpu", 200L, 2.5, "float", 5),
        PointIn("mem", 10L, 4.0, "float", 6))
      q.processAllAvailable()

      val pts = Ingest.points(spark, dir)
      assert(pts.count() === 6)
      // query sees all points in ts order, duplicates preserved
      val cpu = Pipeline(pts.where(col("series") === "cpu"), Nil)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(identity)
      assert(cpu.toSeq === Seq((50L, 0.5), (100L, 1.0), (200L, 2.0), (200L, 2.5)))
      // equal-ts insertion order via pid: last() takes pid 5
      val last = Pipeline(pts.where(col("series") === "cpu"), Seq(Agg(Last, None)))
        .collect().map(r => (r.getLong(1), r.getDouble(2)))
      assert(last.toSeq === Seq((200L, 2.5)))

      // catalog was maintained incrementally — length/start/end merged
      // across batches without re-scanning the fact table
      val cat = Ingest.catalog(spark, dir)
        .orderBy("series").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(cat.toSeq === Seq(("cpu", 4L, 50L, 200L), ("mem", 2L, 10L, 150L)))

      // shard partitioning (ts div 100) prunes time-range scans
      val shards = new java.io.File(s"$dir/points/sgroup=num").listFiles()
        .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
      assert(shards.toSeq === Seq("shard=0", "shard=1", "shard=2"))

      // pointsRange: same rows, but the plan prunes shard directories
      val ranged = Ingest.pointsRange(spark, dir, Some(100L), Some(201L),
        shardDuration = 100L)
      assert(ranged.count() === 4)
      val plan = ranged.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") || plan.contains("shard"),
        s"expected shard partition pruning in plan:\n$plan")
    } finally q.stop()
  }

  test("shard expiration deletes old shards and rebuilds the catalog — db.c:865-878") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-exp").toString
    val batch = Seq(
      PointIn("cpu", 50L, 1.0, "float", 1), // shard 0 — expires
      PointIn("cpu", 150L, 2.0, "float", 2), // shard 1 — expires
      PointIn("cpu", 250L, 3.0, "float", 3), // shard 2 — survives
      PointIn("mem", 40L, 9.0, "float", 4)) // shard 0 — series fully expires
      .toDF()
    Ingest.appendBatch(batch, dir, shardDuration = 100L)
    // now=400, expiration=200 → cutoff shard = (400-200)/100 = 2
    val dropped = Ingest.expire(spark, dir, expiration = 200L, now = 400L,
      shardDuration = 100L)
    assert(dropped === 2)
    val pts = Ingest.points(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(pts === Set(("cpu", 250L)))
    val cat = Ingest.catalog(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(cat.toSeq === Seq(("cpu", 1L, 250L, 250L)))
    // idempotent: nothing more to expire
    assert(Ingest.expire(spark, dir, 200L, 400L, 100L) === 0)
  }

  test("compaction merges per-batch fragments into one sorted file — optimize.c") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-compact").toString
    (1 to 6).foreach { b =>
      Ingest.appendBatch(
        Seq(PointIn("cpu", b * 10L, b.toDouble, "float", b)).toDF(),
        dir, shardDuration = 1000L)
    }
    val shard = new java.io.File(s"$dir/points/sgroup=num/shard=0")
    def parts = shard.listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts === 6)
    assert(Ingest.compact(spark, dir, maxFiles = 4) === 1)
    assert(parts === 1)
    // data survives compaction byte-for-byte
    val pts = Ingest.points(spark, dir).orderBy("ts").collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(pts.toSeq === (1 to 6).map(b => (b * 10L, b.toDouble)))
    // below the threshold nothing is rewritten
    assert(Ingest.compact(spark, dir, maxFiles = 4) === 0)
  }

  test("string series shard at duration_log, numbers at duration_num — db.c:395-424") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-durlog").toString
    // duration_num=1000, duration_log=100: same timestamps land in
    // different shard buckets per family
    Ingest.appendBatch(Seq(
      PointIn("cpu", 250L, 1.5, "float", 1),
      PointIn("cpu", 1250L, 2.5, "float", 2),
      PointIn("log.a", 250L, 0, "string", 3, val_str = "boot"),
      PointIn("log.a", 1250L, 0, "string", 4, val_str = "crash"))
      .toDF(), dir, shardDuration = 1000L, durationLog = 100L)
    val num = new java.io.File(s"$dir/points/sgroup=num").listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    val log = new java.io.File(s"$dir/points/sgroup=log").listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(num.toSeq === Seq("shard=0", "shard=1"))
    assert(log.toSeq === Seq("shard=12", "shard=2"))
    // shardsMeta carries per-type durations and the shard type
    val metaRows = Ingest.shardsMeta(spark, dir, 1000L, 100L).collect()
      .map(r => (r.getString(4), r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(metaRows.toSeq === Seq(
      ("log", 2L, 200L, 300L), ("log", 12L, 1200L, 1300L),
      ("number", 0L, 0L, 1000L), ("number", 1L, 1000L, 2000L)))
    // both families read back correctly through a ranged scan
    val ranged = Ingest.pointsRange(spark, dir, Some(200L), Some(300L),
      shardDuration = 1000L, durationLog = 100L)
    val got = ranged.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === Set(("cpu", 250L), ("log.a", 250L)))
    // expiration_log expires only log shards
    assert(Ingest.expire(spark, dir, expiration = 1000L, now = 1500L,
      shardDuration = 1000L, durationLog = 100L, group = "log") === 1)
    val left = Ingest.points(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(left === Set(("cpu", 250L), ("cpu", 1250L), ("log.a", 1250L)))
  }

  test("tee mirrors every inserted batch to a second location — tee.c") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-tee-store").toString
    val ckpt = Files.createTempDirectory("graft-tee-ckpt").toString
    val mirror = Files.createTempDirectory("graft-tee-mirror").toString + "/tee"
    val mem = MemoryStream[PointIn]
    val q = Ingest.start(mem.toDF(), dir, ckpt, shardDuration = 100L,
      tee = Some(mirror))
    try {
      mem.addData(PointIn("cpu", 1L, 1.0, "float", 1),
        PointIn("cpu", 2L, 2.0, "float", 2))
      q.processAllAvailable()
      assert(Ingest.points(spark, dir).count() === 2)
      assert(spark.read.parquet(mirror).count() === 2)
    } finally q.stop()
  }

  test("auto duration estimator + rounding — shard.c:136-169, points.c:1747") {
    // interval detector: < 8 points, regular, jittered-regular, irregular
    assert(Ingest.detectInterval((0 until 7).map(_ * 300L)) === 0L)
    assert(Ingest.detectInterval((0 until 20).map(_ * 300L)) === 300L)
    // sawtooth jitter: deltas alternate 301/296; quartiles stay within
    // the 10% tolerance band of the median so 301 is accepted
    assert(Ingest.detectInterval(
      (0 until 40).map(t => t * 300L + (t % 5) - 2)) === 301L)
    assert(Ingest.detectInterval(
      Seq(0L, 1L, 10L, 100L, 1000L, 5000L, 20000L, 100000L, 500000L)) === 0L)
    // duration rounding (factor 1, OPTIMAL_POINTS_PER_SHARD = 2000):
    // 300 s -> 600,000 s: under a week, 6.9 days -> 7 whole days
    assert(Ingest.durationFromInterval(300L, 1L, 86400L, 86400L) === 604800L)
    // 60 s -> 120,000 s -> 2 whole days
    assert(Ingest.durationFromInterval(60L, 1L, 86400L, 86400L) === 172800L)
    // 1 s -> 2,000 s: under a day AND under an hour -> 1 whole hour
    assert(Ingest.durationFromInterval(1L, 1L, 86400L, 86400L) === 3600L)
    // 3600 s -> 7.2M s -> 11 whole weeks down, so 12 weeks up
    assert(Ingest.durationFromInterval(3600L, 1L, 86400L, 86400L) === 7257600L)
    // 43 s -> 86,000 s: just under a day -> falls to hours -> 24 h
    assert(Ingest.durationFromInterval(43L, 1L, 86400L, 86400L) === 86400L)
    // exact hit on an existing duration reuses it verbatim
    assert(Ingest.durationFromInterval(300L, 1L, 600000L, 86400L) === 600000L)
    // ms-precision factor scales the week/day/hour rounding grid
    assert(Ingest.durationFromInterval(300000L, 1000L, 1L, 1L) === 604800000L)
  }

  test("auto duration resolves at first flush, persists, per group — test_auto_duration.py") {
    val dir = Files.createTempDirectory("graft-autodur").toString
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val api = new graft.server.ApiCore(spark, dir, autoDuration = true)
    def insert(api: graft.server.ApiCore, name: String, ts: Seq[Long],
        str: Boolean = false): Unit = {
      val node = mapper.createObjectNode()
      val arr = node.putArray(name)
      ts.zipWithIndex.foreach { case (t, i) =>
        val p = arr.addArray(); p.add(t)
        if (str) p.add(s"v$i") else p.add(i)
      }
      api.runInsert(node, "iris")
    }
    // 5-minute numeric series -> 7-day shards (itest cfg [300, 10])
    insert(api, "five-min", (0 until 20).map(i => 1700000000L + i * 300L))
    assert(api.shardDuration === 604800L)
    // the resolved duration is queryable (show + shards view scale)
    val env = api.env("iris")
    assert(graft.parser.Planner.query("show duration_num", env)
      .collect().head.getString(1) === "604800")
    // log series resolve independently: hourly strings -> 12 weeks
    insert(api, "logline", (0 until 20).map(i => 1700000000L + i * 3600L),
      str = true)
    assert(api.durationLog === 7257600L)
    // a second numeric batch cannot re-bucket: duration is pinned
    insert(api, "one-sec", (0 until 20).map(i => 1700000000L + i))
    assert(api.shardDuration === 604800L)
    // the choice survives a server restart WITHOUT the auto flag
    val reopened = new graft.server.ApiCore(spark, dir)
    assert(reopened.shardDuration === 604800L)
    assert(reopened.durationLog === 7257600L)
    // an undetectable (irregular) first batch keeps the 1-day default
    val dir2 = Files.createTempDirectory("graft-autodur2").toString
    val api2 = new graft.server.ApiCore(spark, dir2, autoDuration = true)
    insert(api2, "bursty",
      Seq(0L, 1L, 10L, 100L, 1000L, 5000L, 20000L, 100000L, 500000L))
    assert(api2.shardDuration === 86400L)
  }

  /** Coarse select answered twice — through the store's rollup path
    * and with the rollup disabled — and pinned identical, plus the
    * zero-raw-files proof that the rollup path really served. */
  private def assertRollupAgreesWithRaw(api: graft.server.ApiCore,
      q: String): Unit = {
    val env = api.env("iris")
    assert(env.rollup.isDefined, "store lost its rollup view")
    val served = graft.parser.Planner.query(q, env)
    assert(!served.inputFiles.exists(_.contains("/points/")),
      s"rollup-eligible select touched raw points: $q")
    val raw = graft.parser.Planner.query(q, env.copy(rollup = None))
    assert(served.collect().map(_.toSeq).toSet ===
      raw.collect().map(_.toSeq).toSet, q)
  }

  test("retention prunes the standing rollup — expired buckets stop serving") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-rollup-ttl").toString
    // ten 100-unit shards; values exact in double so sums are
    // order-independent across the rollup's partial re-aggregation
    Ingest.appendBatch((0 until 100).map(i =>
      PointIn("cpu", i.toLong * 10, i * 0.5, "float", i.toLong)).toDF(),
      dir, shardDuration = 100L)
    graft.streaming.Rollup.fromPoints(
      Ingest.points(spark, dir).select(col("series"), col("ts"), col("val")),
      20L).write.parquet(s"$dir/rollup/20")
    // expire shards wholly before ts=500 — cutoff lands mid-rollup:
    // bucket 500 covers (480, 500], so it straddles and must be
    // recomputed from the lone survivor ts=500
    val dropped = Ingest.expire(spark, dir, expiration = 500L, now = 1000L,
      shardDuration = 100L)
    assert(dropped === 5)
    val rows = spark.read.parquet(s"$dir/rollup/20")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(rows.forall(_._1 >= 500L), s"expired buckets survived: ${rows.toSeq}")
    assert(rows.filter(_._1 == 500L).map(_._2).sum === 1L,
      "straddling bucket not recomputed from survivors")
    val api = new graft.server.ApiCore(spark, dir)
    assertRollupAgreesWithRaw(api, "select count(1m) from 'cpu'")
    assertRollupAgreesWithRaw(api, "select sum(1m) from 'cpu'")
  }

  test("a second mutating process is refused while the store lock is held") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-oslock").toString
    val savedWait = Ingest.lockWaitMs
    Ingest.lockWaitMs = 0L // no wait window: pin the refusal itself
    Ingest.appendBatch(Seq(PointIn("cpu", 100L, 1.0, "float", 1)).toDF(),
      dir, shardDuration = 100L)
    // simulate another process mid-mutation: a foreign channel holds
    // <store>/.lock (cross-process, tryLock returns null; in-JVM the
    // overlap surfaces as OverlappingFileLockException — same refusal)
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(dir, ".lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val held = ch.lock()
    try {
      val e = intercept[graft.parser.QueryError] {
        Ingest.appendBatch(Seq(PointIn("cpu", 200L, 2.0, "float", 2)).toDF(),
          dir, shardDuration = 100L)
      }
      assert(e.getMessage.contains("another process"))
      // the refused mutation wrote nothing
      assert(Ingest.points(spark, dir).count() === 1)
    } finally { held.release(); ch.close(); Ingest.lockWaitMs = savedWait }
    // lock released → the same mutation now succeeds
    Ingest.appendBatch(Seq(PointIn("cpu", 200L, 2.0, "float", 2)).toDF(),
      dir, shardDuration = 100L)
    assert(Ingest.points(spark, dir).count() === 2)
  }

  test("a mutator WAITS for a foreign lock and is served when it frees") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lockwait").toString
    Ingest.appendBatch(Seq(PointIn("cpu", 100L, 1.0, "float", 1)).toDF(),
      dir, shardDuration = 100L)
    val savedWait = Ingest.lockWaitMs
    Ingest.lockWaitMs = 10000L
    // a foreign process holds the store for ~700 ms, then releases —
    // the concurrent mutation queues behind it instead of refusing
    // (the reference's event loop likewise queues concurrent inserts)
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(dir, ".lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val held = ch.lock()
    val releaser = new Thread(() => {
      Thread.sleep(700L); held.release(); ch.close()
    })
    releaser.start()
    try {
      val t0 = System.nanoTime()
      Ingest.appendBatch(Seq(PointIn("cpu", 200L, 2.0, "float", 2)).toDF(),
        dir, shardDuration = 100L)
      val waited = (System.nanoTime() - t0) / 1e6
      assert(waited >= 300.0, s"did not wait for the foreign lock ($waited ms)")
      assert(Ingest.points(spark, dir).count() === 2)
    } finally { releaser.join(); Ingest.lockWaitMs = savedWait }
  }

  test("log-group expiry leaves the numeric rollup intact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-rollup-logttl").toString
    // numeric history 0..990 in num shards, string history in log shards
    Ingest.appendBatch((0 until 100).map(i =>
      PointIn("cpu", i.toLong * 10, i * 0.5, "float", i.toLong)).toDF(),
      dir, shardDuration = 100L, durationLog = 100L)
    Ingest.appendBatch((0 until 10).map(i =>
      PointIn("syslog", i.toLong * 100, 0, "string", 1000L + i,
        val_str = s"m$i")).toDF(),
      dir, shardDuration = 100L, durationLog = 100L)
    graft.streaming.Rollup.fromPoints(
      Ingest.points(spark, dir).select(col("series"), col("ts"), col("val")),
      20L).write.parquet(s"$dir/rollup/20")
    // expire LOG shards wholly before ts=500: only string shards go —
    // cpu's raw shards survive, so its rollup history below 500 must too
    val dropped = Ingest.expire(spark, dir, expiration = 500L, now = 1000L,
      shardDuration = 100L, durationLog = 100L, group = "log")
    assert(dropped === 5)
    val cpuBuckets = spark.read.parquet(s"$dir/rollup/20")
      .where(col("series") === "cpu")
      .collect().map(_.getLong(1))
    assert(cpuBuckets.exists(_ < 500L),
      "log-group expiry pruned numeric rollup history whose raw shards survive")
    val api = new graft.server.ApiCore(spark, dir)
    assertRollupAgreesWithRaw(api, "select count(1m) from 'cpu'")
    assertRollupAgreesWithRaw(api, "select sum(1m) from 'cpu'")
  }

  test("batch inserts keep the standing rollup exact — fresh and backfilled points serve") {
    val dir = Files.createTempDirectory("graft-rollup-ins").toString
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val api = new graft.server.ApiCore(spark, dir)
    def insert(name: String, pts: Seq[(Long, Double)]): Unit = {
      val node = mapper.createObjectNode()
      val arr = node.putArray(name)
      pts.foreach { case (t, v) => val p = arr.addArray(); p.add(t); p.add(v) }
      api.runInsert(node, "iris")
    }
    insert("cpu", (0 until 50).map(i => (1700000000L + i * 30L, i * 0.5)))
    graft.streaming.Rollup.fromPoints(
      Ingest.points(spark, dir).select(col("series"), col("ts"), col("val")),
      60L).write.parquet(s"$dir/rollup/60")
    // later batches: beyond the rollup's coverage, backfilled into an
    // existing bucket, and a brand-new series — the insert hook must
    // fold all three in (the read path re-aggregates delta rows)
    insert("cpu", (0 until 20).map(i => (1700002000L + i * 30L, 100.0 + i)))
    insert("cpu", Seq((1700000005L, 7.5)))
    insert("mem", (0 until 30).map(i => (1700000000L + i * 45L, i * 0.25)))
    assertRollupAgreesWithRaw(api, "select count(2m) from /.*/")
    assertRollupAgreesWithRaw(api, "select max(2m) from /.*/")
    assertRollupAgreesWithRaw(api, "select sum(2m) from /.*/")
  }

  test("drop shards recomputes the rollup; streaming-sink dirs are never served") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-rollup-drop").toString
    Ingest.appendBatch((0 until 60).map(i =>
      PointIn("cpu", i.toLong * 10, 1.0, "float", i.toLong)).toDF(),
      dir, shardDuration = 100L)
    graft.streaming.Rollup.fromPoints(
      Ingest.points(spark, dir).select(col("series"), col("ts"), col("val")),
      20L).write.parquet(s"$dir/rollup/20")
    val api = new graft.server.ApiCore(spark, dir)
    val env = api.env("iris")
    graft.parser.Planner.query(
      "drop shards where sid == 2 set ignore_threshold true", env)
    assertRollupAgreesWithRaw(api, "select count(1m) from 'cpu'")
    // a live streaming-sink dir (finer bucket, would otherwise win the
    // finest-rollup pick) is ignored: _spark_metadata marks it
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/rollup/10/_spark_metadata"))
    api.meta.storeGeneration.incrementAndGet() // force a re-list
    assert(api.env("iris").rollup.map(_._1) === Some(20L),
      "streaming-sink rollup dir must not be served")
  }

  test("object-store mutator lease: live foreign lease refuses, dead one is superseded") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lease").toString
    Ingest.forceLeaseForTests = true
    val savedTtl = Ingest.leaseTtlMs
    val savedWait = Ingest.lockWaitMs
    Ingest.leaseTtlMs = 3000L
    Ingest.lockWaitMs = 0L // pin the refusal; the wait case is below
    try {
      // acquire epoch-1, mutate, release: the lease dir ends empty
      Ingest.appendBatch(Seq(PointIn("cpu", 100L, 1.0, "float", 1)).toDF(),
        dir, shardDuration = 100L)
      val ld = new java.io.File(dir, ".lease")
      assert(ld.isDirectory &&
        !ld.listFiles().exists(_.getName.startsWith("epoch-")),
        s"lease not released: ${ld.listFiles().toSeq}")
      // a LIVE foreign lease is the loud refusal (one mutating process)
      def foreign(epoch: Long, deadlineMs: Long): Unit = {
        val w = new java.io.FileWriter(new java.io.File(ld, s"epoch-$epoch"))
        w.write(s"""{"epoch":$epoch,"holder":"other/pid@box","deadlineMs":$deadlineMs}""")
        w.close()
      }
      foreign(5L, System.currentTimeMillis() + 60000L)
      val e = intercept[graft.parser.QueryError] {
        Ingest.appendBatch(Seq(PointIn("cpu", 200L, 2.0, "float", 2)).toDF(),
          dir, shardDuration = 100L)
      }
      assert(e.getMessage.contains("leased by mutator other/pid@box"), e.getMessage)
      assert(Ingest.points(spark, dir).count() === 1) // refused wrote nothing
      // an EXPIRED foreign lease (holder died a TTL ago) is superseded:
      // the next mutator claims epoch 6 and GCs the dead epoch file
      new java.io.File(ld, "epoch-5").delete()
      foreign(5L, System.currentTimeMillis() - 1L)
      Ingest.appendBatch(Seq(PointIn("cpu", 200L, 2.0, "float", 2)).toDF(),
        dir, shardDuration = 100L)
      assert(Ingest.points(spark, dir).count() === 2)
      assert(!new java.io.File(ld, "epoch-5").exists(), "dead epoch not GCd")
      // a live foreign lease that expires WITHIN the wait window is
      // WAITED OUT, then superseded — concurrent mutators queue
      Ingest.lockWaitMs = 10000L
      foreign(10L, System.currentTimeMillis() + 700L)
      val t0 = System.nanoTime()
      Ingest.appendBatch(Seq(PointIn("cpu", 300L, 3.0, "float", 3)).toDF(),
        dir, shardDuration = 100L)
      assert((System.nanoTime() - t0) / 1e6 >= 300.0, "did not wait out the lease")
      assert(Ingest.points(spark, dir).count() === 3)
    } finally {
      Ingest.forceLeaseForTests = false
      Ingest.leaseTtlMs = savedTtl
      Ingest.lockWaitMs = savedWait
    }
  }

  test("a lease superseded mid-mutation surfaces as an error at release — fencing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lease-fence").toString
    Ingest.forceLeaseForTests = true
    val savedTtl = Ingest.leaseTtlMs
    Ingest.leaseTtlMs = 3000L
    try {
      val e = intercept[graft.parser.QueryError] {
        Ingest.withStoreLock(dir) {
          // simulate a mutator that took over after OUR ttl lapsed
          // (e.g. this process sat in a GC pause, stopped renewing)
          val w = new java.io.FileWriter(
            new java.io.File(new java.io.File(dir, ".lease"), "epoch-2"))
          w.write(s"""{"epoch":2,"holder":"usurper","deadlineMs":${System.currentTimeMillis() + 60000L}}""")
          w.close()
        }
      }
      assert(e.getMessage.contains("superseded by epoch 2 mid-mutation"),
        e.getMessage)
    } finally {
      Ingest.forceLeaseForTests = false
      Ingest.leaseTtlMs = savedTtl
    }
  }

  /** An insert body in the map form: series -> [[ts, value], ...];
    * Long, Double and String values become integer, float and string
    * points. */
  private def insertBody(points: Seq[(String, Long, Any)])
      : com.fasterxml.jackson.databind.JsonNode = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
    points.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (name, pts) =>
      val arr = node.putArray(name)
      points.filter(_._1 == name).foreach { case (_, ts, v) =>
        val pt = arr.addArray(); pt.add(ts)
        v match {
          case x: Long => pt.add(x)
          case x: Double => pt.add(x)
          case x: String => pt.add(x)
        }
      }
    }
    node
  }

  test("one insert runs at most 2 Spark jobs; a new tombstone adds one name collect to the next insert only") {
    val dir = Files.createTempDirectory("graft-jobs").toString
    val api = new graft.server.ApiCore(spark, dir)
    api.runInsert(insertBody(Seq(("cpu", 100L, 1.5), ("n", 100L, 10L),
      ("log", 100L, "boot"), ("gone", 100L, 1.0))), "iris")
    // a mixed-type batch: existing series of all three types receive
    // cross-type values, and one series is new
    def batch(t: Long) = insertBody(Seq(("cpu", t, 7L), ("cpu", t + 1, "-50%"),
      ("n", t, 2.9), ("n", t + 1, "inf"), ("log", t, 3L), ("log", t + 1, 0.25),
      (s"fresh.$t", t, "x")))
    import SparkTestSession.jobsOf
    val plain = jobsOf(api.runInsert(batch(200L), "iris"))
    info(s"insert: $plain Spark jobs")
    assert(plain <= 2, s"$plain Spark jobs for one insert")
    // a tombstone makes every insert check whether it re-creates a
    // dropped name. The first insert after a tombstone change collects
    // the names once (MetaStore.droppedNames); every later one only
    // looks them up.
    api.runQuery("drop series 'gone' set ignore_threshold true", 1L, "iris")
    val first = jobsOf(api.runInsert(batch(300L), "iris"))
    info(s"first insert after a drop: $first Spark jobs")
    assert(first <= 3, s"$first Spark jobs for one insert")
    val tombstoned = jobsOf(api.runInsert(batch(400L), "iris"))
    info(s"insert with a tombstone present: $tombstoned Spark jobs")
    assert(tombstoned <= 2, s"$tombstoned Spark jobs for one insert")
  }

  /** Insert sequences of (series, ts, value) points: cross-type values
    * (the C-stdlib coercion strings among them), few names and a narrow
    * ts range, so series recur across inserts, points arrive out of
    * order and share timestamps. */
  private val insertPlan = {
    import org.scalacheck.Gen
    val value: Gen[Any] = Gen.oneOf(
      Gen.choose(-1000L, 1000L), Gen.oneOf(Long.MaxValue, Long.MinValue),
      Gen.choose(-1e6, 1e6), Gen.oneOf(35.6, -0.5, 1e300),
      Gen.oneOf("-50%", "inf", "-INFINITY", "nan", "12", "garbage", "",
        " 7.5e1x", "18446744073709551616"))
    val point = for {
      s <- Gen.choose(0, 4); ts <- Gen.choose(0L, 30L); v <- value
    } yield (s"s$s", ts, v)
    val insert = Gen.choose(1, 10).flatMap(Gen.listOfN(_, point))
    Gen.choose(2, 4).flatMap(Gen.listOfN(_, insert))
  }

  private def typeOf(v: Any) = v match {
    case _: Long => "integer"; case _: Double => "float"; case _ => "string"
  }

  test("property: the incrementally merged catalog equals one recomputed from the points") {
    import org.scalacheck.{Prop, Test}
    import org.scalacheck.rng.Seed
    val prop = Prop.forAllNoShrink(insertPlan) { inserts =>
      val dir = Files.createTempDirectory("graft-catprop").toString
      val api = new graft.server.ApiCore(spark, dir)
      inserts.zipWithIndex.foreach { case (pts, i) =>
        api.runInsert(insertBody(pts), "iris")
        if (i == 0) {
          // the second insert merges into a catalog written as several
          // files; every later one into the single file it rewrote
          val fs = new org.apache.hadoop.fs.Path(dir)
            .getFileSystem(spark.sessionState.newHadoopConf())
          val cat = new org.apache.hadoop.fs.Path(Ingest.catalogPath(dir))
          val tmp = new org.apache.hadoop.fs.Path(s"$dir/catalog.split")
          Ingest.catalog(spark, dir).repartition(3).write.parquet(tmp.toString)
          fs.delete(cat, true); fs.rename(tmp, cat)
        }
      }
      // the established type: the series' first point in the first
      // insert that carries it, by (ts, position)
      val types = inserts.flatten.map(_._1).distinct.map { s =>
        val first = inserts.find(_.exists(_._1 == s)).get.filter(_._1 == s)
        s -> typeOf(first.minBy(_._2)._3)
      }.toMap
      val ord = struct(col("ts"), col("pid"))
      val vstr = when(col("tp") === "integer", col("val_int").cast("string"))
        .when(col("tp") === "string", col("val_str"))
        .otherwise(col("val").cast("string"))
      // every point of a series is stored as its established type
      val recomputed = spark.read.parquet(Ingest.pointsPath(dir))
        .groupBy(col("series"))
        .agg(count(lit(1)), min(col("ts")), max(col("ts")), min(col("tp")),
          max(col("tp")), min_by(vstr, ord), max_by(vstr, ord))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4), r.getString(6), r.getString(7)),
          r.getString(5)))
        .toMap
      val catalog = Ingest.catalog(spark, dir)
        .select("series", "length", "start", "end", "type", "first_val", "last_val")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4), r.getString(5), r.getString(6)))
        .toMap
      val fromPoints = recomputed.map { case (s, (row, _)) => s -> row }
      val pointTypes = recomputed.map { case (s, (row, maxTp)) =>
        s -> Set(row._4, maxTp) }
      Prop.propBoolean(catalog == fromPoints &&
          pointTypes == types.map { case (s, t) => s -> Set(t) }) :|
        s"catalog $catalog\nfrom points $fromPoints\nmodel types $types"
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(8).withInitialSeed(Seed(20261018L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("property: appendRows and appendBatch leave the same catalog and points") {
    import org.scalacheck.{Prop, Test}
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val prop = Prop.forAllNoShrink(insertPlan) { inserts =>
      val driver = Files.createTempDirectory("graft-rows").toString
      val distributed = Files.createTempDirectory("graft-batch").toString
      // `z` lives in shard 0 only until `drop shards` empties it; the
      // last insert then merges into its length-0 row
      val steps = inserts.updated(0, inserts.head :+ (("z", 1L, 2.5)))
        .updated(inserts.size - 1, inserts.last :+ (("z", 25L, "7")))
      var pid = 0L
      steps.zipWithIndex.foreach { case (pts, i) =>
        val rows = pts.map { case (s, ts, v) =>
          pid += 1
          v match {
            case x: Long => PointIn(s, ts, x.toDouble, "integer", pid, val_int = x)
            case x: Double => PointIn(s, ts, x, "float", pid)
            case x: String => PointIn(s, ts, 0.0, "string", pid, val_str = x)
          }
        }
        Ingest.appendRows(spark, rows, driver, shardDuration = 10L, durationLog = 10L)
        Ingest.appendBatch(rows.toDF(), distributed, shardDuration = 10L,
          durationLog = 10L)
        if (i == 0) Seq(driver, distributed).foreach { d =>
          Ingest.dropShards(spark, d,
            Ingest.shardDirs(spark, d).filter(_._2 == 0L).map(_._3))
        }
      }
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("\t")).toSeq
      def catalog(d: String) = sorted(Ingest.catalog(spark, d))
      def points(d: String) = sorted(spark.read.parquet(Ingest.pointsPath(d))
        .select("series", "ts", "pid", "val", "val_int", "val_str", "tp",
          "sgroup", "shard"))
      Prop.propBoolean(catalog(driver) == catalog(distributed) &&
          points(driver) == points(distributed)) :|
        s"appendRows catalog ${catalog(driver)}\nappendBatch catalog " +
          s"${catalog(distributed)}\nappendRows points ${points(driver)}\n" +
          s"appendBatch points ${points(distributed)}"
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(6).withInitialSeed(Seed(20261020L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
