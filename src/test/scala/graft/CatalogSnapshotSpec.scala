package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.parser.{EngineEnv, Planner, QueryParser, SelectStmt}
import graft.server.{ApiCore, PoolCluster}
import graft.streaming.Ingest

/** The series catalog served from driver memory (Ingest.catalogSnapshot,
  * the analog of the reference's in-memory series map): metadata
  * queries start no Spark job, the snapshot stays equal to
  * catalog.parquet after every kind of mutation, and readers never
  * read a catalog file an insert is replacing. */
class CatalogSnapshotSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val mapper = new ObjectMapper()

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  private def body(json: String): JsonNode = mapper.readTree(json)

  private def sorted(rows: Seq[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq).sortBy(_.head.toString)

  /** The driver snapshot equals catalog.parquet, row for row. */
  private def assertFresh(dir: String, step: String): Unit = {
    val snap = sorted(Ingest.catalogSnapshot(spark, dir).rows)
    val disk = sorted(Ingest.catalog(spark, dir).collect().toSeq)
    assert(snap === disk, s"snapshot differs from catalog.parquet after $step")
  }

  /** A mutation this process did not make: catalog.parquet rewritten
    * with one more series and the store generation at `metaDir` bumped,
    * the way another server process's insert leaves the store, without
    * this process's insert path seeing it. */
  private def foreignInsert(storeDir: String, metaDir: String, name: String): Unit = {
    foreignCatalogWrite(storeDir, Row(name, 1L, 10L, 10L, "float", "1.5", "1.5", 0L))
    new graft.meta.MetaStore().bumpGeneration(spark, metaDir)
  }

  /** catalog.parquet rewritten outside this process with one more row
    * and no generation bump, the way a streaming sink in another
    * process leaves it. */
  private def foreignCatalogWrite(storeDir: String, extra: Row): Unit = {
    val rows = Ingest.catalog(spark, storeDir).collect().toSeq :+ extra
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val written = s"$storeDir/catalog.foreign"
    spark.createDataFrame(rows.asJava, Ingest.CatalogSchema).coalesce(1)
      .write.parquet(written)
    val cat = new org.apache.hadoop.fs.Path(Ingest.catalogPath(storeDir))
    fs.delete(cat, true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(written), cat))
  }

  private def names(res: JsonNode): Set[String] = {
    val b = Set.newBuilder[String]
    res.get("rows").forEach(r => b += r.get(0).asText())
    b.result()
  }

  test("metadata queries run zero Spark jobs on a warm store") {
    val dir = tmp("graft-snap-jobs")
    val api = new ApiCore(spark, dir)
    api.runInsert(body(
      """{"f.a": [[100, 1.5], [200, 2.5]], "f.b": [[100, 3.0]],
        | "i.a": [[100, 7]], "s.a": [[100, "boot"]]}""".stripMargin), "iris")
    api.runQuery("count series", 1L, "iris") // first open loads the file
    Seq("list series", "list series name, length /f\\..*/",
        "list series name, type where type == float",
        "count series", "count series /f\\..*/",
        "count series where length > 1", "count series length",
        "count series length /f\\..*/", "count pools", "list pools")
      .foreach { q =>
        val jobs = SparkTestSession.jobsOf(api.runQuery(q, 1L, "iris"))
        assert(jobs === 0, s"`$q` ran $jobs Spark jobs")
      }
    assert(api.runQuery("count series length /f\\..*/", 1L, "iris").toString ===
      """{"columns":["series_length"],"rows":[[3]]}""")
    assert(api.runQuery("count series length /none.*/", 1L, "iris").toString ===
      """{"columns":["series_length"],"rows":[[null]]}""")
    assert(api.runQuery("count pools", 1L, "iris").get("rows").get(0).get(0)
      .asLong() >= 1L)
    // the parquet-demo env (an events table, no Ingest store) reads the
    // same snapshot code: 3 families × 4 (event_type, user) series
    val demoDir = tmp("graft-snap-demo")
    import spark.implicits._
    (0 until 48).map(i => (i.toLong, i * 60000000000L, (i % 4).toLong,
        Seq("click", "view")(i % 2), i * 0.5, s"p$i"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$demoDir/events.parquet")
    val demo = EngineEnv(spark, demoDir)
    assert(Planner.query("count series", demo).collect().head.getLong(0) === 12L)
    Seq("list series", "list series /f\\..*/", "count series",
        "count series length", "count series where length > 5")
      .foreach { q =>
        val jobs = SparkTestSession.jobsOf(Planner.query(q, demo).collect())
        assert(jobs === 0, s"parquet-demo `$q` ran $jobs Spark jobs")
      }
  }

  test("after an own insert the next select runs no catalog job and never re-reads the catalog") {
    val dir = tmp("graft-snap-fold")
    val api = new ApiCore(spark, dir)
    api.runInsert(body("""{"a": [[100, 1.0]], "b": [[100, 2.0]]}"""), "iris")
    api.runQuery("count series", 1L, "iris")
    api.runInsert(body("""{"b": [[200, 3.0]], "c": [[100, 4.0]]}"""), "iris")
    // hide catalog.parquet: a reload would now see an empty catalog,
    // so a correct answer proves the read advanced from the insert
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val cat = new org.apache.hadoop.fs.Path(Ingest.catalogPath(dir))
    val hidden = new org.apache.hadoop.fs.Path(s"$dir/catalog.hidden")
    assert(fs.rename(cat, hidden))
    val stmt = QueryParser.parse("select * from /.*/", 1000L)
      .asInstanceOf[SelectStmt]
    var selected: Seq[String] = Nil
    val jobs = SparkTestSession.jobsOf {
      selected = Planner.selectNames(stmt, api.env("iris"))
    }
    Planner.drainQueryCaches()
    val points = api.runQuery("select * from /.*/", 1L, "iris").toString
    assert(fs.rename(hidden, cat))
    assert(jobs === 0, s"$jobs catalog jobs after an insert")
    assert(selected === Seq("a", "b", "c"))
    assert(points === """{"a":[[100,1.0]],"b":[[100,2.0],[200,3.0]],"c":[[100,4.0]]}""")
    assertFresh(dir, "an own insert")
  }

  test("an insert merges into a catalog another writer rewrote without a generation bump") {
    val dir = tmp("graft-snap-foreign")
    val api = new ApiCore(spark, dir)
    api.runInsert(body("""{"a": [[100, 1.0]]}"""), "iris")
    api.runQuery("count series", 1L, "iris")
    foreignCatalogWrite(dir, Row("ghost", 3L, 10L, 30L, "float", "1.5", "2.5", 0L))
    // the snapshot does not know `ghost`; the insert must merge into
    // the row on disk, not replace it
    api.runInsert(body("""{"ghost": [[40, 4.0]], "a": [[200, 2.0]]}"""), "iris")
    val rows = Ingest.catalog(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(5), r.getString(6))).toMap
    assert(rows === Map("a" -> (2L, 100L, 200L, "1.0", "2.0"),
      "ghost" -> (4L, 10L, 40L, "1.5", "4.0")))
    assert(api.runQuery("list series name, length 'ghost'", 1L, "iris").toString ===
      """{"columns":["name","length"],"rows":[["ghost",4]]}""")
    assertFresh(dir, "an insert after a foreign catalog write")
  }

  test("the snapshot equals catalog.parquet after every kind of mutation") {
    val dir = tmp("graft-snap-fresh")
    val api = new ApiCore(spark, dir, durationNum = Some(100L))
    def q(s: String) = api.runQuery(s, 1L, "iris")
    val now = System.currentTimeMillis() / 1000
    api.runInsert(body(
      s"""{"old": [[50, 1.0], [150, 2.0]], "keep": [[60, 5], [$now, 6]],
         | "gone": [[70, "x"]]}""".stripMargin), "iris")
    q("count series")
    assertFresh(dir, "the first open")
    // new and existing series, one insert
    api.runInsert(body(s"""{"keep": [[${now + 1}, 7]], "fresh": [[80, 1.5]]}"""),
      "iris")
    q("count series")
    assertFresh(dir, "an insert of new and existing series")
    // a tombstone hides the series from queries; the file keeps it
    q("drop series 'gone' set ignore_threshold true")
    assert(!names(q("list series")).contains("gone"))
    assertFresh(dir, "drop series")
    // optimize purges the tombstoned series from the store
    api.optimizeNow()
    assert(!names(q("list series")).contains("gone"))
    assertFresh(dir, "optimizeNow with tombstones")
    // drop shards: `old` loses its points in shard 0 only
    q("drop shards where sid == 0 set ignore_threshold true")
    assert(q("list series name, length 'old'").toString.contains("""["old",1]"""))
    assertFresh(dir, "drop shards")
    // expiry: every shard before the window goes, and `old` and
    // `fresh` leave the catalog
    q("alter database set expiration_num 1w set ignore_threshold true")
    api.runInsert(body(s"""{"keep": [[${now + 2}, 8]]}"""), "iris")
    assert(names(q("list series")) === Set("keep"))
    assertFresh(dir, "expiry")
    // a second server over the same store inserts; this one adopts it
    val other = new ApiCore(spark, dir)
    other.runInsert(body(s"""{"theirs": [[${now + 3}, 9.5]]}"""), "iris")
    assert(names(q("list series")) === Set("keep", "theirs"))
    assertFresh(dir, "another server's insert")
    // another process's mutation, seen only through the generation
    foreignInsert(dir, dir, "ghost")
    assert(names(q("list series")) === Set("keep", "theirs", "ghost"))
    assertFresh(dir, "another process's mutation")
  }

  test("a cluster's merged catalog and every pool's snapshot stay fresh across insert and expand") {
    val base = tmp("graft-snap-cluster")
    val cluster = new PoolCluster(spark, base, initialPools = 2)
    val series = (0 until 24).map(i => s"m.$i")
    def insert(ts: Long): Unit = cluster.runInsert(body(series
      .map(n => s""""$n": [[$ts, ${ts % 7}.5]]""").mkString("{", ",", "}")), "iris")
    insert(100L)
    cluster.runQuery("count series", 1L, "iris")
    insert(200L)
    def check(step: String, pools: Int): Unit = {
      (0 until pools).foreach(k => assertFresh(s"$base/pool$k", s"$step (pool $k)"))
      val listed = cluster.runQuery("list series name, length, pool", 1L, "iris")
      val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      listed.get("rows").forEach(r =>
        got += ((r.get(0).asText(), r.get(1).asLong(), r.get(2).asLong())))
      val disk = (0 until pools).flatMap(k =>
        Ingest.catalog(spark, s"$base/pool$k").collect()
          .map(r => (r.getString(0), r.getLong(1), k.toLong)))
      assert(got.sorted === disk.sorted, step)
      assert(got.map(_._1).toSet === series.toSet, step)
    }
    check("a cluster insert", 2)
    cluster.expand()
    check("expand()", 3)
    insert(300L)
    check("an insert after expand()", 3)
    // another process's mutation of a non-zero pool: it bumps the one
    // generation at pool 0, and every pool's snapshot is dropped
    foreignInsert(s"$base/pool2", s"$base/pool0", "ghost")
    assert(cluster.runQuery("list series name, pool 'ghost'", 1L, "iris").toString ===
      """{"columns":["name","pool"],"rows":[["ghost",2]]}""")
    assertFresh(s"$base/pool2", "another process's mutation of pool 2")
  }

  test("queries running while one thread inserts never fail") {
    val dir = tmp("graft-snap-conc")
    val api = new ApiCore(spark, dir)
    def batch(i: Int) = body((0 until 6)
      .map(s => s""""c.$s": [[${1000 * i + s}, $i.5], [${1000 * i + 500}, $s.25]]""")
      .mkString("{", ",", s""", "n.$i": [[$i, 1.0]]}"""))
    api.runInsert(batch(0), "iris")
    api.runQuery("count series", 1L, "iris")
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val queries = Seq("select * from /c\\..*/", "list series",
      "select count(1h) from /.*/", "count series", "list series name, length /n\\..*/")
    val readers = (0 until 3).map { t =>
      new Thread(() => {
        var i = t
        while (!done.get()) {
          try api.runQuery(queries(i % queries.size), 1L, "iris")
          catch { case e: Throwable => failures.add(e) }
          i += 1
        }
      })
    }
    readers.foreach(_.start())
    try (1 to 8).foreach(i => api.runInsert(batch(i), "iris"))
    finally {
      done.set(true)
      readers.foreach(_.join())
    }
    assert(failures.isEmpty,
      s"${failures.size} reads failed; first: ${Option(failures.peek()).map(_.toString)}")
    assert(api.runQuery("count series", 1L, "iris").toString ===
      """{"columns":["series"],"rows":[[15]]}""")
  }

  test("a series emptied by drop shards answers bare count()/first()/last() with no point") {
    val dir = tmp("graft-snap-emptied")
    val api = new ApiCore(spark, dir, durationNum = Some(100L))
    def q(s: String) = api.runQuery(s, 1L, "iris").toString
    api.runInsert(body("""{"cpu": [[50, 1.0], [150, 2.0]], "mem": [[60, 9]]}"""),
      "iris")
    q("drop shards where sid == 0 set ignore_threshold true")
    // the series stays listed at length 0 (the reference keeps the
    // series object), with no edges: its points are gone
    assert(q("count series") === """{"columns":["series"],"rows":[[2]]}""")
    assert(q("list series name, length, start, end 'mem'") ===
      """{"columns":["name","length","start","end"],"rows":[["mem",0,null,null]]}""")
    Seq("count", "first", "last").foreach { fn =>
      assert(q(s"select $fn() from 'mem'") === """{"mem":[]}""", fn)
    }
    assert(q("select first() from /.*/") === """{"cpu":[[150,2.0]],"mem":[]}""")
    // the next point re-establishes both edges
    api.runInsert(body("""{"mem": [[170, 4]]}"""), "iris")
    assert(q("select first() from 'mem'") === """{"mem":[[170,4]]}""")
    assert(q("select count() from 'mem'") === """{"mem":[[170,1]]}""")
    assert(q("list series name, length, start, end 'mem'") ===
      """{"columns":["name","length","start","end"],"rows":[["mem",1,170,170]]}""")
  }

  test("a 1M-series catalog: open, count series and a regex list series") {
    val dir = tmp("graft-snap-1m")
    spark.range(1000000L).select(
      concat(lit("s."), col("id")).as("series"),
      lit(10L).as("length"), lit(100L).as("start"), lit(200L).as("end"),
      lit("float").as("type"), (col("id") % 4).as("pool"),
      lit("1.0").as("first_val"), lit("2.0").as("last_val"))
      .coalesce(4)
      .write.parquet(Ingest.catalogPath(dir))
    def timed[T](f: => T): (T, Double) = {
      val t = System.nanoTime(); val r = f; (r, (System.nanoTime() - t) / 1e9)
    }
    val (api, ctor) = timed(new ApiCore(spark, dir))
    try {
      def q(s: String) = api.runQuery(s, 1L, "iris")
      val (count, first) = timed(q("count series"))
      val open = ctor + first
      val (listed, list) = timed(q("list series name, length /s\\.12345[0-9]/"))
      val heapMb = org.apache.spark.util.SizeEstimator
        .estimate(Ingest.catalogSnapshot(spark, dir).rows) / 1e6
      // warm: an unfiltered count reads the row count, a regex selection
      // filters the rows in Scala before any plan is built
      val (_, warmCount) = timed(q("count series"))
      val (_, warmList) = timed(q("list series name, length /s\\.12345[0-9]/"))
      val (warm, warmLength) = timed(q("count series length /s\\.9.*/"))
      info(f"open + count series $open%.1f s, regex list series $list%.2f s; " +
        f"warm count series $warmCount%.2f s, regex list series $warmList%.2f s, " +
        f"regex count series length $warmLength%.2f s; snapshot heap ≈ $heapMb%.0f MB")
      assert(count.toString === """{"columns":["series"],"rows":[[1000000]]}""")
      assert(names(listed) === (0 to 9).map(i => s"s.12345$i").toSet)
      assert(warm.get("rows").get(0).get(0).asLong() === 111111L * 10)
      assert(open + list < 60.0, "opening a 1M-series catalog was too slow")
    } finally api.release() // frees the snapshot for the suites after this one
  }
}
