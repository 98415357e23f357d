package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

import graft.meta.Lookup
import graft.server.{DbHandler, HttpApi, PoolCluster, ServerRegistry, TcpApi}
import graft.streaming.Ingest

/** Closed-loop serving benchmark over the wire (CPROTO and HTTP).
  *
  * Workloads (each client sends its next request only after the reply):
  *  - `standalone`: one server, two phases in turn. `ingest_batch`: 1
  *    HTTP client posting 1000-point JSON batches. `read_dashboard`: 2
  *    CPROTO query clients and no writes, so every store-generation cache
  *    hits. The reads come second, on a JVM the inserts warmed further.
  *  - `mixed_cluster`: the same data split over a 2-pool PoolCluster.
  *    Each cycle sends one routed 100-point CPROTO insert, then
  *    [[QueriesPerInsert]] queries over 2 CPROTO query connections, so
  *    reads pay the cache rebuilds. Inserts and queries never overlap:
  *    a query that runs while an insert rewrites the catalog can fail
  *    (see README.md). So the insert rate divides by the time spent in
  *    inserts and the query rate by the time spent in query rounds.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --work DIR --cache DIR --result FILE
  *             [--spans FILE] [--prepare 1]
  * The result JSON goes to --result (and a detail file beside it); a
  * table goes to stdout and progress to stderr. Exit code 1 when a
  * correctness check failed. `--data` holds the `events` table the base
  * store is built from. `--prepare 1` only builds the workload's
  * base store under --cache, so that measured runs start in a JVM
  * that has not done the bulk load. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, data: String, work: Path, cache: Path, result: Path,
      spans: Option[Path], prepare: Boolean)

  val Workloads = Seq("standalone", "mixed_cluster")
  /** Set-ups per run; setup_s is their median. */
  val SetupReps = 3
  /** Share of --seconds the standalone `read_dashboard` phase gets. */
  val ReadShare = 0.5
  /** `mixed_cluster` queries after each insert, over its query
    * connections. */
  val QueriesPerInsert = 4
  val QueryConnections = 2
  /** End-to-end metrics of the result line (BENCHMARK.json). */
  val Contract = Seq("setup_s", "query_rps", "insert_points_per_s", "store_bytes_per_point")

  def parseOpts(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = req("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (use ${Workloads.mkString(", ")})")
    Opts(w, req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("data"), Paths.get(req("work")), Paths.get(req("cache")), Paths.get(req("result")),
      m.get("spans").map(Paths.get(_)), m.get("prepare").contains("1"))
  }

  /** Client-side measurements and correctness failures. */
  final class Recorder {
    val selectMs = ArrayBuffer.empty[Double]
    val metaMs = ArrayBuffer.empty[Double]
    val insertMs = ArrayBuffer.empty[Double]
    var insertPoints = 0L
    var attempted = 0L
    var failed = 0L
    val failures = ArrayBuffer.empty[String]
    def fail(msg: String): Unit = synchronized {
      failed += 1
      if (failures.size < 20) failures += msg
    }
  }

  private val started = System.nanoTime()
  /** Progress on stderr, with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2fs] $msg")

  private def now(): Long = System.nanoTime()
  private def secs(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  def treeBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  /** The base store, built once from the `events` table in `data` by the
    * engine's own `Ingest.appendBatch` and kept under `cache` (keyed by
    * the source state), so every set-up starts from a copy of the same
    * files. A cluster store holds one directory per pool, split by the
    * 2-pool lookup table. */
  def baseStore(spark: SparkSession, cache: Path, cluster: Boolean, data: String): Path = {
    val done = cache.resolve(if (cluster) "cluster" else "standalone")
    if (!Files.exists(done)) {
      val tmp = cache.resolve(s"tmp-${ProcessHandle.current().pid()}")
      deleteTree(tmp)
      val base = Data.baseFrame(spark, data)
      Data.checkBase(base)
      // one partition per day: one file per shard directory
      def ingest(df: DataFrame, to: Path): Unit =
        Ingest.appendBatch(df.repartition(expr(s"ts div ${Data.Day}")),
          to.toString, shardDuration = Data.Day, durationLog = Data.Day)
      val t0 = now()
      if (cluster) {
        val lk = Lookup(2)
        Data.baseSeries.groupBy(lk.poolOf).foreach { case (k, names) =>
          ingest(base.where(col("series").isin(names: _*)), tmp.resolve(s"pool$k"))
        }
      } else ingest(base, tmp)
      Files.move(tmp, done)
      log(f"base store built in ${secs(t0)}%.1fs")
    }
    done
  }

  /** One served store (a fresh copy of the base store) with its CPROTO
    * and HTTP transports over one registry. */
  final class Served(spark: SparkSession, val dir: Path, cluster: Boolean,
      base: Path, tracer: Option[Tracer], insertCodec: String) {
    private val storeDir = dir.resolve("store").toString
    copyTree(base, dir.resolve("store"))
    private val reg = new ServerRegistry(spark, "graft",
      if (cluster) dir.resolve("unused").toString else storeDir)
    private val db: DbHandler =
      if (cluster) new PoolCluster(spark, storeDir, initialPools = 2)
      else reg.db("graft").get
    reg.dbs.put("graft", tracer.fold(db)(t =>
      new TracingHandler(db, spark.sparkContext, t, insertCodec)))
    private val tcp = new TcpApi(spark, storeDir, 0, Some(reg))
    private val http = new HttpApi(spark, storeDir, 0, Some(reg))
    val tcpPort: Int = tcp.start()
    val httpPort: Int = http.start()

    /** Mean parquet files per shard directory of the shards that hold
      * inserted points (past the base data), over every pool. */
    def filesPerShard(): Double = {
      val firstNew = Data.BaseEnd / Data.Day
      val counts = Files.walk(dir).iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("shard="))
        .filter(_.getFileName.toString.stripPrefix("shard=").toLong >= firstNew)
        .map(d => Files.list(d).iterator().asScala.count(_.toString.endsWith(".parquet")))
        .toVector
      if (counts.isEmpty) 0.0 else counts.sum.toDouble / counts.size
    }

    def cproto(): CprotoClient = {
      val c = new CprotoClient(tcpPort)
      if (!c.auth("iris", "siri", "graft")) throw new IllegalStateException("auth failed")
      c
    }

    def stop(): Unit = { tcp.stop(); http.stop() }
  }

  type Batch = Seq[(String, Seq[(Long, Data.V)])]

  def main(args: Array[String]): Unit = {
    val o = parseOpts(args)
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors()).toString
    val t0 = now()
    val spark = graft.core.Tables.sessionBuilder(s"local[$cpus]", cpus)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try run(spark, o, secs(t0))
      finally spark.stop()
    sys.exit(code)
  }

  def run(spark: SparkSession, o: Opts, sessionS: Double): Int = {
    val cluster = o.workload == "mixed_cluster"
    val insertCodec = if (cluster) "qpack" else "json"
    log(f"spark session ${sessionS}%.1fs")
    val baseDir = baseStore(spark, o.cache, cluster, o.data)
    if (o.prepare) return 0
    val queries = Data.queryPool(o.seed)
    val listener = if (o.trace) Some(new TraceListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = if (o.trace) Some(new Tracer) else None
    val rec = new Recorder
    // every inserted point the server acknowledged, for the post-run checks
    val inserted = ArrayBuffer.empty[Data.Pt]
    def remember(batch: Batch): Unit = inserted.synchronized {
      batch.foreach { case (n, pts) =>
        pts.foreach { case (t, v) =>
          inserted += Data.Pt(n, t, v, Data.Events + inserted.size.toLong)
        }
      }
    }
    def checkAck(r: Reply, n: Int): Boolean = {
      val expect = s"Successfully inserted $n point(s)."
      val ok = r.ok && r.body != null && r.body.path("success_msg").asText() == expect
      if (!ok) rec.fail(s"insert ack: expected '$expect', got ${r.body}")
      ok
    }

    // ---- set-up, SetupReps times: copy the base store, start the
    // server, answer one select and one metadata query. The first set-up
    // warms the JVM up: queries of the warmed classes, and warmInserts
    // inserts over the workload's insert transport. The last set-up stays
    // up for the window. ----
    // batches of the workload's own size; the warm-up writes stream 0.
    // The insert path of a fresh JVM keeps speeding up over its first
    // inserts, so both workloads warm 3 (with 2, mixed_cluster's window
    // inserts were still 20-30 % slower than later ones, and the rate
    // followed how far each run had warmed). standalone warms every query
    // class; mixed_cluster's cold queries cost about twice as much, so it
    // warms fewer to keep a run's length
    val (batchPoints, seriesPerBatch, warmInserts, warmClasses) =
      if (cluster) (100, 10, 3, Seq("agg", "raw", "meta"))
      else (1000, 20, 3, Seq("agg", "raw", "diff", "merge", "meta"))
    val warmGen = new Data.Inserts(o.seed, 0, batchPoints, seriesPerBatch)
    val warmBatches = Seq.fill(warmInserts)(warmGen.next())
    val firstOf = warmClasses.map(c => queries.find(_.cls == c).get)
    def warmQueries(rep: Int) = if (rep == 1) firstOf else Seq(firstOf.head, firstOf.last)
    def warmUp(sv: Served, qs: Seq[Data.Query]): Unit = {
      val c = sv.cproto()
      qs.foreach { q =>
        rec.synchronized(rec.attempted += 1)
        val r = c.query(q.q)
        if (!r.ok) rec.fail(s"warm-up query '${q.q}' failed: ${r.body}")
      }
      c.close()
    }
    val setupS = ArrayBuffer.empty[Double]
    var served: Served = null
    for (rep <- 1 to SetupReps) {
      val s0 = now()
      val sv = new Served(spark, o.work.resolve(s"rep$rep"), cluster, baseDir,
        tracer, insertCodec)
      if (rep == 1) {
        // the insert warm-up goes to a second copy of the store, beside
        // the query warm-up: on one store a query must not overlap an
        // insert
        val side = new Served(spark, o.work.resolve("warm"), cluster, baseDir, None, insertCodec)
        val t = new Thread(() => {
          val ic = side.cproto()
          val http = new HttpClient(side.httpPort, "graft")
          warmBatches.foreach { b =>
            val body = Data.insertBody(b)
            rec.synchronized(rec.attempted += 1)
            checkAck(if (cluster) ic.insert(body) else http.insert(body), b.map(_._2.size).sum)
          }
          ic.close()
        })
        t.start()
        warmUp(sv, warmQueries(rep))
        t.join()
        side.stop()
        deleteTree(side.dir)
      } else warmUp(sv, warmQueries(rep))
      setupS += secs(s0)
      log(f"set-up $rep: ${setupS.last}%.2fs")
      if (rep < SetupReps) { sv.stop(); deleteTree(sv.dir) } else served = sv
    }
    tracer.foreach(_.spans.clear())

    // ---- the timed window ----
    val replies = new java.util.concurrent.ConcurrentHashMap[String, JsonNode]()
    def inParallel(fs: Seq[() => Unit]): Unit =
      fs.map { f => val t = new Thread(() => f()); t.start(); t }.foreach(_.join())
    // the timed phases, as epoch ms intervals (for the spans)
    val phases = ArrayBuffer.empty[(Long, Long)]
    /** Runs the client loops until `seconds` have passed; each finishes
      * its request in flight. Returns the elapsed seconds. */
    def runClients(seconds: Double, loops: (Long => Unit)*): Double = {
      val (w0, w0Ms) = (now(), System.currentTimeMillis())
      val deadline = w0 + (seconds * 1e9).toLong
      inParallel(loops.map(l => () => l(deadline)))
      phases += ((w0Ms, System.currentTimeMillis()))
      secs(w0)
    }
    def timedQuery(c: CprotoClient, q: Data.Query, noWrites: Boolean): Unit = {
      val s = now()
      val r = c.query(q.q)
      val t = secs(s) * 1e3
      rec.synchronized {
        rec.attempted += 1
        (if (q.isSelect) rec.selectMs else rec.metaMs) += t
      }
      if (!r.ok) rec.fail(s"query '${q.q}' failed: ${r.body}")
      else if (noWrites) {
        // with no write in between, a repeated query must repeat its reply
        val prev = replies.putIfAbsent(q.q, r.body)
        if (prev != null && !Check.same(prev, r.body))
          rec.fail(s"query '${q.q}' changed its reply with no write in between")
      }
    }
    def queryClient(cid: Int)(deadline: Long): Unit = {
      val c = served.cproto()
      val order = Data.queryOrder(queries, cid)
      try while (now() < deadline) timedQuery(c, order.next(), noWrites = true)
      finally c.close()
    }
    def timedInsert(gen: Data.Inserts, send: JsonNode => Reply): Unit = {
      val batch = gen.next()
      val pts = batch.map(_._2.size).sum
      val s = now()
      val r = send(Data.insertBody(batch))
      val t = secs(s) * 1e3
      rec.synchronized { rec.attempted += 1; rec.insertMs += t }
      if (checkAck(r, pts)) {
        rec.synchronized(rec.insertPoints += pts)
        remember(batch)
      }
    }

    // seconds the query and the insert rates divide by
    val (readS, insertS) =
      if (!cluster) {
        val http = new HttpClient(served.httpPort, "graft")
        val gen = new Data.Inserts(o.seed, 1, batchPoints, seriesPerBatch)
        val insertS = runClients(o.seconds * (1 - ReadShare), deadline =>
          while (now() < deadline) timedInsert(gen, http.insert))
        // the inserts moved the store generation: rebuild the caches
        // (untimed) so that every read of the phase hits them
        warmUp(served, Seq(firstOf.head, firstOf.last))
        val readS = runClients(o.seconds * ReadShare, queryClient(1), queryClient(2))
        (readS, insertS)
      } else {
        // one insert, then QueriesPerInsert queries split over the query
        // connections; an insert never overlaps a query, so each rate
        // divides by the time spent in its own requests
        val ic = served.cproto()
        val qc = Seq.fill(QueryConnections)(served.cproto())
        val orders = (1 to QueryConnections).map(Data.queryOrder(queries, _))
        val gen = new Data.Inserts(o.seed, 1, batchPoints, seriesPerBatch)
        var (insertNs, queryNs) = (0L, 0L)
        runClients(o.seconds, deadline =>
          while (now() < deadline) {
            val i0 = now()
            timedInsert(gen, ic.insert)
            val q0 = now()
            insertNs += q0 - i0
            // the first round always runs, so query_rps has a sample
            if (q0 < deadline || queryNs == 0) {
              inParallel(qc.indices.map(k => () =>
                (1 to QueriesPerInsert / qc.size).foreach(_ =>
                  timedQuery(qc(k), orders(k).next(), noWrites = false))))
              queryNs += now() - q0
            }
          })
        (ic +: qc).foreach(_.close())
        (queryNs / 1e9, insertNs / 1e9)
      }
    log(s"window done: ${rec.attempted} requests")

    // ---- post-run checks and per-layer numbers (not timed) ----
    val cc = served.cproto()
    val checks = Check.afterRun(spark, cc, Data.baseFrame(spark, o.data), inserted.toVector,
      o.seed, rec)
    cc.close()
    log("post-run checks done")
    val points = 3L * Data.Events + inserted.size
    val storeBytesPerPoint = treeBytes(served.dir.resolve("store")).toDouble / points
    val layers = tracer.zip(listener).map { case (t, l) =>
      l.drain()
      val spans = t.spans.asScala.toVector
        .filter(s => phases.exists { case (a, b) => s.t0Ms >= a && s.t0Ms <= b })
      o.spans.foreach(p => Layers.writeSpans(p, spans, l))
      Layers.compute(spans, l, rec, served.filesPerShard(), cluster)
    }.getOrElse(Seq.empty)
    // in mixed_cluster each insert moves the generation, so the first
    // query on each query connection after it is cold, and only that one
    layers.find(_.name == "server.cold_query_share").filter(_ => cluster).foreach { m =>
      val want = QueryConnections.toDouble / QueriesPerInsert
      rec.synchronized(rec.attempted += 1)
      if (math.abs(m.value - want) > 1e-9)
        rec.fail(f"server.cold_query_share: expected $want%.3f, got ${m.value}%.3f")
    }
    served.stop()

    val nq = rec.selectMs.size + rec.metaMs.size
    val e2e = Seq(
      Metric("setup_s", Stats.median(setupS.toSeq), "s", setupS.size),
      Metric("select_p50_ms", Stats.pct(rec.selectMs.toSeq, 50), "ms", rec.selectMs.size),
      Metric("select_p90_ms", Stats.pct(rec.selectMs.toSeq, 90), "ms", rec.selectMs.size),
      Metric("meta_p50_ms", Stats.pct(rec.metaMs.toSeq, 50), "ms", rec.metaMs.size),
      Metric("query_rps", nq / readS, "1/s", nq),
      Metric("insert_points_per_s", rec.insertPoints / insertS, "points/s", rec.insertMs.size),
      Metric("insert_p50_ms", Stats.pct(rec.insertMs.toSeq, 50), "ms", rec.insertMs.size),
      Metric("insert_p90_ms", Stats.pct(rec.insertMs.toSeq, 90), "ms", rec.insertMs.size),
      Metric("failed_share", rec.failed.toDouble / math.max(1L, rec.attempted), "share",
        rec.attempted.toInt),
      Metric("peak_rss_mb", Stats.peakRssMb(), "MB", 1),
      Metric("store_bytes_per_point", storeBytesPerPoint, "bytes", points.toInt))
    val correct = rec.failed == 0
    Report.write(o, e2e, layers, correct, rec, setupS.toSeq, sessionS, readS,
      insertS, checks)
    if (correct) 0 else 1
  }
}
