package graft

import java.io.DataInputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.channels.{Channels, SocketChannel}
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.server.{HttpApi, PipeApi, QPack}

/** The named-pipe transport (src/siri/net/pipe.c,
  * itest/test_pipe_support.py) and the service API
  * (src/siri/api.c:233-292, src/siri/service/request.h): accounts,
  * databases, and a full insert+query round-trip into a service-created
  * second database. */
class ServiceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val mapper = new ObjectMapper()
  private val http = HttpClient.newHttpClient()

  private def post(url: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val res = http.send(req, HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  test("CPROTO over the named pipe: auth, insert, golden query — pipe.c") {
    val dir = Files.createTempDirectory("graft-pipe").toString
    val sock = Files.createTempDirectory("graft-sock").resolve("graft.sock").toString
    val api = new PipeApi(spark, dir, sock)
    api.start()
    val ch = SocketChannel.open(StandardProtocolFamily.UNIX)
    ch.connect(UnixDomainSocketAddress.of(sock))
    val in = new DataInputStream(Channels.newInputStream(ch))
    val out = Channels.newOutputStream(ch)
    var pid = 0
    def request(tp: Int, json: String): (Int, Array[Byte]) = {
      pid += 1
      val data = if (json.isEmpty) Array.emptyByteArray
        else QPack.encode(mapper.readTree(json))
      graft.server.Cproto.sendPkg(out, pid, tp, data)
      val (rpid, rtp, rdata) = graft.server.Cproto.readPkg(in)
      assert(rpid === pid)
      (rtp, rdata)
    }
    try {
      assert(request(3, "")._1 === 3) // ping over the pipe
      assert(request(2, """["iris", "siri", "graft"]""")._1 === 2)
      assert(request(1, """{"aggr": [[1447249033, 531], [1447250868, 530]]}""")._1 === 1)
      val (tp, body) = request(0, """["select count() from 'aggr'"]""")
      assert(tp === 0)
      assert(QPack.decode(body).toString === """{"aggr":[[1447250868,2]]}""")
    } finally { ch.close(); api.stop() }
  }

  test("qpack content-type over HTTP round-trips — api.c:351-365") {
    val dir = Files.createTempDirectory("graft-qp").toString
    val api = new HttpApi(spark, dir)
    val port = api.start()
    try {
      def postQp(path: String, json: String): Array[Byte] = {
        val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(
            QPack.encode(mapper.readTree(json))))
          .header("Content-Type", "application/qpack").build()
        val res = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
        assert(res.headers().firstValue("Content-Type").orElse("") ===
          "application/qpack")
        res.body()
      }
      val ins = QPack.decode(postQp("/insert/graft",
        """{"cpu": [[100, 1.5], [200, 2.5]]}"""))
      assert(ins.get("success_msg").asText().contains("2 point(s)"))
      val sel = QPack.decode(postQp("/query/graft",
        """{"q": "select * from 'cpu'"}"""))
      assert(sel.toString === """{"cpu":[[100,1.5],[200,2.5]]}""")
    } finally api.stop()
  }

  test("select_points_limit guard carries the reference message — listener.c:5598") {
    val dir = Files.createTempDirectory("graft-spl").toString
    val api = new HttpApi(spark, dir)
    val port = api.start()
    val base = s"http://127.0.0.1:$port"
    try {
      assert(post(s"$base/insert/graft",
        """{"s": [[1, 1], [2, 2], [3, 3]]}""")._1 === 200)
      assert(post(s"$base/query/graft",
        """{"q": "alter database set select_points_limit 2"}""")._1 === 200)
      val (code, body) = post(s"$base/query/graft", """{"q": "select * from 's'"}""")
      assert(code === 400)
      assert(body.contains(
        "Query has reached the maximum number of selected points (2)."), body)
      // aggregated output under the cap passes
      assert(post(s"$base/query/graft",
        """{"q": "select count() from 's'"}""")._1 === 200)
    } finally api.stop()
  }

  test("expiration_num takes effect on the write path — itest/test_expiration.py") {
    val dir = Files.createTempDirectory("graft-exp").toString
    val api = new HttpApi(spark, dir)
    val port = api.start()
    val base = s"http://127.0.0.1:$port"
    try {
      val now = System.currentTimeMillis() / 1000
      assert(post(s"$base/insert/graft",
        s"""{"old": [[100, 1.0]], "new": [[$now, 2.0]]}""")._1 === 200)
      assert(post(s"$base/query/graft",
        """{"q": "alter database set expiration_num 1w"}""")._1 === 200)
      // the next insert runs the retention job: the 1970-era shard
      // falls past the window and its series leaves the catalog
      assert(post(s"$base/insert/graft",
        s"""{"new": [[${now + 1}, 3.0]]}""")._1 === 200)
      val (_, names) = post(s"$base/query/graft", """{"q": "list series"}""")
      assert(names.contains("\"new\"") && !names.contains("\"old\""), names)
      // the retention pass is gated: further inserts within the
      // interval must NOT pay the O(#shards) walk per batch (the
      // reference expires on a timer, db.c:865-878)
      val runs = graft.streaming.Ingest.expireRuns.get()
      (1 to 3).foreach(i => assert(post(s"$base/insert/graft",
        s"""{"new": [[${now + 1 + i}, 4.0]]}""")._1 === 200))
      assert(graft.streaming.Ingest.expireRuns.get() === runs,
        "insert paid an expiry pass inside the gate interval")
      // DDL reopens the gate immediately
      assert(post(s"$base/query/graft",
        """{"q": "alter database set expiration_num 2w"}""")._1 === 200)
      assert(post(s"$base/insert/graft",
        s"""{"new": [[${now + 10}, 5.0]]}""")._1 === 200)
      assert(graft.streaming.Ingest.expireRuns.get() > runs)
    } finally api.stop()
  }

  test("ms-precision database end-to-end — request.c:146-240, time.h") {
    val dir = Files.createTempDirectory("graft-prec").toString
    val api = new HttpApi(spark, dir)
    val port = api.start()
    val base = s"http://127.0.0.1:$port"
    try {
      val db = s"msdb${System.nanoTime() % 1000000}"
      // reference validation messages for precision and durations
      val (bc, bb) = post(s"$base/new-database",
        s"""{"dbname": "$db", "time_precision": "xs"}""")
      assert(bc === 400 &&
        bb.contains("invalid time precision: 'xs' (expecting s, ms, us or ns)"))
      val (dc, dbad) = post(s"$base/new-database",
        s"""{"dbname": "$db", "time_precision": "ms", "duration_num": "5x"}""")
      assert(dc === 400 &&
        dbad.contains("invalid number duration: '5x' (valid examples: 6h, 2d or 1w)"))
      assert(post(s"$base/new-database",
        s"""{"dbname": "$db", "time_precision": "ms", "duration_num": "2d"}""")
        ._1 === 200)
      // millisecond timestamps land in 2-day ms-unit shards
      assert(post(s"$base/insert/$db",
        """{"m": [[1700000000123, 1.5], [1700000000456, 2.5]]}""")._1 === 200)
      val (_, raw) = post(s"$base/query/$db", """{"q": "select * from 'm'"}""")
      assert(raw.contains("[1700000000123,1.5]"), raw)
      // ?t=s truncates to seconds (factor 1000^(0-1)); ?t=us scales up
      val (_, secs) = post(s"$base/query/$db?t=s",
        """{"q": "select * from 'm'"}""")
      assert(secs.contains("[1700000000,1.5]") &&
        secs.contains("[1700000000,2.5]"), secs)
      val (_, us) = post(s"$base/query/$db?t=us",
        """{"q": "select * from 'm'"}""")
      assert(us.contains("[1700000000123000,1.5]"), us)
      // precision and durations are queryable and persisted
      val (_, showPrec) = post(s"$base/query/$db",
        """{"q": "show time_precision, duration_num"}""")
      assert(showPrec.contains("\"ms\"") && showPrec.contains("172800000"),
        showPrec)
      // time literals in queries scale by the db factor: 1h = 3.6M ms
      val (_, agg) = post(s"$base/query/$db",
        """{"q": "select sum(1h) from 'm'"}""")
      // GROUP_TS at gb=3,600,000 ms: ceil(1700000000123/3.6e6)*3.6e6
      assert(agg.contains("[1700002800000,4.0]"), agg)
      // a reopened store keeps its precision without constructor args
      val reopened = new graft.server.ApiCore(spark,
        java.nio.file.Paths.get(dir).getParent.resolve(s"graft-db-$db").toString)
      assert(reopened.factor === 1000L)
      assert(reopened.shardDuration === 172800000L)
    } finally api.stop()
  }

  test("metastore survives a server restart — users.dat/groups.dat/tags.dat") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-restart").toString
    graft.streaming.Ingest.appendBatch(Seq(
      graft.streaming.Ingest.PointIn("cpu.0", 100L, 1.5, "float", 1),
      graft.streaming.Ingest.PointIn("cpu.1", 200L, 2.5, "float", 2),
      graft.streaming.Ingest.PointIn("mem.0", 300L, 3.5, "float", 3))
      .toDF(), dir, shardDuration = 86400L)
    val api1 = new graft.server.ApiCore(spark, dir)
    def q1(s: String) = api1.runQuery(s, 1L, "iris")
    q1("create user 'alice' set password 'pw1234'")
    q1("grant read, show to user 'alice'")
    q1("create group `cpus` for /^cpu\\..*/")
    q1("alter series /^cpu\\..*/ tag `hot`")
    q1("alter database set list_limit 5000")
    q1("drop series 'mem.0' set ignore_threshold true")
    // a fresh ApiCore over the same storeDir = a server restart
    val api2 = new graft.server.ApiCore(spark, dir)
    assert(api2.authenticate("alice", "pw1234"))
    assert(!api2.authenticate("alice", "pw12345"))
    // credentials are persisted as salted hashes, never recoverable
    // cleartext (the reference's users.dat stores owcrypt output only)
    val usersJson = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "meta", "users.json")), "UTF-8")
    assert(!usersJson.contains("pw1234") && !usersJson.contains("siri"),
      usersJson)
    assert(api2.meta.users("alice").pwHash.matches("[0-9a-f]{16}\\$[0-9a-f]{64}"))
    val users = api2.runQuery("list users where access >= show", 1L, "iris").toString
    assert(users.contains("alice"), users)
    val tagged = api2.runQuery("select * from `hot`", 1L, "iris").toString
    assert(tagged.contains("cpu.0") && tagged.contains("cpu.1"), tagged)
    val grouped = api2.runQuery("count series `cpus`", 1L, "iris").toString
    assert(grouped.contains("[2]"), grouped)
    assert(api2.meta.config("list_limit") === "5000")
    // tombstones survive: the dropped series stays invisible
    val total = api2.runQuery("count series", 1L, "iris").toString
    assert(total.contains("[2]"), total)
    // DDL after restart keeps working and persisting (tag upsert path)
    api2.runQuery("alter series 'cpu.0' untag `hot`", 1L, "iris")
    val api3 = new graft.server.ApiCore(spark, dir)
    assert(api3.meta.tagCounts("hot") === 1L)
    assert(api3.meta.tagFrames("hot").select(col("series")).collect()
      .map(_.getString(0)).toSeq === Seq("cpu.1"))
  }

  test("two server processes over one store stay coherent — generation-gated reload") {
    val dir = Files.createTempDirectory("graft-twoproc").toString
    // two ApiCores with SEPARATE metastores over the same directories —
    // the in-JVM stand-in for two server processes sharing storage
    val a = new graft.server.ApiCore(spark, dir)
    val b = new graft.server.ApiCore(spark, dir)
    def insert(api: graft.server.ApiCore, name: String, v: Double): Unit = {
      val node = mapper.createObjectNode()
      val p = node.putArray(name).addArray(); p.add(1700000000L); p.add(v)
      api.runInsert(node, "iris")
    }
    def one(api: graft.server.ApiCore, q: String): String =
      api.runQuery(q, 0.0, "iris").get("rows").get(0).toString
    // A writes, B reads: B must not serve its pre-insert file listing
    insert(a, "cpu", 1.5)
    assert(one(b, "count series") === "[1]")
    // A's DDL reaches B (metastore re-load on generation lag)
    a.runQuery("create group `g` for /^cpu.*/", 0.0, "iris")
    assert(one(b, "count groups") === "[1]")
    // the reverse direction: B mutates, A follows
    insert(b, "mem", 2.5)
    assert(one(a, "count series") === "[2]")
    b.runQuery("alter database set list_limit 5432", 0.0, "iris")
    assert(one(a, "show list_limit") === """["list_limit","5432"]""")
    // a third, late-constructed server sees everything at first request
    val c = new graft.server.ApiCore(spark, dir)
    assert(one(c, "count series") === "[2]")
    assert(one(c, "count groups") === "[1]")
  }

  test("tee mirrors inserts to a live endpoint as CPROTO packages — tee.c") {
    val dir = Files.createTempDirectory("graft-tee").toString
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val api = new graft.server.ApiCore(spark, dir)
    try {
      val m1 = api.runQuery(s"alter database set tee '127.0.0.1:$port'", 1L, "iris")
      assert(m1.toString.contains(s"Successfully configured tee to 127.0.0.1:$port"))
      val got = new java.util.concurrent.LinkedBlockingQueue[String]
      val t = new Thread(() => {
        val s = server.accept()
        val in = new DataInputStream(s.getInputStream)
        // two mirrored REQ_INSERT frames over one connection
        (1 to 2).foreach { _ =>
          val (_, tp, data) = graft.server.Cproto.readPkg(in)
          got.put(s"$tp|${QPack.decode(data)}")
        }
        s.close()
      })
      t.start()
      api.runInsert(mapper.readTree("""{"cpu": [[100, 1.5]]}"""), "iris")
      api.runInsert(mapper.readTree("""{"mem": [[200, 7]]}"""), "iris")
      assert(got.poll(15, java.util.concurrent.TimeUnit.SECONDS) ===
        """1|{"cpu":[[100,1.5]]}""")
      assert(got.poll(15, java.util.concurrent.TimeUnit.SECONDS) ===
        """1|{"mem":[[200,7]]}""")
      // disabling stops the mirror and a dead tee never fails inserts
      assert(api.runQuery("alter database set tee false", 1L, "iris")
        .toString.contains("Successfully disabled tee."))
      server.close()
      api.runInsert(mapper.readTree("""{"cpu": [[300, 2.5]]}"""), "iris")
      val n = api.runQuery("count series", 1L, "iris").toString
      assert(n.contains("[2]"), n)
      intercept[graft.parser.QueryError](
        api.runQuery("alter database set tee ':9104'", 1L, "iris"))
    } finally { if (!server.isClosed) server.close() }
  }

  test("tee never blocks or taxes the insert path") {
    val tee = new graft.server.Tee
    // disabled tee (the default) must not even evaluate the payload —
    // qpack-encoding every insert body for a disabled mirror was pure
    // per-request overhead
    var evaluated = false
    tee.write("false", { evaluated = true; Array.emptyByteArray })
    assert(!evaluated)
    // a dead endpoint: mirrors enqueue or drop, the caller never waits
    // on connect/backpressure (the reference tee is async libuv and
    // drops on outage — tee.c)
    val t0 = System.nanoTime()
    (1 to 1000).foreach(i => tee.write("127.0.0.1:9", Array[Byte](i.toByte)))
    assert((System.nanoTime() - t0) < 2e9, "insert path stalled on tee")
  }

  test("service API over HTTP: accounts and database lifecycle — api.c:233-292") {
    val dir = Files.createTempDirectory("graft-svc").toString
    val api = new HttpApi(spark, dir)
    val port = api.start()
    val base = s"http://127.0.0.1:$port"
    try {
      // version + default account + default database
      assert(post(s"$base/get-version", "{}")._2.contains("2.0.55"))
      assert(post(s"$base/get-accounts", "{}")._2 === """["sa"]""")
      assert(post(s"$base/get-databases", "{}")._2 === """["graft"]""")
      // account name/password limits (service/account.c:129-143)
      val (vc, vb) = post(s"$base/new-account",
        """{"account": "t", "password": ""}""")
      assert(vc === 400 &&
        vb.contains("service account name should have at least 2 characters"))
      val (pc, pb) = post(s"$base/new-account",
        """{"account": "tt", "password": "x"}""")
      assert(pc === 400 &&
        pb.contains("service account password should have at least 2 characters"))
      // account lifecycle
      assert(post(s"$base/new-account",
        """{"account": "ops", "password": "pw"}""")._1 === 200)
      assert(post(s"$base/get-accounts", "{}")._2 === """["ops","sa"]""")
      assert(post(s"$base/change-password",
        """{"account": "ops", "password": "pw2"}""")._1 === 200)
      assert(post(s"$base/drop-account", """{"account": "ops"}""")._1 === 200)
      val (lastCode, lastBody) = post(s"$base/drop-account", """{"account": "sa"}""")
      assert(lastCode === 400 && lastBody.contains("last service account"))
      // database lifecycle: create, insert+query into it, unknown-db 404
      // dbname rule: 2..20 chars, letter start, alnum end (request.c:199)
      val (nc, nb) = post(s"$base/new-database", """{"dbname": "9bad"}""")
      assert(nc === 400 && nb.contains("invalid database name: '9bad'"))
      assert(post(s"$base/new-database",
        """{"dbname": "name-far-too-long-for-the-rule"}""")._1 === 400)
      assert(post(s"$base/new-database", """{"dbname": "metrics"}""")._1 === 200)
      assert(post(s"$base/get-databases", "{}")._2 === """["graft","metrics"]""")
      val (ic, ib) = post(s"$base/insert/metrics", """{"cpu": [[100, 1.5]]}""")
      assert(ic === 200 && ib.contains("1 point(s)"), ib)
      val (qc, qb) = post(s"$base/query/metrics", """{"q": "select * from 'cpu'"}""")
      assert(qc === 200 && qb === """{"cpu":[[100,1.5]]}""")
      // databases are isolated: 'graft' does not see 'metrics' series
      val (_, g) = post(s"$base/query/graft", """{"q": "count series"}""")
      assert(g.contains("[0]"), g)
      assert(post(s"$base/query/nosuchdb", """{"q": "count series"}""")._1 === 404)
      assert(post(s"$base/drop-database", """{"dbname": "metrics"}""")._1 === 200)
      assert(post(s"$base/query/metrics", """{"q": "1"}""")._1 === 404)
      // re-created under the dropped name, the database starts empty:
      // nothing of the dropped store's catalog is served
      assert(post(s"$base/new-database", """{"dbname": "metrics"}""")._1 === 200)
      assert(post(s"$base/query/metrics", """{"q": "count series"}""")._2 ===
        """{"columns":["series"],"rows":[[0]]}""")
      assert(post(s"$base/insert/metrics", """{"mem": [[100, 2.5]]}""")._1 === 200)
      assert(post(s"$base/query/metrics", """{"q": "list series"}""")._2 ===
        """{"columns":["name"],"rows":[["mem"]]}""")
      assert(post(s"$base/drop-database", """{"dbname": "metrics"}""")._1 === 200)
      // pool/replica are engine-owned placement → service error
      // new-pool joins by hosting the database locally and answers the
      // reference's bare "OK" (test_http_api.py:83-90); missing fields
      // and bad ports are rejected like request.c:855-878
      assert(post(s"$base/new-pool", """{"dbname": "graft"}""")._1 === 400)
      // unique name per run: the registry roots new databases at a
      // FIXED path derived from the name, so a rerun must not inherit
      // a previous run's store
      val pooled = s"pooled${System.nanoTime() % 1000000}"
      val (pc2, pb2) = post(s"$base/new-pool",
        s"""{"dbname": "$pooled", "host": "localhost", "port": 99999,
          |"username": "iris", "password": "siri"}""".stripMargin)
      assert(pc2 === 400 && pb2.contains("invalid port number: 99999"))
      val (pc3, pb3) = post(s"$base/new-pool",
        s"""{"dbname": "$pooled", "host": "localhost", "port": 9000,
          |"username": "iris", "password": "siri"}""".stripMargin)
      assert(pc3 === 200 && pb3 === "\"OK\"")
      assert(post(s"$base/get-databases", "{}")._2.contains(pooled))
      // a second new-pool EXPANDS the cluster (reindex.c): inserts
      // route by the grown lookup, queries merge across both pools
      assert(post(s"$base/insert/$pooled",
        """{"pool.a": [[100, 1.0], [160, 2.0]], "pool.b": [[100, 3.0]],
          |"pool.c": [[100, 4.0]], "pool.d": [[100, 5.0]]}""".stripMargin)
        ._1 === 200)
      val (pc4, pb4) = post(s"$base/new-pool",
        s"""{"dbname": "$pooled", "host": "localhost", "port": 9001,
          |"username": "iris", "password": "siri"}""".stripMargin)
      assert(pc4 === 200 && pb4 === "\"OK\"")
      assert(post(s"$base/query/$pooled", """{"q": "count pools"}""")._2
        .contains("[[2]]"))
      assert(post(s"$base/query/$pooled", """{"q": "count series"}""")._2
        .contains("[[4]]"))
      val (_, sel) = post(s"$base/query/$pooled",
        """{"q": "select sum(1h) from /^pool\\..*/ merge as \"all\" using sum(1h)"}""")
      assert(sel.contains("\"all\":[[3600,15.0]]"), sel)
      // new-replica on a clustered db = fleet membership: pool 1 gains
      // a second server in the fleet views
      assert(post(s"$base/new-replica",
        s"""{"dbname": "$pooled", "host": "localhost", "port": 9002,
          |"username": "iris", "password": "siri", "pool": 1}""".stripMargin)
        ._1 === 200)
      assert(post(s"$base/query/$pooled", """{"q": "count servers"}""")._2
        .contains("[[3]]"))
      val (_, poolsView) = post(s"$base/query/$pooled", """{"q": "list pools pool, servers"}""")
      assert(poolsView.contains("[1,2]"), poolsView)
    } finally api.stop()
  }

  test("drop-database removes a pooled database's pools: a re-created one starts empty") {
    // the default store sits one level down, so the registry roots
    // every database in a directory of this test's own
    val root = Files.createTempDirectory("graft-svc-pools")
    val api = new HttpApi(spark,
      Files.createDirectories(root.resolve("graft")).toString)
    val port = api.start()
    val base = s"http://127.0.0.1:$port"
    val pool = """{"dbname": "pl", "host": "localhost", "port": 9000,
      |"username": "iris", "password": "siri"}""".stripMargin
    try {
      assert(post(s"$base/new-pool", pool)._2 === "\"OK\"")
      assert(post(s"$base/insert/pl", """{"a": [[100, 1.0]], "b": [[100, 2.0]]}""")
        ._1 === 200)
      assert(post(s"$base/query/pl", """{"q": "count series"}""")._2 ===
        """{"columns":["series"],"rows":[[2]]}""")
      assert(post(s"$base/drop-database", """{"dbname": "pl"}""")._1 === 200)
      assert(post(s"$base/new-pool", pool)._2 === "\"OK\"")
      assert(post(s"$base/query/pl", """{"q": "count series"}""")._2 ===
        """{"columns":["series"],"rows":[[0]]}""")
      assert(post(s"$base/drop-database", """{"dbname": "pl"}""")._1 === 200)
      assert(!Files.exists(root.resolve("graft-db-pl-pools")))
    } finally api.stop()
  }
}
