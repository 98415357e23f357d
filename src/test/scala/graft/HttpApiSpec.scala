package graft

import java.io.{BufferedInputStream, EOFException}
import java.net.{Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.Base64
import org.scalatest.funsuite.AnyFunSuite
import graft.server.HttpApi

/** End-to-end protocol surface: insert (both wire forms) then query
  * over HTTP, with the reference's result encodings
  * (api.c:233-292, points.c:250-288, itest/test_select.py:103-106). */
class HttpApiSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val client = HttpClient.newHttpClient()

  private def post(url: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json").build()
    val res = client.send(req, HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  /** One keep-alive HTTP/1.1 connection that sends each request as a
    * single write with TCP_NODELAY on, so a round trip measures the
    * server's reply. */
  private final class RawHttp(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val in = new BufferedInputStream(sock.getInputStream)
    private val out = sock.getOutputStream

    def post(path: String, body: String, basic: Option[String] = None): (Int, String) = {
      val b = body.getBytes(UTF_8)
      val auth = basic.map(a =>
        s"Authorization: Basic ${Base64.getEncoder.encodeToString(a.getBytes(UTF_8))}\r\n")
      val head = s"POST $path HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
        "Content-Type: application/json\r\n" + auth.getOrElse("") +
        s"Content-Length: ${b.length}\r\n\r\n"
      out.write(head.getBytes(UTF_8) ++ b); out.flush()
      val status = line().split(" ")(1).toInt
      var len = 0
      var h = line()
      while (h.nonEmpty) {
        if (h.toLowerCase.startsWith("content-length:")) len = h.drop(15).trim.toInt
        h = line()
      }
      (status, new String(in.readNBytes(len), UTF_8))
    }

    private def line(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new EOFException("connection closed without a reply")
        if (c != '\r') sb += c.toChar
        c = in.read()
      }
      sb.toString
    }

    def close(): Unit = sock.close()
  }

  test("a reply leaves without a delayed-ACK stall: 20 round trips, median under 20 ms") {
    val api = new HttpApi(spark, Files.createTempDirectory("graft-http-rtt").toString)
    val c = new RawHttp(api.start())
    try {
      // bad service credentials: a 401 with an error body, no Spark job
      val ms = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        val (code, body) = c.post("/get-version", "{}", Some("sa:wrong"))
        val dt = (System.nanoTime() - t0) / 1e6
        assert(code === 401 && body.contains("error_msg"), body)
        dt
      }.sorted
      val median = (ms(9) + ms(10)) / 2
      assert(median < 20.0, s"median round trip $median ms; all: $ms")
    } finally { c.close(); api.stop() }
  }

  test("an exception with an empty message still gets a 500 reply") {
    val api = new HttpApi(spark, Files.createTempDirectory("graft-http-empty").toString)
    api.registry.dbs.put("boom",
      new ThrowingDb(api.registry.db("graft").get.meta, "", ""))
    val c = new RawHttp(api.start())
    try {
      val (qc, qb) = c.post("/query/boom", """{"q": "count series"}""")
      assert(qc === 500 && qb.contains("java.lang.RuntimeException"), qb)
      val (ic, ib) = c.post("/insert/boom", """{"s": [[1, 1]]}""")
      assert(ic === 500 && ib.contains("java.lang.RuntimeException"), ib)
      // the connection still serves
      assert(c.post("/get-version", "{}")._1 === 200)
    } finally { c.close(); api.stop() }
  }

  test("insert both wire forms, query select/list/calc, errors") {
    val dir = Files.createTempDirectory("graft-http").toString
    val api = new HttpApi(spark, dir)
    val port = api.start()
    val base = s"http://127.0.0.1:$port"
    try {
      // map form (insert.c:156-260)
      val (c1, b1) = post(s"$base/insert/graft",
        """{"cpu load": [[100, 1.5], [300, 2.5]], "mem": [[100, 7], [200, 8]]}""")
      assert(c1 === 200)
      assert(b1.contains("Successfully inserted 4 point(s)."))
      // array form (insert.c:77-81), out-of-order ts accepted
      val (c2, b2) = post(s"$base/insert/graft",
        """[{"name": "cpu load", "points": [[200, 2.0]]}]""")
      assert(c2 === 200 && b2.contains("1 point(s)"))

      // select: {name: [[ts,val],...]} sorted by ts — late point merged in
      val (c3, b3) = post(s"$base/query/graft", """{"q": "select * from 'cpu load'"}""")
      assert(c3 === 200)
      assert(b3.contains(""""cpu load":[[100,1.5],[200,2.0],[300,2.5]]"""))

      // integer series keep int64 JSON encoding
      val (_, b4) = post(s"$base/query/graft", """{"q": "select sum(1000) from 'mem'"}""")
      assert(b4.contains(""""mem":[[1000,15]]"""))

      // metadata + calc via the table encoding
      val (_, b5) = post(s"$base/query/graft", """{"q": "count series"}""")
      assert(b5.contains(""""columns":["series"]""") && b5.contains("[2]"))
      val (_, b6) = post(s"$base/query/graft", """{"q": "2h + 5"}""")
      assert(b6.contains("7205"))
      val (_, b7) = post(s"$base/query/graft", """{"q": "list series name, length"}""")
      assert(b7.contains(""""cpu load",3""") && b7.contains(""""mem",2"""))

      // timeit adds __timeit__ (listener.c:5026-5064)
      val (_, b8) = post(s"$base/query/graft", """{"q": "timeit count series"}""")
      assert(b8.contains("__timeit__"))

      // error paths: syntax error -> 400 with message; bad insert -> 400
      val (c9, b9) = post(s"$base/query/graft", """{"q": "select bogus() from 'x'"}""")
      assert(c9 === 400 && b9.contains("error_msg"))
      val (c10, _) = post(s"$base/insert/graft", """{"x": [[-5, 1]]}""")
      assert(c10 === 400)
      val (c11, b11) = post(s"$base/query/graft", """{"nope": 1}""")
      assert(c11 === 400 && b11.contains("'q'"))

      // DDL state persists ACROSS requests (one metastore per server)
      val (_, d1) = post(s"$base/query/graft", """{"q": "create user 'bob' set password 'pw1234'"}""")
      assert(d1.contains("Successfully created user 'bob'."))
      val (_, d2) = post(s"$base/query/graft", """{"q": "grant read to user 'bob'"}""")
      assert(d2.contains("granted"), d2)
      val (_, d3) = post(s"$base/query/graft", """{"q": "create group `cpus` for /^cpu.*/"}""")
      assert(d3.contains("created group"))
      val (_, d4) = post(s"$base/query/graft", """{"q": "list groups"}""")
      assert(d4.contains(""""cpus","^cpu.*",1"""), d4)
      // threshold guard uses the persisted config
      post(s"$base/query/graft", """{"q": "alter database set drop_threshold 0.2"}""")
      val (c12, d5) = post(s"$base/query/graft", """{"q": "drop series 'mem'"}""")
      assert(c12 === 400 && d5.contains("ignore_threshold"), d5)

      // output ts precision correction (?t=ms) — clserver.c:480-505
      val (_, p1) = post(s"$base/query/graft?t=ms", """{"q": "select * from 'mem'"}""")
      assert(p1.contains("[100000,7]"), p1)
      val (c13, p2) = post(s"$base/query/graft?t=fortnight", """{"q": "select * from 'mem'"}""")
      assert(c13 === 400 && p2.contains("unknown time precision"))

      // server point counters
      val (_, p3) = post(s"$base/query/graft", """{"q": "count servers received_points"}""")
      assert(p3.contains("[5]"), p3) // 4 + 1 inserted above
      val (_, p4) = post(s"$base/query/graft", """{"q": "count servers selected_points"}""")
      assert(p4.contains("selected_points"))

      // drop shards on the writable store (listener.c:3052-3152)
      val (_, p5) = post(s"$base/query/graft", """{"q": "count shards"}""")
      val (_, p6) = post(s"$base/query/graft", """{"q": "drop shards where sid < 0"}""")
      assert(p6.contains("Successfully dropped 0 shards"), p6)
      // dropping every shard trips the drop_threshold guard exactly
      // like drop series (listener.c:3107-3125)
      val (_, p7) = post(s"$base/query/graft", """{"q": "drop shards"}""")
      assert(p7.contains("would drop 100.00% of the shards in pool 0"), p7)
      val (_, p8) = post(s"$base/query/graft",
        """{"q": "drop shards set ignore_threshold true"}""")
      assert(p8.contains("Successfully dropped"), p8)
    } finally api.stop()
  }
}
