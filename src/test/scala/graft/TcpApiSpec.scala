package graft

import java.io.{DataInputStream, OutputStream}
import java.net.Socket
import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.server.{Cproto, QPack, TcpApi}

/** The CPROTO/qpack transport end-to-end over a raw TCP socket: auth
  * handshake, ping, both insert forms, the reference's 20-point `aggr`
  * golden fixture (itest/test_select.py:41-51,166-175), error and
  * access codes (include/siri/net/protocol.h:10-23,
  * src/siri/net/clserver.c:274-510). */
class TcpApiSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val mapper = new ObjectMapper()

  /** Minimal CPROTO client, framing with the server's own
    * `Cproto.sendPkg` / `readPkg`. TCP_NODELAY on, so a round trip
    * measures the server's reply, not this client's send. */
  private final class Client(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val in = new DataInputStream(sock.getInputStream)
    private val out = sock.getOutputStream
    private var pid = 0

    def request(tp: Int, data: Array[Byte]): (Int, Array[Byte]) = {
      pid += 1
      Cproto.sendPkg(out, pid, tp, data)
      val (rpid, rtp, rdata) = Cproto.readPkg(in)
      assert(rpid === pid, "response pid must echo the request pid")
      (rtp, rdata)
    }

    def json(s: String): Array[Byte] = QPack.encode(mapper.readTree(s))
    def close(): Unit = sock.close()
  }

  private def withServer(f: (Client, TcpApi) => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-tcp").toString
    val api = new TcpApi(spark, dir)
    val port = api.start()
    val c = new Client(port)
    try f(c, api) finally { c.close(); api.stop() }
  }

  test("qpack round-trips scalars, arrays and maps byte-exactly") {
    val cases = Seq(
      "0", "1", "63", "-1", "-60", "-61", "100", "-100", "32000", "-32000",
      "2147483647", "9223372036854775807", "-9223372036854775808",
      "0.0", "1.0", "-1.0", "2.5", "-1.5e-7",
      "\"\"", "\"hello\"", "\"" + "x" * 99 + "\"", "\"" + "y" * 200 + "\"",
      "\"" + "z" * 70000 + "\"",
      "true", "false", "null",
      "[1, 2.5, \"a\", [3], {\"k\": 4}]",
      "{\"aggr\": [[1447249033, 531], [1447249337, -5]]}")
    cases.foreach { s =>
      val node = mapper.readTree(s)
      // compare rendered JSON: Jackson Int/LongNode equality is
      // class-sensitive while the wire is not
      assert(QPack.decode(QPack.encode(node)).toString === node.toString,
        s"round-trip of $s")
    }
  }

  test("qpack decodes the fixed-size container forms the reference packs") {
    // ARRAY2 with two fixed ints (qpack.h: ARRAY0=237)
    val a2 = Array[Byte](239.toByte, 5, 7)
    assert(QPack.decode(a2).toString === "[5,7]")
    // MAP1 {raw "k": int 1} (MAP0=243); unclosed trailing open map
    val m1 = Array[Byte](244.toByte, (128 + 1).toByte, 'k'.toByte, 1)
    assert(QPack.decode(m1).toString === """{"k":1}""")
    val openMap = Array[Byte](253.toByte, (128 + 1).toByte, 'k'.toByte, 1)
    assert(QPack.decode(openMap).toString === """{"k":1}""")
  }

  test("ping, auth handshake, and the not-authenticated guard") {
    withServer { (c, _) =>
      // query before auth → ERR_NOT_AUTHENTICATED (clserver.c:44-57)
      val (tp0, _) = c.request(0, c.json("""["count series"]"""))
      assert(tp0 === 71)
      // ping works unauthenticated (on_ping)
      assert(c.request(3, Array.emptyByteArray)._1 === 3)
      // wrong database → 73; wrong credentials → 72
      assert(c.request(2, c.json("""["iris", "siri", "nosuchdb"]"""))._1 === 73)
      assert(c.request(2, c.json("""["iris", "wrong", "graft"]"""))._1 === 72)
      // default user (users.c:70-85) authenticates
      assert(c.request(2, c.json("""["iris", "siri", "graft"]"""))._1 === 2)
    }
  }

  test("golden slice over raw TCP: the reference aggr fixture") {
    withServer { (c, _) =>
      assert(c.request(2, c.json("""["iris", "siri", "graft"]"""))._1 === 2)
      val aggr = Seq(
        (1447250868, 530), (1447251168, 520), (1447249033, 531),
        (1447249337, 534), (1447249633, 535), (1447249937, 531),
        (1447250249, 532), (1447250549, 537), (1447251449, 54),
        (1447251749, 54), (1447252049, 513), (1447252349, 537),
        (1447253244, 533), (1447253549, 538), (1447253849, 534),
        (1447254149, 532), (1447252649, 528), (1447252968, 531),
        (1447254449, 533), (1447254748, 537))
      val points = aggr.map { case (t, v) => s"[$t, $v]" }.mkString(",")
      val (itp, ibody) = c.request(1, c.json(s"""{"aggr": [$points]}"""))
      assert(itp === 1) // RES_INSERT
      assert(QPack.decode(ibody).get("success_msg").asText() ===
        "Successfully inserted 20 point(s).")

      // itest/test_select.py:166-175 goldens
      val (qtp, qbody) = c.request(0, c.json("""["select sum(1h) from 'aggr'"]"""))
      assert(qtp === 0)
      assert(QPack.decode(qbody).toString ===
        """{"aggr":[[1447250400,2663],[1447254000,5409],[1447257600,1602]]}""")
      val (_, cbody) = c.request(0, c.json("""["select count(1h) from 'aggr'"]"""))
      assert(QPack.decode(cbody).toString ===
        """{"aggr":[[1447250400,5],[1447254000,12],[1447257600,3]]}""")

      // time_precision=1 (ms) scales output timestamps ×1000
      val (_, mbody) = c.request(0, c.json("""["select count(1h) from 'aggr'", 1]"""))
      assert(QPack.decode(mbody).get("aggr").get(0).get(0).asLong() === 1447250400000L)

      // array insert form + a metadata query through the table encoding
      assert(c.request(1,
        c.json("""[{"name": "aggr", "points": [[1447254900, 1]]}]"""))._1 === 1)
      val (_, lbody) = c.request(0, c.json("""["count series"]"""))
      assert(QPack.decode(lbody).get("rows").get(0).get(0).asLong() === 1L)

      // a parse error maps to ERR_QUERY with an error_msg
      val (etp, ebody) = c.request(0, c.json("""["select bogus() from 'aggr'"]"""))
      assert(etp === 65)
      assert(QPack.decode(ebody).get("error_msg").asText().nonEmpty)
    }
  }

  test("output ts correction is exact integer math past 2^53 — clserver.c:480-505") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def one(api: graft.server.ApiCore, ts: Long): Unit = {
      val node = mapper.createObjectNode()
      val p = node.putArray("big").addArray(); p.add(ts); p.add(1.0)
      api.runInsert(node, "iris")
    }
    // ns output from an ms database: ×10⁶ in int64 — the double
    // round-trip rounds to a multiple of 256 up there
    val ms = new graft.server.ApiCore(spark,
      java.nio.file.Files.createTempDirectory("graft-tsmul").toString,
      timePrecision = "ms")
    one(ms, 1700000000123L)
    assert(ms.runQuery("select * from 'big'", math.pow(1000.0, 2), "iris")
      .get("big").get(0).get(0).asLong() === 1700000000123000000L)
    // s output from an ns database: integer division truncates; the FP
    // multiply by 1e-9 rounds .999999999 UP across the boundary
    val ns = new graft.server.ApiCore(spark,
      java.nio.file.Files.createTempDirectory("graft-tsdiv").toString,
      timePrecision = "ns")
    one(ns, 1999999999999999999L)
    assert(ns.runQuery("select * from 'big'", math.pow(1000.0, -3), "iris")
      .get("big").get(0).get(0).asLong() === 1999999999L)
  }

  test("access bits are enforced per statement and on insert") {
    withServer { (c, api) =>
      // a read-only user (grant read ⊂ profile bits, access.h:23-27)
      val m = api.meta
      m.users.put("reader",
        m.User(graft.meta.MetaStore.hashPassword("pw"), graft.meta.Access.Read))
      assert(c.request(2, c.json("""["reader", "pw", "graft"]"""))._1 === 2)
      // reads pass
      assert(c.request(0, c.json("""["count series"]"""))._1 === 0)
      // insert → ERR_USER_ACCESS with the reference denial message
      val (itp, ibody) = c.request(1, c.json("""{"s": [[1, 1]]}"""))
      assert(itp === 69)
      assert(QPack.decode(ibody).get("error_msg").asText() ===
        "Access denied. User 'reader' has no 'insert' privileges.")
      // drop → ERR_USER_ACCESS too
      val (dtp, dbody) = c.request(0,
        c.json("""["drop series 'x' set ignore_threshold true"]"""))
      assert(dtp === 69)
      assert(QPack.decode(dbody).get("error_msg").asText().contains("no 'drop'"))
    }
  }

  test("concurrent connections keep isolated auth state") {
    val dir = Files.createTempDirectory("graft-tcp2").toString
    val api = new TcpApi(spark, dir)
    val port = api.start()
    val c1 = new Client(port)
    val c2 = new Client(port)
    try {
      // only c1 authenticates; c2 must stay locked out on the same server
      assert(c1.request(2, c1.json("""["iris", "siri", "graft"]"""))._1 === 2)
      assert(c2.request(0, c2.json("""["count series"]"""))._1 === 71)
      assert(c1.request(1, c1.json("""{"s": [[1, 1]]}"""))._1 === 1)
      assert(c1.request(0, c1.json("""["count series"]"""))._1 === 0)
      // parallel authenticated clients interleave cleanly
      assert(c2.request(2, c2.json("""["iris", "siri", "graft"]"""))._1 === 2)
      val threads = Seq(c1, c2).zipWithIndex.map { case (c, i) =>
        new Thread(() => (1 to 5).foreach { k =>
          val (tp, _) = c.request(0, c.json("""["count series"]"""))
          assert(tp === 0, s"client $i round $k")
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    } finally { c1.close(); c2.close(); api.stop() }
  }

  test("malformed packages never kill the connection") {
    withServer { (c, _) =>
      // truncated raw in the auth payload → clean credential error
      assert(c.request(2, Array[Byte](228.toByte, 50))._1 === 72)
      // garbage in a query payload after auth → clean query error
      assert(c.request(2, c.json("""["iris", "siri", "graft"]"""))._1 === 2)
      val (tp, _) = c.request(0, Array[Byte](0xFF.toByte))
      assert(tp === 65)
      // the connection still serves afterwards
      assert(c.request(3, Array.emptyByteArray)._1 === 3)
      assert(c.request(0, c.json("""["count series"]"""))._1 === 0)
    }
  }

  test("backup mode refuses inserts with the server-status error") {
    withServer { (c, api) =>
      assert(c.request(2, c.json("""["iris", "siri", "graft"]"""))._1 === 2)
      assert(c.request(1, c.json("""{"s": [[1, 1]]}"""))._1 === 1)
      api.meta.config.put("backup_mode", "true")
      val (tp, body) = c.request(1, c.json("""{"s": [[2, 2]]}"""))
      assert(tp === 66) // ERR_INSERT
      assert(QPack.decode(body).get("error_msg").asText() ===
        "Server 'local' is not accepting the request because of having status: 9")
      api.meta.config.put("backup_mode", "false")
      assert(c.request(1, c.json("""{"s": [[2, 2]]}"""))._1 === 1)
    }
  }

  test("sendPkg hands its stream one write per package, header and data together") {
    final class CountingStream extends OutputStream {
      var writes = 0
      val bytes = new java.io.ByteArrayOutputStream
      override def write(b: Int): Unit = { writes += 1; bytes.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        writes += 1; bytes.write(b, off, len)
      }
    }
    Seq(Array.emptyByteArray, Array[Byte](1, 2, 3), new Array[Byte](70000)).foreach { data =>
      val out = new CountingStream
      Cproto.sendPkg(out, 258, 33, data)
      assert(out.writes === 1, s"writes for a ${data.length}-byte package")
      val (pid, tp, back) = Cproto.readPkg(
        new DataInputStream(new java.io.ByteArrayInputStream(out.bytes.toByteArray)))
      assert((pid, tp) === ((258, 33)))
      assert(back.sameElements(data))
    }
  }

  test("a reply leaves without a delayed-ACK stall: 20 round trips, median under 20 ms") {
    withServer { (c, _) =>
      // REQ_SERVICE with bad credentials: a non-empty error body, no Spark job
      val req = c.json("""["sa", "wrong", "get-version", {}]""")
      val ms = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        val (tp, body) = c.request(32, req)
        val dt = (System.nanoTime() - t0) / 1e6
        assert(tp === 96 && body.nonEmpty)
        dt
      }.sorted
      val median = (ms(9) + ms(10)) / 2
      assert(median < 20.0, s"median round trip $median ms; all: $ms")
    }
  }

  /** Poll `show <prop>` on `c` until it reads `want`, for up to 10 s. */
  private def awaitShow(c: Client, prop: String, want: Long => Boolean): Long = {
    def read(): Long = {
      val (tp, body) = c.request(0, c.json(s"""["show $prop"]"""))
      assert(tp === 0)
      QPack.decode(body).get("rows").get(0).get(1).asText().toLong
    }
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var v = read()
    while (!want(v) && System.nanoTime() < deadline) { Thread.sleep(20); v = read() }
    v
  }

  test("show active_handles counts open connections; active_tasks counts the request") {
    val dir = Files.createTempDirectory("graft-tcp-handles").toString
    val api = new TcpApi(spark, dir)
    val port = api.start()
    val c = new Client(port)
    try {
      assert(c.request(2, c.json("""["iris", "siri", "graft"]"""))._1 === 2)
      // the asking request itself is in flight
      assert(awaitShow(c, "active_tasks", _ >= 1) >= 1)
      val base = awaitShow(c, "active_handles", _ >= 1)
      val extra = (1 to 3).map(_ => new Client(port))
      try {
        extra.foreach(p => assert(p.request(2, p.json("""["iris", "siri", "graft"]"""))._1 === 2))
        assert(awaitShow(c, "active_handles", _ == base + 3) === base + 3)
      } finally extra.foreach(_.close())
      assert(awaitShow(c, "active_handles", _ == base) === base)
    } finally { c.close(); api.stop() }
  }

  test("an exception with an empty message still gets an error reply") {
    val dir = Files.createTempDirectory("graft-tcp-empty").toString
    val api = new TcpApi(spark, dir)
    api.registry.dbs.put("boom", new ThrowingDb(api.meta, "", "\n"))
    val c = new Client(api.start())
    try {
      assert(c.request(2, c.json("""["iris", "siri", "boom"]"""))._1 === 2)
      val (qtp, qbody) = c.request(0, c.json("""["count series"]"""))
      assert(qtp === 65) // ERR_QUERY
      assert(QPack.decode(qbody).get("error_msg").asText() === "java.lang.RuntimeException")
      val (itp, ibody) = c.request(1, c.json("""{"s": [[1, 1]]}"""))
      assert(itp === 66) // ERR_INSERT
      assert(QPack.decode(ibody).get("error_msg").asText() === "java.lang.RuntimeException")
      // the connection still serves
      assert(c.request(3, Array.emptyByteArray)._1 === 3)
    } finally { c.close(); api.stop() }
  }
}
