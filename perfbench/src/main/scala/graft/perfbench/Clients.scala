package graft.perfbench

import java.io.{DataInputStream, IOException}
import java.net.{HttpURLConnection, Socket, URI}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.server.{Cproto, QPack}

/** A reply as the client saw it: `ok` is false for any error-coded
  * reply; `bytes` is the wire size of the reply data. */
final case class Reply(ok: Boolean, body: JsonNode, bytes: Int)

/** Minimal CPROTO client over one TCP connection, framed by the
  * server's own `Cproto.sendPkg` / `readPkg`. */
final class CprotoClient(port: Int) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(sock.getInputStream)
  private val out = sock.getOutputStream
  private var pid = 0

  private def request(tp: Int, data: Array[Byte]): (Int, Array[Byte]) = {
    pid = (pid + 1) & 0xFFFF
    Cproto.sendPkg(out, pid, tp, data)
    val (rpid, rtp, rdata) = Cproto.readPkg(in)
    if (rpid != pid) throw new IOException(s"reply pid $rpid, expected $pid")
    (rtp, rdata)
  }

  private def reply(okType: Int, r: (Int, Array[Byte])): Reply = {
    val body = if (r._2.isEmpty) null else QPack.decode(r._2)
    Reply(r._1 == okType, body, r._2.length)
  }

  def auth(user: String, password: String, db: String): Boolean = {
    val a = Clients.mapper.createArrayNode().add(user).add(password).add(db)
    request(2, QPack.encode(a))._1 == 2
  }

  def query(q: String): Reply =
    reply(0, request(0, QPack.encode(Clients.mapper.createArrayNode().add(q))))

  def insert(body: JsonNode): Reply = reply(1, request(1, QPack.encode(body)))

  def close(): Unit = sock.close()
}

/** HTTP client for the JSON insert API (POST /insert/<db>). */
final class HttpClient(port: Int, db: String) {
  private def post(path: String, body: Array[Byte]): Reply = {
    val c = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    c.setFixedLengthStreamingMode(body.length)
    val os = c.getOutputStream
    os.write(body); os.close()
    val code = c.getResponseCode
    val stream = if (code == 200) c.getInputStream else c.getErrorStream
    val bytes = stream.readAllBytes()
    stream.close()
    Reply(code == 200, Clients.mapper.readTree(bytes), bytes.length)
  }

  def insert(body: JsonNode): Reply =
    post(s"/insert/$db", Clients.mapper.writeValueAsBytes(body))
}

object Clients {
  val mapper = new ObjectMapper()
}
