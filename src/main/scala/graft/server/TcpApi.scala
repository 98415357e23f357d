package graft.server

import java.net.{InetAddress, ServerSocket, Socket}

import org.apache.spark.sql.SparkSession

/** The reference's primary client transport: CPROTO over TCP
  * (src/siri/net/clserver.c uv_tcp path). Framing, dispatch and auth
  * live in [[Cproto]]; this layer only accepts sockets — all data work
  * happens in Spark jobs, so plain blocking-socket threads suffice. */
final class TcpApi(spark: SparkSession, storeDir: String, port: Int = 0,
    sharedRegistry: Option[ServerRegistry] = None) {

  private val reg = sharedRegistry
    .getOrElse(new ServerRegistry(spark, "graft", storeDir))

  private val server = new ServerSocket(port, 16, InetAddress.getByName("127.0.0.1"))
  @volatile private var running = false

  def registry: ServerRegistry = reg

  /** Metastore of the default database (exposed for specs). */
  def meta: graft.meta.MetaStore = reg.db("graft").get.meta

  def start(): Int = {
    running = true
    Cproto.acceptLoop("graft-tcp-accept", () => running, () => server.accept())(serve)
    server.getLocalPort
  }

  def stop(): Unit = { running = false; server.close() }

  /** TCP_NODELAY: with Nagle's algorithm on, a partial segment waits
    * until the client ACKs the data sent before it, and a client that
    * delays its ACK adds about 40 ms. Each reply is already one write
    * ([[Cproto.sendPkg]]), so holding it back coalesces nothing. */
  private def serve(sock: Socket): Unit =
    try {
      sock.setTcpNoDelay(true)
      Cproto.serve(reg, sock.getInputStream, sock.getOutputStream)
    } finally sock.close()
}
