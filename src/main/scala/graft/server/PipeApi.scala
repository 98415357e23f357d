package graft.server

import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.channels.{Channels, ServerSocketChannel, SocketChannel}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Named-pipe transport — the analog of the reference's uv_pipe client
  * server (src/siri/net/pipe.c, enabled with --pipe-support; itest
  * test_pipe_support.py): the SAME CPROTO/qpack protocol as TCP,
  * served over a filesystem-addressed unix domain socket so local
  * clients skip the IP stack. Framing and dispatch are shared with
  * [[TcpApi]] via [[Cproto]].
  */
final class PipeApi(spark: SparkSession, storeDir: String, pipePath: String,
    sharedRegistry: Option[ServerRegistry] = None) {

  private val reg = sharedRegistry
    .getOrElse(new ServerRegistry(spark, "graft", storeDir))

  private val address = UnixDomainSocketAddress.of(pipePath)
  private var server: ServerSocketChannel = _
  @volatile private var running = false

  def registry: ServerRegistry = reg

  /** Metastore of the default database (exposed for specs). */
  def meta: graft.meta.MetaStore = reg.db("graft").get.meta

  def start(): String = {
    Files.deleteIfExists(Path.of(pipePath)) // stale socket from a crash
    server = ServerSocketChannel.open(StandardProtocolFamily.UNIX)
    server.bind(address)
    running = true
    Cproto.acceptLoop("graft-pipe-accept", () => running, () => server.accept())(serve)
    pipePath
  }

  def stop(): Unit = {
    running = false
    if (server != null) server.close()
    Files.deleteIfExists(Path.of(pipePath))
  }

  private def serve(ch: SocketChannel): Unit =
    try Cproto.serve(reg,
      Channels.newInputStream(ch), Channels.newOutputStream(ch))
    finally ch.close()
}
