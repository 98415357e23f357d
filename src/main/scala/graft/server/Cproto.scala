package graft.server

import java.io.{DataInputStream, EOFException, IOException, InputStream, OutputStream}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.parser.{AccessError, QueryError}

/** Transport-independent CPROTO connection loop: the same framing and
  * dispatch serves TCP sockets ([[TcpApi]]) and named pipes / unix
  * sockets ([[PipeApi]]) — mirroring the reference, where
  * clserver.c:274-510 handles both uv_tcp and uv_pipe streams.
  *
  * Wire framing (include/siri/net/pkg.h:37-45): an 8-byte header —
  * data length u32 LE, pid u16 LE (echoed on the response), type u8,
  * checkbit u8 = type ^ 255 (pkg.c:212) — followed by the qpack data.
  *
  * Requests (include/siri/net/protocol.h:10-23):
  *   REQ_QUERY=0  (query [, time_precision])    → RES_QUERY=0 {data}
  *   REQ_INSERT=1 map/array of series points    → RES_INSERT=1 {success_msg}
  *   REQ_AUTH=2   (user, password, dbname)      → RES_AUTH_SUCCESS=2 empty
  *   REQ_PING=3   empty                         → RES_ACK=3 empty
  * Errors: ERR_QUERY=65 / ERR_INSERT=66 {error_msg},
  * ERR_USER_ACCESS=69 {error_msg}, ERR_NOT_AUTHENTICATED=71,
  * ERR_AUTH_CREDENTIALS=72, ERR_AUTH_UNKNOWN_DB=73 (all empty).
  *
  * Auth state is per connection (clserver.c:349): query/insert before
  * a successful REQ_AUTH get ERR_NOT_AUTHENTICATED (the CHECK_SIRIDB
  * macro, clserver.c:44-57).
  */
private[graft] object Cproto {

  private val mapper = new ObjectMapper()

  /** Upper bound on one package's data (the reference warns above
    * 1 MB — clserver.c WARNING_PKG_SIZE; this caps a hostile length
    * field before the allocation). */
  private val MaxPkgSize = 256 * 1024 * 1024

  def readPkg(in: DataInputStream): (Int, Int, Array[Byte]) = {
    val header = new Array[Byte](8)
    in.readFully(header)
    def u8(i: Int) = header(i) & 0xFF
    val len = u8(0) | (u8(1) << 8) | (u8(2) << 16) | (u8(3) << 24)
    val pid = u8(4) | (u8(5) << 8)
    val tp = u8(6)
    val checkbit = u8(7)
    if (checkbit != (tp ^ 255))
      throw new IOException(s"bad checkbit for package type $tp")
    if (len < 0 || len > MaxPkgSize)
      throw new IOException(s"package size $len out of bounds")
    val data = new Array[Byte](len)
    in.readFully(data)
    (pid, tp, data)
  }

  def sendPkg(out: OutputStream, pid: Int, tp: Int, data: Array[Byte]): Unit = {
    val h = new Array[Byte](8)
    val len = data.length
    h(0) = (len & 0xFF).toByte; h(1) = ((len >> 8) & 0xFF).toByte
    h(2) = ((len >> 16) & 0xFF).toByte; h(3) = ((len >> 24) & 0xFF).toByte
    h(4) = (pid & 0xFF).toByte; h(5) = ((pid >> 8) & 0xFF).toByte
    h(6) = tp.toByte; h(7) = (tp ^ 255).toByte
    out.write(h); out.write(data); out.flush()
  }

  private def errData(msg: String): Array[Byte] =
    QPack.encode(mapper.createObjectNode().put("error_msg", msg))

  /** Serve one connection until the peer goes away
    * (dispatch: clserver.c:274-310). The auth handshake binds the
    * connection to one database from the registry. */
  def serve(reg: ServerRegistry, rawIn: InputStream, out: OutputStream): Unit = {
    val in = new DataInputStream(rawIn)
    var session: Option[(String, DbHandler)] = None // connection auth state
    try {
      while (true) {
        val (pid, tp, data) = readPkg(in)
        val (resTp, resData): (Int, Array[Byte]) = tp match {
          case 3 => (3, Array.emptyByteArray) // PING → ACK
          case 2 => // AUTH (user, password, dbname)
            // malformed qpack must not kill the connection thread
            val arr = try QPack.decode(data) catch {
              case _: Exception => mapper.nullNode()
            }
            if (!arr.isArray || arr.size() < 3) (72, Array.emptyByteArray)
            else reg.db(arr.get(2).asText()) match {
              case None => (73, Array.emptyByteArray) // ERR_AUTH_UNKNOWN_DB
              case Some(core) =>
                if (core.authenticate(arr.get(0).asText(), arr.get(1).asText())) {
                  session = Some((arr.get(0).asText(), core))
                  (2, Array.emptyByteArray) // RES_AUTH_SUCCESS
                } else (72, Array.emptyByteArray) // ERR_AUTH_CREDENTIALS
            }
          case 0 => session match { // QUERY
            case None => (71, Array.emptyByteArray) // ERR_NOT_AUTHENTICATED
            case Some((u, core)) =>
              try {
                val arr = QPack.decode(data)
                if (!arr.isArray || arr.size() < 1)
                  (65, errData("Incorrect query package received."))
                else {
                  val q = arr.get(0).asText()
                  // optional time_precision (time.h:9-14: s=0 ms=1
                  // us=2 ns=3); output ts factor =
                  // pow(1000, requested - db precision), 0.0 = raw
                  // (clserver.c:480-505)
                  val dbPow = (math.log(core.factor.toDouble) /
                    math.log(1000.0)).round.toInt
                  val tsFactor = Option(arr.get(1))
                    .filter(_.isIntegralNumber).map(_.asLong())
                    .filter(t => t >= 0 && t <= 3)
                    .map(t => math.pow(1000.0, (t - dbPow).toDouble))
                    .getOrElse(0.0)
                  (0, QPack.encode(core.runQuery(q, tsFactor, u)))
                }
              } catch {
                case e: AccessError => (69, errData(e.msg))
                case e: QueryError => (65, errData(e.msg))
                case e: Exception =>
                  (65, errData(Option(e.getMessage).getOrElse(e.toString)
                    .linesIterator.next()))
              }
          }
          case 1 => session match { // INSERT
            case None => (71, Array.emptyByteArray)
            case Some((u, core)) =>
              try (1, QPack.encode(core.runInsert(QPack.decode(data), u)))
              catch {
                case e: AccessError => (69, errData(e.msg))
                case e: QueryError => (66, errData(e.msg))
                case e: Exception =>
                  (66, errData(Option(e.getMessage).getOrElse(e.toString)
                    .linesIterator.next()))
              }
          }
          case 32 => // REQ_SERVICE (user, password, request, {...})
            // (protocol.h:22, request.h) — service-account auth, not
            // database users
            try {
              val arr = QPack.decode(data)
              if (!arr.isArray || arr.size() < 3)
                (97, Array.emptyByteArray) // ERR_SERVICE_INVALID_REQUEST
              else if (!reg.authAccount(arr.get(0).asText(), arr.get(1).asText()))
                (96, errData("Invalid service account credentials"))
              else {
                val reqName =
                  if (arr.get(2).isIntegralNumber) reg.serviceName(arr.get(2).asLong())
                  else Some(arr.get(2).asText())
                reqName match {
                  case None => (97, Array.emptyByteArray)
                  case Some(r) =>
                    val (isErr, body) = reg.service(r, arr.get(3))
                    if (isErr) (96, QPack.encode(body)) // ERR_SERVICE
                    else if (body.isArray) (33, QPack.encode(body)) // ACK_SERVICE_DATA
                    else (32, Array.emptyByteArray) // ACK_SERVICE
                }
              }
            } catch {
              case e: Exception =>
                (96, errData(Option(e.getMessage).getOrElse(e.toString)
                  .linesIterator.next()))
            }
          case _ => (70, Array.emptyByteArray) // CPROTO_ERR
        }
        sendPkg(out, pid, resTp, resData)
      }
    } catch {
      case _: EOFException | _: IOException => () // client went away
    }
  }

  /** The accept loop both listeners share (TCP and unix socket): a
    * daemon thread named `name` accepts connections while `running()`
    * holds and serves each one on a daemon thread of its own. Closing
    * the listener makes `accept` throw, which ends the loop once
    * `running()` is false. */
  def acceptLoop[C](name: String, running: () => Boolean, accept: () => C)(
      serve: C => Unit): Unit = {
    val acceptor = new Thread(() => {
      while (running()) {
        try {
          val conn = accept()
          val t = new Thread(() => serve(conn))
          t.setDaemon(true)
          t.start()
        } catch {
          case _: IOException => () // listener closed on stop()
        }
      }
    }, name)
    acceptor.setDaemon(true)
    acceptor.start()
  }
}
