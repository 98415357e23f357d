package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.Base64

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.meta.MetaStore
import graft.parser.{AccessError, QueryError}

/** Thin HTTP façade over the engine — the Spark analog of the
  * reference's HTTP API (src/siri/api.c:233-292):
  *
  *   POST /query/<db>   {"q": "<siridb query>"}
  *   POST /insert/<db>  {"name": [[ts,val],...], ...}        (map form)
  *                      [{"name": "x", "points": [[ts,v]..]}] (array form)
  *
  * plus the service API (service-account authenticated):
  *   POST /get-version /get-accounts /get-databases
  *   POST /new-account /change-password /drop-account
  *   POST /new-database /drop-database /new-pool /new-replica
  *
  * Credentials ride an HTTP basic Authorization header like the
  * reference (api.c authentication); a request without one runs as the
  * seeded default user 'iris' (users.c:70-85) — or the default service
  * account 'sa' for service endpoints — so local tooling works out of
  * the box. Access bits are enforced per statement either way.
  *
  * Handlers and encodings live in [[ApiCore]] (one per database in the
  * [[ServerRegistry]]), shared with the TCP ([[TcpApi]]) and pipe
  * ([[PipeApi]]) transports.
  */
final class HttpApi(spark: SparkSession, storeDir: String, port: Int = 0,
    sharedRegistry: Option[ServerRegistry] = None) {

  private val reg = sharedRegistry
    .getOrElse(new ServerRegistry(spark, "graft", storeDir))
  private val mapper = new ObjectMapper()

  private val server = HttpApi.create(port)
  server.createContext("/query/", exchange(handleQuery))
  server.createContext("/insert/", exchange(handleInsert))
  Seq("get-version", "get-accounts", "get-databases", "new-account",
    "change-password", "drop-account", "new-database", "drop-database",
    "new-pool", "new-replica").foreach { svc =>
    server.createContext(s"/$svc", exchange(handleService(svc)))
  }

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = server.stop(0)

  def registry: ServerRegistry = reg

  /** Metastore of the default database (exposed for specs). */
  def meta: graft.meta.MetaStore = reg.db("graft").get.meta

  // ---- handlers ----

  private final case class HttpError(code: Int, msg: String)
    extends RuntimeException(msg)

  private def credentials(ex: HttpExchange): Option[(String, String)] =
    Option(ex.getRequestHeaders.getFirst("Authorization")).map {
      case h if h.startsWith("Basic ") =>
        new String(Base64.getDecoder.decode(h.stripPrefix("Basic ")),
          StandardCharsets.UTF_8).split(":", 2) match {
          case Array(u, p) => (u, p)
          case _ => throw HttpError(401, "Invalid authorization header")
        }
      case _ => throw HttpError(401, "Invalid authorization header")
    }

  /** Database-user auth: basic credentials when present (validated
    * against the addressed database), default user otherwise. */
  private def userOf(ex: HttpExchange, core: DbHandler): String =
    credentials(ex) match {
      case Some((u, p)) if core.authenticate(u, p) => u
      case Some(_) => throw HttpError(401, "Invalid credentials")
      case None => "iris"
    }

  /** Database addressed by the /query/<db> path (api__get_siridb). */
  private def dbOf(ex: HttpExchange, prefix: String): DbHandler = {
    val name = ex.getRequestURI.getPath.stripPrefix(prefix)
      .takeWhile(_ != '/')
    reg.db(name).getOrElse(
      throw HttpError(404, s"database '$name' not found"))
  }

  /** qpack content negotiation like the reference HTTP API
    * (api.c:351-365 accepts application/qpack and x-qpack and answers
    * in kind; JSON otherwise). */
  private def isQpack(ex: HttpExchange): Boolean =
    Option(ex.getRequestHeaders.getFirst("Content-Type")).exists { ct =>
      val t = ct.toLowerCase
      t.startsWith("application/qpack") || t.startsWith("application/x-qpack")
    }

  private def exchange(h: (HttpExchange, JsonNode, Map[String, String]) => (Int, JsonNode))(ex: HttpExchange): Unit = {
    val qpack = isQpack(ex)
    val (code, body) =
      try {
        if (ex.getRequestMethod != "POST")
          (405, errNode("only POST is supported"))
        else {
          val raw = ex.getRequestBody.readAllBytes()
          val params = Option(ex.getRequestURI.getQuery).toSeq
            .flatMap(_.split("&").toSeq)
            .flatMap(_.split("=", 2) match {
              case Array(k, v) => Some(k -> v)
              case _ => None
            }).toMap
          val node =
            if (qpack) QPack.decode(raw)
            else mapper.readTree(new String(raw, StandardCharsets.UTF_8))
          h(ex, node, params)
        }
      } catch {
        case e: HttpError => (e.code, errNode(e.msg))
        case e: AccessError => (403, errNode(e.msg))
        case e: QueryError => (400, errNode(e.msg))
        case e: Exception => (500, errNode(Cproto.errorLine(e)))
      }
    val bytes =
      if (qpack) QPack.encode(body) else mapper.writeValueAsBytes(body)
    ex.getResponseHeaders.set("Content-Type",
      if (qpack) "application/qpack" else "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def errNode(m: String): JsonNode =
    mapper.createObjectNode().put("error_msg", m)

  /** Output timestamp precision correction: the client may ask for
    * another precision via ?t=s|ms|us|ns and output ts values are
    * scaled by pow(1000, requested - db precision) — fractional when
    * coarser than the database (clserver.c:480-505,
    * siridb_points_ts_correction points.c:291). */
  private val precisionPow = Map("s" -> 0, "ms" -> 1, "us" -> 2, "ns" -> 3)

  private def handleQuery(ex: HttpExchange, req: JsonNode, params: Map[String, String]): (Int, JsonNode) = {
    val core = dbOf(ex, "/query/")
    val user = userOf(ex, core)
    val q = Option(req.get("q")).map(_.asText())
      .getOrElse(throw QueryError("expecting a 'q' field with the query"))
    val dbPow = (math.log(core.factor.toDouble) / math.log(1000.0)).round.toInt
    val tsFactor = params.get("t")
      .map(t => precisionPow.getOrElse(t,
        throw QueryError(s"unknown time precision '$t' (use s, ms, us or ns)")))
      .map(p => math.pow(1000.0, (p - dbPow).toDouble))
      .getOrElse(0.0)
    (200, MetaStore.task(core.runQuery(q, tsFactor, user)))
  }

  private def handleInsert(ex: HttpExchange, req: JsonNode, params: Map[String, String]): (Int, JsonNode) = {
    val core = dbOf(ex, "/insert/")
    (200, MetaStore.task(core.runInsert(req, userOf(ex, core))))
  }

  /** Service endpoints authenticate against service accounts
    * (request.h: default sa/siri), not database users. */
  private def handleService(svc: String)(ex: HttpExchange, req: JsonNode, params: Map[String, String]): (Int, JsonNode) = {
    credentials(ex) match {
      case Some((u, p)) if !reg.authAccount(u, p) =>
        throw HttpError(401, "Invalid service account credentials")
      case _ => () // absent → default account, like /query's default user
    }
    val (isErr, body) = reg.service(svc, req)
    (if (isErr) 400 else 200, body)
  }
}

object HttpApi {
  /** TCP_NODELAY on every accepted HTTP socket: the JDK server flushes
    * the response headers before the body, and with Nagle's algorithm
    * on the body then waits for the client's delayed ACK (about 40 ms
    * per reply). `sun.net.httpserver.ServerConfig` reads this property
    * once, when the JVM's first `HttpServer` is created, so it is set
    * here, before [[create]]; a value given with `-D` wins. */
  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")

  private def create(port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
}
