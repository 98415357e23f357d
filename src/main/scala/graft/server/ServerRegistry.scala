package graft.server

import java.nio.file.{Files, Path, Paths}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Server-level state shared by every transport: service accounts and
  * the database registry — the analog of the reference's service API
  * (src/siri/api.c:233-292, src/siri/service/request.h: NEW_ACCOUNT=0,
  * CHANGE_PASSWORD=1, DROP_ACCOUNT=2, NEW_DATABASE=3, DROP_DATABASE=6,
  * GET_VERSION=64, GET_ACCOUNTS=65, GET_DATABASES=66; default service
  * account 'sa'/'siri').
  *
  * Databases are sibling store directories under one root; each gets
  * its own [[ApiCore]] (metastore + Ingest store). The pool/replica
  * requests (NEW_POOL/NEW_REPLICA) are cluster-membership operations
  * whose placement concern Spark owns; after validating the request
  * fields (dbname/host/port/credentials) they are accepted by hosting
  * the named database locally and answering the reference's bare
  * "OK" — a client that expands a cluster gets a working database
  * either way (see ServiceSpec).
  */
final class ServerRegistry(spark: SparkSession, defaultDb: String,
    defaultDir: String) {

  private val mapper = new ObjectMapper()

  /** Service accounts (request.h; default account sa/siri). */
  val accounts = TrieMap("sa" -> "siri")

  val dbs = TrieMap[String, DbHandler](
    defaultDb -> new ApiCore(spark, defaultDir, defaultDb))

  /** Store directory per database — needed when a standalone database
    * upgrades in place to a PoolCluster (its store becomes pool 0). */
  private val dbDirs = TrieMap(defaultDb -> defaultDir)

  /** New databases land next to the default store. */
  private val root: Path =
    Option(Paths.get(defaultDir).toAbsolutePath.getParent)
      .getOrElse(Paths.get("/tmp"))

  def authAccount(user: String, password: String): Boolean =
    accounts.get(user).contains(password)

  def db(name: String): Option[DbHandler] = dbs.get(name)

  private def err(msg: String): JsonNode =
    mapper.createObjectNode().put("error_msg", msg)

  private def okMsg(msg: String): JsonNode =
    mapper.createObjectNode().put("success_msg", msg)

  /** The reference's database-name rule (service/request.c:199):
    * 2..20 chars, starts with a letter, ends alphanumeric. */
  private val nameRe = "[a-zA-Z][a-zA-Z0-9-_]{0,18}[a-zA-Z0-9]".r

  /** One service request by name; returns (isError, body). Request
    * names mirror the HTTP paths (api.c:233-292). */
  def service(request: String, body: JsonNode): (Boolean, JsonNode) = {
    def field(k: String): Option[String] =
      Option(body).flatMap(b => Option(b.get(k))).map(_.asText())
    request match {
      case "get-version" =>
        val a = mapper.createArrayNode(); a.add("2.0.55"); (false, a)
      case "get-accounts" =>
        val a = mapper.createArrayNode()
        accounts.keys.toSeq.sorted.foreach(a.add)
        (false, a)
      case "get-databases" =>
        val a = mapper.createArrayNode()
        dbs.keys.toSeq.sorted.foreach(a.add)
        (false, a)
      case "new-account" =>
        // limits + messages are service/account.c:119-143
        (field("account"), field("password")) match {
          case (Some(u), _) if u.length < 2 =>
            (true, err("service account name should have at least 2 characters"))
          case (Some(u), Some(p)) if p.length < 2 =>
            (true, err("service account password should have at least 2 characters"))
          case (Some(u), Some(p)) =>
            if (accounts.putIfAbsent(u, p).isDefined)
              (true, err(s"service account '$u' already exists"))
            else (false, okMsg(s"Successfully created service account '$u'."))
          case _ => (true, err("expecting an 'account' and 'password' field"))
        }
      case "change-password" =>
        (field("account"), field("password")) match {
          case (Some(u), Some(p)) if accounts.contains(u) =>
            accounts.put(u, p)
            (false, okMsg(s"Successfully updated service account '$u'."))
          case (Some(u), _) => (true, err(s"Service account '$u' does not exist"))
          case _ => (true, err("expecting an 'account' and 'password' field"))
        }
      case "drop-account" =>
        field("account") match {
          case Some(u) if accounts.size == 1 =>
            (true, err("Cannot drop the last service account"))
          case Some(u) =>
            if (accounts.remove(u).isEmpty)
              (true, err(s"Service account '$u' does not exist"))
            else (false, okMsg(s"Successfully dropped service account '$u'."))
          case None => (true, err("expecting an 'account' field"))
        }
      case "new-database" =>
        field("dbname") match {
          case Some(name) if nameRe.matches(name) =>
            if (dbs.contains(name))
              (true, err(s"database name already exists: '$name'"))
            else {
              // optional time_precision / duration_num / duration_log
              // (SERVICE_on_new_database, request.c:146-240):
              // precision in {s, ms, us, ns}; durations "<1-99>[hdw]"
              // scaled to raw precision units; reference defaults 1w
              // (num) / 1d (log)
              val tp = field("time_precision").getOrElse("s")
              if (!Set("s", "ms", "us", "ns").contains(tp))
                return (true, err(s"invalid time precision: '$tp' " +
                  "(expecting s, ms, us or ns)"))
              val f = Map("s" -> 1L, "ms" -> 1000L, "us" -> 1000000L,
                "ns" -> 1000000000L)(tp)
              val durRe = "([0-9]{1,2})([hdw])".r
              def dur(v: String): Option[Long] = v match {
                case durRe(n, u) if n.toInt >= 1 =>
                  Some(n.toLong * (u match {
                    case "h" => 3600L
                    case "d" => 86400L
                    case _ => 604800L
                  }) * f)
                case _ => None
              }
              val dn = field("duration_num") match {
                case None => 604800L * f // DEFAULT_DURATION_NUM
                case Some(v) => dur(v).getOrElse(return (true, err(
                  s"invalid number duration: '$v' (valid examples: 6h, 2d or 1w)")))
              }
              val dl = field("duration_log") match {
                case None => 86400L * f // DEFAULT_DURATION_LOG
                case Some(v) => dur(v).getOrElse(return (true, err(
                  s"invalid log duration: '$v' (valid examples: 6h, 2d or 1w)")))
              }
              val dir = root.resolve(s"graft-db-$name")
              Files.createDirectories(dir)
              dbs.put(name, new ApiCore(spark, dir.toString, name,
                timePrecision = tp, durationNum = Some(dn),
                durationLogOpt = Some(dl)))
              dbDirs.put(name, dir.toString)
              (false, okMsg(s"Successfully created database '$name'."))
            }
          case Some(name) => (true, err(s"invalid database name: '$name'"))
          case None => (true, err("expecting a 'dbname' field"))
        }
      case "drop-database" =>
        field("dbname") match {
          case Some(name) if name == defaultDb =>
            (true, err(s"Cannot drop the default database '$name'"))
          case Some(name) =>
            dbs.remove(name) match {
              case Some(h) =>
                h.release()
                dbDirs.remove(name)
                // the standalone store and, once new-pool made it a
                // cluster, its pools
                Seq(s"graft-db-$name", s"graft-db-$name-pools")
                  .map(root.resolve).filter(Files.exists(_)).foreach { dir =>
                    Files.walk(dir).iterator().asScala.toSeq.reverse
                      .foreach(Files.deleteIfExists(_))
                  }
                (false, okMsg(s"Successfully dropped database '$name'."))
              case None => (true, err(s"Database '$name' does not exist"))
            }
          case None => (true, err("expecting a 'dbname' field"))
        }
      case "new-pool" | "new-replica" =>
        // cluster-membership requests (SERVICE_on_new_replica_or_pool,
        // service/request.c:830-900): the reference joins a remote
        // cluster and starts hosting the database. In a Spark-native
        // engine data placement belongs to the execution engine, so
        // "joining" reduces to hosting the database locally; the wire
        // contract (required fields, port validation, bare "OK") is
        // preserved (test_http_api.py:83-90 asserts x.json() == 'OK').
        val required = Seq("dbname", "host", "port", "username", "password") ++
          (if (request == "new-replica") Seq("pool") else Nil)
        if (required.exists(k => field(k).isEmpty))
          (true, err("invalid service request: missing fields"))
        else {
          val port = field("port").get
          val pn = scala.util.Try(port.toLong).getOrElse(-1L)
          if (pn < 1 || pn > 65535)
            (true, err(s"invalid port number: $port " +
              "(expecting a value between 0 and 65536)"))
          else {
            val name = field("dbname").get
            if (request == "new-pool") dbs.get(name) match {
              // real pool expansion (PoolCluster): an existing
              // standalone store becomes pool 0 of a cluster and the
              // new pool re-indexes its share out (reindex.c); an
              // existing cluster simply grows by one pool
              case Some(cluster: PoolCluster) => cluster.expand()
              case Some(_: ApiCore) =>
                val base = root.resolve(s"graft-db-$name-pools")
                Files.createDirectories(base)
                val cluster = new PoolCluster(spark, base.toString,
                  initialPools = 1, dbName = name,
                  pool0Dir = dbDirs.get(name))
                cluster.expand()
                dbs.put(name, cluster)
              case _ =>
                val base = root.resolve(s"graft-db-$name-pools")
                Files.createDirectories(base)
                dbs.put(name, new PoolCluster(spark, base.toString,
                  initialPools = 1, dbName = name))
                dbDirs.put(name, base.toString)
            } else dbs.get(name) match {
              // new-replica on a clustered database = fleet
              // membership: the joining server appears as its pool's
              // second server in the servers/pools views (shared
              // storage already provides the durability fifo
              // replication exists for)
              case Some(cluster: PoolCluster) =>
                val pool = field("pool").flatMap(p =>
                  scala.util.Try(p.toInt).toOption).getOrElse(0)
                if (pool < 0 || pool >= cluster.nPools)
                  return (true, err(s"unknown pool: $pool"))
                cluster.addReplica(pool)
              case Some(_) => () // standalone db: already hosted
              case None =>
                // joining an unknown database reduces to hosting it
                val dir = root.resolve(s"graft-db-$name")
                Files.createDirectories(dir)
                dbs.put(name, new ApiCore(spark, dir.toString, name))
                dbDirs.put(name, dir.toString)
            }
            (false, mapper.getNodeFactory.textNode("OK"))
          }
        }
      case other =>
        (true, err(s"unknown service request '$other'"))
    }
  }

  /** CPROTO_REQ_SERVICE numeric request ids (request.h:9-16). */
  def serviceName(id: Long): Option[String] = id match {
    case 0 => Some("new-account")
    case 1 => Some("change-password")
    case 2 => Some("drop-account")
    case 3 => Some("new-database")
    case 4 => Some("new-pool")
    case 5 => Some("new-replica")
    case 6 => Some("drop-database")
    case 64 => Some("get-version")
    case 65 => Some("get-accounts")
    case 66 => Some("get-databases")
    case _ => None
  }
}
