package graft.server

import com.fasterxml.jackson.databind.JsonNode

/** The per-database handler surface every transport binds to — either
  * a standalone single-store server ([[ApiCore]]) or a
  * pool-distributed cluster ([[PoolCluster]]). Transports cannot tell
  * the difference, exactly like the reference's client front end
  * (clserver.c) serves a clustered and a single-server siridb through
  * the same handlers. */
trait DbHandler {
  def dbName: String
  def meta: graft.meta.MetaStore
  /** Raw ts units per second — 1000^p for precision s/ms/us/ns. */
  def factor: Long
  def authenticate(user: String, password: String): Boolean
  /** `tsFactor` is the OUTPUT timestamp correction ratio
    * pow(1000, requested - db precision) — fractional when the client
    * asks for a coarser precision than the database's; 1.0 (or 0.0,
    * the reference's "no correction" sentinel) leaves ts raw
    * (clserver.c:480-505). */
  def runQuery(q: String, tsFactor: Double, user: String): JsonNode
  def runInsert(req: JsonNode, user: String): JsonNode
  /** Free the driver state held for this database's stores (their
    * catalog snapshots); a later read loads it from disk again. Called
    * when the database is dropped. A handler holding no such state
    * keeps the default. */
  def release(): Unit = ()
}
