package graft

import com.fasterxml.jackson.databind.JsonNode

import graft.server.DbHandler

/** A database named "boom" whose queries and inserts throw a
  * `RuntimeException` with the given messages, for the transports'
  * error-reply checks. */
final class ThrowingDb(val meta: graft.meta.MetaStore, queryMsg: String,
    insertMsg: String) extends DbHandler {
  def dbName: String = "boom"
  def factor: Long = 1L
  def authenticate(user: String, password: String): Boolean = true
  def runQuery(q: String, tsFactor: Double, user: String): JsonNode =
    throw new RuntimeException(queryMsg)
  def runInsert(req: JsonNode, user: String): JsonNode =
    throw new RuntimeException(insertMsg)
}
