package graft.meta

import scala.collection.concurrent.TrieMap

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Mutable database metadata — the Spark-side analog of the
  * reference's groups.dat / tags.dat / users.dat + database config
  * (src/siri/db/groups.c, tags.c, users.c, db.c). Thread-safe; state
  * is per-engine-instance (a production deployment would persist this
  * like the catalog — one tiny parquet/JSON per entity).
  */
object MetaStore {
  /** db.h:15-17 defaults — also the reset base when a persisted
    * config.json is adopted (loadFrom). */
  val configDefaults: Map[String, String] = Map(
    "drop_threshold" -> "1.0",
    "list_limit" -> "10000",
    "select_points_limit" -> "1000000",
    "timezone" -> "NAIVE",
    "log_level" -> "info",
    "tee" -> "false")

  /** Salted one-way password hash, mirroring the reference's owcrypt
    * scheme (user.c:116-123 encrypts at set-password time; users.dat
    * stores only the salted hash, users.c:230). Neither the in-memory
    * model nor users.json ever holds a recoverable credential.
    * Format: "saltHex$sha256Hex(saltHex + password)". */
  def hashPassword(pw: String): String = {
    val salt = new Array[Byte](8)
    new java.security.SecureRandom().nextBytes(salt)
    val s = salt.map(b => f"$b%02x").mkString
    s + "$" + sha256Hex(s + pw)
  }

  /** Constant-format re-hash with the stored salt and compare. */
  def verifyPassword(pw: String, stored: String): Boolean = {
    val salt = stored.takeWhile(_ != '$')
    java.security.MessageDigest.isEqual(
      stored.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      (salt + "$" + sha256Hex(salt + pw))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
}

final class MetaStore {

  /** Server start instant — one MetaStore lives per server (ApiCore),
    * so elapsed-since-construction is the reference's `uptime`
    * (siri.c startup_time; props.c uptime = now - siri.start_time). */
  private val startedAtMs = System.currentTimeMillis()

  /** Elapsed whole seconds since this server came up. */
  def uptimeSeconds: Long = (System.currentTimeMillis() - startedAtMs) / 1000L

  /** `pwHash` is always a [[MetaStore.hashPassword]] value — set
    * sites hash, never store, the cleartext. */
  final case class User(pwHash: String, access: Int)

  /** group name -> saved regex (continuously re-evaluated against the
    * catalog on use — the reference re-evaluates on a 2 s loop,
    * src/siri/db/groups.c:44). */
  val groups = TrieMap[String, String]()
  /** tag name -> explicit member-series frame, single `series` column
    * (src/siri/db/tags.c). Membership never lives on the driver — a
    * tag spanning 10M series stays a distributed frame, upserted with
    * union/anti-join exactly like the drop tombstones below. Counts
    * ride along for `list tags` / `count tags`. */
  val tagFrames = TrieMap[String, org.apache.spark.sql.DataFrame]()
  val tagCounts = TrieMap[String, Long]()
  /** Frame-write dirty flags: a user/group/config DDL must not pay a
    * Spark write job for unchanged tag membership or tombstones. */
  @volatile private var tagsDirty = false
  @volatile private var droppedDirty = false
  /** seeded with the reference's default database user
    * (users.c:70-85: 'iris'/'siri', full profile). */
  val users = TrieMap[String, User](
    "iris" -> User(MetaStore.hashPassword("siri"), Access.Full))

  /** None when the user holds every requested bit, else the
    * reference's denial message (user.c:195-218). */
  def checkAccess(user: String, bit: Int): Option[String] = {
    val have = users.get(user).map(_.access).getOrElse(0)
    if ((have & bit) == bit) None
    else Some(s"Access denied. User '$user' has no '${Access.toStr(bit)}' privileges.")
  }

  /** Dropped-series tombstones (the analog of dropped-series purge,
    * src/siri/optimize.c) as a materialized name frame: the optimize
    * purge removes them by anti-join. `localCheckpoint` pins the
    * point-in-time snapshot. */
  def droppedDf: Option[org.apache.spark.sql.DataFrame] = dropped.map(_.df)

  /** The same names as a driver-side set: an insert's resurrect check
    * is a Set lookup (no Spark job runs on the insert path unless a
    * name matches), and every env filters them out of its catalog
    * snapshot on the driver. Collected once on first use after each
    * tombstone change; bounded by the names awaiting the next optimize
    * purge, not by the catalog. */
  def droppedNames: Set[String] = dropped.fold(Set.empty[String])(_.names)

  /** A tombstone frame and its lazily collected name set, swapped as
    * one (one volatile write). */
  private final class Tombstones(val df: DataFrame) {
    lazy val names: Set[String] = df.select(col("series")).collect()
      .iterator.map(_.getString(0)).toSet
  }
  @volatile private var dropped: Option[Tombstones] = None

  def addDropped(names: org.apache.spark.sql.DataFrame): Unit = synchronized {
    val snap = names.localCheckpoint(true)
    dropped = Some(new Tombstones(droppedDf
      .map(_.unionByName(snap).distinct().localCheckpoint(true))
      .getOrElse(snap)))
    droppedDirty = true
  }

  /** Inverse of [[addDropped]]: a dropped name that re-appears on the
    * write path is a NEW series (the reference allocates a fresh
    * series struct/id on re-insert — series.c — so the old points are
    * unreachable), and its tombstone must lift or the re-created
    * series stays invisible forever. The caller purges the old points
    * physically FIRST (Ingest.compact) — untombstoning alone
    * would resurrect them. */
  def removeDropped(names: org.apache.spark.sql.DataFrame): Unit = synchronized {
    droppedDf.foreach { d =>
      val rest = d
        .join(names.select(col("series")).distinct(), Seq("series"), "left_anti")
        .localCheckpoint(true)
      dropped = if (rest.isEmpty) None else Some(new Tombstones(rest))
      droppedDirty = true
    }
  }

  /** alterable database config (db.h:15-17 defaults). */
  val config = TrieMap[String, String](MetaStore.configDefaults.toSeq: _*)

  /** Server point counters (the reference's received_points /
    * selected_points server stats — src/siri/db/props.c). */
  val receivedPoints = new java.util.concurrent.atomic.AtomicLong(0)
  val selectedPoints = new java.util.concurrent.atomic.AtomicLong(0)

  /** Bumped whenever the physical store changes (insert batches,
    * drop shards) so transports can cache store-derived frames —
    * parquet file listings are not free at scale — and invalidate
    * exactly when the file set moves. */
  val storeGeneration = new java.util.concurrent.atomic.AtomicLong(0)

  /** On-disk mirror of [[storeGeneration]] (`<dir>/meta/generation`):
    * a SECOND server process over the same store compares it with its
    * in-memory generation on every request and reloads the metastore
    * + store-derived caches when it lags (ApiCore.syncWithStore) —
    * without it, a process would serve stale catalogs and miss the
    * other's DDL forever. -1 when never written, or while a
    * [[bumpGeneration]] is between its delete and its rename (a
    * process's own bump advances its in-memory generation first, and
    * another process's is seen on the next read). */
  def diskGeneration(spark: SparkSession, dir: String): Long = {
    val p = new Path(s"$dir/meta/generation")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      val in = fs.open(p)
      try in.readLong() finally in.close()
    } catch { case _: java.io.FileNotFoundException => -1L }
  }

  /** Advance the generation past both the in-memory counter and
    * whatever any other process last wrote, and persist it (tmp +
    * rename, so readers never see a torn value). Mutation serialization
    * itself is per-process (Ingest's store locks); concurrent writers
    * from SEPARATE processes are out of scope — the supported
    * two-process shape is one writer and N readers at a time, which is
    * also the reference's per-pool regime (one primary accepts a
    * series' inserts; replicas sync). */
  def bumpGeneration(spark: SparkSession, dir: String): Unit = synchronized {
    val next = math.max(diskGeneration(spark, dir), storeGeneration.get()) + 1
    storeGeneration.set(next)
    val base = new Path(s"$dir/meta")
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(base)
    val tmp = new Path(base, "generation.tmp")
    val dst = new Path(base, "generation")
    val os = fs.create(tmp, true)
    os.writeLong(next); os.close()
    fs.delete(dst, false); fs.rename(tmp, dst)
  }

  def dropThreshold: Double = config("drop_threshold").toDouble
  // Long, not Int: `alter database set list_limit` accepts values up
  // to 4294967295 (exit_set_list_limit bounds) — an Int parse would
  // overflow past 2^31-1
  def listLimit: Long = config("list_limit").toLong
  def selectPointsLimit: Long = config("select_points_limit").toLong

  /** Constructor seeding: `members` is a tiny local relation, so no
    * checkpoint job is paid at env-construction time. */
  def seedTag(tag: String, members: org.apache.spark.sql.DataFrame, n: Long): Unit = {
    tagFrames.put(tag, members)
    tagCounts.put(tag, n)
    tagsDirty = true
  }

  /** Add a (distributed) selection of series names to a tag; returns
    * how many were newly tagged. One localCheckpoint job per DDL call;
    * the stored frame is always distinct and checkpointed, so the plan
    * depth stays O(1) across repeated tag/untag operations. */
  def tagSeries(tag: String, names: org.apache.spark.sql.DataFrame): Long = synchronized {
    import org.apache.spark.sql.functions.col
    val dn = names.select(col("series")).distinct()
    val added = tagFrames.get(tag).fold(dn)(cur => dn.join(cur, Seq("series"), "left_anti"))
    val merged = tagFrames.get(tag).fold(added)(_.unionByName(added)).localCheckpoint(true)
    val n = merged.count()
    val prev = tagCounts.getOrElse(tag, 0L)
    tagFrames.put(tag, merged)
    tagCounts.put(tag, n)
    tagsDirty = true
    n - prev
  }

  def dropTag(name: String): Boolean = synchronized {
    val existed = tagFrames.remove(name).isDefined
    tagCounts.remove(name)
    if (existed) tagsDirty = true
    existed
  }

  def renameTag(name: String, newName: String): Boolean = synchronized {
    tagFrames.remove(name) match {
      case None => false
      case Some(members) =>
        tagFrames.put(newName, members)
        tagCounts.put(newName, tagCounts.remove(name).getOrElse(0L))
        tagsDirty = true
        true
    }
  }

  /** Persist all DDL state under `<dir>/meta` — the analog of the
    * reference's users.dat / groups.dat / tags.dat + database config
    * (src/siri/db/users.c, groups.c, tags.c, db.c). Small entities are
    * single JSON files written atomically (tmp + rename); tag
    * membership and drop tombstones — the two frames that can span
    * millions of series — are parquet, written distributed. Called by
    * the server after every successful DDL statement. */
  def persistTo(spark: SparkSession, dir: String): Unit = synchronized {
    val base = new Path(s"$dir/meta")
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(base)
    val mapper = new ObjectMapper()
    def writeJson(name: String, bytes: Array[Byte]): Unit = {
      val tmp = new Path(base, name + ".tmp"); val dst = new Path(base, name)
      val os = fs.create(tmp, true)
      os.write(bytes); os.close()
      fs.delete(dst, false); fs.rename(tmp, dst)
    }
    val uj = mapper.createObjectNode()
    users.foreach { case (n, u) =>
      val o = uj.putObject(n); o.put("hash", u.pwHash); o.put("access", u.access)
    }
    writeJson("users.json", mapper.writeValueAsBytes(uj))
    val gj = mapper.createObjectNode()
    groups.foreach { case (n, re) => gj.put(n, re) }
    writeJson("groups.json", mapper.writeValueAsBytes(gj))
    val cj = mapper.createObjectNode()
    config.foreach { case (k, v) => cj.put(k, v) }
    writeJson("config.json", mapper.writeValueAsBytes(cj))
    // tag names + counts ride in JSON (a tag may be empty); membership
    // is one (tag, series) parquet, rewritten only when it changed
    val tj = mapper.createObjectNode()
    tagCounts.foreach { case (t, n) => tj.put(t, n) }
    writeJson("tagnames.json", mapper.writeValueAsBytes(tj))
    if (tagsDirty) {
      import spark.implicits._
      val tagsDf = tagFrames.toSeq
        .map { case (t, df) => df.select(lit(t).as("tag"), col("series")) }
        .reduceOption(_ unionByName _)
        .getOrElse(Seq.empty[(String, String)].toDF("tag", "series"))
      tagsDf.write.mode("overwrite").parquet(new Path(base, "tags.parquet").toString)
      tagsDirty = false
    }
    if (droppedDirty) {
      droppedDf match {
        case Some(d) => d.write.mode("overwrite")
          .parquet(new Path(base, "dropped.parquet").toString)
        case None => fs.delete(new Path(base, "dropped.parquet"), true)
      }
      droppedDirty = false
    }
  }

  /** Reload persisted DDL state; no-op when nothing was persisted.
    * Loaded frames are checkpointed so a later persist can overwrite
    * the files they came from. */
  def loadFrom(spark: SparkSession, dir: String): Unit = synchronized {
    val base = new Path(s"$dir/meta")
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) return
    val mapper = new ObjectMapper()
    def readJson(name: String): Option[com.fasterxml.jackson.databind.JsonNode] = {
      val p = new Path(base, name)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(mapper.readTree(in)) finally in.close()
      }
    }
    readJson("users.json").foreach { n =>
      users.clear()
      n.fields().forEachRemaining { e =>
        // legacy stores persisted cleartext under "password" — upgrade
        // one-way on load; the next persist writes only the hash
        val h = Option(e.getValue.get("hash")).map(_.asText())
          .getOrElse(MetaStore.hashPassword(e.getValue.get("password").asText()))
        users.put(e.getKey, User(h, e.getValue.get("access").asInt()))
      }
    }
    readJson("groups.json").foreach { n =>
      groups.clear()
      n.fields().forEachRemaining(e => groups.put(e.getKey, e.getValue.asText()))
    }
    readJson("config.json").foreach { n =>
      // RESET to defaults before adopting the file: the persisted set
      // is authoritative, so a key the writing process REMOVED (e.g. a
      // completed expansion's reindex_mask) must not survive a reload
      // here — a merge-only load would keep it forever
      config.clear()
      MetaStore.configDefaults.foreach { case (k, v) => config.put(k, v) }
      n.fields().forEachRemaining(e => config.put(e.getKey, e.getValue.asText()))
    }
    readJson("tagnames.json").foreach { n =>
      tagFrames.clear(); tagCounts.clear()
      val tagsPath = new Path(base, "tags.parquet")
      val all =
        if (fs.exists(tagsPath)) Some(spark.read.parquet(tagsPath.toString))
        else None
      n.fields().forEachRemaining { e =>
        val t = e.getKey
        import spark.implicits._
        val members = all
          .map(_.where(col("tag") === t).select(col("series")).localCheckpoint(true))
          .getOrElse(Seq.empty[String].toDF("series"))
        tagFrames.put(t, members)
        tagCounts.put(t, e.getValue.asLong())
      }
    }
    val droppedPath = new Path(base, "dropped.parquet")
    // the file's ABSENCE is state too: a writer process that lifted
    // the last tombstone deleted it, and a merge-only reload would
    // keep the stale frame hiding a re-created series
    dropped =
      if (fs.exists(droppedPath))
        Some(new Tombstones(spark.read.parquet(droppedPath.toString).localCheckpoint(true)))
      else None
  }

  def untagSeries(tag: String, names: org.apache.spark.sql.DataFrame): Long = synchronized {
    import org.apache.spark.sql.functions.col
    tagFrames.get(tag) match {
      case None => 0L
      case Some(cur) =>
        val remaining = cur
          .join(names.select(col("series")).distinct(), Seq("series"), "left_anti")
          .localCheckpoint(true)
        val n = remaining.count()
        val prev = tagCounts.getOrElse(tag, 0L)
        tagFrames.put(tag, remaining)
        tagCounts.put(tag, n)
        tagsDirty = true
        prev - n
    }
  }
}
