package graft.server

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.meta.Access
import graft.parser.{AccessError, EngineEnv, Frames, Planner, QueryError, QueryParser, SelectStmt, TimeitStmt}
import graft.streaming.Ingest

/** Transport-agnostic engine binding shared by the HTTP and TCP
  * (CPROTO) façades: one metastore + Ingest store per server, query
  * and insert handlers over Jackson trees, with the reference's result
  * encodings and per-user access enforcement
  * (clserver.c:516-540 insert access, listener.c:433 query access).
  */
final class ApiCore(spark: SparkSession, storeDir: String,
    /** Database name carried by REQ_AUTH (auth.c:17-60) and the HTTP
      * /query/<db> path. */
    val dbName: String = "graft",
    /** Opt-in auto shard duration (enable_shard_auto_duration,
      * cfg.c:303-328; disabled by default like the reference): on the
      * first insert into a group with no shards yet, derive that
      * group's duration from the batch's detected sampling intervals,
      * targeting ~2,000 points/series/shard (shard.c:136-169). The
      * choice persists with the metastore, so the store reopens with
      * the same bucketing. */
    autoDuration: Boolean = false,
    /** A cluster-shared metastore (PoolCluster): users/groups/tags/
      * config are cluster-global in the reference (synced between
      * servers), so every pool's server shares ONE instance. None =
      * standalone server owning its own metastore. */
    sharedMeta: Option[graft.meta.MetaStore] = None,
    /** Database time precision "s"|"ms"|"us"|"ns"
      * (SERVICE_time_precision, service/request.c:171-191; time.h:
      * factor = 1000^p). Fixed at creation, persisted with the
      * metastore; a reopened store keeps its stored precision
      * regardless of this argument. */
    timePrecision: String = "s",
    /** Explicit shard durations in RAW ts units (SERVICE_duration
      * accepts "<1-99>[hdw]" pre-scaled by the precision factor,
      * request.c:193-223). None = 1 day at this precision (or the
      * auto-duration resolution when enabled). */
    durationNum: Option[Long] = None,
    durationLogOpt: Option[Long] = None,
    /** Where the (possibly shared) metastore persists. A PoolCluster
      * passes pool 0 — the cluster's meta home — so config resolved by
      * ANY pool's server (e.g. an auto shard duration) survives a
      * restart that re-loads meta from pool 0; a standalone server
      * persists beside its own store. */
    metaDirOpt: Option[String] = None) extends DbHandler {

  private def metaHome: String = metaDirOpt.getOrElse(storeDir)

  // a store opened anew reads its catalog from disk: a snapshot left in
  // this process by an earlier server over the same directory (say, a
  // dropped database re-created under its name) is not this store's
  Ingest.reloadCatalog(storeDir)

  /** Physical shard granularity of this server's Ingest store; also
    * drives the shards view / drop shards mapping via EngineEnv.
    * Numeric and log (string) series keep separate durations like the
    * reference (src/siri/db/db.c:395-424; defaults db.h). Defs, not
    * vals: an auto-resolved duration lands in the metastore config at
    * first flush and every later env/frame build must see it. */
  def shardDuration: Long =
    meta.config.get("duration_num").map(_.toLong).getOrElse(86400L * factor)
  def durationLog: Long =
    meta.config.get("duration_log").map(_.toLong).getOrElse(86400L * factor)

  private val mapper = new ObjectMapper()

  /** One metastore per server instance: DDL state (groups, tags,
    * users, tombstones, config) must survive across requests — the
    * frames below are rebuilt per request (data grows), the metadata
    * is not. Persisted state (the analog of users.dat / groups.dat /
    * tags.dat, src/siri/db/users.c, groups.c, tags.c) is reloaded from
    * `<storeDir>/meta` so DDL survives server restarts. */
  val meta = sharedMeta.getOrElse {
    val m = new graft.meta.MetaStore
    m.loadFrom(spark, storeDir)
    m
  }

  // creation-time database identity: precision and explicit durations
  // pin themselves in the (persisted) config on first boot, so the
  // store reopens identically without the constructor arguments —
  // like the reference persists them in database.dat (db.c)
  locally {
    require(Set("s", "ms", "us", "ns").contains(timePrecision),
      s"invalid time precision '$timePrecision'")
    var changed = false
    if (timePrecision != "s" && !meta.config.contains("time_precision")) {
      meta.config.put("time_precision", timePrecision); changed = true
    }
    durationNum.foreach { d =>
      if (!meta.config.contains("duration_num")) {
        meta.config.put("duration_num", d.toString); changed = true
      }
    }
    durationLogOpt.foreach { d =>
      if (!meta.config.contains("duration_log")) {
        meta.config.put("duration_log", d.toString); changed = true
      }
    }
    if (changed) meta.persistTo(spark, metaHome)
  }

  /** Raw ts units per second: 1000^p for precision s/ms/us/ns
    * (include/siri/db/time.h). */
  val factor: Long = meta.config.getOrElse("time_precision", "s") match {
    case "ms" => 1000L
    case "us" => 1000000L
    case "ns" => 1000000000L
    case _ => 1L
  }

  /** Validate credentials (auth.c:17-60). */
  def authenticate(user: String, password: String): Boolean =
    meta.users.get(user)
      .exists(u => graft.meta.MetaStore.verifyPassword(password, u.pwHash))

  /** Live insert tee (src/siri/db/tee.c); target read per insert from
    * the alterable `tee` setting, so DDL changes apply immediately. */
  private val tee = new Tee

  /** Retention gate: the reference expires on a background timer
    * (db.c:865-878), never per write. Piggybacking on the insert path
    * keeps us single-threaded, but an O(#shards) directory walk per
    * batch is a per-insert tax nothing can expire fast enough to
    * justify — so at most one expiry pass per interval. Any DDL resets
    * the gate: `alter database set expiration_*` must take effect on
    * the very next write (itest/test_expiration.py). */
  private val ExpireIntervalMs = 30000L
  private val lastExpireMs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Everything a query reads from the store, each part built at most
    * once per store generation and only when first asked for: resolving
    * a parquet relation lists files and, for the points, runs a
    * schema-inference job (not free at scale, and it freezes the file
    * set), so the view is replaced exactly when the store mutates
    * (inserts here, drop shards in the planner, another process's
    * mutation via [[syncWithStore]]) or its tombstones change.
    * Ranged and unranged frames share one points relation and one
    * catalog, so a ranged select re-lists and re-reads nothing. */
  private[server] final class StoreView(val gen: Long,
      val dropped: Set[String]) {
    /** The `points/` relation with its partition columns kept (None for
      * an empty store); ranged reads filter the `shard` column, so
      * out-of-range shard directories are pruned. */
    lazy val base: Option[DataFrame] = Ingest.rangedBase(spark, storeDir)
    /** The live series catalog: the store's driver snapshot
      * (Ingest.catalogSnapshot) without the tombstoned names. A query
      * selects its rows on the driver and plans over those only. */
    lazy val catalog: Ingest.CatalogSnapshot =
      Ingest.catalogSnapshot(spark, storeDir).without(dropped)
    lazy val frames: Frames = ranged(None, None)
    /** Shard metadata, listed once per generation rather than per `list
      * shards` query: the listing is O(#shards) driver filesystem work
      * the reference pays only on shard open (shard.c keeps headers in
      * memory). */
    lazy val shards: DataFrame =
      Ingest.shardsMeta(spark, storeDir, shardDuration, durationLog)
        .localCheckpoint(eager = true)
    /** Standing-rollup discovery: a store-owned rollup (a
      * Rollup.fromPoints backfill under `<storeDir>/rollup/<bucket>`,
      * kept exact by Ingest's maintenance hooks on every insert / expiry
      * / shard drop / re-index) lets eligible coarse selects answer from
      * pre-aggregates instead of raw points (the Planner's rollup read
      * path). Live streaming-sink dirs (Rollup.startBucketed,
      * `_spark_metadata` present) are skipped: their watermark drops
      * late points the raw store accepts, so they cannot answer exactly
      * (Ingest.rollupDirs). */
    lazy val rollup: Option[(Long, DataFrame)] =
      Ingest.rollupDirs(spark, storeDir)
        .headOption // finest rollup wins: most selects divide it
        .map { case (r, p) => (r, spark.read.parquet(p.toString)) }

    /** The raw points in [after, before), pruned to the in-range
      * shard directories. */
    def points(after: Option[Long], before: Option[Long]): DataFrame =
      Ingest.pointsRangeOver(spark, storeDir, base, after, before,
        shardDuration, durationLog)

    /** Typed family frames over the points in [after, before). */
    def ranged(after: Option[Long], before: Option[Long]): Frames =
      ApiCore.typedFrames(points(after, before), catalog)
  }

  @volatile private var storeView: StoreView = null

  private[server] def view(): StoreView = {
    val gen = meta.storeGeneration.get()
    val dropped = meta.droppedNames
    val v = storeView
    if (v != null && v.gen == gen && (v.dropped eq dropped)) v
    else {
      val built = new StoreView(gen, dropped)
      storeView = built
      built
    }
  }

  private[graft] def env(user: String): EngineEnv = {
    val v = view()
    EngineEnv(spark, storeDir,
      frames = Some(v.frames), meta = meta,
      user = Some(user), shardDuration = shardDuration,
      durationLog = durationLog, factor = factor,
      // time-ranged selects prune whole shard directories
      // (Ingest.pointsRangeOver translates ts bounds onto the shard
      // partition column of the view's points relation)
      rangedFrames = Some(v.ranged),
      // list/count shards answers from shard-file metadata, not points
      shardsView = Some(() => v.shards),
      rollup = v.rollup)
  }

  /** Run one query; select results use the reference's
    * {series: [[ts,val],...]} encoding with output timestamps scaled
    * by `tsFactor` (points ts correction, clserver.c:480-505),
    * metadata queries the {columns, rows} table encoding, timeit wraps
    * with __timeit__ (listener.c:5026-5064). Throws QueryError /
    * AccessError for the transports to map. */
  def runQuery(q: String, tsFactor: Double, user: String): JsonNode = {
    syncWithStore()
    runQueryIn(env(user), q, tsFactor)
  }

  /** Multi-process coherence: another server process over this store
    * advances `meta/generation` on every mutation; when the on-disk
    * generation is ahead of ours, re-load the metastore (their DDL)
    * and adopt it (their inserts — the store view keys on the
    * generation, so its frames/shards/rollup rebuild lazily).
    * One small-file read per request; a standalone store (no second
    * process) pays nothing else. The generation lives at the META
    * HOME: for a cluster that is pool 0, so ONE file versions every
    * pool's mutations and a second cluster process needs one read to
    * know the whole cluster moved. Adopting drops this store's catalog
    * snapshot, which advances only from this process's own inserts;
    * true when it adopted (a cluster then drops every pool's). */
  private[server] def syncWithStore(): Boolean = {
    val disk = meta.diskGeneration(spark, metaHome)
    val behind = disk > meta.storeGeneration.get()
    if (behind) {
      meta.loadFrom(spark, metaHome)
      release()
      meta.storeGeneration.set(disk)
    }
    behind
  }

  override def release(): Unit = Ingest.reloadCatalog(storeDir)

  /** Expire-gate reset for the cluster DDL fan-out: `alter database
    * set expiration_*` must take effect on the very next write to ANY
    * pool (itest/test_expiration.py), but the DDL itself runs on one
    * pool's query path and resets only that pool's gate. */
  private[server] def resetExpireGate(): Unit = lastExpireMs.set(0L)

  /** optimize.c's periodic maintenance, write-path-gated like
    * retention: merge per-batch parquet fragments (unbounded fragment
    * growth is the 100 TB file-health killer; the reference's
    * optimize thread rewrites shards on the same cadence) and
    * physically purge tombstoned series. A STANDALONE server then
    * lifts its tombstones — the hidden data is physically gone, so
    * selects stop paying the anti-join. A pooled server must NOT
    * lift: tombstoned names span pools, so only the cluster layer may
    * lift them, after every pool purged (PoolCluster.maybeOptimize). First pass no earlier than one
    * interval after construction, like the reference's timer. */
  private val OptimizeIntervalMs = 60000L
  private val lastOptimizeMs =
    new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())
  private def maybeOptimize(): Unit = {
    val nowMs = System.currentTimeMillis()
    val last = lastOptimizeMs.get()
    if (nowMs - last >= OptimizeIntervalMs &&
        lastOptimizeMs.compareAndSet(last, nowMs)) optimizeNow()
  }
  private[graft] def optimizeNow(): Unit = {
    val tomb = if (sharedMeta.isEmpty) meta.droppedDf else None
    Ingest.compact(spark, storeDir, maxFiles = 8, dropped = tomb)
    tomb.foreach { t =>
      meta.removeDropped(t)
      meta.persistTo(spark, metaHome)
    }
    // the pass rewrote point/catalog files in place — every cached
    // frame over the old file set must rebuild
    meta.bumpGeneration(spark, metaHome)
  }

  /** Run one query against an explicit env — the PoolCluster passes a
    * merged multi-pool env through here so the encoding, timeit and
    * DDL-persistence behavior stay identical to the standalone path. */
  private[server] def runQueryIn(envIn: EngineEnv, q: String,
      tsFactor: Double): JsonNode =
    // release the query's shared-scan caches (multi-chain selects)
    // once the response is materialized — a long-lived server must not
    // accumulate one cache entry per distinct query shape
    try runQueryInner(envIn, q, tsFactor)
    finally Planner.drainQueryCaches()

  private def runQueryInner(envIn: EngineEnv, q: String,
      tsFactor: Double): JsonNode = {
    val t0 = System.nanoTime()
    // `now` and time literals in raw db-precision units at FULL
    // precision — the ms clock scaled by 1000^p, never truncated to
    // whole seconds first (time.h; query.c:109)
    val stmt = QueryParser.parse(q,
      now = Planner.nowRaw(factor), factor = factor,
      tz = meta.config.getOrElse("timezone", "NAIVE"))
    val df = Planner.run(stmt, envIn, keepPid = true)
    val inner = stmt match {
      case TimeitStmt(s) => s
      case s => s
    }
    // DDL mutations are durable: flush the metastore like the
    // reference writes users.dat/groups.dat/tags.dat on change.
    // DDL also reopens the retention gate so a changed expiration
    // applies on the next write, not an interval later.
    if (inner.isInstanceOf[graft.parser.DdlStmt]) {
      meta.persistTo(spark, metaHome)
      // advance the on-disk generation so a second server process
      // re-loads this DDL on its next request
      meta.bumpGeneration(spark, metaHome)
      lastExpireMs.set(0L)
    }
    val node = inner match {
      case sel: SelectStmt =>
        // every selected series appears in the response, even with
        // zero surviving points (points.c encode; itest expects
        // {'name': []} for an emptied chain)
        encodeSelect(df, tsFactor, Planner.selectNames(sel, envIn))
      case _ => encodeTable(df)
    }
    stmt match {
      case TimeitStmt(_) =>
        ApiCore.timeit(node, Seq("local" -> (System.nanoTime() - t0) / 1e9))
      case _ => node
    }
  }

  /** {series: [[ts,val],...], ...}, points sorted by ts then insertion
    * order (points.c:250-288; pid is the insertion-order tie-break for
    * duplicate timestamps). */
  private def encodeSelect(df: DataFrame, tsFactor: Double,
      names: Seq[String]): JsonNode = {
    // select_points_limit guard (db.h:16), alterable via
    // `alter database set select_points_limit N` — checked by
    // collecting limit+1 rows so the plan executes exactly once
    val limit = meta.selectPointsLimit
    // the transports hand us pow(1000, requested - db) as a double;
    // re-derive the exact long multiplier/divisor so the correction is
    // INTEGER math like the reference (clserver.c:480-505 multiplies /
    // divides int64) — a double round-trip loses up to ~256 ns on ns
    // timestamps past 2^53 and truncates fractions through FP instead
    // of integer division
    val (tsMul, tsDiv) =
      if (tsFactor == 0.0 || tsFactor == 1.0) (1L, 1L)
      else if (tsFactor > 1.0) (math.round(tsFactor), 1L)
      else (1L, math.round(1.0 / tsFactor))
    val valType = df.schema("val").dataType
    // selections that mix type families, or chains of different value
    // types, carry a per-row `tp` with the value in canonical string
    // form (Planner.run's select loop) — re-type per point
    val hasTp = df.columns.contains("tp")
    val ord =
      if (df.columns.contains("pid")) Seq(col("series"), col("ts"), col("pid"))
      else Seq(col("series"), col("ts"))
    val outCols =
      if (hasTp) Seq(col("series"), col("ts"), col("val"), col("tp"))
      else Seq(col("series"), col("ts"), col("val"))
    val rows = df.orderBy(ord: _*)
      .select(outCols: _*)
      .limit((limit + 1).min(Int.MaxValue.toLong).toInt).collect()
    if (rows.length > limit)
      throw QueryError( // async_select_aggregate (listener.c:5598-5610)
        s"Query has reached the maximum number of selected points ($limit). Please use another time window, an aggregation function or select less series to reduce the number of points.")
    meta.selectedPoints.addAndGet(rows.length)
    val out = mapper.createObjectNode()
    names.foreach(n => out.set[JsonNode](n, mapper.createArrayNode()))
    rows.foreach { r =>
      val series = r.getString(0)
      val arr = out.get(series) match {
        case a: ArrayNode => a
        case _ => val a = mapper.createArrayNode(); out.set[JsonNode](series, a); a
      }
      val point = mapper.createArrayNode()
      // exact int64 correction; downscale truncates toward zero
      // (ts >= 0 is enforced at insert)
      point.add(r.getLong(1) * tsMul / tsDiv)
      if (hasTp) r.getString(3) match {
        case "integer" => point.add(r.getString(2).toLong)
        case "float" => point.add(r.getString(2).toDouble)
        case _ => point.add(r.getString(2))
      }
      else valType match {
        case LongType => point.add(r.getLong(2))
        case DoubleType => point.add(r.getDouble(2))
        case StringType => point.add(r.getString(2))
        case _ => point.add(r.get(2).toString)
      }
      arr.add(point)
    }
    out
  }

  /** {columns: [...], rows: [[...]]} for list/count/show/calc. The
    * collect cap tracks the live (alterable) `list_limit` — the list
    * plan already bounds itself at Planner list_limit, so limit+1 here
    * is a pure transport safety net, mirroring the select path's
    * select_points_limit+1 pattern above (a fixed 10,001 cap would
    * silently truncate once `alter database set list_limit` raised
    * the plan bound past it). */
  private def encodeTable(df: DataFrame): ObjectNode = {
    val out = mapper.createObjectNode()
    val cols = out.putArray("columns")
    df.columns.foreach(cols.add)
    val rows = out.putArray("rows")
    val cap = (meta.listLimit.toLong + 1L).min(Int.MaxValue.toLong).toInt
    df.limit(cap).collect().foreach { r =>
      val arr = rows.addArray()
      r.toSeq.foreach {
        case l: Long => arr.add(l)
        case d: Double => arr.add(d)
        case s: String => arr.add(s)
        case i: Int => arr.add(i)
        case null => arr.addNull()
        case other => arr.add(other.toString)
      }
    }
    out
  }

  /** Auto shard duration, resolved once per shard group at the first
    * flush that touches it (siridb_shards_add_points,
    * shards.c:275-290): per-series intervals are estimated with the
    * reference's quartile detector, the median detected interval picks
    * the duration via shard.c's ~2,000-points-per-shard rounding, and
    * the result is pinned in the metastore (durations are immutable
    * once data is bucketed under them — a later change would remap
    * every existing shard directory). No detectable interval → the
    * reference's 1-day default stands. */
  private def resolveAutoDuration(rows: Vector[Ingest.PointIn]): Unit = {
    def resolve(key: String, isLog: Boolean): Unit = {
      if (meta.config.contains(key)) return
      val relevant = rows.filter(r => (r.tp == "string") == isLog)
      if (relevant.isEmpty) return
      val group = if (isLog) "log" else "num"
      val chosen =
        if (Ingest.shardDirs(spark, storeDir).exists(_._1 == group))
          86400L * factor // data already bucketed at the default: keep it
        else {
          val intervals = relevant.groupBy(_.series).valuesIterator
            .map(ps => Ingest.detectInterval(ps.map(_.ts).sorted))
            .filter(_ > 0).toVector.sorted
          if (intervals.isEmpty) 86400L * factor
          else Ingest.durationFromInterval(intervals(intervals.size / 2),
            factor = factor, durationNum = shardDuration,
            durationLog = durationLog)
        }
      // putIfAbsent: two racing first inserts must agree on ONE
      // duration before either batch buckets under it
      meta.config.putIfAbsent(key, chosen.toString)
      meta.persistTo(spark, metaHome)
    }
    resolve("duration_num", isLog = false)
    resolve("duration_log", isLog = true)
  }

  /** (matching, total) shard counts for `stmt`'s cexpr, counting only —
    * the cluster's drop-threshold guard sums these across every pool
    * (including an unpublished expansion target) before any deletes. */
  private[server] def shardsMatchCount(stmt: graft.parser.DropShards,
      user: String): (Long, Long) =
    Planner.matchShardsCount(stmt.where, env(user))

  /** Structural `drop shards` for the cluster fan-out (PoolCluster):
    * same access check, metastore persistence and expire-gate reset as
    * the query path, but the dropped count returns TYPED — the cluster
    * re-sums per-pool counts and renders the reference message once,
    * instead of regex-scraping its own success strings. */
  private[server] def dropShardsCount(stmt: graft.parser.DropShards,
      user: String): Long =
    try {
      meta.checkAccess(user, Access.Drop).foreach(m => throw AccessError(m))
      val n = Planner.dropShardsBody(stmt.where, stmt.ignoreThreshold,
        env(user))
      meta.persistTo(spark, metaHome)
      // the body bumped env.dir's generation (in-memory invalidation);
      // the cross-process signal lives at the meta home
      meta.bumpGeneration(spark, metaHome)
      lastExpireMs.set(0L)
      n
    } finally Planner.drainQueryCaches()

  /** Both insert wire forms (src/siri/db/insert.c:77-126); type is
    * inferred from the first point's value like the reference infers
    * from the qpack type (series.c); requires the insert access bit
    * (clserver.c:516-540). */
  def runInsert(req: JsonNode, user: String): JsonNode = {
    syncWithStore()
    val rows = validateInsert(req, user)
    commitInsert(rows, req)
    val ok = mapper.createObjectNode()
    ok.put("success_msg", s"Successfully inserted ${rows.size} point(s).")
    ok
  }

  /** Commit wrapper: the whole tombstone-purge + append + maintenance
    * sequence runs under ONE store-lock hold (the inner Ingest calls
    * re-enter), and the store view is re-synced once the lock is held
    * — a mutator that WAITED for another process's mutation
    * ([[Ingest.lockWaitMs]]) must decide resurrects/expiry against
    * what that process committed, not against its pre-wait caches. */
  private[server] def commitInsert(rows: Vector[Ingest.PointIn],
      req: JsonNode): Unit =
    Ingest.withStoreLock(storeDir) {
      syncWithStore()
      commitInsertLocked(rows, req)
    }

  /** Validation half of an insert — access bit, backup-mode refusal,
    * and the reference's full structural/type checks (insert.c
    * validates the whole package before ANY point lands,
    * assign_by_map/assign_by_array). Split from [[commitInsert]] so
    * the cluster can validate every pool's share before committing
    * any: a bad share must not partially insert (the standalone and
    * clustered paths must reject identical requests identically). */
  private[server] def validateInsert(req: JsonNode,
      user: String): Vector[Ingest.PointIn] = {
    meta.checkAccess(user, Access.Insert).foreach(m => throw AccessError(m))
    // backup mode drops the running-only flag set; inserts are
    // refused with the reference's status message (clserver.c:
    // CLSERVER_send_server_error; flags running|backup = 9)
    if (meta.config.getOrElse("backup_mode", "false") == "true")
      throw QueryError(
        "Server 'local' is not accepting the request because of having status: 9")
    // validation rules and error strings are the reference's
    // (siridb_insert_err_msg, insert.c:93-126; name checks
    // insert.c:513-514,1279-1281: non-empty, < 65535 bytes)
    val points = Vector.newBuilder[Ingest.PointIn]
    var pid = System.nanoTime() // monotonic-enough insertion ids
    def addSeries(name: String, pts: JsonNode): Unit = {
      if (name.isEmpty ||
          name.getBytes(java.nio.charset.StandardCharsets.UTF_8).length >= 65535)
        throw QueryError(
          "Expecting a series name (string value) with an array of points " +
            "where each point should be an integer time-stamp with a value.")
      if (pts == null || !pts.isArray)
        throw QueryError("Expecting an array with points.")
      if (pts.size() == 0)
        throw QueryError("Expecting a series to have at least one point.")
      pts.asScala.foreach { pt =>
        if (!pt.isArray || pt.size() != 2)
          throw QueryError(
            "Expecting a series name (string value) with an array of points " +
              "where each point should be an integer time-stamp with a value.")
        if (!pt.get(0).isIntegralNumber)
          throw QueryError("Expecting an integer value as time-stamp.")
        if (!pt.get(0).canConvertToLong) // BigInteger beyond int64 must not wrap
          throw QueryError("Received at least one time-stamp which is out-of-range.")
        val ts = pt.get(0).asLong()
        if (ts < 0)
          throw QueryError("Received at least one time-stamp which is out-of-range.")
        val v = pt.get(1)
        if (v.isIntegralNumber && !v.canConvertToLong)
          // a JSON BigInteger beyond int64 has no wire representation
          // (qpack tops out at int64) — reject, never wrap
          throw QueryError("Unsupported value received. (only integer, " +
            "float and string values are supported).")
        val tp = if (v.isIntegralNumber) "integer"
          else if (v.isNumber) "float"
          else if (v.isTextual) "string" // "log" series (points.h:9-14)
          else throw QueryError("Unsupported value received. (only integer, " +
            "float and string values are supported).")
        points += Ingest.PointIn(name, ts, v.asDouble(), tp, { pid += 1; pid },
          val_int = if (v.isIntegralNumber) v.asLong() else 0L,
          val_str = if (v.isTextual) v.asText() else "")
      }
    }
    if (req.isObject) // map form
      req.properties().asScala.foreach(e => addSeries(e.getKey, e.getValue))
    else if (req.isArray) // array form
      req.asScala.foreach { o =>
        if (!o.isObject || o.get("name") == null || !o.get("name").isTextual ||
            o.get("points") == null)
          throw QueryError("Expecting a map with name and points.")
        addSeries(o.get("name").asText(), o.get("points"))
      }
    else throw QueryError("Expecting an array or map containing series and points.")
    points.result()
  }

  /** Commit half of an insert: append the validated rows, maintain
    * counters/tee/retention, bump the store generation. `req` is the
    * original wire body, forwarded to the tee verbatim. */
  private def commitInsertLocked(rows: Vector[Ingest.PointIn],
      req: JsonNode): Unit = {
    if (autoDuration) resolveAutoDuration(rows)
    import spark.implicits._
    // a dropped name re-appearing on the write path is a NEW series —
    // the reference allocates a fresh series id on re-insert
    // (series.c), leaving the old points unreachable. Purge the
    // tombstoned name's old points physically, then lift its
    // tombstone: untombstoning alone would resurrect the old points,
    // and tombstoning alone would keep the re-created series
    // invisible forever. The check is a lookup in the cached
    // tombstone name set (MetaStore.droppedNames): no Spark job runs
    // unless a name matches.
    val resurrected = rows.map(_.series).distinct.filter(meta.droppedNames)
    if (resurrected.nonEmpty) {
      val names = resurrected.toDF("series")
      Ingest.compact(spark, storeDir, maxFiles = Int.MaxValue,
        dropped = Some(names))
      meta.removeDropped(names)
      meta.persistTo(spark, metaHome)
    }
    // the batch is already on the driver: merged there against the
    // catalog snapshot, two Spark jobs (Ingest.appendRows)
    Ingest.appendRows(spark, rows, storeDir, shardDuration, durationLog)
    meta.receivedPoints.addAndGet(rows.size)
    // live tee: forward the accepted insert body to the configured
    // endpoint as a CPROTO insert package (insert.c:350 → tee.c)
    tee.write(meta.config.getOrElse("tee", "false"), QPack.encode(req))
    // retention: `alter database set expiration_num/expiration_log <t>`
    // takes effect on the write path (itest/test_expiration.py);
    // expiration_num covers numeric shards, expiration_log log shards.
    // Gated to once per ExpireIntervalMs (see lastExpireMs above).
    val expCfg = Seq("expiration_num" -> "num", "expiration_log" -> "log")
      .flatMap { case (prop, group) =>
        meta.config.get(prop).map(_.toLong).filter(_ > 0).map(group -> _) }
    if (expCfg.nonEmpty) {
      val nowMs = System.currentTimeMillis()
      val last = lastExpireMs.get()
      if (nowMs - last >= ExpireIntervalMs &&
          lastExpireMs.compareAndSet(last, nowMs))
        expCfg.foreach { case (group, exp) =>
          // `now` in raw ts units: expiration values and shard ids are
          // both precision-scaled
          Ingest.expire(spark, storeDir, exp,
            now = graft.parser.Planner.nowRaw(factor),
            shardDuration, durationLog, group)
        }
    }
    maybeOptimize()
    meta.bumpGeneration(spark, metaHome)
  }
}

object ApiCore {
  /** The typed family split: raw points joined with their live
    * catalog's series types, one frame per value family plus the
    * numeric mixed view; the catalog is a driver snapshot's
    * `LocalRelation`, so the join broadcasts it without a job. A
    * standalone store splits its own points; a cluster splits the
    * union of its pools' points once, against the merged catalog.
    * Nothing but the catalog is built until a family is first read. */
  private[server] def typedFrames(pts: => DataFrame,
      cat: Ingest.CatalogSnapshot): Frames = {
    lazy val typed = pts.join(cat.df.select(col("series"), col("type")), Seq("series"))
    new Frames(
      typed.where(col("type") === "float")
        .select(col("series"), col("ts"), col("val"), col("pid")),
      // integer series read the exact int64 column (values past 2^53
      // never pass through a double)
      typed.where(col("type") === "integer")
        .select(col("series"), col("ts"), col("val_int").as("val"), col("pid")),
      typed.where(col("type") === "string")
        .select(col("series"), col("ts"), col("val_str").as("val"), col("pid")),
      typed.select(col("series"), col("ts"), col("val"), col("pid")),
      cat, typedFrames(pts, _))
  }

  /** Adds the `__timeit__` array — one {server, time} entry per
    * (server, seconds) row — to a query reply (listener.c:5026-5064). */
  private[server] def timeit(node: JsonNode, rows: Seq[(String, Double)]): JsonNode = {
    node match {
      case on: ObjectNode =>
        val arr = on.putArray("__timeit__")
        rows.foreach { case (server, s) =>
          arr.addObject().put("server", server).put("time", s)
        }
      case _ => ()
    }
    node
  }
}
