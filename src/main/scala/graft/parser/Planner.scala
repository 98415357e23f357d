package graft.parser

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.engine.{Pipeline, SeriesMatch, SeriesStore}
import graft.engine.Pipeline._
import graft.engine.SeriesMatch.{All, Env, Name, Sel, Regex => SelRegex}
import graft.meta.MetaStore
import graft.streaming.Ingest.{CatalogSchema, CatalogSnapshot}

/** Turns a parsed statement into one Catalyst plan over the typed
  * point frames — the Spark analog of the reference's listener
  * callback chain (src/siri/db/listener.c). The planner only does
  * SiriDB-specific rewrites (series typing, skip-points fast path,
  * presuf naming); scan pruning, partial aggregation, join strategy
  * etc. stay with Catalyst.
  */
/** Typed point frames + catalog backing a query session; defaults to
  * the driver's events-derived families, overridable (e.g. with an
  * Ingest store — see graft.server.HttpApi). Each family frame is built
  * on first use: constructing a DataFrame analyses its plan, and most
  * selects read one family of a store served fresh per query. `cat`
  * is the store's live catalog snapshot; `over` is the same split
  * against some of its rows (a selection's), so the points join
  * carries only those catalog rows. */
final class Frames(f0: => DataFrame, i0: => DataFrame, s0: => DataFrame,
    m0: => DataFrame, val cat: CatalogSnapshot,
    val over: CatalogSnapshot => Frames) {
  lazy val f: DataFrame = f0
  lazy val i: DataFrame = i0
  lazy val s: DataFrame = s0
  lazy val m: DataFrame = m0
}

final case class EngineEnv(
    spark: SparkSession,
    dir: String,
    groups: Map[String, String] = Map.empty,
    tags: Map[String, Seq[String]] = Map.empty,
    factor: Long = 1L,
    frames: Option[Frames] = None,
    /** Optional range-aware frame builder: given the query's
      * (after, before) bounds, returns frames whose scan prunes at the
      * storage-partition level (the Ingest store's shard directories —
      * src/siri/db/series.c:927-938's shard index pruning). The
      * planner uses it for time-ranged selects; everything else reads
      * the plain frames. */
    rangedFrames: Option[(Option[Long], Option[Long]) => Frames] = None,
    /** Optional metadata-backed shards view (sid, start, end, size):
      * an Ingest-backed env answers `list/count shards` from shard
      * directory file statuses, never a point scan — the reference
      * reads shard file headers (src/siri/db/shard.c). The
      * parquet-demo env falls back to a time-bucketed aggregate. */
    shardsView: Option[() => DataFrame] = None,
    meta: graft.meta.MetaStore = new graft.meta.MetaStore,
    /** Authenticated user for access-bit enforcement; None (internal
      * callers, specs, Verify) bypasses the check. */
    user: Option[String] = None,
    /** One shard duration everywhere: the `shards` entity view, the
      * `shard_duration` series prop, `drop shards` start/end mapping
      * and `show duration_num` all derive from this single constant
      * (reference duration defaults: include/siri/db/db.h, shard.c).
      * An Ingest-backed env must pass the store's physical duration. */
    shardDuration: Long = 604800L,
    /** Shard duration for string ("log") series — kept separately from
      * the numeric duration like the reference (db.c:395-424). */
    durationLog: Long = 86400L,
    /** The database's server fleet: one entry per server, holding the
      * pool it serves (the reference's fleet is ≥1 server per pool —
      * a second server in a pool is that pool's replica). Drives the
      * servers view row-per-server and the pools view servers count.
      * Default = one standalone server in pool 0. */
    fleet: Seq[Int] = Seq(0),
    /** Optional standing rollup (graft.streaming.Rollup): bucket width
      * in raw ts units + the finalized (series, bucket, n, sum, min,
      * max) frame, `bucket` being the right-aligned GROUP_TS label at
      * that width. A coarse count/sum/min/max select whose bucket is a
      * multiple of the rollup's answers from this frame and never
      * touches raw points — the read half of the pre-aggregation a
      * 100 TB dashboard store actually serves. */
    rollup: Option[(Long, DataFrame)] = None) {

  // seed the metastore from the convenience constructor args
  groups.foreach { case (g, re) => meta.groups.put(g, re) }
  tags.foreach { case (t, ss) =>
    import spark.implicits._
    meta.seedTag(t, ss.distinct.toDF("series"), ss.distinct.size.toLong)
  }

  lazy val pointsF: DataFrame = frames.map(_.f).getOrElse(SeriesStore.pointsF(spark, dir))
  lazy val pointsI: DataFrame = frames.map(_.i).getOrElse(SeriesStore.pointsI(spark, dir))
  lazy val pointsS: DataFrame = frames.map(_.s).getOrElse(SeriesStore.pointsS(spark, dir))
  lazy val pointsM: DataFrame = frames.map(_.m).getOrElse(SeriesStore.points(spark, dir))

  /** The live series catalog on the driver, tombstoned series
    * excluded: an Ingest store's snapshot (Ingest.CatalogSnapshot, its
    * store view filtered already), else the parquet-demo catalog
    * (Planner.demoCatalog) without the metastore's dropped names. */
  def snapshot: CatalogSnapshot =
    frames.fold(Planner.demoCatalog(spark, dir).without(meta.droppedNames))(_.cat)

  /** Snapshot of the (mutable) metastore for series matching. */
  def matchEnv: Env = Env(
    catalog = snapshot.df,
    groups = meta.groups.toMap,
    tagExists = meta.tagFrames.contains,
    tags = _ => {
      import spark.implicits._
      meta.tagFrames.toSeq
        .map { case (t, df) => df.select(lit(t).as("tag"), col("series")) }
        .reduceOption(_ unionByName _)
        .getOrElse(Seq.empty[(String, String)].toDF("tag", "series"))
    })
}

object Planner {

  /** The parquet-demo catalog, a full aggregation over all points,
    * collected once per (session, dir) into driver rows: EngineEnvs
    * are built per query, so the rows belong to this process-level
    * memo, one entry per distinct store. */
  private val demoCatalogs = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), CatalogSnapshot]

  private[parser] def demoCatalog(spark: SparkSession, dir: String): CatalogSnapshot =
    demoCatalogs.getOrElseUpdate((spark, dir), new CatalogSnapshot(spark,
      SeriesStore.catalogAll(spark, dir)
        .select(CatalogSchema.fieldNames.toSeq.map(col): _*)
        .collect().toVector))

  /** Per-query shared-scan caches (multi-chain selects cache the
    * selected points once for N chains, listener.c's points_map). A
    * long-lived server must release them once the response is
    * materialized, or distinct query shapes accumulate cache entries
    * forever — the transport drains this after encoding. Thread-local:
    * each request plans and collects on one thread. */
  private val queryCaches =
    ThreadLocal.withInitial[List[DataFrame]](() => Nil)

  private def registerQueryCache(df: DataFrame): DataFrame = {
    queryCaches.set(df :: queryCaches.get())
    df
  }

  /** Unpersist every cache registered by queries planned on this
    * thread since the last drain. Call AFTER the result is collected. */
  def drainQueryCaches(): Unit = {
    queryCaches.get().foreach(_.unpersist(blocking = false))
    queryCaches.set(Nil)
    selInfoMemo.get().clear()
  }

  /** Per-thread memo of the ONE catalog collect a select needs: the
    * type set (plan dispatch), a store's typed split (the points join
    * with the selected rows) and the output name list (response
    * encoding) all derive from the same response-bounded collect of
    * the selection's catalog rows, so a select collects once, not
    * twice (types at plan time + names at encode time). For all
    * series, a name or a regex it reads the env's driver snapshot and
    * starts no job. Keyed by the selection AST PLUS the store identity
    * (dir + store generation): an engine-level caller touching two
    * databases on one thread without a transport drain must not get
    * one store's cached series list for the other, and a non-DDL
    * catalog change (insert bumps storeGeneration) invalidates
    * naturally. Cleared with the query caches after each response. */
  private val selInfoMemo = ThreadLocal.withInitial(
    () => scala.collection.mutable.Map
      .empty[(String, Long, Sel, Option[Cexpr]), Seq[Row]])

  private def selRows(sel: Sel, where: Option[Cexpr], env: EngineEnv): Seq[Row] =
    selInfoMemo.get().getOrElseUpdate(
      (env.dir, env.meta.storeGeneration.get(), sel, where),
      catRows(Some(sel), where, env))

  /** (series, type) of each selected series. */
  private def selInfo(sel: Sel, where: Option[Cexpr],
      env: EngineEnv): Seq[(String, String)] =
    selRows(sel, where, env)
      .map(r => (r.getAs[String]("series"), r.getAs[String]("type")))

  /** Props usable in `where` on series → catalog columns
    * (siridb_series_cexpr_cb, src/siri/db/series.c:85-112). */
  private def propCol(prop: String, env: EngineEnv): Column = prop match {
    case "name" => col("series")
    // durations are RAW ts units (the reference's siridb->duration_num
    // is already scaled by the db's time precision, db.c:395-424)
    case "shard_duration" => lit(env.shardDuration)
    case p => col(p) // length, pool, start, end, type
  }

  private def cmpCol(pc: Column, op: String, v: Either[Long, String]): Column = {
    val lv: Column = v.fold(lit(_), lit(_))
    op match {
      case "==" => pc === lv
      case "!=" => pc =!= lv
      case "<" => pc < lv
      case ">" => pc > lv
      case "<=" => pc <= lv
      case ">=" => pc >= lv
      case "~" => pc.contains(v.toOption.get) // string-contains (cexpr.h:11-20)
      case "!~" => !pc.contains(v.toOption.get)
    }
  }

  private def cexprCol(c: Cexpr, env: EngineEnv): Column = c match {
    case CAnd(l, r) => cexprCol(l, env) && cexprCol(r, env)
    case COr(l, r) => cexprCol(l, env) || cexprCol(r, env)
    case CCmp(prop, op, v) => cmpCol(propCol(prop, env), op, v)
  }

  /** cexpr over an entity view whose props are plain columns. */
  private def cexprPlain(c: Cexpr): Column = c match {
    case CAnd(l, r) => cexprPlain(l) && cexprPlain(r)
    case COr(l, r) => cexprPlain(l) || cexprPlain(r)
    case CCmp(prop, op, v) => cmpCol(col(prop), op, v)
  }

  private def ok(env: EngineEnv, msg: String): DataFrame = {
    import env.spark.implicits._
    Seq(msg).toDF("success_msg")
  }

  /** Entity views for list/count (grammar :739-757; prop emitters
    * src/siri/db/props.c, group.c, tag.c, pools.c). */
  private def entityDf(entity: String, env: EngineEnv, where: Option[Cexpr]): DataFrame = {
    import env.spark.implicits._
    val base: DataFrame = entity match {
      case "groups" =>
        val gdf = env.meta.groups.toSeq.toDF("name", "expression")
        if (env.meta.groups.isEmpty)
          gdf.withColumn("series", lit(0L))
        else {
          // one job for all member counts: broadcast the (tiny) group
          // list and regex-match against the catalog
          val counts = env.snapshot.df
            .crossJoin(broadcast(gdf))
            // group expressions compile anchored like any /regex/
            // (group.c:53 via re.c:31-44)
            .where(expr("regexp_like(series, concat('^', expression, '$'))"))
            .groupBy(col("name")).agg(count(lit(1)).as("series"))
          gdf.join(counts, Seq("name"), "left")
            .withColumn("series", coalesce(col("series"), lit(0L)))
        }
      case "tags" =>
        // live member counts: tags keep only series that still exist —
        // the reference's tag views shrink when members are dropped
        // (itest/test_tags.py:219-233); one semi-join + aggregate over
        // the (small) membership frames, empty tags list with 0
        val names = env.meta.tagCounts.keys.toSeq.toDF("name")
        val frames = env.meta.tagFrames.toSeq
          .map { case (t, df) => df.select(lit(t).as("name"), col("series")) }
        if (frames.isEmpty) names.withColumn("series", lit(0L))
        else {
          val live = frames.reduce(_ unionByName _)
            .join(env.snapshot.df.select(col("series")), Seq("series"), "left_semi")
            .groupBy(col("name")).agg(count(lit(1)).as("series"))
          names.join(live, Seq("name"), "left")
            .withColumn("series", coalesce(col("series"), lit(0L)))
        }
      case "users" =>
        // access displays as the folded profile string; access_bits is
        // the where-only numeric form (user.c cexpr: int compare)
        env.meta.users.toSeq
          .map { case (n, u) => (n, graft.meta.Access.toStr(u.access), u.access.toLong) }
          .toDF("name", "access", "access_bits")
      case "pools" =>
        // servers per pool from the fleet (a replica is a pool's
        // second server); pools absent from the fleet default to 1
        val byPool = env.fleet.groupBy(identity).map {
          case (p, ss) => (p.toLong, ss.size.toLong) }
        // series per pool counted from the collected pool column: an
        // aggregate over the catalog would start jobs
        poolsOf(env).groupBy(identity).toSeq.sortBy(_._1)
          .map { case (p, ps) => (p, byPool.getOrElse(p, 1L), ps.size.toLong) }
          .toDF("pool", "servers", "series")
      case "shards" =>
        // shard view (shard.c's sid/size/start/end; start/end are the
        // bucket bounds, listener.c:2553-2554); server/status/type are
        // where-filterable single-node constants, projected away from
        // list output (oracle-pinned default columns). Ingest-backed
        // envs answer from shard-file metadata — zero point reads.
        val core = env.shardsView match {
          case Some(v) =>
            v().select(col("sid"), lit(0L).as("pool"), col("size"),
              col("start"), col("end"), col("type"))
          case None =>
            env.pointsM
              .groupBy(expr(s"ts div ${env.shardDuration}").as("sid"))
              .agg(lit(0L).as("pool"), (count(lit(1)) * 16).as("size"))
              .withColumn("start", col("sid") * env.shardDuration)
              .withColumn("end", (col("sid") + 1) * env.shardDuration)
              .select(col("sid"), col("pool"), col("size"),
                col("start"), col("end"), lit("number").as("type"))
        }
        core
          .withColumn("server", lit("local"))
          .withColumn("status", lit("ok"))
      case "servers" => serversDf(env)
      case other => throw QueryError(s"list $other is not supported")
    }
    where.map(w => base.where(cexprPlain(w))).getOrElse(base)
  }

  /** The live catalog's `pool` column, one entry per series. */
  private def poolsOf(env: EngineEnv): Seq[Long] =
    catRows(None, None, env).map(_.getAs[Long]("pool"))

  /** Live single-row servers view with the full prop set the reference
    * emits per server (src/siri/db/props.c:204-286) — `list servers`
    * columns and where clauses both work across it. */
  private def serversDf(env: EngineEnv): DataFrame = {
    val rt = Runtime.getRuntime
    val backup = env.meta.config.getOrElse("backup_mode", "false") == "true"
    val props: Seq[(String, Column)] = Seq(
      // one row per fleet server: server 0 keeps the standalone
      // identity ("local", port 9000) so single-node name pins hold;
      // server i is "local-i" at port 9000+i and serves pool
      // fleet(i), like the reference's address:port fleet (props.c
      // name = "address:port"; a pool's second server is its replica)
      "name" -> when(col("id") === 0L, lit("local"))
        .otherwise(concat(lit("local-"), col("id"))),
      "address" -> lit("127.0.0.1"),
      "port" -> (lit(9000L) + col("id")),
      "uuid" -> when(col("id") === 0L, lit("local"))
        .otherwise(concat(lit("local-"), col("id"))),
      "pool" -> element_at(
        array(env.fleet.map(p => lit(p.toLong)): _*), col("id").cast("int") + 1),
      "version" -> lit("2.0.55"),
      "online" -> lit("true"),
      "status" -> lit(if (backup) "running | backup-mode" else "running"),
      "active_handles" -> lit(MetaStore.activeHandles.get()),
      "active_tasks" -> lit(MetaStore.activeTasks.get()),
      "buffer_path" -> lit(env.dir),
      "buffer_size" -> lit(1024L),
      "dbpath" -> lit(env.dir),
      "fifo_files" -> lit(0L),
      "idle_percentage" -> lit(0L),
      "idle_time" -> lit(0L),
      "ip_support" -> lit("ALL"),
      "libuv" -> lit("n/a (Spark engine)"),
      "list_limit" -> lit(env.meta.listLimit.toLong),
      "log_level" -> lit(env.meta.config.getOrElse("log_level", "info")),
      // where-only ordinal for `where log_level <op> <level>` — the
      // reference compares the logger int (logger.h:14-18)
      "log_level_int" -> lit(Map("debug" -> 0L, "info" -> 1L,
        "warning" -> 2L, "error" -> 3L, "critical" -> 4L)
        .getOrElse(env.meta.config.getOrElse("log_level", "info"), 1L)),
      "max_open_files" -> lit(65536L),
      "mem_usage" -> lit((rt.totalMemory() - rt.freeMemory()) / 1024 / 1024),
      "open_files" -> lit(0L),
      "received_points" -> lit(env.meta.receivedPoints.get()),
      "reindex_progress" -> lit("none"),
      "selected_points" -> lit(env.meta.selectedPoints.get()),
      "select_points_limit" -> lit(env.meta.selectPointsLimit),
      "startup_time" -> lit(0L),
      "sync_progress" -> lit("synced"),
      "uptime" -> lit(env.meta.uptimeSeconds))
    env.spark.range(env.fleet.size.toLong.max(1L))
      .select(props.map { case (n, c) => c.as(n) }: _*)
  }

  /** Default list servers columns (reference list_servers default). */
  private val serverDefaultCols = Seq("name", "pool", "version", "online", "status")

  /** All OUTPUT series names of a select statement — the reference
    * emits every selected series in the response, including ones whose
    * points were entirely filtered away (itest/test_select.py expects
    * `{'name': []}` for an empty chain result). Merge collapses to the
    * merge name; prefix/suffix apply per chain. */
  def selectNames(stmt: SelectStmt, env: EngineEnv): Seq[String] = stmt.merge match {
    case Some(m) => // one merged series per chain, presuf'd (listener.c:4008)
      stmt.chains.map(c => c.prefix + m.name + c.suffix).distinct
    case None =>
      // shares the plan-time catalog collect via the selInfo memo
      val base = selInfo(stmt.sel, stmt.where, env).map(_._1).sorted
      stmt.chains.flatMap(c => base.map(n => c.prefix + n + c.suffix)).distinct
  }

  /** Catalog rows matching a series selection + where predicate: the
    * snapshot's rows ([[snapRows]]), or for a group, tag or set
    * selection one semi-join over the snapshot (SeriesMatch.eval). */
  private def selCatalog(sel: Option[Sel], where: Option[Cexpr], env: EngineEnv): DataFrame =
    snapRows(sel, where, env).map(_.df).getOrElse {
      val matched = env.snapshot.df.join(
        SeriesMatch.eval(sel.getOrElse(All), env.matchEnv), Seq("series"), "left_semi")
      where.fold(matched)(w => matched.where(cexprCol(w, env)))
    }

  /** A selection of all series, a name or a regex, filtered on the
    * driver: Catalyst walks a `LocalRelation`'s rows in every analyzer
    * and optimizer rule, so no plan may carry more of a 1M-row catalog
    * than the selection. The regex matches like `rlike` (`find` of the
    * anchored pattern). None for group, tag and set selections. */
  private def snapSel(sel: Option[Sel], env: EngineEnv): Option[CatalogSnapshot] =
    sel match {
      case None | Some(All) => Some(env.snapshot)
      case Some(Name(n)) => Some(env.snapshot.filter(_ == n))
      case Some(SelRegex(pat, ci)) =>
        val re = java.util.regex.Pattern.compile(SeriesMatch.anchored(pat, ci))
        Some(env.snapshot.filter(re.matcher(_).find()))
      case Some(_) => None
    }

  /** [[snapSel]] narrowed by the where predicate, also on the driver
    * (CatalogSnapshot.where). */
  private def snapRows(sel: Option[Sel], where: Option[Cexpr],
      env: EngineEnv): Option[CatalogSnapshot] =
    snapSel(sel, env).map(s => where.fold(s)(w => s.where(cexprCol(w, env))))

  /** The catalog rows of a selection + where predicate: the snapshot's
    * rows, collected only for a group, tag or set selection. */
  private def catRows(sel: Option[Sel], where: Option[Cexpr], env: EngineEnv): Seq[Row] =
    snapRows(sel, where, env).map(_.rows)
      .getOrElse(selCatalog(sel, where, env).collect().toSeq)

  /** Prefix and suffix a chain's output series names
    * (siridb_presuf_name, listener.c:4008-4020). */
  private def presuf(df: DataFrame, pre: String, suf: String): DataFrame =
    if (pre.isEmpty && suf.isEmpty) df
    else df.withColumn("series", concat(lit(pre), col("series"), lit(suf)))

  /** Functions allowed on string ("log") series; everything else is a
    * type error (points.c:368-433, series.c:72-76). */
  private val stringOkFns: Set[AggFn] = Set(Count, First, Last)

  private def checkStringOk(stages: Seq[Stage]): Unit = stages.foreach {
    case Agg(fn, _, _) if !stringOkFns(fn) =>
      throw QueryError(s"Cannot use ${fn.name}() on string type.")
    case Difference => throw QueryError("Cannot use difference() on string type.")
    case Derivative(_) => throw QueryError("Cannot use derivative() on string type.")
    case LimitFn(_, fn) if !stringOkFns(fn) =>
      throw QueryError(s"Cannot use ${fn.name}() on string type.")
    case FilterNum(_, _) =>
      throw QueryError("Cannot use a number filter on string type.")
    case _ => ()
  }

  /** The converse of [[checkStringOk]]: string/regex filters are
    * rejected on numeric series (aggregate.c:944). */
  private def checkNumericOk(stages: Seq[Stage]): Unit = stages.foreach {
    case FilterStr(_, _) | FilterRegex(_, _, _) =>
      throw QueryError("Cannot use a string filter on number type.")
    case _ => ()
  }

  /** Access bit a statement needs, per the reference's per-statement
    * enter_* checks (listener.c:692-1147,4949; access.h:8-17).
    * calc/help/timeit carry no bit. */
  private def requiredAccess(stmt: Statement): Int = {
    import graft.meta.Access
    stmt match {
      case TimeitStmt(inner) => requiredAccess(inner)
      case _: SelectStmt => Access.Select
      case _: ListSeriesStmt | _: ListEntityStmt => Access.List
      case _: CountStmt => Access.Count
      case _: ShowStmt => Access.Show
      case _: CreateGroup | _: CreateUser => Access.Create
      case _: DropGroup | _: DropTag | _: DropUser |
           _: DropSeries | _: DropShards | _: DropServer => Access.Drop
      case _: AlterSeriesTag | _: AlterUser | _: AlterGroup |
           _: AlterTag | _: AlterDatabase | _: AlterServer => Access.Alter
      case _: GrantUser => Access.Grant
      case _: RevokeUser => Access.Revoke
      case _ => 0
    }
  }

  /** `keepPid = true` (the transports) exposes the insertion-id column
    * on row-preserving selects so duplicate-ts points can be emitted in
    * insertion order (points.c:250-288); the default contract stays
    * (series, ts, val). When the env carries an authenticated user the
    * statement's access bit is enforced first (listener.c:433). */
  def run(stmt: Statement, env: EngineEnv, keepPid: Boolean = false): DataFrame = {
    // any DDL can change what a selection matches (drop tombstones,
    // tag/group membership, renames) — invalidate the per-thread
    // select memo so engine-level callers that interleave DDL and
    // selects without a transport drain never see stale types/names
    if (stmt.isInstanceOf[DdlStmt]) selInfoMemo.get().clear()
    env.user.foreach { u =>
      val bit = requiredAccess(stmt)
      if (bit != 0)
        env.meta.checkAccess(u, bit).foreach(m => throw AccessError(m))
    }
    // backup mode blocks every mutating statement (the reference's
    // MASTER_CHECK_ACCESSIBLE on the alter/create/drop/grant/revoke
    // handlers, listener.c:98-115) — except leaving backup mode
    // itself (exit_set_backup_mode carries no accessibility check)
    if (env.meta.config.getOrElse("backup_mode", "false") == "true") {
      import graft.meta.Access
      val mutating = (requiredAccess(stmt) &
        (Access.Create | Access.Alter | Access.Drop | Access.Grant | Access.Revoke)) != 0
      val isBackupToggle = (stmt match {
        case TimeitStmt(inner) => inner
        case s => s
      }) match {
        case AlterServer(_, "backup_mode", _) => true
        case _ => false
      }
      if (mutating && !isBackupToggle)
        throw QueryError(
          "Server 'local' is currently not accessible to process this request")
    }
    runStmt(stmt, env, keepPid)
  }

  private def runStmt(stmt: Statement, env: EngineEnv, keepPid: Boolean): DataFrame = stmt match {
    case TimeitStmt(inner) => runStmt(inner, env, keepPid) // wall-clock handled by caller

    case CalcStmt(v) =>
      import env.spark.implicits._
      Seq(v).toDF("calc")

    case ShowStmt(props) =>
      import env.spark.implicits._
      val rt = Runtime.getRuntime
      val known = Map(
        "dbname" -> "graft", "time_precision" -> "s", "version" -> "2.0.55",
        "timezone" -> "NAIVE",
        // the querying user, not a constant (props.c who_am_i;
        // test_user.py:120 asserts it after re-authenticating)
        "who_am_i" -> env.user.getOrElse("iris"), "server" -> "local",
        "status" -> (if (env.meta.config.getOrElse("backup_mode", "false") == "true")
          "running | backup-mode" else "running"),
        "pool" -> "0", "ip_support" -> "ALL",
        "active_handles" -> MetaStore.activeHandles.get().toString,
        "active_tasks" -> MetaStore.activeTasks.get().toString, "fifo_files" -> "0",
        "startup_time" -> "0", "sync_progress" -> "synced",
        "reindex_progress" -> "none", "libuv" -> "n/a (Spark engine)",
        "uptime" -> env.meta.uptimeSeconds.toString,
        "mem_usage" -> ((rt.totalMemory() - rt.freeMemory()) / 1024 / 1024).toString,
        "max_open_files" -> "65536", "open_files" -> "0",
        "received_points" -> env.meta.receivedPoints.get().toString,
        "selected_points" -> env.meta.selectedPoints.get().toString,
        "buffer_size" -> "1024", "buffer_path" -> env.dir,
        "dbpath" -> env.dir, "duration_num" -> env.shardDuration.toString,
        "duration_log" -> env.durationLog.toString, "expiration_num" -> "0",
        "expiration_log" -> "0", "log_level" -> "info",
        "idle_percentage" -> "0", "idle_time" -> "0",
        "uuid" -> "local") ++ env.meta.config
      val sel = if (props.isEmpty) known.keys.toSeq.sorted else props
      sel.map(pp => (pp, known.getOrElse(pp, "unknown"))).toDF("name", "value")

    case ListSeriesStmt(cols, sel, where, limit) =>
      limit.filter(l => l <= 0 || l > env.meta.listLimit).foreach { l =>
        // enter_limit_expr (listener.c:1006-1023)
        throw QueryError(
          s"Limit must be a value between 1 and ${env.meta.listLimit} but received: $l (optionally the limit can be changed, see 'help alter database')")
      }
      val outCols = cols.map {
        case "name" => col("series").as("name")
        case "shard_duration" => lit(env.shardDuration).as("shard_duration")
        case c => col(c)
      }
      val n = limit.getOrElse(env.meta.listLimit)
        .min(Int.MaxValue.toLong).toInt // list_limit (db.h:17)
      // the first n selected snapshot rows are the answer, so the plan
      // carries only those
      snapRows(sel, where, env).fold(selCatalog(sel, where, env))(_.take(n).df)
        .select(outCols: _*)
        .limit(n)

    // counts come from the selected catalog rows: a filter over a
    // store's driver snapshot runs on the driver, a Spark aggregate
    // over it would start two jobs
    case CountStmt("series", sel, where) =>
      import env.spark.implicits._
      Seq(catRows(sel, where, env).size.toLong).toDF("series")

    case CountStmt("series_length", sel, where) =>
      import env.spark.implicits._
      // skip-points fast path: answered from the catalog, never the
      // point data (siridb_aggregate_can_skip, aggregate.c:495-510);
      // NULL over no series, like SUM
      val lengths = catRows(sel, where, env).map(_.getAs[Long]("length"))
      Seq(Option.when(lengths.nonEmpty)(lengths.sum)).toDF("series_length")

    case CountStmt("groups", _, where) =>
      import env.spark.implicits._
      Seq(entityDf("groups", env, where).count()).toDF("groups")

    case CountStmt("tags", _, where) =>
      import env.spark.implicits._
      Seq(entityDf("tags", env, where).count()).toDF("tags")

    case CountStmt("users", _, where) =>
      import env.spark.implicits._
      Seq(entityDf("users", env, where).count()).toDF("users")

    case CountStmt("servers", _, where) =>
      import env.spark.implicits._
      Seq(entityDf("servers", env, where).count()).toDF("servers")

    case CountStmt("servers_received", _, where) =>
      import env.spark.implicits._
      // sum over matching servers (one server here: counter or 0)
      val matched = where.isEmpty || entityDf("servers", env, where).count() > 0
      Seq(if (matched) env.meta.receivedPoints.get() else 0L)
        .toDF("servers_received_points")

    case CountStmt("servers_selected", _, where) =>
      import env.spark.implicits._
      val matched = where.isEmpty || entityDf("servers", env, where).count() > 0
      Seq(if (matched) env.meta.selectedPoints.get() else 0L)
        .toDF("servers_selected_points")

    case CountStmt("pools", _, _) =>
      import env.spark.implicits._
      Seq(poolsOf(env).distinct.length.toLong).toDF("pools")

    case CountStmt("shards", _, where) =>
      import env.spark.implicits._
      Seq(entityDf("shards", env, where).count()).toDF("shards")

    case CountStmt("shards_size", _, where) =>
      entityDf("shards", env, where).agg(sum(col("size")).cast("long").as("size"))

    case CountStmt(other, _, _) =>
      throw QueryError(s"count $other is not supported")

    case ListEntityStmt(entity, where, cols, limit) =>
      limit.filter(l => l <= 0 || l > env.meta.listLimit).foreach { l =>
        // enter_limit_expr (listener.c:1006-1023), same bound as series
        throw QueryError(
          s"Limit must be a value between 1 and ${env.meta.listLimit} but received: $l (optionally the limit can be changed, see 'help alter database')")
      }
      // per-entity default projections (grammar *_columns defaults);
      // Nil = all view columns; explicit columns always win
      val defaults: Seq[String] = entity match {
        case "servers" => serverDefaultCols
        case "shards" => Seq("sid", "pool", "size", "start", "end")
        case "users" => Seq("name", "access") // access_bits is where-only
        case _ => Nil
      }
      val base0 = entityDf(entity, env, where)
      val base = limit.map(l => base0.limit(l.toInt)).getOrElse(base0)
      val out = if (cols.nonEmpty) cols else defaults
      if (out.isEmpty) base else base.select(out.map(col): _*)

    case HelpStmt(topic) =>
      import env.spark.implicits._
      import graft.meta.HelpTopics
      topic match {
        case Some(t) =>
          val text = HelpTopics.topics.getOrElse(t,
            s"no help for '$t' — try 'help' for the topic list")
          Seq((t, text)).toDF("topic", "help")
        case None =>
          HelpTopics.index.map(t => (t, HelpTopics.topics(t).linesIterator.next()))
            .toDF("topic", "help")
      }

    // ---- DDL / admin (SURVEY §2.8; success messages mirror
    //      listener.c:150-204) ----

    case CreateGroup(name, regex) =>
      // name limits + cross-namespace + compile checks exactly as
      // siridb_group_set_name (group.c:81-110) and re.c:55-67
      graft.meta.Naming.checkGroupName(name)
      if (env.meta.groups.contains(name))
        throw QueryError(s"Group '$name' already exists.")
      if (env.meta.tagFrames.contains(name))
        throw QueryError(s"Tag '$name' already exists.")
      graft.meta.Naming.compileAnchored(graft.engine.SeriesMatch.anchored(regex))
      env.meta.groups.put(name, regex)
      ok(env, s"Successfully created group '$name'.")

    case CreateUser(name, password) =>
      // siridb_user_set_name / set_password (user.c:83-101,146-177)
      graft.meta.Naming.checkUserName(name)
      if (env.meta.users.contains(name))
        throw QueryError(s"User '$name' already exists.")
      graft.meta.Naming.checkPassword(password)
      env.meta.users.put(name,
        env.meta.User(graft.meta.MetaStore.hashPassword(password), 0))
      ok(env, s"Successfully created user '$name'.")

    case DropGroup(name) =>
      if (env.meta.groups.remove(name).isEmpty)
        throw QueryError(s"Group '$name' does not exist.") // groups.c:316
      ok(env, s"Successfully dropped group '$name'.")

    case DropTag(name) =>
      if (!env.meta.dropTag(name))
        throw QueryError(s"Tag '$name' does not exist.") // tags.c:89
      ok(env, s"Successfully dropped tag '$name'.")

    case DropUser(name) =>
      if (env.meta.users.remove(name).isEmpty)
        throw QueryError(s"User '$name' does not exist.") // users.c:301
      ok(env, s"Successfully dropped user '$name'.")

    case DropSeries(sel, where, ignoreThreshold) =>
      // both counts read the snapshot's rows (a group, tag or set
      // selection counts its semi-join), then the matched set is
      // materialized as a tombstone frame (point-in-time snapshot via
      // localCheckpoint — later inserts re-matching the selection are
      // NOT retroactively dropped)
      val rows = snapRows(sel, where, env)
      val matched = rows.fold(selCatalog(sel, where, env))(_.df).select(col("series"))
      val n = rows.fold(matched.count())(_.rows.size.toLong)
      if (!ignoreThreshold)
        checkDropThreshold("series", n, env.snapshot.rows.size.toLong,
          env.meta.dropThreshold)
      if (n > 0) env.meta.addDropped(matched)
      ok(env, s"Successfully dropped $n series.")

    case AlterSeriesTag(sel, where, tag, untag) =>
      // tagging creates the tag on first use — name limits and the
      // group-namespace collision check are siridb_tag_set_name
      // (tag.c:57-70,260-270)
      if (!untag && !env.meta.tagFrames.contains(tag)) {
        if (env.meta.groups.contains(tag)) // enter_tag_series, listener.c:1718-1725
          throw QueryError(
            s"Cannot create tag `$tag` because a group with this name already exist.")
        graft.meta.Naming.checkTagName(tag)
      }
      // membership stays distributed: hand the matched selection to
      // the metastore as a frame — no name list on the driver (same
      // pattern as DropSeries tombstones)
      val matched = selCatalog(Some(sel), where, env).select(col("series"))
      if (untag) ok(env, s"Successfully untagged ${env.meta.untagSeries(tag, matched)} series.")
      else ok(env, s"Successfully tagged ${env.meta.tagSeries(tag, matched)} series.")

    case AlterUser(name, password) =>
      val u = env.meta.users.getOrElse(name,
        throw QueryError(s"Cannot find user: '$name'")) // listener.c:1113
      graft.meta.Naming.checkPassword(password)
      env.meta.users.put(name,
        u.copy(pwHash = graft.meta.MetaStore.hashPassword(password)))
      ok(env, s"Successfully updated user '$name'.")

    case AlterUserName(name, newName) =>
      val u = env.meta.users.getOrElse(name,
        throw QueryError(s"Cannot find user: '$name'")) // listener.c:1113
      graft.meta.Naming.checkUserName(newName)
      if (env.meta.users.contains(newName))
        throw QueryError(s"User '$newName' already exists.") // user.c:172
      env.meta.users.remove(name)
      env.meta.users.put(newName, u) // access bits + password survive
      ok(env, s"Successfully updated user '$newName'.")

    case AlterGroup(name, regex) =>
      if (!env.meta.groups.contains(name))
        throw QueryError(s"Cannot find group: '$name'") // listener.c:597
      graft.meta.Naming.compileAnchored(graft.engine.SeriesMatch.anchored(regex))
      env.meta.groups.put(name, regex)
      ok(env, s"Successfully updated group '$name'.")

    case AlterGroupName(name, newName) =>
      val re = env.meta.groups.getOrElse(name,
        throw QueryError(s"Cannot find group: '$name'")) // listener.c:597
      graft.meta.Naming.checkGroupName(newName)
      if (env.meta.groups.contains(newName))
        throw QueryError(s"Group '$newName' already exists.") // group.c:99
      if (env.meta.tagFrames.contains(newName))
        throw QueryError(s"Tag '$newName' already exists.") // group.c:108
      env.meta.groups.remove(name)
      env.meta.groups.put(newName, re)
      ok(env, s"Successfully updated group '$newName'.")

    case AlterTag(name, newName) =>
      if (!env.meta.tagFrames.contains(name))
        throw QueryError(s"Cannot find tag: '$name'") // listener.c:629
      graft.meta.Naming.checkTagName(newName)
      if (env.meta.tagFrames.contains(newName))
        throw QueryError(s"Tag '$newName' already exists.") // tag.c:260
      if (env.meta.groups.contains(newName))
        throw QueryError(s"Group '$newName' already exists.") // tag.c:269
      env.meta.renameTag(name, newName)
      ok(env, s"Successfully updated tag '$newName'.")

    case AlterDatabase(prop, value, ignoreThreshold) =>
      val old = env.meta.config.getOrElse(prop, "")
      if (prop == "timezone") { // exit_set_timezone (listener.c:4879-4930)
        if (value != "NAIVE" &&
            scala.util.Try(java.time.ZoneId.of(value)).isFailure)
          throw QueryError(s"Unknown time zone: '$value'. (see 'help timezones' for a list of valid time zones)")
        if (old == value)
          throw QueryError(s"Database 'graft' is already set to time-zone '$value'.")
      }
      // numeric config bounds with the reference's messages
      // (exit_set_drop_threshold :4296-4307, exit_set_list_limit
      // :4477-4487, exit_set_select_points_limit :4735-4745,
      // exit_set_expiration_* :4370-4381)
      if (prop == "drop_threshold") {
        val v = value.toDouble
        if (v < 0.0 || v > 1.0)
          throw QueryError(
            String.format(java.util.Locale.ROOT,
              "Drop threshold should be a value between or equal to 0 and 1.0 but got %.3f",
              Double.box(v)))
      }
      if (prop == "list_limit") {
        val v = value.toLong
        if (v < 1000L || v >= 4294967296L)
          throw QueryError(
            s"List limit should be a value greater than or equal to 1000 and smaller than 4294967296 but got $v")
      }
      if (prop == "select_points_limit") {
        val v = value.toLong
        if (v <= 0L || v >= 4294967296L)
          throw QueryError(
            s"Select points limit should be a value greater than 0 and smaller than 4294967296 but got $v")
      }
      if (prop == "expiration_num" || prop == "expiration_log") {
        val v = value.toLong
        // the reference backs `now` off by one day before the bound
        // check ("remove one day to be save",
        // exit_set_expiration_xxx listener.c:4365-4381); zero always
        // passes (it disables expiration)
        val nowTs = (System.currentTimeMillis() / 1000 - 86400L) * env.factor
        if (v < 0L || (v != 0L && v >= nowTs))
          throw QueryError(
            s"Shard expiration time should be a value greater than or equal to zero (0) and smaller than $nowTs but got $v")
        // drop-threshold guard (listener.c:4384-4402): the fraction of
        // this group's shards the new expiration would expire — shards
        // wholly before now-expiration, the same cutoff Ingest.expire
        // applies (siridb_shards_count_percent, shards.c:444-487) —
        // must stay under drop_threshold unless ignore_threshold was
        // given; otherwise the next insert would silently delete data
        // the reference refuses to.
        if (v != 0L && !ignoreThreshold) {
          val group = if (prop == "expiration_num") "num" else "log"
          val dur = if (group == "log") env.durationLog else env.shardDuration
          val groupShards = graft.streaming.Ingest
            .shardDirs(env.spark, env.dir).filter(_._1 == group)
          val cutoffShard = (nowTs - v) / dur
          checkDropThreshold("shards", groupShards.count(_._2 < cutoffShard),
            groupShards.size, env.meta.dropThreshold)
        }
      }
      if (prop == "tee") { // exit_set_tee (listener.c:4788-4860)
        if (value != "false") {
          if (value.isEmpty)
            throw QueryError("Tee address must not be empty")
          val hostOk = value.lastIndexOf(':') match {
            case -1 => value.nonEmpty
            case i => i > 0 && scala.util.Try(value.substring(i + 1).toInt)
              .toOption.exists(p => p > 0 && p < 65536)
          }
          if (!hostOk)
            throw QueryError("Invalid tee address; expecting ADDRESS[:PORT]")
        }
        env.meta.config.put(prop, value)
        ok(env, if (value == "false") "Successfully disabled tee."
          else s"Successfully configured tee to $value.")
      } else {
        env.meta.config.put(prop, value)
        ok(env, s"Successfully changed $prop from '$old' to '$value'.")
      }

    // single-node deployment: the fleet is exactly this server
    // ('local'); dropping it is refused like the reference refuses to
    // drop a pool's only server (exit_drop_server, listener.c:2983-3050)
    case DropServer(name) =>
      if (name != "local")
        throw QueryError(s"Cannot find server: $name")
      throw QueryError(
        "Cannot remove server 'local' because this is the only server for pool 0")

    case AlterServer(ref, prop, value) =>
      ref.filter(_ != "local")
        .foreach(r => throw QueryError(s"Cannot find server: $r"))
      prop match {
        case "log_level" => // exit_set_log_level (listener.c:4618)
          env.meta.config.put("log_level", value)
          ref match {
            case Some(_) => ok(env, s"Successfully set log level to '$value' on 'local'.")
            case None => ok(env, s"Successfully set log level to '$value' on 1 servers.")
          }
        case "backup_mode" => // exit_set_backup_mode (listener.c:4189-4287)
          val enable = value == "true"
          val cur = env.meta.config.getOrElse("backup_mode", "false") == "true"
          if (cur == enable)
            throw QueryError(s"Backup mode is already ${if (enable) "enabled" else "disabled"} on 'local'.")
          env.meta.config.put("backup_mode", value)
          ok(env, s"Successfully ${if (enable) "enabled" else "disabled"} backup mode on 'local'.")
        case "address" | "port" => // exit_set_address/port: the live
          // server cannot re-address itself (MSG_ERR_SERVER_ADDRESS)
          throw QueryError(
            "Its only possible to change a servers address or port when the server is not connected.")
        case other => throw QueryError(s"unknown server property '$other'")
      }

    case GrantUser(access, name, pw) =>
      val u = env.meta.users.getOrElse(name,
        throw QueryError(s"Cannot find user: '$name'")) // listener.c:735
      pw.foreach(graft.meta.Naming.checkPassword)
      env.meta.users.put(name,
        u.copy(access = u.access | graft.meta.Access.fromKeywords(access),
          pwHash = pw.map(graft.meta.MetaStore.hashPassword)
            .getOrElse(u.pwHash)))
      ok(env, s"Successfully granted permissions to user '$name'.")

    case RevokeUser(access, name) =>
      val u = env.meta.users.getOrElse(name,
        throw QueryError(s"Cannot find user: '$name'")) // listener.c:861
      env.meta.users.put(name,
        u.copy(access = u.access & ~graft.meta.Access.fromKeywords(access)))
      ok(env, s"Successfully revoked permissions from user '$name'.")

    // time-range shard deletion (exit_drop_shards, listener.c:3052-3152)
    // — only meaningful on a writable Ingest store, where shards are
    // physical directories
    case DropShards(where, ignoreThreshold) =>
      ok(env, s"Successfully dropped ${dropShardsBody(where, ignoreThreshold, env)} shards. (this number does not include replica shards)")

    // skip-points fast path: a bare `select count() from ...` (no
    // range, no other stages, no merge) never reads point data — the
    // catalog's length/end answer it (siridb_aggregate_can_skip,
    // aggregate.c:495-510; async_no_points_aggregate listener.c:5447-5586)
    // A series `drop shards` emptied answers no point (its catalog row
    // keeps no edges), like any empty chain: {"name": []}.
    case SelectStmt(Seq(SelectChain(Seq(Agg(Count, None, _)), pre, suf)),
        sel, where, None, None) =>
      presuf(selCatalog(Some(sel), where, env).where(col("length") > 0)
        .select(col("series"), col("end").as("ts"), col("length").as("val")), pre, suf)

    // same skip-points path for bare first()/last(): the catalog's
    // first_val/last_val (canonical string form, maintained by
    // Ingest.mergedCatalog / derived in SeriesStore.catalog) answer them
    // without reading point data (aggregate.c:495-510, series.c:1006+);
    // the cast back to the family type is exact (long/double round-trip
    // through string losslessly)
    case SelectStmt(Seq(SelectChain(Seq(Agg(fn, None, _)), pre, suf)),
        sel, where, None, None)
        if fn == First || fn == Last =>
      val cat = selCatalog(Some(sel), where, env).where(col("length") > 0)
      val types = selInfo(sel, where, env).map(_._2).toSet
      val (tsCol, vCol) =
        if (fn == First) (col("start"), col("first_val"))
        else (col("end"), col("last_val"))
      val out =
        if (types.size <= 1) {
          val valT =
            if (types == Set("integer")) "long"
            else if (types == Set("string")) "string"
            else "double"
          cat.select(col("series"), tsCol.as("ts"), vCol.cast(valT).as("val"))
        } else
          // mixed selection: keep the canonical string form and the
          // per-series type for the encoder (each series answers with
          // its own type, test_series.py:105-113)
          cat.select(col("series"), tsCol.as("ts"), vCol.as("val"),
            col("type").as("tp"))
      presuf(out, pre, suf)

    case SelectStmt(chains, sel, where, range, merge) =>
      // a time-ranged select on a shard-partitioned store reads only
      // the shard directories overlapping the range (the reference's
      // shard index pruning); the precise ts filter still applies in
      // the pipeline below
      val ranged = range match {
        case Some(TimeRange(a, b)) if env.rangedFrames.isDefined =>
          env.copy(frames = Some(env.rangedFrames.get(a, b)))
        case _ => env
      }
      // a store's typed split joins the points with a LocalRelation of
      // the selection's collected rows only: Catalyst walks a
      // LocalRelation's rows in every analyzer and optimizer rule, so
      // a select's plan must not carry the whole catalog
      val envForScan = ranged.frames.fold(ranged)(f => ranged.copy(
        frames = Some(f.over(new CatalogSnapshot(env.spark,
          selRows(sel, where, ranged).toVector)))))
      // the memoized collect also serves selectNames at encode time —
      // one catalog collect per select, total (pinned by PlanSpec)
      val selTypes = selInfo(sel, where, envForScan).map(_._2).toSet
      if (selTypes.contains("string") && selTypes.size > 1 && merge.isDefined)
        throw QueryError("Cannot merge string and number series.") // points.c:372
      // standing-rollup read path: a full-range, single-chain
      // count/sum/min/max select whose bucket width is a whole
      // multiple of the rollup's answers from the pre-aggregated
      // (series, bucket, n, sum, min, max) frame — zero raw-point
      // files touched. Right-aligned rollup buckets nest exactly into
      // the select's GROUP_TS buckets (see Rollup.bucketed), so
      // count = sum(n), min = min(min), max = max(max) are EXACT;
      // float sum re-associates partial sums (same class of
      // reassociation Spark's own 2-phase aggregate performs).
      // Integer sum stays on the raw path: the rollup carries doubles
      // and int64 sums must stay exact past 2^53 (and keep the
      // checked-overflow error).
      for ((rBucket, rdf) <- env.rollup) (chains, range, merge) match {
        case (Seq(SelectChain(Seq(Agg(fn, Some(gb), 0)), pre, suf)), None, None)
            if gb % rBucket == 0 &&
              (fn == Count && selTypes == Set("integer") ||
               (fn == Count || fn == Sum || fn == Min || fn == Max) &&
                 selTypes == Set("float")) =>
          val names = selCatalog(Some(sel), where, envForScan)
            .select(col("series"))
          val v = fn match {
            case Count => sum(col("n"))
            case Sum => sum(col("sum"))
            case Min => min(col("min"))
            case _ => max(col("max"))
          }
          return presuf(rdf.join(names, Seq("series"))
            .groupBy(col("series"),
              expr(s"((bucket + ${gb - 1L}) div $gb) * $gb").as("ts"))
            .agg(v.as("val")), pre, suf)
        case _ => ()
      }
      // the type families the chains run over. The reference evaluates
      // every series on its own, so a mixed-type selection without
      // merge answers each series in its own value type
      // (test_series.py:105-113) and runs the chains once per family.
      // Every other selection reads one frame; "number" is the numeric
      // view an integer+float merge reads, ints promoted to double
      // (points.c:368-376).
      val families: Seq[String] =
        if (selTypes.size > 1 && merge.isEmpty)
          Seq("integer", "float", "string").filter(selTypes)
        else if (selTypes.size == 1) selTypes.toSeq
        else Seq("number")
      // SeriesMatch.select restricts the points to the selection; a
      // where predicate or a tombstone also needs its catalog rows
      val live = Option.when(where.isDefined || env.meta.droppedDf.isDefined)(
        selCatalog(Some(sel), where, envForScan).select(col("series")))
      val outs = families.flatMap { family =>
        val frame = family match {
          case "integer" => envForScan.pointsI
          case "float" => envForScan.pointsF
          case "string" => envForScan.pointsS
          case _ => envForScan.pointsM
        }
        val matched = SeriesMatch.select(frame, sel, envForScan.matchEnv)
        val restricted = live.fold(matched)(matched.join(_, Seq("series"), "left_semi"))
        // multiple chains share one scan per family — the reference's
        // points_map cache (listener.c:5626-5658)
        val base =
          if (chains.size > 1) registerQueryCache(restricted.cache()) else restricted
        // exactly the type errors the reference raises per series
        // (aggregate.c "Cannot use ... on string type.")
        val check: Seq[Stage] => Unit =
          if (family == "string") checkStringOk else checkNumericOk
        val piped = chains.map { c =>
          check(c.stages)
          (c, Pipeline(base, range.toSeq ++ c.stages, keepPid))
        }
        merge match {
          case Some(MergeAs(name, using)) =>
            check(using)
            // each chain merges separately into its presuf'd destination
            // (siridb_presuf_name, listener.c:4008-4020; test_select.py's
            // prefixed min/max merge yields min-NAME and max-NAME), and
            // an empty destination is the reference's merge error
            piped.map { case (c, o) =>
              val dest = c.prefix + name + c.suffix
              if (dest.isEmpty || dest
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8).length >= 65535)
                throw QueryError("Error while merging points. Make sure the " +
                  "destination series name is valid.")
              Pipeline.merge(o, dest, using, keepPid)
            }
          case None => piped.map { case (c, o) => presuf(o, c.prefix, c.suffix) }
        }
      }
      // rows of more than one family, or of chains with different value
      // types (count → integer next to mean → float), keep each their
      // OWN type like the reference: they carry a `tp` column and a
      // canonical string `val` (long/double round-trip losslessly) for
      // the transport encoder to re-type per point
      val typed =
        if (families.size > 1 || outs.map(_.schema("val").dataType).distinct.size > 1)
          outs.map { o =>
            val tp = o.schema("val").dataType match {
              case LongType => "integer"
              case DoubleType => "float"
              case _ => "string"
            }
            o.withColumn("tp", lit(tp)).withColumn("val", col("val").cast("string"))
          }
        else outs
      // unify pid presence across chains (aggregated chains lost it)
      val anyPid = typed.exists(_.columns.contains("pid"))
      val unified = if (!anyPid) typed else typed.map { o =>
        if (o.columns.contains("pid")) o
        else o.withColumn("pid", lit(null).cast("long"))
      }
      unified.reduce(_.unionByName(_))
  }

  /** (matching, total) shard counts for a `drop shards` cexpr without
    * deleting anything — the cluster's drop-threshold guard sums these
    * ACROSS pools before any pool deletes (a per-pool fraction would
    * trip or miss the guard depending on how shards distribute). */
  private[graft] def matchShardsCount(where: Option[Cexpr],
      env: EngineEnv): (Long, Long) = {
    val (matching, all) = shardsMatching(where, env)
    (matching.size.toLong, all.size.toLong)
  }

  /** `drop shards` (exit_drop_shards, listener.c:3052-3152) on this
    * env's physical store, returning the dropped count STRUCTURALLY —
    * the cluster fan-out re-sums per-pool counts and formats the
    * reference message exactly once (PoolCluster), instead of
    * scraping its own rendered success strings; the standalone `run`
    * case formats the same count. The deletion itself, with the
    * catalog rebuild and rollup recompute it needs, is
    * Ingest.dropShards. Caller (run / ApiCore dropShardsCount) is
    * responsible for access checks. */
  private[graft] def dropShardsBody(where: Option[Cexpr],
      ignoreThreshold: Boolean, env: EngineEnv): Long = {
    if (env.frames.isEmpty)
      throw QueryError("drop shards requires a writable store (see graft.streaming.Ingest)")
    val (matching, all) = shardsMatching(where, env)
    // the same drop_threshold guard as series, on the shard fraction
    // (exit_drop_shards, listener.c:3107-3125)
    if (!ignoreThreshold)
      checkDropThreshold("shards", matching.size, all.size,
        env.meta.dropThreshold)
    graft.streaming.Ingest.dropShards(env.spark, env.dir, matching.map(_._3))
    // invalidate cached frames + advance the cross-process generation
    env.meta.bumpGeneration(env.spark, env.dir)
    matching.size.toLong
  }

  /** The drop_threshold guard (db.h:15; exit_drop_series,
    * exit_drop_shards, exit_set_expiration_xxx in listener.c): refuse
    * a statement that would drop `matched` of `total` series or shards
    * when that fraction reaches the threshold. Callers skip it under
    * `set ignore_threshold true`. */
  private[graft] def checkDropThreshold(what: String, matched: Long,
      total: Long, threshold: Double): Unit = {
    val frac = if (total == 0) 0.0 else matched.toDouble / total
    if (matched > 0 && frac >= threshold)
      throw QueryError(String.format(java.util.Locale.ROOT,
        "This query would drop %.2f%% of the %s in pool 0. Add 'set ignore_threshold true' to the query statement if you really want to do this.",
        Double.box(frac * 100), what))
  }

  /** The shard set a `drop shards [where]` cexpr selects, plus the
    * full shard list, WITHOUT deleting — shared by the standalone
    * body above and the cluster's summed threshold check. */
  private def shardsMatching(where: Option[Cexpr], env: EngineEnv)
      : (Seq[(String, Long, org.apache.hadoop.fs.Path)],
         Seq[(String, Long, org.apache.hadoop.fs.Path)]) = {
      val fs = new org.apache.hadoop.fs.Path(
        graft.streaming.Ingest.pointsPath(env.dir))
        .getFileSystem(env.spark.sessionState.newHadoopConf())
      val all = graft.streaming.Ingest.shardDirs(env.spark, env.dir)
      val matching = where match {
        case None => all
        case Some(w) =>
          // evaluate the cexpr per shard dir: the full shard prop set
          // of siridb_shard_cexpr_cb (shard.c:570-600 — sid, pool,
          // size, start, end, type, server, status), with the same
          // values the `list shards` view exposes; start/end map
          // through the dir's OWN duration (num vs log shards bucket
          // at different durations — db.c:395-424)
          def intCmp(op: String, a: Long, v: Long): Boolean = op match {
            case "==" => a == v
            case "!=" => a != v
            case "<" => a < v
            case ">" => a > v
            case "<=" => a <= v
            case ">=" => a >= v
            case o => throw QueryError(s"bad shard operator '$o'")
          }
          def strCmp(op: String, a: String, v: String): Boolean = op match {
            case "==" => a == v
            case "!=" => a != v
            case "<" => a < v
            case ">" => a > v
            case "<=" => a <= v
            case ">=" => a >= v
            case "~" => a.contains(v)
            case "!~" => !a.contains(v)
          }
          def eval(c: Cexpr, g: String, sid: Long, dur: Long,
              p: org.apache.hadoop.fs.Path): Boolean = c match {
            case CAnd(l, r) => eval(l, g, sid, dur, p) && eval(r, g, sid, dur, p)
            case COr(l, r) => eval(l, g, sid, dur, p) || eval(r, g, sid, dur, p)
            case CCmp("sid", op, Left(v)) => intCmp(op, sid, v)
            case CCmp("pool", op, Left(v)) => intCmp(op, 0L, v)
            case CCmp("start", op, Left(v)) => intCmp(op, sid, v / dur)
            case CCmp("end", op, Left(v)) => intCmp(op, sid, v / dur)
            case CCmp("size", op, Left(v)) =>
              val size = fs.listStatus(p)
                .filter(_.getPath.getName.endsWith(".parquet"))
                .map(_.getLen).sum
              intCmp(op, size, v)
            case CCmp("type", op, Right(v)) =>
              strCmp(op, if (g == "log") "log" else "number", v)
            case CCmp("server", op, Right(v)) => strCmp(op, "local", v)
            case CCmp("status", op, Right(v)) => strCmp(op, "ok", v)
            case CCmp(p0, _, _) => throw QueryError(s"unsupported shard property '$p0'")
          }
          all.filter { case (g, sid, p) =>
            eval(w, g, sid,
              if (g == "log") env.durationLog else env.shardDuration, p)
          }
      }
      (matching, all)
  }

  /** `now` at full database precision (time.c: the clock scaled by the
    * precision factor). Scaling the MILLISECOND clock — never a
    * second-truncated one — keeps now-relative ranges on ms/us/ns
    * databases from lagging up to a second behind fresh points. */
  def nowRaw(factor: Long): Long =
    if (factor >= 1000L) System.currentTimeMillis() * (factor / 1000L)
    else System.currentTimeMillis() / 1000L

  /** Parse + plan in one step (the engine's `/query` entry point);
    * the configured database timezone drives ISO8601 parsing. */
  def query(q: String, env: EngineEnv, now: Option[Long] = None): DataFrame = {
    val nowTs = now.getOrElse(nowRaw(env.factor))
    val tz = env.meta.config.getOrElse("timezone", "NAIVE")
    run(QueryParser.parse(q, nowTs, env.factor, tz), env)
  }
}
