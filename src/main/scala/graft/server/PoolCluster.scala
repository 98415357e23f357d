package graft.server

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._

import graft.meta.Lookup
import graft.parser.{AccessError, EngineEnv, Frames, QueryError, QueryParser}
import graft.streaming.Ingest

/** Pool-distributed database: N pools, each its own Ingest store,
  * series assigned by the reference's 8192-slot lookup table
  * (src/siri/db/lookup.c) — re-expressed Spark-first.
  *
  * Where the reference must SCATTER (insert.c routes each series'
  * points to the pool that owns it over the network) this cluster
  * routes batches to per-pool store directories; where the reference
  * must FAN OUT AND MERGE (query.c:263-394 rebuilds the query string,
  * forwards it to one server per pool and merges the partial results,
  * listener.c:4068-4143) this cluster runs ONE Catalyst plan over the
  * union of the pools' frames — pools are storage partitioning, and
  * Spark's planner already knows how to parallelize over partitioned
  * storage, so the reference's hand-written merge protocol disappears
  * into `unionByName`. `list pools` / `where pool == k` answer from
  * the real per-pool catalogs (the pool column IS the owning store).
  *
  * Replication (replicate.c / fifo.c) is deliberately absent: pool
  * stores live on shared storage whose durability Spark delegates to
  * the filesystem — a second copy of each pool would protect against
  * nothing the storage layer doesn't already.
  *
  * [[expand]] is the reference's pool expansion + re-index
  * (reindex.c, itest/test_pool.py): the lookup table's growth
  * property guarantees only series newly assigned to the new pool
  * move, so re-index cost is ~1/(n+1) of the data, not a reshuffle.
  * Inserts racing the expansion are REINDEX-AWARE, like the
  * reference's forwarding (reindex.c:54-60): from the moment the
  * expansion begins, a moved series' points route to the NEW owner's
  * store, so the re-index never rewrites a directory that live
  * inserts are still landing in. Queries stay exact through every
  * phase — see [[expand]] for the visibility protocol (bulk copy
  * while the old placement serves; an atomic switch to
  * target-plus-excluded-sources; a locked straggler sweep before
  * physical removal). Points are never lost and never served twice.
  */
final class PoolCluster(spark: org.apache.spark.sql.SparkSession,
    baseDir: String, initialPools: Int = 2, val dbName: String = "graft",
    /** Pool 0 may live at an existing single-store directory: that is
      * how a standalone database upgrades in place when its first
      * `new-pool` service request arrives — the store becomes pool 0
      * and the next [[expand]] re-indexes its share out. */
    pool0Dir: Option[String] = None,
    /** Database time precision, cluster-wide (the shared metastore
      * carries it, so every pool's server resolves the same factor). */
    timePrecision: String = "s",
    /** Opt-in auto shard duration, cluster-wide: the FIRST pool to
      * flush resolves the duration into the shared metastore
      * (putIfAbsent) and every other pool buckets under the same
      * choice — pools must agree or `drop shards before X` and shard
      * pruning would map timestamps differently per pool. Persisted at
      * the cluster's meta home (pool 0), so the cluster reopens with
      * the resolved duration. */
    autoDuration: Boolean = false) extends DbHandler {

  private def dirOf(k: Int) =
    if (k == 0) pool0Dir.getOrElse(s"$baseDir/pool0") else s"$baseDir/pool$k"

  /** Cluster-global metastore (users/groups/tags/config are synced
    * across the reference's servers); persisted under pool0. */
  val meta: graft.meta.MetaStore = {
    val m = new graft.meta.MetaStore
    m.loadFrom(spark, dirOf(0))
    m
  }

  /** Pool membership is CLUSTER state, persisted in the shared config
    * (`pools`), so a reopened cluster — or a second serving process
    * over the same directories — derives the same pool set from disk
    * regardless of its constructor argument, exactly like the
    * reference's servers agree on the pool map through database.dat. */
  private val bootPools: Int =
    math.max(initialPools,
      meta.config.get("pools").map(_.toInt).getOrElse(1))

  private def newPoolServer(k: Int): ApiCore =
    new ApiCore(spark, dirOf(k), dbName, autoDuration = autoDuration,
      sharedMeta = Some(meta), timePrecision = timePrecision,
      metaDirOpt = Some(dirOf(0)))

  @volatile private var pools: Vector[ApiCore] =
    (0 until bootPools).toVector.map(newPoolServer)

  locally {
    if (!meta.config.get("pools").exists(_.toInt >= bootPools)) {
      meta.config.put("pools", bootPools.toString)
      meta.persistTo(spark, dirOf(0))
    }
  }

  @volatile private var lookup: Lookup = Lookup(pools.size)

  /** In-flight expansion (reindex.c's REINDEX status): while set,
    * inserts route by the NEW lookup — a moved series' points land in
    * the target store from the first moment, so the re-index never
    * chases a directory that live inserts keep mutating. */
  private final case class Reindex(lookup: Lookup, target: ApiCore,
      targetIdx: Int)
  @volatile private var reindex: Option[Reindex] = None

  /** Names whose tombstone was lifted by a TARGET-routed re-insert
    * during the in-flight expansion (resurrect semantics,
    * ApiCore.commitInsert purges only the store it commits to): their
    * old points still sit in a SOURCE store, and the bulk copy /
    * straggler sweep must not migrate them — see [[migratable]].
    * Guarded by its own lock so recording never blocks on the
    * expansion monitor; cleared at UNMASK. Durably mirrored at
    * `<pool0>/meta/resurrected.json` (written BEFORE the commit that
    * lifts the tombstone) so a crashed expansion's recovery sweep
    * sees the same exclusions — the reference's re-index likewise
    * persists its progress (reindex.c's .reindex file). */
  @volatile private var resurrectedInReindex: Set[String] = Set.empty
  private val resurrectLock = new Object

  private def resurrectedPath =
    new org.apache.hadoop.fs.Path(s"${dirOf(0)}/meta/resurrected.json")

  /** Atomic (tmp + rename) JSON-array write, same shape as
    * MetaStore.persistTo's entity files. Called under [[resurrectLock]]
    * on the rare resurrect-during-expansion path only. */
  private def persistResurrected(names: Set[String]): Unit = {
    val fs = resurrectedPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(resurrectedPath.getParent)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = mapper.createArrayNode()
    names.toSeq.sorted.foreach(arr.add)
    val tmp = resurrectedPath.suffix(".tmp")
    val os = fs.create(tmp, true)
    os.write(mapper.writeValueAsBytes(arr)); os.close()
    fs.delete(resurrectedPath, false); fs.rename(tmp, resurrectedPath)
  }

  private def loadResurrected(): Set[String] = {
    val fs = resurrectedPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(resurrectedPath)) Set.empty
    else {
      val in = fs.open(resurrectedPath)
      val node =
        try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
        finally in.close()
      val b = Set.newBuilder[String]
      node.forEach(n => b += n.asText())
      b.result()
    }
  }

  private def clearResurrected(): Unit = {
    val fs = resurrectedPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(resurrectedPath, false)
  }

  /** What queries read, swapped ATOMICALLY (one volatile write): the
    * pool list to merge, plus — during an expansion's hand-over — the
    * slot set whose series the SOURCE pools must hide because the
    * published target now owns them (the target, always last in the
    * list, is never filtered). A reader capturing this tuple sees
    * each point exactly once in every phase. */
  @volatile private var queryView: (Vector[ApiCore], Option[Set[Int]]) =
    (pools, maskFromConfig(pools.size))

  /** The slot set a grown lookup reassigns to its newest pool — fully
    * determined by the pool count (the growth algorithm is
    * deterministic), so a second process reconstructs a remote
    * expansion's visibility mask from the persisted pool count alone. */
  private def movedSlotsOf(n: Int): Set[Int] =
    (0 until Lookup.Size).filter(s => Lookup(n).slots(s) == n - 1).toSet

  /** While a remote expansion is between SWITCH and UNMASK (persisted
    * `reindex_mask`), this process must apply the same
    * sources-hide-moved-slots mask or it would serve moved points
    * twice (before the removal) or not at all (after it). */
  private def maskFromConfig(n: Int): Option[Set[Int]] =
    if (meta.config.contains("reindex_mask")) Some(movedSlotsOf(n)) else None

  /** Multi-process coherence at cluster grain: one generation read
    * (pool 0's file — every pool's mutations bump it) adopts remote
    * DDL and inserts; when the reloaded config says the cluster GREW
    * or a remote expansion's mask phase changed, rebuild the pool set,
    * lookup and query view from the persisted state. The supported
    * cross-process regime is one mutating process at a time with any
    * number of readers (MetaStore.bumpGeneration) — a cluster whose
    * OWN expansion is in flight is the writer and skips adoption. */
  private def sync(): Unit = {
    // every pool's mutations bump pool 0's generation, so adopting a
    // remote one may have changed any pool's catalog
    if (pools(0).syncWithStore()) pools.drop(1).foreach(_.release())
    if (reindex.isEmpty) {
      val n = meta.config.get("pools").map(_.toInt).getOrElse(pools.size)
      val mask = meta.config.contains("reindex_mask")
      if (n > pools.size || mask != queryView._2.nonEmpty) synchronized {
        if (reindex.isEmpty &&
            (n > pools.size || mask != queryView._2.nonEmpty)) {
          val grown =
            pools ++ (pools.size until n).toVector.map(newPoolServer)
          pools = grown
          lookup = Lookup(grown.size)
          queryView = (grown, maskFromConfig(grown.size))
        }
      }
    }
  }

  /** Replicas per pool (reference NEW_REPLICA joins a second server to
    * an existing pool, service/request.c:830-900). On shared storage a
    * replica adds no durability — the store is already durable — so
    * joining is FLEET MEMBERSHIP: the server appears in the
    * servers/pools views with its pool, nothing re-copies. */
  @volatile private var replicas: Map[Int, Int] = Map.empty

  def addReplica(pool: Int): Unit = synchronized {
    require(pool >= 0 && pool < pools.size, s"no pool $pool")
    replicas = replicas.updated(pool, replicas.getOrElse(pool, 0) + 1)
  }

  /** One fleet entry per server: each pool's primary, then its
    * replicas. */
  private def fleet: Seq[Int] =
    pools.indices.flatMap(k => Seq.fill(1 + replicas.getOrElse(k, 0))(k))

  def nPools: Int = pools.size

  override def release(): Unit = pools.foreach(_.release())

  def poolOf(series: String): Int = lookup.poolOf(series)

  /** Same credential check as a standalone server (auth.c:17-60) —
    * users are cluster-global in the shared metastore. */
  def authenticate(user: String, password: String): Boolean = {
    sync()
    meta.users.get(user)
      .exists(u => graft.meta.MetaStore.verifyPassword(password, u.pwHash))
  }

  /** Route an insert: split the request's series by lookup assignment
    * and hand each pool its share (insert.c's scatter). EVERY share is
    * validated with the reference's checks (ApiCore.validateInsert)
    * before ANY share commits — the reference fully validates the
    * package before scattering (insert.c assign_by_map/assign_by_
    * array), so a malformed request must not partially insert here
    * either. The response is the reference's single success message
    * with the total point count. */
  def runInsert(req: JsonNode, user: String): JsonNode = {
    sync()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // one consistent reindex snapshot for routing AND store resolution
    val r = reindex
    val lk = r.map(_.lookup).getOrElse(lookup)
    // normalize both wire forms into per-pool ARRAY-form requests —
    // the array form legally repeats a series name (insert.c accepts
    // duplicate entries), so routing through a map would silently
    // drop points; full structural validation stays with
    // ApiCore.runInsert
    val byPool = scala.collection.mutable.Map
      .empty[Int, com.fasterxml.jackson.databind.node.ArrayNode]
    var total = 0L
    def route(name: String, pts: JsonNode): Unit = {
      if (name == null) throw QueryError("Expecting a map with name and points.")
      val arr = byPool.getOrElseUpdate(lk.poolOf(name),
        mapper.createArrayNode())
      val entry = arr.addObject()
      entry.put("name", name)
      entry.set[JsonNode]("points", pts)
      total += (if (pts != null && pts.isArray) pts.size() else 0)
    }
    if (req.isObject)
      req.properties().iterator().forEachRemaining(e =>
        route(e.getKey, e.getValue))
    else if (req.isArray)
      req.iterator().forEachRemaining { o =>
        if (!o.isObject || o.get("name") == null || !o.get("name").isTextual)
          throw QueryError("Expecting a map with name and points.")
        route(o.get("name").asText(), o.get("points"))
      }
    else throw QueryError(
      "Expecting an array or map containing series and points.")
    val shares = byPool.toSeq.sortBy(_._1).map { case (k, arr) =>
      (k, arr, poolFor(k, r).validateInsert(arr, user))
    }
    // resurrect-during-expansion: a tombstoned name routed to the
    // TARGET is purged+lifted there by commitInsert, but its old
    // points live in a SOURCE store — record the name (and persist
    // the set) BEFORE the commit lifts the tombstone, so the
    // copy/sweep — including a crashed expansion's RECOVERY sweep —
    // leaves those old points behind (the re-created series starts
    // fresh, commit 316bbc2's invariant). The membership check is a
    // cached driver-side Set lookup (MetaStore.droppedNames): no
    // Spark job on the insert hot path.
    r.foreach { rx =>
      val lifted = shares.collect {
        case (k, _, rows) if k == rx.targetIdx => rows.map(_.series)
      }.flatten.distinct.filter(meta.droppedNames)
      if (lifted.nonEmpty) resurrectLock.synchronized {
        resurrectedInReindex ++= lifted
        persistResurrected(resurrectedInReindex)
      }
    }
    shares.foreach { case (k, arr, rows) =>
      poolFor(k, r).commitInsert(rows, arr)
    }
    maybeOptimize()
    mapper.createObjectNode()
      .put("success_msg", s"Successfully inserted $total point(s).")
  }

  /** Cluster half of the optimize pass: tombstoned names span pools
    * (one `drop series /re/` matches everywhere), so a single pool
    * lifting the shared tombstones would resurrect the other pools'
    * still-unpurged points. Purge EVERY pool's store first, then lift
    * once, cluster-wide. Per-pool fragment compaction stays with each
    * pool's own gate (ApiCore.optimizeNow). Skipped while an
    * expansion is in flight — its own shard rewrites must not
    * interleave with a second full-store pass. */
  private val OptimizeIntervalMs = 60000L
  private val lastOptimizeMs =
    new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())
  private def maybeOptimize(): Unit = {
    val nowMs = System.currentTimeMillis()
    val last = lastOptimizeMs.get()
    if (nowMs - last >= OptimizeIntervalMs && reindex.isEmpty &&
        (meta.droppedDf.isDefined ||
          meta.config.contains("reindex_mask")) &&
        lastOptimizeMs.compareAndSet(last, nowMs)) optimizeNow()
  }
  private[graft] def optimizeNow(): Unit = synchronized {
    meta.droppedDf.foreach { tomb =>
      pools.indices.foreach(k => Ingest.compact(spark, dirOf(k),
        maxFiles = Int.MaxValue, dropped = Some(tomb)))
      meta.removeDropped(tomb)
      meta.persistTo(spark, dirOf(0))
      meta.bumpGeneration(spark, dirOf(0))
    }
    // a mask persisted while no expansion is in flight HERE can only
    // be a crashed writer's (single-mutator regime — this process is
    // the mutator when the optimize gate fires): finish its sweep
    recoverExpansion()
  }

  /** Resolve a lookup pool index to its serving store — during an
    * expansion the new pool's index resolves to the (possibly not yet
    * published) target. */
  private def poolFor(k: Int, r: Option[Reindex]): ApiCore = r match {
    case Some(rx) if k == rx.targetIdx => rx.target
    case _ => pools(k)
  }

  /** One merged query over every pool: union frames + a catalog whose
    * pool column is the real owning pool, through the standard ApiCore
    * encode path. Two statements touch PHYSICAL stores and route
    * differently: `drop shards` fans out to every pool (the reference
    * forwards it to all servers, listener.c exit_drop_shards) and the
    * summed count is re-encoded; `alter database ...` runs on pool 0 —
    * the master — whose own shards back the expiration drop-threshold
    * guard (exit_set_expiration_xxx checks the master's shards), while
    * the config itself lands in the cluster-shared metastore either
    * way. */
  def factor: Long = pools(0).factor

  def runQuery(q: String, tsFactor: Double, user: String): JsonNode = {
    sync()
    val stmt =
      try QueryParser.parse(q, tz = meta.config.getOrElse("timezone", "NAIVE"))
      catch { case _: Throwable => null } // real errors re-raise below
    val inner = stmt match {
      case graft.parser.TimeitStmt(s) => s
      case s => s
    }
    inner match {
      case ds: graft.parser.DropShards =>
        // every pool returns its dropped count TYPED
        // (ApiCore.dropShardsCount) and the reference message renders
        // exactly once here — nothing parses its own success strings;
        // the DDL answer rides the {columns, rows} table encoding
        val t0 = System.nanoTime()
        // snapshot reindex like runInsert: during phases 1–2 the
        // expansion target is unpublished, but reindex-routed racing
        // inserts may already have created shards there — a
        // cluster-wide drop must see them or they silently survive
        val rx = reindex
        val targets = pools ++
          rx.filterNot(r => pools.contains(r.target)).map(_.target)
        // the drop threshold guards the CLUSTER fraction — summed
        // matching over summed totals, checked ONCE before any pool
        // deletes (a per-pool fraction would trip or miss the guard
        // depending on how the matching shards distribute)
        meta.checkAccess(user, graft.meta.Access.Drop)
          .foreach(m => throw AccessError(m))
        if (!ds.ignoreThreshold) {
          val counts = targets.map(_.shardsMatchCount(ds, user))
          graft.parser.Planner.checkDropThreshold("shards",
            counts.map(_._1).sum, counts.map(_._2).sum, meta.dropThreshold)
        }
        val total = targets.map(_.dropShardsCount(
          ds.copy(ignoreThreshold = true), user)).sum
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val out = mapper.createObjectNode()
        out.putArray("columns").add("success_msg")
        out.putArray("rows").addArray().add(
          s"Successfully dropped $total shards. (this number does not include replica shards)")
        stmt match {
          case graft.parser.TimeitStmt(_) =>
            ApiCore.timeit(out, Seq("local" -> (System.nanoTime() - t0) / 1e9))
          case _ => out
        }
      case _: graft.parser.AlterDatabase =>
        val out = pools(0).runQuery(q, tsFactor, user)
        // config is cluster-shared, so a new expiration must take
        // effect on the very next write to EVERY pool — the DDL path
        // above reset only pool 0's gate
        pools.drop(1).foreach(_.resetExpireGate())
        out
      case _ if stmt.isInstanceOf[graft.parser.TimeitStmt] =>
        // the reference's timeit reports per-SERVER seconds
        // (listener.c:5026-5064: each pool's server appends its own
        // elapsed row). Pools here are storage partitions of ONE
        // fused Catalyst plan, so the executable work has no honest
        // per-pool split — the per-pool rows time each pool's share
        // of query setup (generation sync + catalog/frames/rollup
        // views, the terms that grow with pool count), and the
        // master row is the full parse+plan+execute+encode time.
        // Overhead regressions in the fan-out path show up as pool
        // rows growing relative to the master's.
        val t0 = System.nanoTime()
        val poolTimes = pools.indices.map { k =>
          val p0 = System.nanoTime()
          pools(k).env(user)
          s"pool$k" -> (System.nanoTime() - p0) / 1e9
        }
        val out = pools(0).runQueryIn(mergedEnv(user), q, tsFactor)
        ApiCore.timeit(out,
          poolTimes :+ ("master" -> (System.nanoTime() - t0) / 1e9))
      case _ =>
        pools(0).runQueryIn(mergedEnv(user), q, tsFactor)
    }
  }

  /** One merged env over every pool: each pool contributes what its
    * own store view serves — the points relation resolved at most once
    * per store generation, ranged reads pruned to the pool's in-range
    * shard directories, and its live catalog rows — and the cluster
    * unions the pools' points, merges their catalog rows into one
    * driver snapshot ([[mergedCatalog]]) and applies the one typed
    * split ([[ApiCore.typedFrames]]) to the union, like the reference
    * merges per-pool answers (query.c:263-394). Outside an expansion
    * hand-over the mask is a no-op. */
  private[graft] def mergedEnv(user: String): EngineEnv = {
    val (viewPools, excluded) = queryView
    val views = viewPools.map(_.view())
    // during an expansion hand-over the source pools hide the slots
    // the published target now owns — the predicate is the same
    // executor-evaluable slot expression the re-index routes by, so
    // nothing is read twice while the physical removal completes
    val keep = excluded.map(slots =>
      !expr(Lookup.slotSql("series"))
        .isin(slots.toSeq.map(Int.box): _*))
    def masked(dfs: Seq[DataFrame]): Seq[DataFrame] = keep match {
      case None => dfs
      case Some(k) => dfs.zipWithIndex.map { case (df, i) =>
        if (i == dfs.size - 1) df else df.where(k) } // target last
    }
    // the pool column is the real owning store (where pool == k)
    def byPool(dfs: Seq[DataFrame]): DataFrame = dfs.zipWithIndex
      .map { case (df, k) => df.withColumn("pool", lit(k.toLong)) }
      .reduce(_ unionByName _)
    val cat = mergedCatalog(views, excluded)
    def read(a: Option[Long], b: Option[Long]): Frames = ApiCore.typedFrames(
      masked(views.map(_.points(a, b))).reduce(_ unionByName _), cat)
    viewPools.head.env(user).copy(
      dir = baseDir, // distinct select-memo identity from any one pool
      frames = Some(read(None, None)),
      rangedFrames = Some(read),
      shardsView = Some(() => byPool(views.map(_.shards))),
      fleet = fleet,
      rollup = mergedRollup(views.map(_.rollup)))
  }

  /** The pools' live catalog rows as ONE driver snapshot (one
    * `LocalRelation`: a union of local relations would run a job per
    * read). The `pool` column is the owning store (list pools,
    * `where pool == k`), and during an expansion hand-over the source
    * pools drop the moved slots by [[Lookup.slotOf]], the driver twin
    * of the points mask. Built once per set of pool views and mask. */
  private def mergedCatalog(views: Vector[ApiCore#StoreView],
      excluded: Option[Set[Int]]): Ingest.CatalogSnapshot = {
    val key = (views, excluded)
    val m = merged
    if (m != null && m._1 == key) m._2
    else {
      val last = views.size - 1
      val rows = views.zipWithIndex.flatMap { case (v, k) =>
        val own = excluded match {
          case Some(slots) if k != last => // target last, never masked
            v.catalog.rows.filterNot(r => slots(Lookup.slotOf(r.getString(0))))
          case _ => v.catalog.rows
        }
        // a row already in its owning pool's slot is shared, not copied
        own.map(r => if (r.getLong(PoolField) == k) r
          else new GenericRowWithSchema(
            r.toSeq.updated(PoolField, k.toLong).toArray, Ingest.CatalogSchema))
      }
      val snap = new Ingest.CatalogSnapshot(spark, rows)
      merged = (key, snap)
      snap
    }
  }

  @volatile private var merged:
    ((Vector[ApiCore#StoreView], Option[Set[Int]]), Ingest.CatalogSnapshot) = null

  private val PoolField = Ingest.CatalogSchema.fieldIndex("pool")

  /** Cluster rollup view: the union of every pool's store-owned rollup
    * — the coarse-dashboard path a cluster exists for must not rescan
    * raw points across pools. Served only when EVERY pool maintains
    * one (a missing pool would silently drop its series from the
    * answer), at the least common multiple of the pools' bucket
    * widths: each row's right-aligned label nests into any select
    * bucket the LCM divides, so mixed widths merge exactly — the read
    * path re-aggregates per (series, bucket) anyway. A fresh expansion
    * target has no rollup yet, so the merged view self-disables for
    * the expansion's duration — exactly when source rollups still
    * carry moved rows; [[expand]] phase 4b backfills the target
    * (after the sweeps prune the sources) so the view re-enables
    * before UNMASK. */
  private def mergedRollup(views: Vector[Option[(Long, DataFrame)]])
      : Option[(Long, DataFrame)] = {
    if (views.isEmpty || views.exists(_.isEmpty)) None
    else {
      def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
      val r = views.flatten.map(_._1).reduce((a, b) => a / gcd(a, b) * b)
      Some((r, views.flatten.map(_._2).reduce(_ unionByName _)))
    }
  }

  /** The series a source store holds that the grown lookup reassigns
    * to the new pool — the 8192-row table broadcast-joins against the
    * store's catalog, so only the ~1/(n+1) moved slice is ever touched. */
  private def movedOf(srcDir: String, newIdx: Int,
      lookupDf: DataFrame): DataFrame =
    Ingest.catalog(spark, srcDir).select(col("series"), col("type"))
      .withColumn("slot", expr(Lookup.slotSql("series")))
      .join(broadcast(lookupDf), Seq("slot"))
      .where(col("pool") === newIdx)
      .select(col("series"), col("type"))

  /** Restrict a moved-series frame to the names whose old points may
    * migrate to the target. Two classes must stay behind:
    * currently-TOMBSTONED names (their points are hidden garbage the
    * optimize pass would purge — the sweep's removal drops them from
    * the source early instead, and copying them would plant garbage in
    * the target for the eventual cluster-wide lift to resurrect) and
    * names RESURRECTED during this expansion (tombstone already
    * lifted after purging only the target — migrating the source's
    * old points would resurrect them next to the fresh series). The
    * resurrected set is persisted before each tombstone lift and
    * reloaded by [[recoverExpansion]], so the exclusion holds across
    * a crash — a recovering process's sweep never migrates the old
    * points either. */
  private def migratable(moved: DataFrame): DataFrame = {
    import spark.implicits._
    val res = resurrectedInReindex
    val excluded = meta.droppedDf.map(_.select(col("series"))).toSeq ++
      (if (res.isEmpty) Seq.empty
       else Seq(res.toSeq.toDF("series")))
    excluded.reduceOption(_ unionByName _)
      .fold(moved)(ex => moved.join(ex, Seq("series"), "left_anti"))
  }

  /** Pool expansion + re-index (reindex.c; itest/test_pool.py): grow
    * the lookup table by one pool, then migrate exactly the series
    * whose slot the growth reassigned. Queries are exact through
    * every phase and points are never lost or served twice:
    *
    *  1. ROUTING ON — [[reindex]] publishes the grown lookup, so a
    *     moved series' racing inserts land in the target store from
    *     the start (the reference forwards them, reindex.c:54-60).
    *     Queries still read the old placement: sources authoritative,
    *     target invisible.
    *  2. BULK COPY — each source's moved slice appends to the target
    *     (read-only on the sources; the crash-safe append-then-remove
    *     order, a failure leaves re-movable duplicates in unpublished
    *     dirs, never lost points).
    *  3. SWITCH — ONE [[queryView]] write publishes the target and
    *     hides the moved slots on the sources: a reader sees
    *     sources-minus-moved plus the complete target — the full data
    *     set, every point exactly once, including racing inserts.
    *  4. STRAGGLER SWEEP + REMOVAL — per source, under its store
    *     lock: any moved row the bulk copy's snapshot missed (an
    *     insert that routed by the OLD lookup just before phase 1 and
    *     landed mid-copy) is diffed over to the target by
    *     (series, ts, pid) identity, then the moved series physically
    *     leave the source. The lock serializes with every source
    *     writer, so nothing can land between the diff and the
    *     removal.
    *  5. UNMASK — the exclusions drop; sources are physically clean.
    *
    * Runs as distributed batch jobs end to end; only shards holding
    * moved series rewrite. */
  def expand(): Int = expandPhased()

  /** [[expand]] with phase hooks for deterministic tests: `afterRouting`
    * fires in phase 1 (routing on, old placement serving),
    * `afterSwitch` in phase 3/4 (target published, sources masked,
    * physical removal pending). */
  private[graft] def expandPhased(afterRouting: () => Unit = () => (),
      afterSwitch: () => Unit = () => ()): Int = synchronized {
    val newIdx = pools.size
    val newLookup = Lookup(newIdx + 1)
    val target = newPoolServer(newIdx)
    val movedSlots = (0 until Lookup.Size)
      .filter(s => newLookup.slots(s) == newIdx).toSet
    import spark.implicits._
    val lookupDf = newLookup.toRows.toDF("slot", "pool")
    // 1. routing on
    reindex = Some(Reindex(newLookup, target, newIdx))
    afterRouting()
    // 2. bulk copy (sources untouched, target unpublished)
    pools.indices.foreach { k =>
      val srcDir = dirOf(k)
      val moved = migratable(movedOf(srcDir, newIdx, lookupDf))
      if (!moved.isEmpty) {
        val pts = Ingest.points(spark, srcDir)
          .join(moved, Seq("series"))
          .select(col("series"), col("ts"), col("val").as("val_num"),
            col("type").as("tp"), col("pid"), col("val_int"), col("val_str"))
        Ingest.appendBatch(pts, dirOf(newIdx),
          target.shardDuration, target.durationLog)
      }
    }
    // 3. atomic switch: target serves, sources mask the moved slots.
    // The grown pool count and the mask PHASE persist with the shared
    // config before the generation bump, so a second serving process
    // reconstructs this exact view (pools + mask) and stays exact
    // through the hand-over — the mask itself is derivable from the
    // count (movedSlotsOf), no slot list needs to be written.
    pools = pools :+ target
    lookup = newLookup
    queryView = (pools, Some(movedSlots))
    meta.config.put("pools", pools.size.toString)
    meta.config.put("reindex_mask", newIdx.toString)
    meta.persistTo(spark, dirOf(0))
    meta.bumpGeneration(spark, dirOf(0))
    afterSwitch()
    finishExpansion(newIdx, lookupDf)
    newIdx
  }

  /** Phases 4–5 of an expansion whose target is published and whose
    * sources mask the moved slots — the tail [[expandPhased]] runs
    * and [[recoverExpansion]] re-runs after a crash. Every step is
    * idempotent, so a re-run over a partly finished tail is safe. */
  private def finishExpansion(newIdx: Int, lookupDf: DataFrame): Unit = {
    // 4. straggler sweep + physical removal, per source, under lock
    pools.indices.filter(_ != newIdx)
      .foreach(k => sweepSource(k, newIdx, lookupDf, pools(newIdx)))
    // 4b. the target inherits the sources' standing rollups — after
    // the sweeps (source rollups are pruned of moved rows by then, so
    // the merged view re-enables exact) and before UNMASK (the
    // coarse-dashboard path must not lose its rollup serve across an
    // expansion; mergedRollup requires every pool to carry one)
    backfillTargetRollups(newIdx)
    // 5. unmask — every pool physically holds exactly its share
    reindex = None
    queryView = (pools, None)
    resurrectLock.synchronized {
      resurrectedInReindex = Set.empty
      clearResurrected()
    }
    meta.config.remove("reindex_mask")
    meta.persistTo(spark, dirOf(0))
    meta.bumpGeneration(spark, dirOf(0))
  }

  /** Backfill the expansion target's rollup dirs at every width any
    * source pool maintains (Ingest.rollupBackfill is a no-op for
    * widths the target already has — re-runs after a crash recovery
    * are safe). Cost: one aggregation pass over the target's ~1/(n+1)
    * slice per width. */
  private def backfillTargetRollups(newIdx: Int): Unit = {
    val widths = pools.indices.filter(_ != newIdx)
      .flatMap(k => Ingest.rollupDirs(spark, dirOf(k)).map(_._1)).distinct
    if (widths.nonEmpty)
      Ingest.rollupBackfill(spark, dirOf(newIdx), widths)
  }

  /** Phase-4 body, per source pool: copy any moved-series rows the
    * target is still missing (anti-join on (series, ts, pid) — so
    * re-running after a partial pass copies nothing twice), then
    * remove the moved series from the source. Idempotence is what
    * makes crashed-expansion recovery a plain re-run. */
  private def sweepSource(k: Int, newIdx: Int,
      lookupDf: org.apache.spark.sql.DataFrame, target: ApiCore): Unit = {
    val srcDir = dirOf(k)
    Ingest.withStoreLock(srcDir) {
      // re-derive from the CURRENT catalog: an old-routed racing
      // insert may even have created a brand-new moved series
      val moved = movedOf(srcDir, newIdx, lookupDf)
      if (!moved.isEmpty) {
        val movedNames = moved.select(col("series"))
        // only migratable names COPY over; the removal below still
        // takes the full moved set, so tombstoned/resurrected names'
        // old points leave the source without ever reaching the target
        val copyable = migratable(moved)
        val copied = Ingest.points(spark, dirOf(newIdx))
          .join(movedNames, Seq("series"))
          .select(col("series"), col("ts"), col("pid"))
        // materialized before the append: the diff plan reads the
        // target dir the append is about to write into
        val fresh = Ingest.points(spark, srcDir)
          .join(copyable, Seq("series"))
          .join(copied, Seq("series", "ts", "pid"), "left_anti")
          .select(col("series"), col("ts"), col("val").as("val_num"),
            col("type").as("tp"), col("pid"), col("val_int"),
            col("val_str"))
          .localCheckpoint(eager = true)
        if (fresh.count() > 0)
          Ingest.appendBatch(fresh, dirOf(newIdx),
            target.shardDuration, target.durationLog)
        Ingest.compact(spark, srcDir, maxFiles = Int.MaxValue,
          dropped = Some(movedNames))
      }
    }
  }

  /** Complete a CRASHED expansion — the writer died between SWITCH
    * and UNMASK, leaving `reindex_mask` persisted. The mask keeps
    * every reader (this process included, via sync()) exact
    * indefinitely, but moved rows stay duplicated in their sources
    * and placement never converges; the reference's re-index likewise
    * resumes after a restart (reindex.c persists progress in the
    * .reindex file). Phases 4-5 are idempotent, so recovery is a
    * plain re-run over the adopted pool set. Same single-writer
    * regime as every cluster mutation: call only when no other
    * process is mid-expansion. */
  private[graft] def recoverExpansion(): Unit = synchronized {
    sync()
    if (reindex.isEmpty && meta.config.contains("reindex_mask")) {
      val newIdx = meta.config("reindex_mask").toInt
      // adopt the crashed writer's persisted resurrect set BEFORE
      // sweeping — without it the recovery sweep would migrate the
      // old points of a mid-expansion resurrect back next to the
      // fresh series (the window the durable mirror exists to close)
      resurrectLock.synchronized {
        resurrectedInReindex = loadResurrected()
      }
      import spark.implicits._
      finishExpansion(newIdx, lookup.toRows.toDF("slot", "pool"))
    }
  }
}
