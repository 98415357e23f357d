package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.engine.SeriesStore

/** Continuous ingest with SiriDB's semantics (SURVEY §2.10): no
  * watermark — out-of-order and duplicate timestamps are accepted at
  * any time (sorted insert src/siri/db/points.c:226-245), and queries
  * always see every ingested point (read = buffer ∪ shards,
  * src/siri/db/series.c:914-996).
  *
  * Layout under `storeDir`:
  *   points/sgroup=<num|log>/shard=<ts div duration>/...parquet — the
  *     fact table, time-bucketed like the reference's shards
  *     (src/siri/db/shard.c) so ts-range queries prune whole
  *     directories. Numeric series bucket at `shardDuration`
  *     (duration_num), string ("log") series at `durationLog` — the
  *     reference keeps the two durations separately
  *     (src/siri/db/db.c:395-424);
  *   catalog.parquet — one [[CatalogSchema]] row per series,
  *     upserted incrementally per micro-batch (the analog of the
  *     reference's series.dat); `list`/`count series length` and the
  *     bare count()/first()/last() skip-points fast path read ONLY
  *     this — never the fact table (aggregate.c:495-510).
  *
  * At scale each micro-batch append is a partitioned parquet write and
  * the catalog upsert aggregates only the batch (plus a catalog-sized
  * rewrite that only scans the old catalog) — nothing re-scans
  * history.
  *
  * Maintenance, every job under the store lock:
  *   - [[compact]] is the one shard-rewrite pass (the reference's
  *     optimize, src/siri/optimize.c): it merges fragmented shards and
  *     physically removes named series (tombstones, resurrected names,
  *     series moved by a pool expansion) from the shards, the catalog
  *     and the standing rollups;
  *   - [[expire]] and [[dropShards]] delete whole shard directories and
  *     rebuild the catalog from the surviving points.
  * Every frame the store rewrites (a shard, the catalog, a rollup) is
  * swapped in by [[swap]].
  */
object Ingest {

  /** Wire form of one inserted point (insert.c:93-126 validates the
    * same shape: series name, integer ts, numeric value). Integer
    * values ride in `val_int` so int64 stays exact past 2^53 — the
    * reference's integer type is true int64 (points.h:9-14) and the
    * itest `huge` fixture pins values at Long.MaxValue. */
  final case class PointIn(series: String, ts: Long, val_num: Double,
      tp: String, pid: Long, val_int: Long = 0L, val_str: String = "")

  /** The catalog's columns, one row per series (the analog of the
    * reference's series.dat). Every catalog read declares it, so none
    * pays a schema-inference job. */
  val CatalogSchema: StructType = StructType(Seq(
    StructField("series", StringType), StructField("length", LongType),
    StructField("start", LongType), StructField("end", LongType),
    StructField("type", StringType), StructField("first_val", StringType),
    StructField("last_val", StringType), StructField("pool", LongType)))

  def pointsPath(dir: String) = s"$dir/points"
  def catalogPath(dir: String) = s"$dir/catalog.parquet"
  def rollupPath(dir: String) = s"$dir/rollup"

  /** Robust sampling-interval estimate over one series' sorted
    * timestamps (siridb_points_get_interval, points.c:1747-1787):
    * insertion-sort up to 63 consecutive deltas, then accept the
    * median delta only if Q1 and Q3 sit within a 10% tolerance band
    * of it (TOLERANCE_INTERVAL_DETECT). Returns 0 when the series is
    * too short (< 8 points) or too irregular to call. */
  def detectInterval(sortedTs: Seq[Long]): Long = {
    if (sortedTs.length < 8) return 0L
    val n = math.min(sortedTs.length - 1, 63)
    val arr = Array.tabulate(n)(i => sortedTs(i + 1) - sortedTs(i)).sorted
    val a = n / 4
    val b = n / 2
    val q1 = arr(a)
    val med = arr(b)
    val q3 = arr(2 * b - a)
    val x = med / 10 // b / (100 / TOLERANCE_INTERVAL_DETECT)
    if (q1 + x < med || q3 - x > med) 0L else med
  }

  /** Shard duration for a detected interval, targeting
    * OPTIMAL_POINTS_PER_SHARD = 2000 points per series per shard and
    * rounding up to whole weeks, else days, else hours
    * (siridb_shard_duration_from_interval, shard.c:136-169). An exact
    * hit on an existing duration reuses it. */
  def durationFromInterval(interval: Long, factor: Long,
      durationNum: Long, durationLog: Long): Long = {
    val n = interval * 2000L
    if (n == durationNum) return durationNum
    if (n == durationLog) return durationLog
    val week = 3600L * 24 * 7 * factor
    if (n / week > 0) return (n / week + 1) * week
    val day = 3600L * 24 * factor
    if (n / day > 0) return (n / day + 1) * day
    val hour = 3600L * factor
    (n / hour + 1) * hour
  }

  /** Start the ingest stream: any streaming source with PointIn rows →
    * shard-partitioned append + incremental catalog upsert. `tee`
    * mirrors every inserted batch to a second location, the analog of
    * the reference's tee pipe (src/siri/db/tee.c). */
  def start(src: DataFrame, storeDir: String, checkpoint: String,
      shardDuration: Long = 86400L, tee: Option[String] = None,
      durationLog: Long = 86400L): StreamingQuery =
    src.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = if (tee.isDefined) batch.persist() else batch
        tee.foreach(t => b.write.mode("append").parquet(t))
        appendBatch(b, storeDir, shardDuration, durationLog)
        if (tee.isDefined) b.unpersist()
        ()
      }
      .start()

  /** One monitor per store: the catalog merge in [[appendBatch]] is a
    * read-modify-write (tmp + rename), so concurrent transport inserts
    * must serialize per store exactly like the reference's libuv loop
    * serializes inserts (clserver.c runs them on one thread). The
    * streaming path is already serialized by foreachBatch; this guards
    * the direct HTTP/TCP insert path. Point-file appends commute, so
    * the lock costs nothing that matters: the catalog merge it guards
    * is catalog-sized, not points-sized. */
  private val storeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Re-entrancy depth per store — only read/written while holding the
    * store monitor, so plain puts are race-free. Depth > 0 means this
    * process already owns the OS lock (nested withStoreLock calls and
    * the two-ApiCore-one-JVM deployment both land here). */
  private val storeLockDepth =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()

  /** Run `f` under the store's mutation lock — every writer of the
    * point/catalog files (appendBatch, compact, expire, dropShards,
    * the expansion sweep) must serialize through here. Two layers:
    *   1. a JVM monitor serializes threads of this process, and
    *   2. a cross-process guard held for the mutation's duration — an
    *      OS file lock on `<store>/.lock` (local filesystems) or an
    *      epoch-numbered lease file (object stores, [[acquireLease]]).
    * A guard held by ANOTHER process is WAITED on for up to
    * [[lockWaitMs]] — the reference likewise queues concurrent
    * writers rather than failing them (its libuv loop serializes all
    * inserts, clserver.c; a second siridb server forwards and the
    * owner's loop queues) — so any server process can accept
    * mutations against shared storage and concurrent mutators
    * serialize. The insert path re-syncs against the on-disk
    * generation once the guard is held (ApiCore.commitInsert), so a
    * waiting mutator adopts whatever the previous one committed
    * before deciding anything. Only when the guard is still foreign
    * after the whole wait window (a wedged or runaway peer — not a
    * queue to join silently forever) does the mutation refuse
    * loudly. Readers never take this lock and are unaffected. */
  def withStoreLock[A](storeDir: String)(f: => A): A =
    storeLocks.computeIfAbsent(storeDir, _ => new Object).synchronized {
      val depth: Int = storeLockDepth.getOrDefault(storeDir, 0)
      val guard: Option[AutoCloseable] =
        if (depth == 0) Some(acquireMutatorGuard(storeDir)) else None
      storeLockDepth.put(storeDir, depth + 1)
      try f
      finally {
        if (depth == 0) storeLockDepth.remove(storeDir)
        else storeLockDepth.put(storeDir, depth)
        guard.foreach(_.close())
      }
    }

  /** How long a mutation waits for a foreign guard before refusing.
    * 0 = refuse immediately (tests set it to pin the refusal). */
  @volatile private[graft] var lockWaitMs: Long = 10000L

  private def acquireMutatorGuard(storeDir: String): AutoCloseable = {
    val deadline = System.currentTimeMillis() + lockWaitMs
    var guard: AutoCloseable = null
    while (guard == null)
      try guard = acquireMutatorGuardOnce(storeDir)
      catch {
        case e: graft.parser.QueryError =>
          val left = deadline - System.currentTimeMillis()
          if (left <= 0) throw e
          Thread.sleep(math.min(100L, left))
      }
    guard
  }

  /** Cross-process half of the store lock: POSIX byte-range lock where
    * the store is on a local filesystem, an epoch-numbered lease file
    * everywhere else (hdfs://, s3a://, ... have no POSIX locks — the
    * round-8 fallback was "deployment contract", which a 100 TB
    * deployment on exactly those stores never gets to test). */
  private def acquireMutatorGuardOnce(storeDir: String): AutoCloseable = {
    val local =
      if (storeDir.startsWith("file:")) Some(storeDir.stripPrefix("file:"))
      else if (!storeDir.contains("://")) Some(storeDir)
      else None
    local.filter(_ => !forceLeaseForTests) match {
      case Some(dir) => acquireOsLock(dir)
      case None => acquireLease(storeDir)
    }
  }

  /** One attempt at the OS lock on `<dir>/.lock` (`dir` a local path).
    * A held lock (another process mid-mutation, or a foreign channel in
    * this JVM — the in-JVM analog tryLock signals via
    * OverlappingFileLockException) throws at once; the caller,
    * [[acquireMutatorGuard]], retries until [[lockWaitMs]] runs out. */
  private def acquireOsLock(dir: String): AutoCloseable = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    val ch = java.nio.channels.FileChannel.open(p.resolve(".lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val lock =
      try ch.tryLock()
      catch {
        case _: java.nio.channels.OverlappingFileLockException => null
      }
    if (lock == null) {
      ch.close()
      throw graft.parser.QueryError(
        s"Store '$dir' is being mutated by another process " +
          "(.lock is held); this database serves one mutating process " +
          "per store")
    }
    () => { try lock.release() finally ch.close() }
  }

  /** Test hook: route local-filesystem stores through the lease path
    * so the lease protocol is exercisable without an object store. */
  @volatile private[graft] var forceLeaseForTests: Boolean = false

  /** Lease TTL. A mutation outliving its TTL without a renewal (the
    * holder renews at TTL/3 from a daemon thread) can be superseded —
    * generous by default so only a dead process's lease ever expires. */
  @volatile private[graft] var leaseTtlMs: Long = 600000L

  /** This process's mutator identity (pid@host plus a JVM nonce). */
  private[graft] val mutatorId: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName + "/" +
      java.util.UUID.randomUUID().toString.take(8)

  private final case class LeaseState(epoch: Long, holder: String,
      deadlineMs: Long)

  private def leaseFs(storeDir: String) = {
    val p = new Path(storeDir, ".lease")
    // the active session's conf when one exists (object-store creds
    // ride on it); a bare Configuration resolves file:/hdfs: anyway
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    (p.getFileSystem(conf), p)
  }

  /** Highest-epoch lease on the store, its deadline extended by any
    * renewal file the holder has written since acquiring. */
  private def readLease(fs: org.apache.hadoop.fs.FileSystem,
      ld: Path): Option[LeaseState] = {
    if (!fs.exists(ld)) return None
    def parse(p: Path): Option[LeaseState] =
      try {
        val in = fs.open(p)
        val n = try new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(in) finally in.close()
        Some(LeaseState(n.get("epoch").asLong(), n.get("holder").asText(),
          n.get("deadlineMs").asLong()))
      } catch { case _: Exception => None } // torn write → treat as absent
    val names = fs.listStatus(ld).map(_.getPath.getName).toSeq
    val top = names.filter(n => n.startsWith("epoch-") && !n.endsWith(".renew"))
      .flatMap(n => scala.util.Try(n.stripPrefix("epoch-").toLong).toOption)
      .sorted.lastOption
    top.flatMap { e =>
      parse(new Path(ld, s"epoch-$e")).map { base =>
        val renewed = if (names.contains(s"epoch-$e.renew"))
          parse(new Path(ld, s"epoch-$e.renew")) else None
        renewed.filter(_.holder == base.holder)
          .fold(base)(r => base.copy(deadlineMs =
            math.max(base.deadlineMs, r.deadlineMs)))
      }
    }
  }

  private def writeLease(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      st: LeaseState, overwrite: Boolean): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = m.createObjectNode()
    n.put("epoch", st.epoch); n.put("holder", st.holder)
    n.put("deadlineMs", st.deadlineMs)
    val out = fs.create(p, overwrite)
    try out.write(m.writeValueAsBytes(n)) finally out.close()
  }

  /** Acquire the store's mutator lease, or refuse loudly.
    *
    * Protocol (one lease dir `<store>/.lease`, epoch files
    * `epoch-<n>`): read the top epoch; a live foreign lease (deadline
    * in the future) is the same loud refusal as a held `.lock` — the
    * deployment regime is one mutating process. A dead or absent
    * lease is superseded by CREATING `epoch-<n+1>` with
    * overwrite=false — atomic create-if-absent on HDFS-like stores,
    * so two racing claimants cannot both win an epoch; on stores
    * whose create is weaker the post-write re-read below narrows the
    * window to the object-visibility gap. The epoch number is the
    * FENCING TOKEN: it only ever grows, every mutation runs under the
    * newest epoch its process acquired, and [[LeaseHandle.close]]
    * re-checks before release that no higher epoch appeared
    * mid-mutation — a supersede (possible only after this process
    * failed to renew for a full TTL, e.g. a minutes-long GC pause)
    * turns into a loud error instead of a silent interleave. External
    * fencing consumers (a commit gate on the warehouse side) can read
    * the same token from the lease file. While held, a daemon thread
    * renews at TTL/3 by overwriting `epoch-<n>.renew`, so a live
    * mutation never expires; a crashed process stops renewing and its
    * lease dies a TTL later — the reference's equivalent is a siridb
    * server dropping off and its pool being promoted
    * (src/siri/db/server.c). */
  private def acquireLease(storeDir: String): LeaseHandle = {
    val (fs, ld) = leaseFs(storeDir)
    fs.mkdirs(ld)
    val now = System.currentTimeMillis()
    val cur = readLease(fs, ld)
    cur.filter(l => l.holder != mutatorId && l.deadlineMs > now).foreach { l =>
      throw graft.parser.QueryError(
        s"Store '$storeDir' is leased by mutator ${l.holder} " +
          s"(epoch ${l.epoch}, expires in ${l.deadlineMs - now} ms); " +
          "this database serves one mutating process per store")
    }
    val epoch = cur.map(_.epoch + 1).getOrElse(1L)
    val mine = LeaseState(epoch, mutatorId, now + leaseTtlMs)
    val p = new Path(ld, s"epoch-$epoch")
    try writeLease(fs, p, mine, overwrite = false)
    catch {
      case _: java.io.IOException => throw graft.parser.QueryError(
        s"Store '$storeDir' lease epoch $epoch was claimed by another " +
          "mutator during acquisition; this database serves one mutating " +
          "process per store")
    }
    // post-write verify: we must still be the TOP epoch (guards the
    // read→create window on stores without atomic create-if-absent)
    val check = readLease(fs, ld)
    if (!check.exists(l => l.epoch == epoch && l.holder == mutatorId)) {
      fs.delete(p, false)
      throw graft.parser.QueryError(
        s"Store '$storeDir' lease was superseded during acquisition " +
          s"(saw ${check.map(_.epoch)}); this database serves one " +
          "mutating process per store")
    }
    // older epochs are dead by construction — GC their files
    fs.listStatus(ld).map(_.getPath).filter { q =>
      val n = q.getName
      n.startsWith("epoch-") &&
        scala.util.Try(n.stripPrefix("epoch-").stripSuffix(".renew").toLong)
          .toOption.exists(_ < epoch)
    }.foreach(fs.delete(_, false))
    new LeaseHandle(storeDir, epoch)
  }

  private final class LeaseHandle(storeDir: String, epoch: Long)
      extends AutoCloseable {
    @volatile private var stopped = false
    private val renewer = new Thread(() => {
      while (!stopped) {
        try Thread.sleep(math.max(leaseTtlMs / 3, 50L))
        catch { case _: InterruptedException => () }
        if (!stopped)
          try {
            val (fs, ld) = leaseFs(storeDir)
            writeLease(fs, new Path(ld, s"epoch-$epoch.renew"),
              LeaseState(epoch, mutatorId,
                System.currentTimeMillis() + leaseTtlMs), overwrite = true)
          } catch { case _: Exception => () } // next tick retries
      }
    }, s"graft-lease-renew-$epoch")
    renewer.setDaemon(true)
    renewer.start()

    override def close(): Unit = {
      stopped = true
      renewer.interrupt()
      val (fs, ld) = leaseFs(storeDir)
      // fencing check: a higher epoch mid-mutation means this process
      // lost the lease (TTL elapsed un-renewed) and another mutator
      // may have interleaved — surface it, never swallow it
      val top = readLease(fs, ld)
      fs.delete(new Path(ld, s"epoch-$epoch.renew"), false)
      fs.delete(new Path(ld, s"epoch-$epoch"), false)
      if (top.exists(_.epoch > epoch))
        throw graft.parser.QueryError(
          s"Store '$storeDir' mutator lease (epoch $epoch) was superseded " +
            s"by epoch ${top.get.epoch} mid-mutation; the completed " +
            "mutation may have interleaved with the new mutator's — " +
            "verify the store before continuing")
    }
  }

  /** One micro-batch: coerce values to the series' established type,
    * append points, merge the batch's per-series stats into the
    * catalog. Runs sequentially per stream (Spark serializes
    * foreachBatch calls).
    *
    * Type rule (siridb_series_ensure_type, src/siri/db/series.c:1141):
    * the FIRST point ever inserted fixes a series' type; later points
    * of another type are coerced to it (int<->double casts, strings
    * parsed leniently), never rejected — so the catalog type can never
    * silently flip. */
  def appendBatch(batch: DataFrame, storeDir: String, shardDuration: Long,
      durationLog: Long = 86400L): Unit =
    withStoreLock(storeDir) {
      appendBatchLocked(batch, storeDir, shardDuration, durationLog)
    }

  private def appendBatchLocked(batch: DataFrame, storeDir: String,
      shardDuration: Long, durationLog: Long): Unit = {
    val spark = batch.sparkSession
    val withExtra = Seq("val_int" -> lit(0L), "val_str" -> lit(""))
      .foldLeft(batch) { case (df, (c, d)) =>
        if (df.columns.contains(c)) df else df.withColumn(c, d)
      }
    val raw = withExtra.select(col("series"), col("ts"),
      col("val_num").as("val"), col("val_int"), col("val_str"),
      col("tp"), col("pid"))
    val existing = catalog(spark, storeDir)

    // One grouped pass over the raw batch, joined to the catalog: one
    // row per BATCH series carrying its merged catalog row. The
    // established type is the catalog type, else the type of the
    // series' first point in this batch; a series already in the
    // catalog adds its count and widens start/end, and first/last move
    // only when the batch reaches past them (an equal end goes to the
    // batch, whose pids are newer). The batch's first/last values are
    // its raw first/last points by (ts, pid) under the same coercion
    // as the points. Checkpointed (distributed, nothing collected):
    // the point write and the catalog rewrite both read it.
    val ord = struct(col("ts"), col("pid"))
    val point = struct(col("ts"), col("pid"), col("val"), col("val_int"),
      col("val_str"), col("tp"))
    val etp = coalesce(col("type"), col("first.tp"))
    def edge(e: String) = valueString(etp, coerce(c => col(s"$e.$c"), etp))
    val fresh = col("type").isNull
    val touched = raw.groupBy(col("series"))
      .agg(count(lit(1)).as("n"), min(col("ts")).as("lo"),
        max(col("ts")).as("hi"), min_by(point, ord).as("first"),
        max_by(point, ord).as("last"))
      .join(existing, Seq("series"), "left")
      .select(col("series"),
        (coalesce(col("length"), lit(0L)) + col("n")).as("length"),
        least(col("start"), col("lo")).as("start"),
        greatest(col("end"), col("hi")).as("end"),
        etp.as("type"),
        when(fresh || col("lo") < col("start"), edge("first"))
          .otherwise(col("first_val")).as("first_val"),
        when(fresh || col("hi") >= col("end"), edge("last"))
          .otherwise(col("last_val")).as("last_val"),
        SeriesStore.poolOf("series").as("pool"))
      .localCheckpoint(eager = true)

    // the points, coerced once. String ("log") series shard at their
    // own duration (src/siri/db/db.c:395-424: duration_num vs
    // duration_log). Rebalanced by shard directory: AQE keeps each
    // shard's rows in one task, so a batch writes one file per touched
    // shard (a small batch coalesces to one task), and splits only a
    // shard holding more than the advisory partition size, so a large
    // batch into few shards still writes in parallel.
    val pts = raw.join(touched.select(col("series"), col("type").as("etp")), Seq("series"))
      .withColumns(coerce(col, col("etp"))).drop("etp")
    pts.withColumn("sgroup",
        when(col("tp") === "string", lit("log")).otherwise(lit("num")))
      .withColumn("shard", when(col("tp") === "string",
        expr(s"ts div $durationLog")).otherwise(expr(s"ts div $shardDuration")))
      .hint("rebalance", col("sgroup"), col("shard"))
      .write.mode("append").partitionBy("sgroup", "shard")
      .parquet(pointsPath(storeDir))

    // standing rollups are materialized views of the store: the batch's
    // delta rows keep them exact (see the rollup section below)
    rollupAppend(spark, storeDir, pts)

    // one write: the old catalog minus the batch's series (an
    // anti-join against the broadcast batch names, so the catalog is
    // only scanned, never shuffled) plus the merged rows
    swap(spark, new Path(catalogPath(storeDir)),
      existing.join(broadcast(touched.select(col("series"))), Seq("series"), "left_anti")
        .unionByName(touched))
  }

  /** Replace the frame stored at `dir` with `rows`: one `coalesce(1)`
    * write to `<dir><tmpSuffix>`, then delete and rename. Every rewrite
    * of a store frame (a shard, the catalog, a rollup) goes through
    * here; the caller holds the store lock. Shard rewrites pass
    * ".compact", the name by which a compaction's write is told apart
    * in a query plan (perfbench's trace counts compaction passes by
    * it). */
  private def swap(spark: SparkSession, dir: Path, rows: DataFrame,
      tmpSuffix: String = ".tmp"): Unit = {
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(dir.toString + tmpSuffix)
    rows.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    fs.delete(dir, true)
    fs.rename(tmp, dir)
  }

  /** siridb_series_ensure_type's coercion (series.c:1141-1216) of one
    * point — its `val`/`val_int`/`val_str`/`tp` fields, read through
    * `p` — to the established type `etp`, with C stdlib semantics:
    * strings parse as a strtoll/strtod PREFIX ("-50%" → -50,
    * "garbage"/"" → 0) with strtoll saturating at the int64 bounds;
    * doubles truncate toward zero into integers; numbers render into
    * string series as "%PRId64" / "%f". Returns the coerced fields by
    * name. */
  private def coerce(p: String => Column, etp: Column): Map[String, Column] = {
    val (v, vInt, vStr, tp) = (p("val"), p("val_int"), p("val_str"), p("tp"))
    val intPrefix = regexp_extract(vStr, "^\\s*([+-]?[0-9]+)", 1)
    val fltPrefix = regexp_extract(vStr,
      "^\\s*([+-]?(?:[0-9]+\\.?[0-9]*(?:[eE][+-]?[0-9]+)?|\\.[0-9]+(?:[eE][+-]?[0-9]+)?|[iI][nN][fF](?:inity)?|[nN][aA][nN]))", 1)
    val cInt = when(etp === "integer",
      when(tp === "integer", vInt)
        .when(tp === "float",
          when(isnan(v), lit(0L))
            .otherwise(coalesce(v.try_cast(LongType),
              when(v > 0, lit(Long.MaxValue)).otherwise(lit(Long.MinValue)))))
        .otherwise(coalesce(intPrefix.try_cast(LongType),
          when(length(intPrefix) === 0, lit(0L))
            .when(intPrefix.startsWith("-"), lit(Long.MinValue))
            .otherwise(lit(Long.MaxValue)))))
      .otherwise(lit(0L))
    val cNum = when(etp === "float",
      when(tp === "float", v)
        .when(tp === "integer", vInt.cast("double"))
        // try_cast only parses 'Infinity'/'NaN' exactly; C strtod
        // accepts inf/INF/infinity/nan in any case — map the captured
        // forms explicitly before falling back (the capture's numeric
        // alternative can never contain the letter sequences, so the
        // rlike guards are exact)
        .otherwise(
          when(fltPrefix.rlike("(?i)inf"),
            when(fltPrefix.startsWith("-"), lit(Double.NegativeInfinity))
              .otherwise(lit(Double.PositiveInfinity)))
            .when(fltPrefix.rlike("(?i)nan"), lit(Double.NaN))
            .otherwise(coalesce(fltPrefix.try_cast(DoubleType), lit(0.0)))))
      .when(etp === "integer", cInt.cast("double"))
      .otherwise(lit(0.0))
    val cStr = when(etp === "string",
      when(tp === "string", vStr)
        .when(tp === "integer", vInt.cast("string"))
        .otherwise(format_string("%f", v)))
      .otherwise(lit(""))
    Map("val" -> cNum, "val_int" -> cInt, "val_str" -> cStr, "tp" -> etp)
  }

  /** Canonical string form of a typed value (fields read through `p`),
    * carried in the catalog so bare first()/last() never read point
    * data (aggregate.c:495-510); long/double round-trip exactly. */
  private def valueString(tp: Column, p: String => Column = col): Column =
    when(tp === "integer", p("val_int").cast("string"))
      .when(tp === "string", p("val_str"))
      .otherwise(p("val").cast("string"))

  /** True when the path holds actual data (shard dirs or parquet
    * parts) — an existing dir with only _SUCCESS markers left after
    * `drop shards` counts as empty. */
  private def existsNonEmpty(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val name = st.getPath.getName
      // an sgroup= dir counts only if it still holds a shard dir —
      // `drop shards` deletes the shard=N dirs but leaves the sgroup
      // parents, and schema inference over that empty tree throws
      (name.startsWith("sgroup=") && fs.listStatus(st.getPath)
        .exists(_.getPath.getName.startsWith("shard="))) ||
        name.startsWith("shard=") || name.endsWith(".parquet")
    }
  }

  /** All shard directories of a store as (sgroup, sid, path). */
  private[graft] def shardDirs(spark: SparkSession, storeDir: String)
      : Seq[(String, Long, Path)] = {
    val dir = new Path(pointsPath(storeDir))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.startsWith("sgroup="))
      .flatMap { g =>
        val sgroup = g.getPath.getName.stripPrefix("sgroup=")
        fs.listStatus(g.getPath)
          .filter(_.getPath.getName.startsWith("shard="))
          .map(st => (sgroup,
            st.getPath.getName.stripPrefix("shard=").toLong, st.getPath))
      }
  }

  /** The queryable store: all ingested points (buffer ∪ shards). A
    * fresh or fully-dropped store is an empty frame, not an error.
    * `val` is the numeric view (double); `val_int` carries the exact
    * int64 for integer series. */
  def points(spark: SparkSession, storeDir: String): DataFrame =
    if (!existsNonEmpty(spark, pointsPath(storeDir)))
      spark.sql(
        "SELECT '' AS series, 0L AS ts, 0D AS val, 0L AS val_int, '' AS val_str, 0L AS pid")
        .limit(0)
    else spark.read.parquet(pointsPath(storeDir))
      .select(col("series"), col("ts"), col("val"), col("val_int"),
        col("val_str"), col("pid"))

  /** Time-range read with shard pruning: the ts predicate is pushed
    * into the parquet row groups AND translated to a predicate on the
    * `shard` partition column, so out-of-range shard directories are
    * never listed — the analog of the reference's shard index pruning
    * (src/siri/db/series.c:927-938). */
  def pointsRange(spark: SparkSession, storeDir: String,
      after: Option[Long], before: Option[Long],
      shardDuration: Long = 86400L, durationLog: Long = 86400L): DataFrame =
    pointsRangeOver(spark, storeDir,
      rangedBase(spark, storeDir), after, before, shardDuration, durationLog)

  /** The raw parquet relation (partition columns kept) a ranged read
    * filters, or None for an empty store. Callers that serve many
    * queries should build this once per store generation and pass it
    * to [[pointsRangeOver]]: `spark.read.parquet` lists the shard
    * directories and reads footers eagerly, so re-resolving it on
    * every query turns file listing into a per-query cost
    * (ApiCore's store view resolves it once per generation and reads
    * its ranged and unranged frames through it). */
  def rangedBase(spark: SparkSession, storeDir: String): Option[DataFrame] =
    if (!existsNonEmpty(spark, pointsPath(storeDir))) None
    else Some(spark.read.parquet(pointsPath(storeDir)))

  def pointsRangeOver(spark: SparkSession, storeDir: String,
      base: Option[DataFrame], after: Option[Long], before: Option[Long],
      shardDuration: Long, durationLog: Long): DataFrame = {
    if (base.isEmpty)
      return points(spark, storeDir) // empty frame with the right schema
    val df = base.get
    // the shard bound is per group (num and log shard at different
    // durations); both disjuncts touch only partition columns, so the
    // OR still prunes directories
    def shardBound(cmp: (org.apache.spark.sql.Column, Long) => org.apache.spark.sql.Column, v: Long) =
      (col("sgroup") === "log" && cmp(col("shard"), v / durationLog)) ||
        (col("sgroup") =!= "log" && cmp(col("shard"), v / shardDuration))
    val filters = Seq(
      after.map(a => col("ts") >= a && shardBound(_ >= _, a)),
      before.map(b => col("ts") < b && shardBound(_ <= _, b))).flatten
    filters.foldLeft(df)(_ where _)
      .select(col("series"), col("ts"), col("val"), col("val_int"),
        col("val_str"), col("pid"))
  }

  /** The store's one shard-rewrite pass — the analog of the reference's
    * background optimize (src/siri/optimize.c), which rewrites the
    * shards that need it and drops purged series' blocks in the same
    * pass. A shard is rewritten when it has accumulated more than
    * `maxFiles` fragments (every append leaves one file per touched
    * shard) or holds a `dropped` series: into one file sorted by
    * (series, ts, pid), the read-side order, without the dropped
    * series' rows; a shard left empty is deleted. A dropped series
    * leaves the store entirely, so its catalog and standing-rollup
    * rows go too (an anti-join each — no pass over the points).
    *
    * `dropped` is a single-column `series` frame: the tombstones of
    * `drop series`, resurrected names, or the series a pool expansion
    * moved away (the moved series were appended to their new pool
    * first, so a crash mid-pass leaves duplicates to re-remove, never
    * lost points). A caller that only removes names passes
    * `maxFiles = Int.MaxValue`, so no unrelated shard is rewritten.
    * Returns the number of shards rewritten or deleted. */
  def compact(spark: SparkSession, storeDir: String, maxFiles: Int = 4,
      dropped: Option[DataFrame] = None): Int =
    withStoreLock(storeDir) {
      compactLocked(spark, storeDir, maxFiles, dropped)
    }

  private def compactLocked(spark: SparkSession, storeDir: String,
      maxFiles: Int, dropped: Option[DataFrame]): Int = {
    val fs = new Path(pointsPath(storeDir))
      .getFileSystem(spark.sessionState.newHadoopConf())
    // materialize the names BEFORE mutating: `dropped` is typically a
    // plan over THIS store's catalog (movedOf), whose file listing
    // froze at DataFrame creation — re-executing it after the catalog
    // swap below would FILE_NOT_EXIST. Catalog-sized at most.
    val names = dropped.map(_.select(col("series")).localCheckpoint(eager = true))
    // one job over the points relation finds the shards holding a
    // dropped name: (sgroup, shard) -> whether every row is dropped
    val hit: Map[(String, Long), Boolean] = names match {
      case Some(n) if existsNonEmpty(spark, pointsPath(storeDir)) =>
        spark.read.parquet(pointsPath(storeDir))
          .join(broadcast(n.withColumn("hit", lit(1))), Seq("series"), "left")
          .groupBy(col("sgroup"), col("shard").cast("long"))
          .agg(count(col("hit")).as("hits"), count(lit(1)).as("rows"))
          .where(col("hits") > 0)
          .collect()
          .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2) == r.getLong(3)))
          .toMap
      case _ => Map.empty
    }
    val rewritten = shardDirs(spark, storeDir).filter { case (g, sid, p) =>
      hit.contains((g, sid)) ||
        fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")) > maxFiles
    }
    rewritten.foreach { case (g, sid, p) =>
      hit.get((g, sid)) match {
        case Some(true) => fs.delete(p, true)
        case touched =>
          val raw = spark.read.parquet(p.toString)
          val kept =
            if (touched.isEmpty) raw
            else raw.join(broadcast(names.get), Seq("series"), "left_anti")
          swap(spark, p, kept.sort(col("series"), col("ts"), col("pid")),
            ".compact")
      }
    }
    names.foreach { n =>
      swap(spark, new Path(catalogPath(storeDir)),
        catalog(spark, storeDir).join(broadcast(n), Seq("series"), "left_anti"))
      // a moved series' new pool picked its rollup rows up on append
      // (rollupAppend), so keeping them here would double-count in a
      // cluster-merged rollup view
      rollupDirs(spark, storeDir).foreach { case (_, p) =>
        rewriteRollup(spark, p, spark.read.parquet(p.toString)
          .join(broadcast(n), Seq("series"), "left_anti"))
      }
    }
    rewritten.length
  }

  /** Count of expiry passes (each is an O(#shards) directory walk) —
    * lets specs pin that the insert path's retention gate holds. */
  val expireRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Shard expiration (TTL) — the retention job behind
    * `alter database set expiration_num <t>`
    * (src/siri/db/db.c:865-878, itest/test_expiration.py): deletes
    * whole shard directories whose time range ended before
    * `now - expiration`, then rebuilds the catalog from the surviving
    * shards (the reference likewise re-indexes after expiry). `group`
    * is the shard group the expiration applies to: expiration_num
    * expires numeric ("num") shards, expiration_log "log" shards
    * (db.c). Returns the number of dropped shards. */
  def expire(spark: SparkSession, storeDir: String, expiration: Long,
      now: Long, shardDuration: Long = 86400L, durationLog: Long = 86400L,
      group: String = "num"): Int = {
    expireRuns.incrementAndGet()
    // expiry deletes shard dirs and rebuilds the catalog — same
    // read-modify-write as appendBatch, same per-store serialization
    withStoreLock(storeDir) {
      expireLocked(spark, storeDir, expiration, now, shardDuration,
        durationLog, group)
    }
  }

  private def expireLocked(spark: SparkSession, storeDir: String,
      expiration: Long, now: Long, shardDuration: Long,
      durationLog: Long, group: String): Int = {
    val duration = if (group == "log") durationLog else shardDuration
    val cutoffShard = (now - expiration) / duration
    val fs = new Path(pointsPath(storeDir))
      .getFileSystem(spark.sessionState.newHadoopConf())
    val old = shardDirs(spark, storeDir)
      .filter { case (g, sid, _) => g == group && sid < cutoffShard }
      .map(_._3)
    old.foreach(p => fs.delete(p, true))
    if (old.nonEmpty) {
      rebuildCatalog(spark, storeDir, keepEmptied = false)
      // a standing rollup keeps serving what the raw store just
      // dropped unless it is pruned to the same cutoff. Only the num
      // group prunes: rollups are only ever SERVED for numeric series
      // (Planner eligibility requires selTypes ⊆ {float,integer}), and
      // numeric raw points live in num shards — a log-group expiry
      // removes only string shards, so pruning here would drop rollup
      // history for numeric series whose raw shards survive.
      if (group != "log")
        rollupExpire(spark, storeDir, cutoffShard * duration)
    }
    old.length
  }

  /** `drop shards` (exit_drop_shards, listener.c:3052-3152): delete the
    * given shard directories, then rebuild the catalog and recompute
    * the standing rollups from the surviving points. A series that
    * loses every point stays listed at length 0 — the reference keeps
    * the series object, only its points are gone. The dropped set is
    * an arbitrary cexpr match (by sid, size, ...), not a time prefix,
    * so unlike [[expire]] the rollups cannot be pruned by a cutoff —
    * serving pre-aggregates of deleted shards would resurrect them. */
  def dropShards(spark: SparkSession, storeDir: String,
      shards: Seq[Path]): Unit = withStoreLock(storeDir) {
    val fs = new Path(pointsPath(storeDir))
      .getFileSystem(spark.sessionState.newHadoopConf())
    shards.foreach(p => fs.delete(p, true))
    if (shards.nonEmpty) {
      rebuildCatalog(spark, storeDir, keepEmptied = true)
      rollupRecompute(spark, storeDir)
    }
  }

  /** Rebuild catalog stats from the surviving points (one pass over the
    * store, off the ingest hot path — run only after whole shards were
    * deleted: [[expire]], [[dropShards]]). A series none of whose
    * points survive leaves the catalog, unless `keepEmptied`: then it
    * stays listed at length 0 with its other fields as they were.
    * Caller must hold the store lock. */
  private def rebuildCatalog(spark: SparkSession, storeDir: String,
      keepEmptied: Boolean): Unit = {
    val old = catalog(spark, storeDir)
    val typed = points(spark, storeDir)
      .join(old.select(col("series"), col("type")), Seq("series"), "left")
      .withColumn("type", coalesce(col("type"), lit("float")))
    val ord = struct(col("ts"), col("pid"))
    val rebuilt = typed.withColumn("vstr", valueString(col("type")))
      .groupBy(col("series"))
      .agg(count(lit(1)).as("length"), min(col("ts")).as("start"),
        max(col("ts")).as("end"), first(col("type")).as("type"),
        min_by(col("vstr"), ord).as("first_val"),
        max_by(col("vstr"), ord).as("last_val"))
      .withColumn("pool", SeriesStore.poolOf("series"))
    val emptied = old.join(rebuilt.select(col("series")), Seq("series"), "left_anti")
      .withColumn("length", lit(0L))
    swap(spark, new Path(catalogPath(storeDir)),
      if (keepEmptied) rebuilt.unionByName(emptied) else rebuilt)
  }

  // ------------------------------------------------------------------
  // Store-owned standing rollups.
  //
  // A rollup dir `<storeDir>/rollup/<R>` (R in raw ts units) is a
  // materialized view of the store: per (series, bucket) count/sum/
  // min/max at right-aligned GROUP_TS labels (Rollup.fromPoints /
  // Rollup.bucketed). The planner serves eligible coarse selects from
  // it INSTEAD of raw points, so it must agree with the raw store
  // after EVERY mutation — the maintenance hooks below keep it exact:
  //   * appendBatch appends per-batch delta rows (the read path
  //     re-aggregates per (series, bucket), so deltas with repeated
  //     keys combine correctly for count/sum/min/max);
  //   * expire prunes buckets whose window overlaps the expired range
  //     and recomputes the one straddling label from survivors;
  //   * dropShards (arbitrary cexpr) recomputes the view outright —
  //     the same full-pass cost class as its catalog rebuild;
  //   * compact drops the rows of the series it removes (tombstones,
  //     resurrected names, series moved by a pool expansion).
  //
  // A dir containing `_spark_metadata` belongs to a live Structured
  // Streaming sink (Rollup.startBucketed): its transaction log owns
  // the file set (a rewrite would corrupt reads through the log) and
  // its watermark DROPS late points the raw store accepts — it can
  // never answer a select exactly, so it is NOT store-owned and the
  // planner must not serve it (ApiCore's store view, `StoreView.rollup`,
  // skips it; a cluster merges its pools' views).
  // ------------------------------------------------------------------

  /** Store-owned rollup dirs as (bucketWidth, path) — streaming-sink
    * dirs (with `_spark_metadata`) excluded, see above. */
  private[graft] def rollupDirs(spark: SparkSession, storeDir: String)
      : Seq[(Long, Path)] = {
    val base = new Path(rollupPath(storeDir))
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption
        .map(_ -> st.getPath))
      .filter { case (_, p) => !fs.exists(new Path(p, "_spark_metadata")) }
      .sortBy(_._1)
  }

  private val RollupCols =
    Seq(col("series"), col("bucket"), col("n"), col("sum"), col("min"),
      col("max"))

  /** Replace one rollup dir's rows (caller holds the store lock). */
  private def rewriteRollup(spark: SparkSession, dir: Path,
      rows: DataFrame): Unit = swap(spark, dir, rows.select(RollupCols: _*))

  /** Append one insert batch's delta rows to every store-owned rollup
    * (caller holds the store lock). `pts` is the coerced batch —
    * (series, ts, val) with val the numeric double view, the same
    * columns a Rollup.fromPoints backfill aggregates. */
  private def rollupAppend(spark: SparkSession, storeDir: String,
      pts: DataFrame): Unit =
    rollupDirs(spark, storeDir).foreach { case (r, p) =>
      Rollup.fromPoints(pts.select(col("series"), col("ts"), col("val")), r)
        .write.mode("append").parquet(p.toString)
    }

  /** Create store-owned rollup dirs at the given widths from the
    * store's current points — the expansion backfill: a fresh target
    * pool must inherit the sources' standing rollups or the merged
    * cluster rollup view (PoolCluster.mergedRollup) stays disabled
    * forever after an expand. Under the store lock so no insert can
    * land between the points snapshot and the dir creation
    * (appendBatch maintains only dirs that already exist). Existing
    * widths are left untouched. */
  def rollupBackfill(spark: SparkSession, storeDir: String,
      widths: Seq[Long]): Unit = withStoreLock(storeDir) {
    val existing = rollupDirs(spark, storeDir).map(_._1).toSet
    val missing = widths.distinct.filterNot(existing)
    if (missing.nonEmpty) {
      val pts = points(spark, storeDir)
        .select(col("series"), col("ts"), col("val"))
      missing.foreach { r =>
        Rollup.fromPoints(pts, r)
          .write.mode("overwrite").parquet(s"${rollupPath(storeDir)}/$r")
      }
    }
  }

  /** Retention pruning (caller holds the store lock): after raw shards
    * wholly before `cutoffTs` were deleted, drop every rollup bucket
    * whose window (B-R, B] overlaps the expired range, then recompute
    * the straddling labels from the surviving points — exactly the
    * ts slice [cutoffTs, cutoffTs+R), one bucket width. Kept buckets
    * (B-R+1 >= cutoffTs) contain only surviving points by
    * construction, so the view stays exact. */
  private def rollupExpire(spark: SparkSession, storeDir: String,
      cutoffTs: Long): Unit = {
    val dirs = rollupDirs(spark, storeDir)
    if (dirs.isEmpty) return
    val survivors = points(spark, storeDir)
    dirs.foreach { case (r, p) =>
      val old = spark.read.parquet(p.toString)
      val keep = old.where(col("bucket") - lit(r - 1L) >= cutoffTs)
      val straddle = Rollup.fromPoints(
        survivors.where(col("ts") >= cutoffTs && col("ts") < cutoffTs + r)
          .select(col("series"), col("ts"), col("val")), r)
        .where(col("bucket") - lit(r - 1L) < cutoffTs)
      rewriteRollup(spark, p, keep.unionByName(straddle))
    }
  }

  /** Full recompute of every store-owned rollup from the surviving
    * points (caller holds the store lock) — the `drop shards` path,
    * where the deleted set is an arbitrary cexpr match, not a time
    * prefix. Same cost class as the catalog rebuild the reference
    * performs after shard drops. */
  private def rollupRecompute(spark: SparkSession,
      storeDir: String): Unit = {
    val dirs = rollupDirs(spark, storeDir)
    if (dirs.isEmpty) return
    val pts = points(spark, storeDir)
      .select(col("series"), col("ts"), col("val"))
    dirs.foreach { case (r, p) =>
      rewriteRollup(spark, p, Rollup.fromPoints(pts, r))
    }
  }

  /** Shards metadata from file statuses alone — `list shards` /
    * `count shards [size]` never touch point data, mirroring the
    * reference which answers these from shard headers
    * (src/siri/db/shard.c siridb_shard_cexpr_cb: size = file length,
    * start/end = bucket bounds, listener.c:2553-2554). The listing is
    * O(#shards) driver work — the same cost the reference pays walking
    * its shard list — and stays trivial even at 100 TB (a shard per
    * day for 30 years is ~11k rows). */
  def shardsMeta(spark: SparkSession, storeDir: String,
      shardDuration: Long = 86400L, durationLog: Long = 86400L): DataFrame = {
    import spark.implicits._
    val fs = new Path(pointsPath(storeDir))
      .getFileSystem(spark.sessionState.newHadoopConf())
    val rows = shardDirs(spark, storeDir).map { case (g, sid, p) =>
      val duration = if (g == "log") durationLog else shardDuration
      val size = fs.listStatus(p)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
      (sid, sid * duration, (sid + 1) * duration, size,
        if (g == "log") "log" else "number")
    }
    rows.toDF("sid", "start", "end", "size", "type")
  }

  /** The incrementally-maintained catalog — answers metadata queries
    * without touching point data. */
  def catalog(spark: SparkSession, storeDir: String): DataFrame =
    if (!existsNonEmpty(spark, catalogPath(storeDir)))
      spark.createDataFrame(java.util.Collections.emptyList[Row](), CatalogSchema)
    else spark.read.schema(CatalogSchema).parquet(catalogPath(storeDir))
}
