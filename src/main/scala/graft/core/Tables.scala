package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All sessions must set `spark.sql.legacy.parquet.nanosAsLong=true`:
  * `events.ts` is parquet TIMESTAMP(NANOS) which Spark 4 otherwise
  * refuses; reading it as a raw epoch-ns LONG also matches the
  * reference's integer-timestamp data model (SiriDB stores ts as
  * uint64 in s|ms|us|ns precision — include/siri/db/time.h:8-16).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Resolved-relation cache: `spark.read.parquet` runs a footer/
    * listing job per call, so a fresh EngineEnv per request would pay
    * that job on EVERY query. Caching is restricted to the known
    * immutable driver tables (`names`) — those never rewrite within a
    * process lifetime, so sharing the resolved DataFrame (logical plan
    * + file index) is safe. Any other path reads fresh every call: a
    * rewritten parquet dir must not serve a stale file index, and the
    * map must not grow unboundedly with ad-hoc paths. Mutable Ingest
    * stores do not read through here at all. */
  private val relations = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (names.contains(name))
      relations.getOrElseUpdate((spark, s"$dir/$name.parquet"),
        spark.read.parquet(s"$dir/$name.parquet"))
    else spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** `events` with `ts` normalized to epoch-NANOSECOND LONG whatever
    * the parquet physical type is. Two generations of driver testdata
    * exist: TIMESTAMP(NANOS) (readable only as a raw long via
    * `nanosAsLong`, already epoch-ns) and TIMESTAMP(MICROS)
    * (read as Timestamp[NTZ]). Both converge here to the integer
    * epoch-ns model the engine uses throughout (SiriDB stores ts as
    * uint64 in s|ms|us|ns precision — include/siri/db/time.h:8-16).
    * The NTZ→LTZ cast is exact because every session pins UTC
    * (`sessionBuilder` sets spark.sql.session.timeZone=UTC). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts")
              .cast(org.apache.spark.sql.types.TimestampType)) *
            org.apache.spark.sql.functions.lit(1000L))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Session defaults shared by Verify / Bench / tests. Tuned for
    * local[N] but scale-safe: AQE handles skew + partition coalescing
    * on a real cluster; shuffle.partitions is overridden per-env.
    * The custom optimizer rule derives parquet-pushable raw-column
    * bounds from `ts div F` range predicates (row-group pruning on the
    * dominant access pattern — see graft.plans.DivComparisonPushdown).
    */
  def sessionBuilder(master: String, cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions { ext =>
        ext.injectOptimizerRule(_ => new graft.plans.DivComparisonPushdown)
        // native codegen'd dot product for the similarity scorers
        // (graft.functions.DotProduct — beats a Scala UDF by staying
        // inside whole-stage codegen, no per-row boxing)
        ext.injectFunction((
          new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot"),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            classOf[graft.functions.DotProduct].getName, "graft_dot"),
          (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
            graft.functions.DotProduct(children(0), children(1))))
        // native codegen'd squared-L2 — the PQ assigner's inner loop
        // (graft.functions.SquaredDistance; same HOF-fold equivalence
        // contract as graft_dot)
        ext.injectFunction((
          new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dist2"),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            classOf[graft.functions.SquaredDistance].getName, "graft_dist2"),
          (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
            graft.functions.SquaredDistance(children(0), children(1))))
        // native unary squared norm — the self-dot of every withNorm
        // pass (one child evaluation; graft_dot(v, v) would inline
        // the producing transform twice under CollapseProject)
        ext.injectFunction((
          new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_norm2"),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            classOf[graft.functions.SquaredNorm].getName, "graft_norm2"),
          (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
            graft.functions.SquaredNorm(children(0))))
        ext.injectFunction((
          new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_lsh_sigs"),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            classOf[graft.functions.LshSignatures].getName, "graft_lsh_sigs"),
          (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
            graft.functions.LshSignatures(children(0), children(1),
              children(2), children(3))))
        ext.injectFunction((
          new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_shingles"),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            classOf[graft.functions.Shingles].getName, "graft_shingles"),
          (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
            graft.functions.Shingles(children(0), children(1))))
      }
      // answer count/min/max over parquet from footer metadata. Spark
      // pushes aggregates into DataSource V2 parquet scans only, and
      // this session reads parquet through V1 (parquet is in the
      // default spark.sql.sources.useV1SourceList), so no read here —
      // Adaptive.modulus's eager count probes included — is answered
      // from footers. A V2 scan would fail a min/max over a double
      // chunk holding NaN, whose footer has no min/max; PlanSpec pins
      // both the answer and the reach
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
