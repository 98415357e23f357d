package graft.perfbench

import scala.util.Random

import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.SeriesStore

/** Inputs: the base store, the query mix and the insert batches.
  * The requests are derived from the `--seed` argument and absolute
  * timestamps, so the same seed gives byte-identical requests and
  * replies (no `now`-relative query anywhere).
  *
  * The base data is the sf0.1 `events` table (a copy is kept in
  * `perfbench/data/sf0.1`) as `SeriesStore` maps it: 100k events over
  * 30 days at second precision, 5 event types x (user_id % 8) = 40
  * series per family, and three families (f. float, i. integer =
  * round(value*100), s. string props), so 120 series and 300k points
  * in 30 one-day shards per group. */
object Data {
  val T0: Long = 1704067200L // 2024-01-01T00:00:00Z
  val Day: Long = 86400L
  val Days: Int = 30
  val Events: Int = 100000
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  val Families: Seq[String] = Seq("f", "i", "s")
  val BaseEnd: Long = T0 + Days * Day

  def seriesName(fam: String, et: String, k: Int) = s"$fam.$et.$k"

  val baseSeries: Seq[String] =
    for (f <- Families; et <- EventTypes; k <- 0 until 8) yield seriesName(f, et, k)

  /** Value of one point as the wire carries it. */
  sealed trait V
  final case class VF(v: Double) extends V
  final case class VI(v: Long) extends V
  final case class VS(v: String) extends V

  /** One inserted point: `ord` is its insertion order, after every base
    * event id (the tie-break the server uses for equal timestamps). */
  final case class Pt(series: String, ts: Long, v: V, ord: Long)

  def typeOf(series: String): String = series.take(2) match {
    case "f." => "float"
    case "i." => "integer"
    case _ => "string"
  }

  /** The 300k base points in `Ingest.PointIn` shape:
    * `SeriesStore.pointsF/I/S` over the `events` table in `dir`, with
    * the event id as `pid`. */
  def baseFrame(spark: SparkSession, dir: String): DataFrame = {
    def shaped(df: DataFrame, tp: String, num: Column, int: Column, str: Column) =
      df.select(col("series"), col("ts"), num.as("val_num"), lit(tp).as("tp"),
        col("pid"), int.as("val_int"), str.as("val_str"))
    shaped(SeriesStore.pointsF(spark, dir), "float", col("val"), lit(0L), lit(""))
      .unionByName(shaped(SeriesStore.pointsI(spark, dir), "integer",
        col("val").cast("double"), col("val"), lit("")))
      .unionByName(shaped(SeriesStore.pointsS(spark, dir), "string",
        lit(0.0), lit(0L), col("val")))
  }

  /** Fails unless `base` holds the data the query mix and the insert
    * timestamps rely on: [[Events]] events over [[Days]] days from
    * [[T0]], as the [[baseSeries]]. */
  def checkBase(base: DataFrame): Unit = {
    val r = base.agg(count(lit(1)), min("ts"), max("ts"), collect_set("series")).head()
    require(r.getLong(0) == 3L * Events && r.getLong(1) >= T0 && r.getLong(2) < BaseEnd &&
      r.getSeq[String](3).toSet == baseSeries.toSet,
      s"the base data is not the sf0.1 events table ($Events events over $Days days " +
        s"from $T0 as ${baseSeries.size} series)")
  }

  // ---- query mix ----

  /** A query and its class: agg, diff, merge, raw (the selects) or meta. */
  final case class Query(q: String, cls: String) {
    def isSelect: Boolean = cls != "meta"
  }

  private def pick[A](rnd: Random, xs: Seq[A]): A = xs(rnd.nextInt(xs.size))

  /** The pool of distinct queries a run cycles through. Every seed gets
    * the same shapes, windows, buckets and functions; the seed picks the
    * families, series and time offsets. So the cost of the mix hardly
    * moves with the seed, and query shapes repeat on purpose.
    *  - 4 aggregated range selects over a regex-matched family:
    *    mean(1h) over 3 days, max(6h) over 7, sum(6h) over 14 and
    *    median(1d) over 28;
    *  - 2 difference chains on one series: min(1h) over 7 days and
    *    count(6h) over 21;
    *  - 2 merges over a regex family: sum(1h) over 3 days and mean(1d)
    *    over 14;
    *  - 4 raw selects of one series over 1, 2, 2 and 3 days;
    *  - 12 `list series` / `count series` metadata queries, 2 of each
    *    of 6 templates. */
  def queryPool(seed: Long): Vector[Query] = {
    val rnd = new Random(seed * 104729L + 3L)
    def window(days: Int): String = {
      val start = T0 + rnd.nextInt(Days - days + 1).toLong * Day
      s"between $start and ${start + days * Day}"
    }
    def numFam = pick(rnd, Seq("f", "i"))
    def et = pick(rnd, EventTypes)
    def one(fam: String) = seriesName(fam, et, rnd.nextInt(8))
    def famRe(fam: String) = s"/$fam\\.$et\\..*/"
    def sel(cls: String)(q: String) = Query(q, cls)
    val selects =
      Seq(("mean(1h)", 3), ("max(6h)", 7), ("sum(6h)", 14), ("median(1d)", 28)).map {
        case (agg, d) => sel("agg")(s"select $agg from ${famRe(numFam)} ${window(d)}") } ++
      Seq(("min(1h)", 7), ("count(6h)", 21)).map { case (agg, d) =>
        sel("diff")(s"select $agg => difference() from '${one(numFam)}' ${window(d)}") } ++
      Seq(("sum(1h)", 3), ("mean(1d)", 14)).map { case (agg, d) =>
        sel("merge")(s"select * from ${famRe("f")} ${window(d)} merge as 'm' using $agg") } ++
      Seq(1, 2, 2, 3).zip(Seq("f", "i", "s", "f")).map { case (d, f) =>
        sel("raw")(s"select * from '${one(f)}' ${window(d)}") }
    val metas = (1 to 2).flatMap(_ => Seq(
      s"list series name, length ${famRe(pick(rnd, Families))}",
      s"list series name, length ${famRe(pick(rnd, Families))}",
      s"count series where length > ${1000 + rnd.nextInt(1500)}",
      s"count series /${pick(rnd, Families)}\\..*/",
      s"list series name, type where type == ${pick(rnd, Seq("integer", "float", "string"))}",
      s"count series length ${famRe(pick(rnd, Families))}"))
    (selects ++ metas.map(Query(_, "meta"))).toVector
  }

  /** Select classes in the order every pass visits them: any stretch of
    * a pass holds a balanced share of each. */
  private val ClassPattern =
    Seq("agg", "raw", "diff", "agg", "raw", "merge", "agg", "raw", "diff", "agg", "raw", "merge")

  /** A client's request order: endless passes over the pool. A pass
    * alternates a select and a metadata query; the selects follow
    * [[ClassPattern]], each class in pool order, so every seed sends the
    * same shapes in the same order (a short run sees part of a pass, and
    * the shapes differ in cost). Client 2 starts half a pass later than
    * client 1. */
  def queryOrder(pool: Vector[Query], client: Int): Iterator[Query] = {
    val (selects, metas) = pool.partition(_.isSelect)
    val byClass = selects.groupBy(_.cls)
    val passes = Iterator.continually {
      val queues = byClass.map { case (c, qs) => c -> qs.iterator }
      ClassPattern.map(queues(_).next()).zip(metas)
        .flatMap { case (s, m) => Seq(s, m) }
    }.flatten
    passes.drop((client - 1) * pool.size / 2)
  }

  // ---- inserts ----

  /** Generator of insert batches with a fixed make-up: `seriesPerBatch`
    * series split evenly over the three families (so all three value
    * types), in each family one name from a bounded pool of 4 new
    * names (in turn) and the rest existing series, `batchPoints` points
    * spread evenly over them. Timestamps move forward past the base
    * data, 2 s apart with a seeded jitter; about one series in five
    * arrives shuffled (out of order, as FIXTURES F3 sends it). Every
    * generated point has a distinct (series, ts). */
  final class Inserts(seed: Long, stream: Int, val batchPoints: Int,
      seriesPerBatch: Int) {
    private val rnd = new Random(seed * 6151L + stream * 31L + 5L)
    private val perFamily = Families.indices.map(i =>
      seriesPerBatch / Families.size + (if (i < seriesPerBatch % Families.size) 1 else 0))
    private var batches = 0
    // each stream writes its own time range, so streams never collide
    private var cursor = BaseEnd + Day + stream.toLong * 100L * Day

    /** The next batch as (series -> points), points as (ts, value). */
    def next(): Seq[(String, Seq[(Long, V)])] = {
      val names = Families.zip(perFamily).flatMap { case (f, n) =>
        s"$f.new$stream.${batches % 4}" +:
          rnd.shuffle(baseSeries.filter(_.startsWith(s"$f."))).take(n - 1)
      }
      batches += 1
      val per = batchPoints / seriesPerBatch
      val start = cursor
      cursor += per.toLong * 2
      names.map { n =>
        val ts = (0 until per).map(j => start + j * 2L + rnd.nextInt(2))
        val ordered = if (rnd.nextInt(5) == 0) rnd.shuffle(ts) else ts
        n -> ordered.map { t =>
          val v: V = typeOf(n) match {
            case "float" => VF(rnd.nextInt(56022) / 100.0 + 0.5)
            case "integer" => VI(rnd.nextInt(56022).toLong)
            case _ => VS(s"""{"k": ${rnd.nextInt(100)}}""")
          }
          (t, v)
        }
      }
    }
  }

  /** Map-form insert body {"name": [[ts, v], ...], ...}. */
  def insertBody(batch: Seq[(String, Seq[(Long, V)])]): ObjectNode = {
    val f = JsonNodeFactory.instance
    val o = f.objectNode()
    batch.foreach { case (n, pts) =>
      val arr = o.putArray(n)
      pts.foreach { case (t, v) =>
        val p = arr.addArray()
        p.add(t)
        v match {
          case VF(x) => p.add(x)
          case VI(x) => p.add(x)
          case VS(x) => p.add(x)
        }
      }
    }
    o
  }
}
