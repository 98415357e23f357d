package graft.perfbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness checks over the server's replies. */
object Check {

  /** Deep equality of two replies; doubles agree to 1e-9 relative (a
    * Spark sum may merge its partial sums in another order). */
  def same(a: JsonNode, b: JsonNode): Boolean =
    if (a == null || b == null) a == b
    else if (a.isArray) a.isArray && a.size() == b.size() &&
      (0 until a.size()).forall(i => same(a.get(i), b.get(i)))
    else if (a.isObject) b.isObject && a.size() == b.size() &&
      a.properties().asScala.forall(e => same(e.getValue, b.get(e.getKey)))
    else if (a.isIntegralNumber && b.isIntegralNumber) a.asLong() == b.asLong()
    else if (a.isFloatingPointNumber || b.isFloatingPointNumber)
      a.isNumber && b.isNumber && {
        val (x, y) = (a.asDouble(), b.asDouble())
        x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
      }
    else a == b

  private def scalar(r: Reply): Option[Long] =
    Option(r.body).map(_.path("rows").path(0).path(0))
      .filter(_.isIntegralNumber).map(_.asLong())

  /** After the run: series and point counts must equal the base data
    * plus the acknowledged inserts, and a seeded sample of selects must
    * match a DataFrame computation over the same known points (`base`,
    * in `Ingest.PointIn` shape, and `inserted`). Each failed check is
    * recorded in `rec`. Returns the number of checks. */
  def afterRun(spark: SparkSession, c: CprotoClient, base: DataFrame,
      inserted: Vector[Data.Pt], seed: Long, rec: Main.Recorder): Int = {
    import spark.implicits._
    var n = 0
    def expectEq(what: String, got: Option[Long], want: Long): Unit = {
      n += 1
      rec.synchronized(rec.attempted += 1)
      if (!got.contains(want)) rec.fail(s"$what: expected $want, got ${got.getOrElse("no value")}")
    }
    val names = Data.baseSeries.toSet ++ inserted.iterator.map(_.series)
    expectEq("count series", scalar(c.query("count series")), names.size.toLong)
    expectEq("count series length", scalar(c.query("count series length")),
      3L * Data.Events + inserted.size)

    val maxTs = ((Data.BaseEnd - 1) +: inserted.map(_.ts)).max
    val rnd = new Random(seed * 977L + 1L)
    val sorted = names.toVector.sorted
    def pickOf(prefix: String) = {
      val xs = sorted.filter(_.startsWith(prefix))
      xs(rnd.nextInt(xs.size))
    }
    // (series, query, expected result over the series' known points)
    type Expect = DataFrame => DataFrame
    def bucketed(a: Long, b: Long, gb: Long, agg: String, vcol: String): Expect =
      _.where($"ts" >= a && $"ts" < b)
        .groupBy(expr(s"((ts + ${gb - 1}) div $gb) * $gb").as("t"))
        .agg(expr(s"$agg($vcol)").as("v")).orderBy("t")
    def raw(a: Long, b: Long, vcol: String): Expect =
      _.where($"ts" >= a && $"ts" < b).orderBy("ts", "ord")
        .select($"ts".as("t"), col(vcol).as("v"))
    val lastDay = Data.BaseEnd - Data.Day
    val samples: Seq[(String, String, Expect)] = Seq.tabulate(2) { i =>
      val a = Data.T0 + rnd.nextInt(Data.Days).toLong * Data.Day
      val b = maxTs + 1
      val (fam, fn, expect) = i match {
        case 0 => rnd.nextInt(3) match {
          case 0 => ("f.", "count(1h)", bucketed(a, b, 3600, "count", "vf"))
          case 1 => ("f.", "max(6h)", bucketed(a, b, 21600, "max", "vf"))
          case _ => ("i.", "sum(1d)", bucketed(a, b, 86400, "sum", "vi"))
        }
        case _ if rnd.nextBoolean() => ("i.", "*", raw(lastDay, b, "vi"))
        case _ => ("s.", "*", raw(lastDay, b, "vs"))
      }
      val s = pickOf(fam)
      val from = if (fn == "*") lastDay else a
      (s, s"select $fn from '$s' between $from and $b", expect)
    }
    val chosen = samples.map(_._1).toSet
    val df: DataFrame = base.where($"series".isin(chosen.toSeq: _*))
      .select($"series", $"ts", $"val_num".as("vf"), $"val_int".as("vi"),
        $"val_str".as("vs"), $"pid".as("ord"))
      .unionByName(inserted.filter(p => chosen.contains(p.series)).map { p =>
        p.v match {
          case Data.VF(v) => (p.series, p.ts, v, 0L, "", p.ord)
          case Data.VI(v) => (p.series, p.ts, 0.0, v, "", p.ord)
          case Data.VS(v) => (p.series, p.ts, 0.0, 0L, v, p.ord)
        }
      }.toDF("series", "ts", "vf", "vi", "vs", "ord")).cache()
    samples.foreach { case (s, q, exp) =>
      n += 1
      rec.synchronized(rec.attempted += 1)
      val r = c.query(q)
      val want = Clients.mapper.createArrayNode()
      exp(df.where($"series" === s)).collect().foreach { row =>
        val p = want.addArray()
        p.add(row.getLong(0))
        row.get(1) match {
          case v: java.lang.Long => p.add(v.longValue())
          case v: java.lang.Double => p.add(v.doubleValue())
          case v: String => p.add(v)
          case v => p.add(v.toString)
        }
      }
      val got = Option(r.body).map(_.get(s)).orNull
      if (!r.ok || !same(got, want))
        rec.fail(s"sampled select '$q' differs from the DataFrame result " +
          s"(${want.size()} expected points, got ${Option(got).map(_.size()).getOrElse(-1)})")
    }
    df.unpersist()
    n
  }
}
