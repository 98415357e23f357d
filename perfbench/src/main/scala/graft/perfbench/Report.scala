package graft.perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode

/** A reported number with its unit and the samples it was taken over. */
final case class Metric(name: String, value: Double, unit: String, samples: Int)

object Stats {
  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Samples needed before percentile `p` has 10 samples beyond it. */
  def enoughFor(p: Double): Int = math.ceil(10 / (1 - p / 100.0)).toInt

  private val PctName = """.*_p(\d+)_ms""".r

  /** Whether a metric has enough samples to be reported: a percentile
    * needs 10 samples beyond it. */
  def wellSampled(m: Metric): Boolean = m.name match {
    case PctName(p) => m.samples >= enoughFor(p.toDouble)
    case _ => m.samples > 0
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

/** The result file, the detail file and the stdout table. */
object Report {
  private val mapper = Clients.mapper

  def write(o: Main.Opts, e2e: Seq[Metric], layers: Seq[Metric],
      correct: Boolean, rec: Main.Recorder, setupS: Seq[Double],
      sessionS: Double, readS: Double, insertS: Double, checks: Int): Unit = {
    val shown = if (o.trace) layers else Main.Contract.map(n => e2e.find(_.name == n).get)
    val res = mapper.createObjectNode()
    res.put("correct", correct)
    res.put("attempted", rec.attempted)
    res.put("failed", rec.failed)
    val ms = res.putObject("metrics")
    shown.foreach { m =>
      ms.putObject(m.name).put("value", m.value).put("unit", m.unit)
    }
    Files.write(o.result, mapper.writeValueAsBytes(res))

    val detail = mapper.createObjectNode()
    detail.put("workload", o.workload).put("seed", o.seed)
      .put("seconds", o.seconds).put("trace", o.trace)
    def put(obj: ObjectNode, m: Metric) =
      obj.putObject(m.name).put("value", m.value).put("unit", m.unit)
        .put("samples", m.samples).put("well_sampled", Stats.wellSampled(m))
    val de = detail.putObject("end_to_end"); e2e.foreach(put(de, _))
    val dl = detail.putObject("per_layer"); layers.foreach(put(dl, _))
    val st = detail.putArray("setup_reps_s"); setupS.foreach(st.add(_))
    detail.put("spark_session_s", sessionS).put("query_time_s", readS)
      .put("insert_time_s", insertS).put("post_run_checks", checks)
    val fl = detail.putArray("failures"); rec.failures.foreach(fl.add)
    Seq("select_ms" -> rec.selectMs, "meta_ms" -> rec.metaMs,
      "insert_ms" -> rec.insertMs).foreach { case (k, xs) =>
      val a = detail.putArray(k); xs.foreach(x => a.add(x))
    }
    val dp = o.result.resolveSibling(o.result.getFileName.toString
      .stripSuffix(".json") + "-detail.json")
    Files.write(dp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(detail))

    val out = new StringBuilder
    out ++= s"workload ${o.workload}  seed ${o.seed}  ${o.seconds}s  trace ${if (o.trace) 1 else 0}\n"
    def table(title: String, xs: Seq[Metric]): Unit = {
      out ++= s"  $title\n"
      xs.foreach { m =>
        val note = if (Stats.wellSampled(m)) "" else "  (too few samples; not a valid figure)"
        out ++= f"    ${m.name}%-36s ${m.value}%14.4f ${m.unit}%-10s n=${m.samples}%d$note\n"
      }
    }
    table("end to end", e2e)
    if (layers.nonEmpty) table("per layer", layers)
    out ++= s"  correctness: ${if (correct) "ok" else "FAILED"} " +
      s"(${rec.failed} failed of ${rec.attempted} attempted, $checks post-run checks)\n"
    rec.failures.foreach(f => out ++= s"    ! $f\n")
    print(out.toString)
  }
}
