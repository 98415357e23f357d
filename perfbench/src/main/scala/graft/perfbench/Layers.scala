package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Per-layer numbers from the traced run's spans and Spark listener.
  *
  * Layers without a separable entry point are split by difference:
  *  - transport self time = client latency - handler span - reply
  *    encoding - tracer work, per query;
  *  - plan time = handler start to the final action's first job, minus
  *    the parse time (so it holds frame/env set-up and the plan-time
  *    eager jobs, which are also counted on their own);
  *  - execute time = first job to last job end of the final action
  *    (the last SQL execution a request started). */
object Layers {
  private final case class Split(planMs: Double, executeMs: Double,
      eagerJobs: Int, jobs: Int, stages: Int, tasks: Long, runMs: Long,
      cpuNs: Long, shuffleBytes: Long, recordsRead: Long,
      bytesWritten: Long, compaction: Boolean)

  private def split(s: Span, l: TraceListener): Split = {
    val jobs = l.jobsOf(s.id)
    val stages = l.stagesOf(s.id)
    val finalExec = if (jobs.isEmpty) -1L else jobs.map(_.execId).max
    val fin = jobs.filter(_.execId == finalExec)
    val (planMs, execMs) =
      if (fin.isEmpty) ((s.handlerNs - s.parseNs) / 1e6, 0.0)
      else {
        val start = fin.map(_.startMs).min
        val end = fin.map(j => if (j.endMs < 0) s.t1Ms else j.endMs).max
        (math.max(0.0, (start - s.t0Ms) - s.parseNs / 1e6), (end - start).toDouble)
      }
    Split(planMs, execMs, jobs.size - fin.size, jobs.size,
      jobs.map(_.stageIds.size).sum, stages.map(_.tasks.get).sum,
      stages.map(_.runMs.get).sum, stages.map(_.cpuNs.get).sum,
      stages.map(_.shuffleBytes.get).sum, stages.map(_.recordsRead.get).sum,
      stages.map(_.bytesWritten.get).sum,
      jobs.exists(j => l.compactionExecs.contains(j.execId)))
  }

  def compute(spans: Seq[Span], l: TraceListener, rec: Main.Recorder,
      filesPerShard: Double, cluster: Boolean): Seq[Metric] = {
    import Stats.mean
    val queries = spans.filter(_.kind == "query")
    val selects = queries.filter(_.text.startsWith("select"))
    val inserts = spans.filter(_.kind == "insert")
    val qs = queries.map(s => s -> split(s, l))
    val is = inserts.map(s => s -> split(s, l))
    val nq = queries.size
    val ni = inserts.size
    def per(xs: Seq[(Span, Split)])(f: Split => Double) = mean(xs.map(x => f(x._2)))
    val handlerQ = mean(queries.map(_.handlerNs / 1e6))
    val codecQ = mean(queries.map(_.codecNs / 1e6))
    val clientQ = mean(rec.selectMs ++ rec.metaMs)
    val overheadQ = mean(queries.map(_.overheadNs / 1e6))
    val cold = queries.filter(_.cold)
    val warm = queries.filterNot(_.cold)
    val rebuild =
      if (cold.isEmpty || warm.isEmpty) 0.0
      else mean(cold.map(_.handlerNs / 1e6)) - mean(warm.map(_.handlerNs / 1e6))
    val rowsOut = queries.map(_.rows).sum
    val userBytes = inserts.map(_.requestBytes.toLong).sum
    Seq(
      Metric("server.transport_self_ms", clientQ - handlerQ - codecQ - overheadQ, "ms", nq),
      Metric("server.codec_ms", codecQ, "ms", nq),
      Metric("server.response_bytes", mean(selects.map(_.replyBytes.toDouble)), "bytes", selects.size),
      Metric("server.handler_ms", handlerQ, "ms", nq),
      Metric("server.cold_query_share", if (nq == 0) 0.0 else cold.size.toDouble / nq, "share", nq),
      Metric("server.cache_rebuild_ms", rebuild, "ms", cold.size),
      Metric("server.cluster_pools_per_insert",
        if (cluster) mean(inserts.map(_.pools.toDouble)) else 0.0, "count", ni),
      Metric("parser.parse_ms", mean(queries.map(_.parseNs / 1e6)), "ms", nq),
      Metric("parser.plan_ms", per(qs)(_.planMs), "ms", nq),
      Metric("parser.eager_jobs", per(qs)(_.eagerJobs.toDouble), "count", nq),
      Metric("spark.jobs", per(qs)(_.jobs.toDouble), "count", nq),
      Metric("spark.stages", per(qs)(_.stages.toDouble), "count", nq),
      Metric("spark.tasks", per(qs)(_.tasks.toDouble), "count", nq),
      Metric("spark.task_run_ms", per(qs)(_.runMs.toDouble), "ms", nq),
      Metric("spark.task_cpu_ms", per(qs)(_.cpuNs / 1e6), "ms", nq),
      Metric("spark.shuffle_bytes", per(qs)(_.shuffleBytes.toDouble), "bytes", nq),
      Metric("spark.execute_ms", per(qs)(_.executeMs), "ms", nq),
      Metric("spark.rows_read_per_row_returned",
        if (rowsOut == 0) 0.0 else qs.map(_._2.recordsRead).sum.toDouble / rowsOut, "ratio", nq),
      Metric("ingest.handler_ms", mean(inserts.map(_.handlerNs / 1e6)), "ms", ni),
      Metric("ingest.spark_jobs_per_insert", per(is)(_.jobs.toDouble), "count", ni),
      Metric("ingest.files_per_shard", filesPerShard, "count", 1),
      Metric("ingest.bytes_written_per_user_byte",
        if (userBytes == 0) 0.0 else is.map(_._2.bytesWritten).sum.toDouble / userBytes, "ratio", ni),
      Metric("ingest.compaction_passes", is.count(_._2.compaction).toDouble, "count", ni),
      Metric("trace.overhead_ms", mean(spans.map(_.overheadNs / 1e6)), "ms", spans.size))
  }

  /** One JSON line per span, with its Spark split. */
  def writeSpans(p: Path, spans: Seq[Span], l: TraceListener): Unit = {
    val m = Clients.mapper
    val lines = spans.sortBy(_.id).map { s =>
      val x = split(s, l)
      val o = m.createObjectNode()
      o.put("id", s.id).put("kind", s.kind).put("text", s.text)
        .put("t0_ms", s.t0Ms).put("t1_ms", s.t1Ms)
        .put("handler_ms", s.handlerNs / 1e6).put("parse_ms", s.parseNs / 1e6)
        .put("plan_ms", x.planMs).put("execute_ms", x.executeMs)
        .put("codec_ms", s.codecNs / 1e6).put("reply_bytes", s.replyBytes)
        .put("request_bytes", s.requestBytes).put("rows", s.rows)
        .put("cold", s.cold).put("pools", s.pools)
        .put("jobs", x.jobs).put("eager_jobs", x.eagerJobs)
        .put("stages", x.stages).put("tasks", x.tasks)
        .put("task_run_ms", x.runMs).put("task_cpu_ms", x.cpuNs / 1e6)
        .put("shuffle_bytes", x.shuffleBytes).put("records_read", x.recordsRead)
        .put("bytes_written", x.bytesWritten).put("compaction", x.compaction)
        .put("tracer_overhead_ms", s.overheadNs / 1e6)
      m.writeValueAsString(o)
    }
    Files.write(p, lines.asJava)
  }
}
