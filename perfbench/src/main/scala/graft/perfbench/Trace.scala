package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.parser.{Planner, QueryParser}
import graft.server.{DbHandler, PoolCluster, QPack}

/** One traced server request: the handler span and the children the
  * wrapper can time itself. Times are epoch ms (to line up with Spark's
  * listener event times) plus nanosecond durations. */
final case class Span(id: Long, kind: String, text: String, t0Ms: Long,
    t1Ms: Long, handlerNs: Long, parseNs: Long, codecNs: Long,
    replyBytes: Int, requestBytes: Int, rows: Long, cold: Boolean,
    pools: Int, overheadNs: Long)

/** Spark work attributed to one request through the `perfbench.req`
  * local property the wrapper sets on the handler thread. */
final case class JobRec(jobId: Int, req: Long, execId: Long, startMs: Long,
    stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final class StageAcc {
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val recordsRead = new AtomicLong
  val bytesWritten = new AtomicLong
}

/** Job, stage and task accounting per request, plus the SQL executions
  * that are shard compactions (their plan writes a `.compact` dir). */
final class TraceListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stageReq = new ConcurrentHashMap[Int, java.lang.Long]()
  val stages = new ConcurrentHashMap[Int, StageAcc]()
  val compactionExecs = ConcurrentHashMap.newKeySet[java.lang.Long]()
  val events = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val props = Option(e.properties)
    val req = props.flatMap(p => Option(p.getProperty(Tracer.ReqProp)))
      .map(_.toLong).getOrElse(-1L)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, JobRec(e.jobId, req, exec, e.time, e.stageIds))
    e.stageIds.foreach(s => stageReq.put(s, req))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    val acc = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
    acc.tasks.incrementAndGet()
    if (m != null) {
      acc.runMs.addAndGet(m.executorRunTime)
      acc.cpuNs.addAndGet(m.executorCpuTime)
      acc.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      acc.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      acc.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      events.incrementAndGet()
      if (s.physicalPlanDescription.contains(".compact"))
        compactionExecs.add(s.executionId)
    case _ => ()
  }

  def jobsOf(req: Long): Seq[JobRec] =
    jobs.values().asScala.filter(_.req == req).toSeq

  def stagesOf(req: Long): Seq[StageAcc] =
    stageReq.asScala.collect { case (s, r) if r == req => s }.toSeq
      .flatMap(s => Option(stages.get(s)))

  /** Wait until the (asynchronous) listener bus has delivered every job
    * end and gone quiet. */
  def drain(maxMs: Long = 15000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
        (events.get() != last || jobs.values().asScala.exists(_.endMs < 0))) {
      last = events.get()
      Thread.sleep(300)
    }
  }
}

/** Spans recorded around the handler entry points. */
final class Tracer {
  private val ids = new AtomicLong
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def nextId(): Long = ids.incrementAndGet()
}

object Tracer {
  val ReqProp = "perfbench.req"
}

/** Wraps a database handler (a standalone `ApiCore` or a `PoolCluster`)
  * and records one span per request around `DbHandler.runQuery` /
  * `runInsert`. Inside the span the wrapper times what it can reach
  * from outside the handler: `QueryParser.parse` (called once more on
  * the same text), the reply encoding (`QPack.encode` for CPROTO,
  * Jackson for HTTP, applied once more to the same reply), and whether
  * a query is cold: it starts before any query has completed at the
  * current store generation. Spark jobs started on the
  * handler thread carry the request id, so the listener splits them
  * into plan-time eager jobs and the final action. */
final class TracingHandler(inner: DbHandler, sc: SparkContext,
    tracer: Tracer, insertCodec: String) extends DbHandler {
  private val mapper = new ObjectMapper()
  // the newest store generation a query has completed at: the
  // per-generation caches have been built for it
  private val builtGen = new AtomicLong(-1L)

  def dbName: String = inner.dbName
  def meta: graft.meta.MetaStore = inner.meta
  def factor: Long = inner.factor
  def authenticate(user: String, password: String): Boolean =
    inner.authenticate(user, password)

  private def encode(node: JsonNode, codec: String): Array[Byte] =
    if (codec == "qpack") QPack.encode(node) else mapper.writeValueAsBytes(node)

  private def traced(kind: String, text: String, request: Option[JsonNode],
      codec: String, pools: Int)(run: => JsonNode): JsonNode = {
    val id = tracer.nextId()
    val w0 = System.nanoTime()
    val parseNs = if (kind != "query") 0L else {
      val p0 = System.nanoTime()
      try QueryParser.parse(text, now = Planner.nowRaw(factor), factor = factor,
        tz = meta.config.getOrElse("timezone", "NAIVE"))
      catch { case _: Exception => () }
      System.nanoTime() - p0
    }
    val gen = meta.storeGeneration.get()
    // cold: no query has completed at this generation yet, so this one
    // pays the cache rebuilds (concurrent first queries all do)
    val cold = kind == "query" && builtGen.get() != gen
    val reqBytes = request.map(r => encode(r, codec).length).getOrElse(0)
    val prevProp = sc.getLocalProperty(Tracer.ReqProp)
    sc.setLocalProperty(Tracer.ReqProp, id.toString)
    val t0Ms = System.currentTimeMillis()
    val h0 = System.nanoTime()
    val pre = h0 - w0 - parseNs
    // a failed request still gets its span (with no reply)
    val out =
      try scala.util.Try(run)
      finally sc.setLocalProperty(Tracer.ReqProp, prevProp)
    val h1 = System.nanoTime()
    val t1Ms = System.currentTimeMillis()
    if (kind == "query" && out.isSuccess) builtGen.accumulateAndGet(gen, math.max(_, _))
    val c0 = System.nanoTime()
    val reply = out.toOption
    val bytes = reply.map(encode(_, if (kind == "query") "qpack" else codec).length).getOrElse(0)
    val codecNs = System.nanoTime() - c0
    val r0 = System.nanoTime()
    val rows = reply.filter(_ => kind == "query").map { r =>
      Option(r.get("rows")).map(_.size().toLong)
        .getOrElse(r.properties().asScala.map(_.getValue.size().toLong).sum)
    }.getOrElse(0L)
    val post = System.nanoTime() - r0
    tracer.spans.add(Span(id, kind, text, t0Ms, t1Ms, h1 - h0, parseNs, codecNs,
      bytes, reqBytes, rows, cold, pools, parseNs + codecNs + pre + post))
    out.get
  }

  def runQuery(q: String, tsFactor: Double, user: String): JsonNode =
    traced("query", q, None, "qpack", 0)(inner.runQuery(q, tsFactor, user))

  def runInsert(req: JsonNode, user: String): JsonNode = {
    val pools = inner match {
      case c: PoolCluster =>
        req.properties().asScala.map(e => c.poolOf(e.getKey)).toSet.size
      case _ => 1
    }
    traced("insert", "insert", Some(req), insertCodec, pools)(
      inner.runInsert(req, user))
  }
}
