package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON encoder for the harness's result file (maps, sequences,
  * numbers, strings, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** One clock for the whole run: nanoTime offsets from the harness start,
  * convertible to and from the epoch milliseconds Spark reports. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  def nowMs: Double = (System.nanoTime() - baseNs) / 1e6
  def fromEpochMs(epochMs: Double): Double = epochMs - baseEpochMs
  def toEpochMs(ms: Double): Double = ms + baseEpochMs
}

/** A span: a named interval on [[Clock]], its parent and the op it belongs
  * to. Spans are kept in memory and written out when the run ends. */
final case class Span(op: String, id: Int, parent: Int, name: String,
    start: Double, end: Double) {
  def toMap: Map[String, Any] = Map("op" -> op, "id" -> id, "parent" -> parent,
    "name" -> name, "start" -> start, "end" -> end)
}

/** Records spans around the calls the benchmark makes into each layer.
  * When tracing is off every call is a plain pass-through. */
final class Tracer(val on: Boolean) {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val current = new ThreadLocal[(String, Int)]

  /** Time `body` as span `name`; nested calls on the same thread become
    * its children, all sharing `op`. */
  def span[T](op: String, name: String)(body: => T): T = {
    if (!on) return body
    val id = nextId.getAndIncrement()
    val outer = current.get()
    val parent = if (outer != null && outer._1 == op) outer._2 else 0
    current.set((op, id))
    val start = Clock.nowMs
    try body
    finally {
      spans.add(Span(op, id, parent, name, start, Clock.nowMs))
      current.set(outer)
    }
  }

  /** Add a span measured elsewhere (Spark's own timestamps). */
  def add(op: String, parent: Int, name: String, start: Double, end: Double): Unit =
    if (on) spans.add(Span(op, nextId.getAndIncrement(), parent, name, start, end))

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Spark-job accounting per owner (an op id, or a streaming query batch),
  * from the public [[SparkListener]] events. Only registered when tracing. */
final class ExecListener extends SparkListener {
  final class Job(val owner: String, val phase: String, val start: Double) {
    var end: Double = Double.NaN
    var resultStage: Int = -1
  }
  final class Counters {
    var jobs, stages, tasks, failedTasks = 0L
    var busyMs, cpuMs, gcMs, schedDelayMs = 0.0
    var shuffleReadB, shuffleWriteB, spillB, inputB = 0L
    def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "failed_tasks" -> failedTasks, "task_busy_ms" -> busyMs,
      "cpu_ms" -> cpuMs, "gc_ms" -> gcMs, "sched_delay_ms" -> schedDelayMs,
      "shuffle_read_b" -> shuffleReadB, "shuffle_write_b" -> shuffleWriteB,
      "spill_b" -> spillB, "input_b" -> inputB)
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOwner = new ConcurrentHashMap[Int, String]()
  val stageTimes = new ConcurrentHashMap[Int, (Double, Double)]()
  val counters = new ConcurrentHashMap[String, Counters]()
  @volatile private var marker = -1

  private def ownerOf(props: java.util.Properties): (String, String) = {
    def p(k: String) = Option(props).flatMap(x => Option(x.getProperty(k)))
    p(ExecListener.OpKey) match {
      case Some(op) => (op, p(ExecListener.PhaseKey).getOrElse(""))
      case None => p("sql.streaming.queryId") match {
        case Some(q) => (s"stream:$q:${p("streaming.sql.batchId").getOrElse("?")}", "")
        case None => ("other", "")
      }
    }
  }

  private def ctr(owner: String) = counters.computeIfAbsent(owner, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val (owner, phase) = ownerOf(e.properties)
    if (owner == ExecListener.Marker) { marker = e.jobId; return }
    val j = new Job(owner, phase, Clock.fromEpochMs(e.time.toDouble))
    j.resultStage = if (e.stageIds.isEmpty) -1 else e.stageIds.max
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageOwner.put(s, owner))
    ctr(owner).synchronized { ctr(owner).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.end = Clock.fromEpochMs(e.time.toDouble)
    if (e.jobId == marker) ExecListener.this.synchronized { drained = true; notifyAll() }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    for (a <- s.submissionTime; b <- s.completionTime)
      stageTimes.put(s.stageId, (Clock.fromEpochMs(a.toDouble), Clock.fromEpochMs(b.toDouble)))
    val owner = stageOwner.get(s.stageId)
    if (owner != null) { val c = ctr(owner); c.synchronized { c.stages += 1 } }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val owner = stageOwner.get(e.stageId)
    if (owner == null) return
    val c = ctr(owner)
    val m = e.taskMetrics
    val info = e.taskInfo
    c.synchronized {
      c.tasks += 1
      if (info.failed || info.killed) c.failedTasks += 1
      if (m != null) {
        c.busyMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1e6
        c.gcMs += m.jvmGCTime
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputB += m.inputMetrics.bytesRead
      }
    }
  }

  @volatile private var drained = false

  /** Block until every event posted before this call has been delivered:
    * run a marker job and wait for its end event (the bus is FIFO). */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    drained = false
    val sc = spark.sparkContext
    sc.setLocalProperty(ExecListener.OpKey, ExecListener.Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(ExecListener.OpKey, null)
    val deadline = System.currentTimeMillis() + 30000
    synchronized {
      while (!drained && System.currentTimeMillis() < deadline) wait(100)
    }
  }
}

object ExecListener {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  val Marker = "perfbench.marker"
}

/** Per-micro-batch progress of every streaming query, by query name, from
  * the public [[StreamingQueryListener]]. Registered in every ingest run:
  * send freshness is read from the committed end offsets. */
final class StreamListener extends StreamingQueryListener {
  val batches = new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val name = Option(p.name).getOrElse(p.id.toString)
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val startMs = Clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
    val trigger = dur.getOrElse("triggerExecution", 0L).toDouble
    val ops = p.stateOperators.toSeq
    def custom(k: String) = ops.map(o => Option(o.customMetrics.get(k)).map(_.longValue).getOrElse(0L)).sum
    val ev = p.eventTime.asScala.toMap
    def evMs(k: String): Option[Double] =
      ev.get(k).map(s => java.time.Instant.parse(s).toEpochMilli.toDouble)
    val lag = for (mx <- evMs("max"); wm <- evMs("watermark")) yield mx - wm
    val endOffset = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(o => scala.util.Try(o.trim.toLong).toOption).getOrElse(-1L)
    val rec = Map[String, Any](
      "query_id" -> p.id.toString, "batch_id" -> p.batchId,
      "rows" -> p.numInputRows, "end_offset" -> endOffset,
      "start_ms" -> startMs, "commit_ms" -> (startMs + trigger),
      "duration" -> dur,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_mem_b" -> ops.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
      "state_update_ms" -> ops.map(_.allUpdatesTimeMs).sum,
      "late_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum,
      "dup_dropped" -> custom("numDroppedDuplicateRows"),
      "watermark_lag_ms" -> lag.getOrElse(0.0))
    batches.computeIfAbsent(name, _ => new java.util.concurrent.ConcurrentLinkedQueue()).add(rec)
  }

  def of(name: String): Seq[Map[String, Any]] =
    Option(batches.get(name)).map(_.asScala.toSeq).getOrElse(Seq.empty)

  /** Largest end offset `name` has committed so far (-1 if none). */
  def committed(name: String): Long =
    of(name).map(_("end_offset").asInstanceOf[Long]).foldLeft(-1L)(math.max)
}

/** Times the sinks' epoch-ledger prunes in a traced run. The sinks prune
  * inside their micro-batch, where no span can be put around the call, so
  * a traced run hands them a `jdbc:perfbench:<url>` URL: this driver opens
  * `<url>` and times every `DELETE FROM` the ledger. All other calls pass
  * through unchanged. */
object TimedJdbc {
  import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
  import java.sql.{Connection, DriverManager, PreparedStatement}

  val Prefix = "jdbc:perfbench:"
  val prunes = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  private object Driver extends java.sql.Driver {
    def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)
    def connect(url: String, info: java.util.Properties): Connection =
      if (!acceptsURL(url)) null
      else connection(DriverManager.getConnection(url.stripPrefix(Prefix), info))
    def getPropertyInfo(url: String, info: java.util.Properties) =
      Array.empty[java.sql.DriverPropertyInfo]
    def getMajorVersion: Int = 1
    def getMinorVersion: Int = 0
    def jdbcCompliant: Boolean = false
    def getParentLogger = throw new java.sql.SQLFeatureNotSupportedException()
  }
  DriverManager.registerDriver(Driver)

  /** `inner` as a URL whose ledger prunes are timed. */
  def url(inner: String): String = Prefix + inner

  private def proxy[T](cls: Class[T], target: AnyRef)(
      around: (Method, Array[AnyRef], () => AnyRef) => AnyRef): T =
    cls.cast(Proxy.newProxyInstance(cls.getClassLoader, Array[Class[_]](cls),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val a = if (args == null) Array.empty[AnyRef] else args
          around(m, a, () =>
            try m.invoke(target, a: _*)
            catch { case e: InvocationTargetException => throw e.getCause })
        }
      }))

  private def connection(conn: Connection): Connection =
    proxy(classOf[Connection], conn) { (m, args, call) =>
      val r = call()
      if (m.getName == "prepareStatement" &&
          args(0).toString.startsWith(s"DELETE FROM ${graft.sources.Sinks.EpochLedgerTable}"))
        prune(r.asInstanceOf[PreparedStatement])
      else r
    }

  /** A prune runs on its query's thread, whose local properties name the
    * query and batch. */
  private def prune(ps: PreparedStatement): PreparedStatement =
    proxy(classOf[PreparedStatement], ps) { (m, _, call) =>
      if (m.getName != "executeUpdate") call()
      else {
        val sc = org.apache.spark.SparkContext.getOrCreate()
        val start = Clock.nowMs
        val rows = call()
        prunes.add(Map("start" -> start, "end" -> Clock.nowMs, "rows" -> rows,
          "query_id" -> sc.getLocalProperty("sql.streaming.queryId"),
          "batch_id" -> sc.getLocalProperty("streaming.sql.batchId")))
        rows
      }
    }
}
