package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed region.  `req` is the request it serves: a frame id, a
  * micro-batch id or a pipeline stage.  Self time = duration minus the
  * time covered by its children.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String, req: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder plus the Spark listeners whose counts the
  * per-layer metrics are built from.  When disabled, [[span]] only runs
  * its body.  Spark jobs are attributed to the innermost open span of the
  * submitting thread through a local property.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()

  /** Monotonic ns of an epoch-ms listener timestamp. */
  def nsOfEpochMs(ms: Long): Long = t0 + (ms - wall0) * 1000000L

  def span[T](name: String, layer: String, req: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get()
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      stack.set(id :: parents)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val s = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, layer, req, s, System.nanoTime()))
        stack.set(parents)
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
      }
    }

  /** Record an already-measured region (listener-derived). */
  def add(name: String, layer: String, req: String, parent: Long, startNs: Long, endNs: Long): Long = {
    val id = nextId.getAndIncrement()
    spans.add(Span(id, parent, name, layer, req, startNs, endNs))
    id
  }

  val jobs = new JobStats(this)
  val planning = new PlanningStats
  val progress = new ProgressStats

  def install(): Unit = if (enabled) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(planning)
    spark.streams.addListener(progress)
  }

  def uninstall(): Unit = if (enabled) {
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(planning)
    spark.streams.removeListener(progress)
  }

  /** Self time per layer (ms): each span's duration minus its children's. */
  def selfMs: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val all = spans.asScala.toSeq
    val childMs = all.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    all.groupBy(_.layer).view.mapValues(ss =>
      ss.map(s => math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0))).sum).toMap
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""req":${Json.str(s.req)},"start_us":${(s.startNs - t0) / 1000},"end_us":${(s.endNs - t0) / 1000}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Job, stage and task counters from a [[SparkListener]]. */
final class JobStats(tracer: Tracer) extends SparkListener {
  final case class StageAgg(var maxTaskMs: Long = 0L, var wallMs: Long = 0L)
  private val lock = new Object
  val jobSpan = mutable.Map[Int, (Long, Long)]()        // job -> (parent span, start ns)
  val jobExec = mutable.Map[Int, Long]()                // job -> SQL execution id
  val jobStream = mutable.Map[Int, (String, Long)]()    // job -> (query id, batch id)
  val jobFinalStage = mutable.Map[Int, Int]()
  val stages = mutable.Map[Int, StageAgg]()
  var jobs = 0; var tasks = 0; var failedJobs = 0
  var runMs = 0L; var gcMs = 0L; var schedDelayMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var shuffleRecordsWritten = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobs += 1
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanProp))).map(_.toLong).getOrElse(0L)
    jobSpan(e.jobId) = (span, tracer.nsOfEpochMs(e.time))
    p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).foreach(v => jobExec(e.jobId) = v.toLong)
    for (x <- p; q <- Option(x.getProperty("sql.streaming.queryId"));
         b <- Option(x.getProperty("streaming.sql.batchId"))) jobStream(e.jobId) = (q, b.toLong)
    if (e.stageIds.nonEmpty) jobFinalStage(e.jobId) = e.stageIds.max
  }

  private val writeExecs = mutable.Set[Long]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
        if x.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
      lock.synchronized { writeExecs += x.executionId }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    e.jobResult match {
      case JobSucceeded =>
      case _            => failedJobs += 1
    }
    jobSpan.get(e.jobId).foreach { case (parent, start) =>
      tracer.add(s"job-${e.jobId}", "spark", s"job-${e.jobId}", parent, start, tracer.nsOfEpochMs(e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val i = e.stageInfo
    val st = stages.getOrElseUpdate(i.stageId, StageAgg())
    for (s <- i.submissionTime; c <- i.completionTime) st.wallMs = c - s
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasks += 1
    val st = stages.getOrElseUpdate(e.stageId, StageAgg())
    val info = e.taskInfo
    st.maxTaskMs = math.max(st.maxTaskMs, info.duration)
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRecordsWritten += m.shuffleWriteMetrics.recordsWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      // the UI's scheduler delay: what the task's wall time spent outside
      // running, deserializing and shipping its result
      schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
    }
  }

  def snapshot(): JobStats.Snap = lock.synchronized {
    JobStats.Snap(jobs, stages.size, tasks, failedJobs, runMs, gcMs, schedDelayMs,
      shuffleWrite, shuffleRead, spill, shuffleRecordsWritten)
  }

  /** Longest task ÷ wall time of the longest stage. */
  def maxTaskShare: Double = lock.synchronized {
    val done = stages.values.filter(_.wallMs > 0)
    if (done.isEmpty) 0.0 else { val s = done.maxBy(_.wallMs); s.maxTaskMs.toDouble / s.wallMs }
  }

  /** Summed wall time of the final stage of each write: the last job of
    * every write execution (batch) or micro-batch (streaming).
    */
  def writeStageMs: Long = lock.synchronized {
    val batchLast = jobExec.filter { case (_, x) => writeExecs(x) }.groupBy(_._2).values.map(_.keys.max)
    val streamLast = jobStream.groupBy(_._2).values.map(_.keys.max)
    (batchLast ++ streamLast).toSeq.distinct.flatMap(jobFinalStage.get).flatMap(stages.get).map(_.wallMs).sum
  }
}

object JobStats {
  final case class Snap(jobs: Int, stages: Int, tasks: Int, failedJobs: Int, runMs: Long, gcMs: Long,
                        schedDelayMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
                        shuffleRecordsWritten: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks, failedJobs - o.failedJobs,
      runMs - o.runMs, gcMs - o.gcMs, schedDelayMs - o.schedDelayMs, shuffleWrite - o.shuffleWrite,
      shuffleRead - o.shuffleRead, spill - o.spill, shuffleRecordsWritten - o.shuffleRecordsWritten)
  }
}

/** Catalyst phase times (`QueryPlanningTracker`) of every batch query. */
final class PlanningStats extends QueryExecutionListener {
  private val phaseMs = mutable.Map[String, Long]().withDefaultValue(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (k, v) => phaseMs(k) += v.durationMs }
  }

  def snapshot(): Map[String, Long] = synchronized(phaseMs.toMap)
}

/** Micro-batch progress of every streaming query. */
final class ProgressStats extends StreamingQueryListener {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
}
