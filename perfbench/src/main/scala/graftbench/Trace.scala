package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.StoreIo
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments. Nothing here is installed unless
  * `--trace 1`: untraced runs register no listener and record no span.
  *
  * Attribution: every op the harness times sets the local property
  * [[OpProperty]] on its thread, so each Spark job it submits carries
  * the op id; query executions map to ops through their jobs'
  * `spark.sql.execution.id`. Raw events are kept and attributed once, at
  * the end of the run, after the listener bus has drained.
  */
object Trace {
  val OpProperty = "graftbench.op"

  @volatile var enabled = false

  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNanos = System.nanoTime()
  /** Wall clock in epoch ms with sub-ms resolution. */
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6

  // ---- spans ----

  case class Span(id: Long, name: String, start: Double, end: Double,
      parent: Long, op: String)

  private val nextSpan = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, String)]](() => Nil)

  /** Time `body` as a span nested under the thread's current span. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextSpan.getAndIncrement()
      val outer = stack.get()
      val (parent, op) = outer.headOption.getOrElse((0L, ""))
      stack.set((id, op) :: outer)
      val t0 = nowMs
      try body
      finally {
        stack.set(outer)
        spans.add(Span(id, name, t0, nowMs, parent, op))
      }
    }

  /** Time one op: a root span whose id tags every Spark job it submits. */
  def op[A](sc: SparkContext, opId: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      sc.setLocalProperty(OpProperty, opId)
      val id = nextSpan.getAndIncrement()
      stack.set(List((id, opId)))
      val t0 = nowMs
      try body
      finally {
        stack.set(Nil)
        spans.add(Span(id, name, t0, nowMs, 0L, opId))
        sc.setLocalProperty(OpProperty, null)
      }
    }

  // ---- Spark scheduling and execution, per op ----

  final class OpStats {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
    var taskMs = 0L; var gcMs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
    var spill = 0L; var bytesRead = 0L; var recordsRead = 0L
    var analysisMs = 0L; var optimizerMs = 0L; var planningMs = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Double, Double)]
  }

  private case class JobInfo(op: String, exec: Option[Long], start: Double)
  private val jobs = mutable.Map.empty[Int, JobInfo]
  private val stageOp = mutable.Map.empty[Int, String]
  private val execOp = mutable.Map.empty[Long, String]
  private val statsByOp = mutable.Map.empty[String, OpStats]
  private case class Planned(exec: Long, analysis: Long, optimizer: Long, planning: Long)
  private val planned = new ConcurrentLinkedQueue[Planned]()

  private def stats(op: String): OpStats = statsByOp.getOrElseUpdate(op, new OpStats)

  object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // a stream trigger's jobs carry its batch id instead of an op id
      val op = prop(OpProperty).orElse(prop("streaming.sql.batchId").map("trigger." + _))
        .getOrElse("")
      val exec = prop("spark.sql.execution.id").flatMap(_.toLongOption)
      jobs(e.jobId) = JobInfo(op, exec, e.time.toDouble)
      exec.foreach(x => if (op.nonEmpty) execOp(x) = op)
      e.stageIds.foreach(s => stageOp(s) = op)
      if (op.nonEmpty) stats(op).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).filter(_.op.nonEmpty).foreach { j =>
        stats(j.op).jobSpans += ((j.start, e.time.toDouble))
        spans.add(Span(nextSpan.getAndIncrement(), s"spark.job.${e.jobId}",
          j.start, e.time.toDouble, -1L, j.op))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageOp.get(e.stageInfo.stageId).filter(_.nonEmpty).foreach(stats(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageOp.get(e.stageId).filter(_.nonEmpty).foreach { op =>
        val st = stats(op)
        st.tasks += 1
        if (e.taskInfo != null && e.taskInfo.failed) st.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          st.taskMs += m.executorRunTime
          st.gcMs += m.jvmGCTime
          st.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          st.bytesRead += m.inputMetrics.bytesRead
          st.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }
  }

  /** Planning phases of every query execution. */
  object PlanListener extends QueryExecutionListener {
    private def phase(qe: QueryExecution, n: String): Long =
      qe.tracker.phases.get(n).map(_.durationMs).getOrElse(0L)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planned.add(Planned(qe.id, phase(qe, "analysis"), phase(qe, "optimization"),
        phase(qe, "planning")))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- streaming ----

  object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val total = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
      spans.add(Span(nextSpan.getAndIncrement(), s"trigger.${p.batchId}", start,
        start + total, 0L, s"trigger.${p.batchId}"))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  // ---- the commit path's storage primitives ----

  /** Counts each StoreIo primitive, then delegates to the default ops. */
  object CountingOps extends StoreIo.Ops {
    val createNoOverwrite, createMarker, rename = new LongAdder
    def createNoOverwrite(fs: FileSystem, p: Path): Boolean = {
      createNoOverwrite.increment(); StoreIo.HadoopOps.createNoOverwrite(fs, p)
    }
    def createMarker(fs: FileSystem, p: Path): Unit = {
      createMarker.increment(); StoreIo.HadoopOps.createMarker(fs, p)
    }
    def rename(fs: FileSystem, src: Path, dst: Path): Boolean = {
      rename.increment(); StoreIo.HadoopOps.rename(fs, src, dst)
    }
  }

  def install(s: SparkSession): Unit = {
    enabled = true
    s.sparkContext.addSparkListener(JobListener)
    s.listenerManager.register(PlanListener)
    s.streams.addListener(StreamListener)
  }

  /** Wait until the asynchronous listeners stop receiving events. */
  def drain(): Unit = if (enabled) {
    var last = -1L
    var stable = 0
    while (stable < 3) {
      Thread.sleep(200)
      val n = spans.size.toLong + planned.size
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }

  /** Per-op stats after the run, with planning folded in through the
    * execution ids their jobs carried. */
  def opStats(): Map[String, OpStats] = JobListener.synchronized {
    planned.asScala.foreach { p =>
      execOp.get(p.exec).foreach { op =>
        val st = stats(op)
        st.analysisMs += p.analysis; st.optimizerMs += p.optimizer
        st.planningMs += p.planning
      }
    }
    planned.clear()
    statsByOp.toMap
  }

  /** Op wall time not covered by any of its jobs. */
  def driverGapMs(start: Double, end: Double, jobSpans: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var cursor = start
    jobSpans.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cursor) { covered += b - math.max(a, cursor); cursor = b }
      }
    (end - start) - covered
  }

  /** Each span's duration minus the time its children cover. */
  def selfTimes(): Map[Long, Double] = {
    val all = spans.asScala.toSeq
    val children = all.filter(_.parent > 0).groupBy(_.parent)
    all.map { sp =>
      val kids = children.getOrElse(sp.id, Nil).map(k => (k.start, k.end))
      sp.id -> driverGapMs(sp.start, sp.end, kids)
    }.toMap
  }

  def writeSpans(path: String): Unit = {
    val self = selfTimes()
    val lines = spans.asScala.toSeq.sortBy(_.start).map { sp =>
      Json.render(Map("name" -> sp.name, "start" -> sp.start, "end" -> sp.end,
        "parent" -> sp.parent, "op" -> sp.op, "self_ms" -> self.getOrElse(sp.id, 0.0)))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}
