package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary, recorded by the benchmark around
  * a call into the program. `parent` is the enclosing span's id (-1 for an
  * operation's root span); `op` is the operation id all spans of one
  * operation share.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

final case class TaskRec(op: Int, span: String, runMs: Long, cpuNs: Long,
                         deserMs: Long, gcMs: Long, schedDelayMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long,
                         written: Long, failed: Boolean)
final case class JobRec(op: Int, span: String)
final case class QeRec(op: Int, durNs: Long, analysisMs: Double,
                       optimizationMs: Double, planningMs: Double,
                       scanMs: Double, fileWrite: Boolean)
final case class TriggerRec(op: Int, durMs: Long, commitMs: Long)

/** Spans plus the Spark listener events of the traced run.
  *
  * Spans are kept in memory and written out when the run ends. Listener
  * events are attributed to an operation through the job group the
  * benchmark sets per operation (`op-<id>`) and to a span through a local
  * property; events that carry neither (plan and stream-progress events,
  * jobs of stream threads) go to the operation in flight, which is exact
  * because the benchmark drains the listener bus before the next
  * operation starts.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var listening = false
  @volatile private var currentOp = -1
  private var nextSpan = 0
  private var stack = List.empty[Span]
  val spans = ArrayBuffer.empty[Span]
  val tasks = ArrayBuffer.empty[TaskRec]
  val jobs = ArrayBuffer.empty[JobRec]
  val qes = ArrayBuffer.empty[QeRec]
  val triggers = ArrayBuffer.empty[TriggerRec]
  val stagesDone = ArrayBuffer.empty[Int]
  private val stageAttr = new ConcurrentHashMap[Int, (Int, String)]()

  private val SpanKey = "graftbench.span"
  private val JobGroupKey = "spark.jobGroup.id"

  /** Start attributing listener events (the traced phase). */
  def listen(): Unit = if (!listening) {
    listening = true
    sc.addSparkListener(jobListener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Stop attributing listener events. */
  def unlisten(): Unit = if (listening) {
    drain()
    listening = false
    sc.removeSparkListener(jobListener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Run one operation under its own id and job group. */
  def op[T](id: Int, name: String)(body: => T): T = {
    currentOp = id
    if (listening) sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    try span(name)(body)
    finally {
      if (listening) {
        drain()
        sc.clearJobGroup()
      }
    }
  }

  /** Record a span around `body`, child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    val s0 = Span(nextSpan, parent.map(_.id).getOrElse(-1), currentOp, name,
      System.nanoTime(), 0L)
    nextSpan += 1
    stack = s0 :: stack
    if (listening) sc.setLocalProperty(SpanKey, name)
    try body
    finally {
      spans += s0.copy(endNs = System.nanoTime())
      stack = stack.tail
      if (listening) sc.setLocalProperty(SpanKey, parent.map(_.name).orNull)
    }
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.graftbench.ListenerBusDrain(sc, 60000L)

  private def opOf(group: String): Int =
    Option(group).filter(_.startsWith("op-")).map(_.stripPrefix("op-").toInt)
      .getOrElse(currentOp)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val op = opOf(if (p == null) null else p.getProperty(JobGroupKey))
      val span = Option(if (p == null) null else p.getProperty(SpanKey)).getOrElse("-")
      e.stageIds.foreach(stageAttr.put(_, (op, span)))
      synchronized { jobs += JobRec(op, span) }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val op = Option(stageAttr.get(e.stageInfo.stageId)).map(_._1).getOrElse(currentOp)
      synchronized { stagesDone += op }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val (op, span) = Option(stageAttr.get(e.stageId)).getOrElse((currentOp, "-"))
      val info = e.taskInfo
      val m = e.taskMetrics
      val rec =
        if (m == null) TaskRec(op, span, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed = true)
        else TaskRec(op, span, m.executorRunTime, m.executorCpuTime,
          m.executorDeserializeTime, m.jvmGCTime,
          math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime),
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.diskBytesSpilled, m.outputMetrics.bytesWritten, info.failed)
      synchronized { tasks += rec }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(phase: String): Double =
        phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)
      val nodes = planNodes(qe.executedPlan)
      val scanMs = nodes.filter(_.nodeName.startsWith("Scan"))
        .flatMap(_.metrics.get("scanTime")).map(_.value.toDouble).sum
      val fileWrite = nodes.exists { n =>
        val c = n.getClass.getSimpleName
        c == "DataWritingCommandExec" || c == "WriteFilesExec"
      }
      synchronized {
        qes += QeRec(currentOp, durationNs, ms("analysis"), ms("optimization"),
          ms("planning"), scanMs, fileWrite)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Every node of a physical plan, descending into adaptive query stages,
    * subqueries and the physical plan of commands.
    */
  private def planNodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      p.children.foreach(walk)
      p.innerChildren.foreach {
        case c: SparkPlan => walk(c)
        case _ => ()
      }
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case _ => ()
      }
    }
    walk(root)
    out.toSeq
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val commit = p.stateOperators.map(_.commitTimeMs).sum
      synchronized { triggers += TriggerRec(currentOp, dur, commit) }
    }
  }

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover (children of one span never overlap: the
    * benchmark is a single closed-loop client).
    */
  def selfNs: Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.durNs - children.getOrElse(s.id, Nil).map(_.durNs).sum)
    }.toMap
  }

  def writeSpans(path: String): Unit = {
    val self = selfNs
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> self(s.id))))
    } finally w.close()
  }
}
