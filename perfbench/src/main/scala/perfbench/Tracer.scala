package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Attribution of time to the engine's modules, measured from outside
  * the engine: spans the benchmark records around its own calls, Spark's
  * public listener events, and (for streaming query threads, whose call
  * site Spark pins to the query's `start()`) stack samples of the query
  * thread.
  */
object Tracer {
  val Layers: Seq[String] = Seq("ingest", "sources", "dedup", "pipeline.tle",
    "pipeline.warehouse", "pipeline.index_store", "streaming", "ext",
    "driver")

  /** The repo module a `graft.*` class belongs to; None for classes
    * outside the ledger's layers (session, util, sql, schema ...). */
  def layerOfClass(cls: String): Option[String] = {
    val c = cls.takeWhile(_ != '$')
    if (c.startsWith("graft.ingest.") || c == "graft.functions.TleFunctions")
      Some("ingest")
    else if (c.startsWith("graft.sources.")) Some("sources")
    else if (c.startsWith("graft.dedup.")) Some("dedup")
    else if (c == "graft.pipeline.TlePipeline") Some("pipeline.tle")
    else if (c == "graft.pipeline.Warehouse" ||
        c == "graft.pipeline.ManifestFileIndex") Some("pipeline.warehouse")
    else if (c == "graft.pipeline.IndexStore") Some("pipeline.index_store")
    else if (c.startsWith("graft.streaming.")) Some("streaming")
    else if (c.startsWith("graft.ext.") || c.startsWith("graft.plans.") ||
        c.startsWith("graft.operators.")) Some("ext")
    else None
  }

  private val Frame = """^\s*(?:at\s+)?(graft\.[\w$.]+)\.[\w$<>]+\(""".r

  /** Innermost mapped `graft.*` frame of a call-site long form. */
  def layerOfCallSite(details: String): Option[String] =
    details.linesIterator.flatMap(l => Frame.findFirstMatchIn(l))
      .flatMap(m => layerOfClass(m.group(1))).nextOption()

  def layerOfStack(st: Array[StackTraceElement]): Option[String] =
    st.iterator.map(_.getClassName).filter(_.startsWith("graft."))
      .flatMap(layerOfClass).nextOption()

  final case class Span(id: Int, parent: Int, trace: Int, name: String,
      layer: String, startUs: Long, var endUs: Long)

  final case class JobRec(jobId: Int, startUs: Long, stageIds: Seq[Int],
      executionId: Option[Long], streaming: Boolean, var endUs: Long = -1L)

  final case class StageRec(stageId: Int, attempt: Int, name: String,
      layer: Option[String], submitUs: Long, endUs: Long, tasks: Int,
      cpuNs: Long, runMs: Long, gcMs: Long, shuffleBytes: Long,
      spillBytes: Long)

  /** One file scan's SQL metrics; `id` is its `numFiles` accumulator, the
    * same for every execution that reads one cached plan. */
  final case class ScanRec(id: Long, root: String, files: Long, rows: Long,
      metadataMs: Long)

  /** One SQL execution: planning time (`QueryPlanningTracker`), the SQL
    * metrics of its file scans, whether its plan joins, and the rows its
    * root returned or wrote (`numOutputRows` of the topmost node that
    * counts them). */
  final case class QeRec(executionId: Long, planningMs: Double,
      scans: Seq[ScanRec], joins: Boolean, rowsOut: Long)
}

final class Tracer(spark: SparkSession, val cores: Int) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val progress =
    new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  /** Layer of each SQL execution's call site (the thread that ran the
    * action), for stages whose own call site is an async Spark thread. */
  val executionLayer = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  /** (micros, layer) stack samples of watched streaming query threads. */
  val samples = new ConcurrentLinkedQueue[(Long, String)]()

  def open(name: String, layer: String, trace: Int): Span = {
    val parent = stack.headOption
    val s = Span(spans.size, parent.map(_.id).getOrElse(-1),
      if (trace >= 0) trace else parent.map(_.trace).getOrElse(-1),
      name, layer, Clock.us(), -1L)
    spans += s
    stack.push(s)
    s
  }

  def close(s: Span): Unit = {
    s.endUs = Clock.us()
    while (stack.nonEmpty && (stack.pop() ne s)) {}
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      jobs.put(e.jobId, JobRec(e.jobId, e.time * 1000L, e.stageIds,
        prop("spark.sql.execution.id").map(_.toLong),
        prop("sql.streaming.queryId").isDefined))
      ()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        layerOfCallSite(s.details).foreach(executionLayer.put(s.executionId, _))
      case end: SparkListenerSQLExecutionEnd =>
        PerfbenchBridge.queryExecution(end).foreach { qe =>
          val planning = qe.tracker.phases.values.map(_.durationMs).sum
          val nodes = nodesOf(qe.executedPlan)
          qes.add(QeRec(end.executionId, planning.toDouble, scansOf(nodes),
            nodes.exists(_.isInstanceOf[BaseJoinExec]),
            nodes.iterator.flatMap(_.metrics.get("numOutputRows"))
              .nextOption().map(_.value).getOrElse(0L)))
        }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      (si.submissionTime, si.completionTime) match {
        case (Some(s), Some(c)) if m != null =>
          stages.add(StageRec(si.stageId, si.attemptNumber(), si.name,
            layerOfCallSite(si.details), s * 1000L, c * 1000L, si.numTasks,
            m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
            m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten,
            m.diskBytesSpilled + m.memoryBytesSpilled))
          ()
        case _ =>
      }
    }
  }

  /** Every node of an executed plan, root first, through adaptive stages,
    * subqueries and the plans of cached (persisted) relations. */
  private def nodesOf(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodesOf(a.executedPlan)
    case q: QueryStageExec => nodesOf(q.plan)
    case m: InMemoryTableScanExec => m +: nodesOf(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodesOf)
  }

  private def scansOf(nodes: Seq[SparkPlan]): Seq[ScanRec] =
    nodes.collect { case s: FileSourceScanExec =>
      def metric(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      ScanRec(s.metrics.get("numFiles").map(_.id).getOrElse(-1L),
        s.relation.location.rootPaths.headOption
          .map(_.toString).getOrElse(""),
        metric("numFiles"), metric("numOutputRows"), metric("metadataTime"))
    }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent) = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent) =
      { progress.add(e); () }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent) = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every posted listener event has been delivered. */
  def drain(): Unit = PerfbenchBridge.drainListeners(spark)

  @volatile private var watched: Thread = null
  private val sampler = new Thread(() => {
    while (true) {
      val t = watched
      if (t != null && t.isAlive)
        layerOfStack(t.getStackTrace).foreach(l =>
          samples.add((Clock.us(), l)))
      Thread.sleep(5)
    }
  }, "perfbench-sampler")
  sampler.setDaemon(true)

  /** Samples `t`'s stack until [[unwatch]]; used for streaming query
    * threads, whose jobs all carry the `start()` call site. */
  def watch(t: Thread): Unit = {
    if (!sampler.isAlive) sampler.start()
    watched = t
  }
  def unwatch(): Unit = watched = null
}
