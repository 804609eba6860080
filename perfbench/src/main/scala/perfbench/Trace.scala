package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A traced interval. `parent` is the id of the span that caused it (0 for
  * the workload root). Self time is computed when the trace is written.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, end: Long, attrs: Map[String, Double] = Map.empty)

/** Records the spans and counts of one benchmark run from outside the
  * program: Spark's public listener interfaces for jobs, stages, tasks and
  * planned queries, plus the spans the harness opens around its own calls
  * into the engine (setup, ops, checks). Everything stays in memory until
  * [[write]] at the end of the run.
  *
  * Jobs are attributed to ops by the `perfbench.op` local property the
  * harness sets around an op (inherited by every job the op's thread
  * launches), or for streams by the micro-batch id Spark stamps on each
  * trigger's jobs. Planned queries are attributed by the time their
  * planning started.
  */
final class Trace(val tracing: Boolean) extends SparkListener {
  import Trace._

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()
  val rootId: Long = nextId()

  private val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val queries = mutable.ArrayBuffer.empty[QueryRec]

  def add(s: Span): Unit = synchronized { spans += s }
  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Time `body` as a span of `kind` under the workload root; with `tagOp`
    * the span's id is set as the `perfbench.op` local property for its
    * duration, so the jobs it launches carry it.
    */
  def span[T](spark: SparkSession, kind: String, name: String,
      tagOp: Boolean = false)(body: => T): (T, Span) = {
    val id = nextId()
    val sc = spark.sparkContext
    if (tagOp) sc.setLocalProperty(OpKey, id.toString)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try {
      val out = body
      val n1 = System.nanoTime()
      val s = Span(id, rootId, kind, name, t0, t0 + (n1 - n0) / 1000000L,
        Map("wall_ms" -> (n1 - n0) / 1e6))
      add(s)
      (out, s)
    } finally if (tagOp) sc.setLocalProperty(OpKey, null)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = JobRec(e.jobId, e.time, 0L, e.stageIds,
      prop(OpKey).map(_.toLong), prop(BatchIdKey).map(_.toLong),
      prop(QueryIdKey))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (tracing) synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracing) synchronized {
    val st = stages.getOrElseUpdate(e.stageId, StageRec(e.stageId))
    val m = e.taskMetrics
    val info = e.taskInfo
    st.tasks += 1
    if (m != null) {
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.deserMs += m.executorDeserializeTime
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.recordsRead += m.inputMetrics.recordsRead
      st.recordsWritten += m.outputMetrics.recordsWritten
      st.bytesWritten += m.outputMetrics.bytesWritten
      if (info != null) {
        // the UI's scheduler delay: task duration not spent running,
        // deserializing, serializing the result or fetching it
        val delay = info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime
        st.schedDelayMs += delay.max(0L)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (tracing) synchronized {
      val si = e.stageInfo
      val st = stages.getOrElseUpdate(si.stageId, StageRec(si.stageId))
      st.start = si.submissionTime.getOrElse(0L)
      st.end = si.completionTime.getOrElse(0L)
      st.callSite = si.details
    }

  /** Planning phases, scan metrics and write time of each planned query. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = if (tracing) {
      val rec = QueryRec.of(qe, durationNs)
      Trace.this.synchronized { queries += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  def write(path: java.nio.file.Path): Unit = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    val lines = all.sortBy(s => (s.start, s.id)).map { s =>
      val self = Stats.selfTime(s.start, s.end,
        children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> self) ++ s.attrs.toSeq.sortBy(_._1))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

object Trace {
  val OpKey = "perfbench.op"
  val BatchIdKey = "streaming.sql.batchId"
  val QueryIdKey = "sql.streaming.queryId"

  final case class JobRec(id: Int, start: Long, var end: Long,
      stageIds: Seq[Int], op: Option[Long], batchId: Option[Long],
      queryId: Option[String])

  final case class StageRec(id: Int, var start: Long = 0L, var end: Long = 0L,
      var callSite: String = "", var tasks: Int = 0, var cpuNs: Long = 0L,
      var gcMs: Long = 0L, var deserMs: Long = 0L, var schedDelayMs: Long = 0L,
      var shuffleWrite: Long = 0L, var spill: Long = 0L,
      var recordsRead: Long = 0L, var recordsWritten: Long = 0L,
      var bytesWritten: Long = 0L)

  final case class QueryRec(planStart: Long,
      analysisMs: Long, optimizationMs: Long, planningMs: Long,
      durationMs: Double, isWrite: Boolean, scanRows: Long, scanBytes: Long,
      scanTimeMs: Long)

  object QueryRec extends AdaptiveSparkPlanHelper {
    def of(qe: QueryExecution, durationNs: Long): QueryRec = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = if (ph.isEmpty) System.currentTimeMillis()
        else ph.values.map(_.startTimeMs).min
      val plan = qe.executedPlan
      def metric(n: org.apache.spark.sql.execution.SparkPlan, k: String) =
        n.metrics.get(k).map(_.value).getOrElse(0L)
      val scans = collectWithSubqueries(plan) {
        case s: FileSourceScanExec => (metric(s, "numOutputRows"),
          metric(s, "filesSize"), metric(s, "scanTime"))
        case s: BatchScanExec => (metric(s, "numOutputRows"), 0L, 0L)
      }
      val write = find(plan)(_.isInstanceOf[DataWritingCommandExec]).isDefined
      QueryRec(start, ms("analysis"), ms("optimization"),
        ms("planning"), durationNs / 1e6, write, scans.map(_._1).sum,
        scans.map(_._2).sum, scans.map(_._3).sum)
    }
  }
}

/** Minimal JSON rendering for the harness's flat records. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
