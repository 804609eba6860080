package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** Turns a traced run's records into per-layer metrics and into the job
  * and stage spans under each op span.
  *
  * The metrics every workload reports are per op (a trigger or an epoch):
  * what the Engine did for it (jobs, stages, tasks, executor CPU and GC,
  * shuffle and spill bytes, time tasks waited to start, and the driver's
  * own time — the op span minus the union of its job spans), what the
  * planner spent, what the sources read and the sinks wrote. Workloads add
  * the metrics only they have (`streaming.*`, `Pipeline.*`).
  */
object Layers {
  import Trace._

  /** Layer metrics that every workload reports in its traced run; the
    * names match `per_layer` in BENCHMARK.json.
    */
  val Common: Seq[(String, String)] = Seq(
    "Engine.jobs_per_op" -> "count",
    "Engine.stages_per_op" -> "count",
    "Engine.tasks_per_op" -> "count",
    "Engine.cpu_ms_per_op" -> "ms",
    "Engine.gc_ms_per_op" -> "ms",
    "Engine.shuffle_bytes_per_op" -> "B",
    "Engine.driver_self_ms_per_op" -> "ms",
    "Engine.task_wait_ms_per_op" -> "ms",
    "plans.planning_ms_per_op" -> "ms",
    "sources.records_read_per_op" -> "count",
    "sinks.rows_out_per_op" -> "count",
    "sinks.write_ms_per_op" -> "ms",
    "functions.decode_ns_per_record" -> "ns")

  final case class OpStats(op: Span, jobs: Seq[JobRec], stages: Seq[StageRec],
      queries: Seq[QueryRec]) {
    def sum(f: StageRec => Long): Long = stages.map(f).sum
    def driverSelfMs: Long = Stats.selfTime(op.start, op.end,
      jobs.map(j => (j.start, j.end)))
  }

  /** Group the trace's jobs, stages and planned queries by op, and add
    * their job and stage spans to the trace.
    */
  def byOp(trace: Trace, ops: Seq[Span],
      opOf: JobRec => Option[Long]): Seq[OpStats] = trace.synchronized {
    val jobsByOp = trace.jobs.values.toSeq.groupBy(j => opOf(j))
    ops.map { op =>
      val js = jobsByOp.getOrElse(Some(op.id), Nil)
      val sts = js.flatMap(_.stageIds.flatMap(trace.stages.get))
      js.foreach { j =>
        val jid = trace.nextId()
        val mine = j.stageIds.flatMap(trace.stages.get)
        trace.add(Span(jid, op.id, "job", s"job-${j.id}", j.start, j.end,
          Map("stages" -> mine.size.toDouble,
            "tasks" -> mine.map(_.tasks).sum.toDouble,
            "cpu_ms" -> mine.map(_.cpuNs).sum / 1e6)))
        mine.foreach { s =>
          trace.add(Span(trace.nextId(), jid, "stage", s"stage-${s.id}",
            s.start, s.end, Map("tasks" -> s.tasks.toDouble,
              "cpu_ms" -> s.cpuNs / 1e6, "gc_ms" -> s.gcMs.toDouble,
              "shuffle_write_bytes" -> s.shuffleWrite.toDouble,
              "task_wait_ms" -> (s.schedDelayMs + s.deserMs).toDouble)))
        }
      }
      val qs = trace.queries.filter(q => q.planStart >= op.start && q.planStart <= op.end)
      OpStats(op, js, sts, qs.toSeq)
    }
  }

  /** The common per-op metrics (all but the decode probe). */
  def common(per: Seq[OpStats]): Map[String, Double] = {
    def avg[N](f: OpStats => N)(implicit num: Numeric[N]): Double =
      per.map(o => num.toDouble(f(o))).sum / per.size.max(1)
    Map(
      "Engine.jobs_per_op" -> avg(_.jobs.size),
      "Engine.stages_per_op" -> avg(_.stages.size),
      "Engine.tasks_per_op" -> avg(_.sum(_.tasks)),
      "Engine.cpu_ms_per_op" -> avg(_.sum(_.cpuNs) / 1e6),
      "Engine.gc_ms_per_op" -> avg(_.sum(_.gcMs)),
      "Engine.shuffle_bytes_per_op" -> avg(_.sum(_.shuffleWrite)),
      "Engine.spill_bytes_per_op" -> avg(_.sum(_.spill)),
      "Engine.driver_self_ms_per_op" -> avg(_.driverSelfMs),
      "Engine.task_wait_ms_per_op" -> avg(o => o.sum(s => s.schedDelayMs + s.deserMs)),
      "plans.planning_ms_per_op" -> avg(_.queries.map(q =>
        q.analysisMs + q.optimizationMs + q.planningMs).sum),
      "plans.analysis_ms_per_op" -> avg(_.queries.map(_.analysisMs).sum),
      "plans.optimization_ms_per_op" -> avg(_.queries.map(_.optimizationMs).sum),
      "plans.physical_planning_ms_per_op" -> avg(_.queries.map(_.planningMs).sum),
      "sources.records_read_per_op" -> avg(_.sum(_.recordsRead)),
      "sources.scan_rows_per_op" -> avg(_.queries.map(_.scanRows).sum),
      "sources.scan_bytes_per_op" -> avg(_.queries.map(_.scanBytes).sum),
      "sources.scan_time_ms_per_op" -> avg(_.queries.map(_.scanTimeMs).sum),
      "sinks.rows_out_per_op" -> avg(_.sum(_.recordsWritten)),
      "sinks.bytes_written_per_op" -> avg(_.sum(_.bytesWritten)),
      "sinks.write_ms_per_op" -> avg(_.queries.filter(_.isWrite).map(_.durationMs).sum))
  }

  private val OperatorFrame = """graft\.operators\.([A-Za-z]+)""".r

  /** `operators.<Module>.{wall_s,jobs,cpu_s}`: each job is charged to the
    * innermost operator module on its call site (the stack that launched
    * it, as Spark records it on the job's stages). Operators mostly build
    * plans that a caller runs later, so jobs launched from `graft.Pipeline`
    * or the streaming engine outside every module are charged to
    * `(caller)`.
    */
  def operators(per: Seq[OpStats], trace: Trace): Map[String, Double] = {
    val acc = mutable.HashMap.empty[String, (Double, Int, Double)]
    per.flatMap(_.jobs).foreach { j =>
      val site = j.stageIds.flatMap(trace.stages.get).map(_.callSite)
        .find(_.nonEmpty).getOrElse("")
      val m = OperatorFrame.findFirstMatchIn(site).map(_.group(1))
        .getOrElse("(caller)")
      val cpu = j.stageIds.flatMap(trace.stages.get).map(_.cpuNs).sum / 1e9
      val (w, n, c) = acc.getOrElse(m, (0.0, 0, 0.0))
      acc(m) = (w + (j.end - j.start) / 1000.0, n + 1, c + cpu)
    }
    acc.toSeq.flatMap { case (m, (w, n, c)) =>
      Seq(s"operators.$m.wall_s" -> w, s"operators.$m.jobs" -> n.toDouble,
        s"operators.$m.cpu_s" -> c)
    }.toMap
  }

  /** `functions.decode_ns_per_record`: a batch `kafka-test` read with
    * `BinaryRecordDecode.decode` into the noop sink, minus a scan-only
    * read of the same log, per record: the median of 5 pairs over 2M
    * records, each pair run back to back.
    */
  def decodeNsPerRecord(spark: SparkSession): Double = {
    val perPartition = 2000000L / StreamWorkload.Partitions
    val log = spark.read.format("kafka-test")
      .options(StreamWorkload.options(0L, perPartition, None)).load()
    def timed(df: org.apache.spark.sql.DataFrame): Long = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      System.nanoTime() - t0
    }
    val scan = log.select(col("value"))
    val decode = log.select(
      graft.functions.BinaryRecordDecode.decode(col("value")).as("r"))
    timed(scan); timed(decode) // compile both plans once
    val diffs = (1 to 5).map(_ => timed(decode) - timed(scan))
    Stats.median(diffs.map(_.toDouble)) / (perPartition * StreamWorkload.Partitions)
  }
}
