package perfbench

import graft.Engine
import org.apache.spark.sql.SparkSession

/** What a workload gets from the harness. Everything it writes goes under
  * `workDir`, inside the checkout. [[setUp]] builds the sessions; `spark`
  * is the last of them, the one the workload is measured on.
  */
final class Ctx(val seed: Long, val seconds: Double, val workDir: String,
    val trace: Trace, val cores: Int) {
  def work(name: String): String = s"$workDir/$name"

  private var current: Option[SparkSession] = None
  def spark: SparkSession =
    current.getOrElse(throw new IllegalStateException("no session set up yet"))

  /** A session as a deployment builds one: [[Engine.configure]] on
    * `local[cores]` with `cores` shuffle partitions.
    */
  def session(): SparkSession = {
    val s = Engine.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"),
      shufflePartitions = cores)
      .config("spark.local.dir", work("spark-local"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Set up [[Ctx.SetupReps]] times and return each set-up's time in
    * seconds; `setup_s` is their median. One set-up builds a session
    * ([[session]]) and then runs `first` on it, which returns the
    * milliseconds of the workload's own set-up step; the set-up time is the
    * two together, what a deployment pays before its first op. `prepare`
    * writes the inputs once, untimed, on the first session. Every session
    * but the last is stopped; the last becomes [[spark]] and, in a traced
    * run, carries the trace listeners.
    */
  def setUp(prepare: SparkSession => Unit)(
      first: (SparkSession, Int) => Double): Seq[Double] =
    (1 to Ctx.SetupReps).map { i =>
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val s = session()
      val sessionMs = (System.nanoTime() - n0) / 1e6
      if (i == 1) prepare(s)
      if (i == Ctx.SetupReps && trace.tracing) {
        s.sparkContext.addSparkListener(trace)
        s.listenerManager.register(trace.queryListener)
      }
      val firstMs = first(s, i)
      trace.add(Span(trace.nextId(), trace.rootId, "setup", s"setup-$i", t0,
        System.currentTimeMillis(), Map("session_ms" -> sessionMs,
          "first_ms" -> firstMs, "setup_ms" -> (sessionMs + firstMs))))
      if (i < Ctx.SetupReps) s.stop() else current = Some(s)
      (sessionMs + firstMs) / 1000.0
    }
}

object Ctx {
  /** Set-ups per run; `setup_s` is their median, so the first set-up's
    * cold JVM does not decide it.
    */
  val SetupReps = 3
}

/** What a workload measured. `opMs` holds the op latencies the end-to-end
  * percentiles are taken over; `detail` the workload's own named figures;
  * `opOf` maps a traced job to the id of the op span it ran for.
  */
final case class Result(setupS: Double, opMs: Seq[Double],
    recordsPerS: Double, outcome: Stats.Outcome, failure: String,
    detail: Seq[(String, Any)], ops: Seq[Span],
    opOf: Trace.JobRec => Option[Long])

trait Workload {
  def run(ctx: Ctx): Result

  /** Layer metrics only this workload has, read after a traced run. */
  def extraLayers(trace: Trace, per: Seq[Layers.OpStats]): Map[String, Double] =
    Map.empty
}
