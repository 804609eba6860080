package perfbench

/** Benchmark entry: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --traces <dir>`.
  *
  * Sets the workload up (sessions built as a deployment builds them, see
  * [[Ctx.setUp]]), runs it closed loop (one trigger or epoch at a time) on
  * a `local[nproc]` session with nproc shuffle partitions, checks its output,
  * and prints, last, one JSON line: the end-to-end metrics with `--trace 0`,
  * the per-layer metrics with `--trace 1`. Lines before it give the run's
  * provenance and the workload's own named figures.
  */
object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "stream_latency" -> (() => new StreamWorkload),
    "pipeline_epochs" -> (() => new PipelineWorkload))

  /** The end-to-end metrics every workload reports (BENCHMARK.json). */
  def endToEnd(r: Result): Seq[(String, Double, String)] = Seq(
    ("setup_s", r.setupS, "s"),
    ("op_ms_p50", Stats.percentile(r.opMs, 50), "ms"),
    ("op_ms_p90", Stats.percentile(r.opMs, 90), "ms"),
    ("records_per_s", r.recordsPerS, "1/s"))

  private def loadAvg(): String =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim.split(" ").take(3)
      .mkString(" ")).getOrElse("unknown")

  def main(args: Array[String]): Unit = {
    val code = try run(args) catch {
      case e: Throwable =>
        e.printStackTrace()
        // an op that threw: the run counts one attempted op, failed
        println(Json.obj(Seq("correct" -> false, "attempted" -> 1,
          "failed" -> 1, "metrics" -> Map.empty[String, Any])))
        1
    }
    // exit explicitly: a stream or state-store thread left behind by a
    // failure must not keep the JVM alive
    sys.exit(code)
  }

  def run(args: Array[String]): Int = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    val make = Workloads.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown workload $name (one of ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val tracing = opt("trace") == "1"
    val work = opt("work")
    val traces = opt("traces")

    val cores = Runtime.getRuntime.availableProcessors()
    val loadBefore = loadAvg()
    val trace = new Trace(tracing)
    val ctx = new Ctx(seed, seconds, work, trace, cores)

    val t0 = System.currentTimeMillis()
    val workload = make()
    val r = workload.run(ctx)
    val spark = ctx.spark
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    trace.add(Span(trace.rootId, 0L, "workload", name, t0,
      System.currentTimeMillis()))
    val e2e = endToEnd(r)

    println("perfbench-provenance " + Json.obj(Seq(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> tracing, "nproc" -> cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "source_rev" -> opts.getOrElse("rev", "unknown"),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"),
      "load_before" -> loadBefore, "load_after" -> loadAvg())))
    println("perfbench-detail " + Json.obj(
      e2e.map { case (k, v, _) => k -> v } ++ r.detail ++ Seq(
        "op_samples" -> r.opMs.size,
        "op_samples_beyond_p90" -> Stats.beyond(r.opMs, 90),
        "ops_attempted" -> r.outcome.attempted,
        "ops_failed" -> r.outcome.failed,
        "failure" -> r.failure)))

    val metrics: Seq[(String, Double, String)] =
      if (!tracing) e2e
      else {
        val per = Layers.byOp(trace, r.ops, r.opOf)
        val own = workload.extraLayers(trace, per)
        val layers = Layers.common(per) ++ Layers.operators(per, trace) ++
          own + ("functions.decode_ns_per_record" ->
            Layers.decodeNsPerRecord(spark))
        val path = java.nio.file.Paths.get(traces, s"$name-seed$seed.json")
        trace.write(path)
        println("perfbench-layers " + Json.obj(
          layers.toSeq.sortBy(_._1) :+ ("trace_file" -> path.toString)))
        Layers.Common.map { case (k, unit) => (k, layers(k), unit) }
      }
    spark.stop()
    println(Json.obj(Seq(
      "correct" -> r.outcome.correct,
      "attempted" -> r.outcome.attempted,
      "failed" -> r.outcome.failed,
      "metrics" -> metrics.map { case (k, v, u) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap)))
    0
  }
}
