package perfbench

import graft.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The incremental curation pipeline in the `IncrBench` shape, by direct
  * calls to [[Pipeline.curateEpoch]] over [[PipelineWorkload.Docs]]
  * documents: one founding epoch with the top 80% of them by `doc_id`,
  * then [[PipelineWorkload.Tails]] tail epochs over 2.5% slices below it
  * in descending order, so later epochs displace earlier dedup keepers.
  * 16 shards. Every epoch reads and rewrites the pipeline's on-disk state.
  * A set-up is building the session.
  */
final class PipelineWorkload extends Workload {
  import PipelineWorkload._

  private var founding0: Option[Span] = None

  def run(ctx: Ctx): Result = {
    val docsPath = ctx.work("docs/documents.parquet")
    val setups = ctx.setUp(
      Inputs.documents(_, ctx.seed, Docs).write.parquet(docsPath))((_, _) => 0.0)
    val spark = ctx.spark
    val all = spark.read.parquet(docsPath)
    def slice(lo: Long, hi: Long): DataFrame = all
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .filter(col("doc_id") >= lo && col("doc_id") < hi)

    val founding = (Docs * 0.2).toLong
    val tailSize = (Docs * 0.025).toLong
    // tail i covers [founding - (i+1)*tailSize, founding - i*tailSize)
    def tailLo(i: Int): Long = founding - (i + 1) * tailSize

    // the founding epoch is the first of the run's JVM, as it is for a
    // fresh deployment: it pays the JVM's warm-up, so it is reported on
    // its own and the ops are the tail epochs after it
    val out = ctx.work("out")
    val (_, foundingSpan) = ctx.trace.span(spark, "op", "epoch-0", tagOp = true) {
      Pipeline.curateEpoch(slice(founding, Long.MaxValue), out, Shards, 0L)
    }
    val epochs = (0 until Tails).map { i =>
      ctx.trace.span(spark, "op", s"epoch-${i + 1}", tagOp = true) {
        Pipeline.curateEpoch(slice(tailLo(i), tailLo(i) + tailSize), out,
          Shards, i + 1L)
      }._2
    }
    val ingestedLo = tailLo(Tails - 1)

    val (outputOk, why) = ctx.trace.span(spark, "check", "check") {
      check(spark, all, ingestedLo, out, ctx.work("check"))
    }._1

    founding0 = Some(foundingSpan)
    val foundingMs = foundingSpan.attrs("wall_ms")
    val tailMs = epochs.map(_.attrs("wall_ms"))
    val ingested = Docs - ingestedLo
    Result(
      setupS = Stats.median(setups),
      opMs = tailMs,
      recordsPerS = ingested / ((foundingMs + tailMs.sum) / 1000.0),
      outcome = Stats.outcome(epochs.size + 1, 0, outputOk),
      failure = why,
      detail = Seq(
        "setup_reps_s" -> setups,
        "founding_epoch_s" -> foundingMs / 1000.0,
        "founding_after_warmup" -> false,
        "tail_epoch_s_p50" -> Stats.percentile(tailMs, 50) / 1000.0,
        "tail_epoch_s" -> tailMs.map(_ / 1000.0),
        "tail_epochs" -> Tails,
        "docs" -> Docs,
        "docs_ingested" -> ingested,
        "docs_per_tail" -> tailSize,
        "shards" -> Shards),
      ops = epochs,
      opOf = _.op)
  }

  /** `Pipeline.*`: the Engine's figures per epoch, for the tail epochs
    * (the ops) and for the founding epoch on its own.
    */
  override def extraLayers(trace: Trace,
      per: Seq[Layers.OpStats]): Map[String, Double] = {
    def avg[N](f: Layers.OpStats => N)(implicit num: Numeric[N]): Double =
      per.map(o => num.toDouble(f(o))).sum / per.size.max(1)
    val found = Layers.byOp(trace, founding0.toSeq, _.op)
    Map(
      "Pipeline.jobs_per_epoch" -> avg(_.jobs.size),
      "Pipeline.cpu_s_per_epoch" -> avg(_.sum(_.cpuNs) / 1e9),
      "Pipeline.shuffle_bytes_per_epoch" -> avg(_.sum(_.shuffleWrite)),
      "Pipeline.bytes_written_per_epoch" -> avg(_.sum(_.bytesWritten)),
      "Pipeline.driver_self_s_per_epoch" -> avg(_.driverSelfMs / 1000.0),
      "Pipeline.founding_jobs" -> found.map(_.jobs.size.toDouble).sum,
      "Pipeline.founding_cpu_s" -> found.map(_.sum(_.cpuNs) / 1e9).sum,
      "Pipeline.founding_driver_self_s" -> found.map(_.driverSelfMs / 1000.0).sum)
  }
}

object PipelineWorkload {
  val Shards = 16
  /** As many documents as the sf0.1 `documents` fixture has. */
  val Docs = 5000
  /** Tail epochs per run. A tail epoch takes 8–13 s on 4 cores, and with
    * the founding epoch, the set-up and the check, two keep 22 runs of each
    * workload inside the benchmark's time budget.
    */
  val Tails = 2

  /** Output check: the incremental artifacts must equal a one-shot
    * [[Pipeline.curate]] over exactly the documents the epochs ingested,
    * and must pass [[Pipeline.validateCorpus]].
    */
  def check(spark: SparkSession, all: DataFrame, lo: Long, out: String,
      dir: String): (Boolean, String) = {
    all.filter(col("doc_id") >= lo).write.parquet(s"$dir/in/documents.parquet")
    val one = Pipeline.curate(spark, s"$dir/in", s"$dir/oneshot", Shards)
    def rows(path: String, order: String*): Seq[String] =
      spark.read.parquet(path).orderBy(order.map(col): _*)
        .collect().map(_.toString).toSeq
    val corpusCols = Seq("doc_id", "lang", "source", "n_tok", "text", "shard")
    def corpus(path: String): Seq[String] =
      spark.read.parquet(path).select(corpusCols.map(col): _*)
        .collect().map(_.toString).toSeq.sorted
    if (corpus(s"$out/corpus") != corpus(one.corpusPath))
      (false, "corpus differs from the one-shot curate")
    else if (rows(s"$out/manifest", "shard") != rows(one.manifestPath, "shard"))
      (false, "manifest differs from the one-shot curate")
    else if (rows(s"$out/report", "lang", "source") !=
        rows(one.reportPath, "lang", "source"))
      (false, "report differs from the one-shot curate")
    else if (!Pipeline.validateCorpus(spark, out).isEmpty)
      (false, "validateCorpus reports a violation")
    else (true, "")
  }
}
