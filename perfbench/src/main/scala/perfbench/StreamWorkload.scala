package perfbench

import graft.functions.BinaryRecordDecode
import graft.operators.LatestByKey
import graft.sinks.Sinks
import graft.streaming.{Event, LatestByKeyStream}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The reference's own path as one streaming query: `format("kafka-test")`
  * → [[BinaryRecordDecode]] → [[LatestByKeyStream.latestTable]] (RocksDB
  * state) → left join of each trigger's updated rows against `customer`
  * on `user_id = c_custkey` → a foreachBatch sink that hands the rows to
  * the harness. 4,000 records per trigger.
  *
  * The log has 8 partitions of 1,000 keys each. `keysPerPartition` is set
  * on the source explicitly: `Sources.kafkaTestStream` has no such
  * parameter and its default of 5 leaves 40 keys in state, and the
  * source's user id (`partition * 1000 + offset % keysPerPartition`)
  * collides across partitions above 1,000. The seed sets the starting
  * offset and the customer rows.
  *
  * A set-up is a session plus one query's start up to its first committed
  * trigger (the plan, the RocksDB state store's open, the first offset and
  * commit logs), on a fresh checkpoint.
  */
final class StreamWorkload extends Workload {
  import StreamWorkload._

  private var drained: Option[Drain] = None

  override def extraLayers(trace: Trace,
      per: Seq[Layers.OpStats]): Map[String, Double] =
    drained.map(streamLayers).getOrElse(Map.empty)

  def run(ctx: Ctx): Result = {
    val start = startingOffset(ctx.seed)
    val customerPath = ctx.work("customer")
    val setups = ctx.setUp(
        Inputs.customer(_, ctx.seed).write.parquet(customerPath)) { (spark, i) =>
      drain(spark, spark.read.parquet(customerPath),
        ctx.work(s"setup-ckpt-$i"), start, 0.0, 0.0).firstMs
    }
    val spark = ctx.spark
    val customer = spark.read.parquet(customerPath)

    // one query: the triggers of its first WarmupSeconds warm the JVM
    // further (the first drain in a fresh JVM runs 30-40% slower), and
    // those of the `seconds` after that are measured
    val measured = drain(spark, customer, ctx.work("ckpt"), start,
      WarmupSeconds, ctx.seconds)
    val spans = opSpans(ctx.trace, measured)
    val spanOfBatch = spans.map(s => s.attrs("batch_id").toLong -> s.id).toMap

    val (outputOk, why) = ctx.trace.span(spark, "check", "check") {
      check(spark, customer, start, measured)
    }._1
    drained = Some(measured)
    val timed = measured.timed
    val trigMs = timed.map(_.durationMs.get("triggerExecution").toDouble)
    val records = timed.map(_.numInputRows).sum
    val wallMs = measured.windowMs
    val outcome = Stats.outcome(timed.size, 0, outputOk)
    Result(
      setupS = Stats.median(setups),
      opMs = trigMs,
      recordsPerS = records / (wallMs / 1000.0),
      outcome = outcome,
      failure = why,
      detail = Seq(
        "setup_reps_s" -> setups,
        "trigger_ms_p50" -> Stats.percentile(trigMs, 50),
        "trigger_ms_p90" -> Stats.percentile(trigMs, 90),
        "triggers" -> timed.size,
        "trigger_ms" -> trigMs,
        "warmup_trigger_ms" -> measured.progress
          .filter(p => p.numInputRows > 0 && startMs(p) < measured.measureFrom)
          .map(triggerMs),
        "records" -> records,
        "records_per_trigger" -> RecordsPerTrigger,
        "starting_offset" -> start,
        "keys_per_partition" -> KeysPerPartition,
        "partitions" -> Partitions),
      ops = spans.filter(_.kind == "op"),
      opOf = j => if (j.queryId.contains(measured.queryId))
          j.batchId.flatMap(spanOfBatch.get) else None)
  }
}

object StreamWorkload {
  val Partitions = 8
  val KeysPerPartition = 1000
  val RecordsPerTrigger = 4000
  /** After the three set-ups, a query's first trigger took 1,100-1,500 ms
    * on 4 cores and its triggers 5 s in 600-700 ms, and they kept falling
    * slowly: the second half of a measured window ran about 10% faster
    * than the first. With a 5 s warm-up the slowest measured triggers were
    * mostly the first few, so `op_ms_p90` followed how far a run had
    * warmed up rather than its tail.
    */
  val WarmupSeconds = 10.0
  private val OffsetEntry = """"(\d+)"\s*:\s*(\d+)""".r

  def startingOffset(seed: Long): Long = Math.floorMod(seed, 997L) * 1000L

  def options(start: Long, end: Long, maxPerTrigger: Option[Int])
      : Map[String, String] =
    Map("topic" -> "perfbench", "partitions" -> Partitions.toString,
      "recordsPerPartition" -> end.toString,
      "keysPerPartition" -> KeysPerPartition.toString,
      "startingOffset" -> start.toString) ++
      maxPerTrigger.map(n => "maxOffsetsPerTrigger" -> n.toString)

  /** Envelope decode: Kafka record → typed changelog row. */
  def decoded(df: DataFrame): Dataset[Event] = {
    import df.sparkSession.implicits._
    val r = BinaryRecordDecode.decode(col("value"))
    df.select(
      col("offset").as("event_id"),
      col("key").cast("string").cast("long").as("user_id"),
      r.getField("i").as("event_type"),
      (r.getField("k") / lit(100.0)).as("value")).as[Event]
  }

  val LatestCols = Seq("user_id", "last_event_type", "last_value", "last_event_id")
  val CustomerCols = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")

  def enrich(latest: DataFrame, customer: DataFrame): DataFrame =
    latest.join(customer, col("user_id") === col("c_custkey"), "left")
      .select((LatestCols ++ CustomerCols).map(col): _*)

  /** One query: its completed triggers, the measured ones among them,
    * what the sink got, the time from its start to its first committed
    * non-empty trigger, and the measured window's length.
    */
  final case class Drain(queryId: String, progress: Seq[StreamingQueryProgress],
      timed: Seq[StreamingQueryProgress], measureFrom: Long,
      sinkRows: Map[Long, Array[Row]], sinkMs: Map[Long, Double],
      firstMs: Double, windowMs: Double)

  private def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  private def triggerMs(p: StreamingQueryProgress): Long =
    p.durationMs.get("triggerExecution").toLong

  /** Run the path over an unbounded log until `warmup + seconds` have
    * passed since its first trigger was committed, then stop it. Only
    * triggers whose progress was reported — offsets and state committed —
    * count; the measured ones are the non-empty triggers that started
    * after the warm-up.
    */
  def drain(spark: SparkSession, customer: DataFrame, ckpt: String,
      start: Long, warmup: Double, seconds: Double): Drain = {
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]
    val sinkRows = new ConcurrentHashMap[Long, Array[Row]]
    val sinkMs = new ConcurrentHashMap[Long, Double]
    val firstDone = new java.util.concurrent.CountDownLatch(1)
    val firstAt = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var queryId: java.util.UUID = null
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == queryId) {
          progress.add(e.progress)
          if (e.progress.numInputRows > 0) {
            firstAt.compareAndSet(0L, System.nanoTime())
            firstDone.countDown()
          }
        }
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        firstDone.countDown()
    }
    spark.streams.addListener(listener)
    val src = spark.readStream.format("kafka-test")
      .options(options(start, Long.MaxValue / 2, Some(RecordsPerTrigger))).load()
    val latest = LatestByKeyStream.latestTable(decoded(src)).toDF()
    val started = System.nanoTime()
    val q = Sinks.foreachBatch(enrich(latest, customer)) { (df: DataFrame, id: Long) =>
      val t0 = System.nanoTime()
      sinkRows.put(id, df.collect())
      sinkMs.put(id, (System.nanoTime() - t0) / 1e6)
    }.outputMode("update").option("checkpointLocation", ckpt).start()
    queryId = q.id
    val measureFrom = try {
      firstDone.await()
      q.exception.foreach(e => throw e)
      val t0 = System.nanoTime()
      val from = System.currentTimeMillis() + (warmup * 1000).toLong
      while ((System.nanoTime() - t0) / 1e9 < warmup + seconds && q.isActive)
        Thread.sleep(20)
      q.exception.foreach(e => throw e)
      from
    } finally {
      q.stop()
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      spark.streams.removeListener(listener)
    }
    val done = progress.asScala.toSeq.sortBy(_.batchId)
    val ids = done.map(_.batchId).toSet
    val timed = done.filter(p => p.numInputRows > 0 && startMs(p) >= measureFrom)
    val windowMs =
      if (timed.isEmpty) 0.0
      else (startMs(timed.last) + triggerMs(timed.last) - startMs(timed.head)).toDouble
    Drain(q.id.toString, done, timed, measureFrom,
      sinkRows.asScala.toMap.filter { case (id, _) => ids(id) },
      sinkMs.asScala.toMap.filter { case (id, _) => ids(id) },
      (firstAt.get - started) / 1e6, windowMs)
  }

  /** Op spans for every non-empty trigger of `d`, added to the trace;
    * those before the measured window are marked as warm-up.
    */
  def opSpans(trace: Trace, d: Drain): Seq[Span] = {
    val spans = d.progress.filter(_.numInputRows > 0).map { p =>
      Span(trace.nextId(), trace.rootId,
        if (startMs(p) >= d.measureFrom) "op" else "warmup",
        s"trigger-${p.batchId}", startMs(p), startMs(p) + triggerMs(p),
        Map("batch_id" -> p.batchId.toDouble,
          "input_rows" -> p.numInputRows.toDouble))
    }
    spans.foreach(trace.add)
    spans
  }

  /** The layer metrics only the streaming path has, from the triggers'
    * progress reports and the sink's timings. The `*_per_op` entries
    * replace the common ones, which for a stream come from the progress
    * reports rather than from planned-query listeners.
    */
  def streamLayers(d: Drain): Map[String, Double] = {
    val t = d.timed
    def p50(f: StreamingQueryProgress => Double): Double =
      Stats.percentile(t.map(f), 50)
    def mean(xs: Seq[Double]): Double = xs.sum / xs.size.max(1)
    def dur(k: String)(p: StreamingQueryProgress): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def state(p: StreamingQueryProgress) = p.stateOperators.head
    def custom(k: String)(p: StreamingQueryProgress): Double =
      Option(state(p).customMetrics.get(k)).map(_.toDouble).getOrElse(0.0)
    val ids = t.map(_.batchId).toSet
    val sinkMs = d.sinkMs.filter { case (id, _) => ids(id) }.values.toSeq
    val sinkRows = d.sinkRows.filter { case (id, _) => ids(id) }
      .values.map(_.length.toDouble).toSeq
    val rocks = t.head.stateOperators.head.customMetrics.keySet.asScala
      .filter(_.startsWith("rocksdb")).toSeq
      .map(k => s"streaming.custom.$k" -> p50(custom(k))).toMap
    rocks ++ Map(
      "streaming.add_batch_ms" -> p50(dur("addBatch")),
      "streaming.state_commit_ms" -> p50(state(_).commitTimeMs.toDouble),
      "streaming.wal_commit_ms" -> p50(dur("walCommit")),
      "streaming.commit_offsets_ms" -> p50(dur("commitOffsets")),
      "streaming.state_rows_total" -> state(t.last).numRowsTotal.toDouble,
      "streaming.state_memory_bytes" -> state(t.last).memoryUsedBytes.toDouble,
      "streaming.rocksdb_put_ms" -> p50(custom("rocksdbPutLatency")),
      "streaming.rocksdb_commit_flush_ms" -> p50(custom("rocksdbCommitFlushLatency")),
      "streaming.rocksdb_commit_checkpoint_ms" ->
        p50(custom("rocksdbCommitCheckpointLatency")),
      "streaming.updated_per_input_row" ->
        t.map(state(_).numRowsUpdated).sum.toDouble / t.map(_.numInputRows).sum,
      "plans.query_planning_ms" -> p50(dur("queryPlanning")),
      "plans.planning_ms_per_op" -> mean(t.map(dur("queryPlanning"))),
      "sources.latest_offset_ms" -> p50(dur("latestOffset")),
      "sources.get_batch_ms" -> p50(dur("getBatch")),
      "sources.input_rows_per_op" -> mean(t.map(_.numInputRows.toDouble)),
      "sinks.write_ms" -> Stats.percentile(sinkMs, 50),
      "sinks.write_ms_per_op" -> mean(sinkMs),
      "sinks.rows_out_per_op" -> mean(sinkRows),
      "sinks.rows_out" -> sinkRows.sum)
  }

  /** Output check: the latest-by-key table the sink saw must equal
    * `LatestByKey.materialize` over a batch read of the consumed log with
    * the same source options, and every enriched row must equal the batch
    * join of its latest-row part with `customer`.
    */
  def check(spark: SparkSession, customer: DataFrame, start: Long,
      d: Drain): (Boolean, String) = {
    if (d.timed.isEmpty) return (false, "no completed trigger")
    val ends = OffsetEntry.findAllMatchIn(d.progress.last.sources.head.endOffset)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
    if (ends.size != Partitions || ends.values.toSet.size != 1)
      return (false, s"uneven end offsets $ends")
    val batch = decoded(spark.read.format("kafka-test")
      .options(options(start, ends.values.head, None)).load()).toDF()
    val expected = LatestByKey.materialize(batch, "user_id", "event_id",
      Seq("event_type", "value")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2), r.getLong(3))))
      .toMap
    val rows = d.sinkRows.toSeq.sortBy(_._1).flatMap(_._2)
    val got = mutable.HashMap.empty[Long, (String, Double, Long)]
    rows.foreach { r =>
      val v = (r.getString(1), r.getDouble(2), r.getLong(3))
      if (got.get(r.getLong(0)).forall(_._3 < v._3)) got(r.getLong(0)) = v
    }
    if (got.toMap != expected)
      return (false, s"latest table differs: ${got.size} keys vs ${expected.size}")
    // the batch left join on the unique key `c_custkey`, done on the
    // driver: each row's latest-row part with its customer's columns, or
    // with nulls when there is no such customer
    val byKey = customer.select(("c_custkey" +: CustomerCols).map(col): _*)
      .collect().groupBy(_.getLong(0))
    if (byKey.exists(_._2.length > 1))
      return (false, "customer has a repeated c_custkey")
    val noCustomer = Seq.fill(CustomerCols.size)(null)
    val width = LatestCols.size + CustomerCols.size
    if (rows.exists(r => r.length != width ||
        r.toSeq.drop(LatestCols.size) !=
          byKey.get(r.getLong(0)).map(_.head.toSeq.tail).getOrElse(noCustomer)))
      return (false, "an enriched row differs from the batch join")
    (true, "")
  }
}
