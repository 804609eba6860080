package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generators for the benchmark's inputs, in the shape of the
  * engine's sf0.1 parquet fixtures (`customer.parquet` and
  * `documents.parquet`, whose statistics perfbench/README.md records).
  * The same seed always yields the same rows.
  */
object Inputs {

  val Customers = 15000

  private val Segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  def customerRows(seed: Long): Seq[Row] = {
    val r = new java.util.Random(seed * 31 + 1)
    (0 until Customers).map { k =>
      Row(k.toLong, f"Customer#$k%09d", r.nextInt(25),
        math.round((r.nextDouble() * 10999.98 - 999.99) * 100) / 100.0,
        Segments(r.nextInt(Segments.size)))
    }
  }

  def customer(spark: SparkSession, seed: Long): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(customerRows(seed), 1), customerSchema)

  /** The fixture's 30 words; its 31st, "dup", only ends near-duplicates. */
  private val Vocab = Seq("query", "row", "stream", "the", "spark", "line",
    "small", "fast", "group", "customer", "batch", "sort", "value", "hash",
    "filter", "big", "data", "part", "column", "order", "scan", "a",
    "slow", "agg", "key", "window", "table", "merge", "vector", "join")

  private val OtherLangs = Seq("de", "es", "fr", "zh")

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** `n` documents shaped like the fixture's: `doc_id` 0 to n-1, `source`
    * `src<doc_id % 20>`, `lang` "en" for 41% and one of four others for
    * the rest, and a text of 10–99 words drawn uniformly from [[Vocab]].
    * One document in 20 is a near-duplicate: the text another document
    * was drawn with, plus " dup". Two near-duplicates of the same document
    * are exact repeats of each other.
    */
  def documentRows(seed: Long, n: Int): Seq[Row] = {
    val r = new java.util.Random(seed * 131 + 7)
    val drawn = Array.fill(n)(
      Seq.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.size))).mkString(" "))
    val nearDups = new scala.util.Random(r.nextLong())
      .shuffle((0 until n).toVector).take(n / 20).toSet
    (0 until n).map { i =>
      val text = if (nearDups(i)) drawn(r.nextInt(n)) + " dup" else drawn(i)
      val lang = if (r.nextInt(100) < 41) "en" else OtherLangs(r.nextInt(4))
      Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
  }

  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(documentRows(seed, n), 1), documentsSchema)
}
