package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded `documents` / `embeddings` tables with the catalog's schema: a
  * 30-word vocabulary, 10 to 100 words per document, five languages, 20
  * sources; 64-dimensional unit vectors in 10 loose label clusters. */
object Corpus {
  val Vocab: Vector[String] = Vector("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langs = Vector("en", "en", "en", "fr", "es", "zh", "de")

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def documentRows(seed: Long, n: Int): Seq[Row] = {
    val rnd = new java.util.SplittableRandom(seed)
    (0 until n).map { i =>
      val words = (0 until rnd.nextInt(10, 101)).map { _ =>
        if (rnd.nextDouble() < 0.005) "dup" else Vocab(rnd.nextInt(Vocab.size))
      }
      val text = words.mkString(" ")
      Row(i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${i % 20}",
        text.length.toLong)
    }
  }

  def embeddingRows(seed: Long, n: Int): Seq[Row] = {
    val rnd = new java.util.Random(seed)
    val centers = Array.fill(10, 64)(rnd.nextGaussian())
    (0 until n).map { i =>
      val label = rnd.nextInt(10)
      val v = Array.tabulate(64)(d => 0.15 * centers(label)(d) + rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
  }

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
}
