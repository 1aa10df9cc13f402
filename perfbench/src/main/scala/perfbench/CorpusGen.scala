package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded curation corpus in the layout `graft.Tables` reads:
  * `documents.parquet` (doc_id, text, lang, source, n_chars) and the
  * `lineitem.parquet` columns the quantile gate uses. The text mirrors the
  * engine's own test corpus: words drawn from a small vocabulary, so every
  * document shares shingles with many others, plus planted near-duplicates
  * (one word changed, a `dup` marker added) and a few exact copies.
  */
object CorpusGen {
  private val Vocab = IndexedSeq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = IndexedSeq("en", "en", "en", "zh", "es", "fr", "de")
  private val Flags = IndexedSeq("A", "N", "R")

  final case class Shape(docs: Int = 600, sources: Int = 12,
                         nearDupShare: Double = 0.05, exactDups: Int = 8,
                         lineitems: Int = 40000)

  def generate(spark: SparkSession, dir: File, seed: Long, shape: Shape): Unit = {
    val rng = new SplittableRandom(seed)
    val texts = new Array[String](shape.docs)
    val docs = (0 until shape.docs).map { id =>
      val text =
        if (id >= shape.docs - shape.exactDups) texts(rng.nextInt(id))
        else if (id > 0 && rng.nextDouble() < shape.nearDupShare) {
          val words = texts(rng.nextInt(id)).split(' ')
          words(rng.nextInt(words.length)) = Vocab(rng.nextInt(Vocab.size))
          (words :+ "dup").mkString(" ")
        } else
          Seq.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.size))).mkString(" ")
      texts(id) = text
      Row(id.toLong, text, Langs(rng.nextInt(Langs.size)),
        s"src${id % shape.sources}", text.length.toLong)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    write(spark, docs, docSchema, new File(dir, "documents.parquet"))

    val items = (0 until shape.lineitems).map { i =>
      // cents-exact prices, as TPC-H writes them
      Row(i.toLong / 4, i % 4 + 1,
        (100000L + rng.nextInt(10000000)) / 100.0, Flags(rng.nextInt(Flags.size)))
    }
    val itemSchema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_extendedprice", DoubleType), StructField("l_returnflag", StringType)))
    write(spark, items, itemSchema, new File(dir, "lineitem.parquet"))
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
                    out: File): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(out.toString)
}
