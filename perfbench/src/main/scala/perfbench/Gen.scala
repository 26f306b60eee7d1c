package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators: the same seed gives the same rows. Tables have
  * the shapes of the engine's test data (`events`, `documents`), so the
  * engine's own query definitions run on them unchanged. */
object Gen {
  val EventTypes: IndexedSeq[String] = IndexedSeq("click", "view", "purchase", "signup", "error")
  val Langs: IndexedSeq[String] = IndexedSeq("en", "en", "en", "de", "fr", "es", "zh")
  val Vocab: IndexedSeq[String] = ("the a data spark lake query table row column stream batch " +
    "merge join sort hash filter scan window order key value part customer line agg group " +
    "vector fast slow big small index shard token model train eval label prompt answer " +
    "river mountain forest ocean city market price trade music paint story chapter").split(' ')
    .toIndexedSeq

  val EventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** `rows` events over `users` users (ids 0..users-1) in January 2024;
    * `value` is a whole number of cents. */
  def events(spark: SparkSession, seed: Long, rows: Int, users: Int): DataFrame = {
    val g = new SplittableRandom(seed)
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val data = (0 until rows).map { i =>
      Row(i.toLong, new java.sql.Timestamp(base + g.nextLong(30L * 86400000L)),
        g.nextLong(users), EventTypes(g.nextInt(EventTypes.length)),
        g.nextLong(1, 50000) / 100.0, s"""{"k": ${g.nextInt(100)}}""")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 4), EventsSchema)
  }

  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** A document corpus and the (original, copy) pairs planted in it. */
  final case class Corpus(texts: IndexedSeq[String], sources: IndexedSeq[Int],
                          planted: Set[(Long, Long)]) {
    def rows: Seq[Row] = texts.indices.map { i =>
      Row(i.toLong, texts(i), Langs(i % Langs.length), s"src${sources(i)}", texts(i).length.toLong)
    }
  }

  /** `n` documents of `words` random words each. A tenth of them are exact
    * copies of an earlier document and another tenth near copies (the
    * middle word replaced, so 3-shingle Jaccard stays above 0.8). One in
    * five originals carries an email address or a phone number for the
    * redaction functions. Copies keep their original's source. */
  def corpus(seed: Long, n: Int, words: Int): Corpus = {
    val g = new SplittableRandom(seed)
    val texts = new Array[String](n)
    val sources = new Array[Int](n)
    val planted = Set.newBuilder[(Long, Long)]
    for (i <- 0 until n) {
      val u = g.nextInt(10)
      texts(i) =
        if (i > 10 && u < 2) {
          val src = g.nextInt(i)
          planted += ((src.toLong, i.toLong))
          sources(i) = sources(src)
          if (u == 0) texts(src)
          else {
            val ws = texts(src).split(' ')
            ws(ws.length / 2) = s"edit${g.nextInt(1000)}"
            ws.mkString(" ")
          }
        } else {
          sources(i) = i % 20
          val ws = Array.fill(words)(Vocab(g.nextInt(Vocab.length)))
          g.nextInt(10) match {
            case 0 => ws(words / 2) = s"user${g.nextInt(10000)}@example.com"
            case 1 => ws(words / 3) = f"${g.nextInt(900) + 100}%d-555-${g.nextInt(10000)}%04d"
            case _ =>
          }
          ws.mkString(" ")
        }
    }
    Corpus(texts.toIndexedSeq, sources.toIndexedSeq, planted.result())
  }

  def documents(spark: SparkSession, c: Corpus): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(c.rows, 4), DocumentsSchema)
}
