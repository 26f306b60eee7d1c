package perfbench

import scala.collection.mutable

import graft.functions.{Redact, Text}
import graft.operators.{Chunking, Dedup, Entity}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The data-bound workload: `operators` and `functions` public calls over a
  * seeded corpus with planted exact and near duplicates. Every answer is
  * checked against truth the benchmark computes from the generated texts in
  * its own JVM: the planted pairs closed under Jaccard ≥ 0.8, their
  * components, the edit-distance clusters per block, redaction and token
  * counts. The input is cached once in setup (the program never sees it
  * uncached), so the ops time the kernels, not the input's construction. */
final class Corpus(spark: SparkSession, seed: Long, dirs: Dirs) extends Workload {
  import Corpus._

  private var c: Gen.Corpus = _
  private var docs: DataFrame = _

  override def setup(rep: Int): Unit = {
    if (docs != null) docs.unpersist(blocking = true)
    c = Gen.corpus(seed, Docs, Words)
    docs = Gen.documents(spark, c).repartition(Partitions).cache()
    docs.count()
  }

  // ---- truth from the generated texts
  private def shingles(t: String): Set[String] =
    t.split(' ').sliding(3).map(_.mkString(" ")).toSet
  private def jaccardMilli(a: String, b: String): Long = {
    val (x, y) = (shingles(a), shingles(b))
    val i = (x & y).size
    math.floor(i * 1000.0 / (x.size + y.size - i) + 0.5).toLong
  }
  /** Min-id component label of every node of `edges`. */
  private def components(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }
  /** Every pair with Jaccard ≥ 0.8 (milli-rounded, the operators' rule):
    * only planted relatives can qualify, so the search runs within the
    * planted components. */
  private lazy val truePairs: Set[(Long, Long)] =
    components(c.planted).groupBy(_._2).values.flatMap { m =>
      val ids = m.keys.toSeq.sorted
      for (i <- ids; j <- ids if i < j && jaccardMilli(c.texts(i.toInt), c.texts(j.toInt)) >= 800)
        yield (i, j)
    }.toSet
  private lazy val exactPairs: Set[(Long, Long)] =
    truePairs.filter { case (a, b) => c.texts(a.toInt) == c.texts(b.toInt) }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private var recallFound = 0L
  private var recallPlanted = 0L
  private def recall(got: Set[(Long, Long)]): Unit = {
    recallFound += c.planted.count(p => got.contains(p) || got.contains(p.swap))
    recallPlanted += c.planted.size
  }

  private def op[T](name: String)(body: => T): T = Trace.call("operators", name)(body)

  private def exact(): Boolean = {
    val got = op("Dedup.exact")(Dedup.exact(docs, "doc_id", "text")
      .filter(col("n_copies") > 1).agg(count(lit(1)), coalesce(sum("n_copies"), lit(0L))).head())
    val groups = c.texts.groupBy(identity).values.filter(_.length > 1)
    got.getLong(0) == groups.size && got.getLong(1) == groups.map(_.length).sum
  }

  private def minhash(): Boolean = {
    val got = pairs(op("Dedup.minhashPairs")(Dedup.minhashPairs(docs, "doc_id", "text",
      seed = seed)))
    Trace.add("operators.pairs_out", got.size)
    recall(got)
    got == truePairs
  }

  private def simhash(): Boolean = {
    val got = pairs(op("Dedup.simhashPairs")(Dedup.simhashPairs(docs, "doc_id", "text")))
    Trace.add("operators.pairs_out", got.size)
    recall(got)
    exactPairs.subsetOf(got)
  }

  private def connected(): Boolean = {
    val edges = spark.createDataFrame(spark.sparkContext.parallelize(
      truePairs.toSeq.map { case (a, b) => Row(a, b) }, Partitions), EdgeSchema)
    val got = op("Dedup.connectedComponents")(Dedup.connectedComponents(edges).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got == components(truePairs)
  }

  /** Records cluster when they share a source and their first [[KeyChars]]
    * characters are within edit distance 2 (planted copies inherit their
    * original's source). */
  private lazy val entityTruth: Map[Long, Long] = {
    val keys = c.texts.map(_.take(KeyChars))
    val edges = c.texts.indices.groupBy(c.sources).values.flatMap { ids =>
      for (i <- ids; j <- ids if i < j && Corpus.editWithin(keys(i), keys(j), 2))
        yield (i.toLong, j.toLong)
    }
    val comp = components(edges)
    c.texts.indices.map(i => i.toLong -> comp.getOrElse(i.toLong, i.toLong)).toMap
  }

  private def entity(): Boolean = {
    val got = op("Entity.canonicalize")(Entity.canonicalize(docs, "doc_id", col("source"),
      substring(col("text"), 1, KeyChars), 2).select("doc_id", "cluster_id").collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got == entityTruth
  }

  private def functions(): Boolean = {
    val counts = Redact.counts(col("text"))
    val r = Trace.call("functions", "Redact+Text")(docs.select(
      (counts.map { case (name, cnt) => cnt.as(name) } ++ Seq(
        length(Redact.redact(col("text"))).as("redacted_len"),
        size(Text.tokens(col("text"))).as("n_tok"))): _*)
      .agg(sum(counts.head._1), sum(counts(1)._1), sum("redacted_len"), sum("n_tok")).head())
    val redacted = c.texts.map(t => Redact.Patterns.foldLeft(t) { case (acc, (tok, re)) =>
      acc.replaceAll(re, tok)
    })
    val emails = c.texts.map(t => Redact.Patterns.head._2.r.findAllIn(t).length.toLong).sum
    val phones = c.texts.map(t => Redact.Patterns(1)._2.r
      .findAllIn(t.replaceAll(Redact.Patterns.head._2, Redact.Patterns.head._1)).length.toLong).sum
    r.getLong(0) == emails && r.getLong(1) == phones &&
      r.getLong(2) == redacted.map(_.length.toLong).sum && r.getLong(3) == Docs.toLong * Words
  }

  private def chunks(): Boolean = {
    val n = Trace.call("functions", "Chunking.tokenChunks")(
      Chunking.tokenChunks(docs, "doc_id", "text", ChunkWindow, ChunkStride).count())
    n == Docs.toLong * (1 + (Words - ChunkWindow + ChunkStride - 1) / ChunkStride)
  }

  override val ops: Seq[Op] = Seq(
    Op("exact", () => exact()),
    Op("minhash_pairs", () => minhash()),
    Op("simhash_pairs", () => simhash()),
    Op("connected_components", () => connected()),
    Op("entity", () => entity()),
    Op("redact_text", () => functions()),
    Op("chunks", () => chunks()))

  override def layerMetrics: Map[String, Double] = Map(
    "operators.planted_recall" -> (if (recallPlanted > 0) recallFound.toDouble / recallPlanted
                                   else 0.0))
}

object Corpus {
  val Docs = 3000
  val Words = 50
  val Partitions = 8
  val KeyChars = 12
  val ChunkWindow = 16
  val ChunkStride = 12
  val EdgeSchema: StructType = StructType(Seq(StructField("a_id", LongType),
    StructField("b_id", LongType)))

  /** Whether the Levenshtein distance of `a` and `b` is at most `k`. */
  def editWithin(a: String, b: String, k: Int): Boolean =
    if (math.abs(a.length - b.length) > k) false
    else {
      var prev = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        val cur = new Array[Int](b.length + 1)
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1,
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
      prev(b.length) <= k
    }
}
