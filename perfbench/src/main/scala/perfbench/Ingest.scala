package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.collector.{Collector, CollectorConfig, FlushInfo, FlushTrigger}
import graft.lake.{HadoopStore, LakeReader}
import graft.streaming.LakeSink
import graft.types.{ColType, TableSchema, Wildcard}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** The collector path, end to end: one client thread drives
  * `Collector.track` over seeded records (a hot table, the wildcard family
  * `events_$` over [[Ingest.Tokens]], and a wide-string table that trips
  * `batchByteLimit`), gzip on a `file://` store, then `stop()`; next the hot
  * table's records go through [[LakeSink]] as a JSON file stream. After
  * the window, the last pass's lakes are read back through [[LakeReader]]
  * and reconciled against the generator: counts, per-column checksums and
  * flushes by trigger.
  *
  * A pass is one collector op plus one sink op; the op percentiles are over
  * blocks of [[Ingest.Block]] `track` calls (see [[unitLatenciesMs]]). */
final class Ingest(spark: SparkSession, seed: Long, dirs: Dirs) extends Workload {
  import Ingest._

  private final class Rec(val table: String, val token: Option[String],
                          val fields: Seq[(String, Any)])
  private var recs: Array[Rec] = Array.empty
  private var nHot = 0
  /** Expected read-back checksums per resolved table. */
  private var expected: Map[String, Check] = Map.empty
  private val srcDir = new File(dirs.data, "sink-src")

  override def setup(rep: Int): Unit = {
    val rnd = new SplittableRandom(seed)
    val out = new Array[Rec](Records)
    val sums = mutable.HashMap.empty[String, Check]
    var hot = 0
    for (i <- 0 until Records) {
      val u = rnd.nextInt(100)
      val r =
        if (u < 70) {
          hot += 1
          val msg = if (rnd.nextInt(50) == 0) null else text(rnd, 1 + rnd.nextInt(6))
          new Rec("hot", None, Seq("id" -> i.toLong, "user" -> rnd.nextInt(1000).toLong,
            "score" -> rnd.nextInt(4000) / 4.0, "ok" -> rnd.nextBoolean(),
            "at" -> new java.sql.Timestamp(BaseMs + i * 7L), "msg" -> msg))
        } else if (u < 95)
          new Rec("events_$", Some(Tokens(rnd.nextInt(Tokens.length))), Seq(
            "id" -> i.toLong, "kind" -> Kinds(rnd.nextInt(Kinds.length)),
            "val" -> rnd.nextInt(1000) / 4.0, "note" -> text(rnd, 2 + rnd.nextInt(4))))
        else
          new Rec("wide", None, Seq("id" -> i.toLong, "blob" -> text(rnd, 150 + rnd.nextInt(200))))
      out(i) = r
      val table = Wildcard.resolve(r.table, r.token)
      val str = r.fields(StringCol(r.table))._2.asInstanceOf[String]
      val c = sums.getOrElse(table, Check(0, 0, 0, 0))
      sums(table) = Check(c.rows + 1, c.idSum + i, c.hashSum + sparkHash(str),
        c.nulls + (if (str == null) 1 else 0))
    }
    recs = out
    nHot = hot
    expected = sums.toMap
    // the sink's source: the hot records as 8 JSON-lines files (4 triggers),
    // written directly so setup runs no Spark job
    Harness.deleteRecursively(srcDir)
    srcDir.mkdirs()
    val hotRecs = out.filter(_.table == "hot")
    val per = (hotRecs.length + 7) / 8
    for ((part, k) <- hotRecs.grouped(per).zipWithIndex) {
      val w = new java.io.PrintWriter(new File(srcDir, f"part-$k%02d.json"), "UTF-8")
      try part.foreach(r => w.println(json(r.fields))) finally w.close()
    }
  }

  // ---- per-pass results of the timed collector and sink ops
  private val trackNs = mutable.ArrayBuffer.empty[Array[Long]]
  private val lagsMs = mutable.ArrayBuffer.empty[Double]
  private val passStats = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val sinkRecPerS = mutable.ArrayBuffer.empty[Double]
  private var pass = 0
  private var lastLake: File = _
  private var lastSinkLake: File = _

  private def collectorOp(): Boolean = {
    pass += 1
    val lake = new File(dirs.data, s"lake-$pass")
    val store = new HadoopStore(lake.toURI.toString.stripSuffix("/"))
    val c = Trace.call("collector", "new")(new Collector(store, CollectorConfig(
      schemas = Schemas, batchRecordLimit = RecordLimit, batchByteLimit = ByteLimit)))
    val byTrigger = Map[FlushTrigger, AtomicLong](FlushTrigger.RecordLimit -> new AtomicLong,
      FlushTrigger.Backpressure -> new AtomicLong, FlushTrigger.AgeLimit -> new AtomicLong,
      FlushTrigger.Stop -> new AtomicLong)
    val flushed = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
    val flushes = new java.util.concurrent.ConcurrentLinkedQueue[FlushInfo]()
    val errors = new AtomicLong
    val fillStart = new Array[Long](nHot / RecordLimit.toInt + 1)
    val fillDone = new Array[Long](fillStart.length)
    val hotFills = new AtomicLong
    c.onFlush { f =>
      byTrigger(f.trigger).incrementAndGet()
      flushed.computeIfAbsent(f.table, _ => new AtomicLong).addAndGet(f.records)
      flushes.add(f)
      if (f.table == "hot" && f.trigger == FlushTrigger.RecordLimit) {
        val k = hotFills.getAndIncrement().toInt
        fillDone(k) = System.nanoTime()
      }
    }
    c.onError(_ => { errors.incrementAndGet(); () })
    val lat = new Array[Long](recs.length)
    var hot = 0L
    val t0 = System.nanoTime()
    Trace.call("collector", "track") {
      var i = 0
      while (i < recs.length) {
        val r = recs(i)
        val t = System.nanoTime()
        if (r.table == "hot") {
          hot += 1
          if (hot % RecordLimit == 0) fillStart((hot / RecordLimit).toInt - 1) = t
        }
        c.track(r.table, r.fields, r.token)
        lat(i) = System.nanoTime() - t
        i += 1
      }
    }
    val t1 = System.nanoTime()
    Trace.call("collector", "stop")(c.stop())
    val t2 = System.nanoTime()
    val lakeBytes = Harness.files(lake).filter(_._1.endsWith(".csv.gz")).values.sum
    trackNs += lat
    val fills = hotFills.get.toInt
    for (k <- 0 until fills) lagsMs += (fillDone(k) - fillStart(k)) / 1e6
    passStats += Map(
      "collector.track_busy_ms" -> lat.sum / 1e6,
      "collector.bytes_per_record" -> lakeBytes.toDouble / recs.length,
      "collector.flushes.record_limit" -> byTrigger(FlushTrigger.RecordLimit).get.toDouble,
      "collector.flushes.backpressure" -> byTrigger(FlushTrigger.Backpressure).get.toDouble,
      "collector.flushes.age" -> byTrigger(FlushTrigger.AgeLimit).get.toDouble,
      "collector.flushes.stop" -> byTrigger(FlushTrigger.Stop).get.toDouble,
      "collector.stop_drain_ms" -> (t2 - t1) / 1e6,
      "collector.errors" -> errors.get.toDouble,
      "collector.rec_per_s" -> recs.length / ((t2 - t0) / 1e9))
    if (lastLake != null) Harness.deleteRecursively(lastLake)
    lastLake = lake
    // every record flushed exactly once, flushes by the expected triggers
    import scala.jdk.CollectionConverters._
    val got = flushed.asScala.map { case (k, v) => k -> v.get }.toMap
    val hotFlushes = flushes.asScala.filter(_.table == "hot").toSeq
    errors.get == 0 &&
      got == expected.map { case (k, v) => k -> v.rows } &&
      fills == nHot / RecordLimit &&
      hotFlushes.count(_.trigger == FlushTrigger.Stop) == (if (nHot % RecordLimit == 0) 0 else 1) &&
      byTrigger(FlushTrigger.Backpressure).get > 0 &&
      flushes.asScala.filter(_.table.startsWith("events_")).forall(_.trigger == FlushTrigger.Stop)
  }

  private def sinkOp(): Boolean = {
    val lake = new File(dirs.data, s"sink-lake-$pass")
    val ckpt = new File(dirs.data, s"sink-ckpt-$pass")
    val landed = new AtomicLong
    val src = spark.readStream.schema(HotSchema.structType)
      .option("maxFilesPerTrigger", "2").json(srcDir.getPath)
    val t0 = System.nanoTime()
    val q = Trace.call("streaming", "LakeSink.writer") {
      LakeSink.writer(src, HotSchema, lake.toURI.toString.stripSuffix("/"),
        recordLimit = RecordLimit, onFlush = f => { landed.addAndGet(f.records); () })
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.getPath)
        .start()
    }
    Trace.call("streaming", "awaitTermination")(q.awaitTermination())
    sinkRecPerS += nHot / ((System.nanoTime() - t0) / 1e9)
    Harness.deleteRecursively(ckpt)
    if (lastSinkLake != null) Harness.deleteRecursively(lastSinkLake)
    lastSinkLake = lake
    q.exception.isEmpty && landed.get == nHot
  }

  override val ops: Seq[Op] = Seq(Op("collector", () => collectorOp()),
    Op("sink", () => sinkOp()))

  /** Read back the last pass's lakes and reconcile them with the generator. */
  override def verify(): Seq[String] = {
    val root = lastLake.toURI.toString.stripSuffix("/")
    val bad = expected.toSeq.sortBy(_._1).flatMap { case (table, want) =>
      val schemaTable = if (table.startsWith("events_")) "events_$" else table
      val s = StringCol(schemaTable)
      val strCol = Schemas(schemaTable).columns(s)._1
      val r = LakeReader.read(spark, root, table)
        .agg(count(lit(1)), sum("id"), sum(hash(col(strCol)).cast("long")),
          sum(when(col(strCol).isNull, 1).otherwise(0)))
        .head()
      val got = Check(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      if (got == want) None else Some(s"ingest read-back $table: got $got, want $want")
    }
    val sinkRows = LakeReader.read(spark, lastSinkLake.toURI.toString.stripSuffix("/"), "hot")
      .agg(count(lit(1)), sum("id")).head()
    val hot = expected("hot")
    bad ++ (if (sinkRows.getLong(0) == hot.rows && sinkRows.getLong(1) == hot.idSum) Nil
            else Seq(s"sink read-back: got $sinkRows, want ${hot.rows} rows"))
  }

  /** The warm-up pass is the first; the rest are the timed window. The unit
    * operation is a block of [[Block]] consecutive `track` calls, so its
    * median prices the formatting, spooling and deflate work together
    * (single calls are a few microseconds, near the timer's resolution). */
  override def unitLatenciesMs: Option[Array[Double]] =
    Some(trackNs.drop(1).flatMap(_.grouped(Block).map(_.sum / 1e6)).toArray)

  override def layerMetrics: Map[String, Double] = {
    val timed = passStats.drop(1)
    val lat = trackNs.drop(1).flatMap(_.iterator.map(_ / 1e3)).toArray
    val perPass = timed.head.keys.map(k => k -> Stats.median(timed.map(_(k)).toSeq)).toMap
    perPass ++ Map(
      "collector.track_p50_us" -> Stats.median(lat.toSeq),
      "collector.track_p999_us" -> Stats.quantile(lat.toSeq, 0.999),
      "collector.durable_lag_p50_ms" -> Stats.median(lagsMs.toSeq),
      "streaming.sink_rec_per_s" -> Stats.median(sinkRecPerS.drop(1).toSeq))
  }
}

object Ingest {
  val Records = 100000
  val Block = 1000
  val RecordLimit = 10000L
  val ByteLimit: Long = 2L << 20
  val BaseMs = 1700000000000L
  val Tokens: IndexedSeq[String] = (0 until 4).map(i => s"t$i")
  val Kinds: IndexedSeq[String] = IndexedSeq("click", "view", "buy")
  /** Words that need CSV quoting (comma, quote, newline, leading #) or are
    * non-ASCII, mixed with plain ones. */
  val Words: IndexedSeq[String] = IndexedSeq("alpha", "beta", "gamma", "a,b", "say \"hi\"",
    "naïve", "café", "日本語", "中文", "😀", "line\nbreak", "#tag", "x", "delta", "ünïcödé",
    "comma, space", "omega", "q\"q", "zeta", "eta")

  val HotSchema: TableSchema = TableSchema("hot", Seq("id" -> ColType.CInteger,
    "user" -> ColType.CInteger, "score" -> ColType.CFloat, "ok" -> ColType.CBoolean,
    "at" -> ColType.CTime, "msg" -> ColType.CString))
  val Schemas: Map[String, TableSchema] = Map(
    "hot" -> HotSchema,
    "events_$" -> TableSchema("events_$", Seq("id" -> ColType.CInteger,
      "kind" -> ColType.CString, "val" -> ColType.CFloat, "note" -> ColType.CString)),
    "wide" -> TableSchema("wide", Seq("id" -> ColType.CInteger, "blob" -> ColType.CString)))
  /** The index of each table's checksummed string column. */
  val StringCol: Map[String, Int] = Map("hot" -> 5, "events_$" -> 3, "wide" -> 1)

  /** Per-table read-back checksums: rows, Σ id, Σ Spark `hash` of the string
    * column (Murmur3 of its UTF-8 bytes, seed 42; 42 for null), nulls. */
  final case class Check(rows: Long, idSum: Long, hashSum: Long, nulls: Long)

  def sparkHash(s: String): Long =
    if (s == null) 42L
    else {
      val b = s.getBytes(StandardCharsets.UTF_8)
      Murmur3_x86_32.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42).toLong
    }

  /** One record as a JSON object (times as ISO-8601 UTC, as the typed-CSV
    * wire format writes them). */
  def json(fields: Seq[(String, Any)]): String = fields.map { case (k, v) =>
    val value = v match {
      case null => "null"
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
        case c => c.toString
      } + "\""
      case t: java.sql.Timestamp => "\"" + graft.lake.TypedCsv.formatTime(t.toInstant) + "\""
      case other => other.toString
    }
    "\"" + k + "\":" + value
  }.mkString("{", ",", "}")

  def text(rnd: SplittableRandom, words: Int): String = {
    val sb = new StringBuilder
    for (i <- 0 until words) {
      if (i > 0) sb.append(' ')
      sb.append(Words(rnd.nextInt(Words.length)))
    }
    sb.toString
  }

  /** The collector metrics every workload reports (zero off the ingest path). */
  val LayerNames: Seq[String] = Seq("collector.track_busy_ms", "collector.bytes_per_record",
    "collector.flushes.record_limit", "collector.flushes.backpressure",
    "collector.flushes.age", "collector.flushes.stop", "collector.stop_drain_ms",
    "collector.errors", "collector.rec_per_s", "collector.track_p50_us",
    "collector.track_p999_us", "collector.durable_lag_p50_ms", "streaming.sink_rec_per_s")
}
