package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One operation of a workload. `run` returns whether the op's output was
  * correct; a throw counts as a failed op. */
final case class Op(kind: String, run: () => Boolean)

/** Where a run may write: `data` holds the benchmark's own inputs and
  * fixtures, `tmp` is the JVM's `java.io.tmpdir` (everything the engine
  * leaves there after an op is a leak). Both live inside the checkout. */
final case class Dirs(data: File, tmp: File)

/** A named workload: a fixture built in setup, then a fixed list of ops that
  * the closed loop cycles through. */
trait Workload {
  /** Build the fixture from the seed; called [[Harness.SetupReps]] times
    * (the median is reported), each call replacing the previous fixture. */
  def setup(rep: Int): Unit
  def ops: Seq[Op]
  /** Untimed checks after the timed window; returns the failures found. */
  def verify(): Seq[String] = Nil
  /** Latencies (ms) of the workload's unit operation when it is not the op
    * itself (ingest: a block of `track` calls); None = the op latencies. */
  def unitLatenciesMs: Option[Array[Double]] = None
  /** Workload-level per-layer metrics (collector, planted recall …). */
  def layerMetrics: Map[String, Double] = Map.empty
}

object Harness {
  val SetupReps = 2

  /** Every regular file under `dir` with its size. */
  def files(dir: File): Map[String, Long] = {
    val out = mutable.HashMap.empty[String, Long]
    def walk(f: File): Unit =
      Option(f.listFiles()).foreach(_.foreach { c =>
        if (c.isDirectory) walk(c) else out(c.getPath) = c.length()
      })
    walk(dir)
    out.toMap
  }

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }
}

final case class Sample(kind: String, ms: Double, traced: Boolean,
                        values: Map[String, Double])

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  /** The highest percentile with at least ten samples beyond it: the
    * 11th-largest value (the maximum when there are fewer than 11), with
    * that percentile and the sample count. */
  def tail(xs: Array[Double]): (Double, Double, Int) = {
    val n = xs.length
    if (n == 0) (0.0, 0.0, 0)
    else {
      val idx = if (n >= 11) n - 11 else n - 1
      (xs.sorted.apply(idx), 100.0 * (idx + 1) / n, n)
    }
  }
}

/** Runs one workload: setup (session start, fixture builds, floor probe,
  * warm-up pass), then the closed-loop timed window, then verification.
  * One client thread issues the next op only after the previous returns.
  *
  * With tracing, passes alternate untraced/traced inside the window, so the
  * tracing overhead is an in-JVM A/B on the same ops. */
final class Harness(spark: SparkSession, w: Workload, dirs: Dirs,
                    seconds: Double, trace: Boolean) {
  import Harness.files
  private val samples = mutable.ArrayBuffer.empty[Sample]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  // what the fixture itself holds (the corpus's cached input, the lake
  // catalog's conf) is not a leak: baselines are taken after setup
  private var confBaseline = Set.empty[String]
  private var cachedBaseline = 0
  private var lastTmp: Map[String, Long] = Map.empty
  private val leak = mutable.LinkedHashMap("leak.cached" -> 0.0, "leak.streams" -> 0.0,
    "leak.conf_keys" -> 0.0, "leak.tmp_bytes" -> 0.0)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** The cumulative counters read around each traced op. */
  private def counters: Map[String, Long] = {
    import graft.lake.StoreOps
    Trace.counters.map { case (k, v) => k -> v.get } ++ Map(
      "lake.store.lists" -> StoreOps.lists.get, "lake.store.reads" -> StoreOps.reads.get,
      "lake.store.writes" -> StoreOps.writes.get, "lake.store.deletes" -> StoreOps.deletes.get)
  }

  /** Data objects (not sidecars or staging files) that appeared since the
    * previous call, counted over the whole run directory. */
  private def newObjects(): (Double, Double) = {
    val now = files(dirs.data) ++ files(dirs.tmp)
    val added = now.filter { case (p, _) =>
      !lastTmp.contains(p) && (p.endsWith(".csv.gz") || p.endsWith(".csv")) &&
        !p.split(File.separatorChar).exists(_.startsWith("_"))
    }
    lastTmp = now
    (added.size.toDouble, added.values.sum.toDouble)
  }

  private def checkLeaks(): Unit = {
    leak("leak.cached") = (spark.sparkContext.getPersistentRDDs.size - cachedBaseline).toDouble
    leak("leak.streams") = spark.streams.active.length.toDouble
    leak("leak.conf_keys") = (spark.conf.getAll.keySet -- confBaseline).size.toDouble
    leak("leak.tmp_bytes") = files(dirs.tmp).values.sum.toDouble
  }

  private def runOp(op: Op, traced: Boolean): Sample = {
    attempted += 1
    val before: Map[String, Long] =
      if (traced) {
        Trace.drain()
        newObjects()
        Trace.values.clear()
        Trace.jobIntervals.clear()
        Trace.on = true
        counters
      } else Map.empty
    val wallStart = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result =
      try Right(Trace.span(op.kind)(op.run()))
      catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val wallEnd = System.currentTimeMillis()
    result match {
      case Right(true) =>
      case Right(false) => failures += s"${op.kind}: wrong result"
      case Left(e) =>
        failures += s"${op.kind}: ${e.toString.take(400)}"
        System.err.println(s"[perfbench] ${op.kind} failed: $e")
        e.printStackTrace()
    }
    val values: Map[String, Double] =
      if (!traced) Map.empty
      else {
        Trace.drain()
        Trace.on = false
        val deltas = counters.map { case (k, v) => k -> (v - before(k)).toDouble }
        val (objs, bytes) = newObjects()
        Trace.values.toMap ++ deltas ++ Map(
          "lake.objects_written" -> objs, "lake.bytes_written" -> bytes,
          "spark.idle_ms" -> idleMs(wallStart, wallEnd))
      }
    if (trace) checkLeaks()
    Sample(op.kind, ms, traced, values)
  }

  /** Op wall time during which no Spark job was running. */
  private def idleMs(start: Long, end: Long): Double = {
    val iv = Trace.synchronized(Trace.jobIntervals.toList)
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    for ((s, e) <- iv) {
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, end - start - covered).toDouble
  }

  /** The whole run; returns every metric, end-to-end and per-layer. */
  def run(sessionSeconds: Double): Map[String, Double] = {
    val fixture = (0 until Harness.SetupReps).map { r =>
      val t = System.nanoTime(); w.setup(r); (System.nanoTime() - t) / 1e9
    }
    val floor = (0 until 5).map { _ =>
      val t = System.nanoTime()
      spark.range(1).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e6
    }
    confBaseline = spark.conf.getAll.keySet
    cachedBaseline = spark.sparkContext.getPersistentRDDs.size
    val tw = System.nanoTime()
    w.ops.foreach(runOp(_, traced = false))
    val warmup = (System.nanoTime() - tw) / 1e9
    val setupS = sessionSeconds + Stats.median(fixture) + floor.sum / 1000 + warmup
    lastTmp = files(dirs.data) ++ files(dirs.tmp)
    // what one pass of every op leaves live (caches, leaked frames …): heap
    // in use after a full collection, taken at a fixed point (after the
    // warm-up pass) so it does not depend on how many passes fit the window
    System.gc()
    val heapLiveMb = heapPools.map(_.getUsage.getUsed).sum / 1048576.0

    val gc0 = gcMs
    val jit0 = jitMs
    // whole passes only, so every op kind is sampled equally often: two,
    // then as many more as fit in the window by the last pass's time
    val start = System.nanoTime()
    var pass = 0
    var lastPass = 0.0
    def elapsed = (System.nanoTime() - start) / 1e9
    while (pass < 2 || elapsed + lastPass <= seconds) {
      val t = System.nanoTime()
      val traced = trace && pass % 2 == 1
      w.ops.foreach(op => samples += runOp(op, traced))
      lastPass = (System.nanoTime() - t) / 1e9
      pass += 1
    }
    val windowPasses = pass.toDouble
    val windowS = elapsed
    val gcWin = (gcMs - gc0) / windowPasses
    val jitWin = (jitMs - jit0) / windowPasses
    val tv = System.nanoTime()
    failures ++= w.verify()
    val verifyS = (System.nanoTime() - tv) / 1e9

    val plain = samples.filterNot(_.traced).toSeq
    // one pass at each op kind's best timed run: on a shared host a slow
    // spell lasting part of the window stretches single runs, not the best
    def wallOf(ss: Seq[Sample]): Double =
      ss.groupBy(_.kind).values.map(g => g.map(_.ms).min).sum / 1000
    val lat = w.unitLatenciesMs.getOrElse(plain.map(_.ms).toArray)
    val (tailV, tailPct, tailN) = Stats.tail(lat)
    val e2e = Map(
      "setup_s" -> setupS,
      "wall_s" -> wallOf(plain),
      "op_p50_ms" -> Stats.median(lat.toSeq),
      "op_tail_ms" -> tailV,
      "op_tail_pct" -> tailPct,
      "op_tail_n" -> tailN.toDouble,
      "heap_live_mb" -> heapLiveMb,
      "failed_frac" -> failures.length.toDouble / math.max(attempted, 1),
      "setup.session_s" -> sessionSeconds,
      "setup.verify_s" -> verifyS,
      "setup.window_s" -> windowS,
      "setup.fixture_s" -> Stats.median(fixture),
      "setup.warmup_s" -> warmup) ++
      plain.groupBy(_.kind).map { case (k, g) => s"op.$k.p50_ms" -> Stats.median(g.map(_.ms)) } ++
      plain.groupBy(_.kind).map { case (k, g) => s"op.$k.n" -> g.length.toDouble }

    val layers = if (!trace) Map.empty[String, Double] else layerMetrics(gcWin, jitWin,
      Stats.median(floor), wallOf(plain), wallOf)
    e2e ++ layers
  }

  /** Per-layer metrics a workload reports itself; zero on the others. */
  private val WorkloadLayerNames = Ingest.LayerNames :+ "operators.planted_recall"

  private def layerMetrics(gcWin: Double, jitWin: Double,
                           floorMs: Double, plainWall: Double,
                           wallOf: Seq[Sample] => Double): Map[String, Double] = {
    val traced = samples.filter(_.traced)
    val kinds = traced.groupBy(_.kind)
    /** Per pass: the per-kind mean, summed over kinds. */
    def perPass(name: String): Double =
      kinds.values.map(g => g.map(_.values.getOrElse(name, 0.0)).sum / g.length).sum
    def total(name: String): Double = traced.map(_.values.getOrElse(name, 0.0)).sum
    val taskMs = total("spark.task_ms")
    val opMs = traced.map(_.ms).sum
    val batches = total("streaming.batches")
    val streamJobs = traced.filter(_.values.getOrElse("streaming.batches", 0.0) > 0)
      .map(_.values.getOrElse("spark.jobs", 0.0)).sum
    // drift within the window: per op kind, its last run over its first
    val drift = samples.groupBy(_.kind).values.filter(_.length >= 2)
      .map(g => g.last.ms / g.head.ms).toSeq
    val tracedWall = wallOf(traced.toSeq)
    val counted = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_ms",
      "spark.input_bytes", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
      "spark.spill_bytes", "spark.actions", "spark.idle_ms",
      "streaming.batches", "streaming.add_batch_ms", "streaming.query_planning_ms",
      "streaming.latest_offset_ms", "streaming.wal_commit_ms",
      "lake.store.lists", "lake.store.reads", "lake.store.writes", "lake.store.deletes",
      "lake.objects_written", "lake.bytes_written",
      "queries.build_ms", "queries.exec_ms", "operators.pairs_out",
      "collector.call_ms", "streaming.call_ms", "lake.call_ms", "operators.call_ms",
      "functions.call_ms", "queries.call_ms")
    counted.map(k => k -> perPass(k)).toMap ++ Map(
      "spark.task_cpu_ms" -> perPass("spark.task_cpu_ns") / 1e6,
      "spark.plan.analysis_ms" -> perPass("spark.plan.analysis_us") / 1000,
      "spark.plan.optimization_ms" -> perPass("spark.plan.optimization_us") / 1000,
      "spark.plan.planning_ms" -> perPass("spark.plan.planning_us") / 1000,
      "spark.parallelism" -> (if (opMs > 0) taskMs / opMs else 0.0),
      "spark.floor_ms" -> floorMs,
      "streaming.batch_ms_p50" -> Stats.median(Trace.synchronized(Trace.batchMs.toSeq)),
      "streaming.jobs_per_batch" -> (if (batches > 0) streamJobs / batches else 0.0),
      "jvm.gc_ms" -> gcWin,
      "jvm.jit_ms" -> jitWin,
      "trace.wall_s" -> tracedWall,
      "trace.overhead_s" -> (tracedWall - plainWall),
      "trace.spans" -> Trace.spanCount.toDouble,
      "drift.late_early_ratio" -> (if (drift.isEmpty) 1.0 else Stats.median(drift))
    ) ++ leak ++ WorkloadLayerNames.map(_ -> 0.0) ++ w.layerMetrics
  }
}
