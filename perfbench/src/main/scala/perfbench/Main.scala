package perfbench

import java.io.File
import java.lang.management.ManagementFactory

/** One benchmark run in a fresh JVM:
  *
  * {{{
  * perfbench.Main --workload <ingest|lake_dml|corpus> --seed <n>
  *   --seconds <s> --trace <0|1> --cpus <n> --dir <run dir> --out <json file>
  * }}}
  *
  * The session runs at `local[cpus]`. Inputs and fixtures are generated from
  * the seed under `<run dir>/data`; the JVM's tmpdir is `<run dir>/tmp`. The
  * result (every metric, the op counts and the failures) is written to the
  * `--out` file; with tracing, the spans go next to it as `spans.jsonl`. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus")
    val runDir = new File(a("dir"))
    val out = new File(a("out"))
    val dirs = Dirs(new File(runDir, "data"), new File(System.getProperty("java.io.tmpdir")))
    dirs.data.mkdirs()

    val spark = graft.Sessions.local(cpus)
    val sessionSeconds =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    if (trace) Trace.install(spark)

    val w: Workload = workload match {
      case "ingest" => new Ingest(spark, seed, dirs)
      case "lake_dml" => new LakeDml(spark, seed, dirs)
      case "corpus" => new Corpus(spark, seed, dirs)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val h = new Harness(spark, w, dirs, seconds, trace)
    val metrics = h.run(sessionSeconds)
    if (trace) Trace.writeSpans(new File(out.getParentFile, "spans.jsonl"), workload)

    val info = Map(
      "workload" -> workload, "seed" -> seed.toString, "cpus" -> cpus,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version)
    val json = new StringBuilder("{")
    json ++= s""""attempted":${h.attempted},"failed":${h.failures.length},"""
    json ++= """"metrics":{""" + metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${str(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    }.mkString(",") + "},"
    json ++= """"info":{""" + info.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString(",") + "},"
    json ++= """"failures":[""" + h.failures.map(str).mkString(",") + "]}"
    val pw = new java.io.PrintWriter(out, "UTF-8")
    try pw.println(json) finally pw.close()
    spark.stop()
    System.exit(0)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
