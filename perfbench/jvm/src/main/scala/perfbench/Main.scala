package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One benchmark workload, driven by [[Main]] in a closed loop with one client. */
trait Workload {
  /** Set-up after the session starts: train what the workload needs and
    * run one unmeasured operation, so the measured ones start with classes
    * loaded and code generated.
    */
  def prepare(): Unit

  /** One measured operation; its committed output goes under `out`.
    * Returns the workload's own counters for the operation.
    */
  def run(op: Int, out: String): Map[String, Double]

  /** Called once after the measured loop, untimed. */
  def finish(out: String): Map[String, Any] = Map.empty
}

/** Runs one workload for a fixed time and writes `results.json`: set-up
  * times, every operation (wall time, outcome, error path), the span
  * trace when tracing, and the environment stamp. Statistics and output
  * checks are computed from that file by `perfbench/run.py`.
  *
  * Usage: Main --workload W --data DIR --out DIR --seconds S --trace 0|1
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val data = opt("data")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val traceRun = opt("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val loadStart = loadavg()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = new Tracer(spark, traceRun)
    tracer.on = false
    val wl: Workload = name match {
      case "etl_star"      => new EtlStar(spark, data, out, tracer)
      case "llm_pretrain"  => new LlmPretrain(spark, data, out, tracer)
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val prepareS = timed(wl.prepare())
    val setupCpuS = processCpuNs() / 1e9

    // Measured loop. A traced run spends its first half untraced and its
    // second half traced, so both medians and both outputs come from one
    // process on one input.
    val ops = ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val untracedUntil = if (traceRun) seconds / 2 else seconds
    var i = 0
    def loop(until: Double, traced: Boolean, minOps: Int): Unit = {
      tracer.on = traced
      var n = 0
      while (elapsed < until || n < minOps) {
        tracer.beginOp(i)
        tracer.planMs.set(0)
        val start = elapsed
        val cpu0 = processCpuNs()
        val (res, err, path) =
          try (Some(tracer.span("op")(wl.run(i, s"$out/ops/$i"))), "", "")
          catch { case NonFatal(e) => (None, e.getClass.getName + ": " + String.valueOf(e.getMessage).take(300), tracer.failedPath) }
        val dur = elapsed - start
        val cpu = (processCpuNs() - cpu0) / 1e9
        tracer.endOp()
        tracer.drain()
        ops += Map("i" -> i, "traced" -> traced, "start_s" -> start, "dur_s" -> dur, "cpu_s" -> cpu,
          "ok" -> res.isDefined, "error" -> err, "path" -> path,
          "counters" -> res.getOrElse(Map.empty),
          "plan_ms" -> (if (traced) tracer.planMs.get().toDouble else 0.0))
        i += 1
        n += 1
      }
    }
    if (traceRun) {
      loop(untracedUntil, traced = false, minOps = 1)
      loop(seconds, traced = true, minOps = 1)
    } else loop(seconds, traced = false, minOps = 2)
    tracer.on = false
    val finishFacts =
      try wl.finish(out)
      catch { case NonFatal(e) => Map("finish_error" -> (e.getClass.getName + ": " + e.getMessage)) }

    val conf = spark.conf
    val env = Map(
      "nproc" -> cpus,
      "spark.default.parallelism" -> spark.sparkContext.defaultParallelism,
      "spark.sql.shuffle.partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "spark.sql.adaptive.enabled" -> conf.get("spark.sql.adaptive.enabled"),
      "spark.sql.adaptive.coalescePartitions.enabled" -> conf.get("spark.sql.adaptive.coalescePartitions.enabled"),
      "spark.sql.adaptive.skewJoin.enabled" -> conf.get("spark.sql.adaptive.skewJoin.enabled"),
      "spark.version" -> spark.version,
      "java.version" -> System.getProperty("java.version"),
      "jvm.max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "loadavg_start" -> loadStart,
      "loadavg_end" -> loadavg())
    val spans = tracer.spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9, "error" -> s.error,
        "cache_start_mb" -> s.cacheStartMb, "cache_mb" -> s.cacheMb,
        "spark" -> Tracer.SparkMetrics.zip(s.spark).toMap)
    }
    val result = Map(
      "workload" -> name, "trace" -> traceRun, "session_s" -> sessionS, "prepare_s" -> prepareS,
      "setup_cpu_s" -> setupCpuS,
      "seconds" -> seconds, "ops" -> ops, "spans" -> spans, "env" -> env,
      "facts" -> finishFacts, "peak_rss_mb" -> peakRssMb())
    spark.stop()
    Files.write(Paths.get(out, "results.json"), Json(result).getBytes(StandardCharsets.UTF_8))
  }

  private def timed(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  /** CPU time of every thread of this process since it started. Unlike
    * wall time it does not grow while the host takes the machine's cores
    * away (steal time), which on a shared host moves wall time by tens of
    * percent from run to run.
    */
  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case NonFatal(_) => "" }

  /** The process's resident-set high-water mark (VmHWM). */
  private def peakRssMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
        .split('\n').find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    } catch { case NonFatal(_) => 0.0 }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None                   => "null"
    case Some(x)                       => apply(x)
    case s: String                     => quote(s)
    case b: Boolean                    => b.toString
    case d: Double                     => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float                      => apply(f.toDouble)
    case n: Int                        => n.toString
    case n: Long                       => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]                => s.map(apply).mkString("[", ",", "]")
    case a: Array[_]                   => apply(a.toSeq)
    case x                             => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'           => b ++= "\\\""
      case '\\'          => b ++= "\\\\"
      case c if c < ' '  => b ++= f"\\u${c.toInt}%04x"
      case c             => b += c
    }
    b += '"'
    b.toString
  }
}
