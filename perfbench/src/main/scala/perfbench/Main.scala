package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The JVM side of the benchmark: runs one workload against inputs that
  * `run.py` generated, times the program's public calls from outside,
  * and writes every measurement to a JSON file for `run.py` to check
  * and report.
  *
  * Arguments: `<workload> <workDir> <seconds> <trace 0|1> <split 0|1>
  * <cores> <seed> <outFile>`.
  *
  * With trace 1 the measured phase runs with spans and listeners on and
  * yields the per-layer split; `run.py` compares it with an untraced
  * run in another fresh JVM on the same inputs for the overhead. Both
  * JVMs of such a per-layer run get split 1: one set-up and the fewest
  * measured operations, since they report no end-to-end metric. */
object Main {

  /** What one measured phase of a workload produced. */
  final class Phase {
    /** Wall time of each foreground operation, ms. */
    val opMs = mutable.ArrayBuffer.empty[Double]
    /** Process CPU per foreground operation, ms. */
    val opCpuMs = mutable.ArrayBuffer.empty[Double]
    var measuredSec = 0.0
    var attempted = 0L
    var failed = 0L
    /** Workload-specific metrics: name -> (value, unit, samples). */
    val named = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
    /** Per-layer metrics (traced runs only). */
    val layer = mutable.LinkedHashMap.empty[String, Double]
    def name(k: String, v: Double, unit: String, n: Int): Unit = named(k) = (v, unit, n)
  }

  trait Workload {
    /** One-off warm-up of the code paths the workload measures (JIT,
      * codegen, first-use class loading); runs before the set-up. */
    def warmup(spark: SparkSession): Unit
    /** The workload's set-up: a fresh session and the tables it reads,
      * populated from scratch. Runs `setupReps` times (once in a
      * per-layer run); the last one set up is the one measured. */
    def setup(spark: SparkSession, rep: Int): Unit
    /** Set-ups per run; `setup_s` is their median. */
    def setupReps: Int = 3
    /** One measured phase of about `seconds`. */
    def measure(spark: SparkSession, seconds: Double, traced: Boolean): Phase
    /** Output checks, run after measuring; returns failure messages. */
    def check(spark: SparkSession): Seq[String]
    /** Extra JSON fields for run.py (observations it checks itself). */
    def extra: Seq[(String, String)] = Nil
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, secondsArg, traceArg, splitArg, coresArg, seedArg, outFile) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val split = splitArg == "1"
    val cores = coresArg.toInt
    val info = mutable.LinkedHashMap.empty[String, String]
    info("nproc") = Runtime.getRuntime.availableProcessors.toString
    info("loadavg_start") = f"${Sys.loadAvg}%.2f"
    Sys.calibrationProbe()
    info("calibration_start_ms") = f"${Sys.calibrationProbe()}%.1f"

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // as in the program's own Bench: sketch aggregations stay hash-based
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(workDir, "warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val w: Workload = workload match {
      case "etl_cycle" => new Etl(workDir, seedArg.toLong, if (split) 1 else Etl.MinRounds)
      case "analytics_cold" => new Analytics(workDir)
      case other => sys.error(s"unknown workload $other")
    }
    val startSec = (System.nanoTime() - t0) / 1e9
    val tw = System.nanoTime()
    w.warmup(spark)
    val warmupSec = (System.nanoTime() - tw) / 1e9
    val setupSecs = (0 until (if (split) 1 else w.setupReps)).map { r =>
      val t = System.nanoTime()
      w.setup(spark, r)
      (System.nanoTime() - t) / 1e9
    }

    if (traced) Trace.start(Trace.watch(spark))
    val phase = w.measure(spark, seconds, traced)
    val checks = w.check(spark)
    info("calibration_end_ms") = f"${Sys.calibrationProbe()}%.1f"
    info("peak_rss_mb") = f"${Sys.peakRssMb}%.1f"
    spark.stop()

    val sb = new StringBuilder("{")
    def field(k: String, v: String): Unit = {
      if (sb.length > 1) sb.append(",")
      sb.append(graft.Json.str(k)).append(":").append(v)
    }
    field("setup_s", setupSecs.map(Json.num).mkString("[", ",", "]"))
    field("start_s", Json.num(startSec))
    field("warmup_s", Json.num(warmupSec))
    field("total_s", Json.num((System.nanoTime() - t0) / 1e9))
    field("peak_rss_mb", Json.num(Sys.peakRssMb))
    field("phase", phaseJson(phase))
    field("check_failures", checks.map(graft.Json.str).mkString("[", ",", "]"))
    field("info", info.map { case (k, v) => graft.Json.str(k) + ":" + graft.Json.str(v) }.mkString("{", ",", "}"))
    w.extra.foreach { case (k, v) => field(k, v) }
    sb.append("}")
    Files.writeString(Paths.get(outFile), sb.toString)
  }

  private def phaseJson(p: Phase): String = {
    val named = p.named.map { case (k, (v, u, n)) =>
      graft.Json.str(k) + s""":{"value":${Json.num(v)},"unit":${graft.Json.str(u)},"n":$n}"""
    }
    val layer = p.layer.map { case (k, v) => graft.Json.str(k) + ":" + Json.num(v) }
    Seq(
      "\"op_ms\":" + p.opMs.map(Json.num).mkString("[", ",", "]"),
      "\"op_cpu_ms\":" + p.opCpuMs.map(Json.num).mkString("[", ",", "]"),
      "\"measured_s\":" + Json.num(p.measuredSec),
      "\"attempted\":" + p.attempted,
      "\"failed\":" + p.failed,
      "\"named\":" + named.mkString("{", ",", "}"),
      "\"layer\":" + layer.mkString("{", ",", "}")).mkString("{", ",", "}")
  }
}

object Json {
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}

/** Process and machine probes. */
object Sys {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean

  def loadAvg: Double = os.getSystemLoadAverage

  /** Process CPU time (all threads), ms. */
  def cpuMs: Double = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e6
    case _ => Double.NaN
  }

  /** The process's resident-set high-water mark, MB (Linux `VmHWM`). */
  def peakRssMb: Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) Double.NaN
    else Files.readAllLines(f).toArray.map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** A fixed single-thread integer workload (SplitMix64 mixing, no
    * allocation, no I/O), timed in ms: identical work on every run, so
    * its time varies only with the machine. */
  def calibrationProbe(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 100000000L) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      acc ^= z ^ (z >>> 31)
      i += 1
    }
    if (acc == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e6
  }
}

/** Order statistics over samples. */
object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
}
