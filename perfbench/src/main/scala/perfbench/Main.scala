package perfbench

import java.lang.management.ManagementFactory

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      [--data <dir>] [--out <dir>] [--expected <file>] [--record]
  * }}}
  *
  * Prints every metric with its unit, then one JSON line:
  * `{"correct", "attempted", "failed", "metrics"}` where `metrics` holds
  * the end-to-end metrics (trace 0) or the per-layer metrics (trace 1).
  * Exits non-zero, printing no result line, if the run cannot be made.
  * `--record` writes the expected output digests of every Spark
  * workload's operations instead of measuring. */
object Main {

  final case class Config(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: String, expected: String,
      record: Boolean)

  /** Per-layer metrics, in report order, with their units. Every
    * workload reports all of them; a layer it does not run reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "lineage.script_p50_ms" -> "ms", "lineage.script_p99_ms" -> "ms",
    "lineage.stmts" -> "count", "lineage.col_lines" -> "count",
    "lineage.parse_errors" -> "count",
    "build.s" -> "s", "build.jobs" -> "count", "build.job_s" -> "s",
    "build.driver_s" -> "s", "build.task_cpu_s" -> "s",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.executions" -> "count",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_cpu_s" -> "s",
    "exec.task_run_s" -> "s", "exec.sched_delay_s" -> "s",
    "exec.gc_s" -> "s", "exec.input_mb" -> "MB",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB",
    "core_util" -> "ratio", "operators.storage_after_mb" -> "MB",
    "engine.register_s" -> "s", "storage_peak_mb" -> "MB",
    "counters.jobs_varying_ops" -> "count", "trace.overhead_s" -> "s")

  def perLayer(values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    PerLayer.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }

  /** Process CPU seconds: driver, executors, JIT and GC alike. */
  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Seconds since the JVM started. */
  def jvmUptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def parse(args: Array[String]): Config = {
    val kv = scala.collection.mutable.Map.empty[String, String]
    var record = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--record" => record = true; i += 1
        case k if k.startsWith("--") && i + 1 < args.length =>
          kv(k.drop(2)) = args(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"bad argument $other")
      }
    }
    def need(k: String): String =
      kv.getOrElse(k, if (record) "" else
        throw new IllegalArgumentException(s"--$k is required"))
    val workload = need("workload")
    require(record || Workloads.names.contains(workload),
      s"unknown workload '$workload' (have ${Workloads.names.mkString(", ")})")
    val trace = kv.getOrElse("trace", "0")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Config(workload, kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toDouble, trace == "1",
      kv.getOrElse("data", "perfbench/data/sf0.01"),
      kv.getOrElse("out", "perfbench/out"),
      kv.getOrElse("expected", "perfbench/expected/digests.tsv"), record)
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val cfg = parse(args)
        new java.io.File(cfg.out).mkdirs()
        if (cfg.record) { SparkRun.record(cfg); 0 }
        else {
          val o =
            if (cfg.workload == Workloads.Lineage) new LineageRun(cfg).run()
            else new SparkRun(cfg).run()
          report(cfg, o)
          0
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] failed: $e")
          e.printStackTrace()
          1
      }
    System.out.flush()
    // Spark can leave non-daemon threads behind after stop(); exit
    // runs the shutdown hooks (Spark's temp-dir cleanup) without
    // waiting for them
    sys.exit(code)
  }

  private def report(cfg: Config, o: Outcome): Unit = {
    val failRatio = o.failed.toDouble / o.attempted
    o.info.foreach(l => println(s"[perfbench] $l"))
    (o.endToEnd ++ o.extra ++ Seq(Metric("fail_ratio", failRatio, "ratio")) ++
      (if (cfg.trace) o.perLayer else Nil)).foreach { m =>
      println(f"${m.name}%-28s ${m.value}%14.6f ${m.unit}")
    }
    val shown = if (cfg.trace) o.perLayer else o.endToEnd
    println(Json.obj(Seq(
      "correct" -> (if (o.failed == 0) "true" else "false"),
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "metrics" -> Json.metrics(shown))))
  }
}
