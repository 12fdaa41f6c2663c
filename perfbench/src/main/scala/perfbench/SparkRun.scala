package perfbench

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.engine.Tables
import graft.operators.Memos

/** One run of a Spark workload: set up, verify every operation's
  * output against its recorded digest, then time passes over the
  * operation list until the run's seconds are spent. In a traced run
  * untraced and traced passes alternate, so the tracing overhead is
  * measured in the same process. */
final class SparkRun(cfg: Main.Config) {
  import SparkRun._

  private val groups = Workloads.Spark(cfg.workload)
  private val ops = groups.flatten
  private val cores = Runtime.getRuntime.availableProcessors
  private val rnd = new Random(cfg.seed)
  private var attempted = 0L
  private var failed = 0L
  private val info = mutable.ArrayBuffer.empty[String]

  def run(): Outcome = {
    val (spark, startup, units, registers) = setUp()
    try {
      verify(spark)
      val warm = Harness.repeat(WarmPasses)(pass(spark, traced = false))._2
      val setUp = SetUp(startup, units, warm)
      val passes = Harness.timedPasses(cfg)(pass(spark, _))
      val plain = passes.filterNot(_.traced)
      val traced = passes.filter(_.traced)
      val endToEnd = Seq(
        Metric("setup_s", setUp.total, "s"),
        Metric("pass_s", perOpMedians(plain)(_.wallS), "s"),
        Metric("cpu_s", perOpMedians(plain)(_.cpuS), "s"))
      val extra = Seq(
        Metric("storage_peak_mb", Stats.median(plain.map(_.peakBytes / MB)), "MB"),
        Metric("pass_samples", plain.size.toDouble, "count"),
        Metric("ops_per_pass", ops.size.toDouble, "count"))
      val layer =
        if (traced.isEmpty) Map.empty[String, Double]
        else perLayer(traced, Stats.median(registers)) +
          ("trace.overhead_s" -> Harness.overheadS(passes))
      if (cfg.trace) info ++= writeTrace(passes, layer)
      Outcome(attempted, failed, endToEnd, Main.perLayer(layer), extra,
        info.toList :+ s"cores=$cores ${Harness.summary(setUp, passes)}")
    } finally spark.stop()
  }

  /** Set-up. The JVM, the SparkContext and a first session start once
    * (`startup`, in seconds since the JVM started); then a session's
    * own set-up, a new session and `Tables.ensure`, is made `SetUps`
    * times. Returns the last session, the startup seconds, each
    * set-up's seconds, and each `Tables.ensure`'s seconds. */
  private def setUp(): (SparkSession, Double, Seq[Double], Seq[Double]) = {
    val root = session(cfg)
    val startup = Main.jvmUptimeS()
    val registers = mutable.ArrayBuffer.empty[Double]
    val (spark, units) = Harness.repeat(SetUps) {
      val s = root.newSession()
      val r0 = System.nanoTime()
      Tables.ensure(s, cfg.data)
      registers += (System.nanoTime() - r0) / 1e9
      s
    }
    (spark, startup, units, registers.toList)
  }

  /** The untimed verification pass. Every operation that throws or
    * whose digest differs from the recorded one counts as failed. */
  private def verify(spark: SparkSession): Unit = {
    val expected = readExpected(cfg.expected)
    Memos.invalidate()
    spark.catalog.clearCache()
    Workloads.order(groups, rnd).foreach { op =>
      attempted += 1
      val problem =
        try {
          val d = Digest.of(SparkEntry.queries(op)(spark, cfg.data))
          expected.get(op) match {
            case Some(e) if e == d => None
            case Some(e) => Some(s"output ${d.rows} rows ${d.hex}, " +
              s"expected ${e.rows} rows ${e.hex}")
            case None => Some("no recorded digest")
          }
        } catch { case NonFatal(e) => Some(s"threw $e") }
      problem.foreach { p => failed += 1; info += s"$op: $p" }
    }
    spark.catalog.clearCache()
  }

  /** One pass with memos cold: per operation, the driver-side
    * frame build (`SparkEntry.queries`) and its execution through the
    * `noop` sink, each in its own span. */
  private def pass(spark: SparkSession, traced: Boolean): Pass = {
    val sc = spark.sparkContext
    val tracer = new Tracer
    val counters = new Counters(tracer)
    Memos.invalidate()
    spark.catalog.clearCache()
    if (traced) {
      sc.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    val order = Workloads.order(groups, rnd)
    val cpu0 = Main.processCpuS()
    val t0 = System.nanoTime()
    val pid = tracer.open("pass", "pass")
    var peak = 0L
    val qs = order.map { op =>
      val opCpu0 = Main.processCpuS()
      val qid = tracer.open(op, "query")
      attempted += 1
      val bid = tracer.open("build", "build")
      sc.setLocalProperty(Counters.SpanKey, bid.toString)
      var build: Span = null
      var exec: Option[Span] = None
      try {
        val df = SparkEntry.queries(op)(spark, cfg.data)
        build = tracer.close(bid)
        val eid = tracer.open("exec", "exec")
        sc.setLocalProperty(Counters.SpanKey, eid.toString)
        try df.write.format("noop").mode("overwrite").save()
        finally exec = Some(tracer.close(eid))
        if (traced) counters.record(df.queryExecution)
      } catch {
        case NonFatal(e) =>
          failed += 1
          info += s"$op threw $e"
          if (build == null) build = tracer.close(bid)
      }
      sc.setLocalProperty(Counters.SpanKey, null)
      if (traced)
        try counters.fence(sc, Set(build.id) ++ exec.map(_.id))
        catch {
          case NonFatal(e) => failed += 1; info += s"$op: $e"
        }
      val st = storageBytes(spark)
      peak = math.max(peak, st)
      val query = tracer.close(qid)
      Q(op, query, build, exec, st, if (traced) counters.takePhases() else Nil,
        query.dur / 1e9, Main.processCpuS() - opCpu0)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Main.processCpuS() - cpu0
    tracer.close(pid)
    spark.catalog.clearCache()
    val after = storageBytes(spark)
    if (traced) {
      sc.removeSparkListener(counters)
      spark.listenerManager.unregister(counters)
    }
    Pass(traced, wall, cpu, peak, after, qs, tracer, counters)
  }

  /** A pass's time composed from per-operation medians: each
    * operation's median over `passes`, summed over the operation list.
    * The host's CPU speed drifts over seconds; a slow stretch lands on
    * different operations in each (reshuffled) pass, and a per-operation
    * median drops it where a median of pass sums would not. */
  private def perOpMedians(passes: Seq[Pass])(f: Q => Double): Double =
    ops.map(op => Stats.median(passes.flatMap(_.qs.filter(_.op == op).map(f)))).sum

  /** Per-layer totals of one traced pass. */
  private def totals(p: Pass, registerS: Double): Map[String, Double] = {
    val builds = p.qs.map(q => q.build -> p.counters.workOf(q.build.id))
    val execs = p.qs.flatMap(q => q.exec.map(e => e -> p.counters.workOf(e.id)))
    val phases = p.qs.flatMap(_.phases)
    def sum(ws: Seq[(Span, Work)])(f: Work => Double): Double = ws.map(x => f(x._2)).sum
    val buildS = builds.map(_._1.dur).sum / 1e9
    val buildJobS = builds.map { case (s, w) =>
      Spans.covered(s.start, s.end, w.jobIvs.toSeq) }.sum / 1e9
    val taskCpu = sum(builds ++ execs)(_.taskCpuNs / 1e9)
    Map(
      "build.s" -> buildS,
      "build.jobs" -> sum(builds)(_.jobs.toDouble),
      "build.job_s" -> buildJobS,
      "build.driver_s" -> (buildS - buildJobS),
      "build.task_cpu_s" -> sum(builds)(_.taskCpuNs / 1e9),
      "catalyst.analysis_ms" -> phases.map(_.ms("analysis")).sum,
      "catalyst.optimization_ms" -> phases.map(_.ms("optimization")).sum,
      "catalyst.planning_ms" -> phases.map(_.ms("planning")).sum,
      "catalyst.executions" -> phases.size.toDouble,
      "exec.s" -> execs.map(_._1.dur).sum / 1e9,
      "exec.jobs" -> sum(execs)(_.jobs.toDouble),
      "exec.stages" -> sum(execs)(_.stages.toDouble),
      "exec.tasks" -> sum(execs)(_.tasks.toDouble),
      "exec.task_cpu_s" -> sum(execs)(_.taskCpuNs / 1e9),
      "exec.task_run_s" -> sum(execs)(_.taskRunMs / 1e3),
      "exec.sched_delay_s" -> sum(execs)(_.schedDelayMs / 1e3),
      "exec.gc_s" -> sum(execs)(_.gcMs / 1e3),
      "exec.input_mb" -> sum(execs)(_.inputBytes / MB),
      "exec.shuffle_write_mb" -> sum(execs)(_.shuffleWriteBytes / MB),
      "exec.shuffle_read_mb" -> sum(execs)(_.shuffleReadBytes / MB),
      "exec.spill_mb" -> sum(execs)(_.spillBytes / MB),
      "core_util" -> taskCpu / (p.wallS * cores),
      "operators.storage_after_mb" -> p.afterBytes / MB,
      "engine.register_s" -> registerS,
      "storage_peak_mb" -> p.peakBytes / MB)
  }

  private def perLayer(traced: Seq[Pass], registerS: Double): Map[String, Double] = {
    val each = traced.map(totals(_, registerS))
    val merged = each.head.keys.map(k => k -> Stats.median(each.map(_(k)))).toMap
    merged + ("counters.jobs_varying_ops" -> varying(traced, "jobs").size.toDouble)
  }

  /** A query's counters in one traced pass. */
  private def counts(p: Pass, q: Q): Map[String, Long] = {
    val ws = Seq(p.counters.workOf(q.build.id)) ++
      q.exec.map(e => p.counters.workOf(e.id))
    Map(
      "jobs" -> ws.map(_.jobs).sum, "stages" -> ws.map(_.stages).sum,
      "tasks" -> ws.map(_.tasks).sum,
      "input_bytes" -> ws.map(_.inputBytes).sum,
      "shuffle_write_bytes" -> ws.map(_.shuffleWriteBytes).sum,
      "shuffle_read_bytes" -> ws.map(_.shuffleReadBytes).sum)
  }

  /** Operations whose `counter` differed between traced passes. */
  private def varying(traced: Seq[Pass], counter: String): Seq[String] =
    ops.filter { op =>
      traced.flatMap(p => p.qs.filter(_.op == op).map(q => counts(p, q)(counter)))
        .distinct.size > 1
    }

  /** Catalyst spans of a query: one per QueryExecution, under the
    * benchmark span open when it started, with a child per phase. */
  private def catalystSpans(p: Pass, q: Q): Seq[Span] = q.phases.flatMap { ph =>
    val parent = (Seq(q.build) ++ q.exec)
      .find(s => s.start <= ph.startNs && ph.startNs <= s.end)
      .getOrElse(q.query)
    val qe = Span(p.tracer.newId(), parent.id, "query execution", "catalyst_qe",
      ph.startNs, ph.endNs)
    qe +: ph.phases.map { case (n, a, b) =>
      Span(p.tracer.newId(), qe.id, n, "catalyst", a, b) }
  }

  private def writeTrace(passes: Seq[Pass], layer: Map[String, Double]): Seq[String] = {
    val traced = passes.filter(_.traced)
    val queries = ops.map { op =>
      val rows = traced.flatMap(p => p.qs.filter(_.op == op).map(q => (p, q)))
      def med(f: ((Pass, Q)) => Double): String = Json.num(Stats.median(rows.map(f)))
      Json.obj(Seq(
        "op" -> Json.str(op),
        "build_s" -> med(_._2.build.dur / 1e9),
        "exec_s" -> med(_._2.exec.map(_.dur / 1e9).getOrElse(0.0)),
        "catalyst_ms" -> med(_._2.phases.map(ph => ph.phases.map(x => (x._3 - x._2) / 1e6).sum).sum),
        "storage_mb" -> med(_._2.storageBytes / MB)) ++
        Seq("jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes",
          "shuffle_read_bytes").map(c =>
          c -> Json.arr(rows.map { case (p, q) => counts(p, q)(c).toString })))
    }
    val repeat = Seq("jobs", "stages", "tasks", "input_bytes",
      "shuffle_write_bytes", "shuffle_read_bytes").map { c =>
      c -> Json.arr(varying(traced, c).map(Json.str)) }
    Harness.writeTrace(cfg, passes,
      (p: Pass) => Seq(
          "storage_peak_mb" -> Json.num(p.peakBytes / MB),
          "storage_after_mb" -> Json.num(p.afterBytes / MB)),
      layer, traced.map(p => p.tracer.all ++ p.qs.flatMap(catalystSpans(p, _))),
      Seq("cores" -> cores.toString,
        "unattributed_jobs" -> traced.map(_.counters.unattributed.jobs).sum.toString,
        "counters_varying_across_passes" -> Json.obj(repeat),
        "queries" -> Json.arr(queries)))
  }
}

object SparkRun {
  val SetUps = 3
  /** Untimed passes after verification. Each pass rebuilds its memos;
    * with the default tiered JIT the pass time of `corpus_iterative`
    * stopped falling after about eight passes (README.md, Settings). */
  val WarmPasses = 8

  /** One operation of a pass. `phases` are only recorded when traced. */
  private final case class Q(op: String, query: Span, build: Span,
      exec: Option[Span], storageBytes: Long, phases: Seq[Phases],
      wallS: Double, cpuS: Double)

  private final case class Pass(traced: Boolean, wallS: Double, cpuS: Double,
      peakBytes: Long, afterBytes: Long, qs: Seq[Q], tracer: Tracer,
      counters: Counters) extends PassResult
  val MB: Double = 1024.0 * 1024.0

  /** A local session on every core, with as many shuffle partitions;
    * Spark's temporary files stay under the run's output directory. */
  def session(cfg: Main.Config): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.broadcastTimeout", "3600")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.out}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  @annotation.nowarn("cat=deprecation")
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Recorded digests: one `op<TAB>rows<TAB>hex` line per operation. */
  def readExpected(path: String): Map[String, Digest.Result] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(op, rows, hex) = l.split("\t")
      op -> Digest.Result(rows.toLong, java.lang.Long.parseUnsignedLong(hex, 16))
    }.toMap
    finally src.close()
  }

  /** Records the digest of every Spark workload operation's output. */
  def record(cfg: Main.Config): Unit = {
    val spark = session(cfg)
    try {
      Tables.ensure(spark, cfg.data)
      val lines = Workloads.Spark.toSeq.sortBy(_._1).flatMap { case (_, groups) =>
        Memos.invalidate()
        spark.catalog.clearCache()
        groups.flatten.map { op =>
          val d = Digest.of(SparkEntry.queries(op)(spark, cfg.data))
          s"$op\t${d.rows}\t${d.hex}"
        }
      }.sorted
      Harness.writeFile(cfg.expected, lines.mkString("\n"))
      println(s"recorded ${lines.size} digests to ${cfg.expected}")
    } finally spark.stop()
  }
}
