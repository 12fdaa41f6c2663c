package perfbench

import scala.collection.mutable
import scala.util.Random

import graft.SparkEntry
import graft.lineage.LineParser

/** One run of the lineage workload: seeded scripts plus every oracle
  * SQL statement, each parsed by a fresh `LineParser` and read through
  * its getters. No Spark session is started; this is the driver-only
  * layer. */
final class LineageRun(cfg: Main.Config) {
  import LineageRun._

  private val rnd = new Random(cfg.seed)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    Runtime.getRuntime.availableProcessors, (r: Runnable) => {
      val t = new Thread(r, "lineage-worker"); t.setDaemon(true); t
    })
  private var attempted = 0L
  private var failed = 0L
  private val info = mutable.ArrayBuffer.empty[String]

  private def items(): Seq[Item] = {
    val gen = LineageGen.scripts(cfg.seed, Scripts).zipWithIndex.map {
      case (s, i) => Item(s"script $i", s.sql, statements(s.sql), Some(s.truth))
    }
    val oracle = SparkEntry.oracleSql.toSeq.sortBy(_._1).map {
      case (n, sql) => Item(n, sql, statements(sql), None)
    }
    gen ++ oracle
  }

  private def parse(it: Item): LineParser = {
    val p = new LineParser(LineageGen.meta).parse(it.sql)
    p.getColLines; p.getInputTables; p.getOutputTables; p.getErrors
    p
  }

  /** Parses every item on the worker pool, one task per item, in
    * `order`; returns the results in item order. `onDone` gets each
    * item's index and its start and end nanoseconds. */
  private def parseAll(work: Seq[Item], order: Seq[Int],
      onDone: (Int, Long, Long) => Unit = (_, _, _) => ()): Array[LineParser] = {
    val results = new Array[LineParser](work.size)
    val tasks = order.map { i =>
      new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          val s0 = System.nanoTime()
          results(i) = parse(work(i))
          onDone(i, s0, System.nanoTime())
        }
      }
    }
    pool.invokeAll(java.util.Arrays.asList(tasks: _*)).forEach(_.get())
    results
  }

  def run(): Outcome = try measure() finally pool.shutdown()

  /** Set-up: generate the seeded scripts and parse them all once on the
    * worker pool (the parser's first, cold pass), made `SetUps` times;
    * then `WarmPasses` untimed passes. */
  private def measure(): Outcome = {
    val startup = Main.jvmUptimeS()
    val ((work, parsed), units) = Harness.repeat(SetUps) {
      val w = items()
      (w, parseAll(w, w.indices))
    }
    val parseErrors = verify(work, parsed.toSeq)
    val warm = Harness.repeat(WarmPasses)(pass(work, traced = false))._2
    val setUp = SetUp(startup, units, warm)
    val passes = Harness.timedPasses(cfg)(pass(work, _))
    val plain = passes.filterNot(_.traced)
    val traced = passes.filter(_.traced)
    val stmts = work.map(_.stmts).sum.toDouble
    val layer =
      if (traced.isEmpty) Map.empty[String, Double]
      else Map(
        "lineage.script_p50_ms" -> Stats.median(traced.map(p => Stats.quantile(p.scriptMs, 0.5))),
        "lineage.script_p99_ms" -> Stats.median(traced.map(p => Stats.quantile(p.scriptMs, 0.99))),
        "lineage.stmts" -> stmts,
        "lineage.col_lines" -> Stats.median(traced.map(_.colLines.toDouble)),
        "lineage.parse_errors" -> parseErrors.toDouble,
        "trace.overhead_s" -> Harness.overheadS(passes))
    if (cfg.trace)
      info ++= Harness.writeTrace(cfg, passes, (_: Pass) => Nil, layer,
        traced.map(_.tracer.all), Nil)
    Outcome(attempted, failed,
      Seq(Metric("setup_s", setUp.total, "s"),
        Metric("pass_s", Stats.median(plain.map(_.wallS)), "s"),
        Metric("cpu_s", Stats.median(plain.map(_.cpuS)), "s")),
      Main.perLayer(layer),
      Seq(Metric("storage_peak_mb", 0.0, "MB"),
        Metric("pass_samples", plain.size.toDouble, "count"),
        Metric("ops_per_pass", work.size.toDouble, "count"),
        Metric("statements_per_pass", stmts, "count")),
      info.toList :+ Harness.summary(setUp, passes))
  }

  /** One pass: the scripts in seeded order, parsed by one worker per
    * core, as a batch analyzer would. A single CPU-bound thread stays
    * on one core, and the cores of a shared host slow down unevenly.
    * Results are checked after the clock stops. */
  private def pass(work: Seq[Item], traced: Boolean): Pass = {
    val tracer = new Tracer
    val order = rnd.shuffle(work.indices.toList)
    val ms = new Array[Double](work.size)
    val cpu0 = Main.processCpuS()
    val t0 = System.nanoTime()
    val pid = if (traced) tracer.open("pass", "pass") else -1
    val results = parseAll(work, order, (i, s0, s1) => {
      ms(i) = (s1 - s0) / 1e6
      if (traced)
        tracer.add(Span(tracer.newId(), pid, work(i).name, "script", s0, s1))
    })
    if (traced) tracer.close(pid)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Main.processCpuS() - cpu0
    verify(work, results.toSeq)
    Pass(traced, wall, cpu, ms.toSeq,
      results.map(_.getColLines.size.toLong).sum, tracer)
  }

  /** Checks each result: generated scripts against their ground truth,
    * oracle statements by the corpus rule. Returns the number of oracle
    * statements that failed to parse with a `ParseException`. */
  private def verify(work: Seq[Item], results: Seq[LineParser]): Int = {
    var parseErrors = 0
    work.zip(results).foreach { case (it, p) =>
      attempted += 1
      val problem = it.truth match {
        case Some(t) => LineageGen.check(p, t)
        case None => LineageGen.checkOracle(p, it.sql) match {
          case Right(parsed) => if (!parsed) parseErrors += 1; None
          case Left(why) => Some(why)
        }
      }
      problem.foreach { why =>
        failed += 1
        if (failed <= 20) info += s"${it.name}: $why\n${it.sql}"
      }
    }
    parseErrors
  }
}

object LineageRun {
  val SetUps = 3
  /** Untimed passes after the set-ups' own parse of every script. With
    * the default tiered JIT the pass time stopped falling after about
    * 12,000 parses (README.md, Settings). */
  val WarmPasses = 8

  /** A script to parse; `truth` is None for an oracle statement. */
  private final case class Item(name: String, sql: String, stmts: Int,
      truth: Option[LineageGen.Truth])

  private final case class Pass(traced: Boolean, wallS: Double, cpuS: Double,
      scriptMs: Seq[Double], colLines: Long, tracer: Tracer) extends PassResult

  /** Generated scripts per pass, besides the oracle statements. */
  val Scripts = 1200

  /** Statements in a script, split as `LineParser.parse` splits them. */
  def statements(sql: String): Int =
    sql.split("(?<!\\\\);").count(_.trim.nonEmpty)
}
