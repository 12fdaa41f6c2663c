package perfbench

import scala.collection.mutable

/** What every pass hands to the shared run scaffolding. */
trait PassResult {
  def traced: Boolean
  def wallS: Double
  def cpuS: Double
  def tracer: Tracer
}

/** Set-up as `setup_s` reports it: the JVM start (and for a Spark
  * workload the SparkContext start) that one process makes once, the
  * median of the set-ups repeated in the run, and the warm-up passes. */
final case class SetUp(startupS: Double, unitS: Seq[Double], warmS: Seq[Double]) {
  def total: Double = startupS + Stats.median(unitS) + warmS.sum
}

/** The run shape both workload kinds share: repeated set-ups, warm-up
  * passes, timed passes until the run's seconds are spent, and the
  * trace artifact. */
object Harness {

  /** Runs `unit` `n` times; returns the last result and each run's seconds. */
  def repeat[A](n: Int)(unit: => A): (A, Seq[Double]) = {
    var last: Option[A] = None
    val secs = (0 until n).map { _ =>
      val t0 = System.nanoTime()
      last = Some(unit)
      (System.nanoTime() - t0) / 1e9
    }
    (last.get, secs)
  }

  /** Timed passes until `cfg.seconds` have passed, at least three. A
    * traced run alternates untraced and traced passes, at least two of
    * each, so the tracing overhead is measured in the same process. */
  def timedPasses[P <: PassResult](cfg: Main.Config)(pass: Boolean => P): Seq[P] = {
    val minPasses = if (cfg.trace) 4 else 3
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[P]
    while (out.size < minPasses || (System.nanoTime() - t0) / 1e9 < cfg.seconds)
      out += pass(cfg.trace && out.size % 2 == 1)
    out.toList
  }

  /** Median of the second half of the untraced passes over that of the
    * first half. Well under 1 means the passes were still speeding up
    * (the warm-up was too short for the JIT); it is printed, not gated. */
  def drift(passes: Seq[PassResult]): Double = {
    val w = passes.filterNot(_.traced).map(_.wallS)
    val half = w.size / 2
    if (half == 0) 1.0 else Stats.median(w.drop(w.size - half)) / Stats.median(w.take(half))
  }

  /** The run's one-line account of its set-up and passes. */
  def summary(s: SetUp, passes: Seq[PassResult]): String =
    f"startup=${s.startupS}%.3f setups=" + s.unitS.map(x => f"$x%.3f").mkString(",") +
      " warm=" + s.warmS.map(x => f"$x%.3f").mkString(",") +
      " passes=" + passes.map(p => f"${p.wallS}%.3f${if (p.traced) "t" else ""}").mkString(",") +
      f" drift=${drift(passes)}%.3f"

  /** `traced` pass wall median minus the untraced one. */
  def overheadS(passes: Seq[PassResult]): Double =
    Stats.median(passes.filter(_.traced).map(_.wallS)) -
      Stats.median(passes.filterNot(_.traced).map(_.wallS))

  /** Writes the trace artifact `out/trace-<workload>-seed<n>.json`: every
    * pass, the per-layer metrics, self seconds per layer (median over
    * traced passes), `fields` of the workload's own, and every span of
    * `spans` (one list per traced pass). Returns lines for the report. */
  def writeTrace[P <: PassResult](cfg: Main.Config, passes: Seq[P],
      passFields: P => Seq[(String, String)], layer: Map[String, Double],
      spans: Seq[Seq[Span]], fields: Seq[(String, String)]): Seq[String] = {
    val self = spans.map(Spans.selfByLayer)
    val layers = self.flatMap(_.keys).distinct.sorted
    val selfS = layers.map(l => l -> Json.num(Stats.median(self.map(_.getOrElse(l, 0L) / 1e9))))
    val t0 = spans.flatten.map(_.start).minOption.getOrElse(0L)
    val spanJson = spans.zipWithIndex.flatMap { case (ss, i) => ss.map { s =>
      Json.obj(Seq("pass" -> i.toString, "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer),
        "start_ms" -> Json.num((s.start - t0) / 1e6),
        "dur_ms" -> Json.num(s.dur / 1e6)))
    } }
    val doc = Json.obj(Seq(
      "workload" -> Json.str(cfg.workload), "seed" -> cfg.seed.toString,
      "passes" -> Json.arr(passes.map(p => Json.obj(Seq(
        "traced" -> p.traced.toString, "wall_s" -> Json.num(p.wallS),
        "cpu_s" -> Json.num(p.cpuS)) ++ passFields(p)))),
      "per_layer" -> Json.obj(layer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "self_s_per_pass" -> Json.obj(selfS)) ++ fields ++
      Seq("spans" -> Json.arr(spanJson)))
    val path = s"${cfg.out}/trace-${cfg.workload}-seed${cfg.seed}.json"
    writeFile(path, doc)
    Seq(s"trace written to $path",
      "self seconds per traced pass: " + selfS.map { case (l, v) => s"$l=$v" }.mkString(" "))
  }

  def writeFile(path: String, text: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, (text + "\n").getBytes("UTF-8"))
  }
}
