package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** A build-once value shared across queries: one corpus-derived
  * artifact (a localCheckpoint frame, a driver-built local frame, or
  * Lloyd's (stats, assignment) pair) that several gated queries read
  * instead of each rebuilding it. Every memo in the repo is one of
  * these and keeps the same contract:
  *
  *  - Key: session identity (`eq`) plus `key` — the data dir, or
  *    (dir, k) for the s09 graph. One slot per memo: a new key
  *    replaces the old value.
  *  - [[apply]] (consumers): a hit when the slot holds the same
  *    session and key and every frame of the value passes
  *    [[Memos.alive]] (the lost-checkpoint probe, run only on frames
  *    with a checkpoint leaf); otherwise [[publish]] inside
  *    [[Memos.timedBuild]], so the cold build shows up in Bench's
  *    `memo_build_sec`.
  *  - [[publish]] (gated producers): always rebuild, then store. The
  *    query that IS the build keeps its own cost honest and is never
  *    served from the memo; only derived consumers are.
  *  - Invalidation: every memo registers itself on creation, and
  *    [[Memos.invalidate]] clears them all.
  *
  * The memos assume the parquet under a dir is immutable for the
  * session (true of the batch gate) and a single-threaded driver,
  * like every query builder in this repo. */
private[graft] final class Memo[K, V](name: String, dirOf: K => String,
    frames: V => Seq[DataFrame])(build: (SparkSession, K) => V) {
  @volatile private var slot: Option[(SparkSession, K, V)] = None
  Memos.register(this)

  def apply(s: SparkSession, key: K): V = slot match {
    case Some((ms, mk, v)) if (ms eq s) && mk == key &&
        frames(v).forall(Memos.alive) => v
    case _ => Memos.timedBuild(name, dirOf(key))(publish(s, key))
  }

  def publish(s: SparkSession, key: K): V = {
    val v = build(s, key)
    slot = Some((s, key, v))
    v
  }

  private[operators] def clear(): Unit = slot = None
}

private[graft] object Memo {
  /** A one-frame memo keyed by (session, dir). */
  def apply(name: String)(
      build: (SparkSession, String) => DataFrame): Memo[String, DataFrame] =
    new Memo[String, DataFrame](name, identity, Seq(_))(build)
}

/** The registry behind every [[Memo]]: invalidation, the
  * lost-checkpoint liveness probe and the build-cost record. */
object Memos {
  private val registry =
    new java.util.concurrent.ConcurrentLinkedQueue[Memo[_, _]]()

  private[operators] def register(m: Memo[_, _]): Unit = registry.add(m)

  /** Drops every memo. The memos deliberately survive
    * `spark.catalog.clearCache()` (their frames are checkpoints), so
    * a long-lived session that rewrites the files under a dir calls
    * this; the next access rebuilds from the current files. The
    * dropped frames' checkpoint blocks are reclaimed by the
    * ContextCleaner once they are unreachable. Probe freshness goes
    * with the frames, so the next access to a rebuilt or surviving
    * frame probes again. */
  def invalidate(): Unit = {
    registry.forEach(_.clear())
    lastProbeNs.clear()
  }

  /** Build seconds per memo frame, ("frame|dir" → seconds), recorded
    * by [[timedBuild]] around each cold build and drained by Bench
    * into the bench JSON's `memo_build_sec` map: the cold-start cost
    * that median-of-repeats excludes from steady-state numbers (a
    * memo pays its build inside whichever query touches it first, so
    * otherwise it shows only as that query's sample spread). Each
    * entry is the build's self time: a memo built inside another
    * memo's build is charged to itself only. Values accumulate per
    * key, so a rebuild after [[invalidate]] adds to the same total. */
  private[graft] val buildSec =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Seconds of nested [[timedBuild]]s inside the current one. */
  private val nestedSec = ThreadLocal.withInitial[Double](() => 0.0)

  private[operators] def timedBuild[T](frame: String, dir: String)(
      body: => T): T = {
    val outer = nestedSec.get
    nestedSec.set(0.0)
    val t0 = System.nanoTime()
    def sec = (System.nanoTime() - t0) / 1e9
    try {
      val r = body
      buildSec.merge(s"$frame|$dir",
        java.lang.Double.valueOf(sec - nestedSec.get),
        (a, b) => java.lang.Double.valueOf(a + b))
      r
    } finally nestedSec.set(outer + sec)
  }

  /** Snapshot of the recorded build costs for `dir`, frame → sec. */
  private[graft] def buildSecFor(dir: String): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildSec.asScala.toMap.collect {
      case (k, v) if k.endsWith(s"|$dir") =>
        k.stripSuffix(s"|$dir") -> v.doubleValue()
    }
  }

  private val ProbeIntervalNs = 30L * 1000 * 1000 * 1000
  private[graft] val lastProbeNs =
    new java.util.concurrent.ConcurrentHashMap[Seq[Long], java.lang.Long]()

  /** A frame's checkpoint identity: the ids of ALL LogicalRDD leaves
    * in its plan, sorted, or None when it has none. A frame composed
    * over two checkpoints keys on both, so probing one cannot vouch
    * for the other. RDD ids come from a SparkContext-global counter
    * that is never recycled, so a rebuilt frame never inherits a
    * dropped frame's probe freshness. */
  private[graft] def probeKey(g: DataFrame): Option[Seq[Long]] = {
    val ids = g.queryExecution.logical.collect {
      case r: LogicalRDD => r.rdd.id.toLong
    }.sorted
    if (ids.isEmpty) None else Some(ids)
  }

  /** Lost-checkpoint liveness probe, run on every memo hit.
    * localCheckpoint blocks are unreplicated: on a real cluster an
    * executor loss poisons a memoized frame, and without a probe the
    * memo would hand out the dead frame until [[invalidate]]. The
    * probe is a bounded 1-row job (limit(1).count) over the
    * checkpoint storage; if the blocks are gone it throws, the hit
    * becomes a miss and the memo rebuilds from the files.
    *
    *  - Only frames with a checkpoint leaf (a [[probeKey]]) are
    *    probed. A frame without one (a driver-built local relation,
    *    such as DupCluster's labels after the hand-off) has no
    *    executor blocks to lose and is served with no job.
    *  - Rate-limited per key: a frame probed alive within
    *    [[ProbeIntervalNs]] is trusted without a job, because hot
    *    memos are consulted during plan construction (EXPLAIN sweeps,
    *    the plan census). The cost is a ≤30 s window after an
    *    executor loss in which the consumer's own action throws and
    *    the next access rebuilds.
    *  - The probe reads at most one partition, so it cannot see a
    *    partial loss confined to a later partition; a session that
    *    knows it lost executors calls [[invalidate]]. */
  private[operators] def alive(g: DataFrame): Boolean = probeKey(g) match {
    case None => true
    case Some(key) =>
      val now = System.nanoTime()
      if (Option(lastProbeNs.get(key)).exists(now - _ < ProbeIntervalNs)) true
      else
        try {
          g.limit(1).count()
          lastProbeNs.put(key, now)
          true
        } catch { case scala.util.control.NonFatal(_) =>
          lastProbeNs.remove(key); false }
  }
}
