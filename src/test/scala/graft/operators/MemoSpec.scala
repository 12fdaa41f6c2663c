package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** Laws of the one [[Memo]] contract (see `Memos.scala`): a hit hands
  * out the same value, [[Memos.invalidate]] forces a rebuild of every
  * memo, a frame whose checkpoint blocks are lost is rebuilt instead
  * of handed out, and a frame with no checkpoint leaf is served with
  * no probe job. The probe is a real Spark job, so the job laws count
  * jobs through a listener rather than peeking at private state.
  */
class MemoSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.01"

  /** Count Spark jobs started while `body` runs. Job IDS are
    * recorded (not a bare counter) and fenced by a marker job's id:
    * the listener bus is async and registered per call, so
    * late-draining job-start events from a PRIOR action could leak
    * into the window and flake the exact-zero assertion. Job ids are
    * monotone, so only ids above the marker's belong to `body`. */
  private def jobsDuring(body: => Unit): Int = {
    import scala.jdk.CollectionConverters._
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        ids.add(Integer.valueOf(j.jobId))
    }
    // the listener bus is async (and its drain hook is
    // private[spark]); wait until the seen-id set is quiescent
    def settle(): Unit = {
      var prev = -1
      var stable = 0
      var spins = 0
      while (stable < 5 && spins < 100) {
        val cur = ids.size()
        if (cur == prev) stable += 1 else stable = 0
        prev = cur
        Thread.sleep(50)
        spins += 1
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.range(1).count() // the fence job
      settle()
      val fence = ids.asScala.map(_.intValue).max
      body
      settle()
      ids.asScala.map(_.intValue).count(_ > fence)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def checkpointIds(g: DataFrame): Set[Int] =
    g.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  /** Drops the checkpoint blocks of `frames` synchronously: invalidate()
    * only unreferences them, and the async ContextCleaner reclaim
    * races later suites' storage accounting (CacheSpec's ≤8 MB
    * residue law measures deltas on the shared session). */
  private def dropBlocks(frames: DataFrame*): Unit = {
    val mine = frames.flatMap(checkpointIds).toSet
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (mine(id)) rdd.unpersist(blocking = true)
    }
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("memo invalidation forces a rebuild on the next call") {
    // the build-once memos survive clearCache by design; Memos
    // .invalidate() is the documented hook for a long-lived session
    // whose corpus dir changed — after it, the next call must hand
    // back a FRESH frame instead of the stale checkpoint
    val g1 = Dedup.substringSpansMemo(spark, dir)
    assert(Dedup.substringSpansMemo(spark, dir) eq g1,
      "memo must return the same frame while valid")
    Memos.invalidate()
    val g2 = Dedup.substringSpansMemo(spark, dir)
    assert(!(g2 eq g1), "invalidate must force a rebuild")
  }

  test("lloyd memo: consumers share one checkpointed state; " +
      "invalidate forces a rebuild") {
    Memos.invalidate()
    val a = Similarity.lloydStateMemo(spark, dir)
    val b = Similarity.lloydStateMemo(spark, dir)
    assert((a._1 eq b._1) && (a._2 eq b._2),
      "second memo access rebuilt the Lloyd state")
    // the gated s26 entry always rebuilds (honest bench) AND refreshes
    // the memo, so consumers after it ride the fresh state
    val fresh = Similarity.lloydStateFresh(spark, dir)
    assert(!(fresh._1 eq a._1),
      "lloydStateFresh handed back the stale memo instead of rebuilding")
    val c = Similarity.lloydStateMemo(spark, dir)
    assert(c._1 eq fresh._1,
      "memo did not pick up the fresh rebuild")
    Memos.invalidate()
    val d = Similarity.lloydStateMemo(spark, dir)
    assert(!(d._1 eq fresh._1), "invalidate did not drop the Lloyd memo")
  }

  test("memo probe keys by checkpoint RDD id and re-probes after " +
      "invalidate") {
    import spark.implicits._
    Memos.invalidate()
    val g = Seq(1L, 2L, 3L).toDF("x").localCheckpoint()
    // the key IS the checkpoint scan's RDD id — not an object hash
    val key = Memos.probeKey(g)
    val rddIds = checkpointIds(g).toSeq.map(_.toLong).sorted
    assert(key.contains(rddIds),
      s"probe key $key != checkpoint RDD ids $rddIds")

    // first access probes (one job); a fresh access inside the rate
    // window trusts the freshness and runs NO job
    assert(jobsDuring(assert(Memos.alive(g))) >= 1,
      "first alive() must pay the 1-row probe job (CollectLimit may\n" +
        "      split it across >1 incremental job)")
    assert(jobsDuring(assert(Memos.alive(g))) == 0,
      "rate-limited alive() must not run a job")

    // invalidate drops freshness with the frames: the NEXT access
    // probes again
    Memos.invalidate()
    assert(Memos.lastProbeNs.isEmpty,
      "invalidate() must clear the probe-freshness map")
    assert(jobsDuring(assert(Memos.alive(g))) >= 1,
      "post-invalidate alive() must re-probe")

    // a REBUILT frame has its own id — its first access probes even
    // while the old frame's freshness is still warm (no inheritance)
    val g2 = Seq(4L, 5L).toDF("x").localCheckpoint()
    assert(Memos.probeKey(g2) != key,
      "rebuilt frame must not reuse the old probe key")
    assert(jobsDuring(assert(Memos.alive(g2))) >= 1,
      "rebuilt frame must pay its own probe")
    // a frame COMPOSED over two checkpointed frames keys on ALL its
    // checkpoint leaves (a collectFirst key let probing one frame
    // vouch for the composition even if the second frame's blocks
    // were lost), so its freshness is distinct from both components'
    val both = Memos.probeKey(g.union(g2))
    assert(both.exists(_.size == 2) && both != key && both != Memos.probeKey(g2),
      s"composed frame must key on all checkpoint leaves, got $both")
    Memos.invalidate()
  }

  test("labeledFeaturesMemo serves the un-memoized stream, and " +
      "invalidate forces a genuine rebuild") {
    val dir = "/root/testdata/sf0.001"
    Memos.invalidate()
    val memo = TextAnalysis.labeledFeaturesMemo(spark, dir)
    val direct = TextAnalysis.labeledFeatures(spark, dir)
    assert(rows(memo) == rows(direct),
      "memoized feature stream diverges from the direct build")
    // same (session, dir) → the SAME frame, no rebuild
    assert(TextAnalysis.labeledFeaturesMemo(spark, dir) eq memo,
      "second access must hand out the cached frame")
    // invalidate → a REBUILT frame (its own checkpoint identity —
    // the probe-freshness non-inheritance law), same rows
    Memos.invalidate()
    val rebuilt = TextAnalysis.labeledFeaturesMemo(spark, dir)
    assert(!(rebuilt eq memo), "invalidate must drop the memo")
    assert(Memos.probeKey(rebuilt) != Memos.probeKey(memo),
      "rebuilt feature frame must carry its own checkpoint identity")
    assert(rows(rebuilt) == rows(direct))
    Memos.invalidate()
    dropBlocks(memo, rebuilt)
  }

  test("a memo whose checkpoint blocks are lost rebuilds on the next " +
      "access") {
    // the unreplicated localCheckpoint blocks of a memoized frame can
    // vanish with an executor; dropping them by hand stands in for
    // that loss. The next access must probe, see the dead frame and
    // rebuild from the files instead of handing it out.
    Memos.invalidate()
    val g = Dedup.minhashLshPairsMemo(spark, dir)
    val before = rows(g)
    assert(before.nonEmpty, "the sf0.01 d03 pair frame must be non-empty")
    val key = Memos.probeKey(g)
    assert(key.isDefined, "the d03 pair frame must be a checkpoint")
    dropBlocks(g)
    val rebuilt = Dedup.minhashLshPairsMemo(spark, dir)
    assert(!(rebuilt eq g), "the memo handed out a frame with lost blocks")
    assert(Memos.probeKey(rebuilt).isDefined && Memos.probeKey(rebuilt) != key,
      "the rebuilt frame must carry its own checkpoint identity")
    assert(rows(rebuilt) == before, "the rebuilt pair frame changed rows")
    dropBlocks(rebuilt, TextHash.shingleHashesMemo(spark, dir))
    Memos.invalidate()
  }

  test("d06 labels at the default cap are served from the memo with " +
      "no job") {
    // at sf0.01 the pair graph is under the hand-off cap, so the
    // labels are a driver-built local relation: no checkpoint leaf,
    // no executor blocks to lose, so no probe job when d07 reuses
    // d06's labels
    Memos.invalidate()
    val published = DupCluster.dupLabels.publish(spark, dir) // d06's path
    assert(Memos.probeKey(published).isEmpty,
      "labels under the cap must be a local relation")
    var served: DataFrame = null
    assert(jobsDuring { served = DupCluster.dupLabels(spark, dir) } == 0,
      "a label-memo hit must not run a job")
    assert(served eq published, "d07 must reuse the labels d06 published")
    dropBlocks(Dedup.minhashLshPairsMemo(spark, dir),
      TextHash.shingleHashesMemo(spark, dir))
    Memos.invalidate()
  }

  test("fanOut treats a plan with a subquery as non-narrow and runs no " +
      "job") {
    // a scalar subquery sits in the Filter's condition, not among the
    // plan's children; reading df.rdd's partition count would run it
    spark.range(100).toDF("id").localCheckpoint()
      .createOrReplaceTempView("memo_spec_fanout")
    try {
      val df = spark.sql("SELECT id FROM memo_spec_fanout " +
        "WHERE id > (SELECT max(id) - 10 FROM memo_spec_fanout)")
      assert(jobsDuring(TextHash.fanOut(df)) == 0,
        "fanOut ran the subquery to probe the partition count")
      assert(TextHash.fanOut(df).count() == 10)
    } finally spark.catalog.dropTempView("memo_spec_fanout")
  }

  test("no memo slot is hand-rolled outside the Memo type") {
    // every build-once value goes through Memo, which owns the key
    // match, the probe, timedBuild and registration for invalidate();
    // Memos.scala holds the one slot, inside the Memo type
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator()
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val slot = raw"Option\[\((org\.apache\.spark\.sql\.)?SparkSession".r
    while (files.hasNext) {
      val p = files.next()
      if (p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Memos.scala") {
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        if (slot.findFirstIn(src).isDefined ||
            src.contains("invalidateMemos")) offenders += p.toString
      }
    }
    assert(offenders.isEmpty, s"hand-rolled memo slots in: $offenders")
  }
}
