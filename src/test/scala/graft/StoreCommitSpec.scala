package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Stress for the store micro-batches' commit path. `st21Batch` caches
  * the batch's signatures and the bucket-pruned store slice, and reads
  * both while its two writes run as concurrent jobs; two AQE stages of
  * the pair write read the slice. When two tasks computed the same
  * cache block at once, the one that lost asked BlockManager for a
  * copy the winner had registered but not yet released, logged
  * "Failed to fetch remote block" and computed the block again. That
  * recompute used to fail as Spark's "Block rdd_N does not exist" in
  * about one full-suite run in four. The spec counts those warnings
  * as well as failed batches: 50 batches against a populated store
  * must all commit without one.
  *
  * Run alone: `sbt -batch "testOnly graft.StoreCommitSpec"` (about
  * 2 minutes).
  */
class StoreCommitSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Session.build(cpus = 4)

  private var cachedAtStart = true
  private var persistedAtStart = Set.empty[Int]
  override def beforeAll(): Unit = {
    cachedAtStart = !spark.sharedState.cacheManager.isEmpty
    persistedAtStart = spark.sparkContext.getPersistentRDDs.keySet.toSet
  }
  override def afterAll(): Unit =
    StoreLeaks.check(spark, cachedAtStart, persistedAtStart)

  test("st21Batch commits 50 of 50 batches over its cached sigs and store slice") {
    import spark.implicits._
    val sigStore = graft.core.Staging.tempAtExit("graft_stress_sigs_")
    val pairDir = graft.core.Staging.tempAtExit("graft_stress_pairs_")
    val rnd = new scala.util.Random(71)
    def words(n: Int): String = Seq.fill(n)("w" + rnd.nextInt(3000)).mkString(" ")
    def docs(b: Int) = ((b * 20) until (b * 20 + 15))
      .map(i => (i.toLong, words(60))).toDF("doc_id", "text")
    // a populated store first, so every stressed batch reads a slice
    val preload = docs(0)
    graft.streaming.EventStreams.st21Batch(preload, sigStore, pairDir)
    val lost = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val watch = new AbstractAppender("lost-blocks", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("Failed to fetch remote block")) lost.add(m)
      }
    }
    val blockLog = LogManager.getLogger("org.apache.spark.storage.BlockManager")
      .asInstanceOf[CoreLogger]
    watch.start()
    blockLog.addAppender(watch)
    val batches = (1 to 50).map(docs)
    val failures =
      try batches.zipWithIndex.flatMap { case (b, i) =>
        try { graft.streaming.EventStreams.st21Batch(b, sigStore, pairDir); None }
        catch { case e: Throwable => Some(s"batch ${i + 1}: $e") }
      } finally { blockLog.removeAppender(watch); watch.stop() }
    info(s"${failures.size} of 50 batches failed, ${lost.size} lost cache blocks refetched")
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(lost.isEmpty, lost.toArray.mkString("\n"))
    // every batch appended its signatures exactly once
    val all = (preload +: batches).reduce(_ union _)
    assert(spark.read.parquet(sigStore).count() ==
      graft.queries.Dedup.cdcSigs(all).count())
  }
}

/** What a store spec must not leave behind once it ran: a persisted
  * RDD or a cached plan that was not there before it, or a running
  * job. Snapshot-relative, since specs share one session. */
object StoreLeaks {
  def check(spark: SparkSession, cachedAtStart: Boolean,
      persistedAtStart: Set[Int]): Unit = {
    val rdds = spark.sparkContext.getPersistentRDDs
    val left = rdds.keySet -- persistedAtStart
    assert(left.isEmpty, s"persistent RDDs left behind: ${left.map(rdds)}")
    assert(cachedAtStart || spark.sharedState.cacheManager.isEmpty,
      "cached plans left behind")
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "a job is still active")
  }
}
