package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Staging, Tables}

/** [[Tables]]' schema cache: a table's schema is inferred once per file
  * stamp and parquet conversion setting, and every later read passes it
  * to `spark.read.schema`, so it launches no inference job. */
class TablesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.build(cpus = 4)
  /** The fixture vendored with the benchmark: all 10 tables, in the
    * checkout (specs run from the project root). */
  private val sf = "perfbench/fixture/sf0.1"

  /** Jobs started while `body` runs: a sentinel job after it proves
    * the listener saw every job before it (events arrive in order). */
  private def jobsIn(body: => Unit): Int = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.CountDownLatch(1)
    val sentinel = s"tables-sentinel-${System.nanoTime}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == sentinel))
          seen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(sentinel, sentinel)
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      assert(seen.await(30, java.util.concurrent.TimeUnit.SECONDS), "sentinel job not seen")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  private def withNanosAsLong[T](v: String)(body: => T): T = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a second read of a table launches no job") {
    assume(new java.io.File(sf).isDirectory)
    Tables(spark, sf, "orders")
    assert(jobsIn(Tables(spark, sf, "orders")) == 0)
  }

  test("the cached schema equals the inferred one field by field for every table, events under both nanosAsLong values") {
    assume(new java.io.File(sf).isDirectory)
    for (v <- Seq("false", "true")) withNanosAsLong(v) {
      for (name <- Tables.names) {
        Tables(spark, sf, name)
        val inferred = spark.read.parquet(s"$sf/$name.parquet").schema
        val served = Tables(spark, sf, name).schema
        assert(served.fields.toSeq == inferred.fields.toSeq,
          s"$name (nanosAsLong=$v): $served != $inferred")
      }
    }
  }

  test("a changed mtime makes the next read infer again") {
    assume(new java.io.File(sf).isDirectory)
    val dir = Staging.tempAtExit("graft_tables_spec_")
    val copy = Paths.get(dir, "region.parquet")
    Files.copy(Paths.get(s"$sf/region.parquet"), copy)
    Tables(spark, dir, "region")
    assert(jobsIn(Tables(spark, dir, "region")) == 0)
    Files.setLastModifiedTime(copy, java.nio.file.attribute.FileTime
      .fromMillis(Files.getLastModifiedTime(copy).toMillis - 60000L))
    assert(jobsIn(Tables(spark, dir, "region")) > 0,
      "a regenerated file must not be read under its old schema")
  }
}
