package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import scala.collection.immutable.ListMap
import graft.mr._

// Job fixtures are top-level (not suite members) so the closures don't
// capture the non-serializable ScalaTest engine via $outer.

class WC extends MapReduce[String, String, Int, Long] {
  def mapper(line: String): IterableOnce[Emit[String, Int, Long]] =
    line.toLowerCase.split("\\s+").iterator.filter(_.nonEmpty).map(w => KV(w, 1L))
  def reducer(w: String, vs: Iterator[Long]): IterableOnce[Emit[String, Int, Long]] =
    Iterator.single(KV(w, vs.sum))
}

/** Identity job over (key, value) pairs, flags via constructor; stable
  * so arrival order is reproduced exactly as the serial reference.
  */
class PassThrough(
    mapWithValue: Boolean = false, redWithValue: Boolean = false,
    mapRev: Boolean = false, redRev: Boolean = false)
  extends MapReduce[(String, Int), String, Int, Int] {
  override def sortMapWithValue = mapWithValue
  override def sortReduceWithValue = redWithValue
  override def sortMapReverse = mapRev
  override def sortReduceReverse = redRev
  override def stable = true
  override def numPartitions = Some(2)
  def mapper(r: (String, Int)): IterableOnce[Emit[String, Int, Int]] =
    Iterator.single(KV(r._1, r._2))
  def reducer(k: String, vs: Iterator[Int]): IterableOnce[Emit[String, Int, Int]] =
    vs.map(v => KV(k, v))
}

/** Asserts inside the reducer that the map side was NOT sorted, while
  * the reduce side is (sorting.py:48-49,110-111).
  */
class UnsortedMapSide extends PassThrough(redWithValue = true) {
  override def reducer(k: String, vs: Iterator[Int]): IterableOnce[Emit[String, Int, Int]] = {
    val seq = vs.toSeq
    require(seq == Seq(2, 3, 1), s"map side must NOT be sorted, got $seq")
    seq.map(v => KV(k, v))
  }
}

/** 3-tuple jobs: sort element drives order, stripped before reducer
  * (sorting.py:60-121; tinymr.py:313-314).
  */
class SortElem(mapRev: Boolean = false, redRev: Boolean = false)
  extends MapReduce[(Int, String), String, Int, String] {
  override def sortMapReverse = mapRev
  override def sortReduceReverse = redRev
  override def stable = true
  def mapper(r: (Int, String)): IterableOnce[Emit[String, Int, String]] =
    Iterator.single(KSV("k", r._1, r._2))
  def reducer(k: String, vs: Iterator[String]): IterableOnce[Emit[String, Int, String]] = {
    var i = 0
    vs.map { v => i += 1; KSV(k, i, v) }
  }
}

class CompositeSort(rev: Boolean)
  extends MapReduce[(Int, Int, Int), String, (Int, Int), (Int, Int, Int)] {
  override def sortMapReverse = rev
  override def stable = true
  def mapper(r: (Int, Int, Int)): IterableOnce[Emit[String, (Int, Int), (Int, Int, Int)]] =
    Iterator.single(KSV("data", (r._1, r._2), r))
  def reducer(k: String, vs: Iterator[(Int, Int, Int)]): IterableOnce[Emit[String, (Int, Int), (Int, Int, Int)]] = {
    var i = 0
    vs.map { v => i += 1; KSV(k, (i, 0), v) }
  }
}

class CollapseJob(rev: Boolean) extends MapReduce[(Int, String), String, Int, String] {
  override def sortReduceReverse = rev
  def mapper(r: (Int, String)): IterableOnce[Emit[String, Int, String]] =
    Iterator.single(KSV("same", r._1, r._2))
  def reducer(k: String, vs: Iterator[String]): IterableOnce[Emit[String, Int, String]] =
    vs.map(v => KSV(k, v.length, v)) // sort by length on round 2
}

/** Per word, the longest line holding it (ties broken by the line):
  * a key-preserving reducer ahead of `runCollapsed`. */
class LongestLine extends MapReduce[String, String, Int, String] {
  override def sortReduceWithValue = true
  override def sortReduceReverse = true
  def mapper(line: String): IterableOnce[Emit[String, Int, String]] =
    line.split(' ').iterator.map(w => KSV(w, line.length, line))
  def reducer(w: String, vs: Iterator[String]): IterableOnce[Emit[String, Int, String]] =
    vs.map(v => KSV(w, v.length, v))
}

/** Keys through a key-preserving reducer, under `ord`, with the sum
  * combiner when `combine`. */
class KeepKeys[K: scala.reflect.ClassTag](ord: Ordering[K], combine: Boolean)
    extends MapReduce[(K, Int), K, Int, Int]()(implicitly[scala.reflect.ClassTag[K]], ord,
      scala.reflect.ClassTag.Int, Ordering.Int, scala.reflect.ClassTag.Int, Ordering.Int) {
  override def numPartitions = Some(1)
  override def combiner: Option[(Int, Int) => Int] = if (combine) Some(_ + _) else None
  def mapper(r: (K, Int)): IterableOnce[Emit[K, Int, Int]] = Iterator.single(KV(r._1, r._2))
  def reducer(k: K, vs: Iterator[Int]): IterableOnce[Emit[K, Int, Int]] = vs.map(KV(k, _))
}

/** `Ordering.Double.TotalOrdering`'s order under another identity. */
object DoubleOrder extends Ordering[Double] {
  def compare(a: Double, b: Double): Int = java.lang.Double.compare(a, b)
}

/** Declares a combiner but emits `KSV` records, which it cannot fold. */
class KsvCombiner extends MapReduce[String, String, Int, Long] {
  override def combiner: Option[(Long, Long) => Long] = Some(_ + _)
  def mapper(line: String): IterableOnce[Emit[String, Int, Long]] =
    line.split(' ').iterator.map(w => KSV(w, 0, 1L))
  def reducer(w: String, vs: Iterator[Long]): IterableOnce[Emit[String, Int, Long]] =
    Iterator.single(KV(w, vs.sum))
}

class FilterWC extends WC {
  override def mapper(line: String): IterableOnce[Emit[String, Int, Long]] =
    if (line.contains("python")) Iterator.empty else super.mapper(line)
}

class FixedPartsWC(n: Int) extends WC {
  override def numPartitions = Some(n)
}

class Top3WC extends WC {
  override def output(m: ListMap[String, Seq[Long]]): Any =
    m.view.mapValues(_.head).toSeq.sortBy(p => (-p._2, p._1)).take(3)
}

/** Ports the reference's own test matrix (SURVEY §5):
  * tests/test_mapreduce_sorting.py (all 4 sort modes × both phases ×
  * directions, composite sort), tests/test_mapreduce_concurrency.py
  * (word-count equality vs an independent oracle),
  * tests/test_exceptions.py (arity), plus the decided divergences
  * (empty input, collapse determinism under sort).
  */
class MapReduceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Session.build(cpus = 4)
  override def afterAll(): Unit = spark.stop()
  def sc = spark.sparkContext

  // conftest.py:10-16 fixture
  val text = Seq(
    "word something else",
    "else something word",
    "mr python could be cool 1")

  test("word count matches independent oracle (test_mapreduce_concurrency.py:31-43)") {
    val got = new WC().run(sc.parallelize(text, 3))
      .collect().map { case (k, vs) => (k, vs.head) }.toMap
    val oracle = text.flatMap(_.toLowerCase.split("\\s+"))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == oracle)
  }

  test("empty input returns empty result (divergence SURVEY 7.4.4)") {
    assert(new WC().run(sc.parallelize(Seq.empty[String], 2)).collect().isEmpty)
  }

  test("mapper emitting nothing = filter (tinymr.py:39-59)") {
    val got = new FilterWC().run(sc.parallelize(text)).collect().map(_._1).toSet
    assert(!got.contains("python") && got.contains("word"))
  }

  def valuesOf(job: MapReduce[(String, Int), String, Int, Int],
      data: Seq[(String, Int)]): Seq[Int] =
    job.run(sc.parallelize(data, 1)).collect().toMap.apply("k")

  val data213 = Seq(("k", 2), ("k", 3), ("k", 1)) // sorting.py:12-13

  test("(key,value) + no flags: arrival order preserved (docs.rst:304)") {
    assert(valuesOf(new PassThrough(), data213) == Seq(2, 3, 1))
  }
  test("(key,value) + sort_map_with_value: sorted by value (sorting.py:9-30)") {
    assert(valuesOf(new PassThrough(mapWithValue = true), data213) == Seq(1, 2, 3))
  }
  test("(key,value) + sort_reduce_with_value reverse (sorting.py:33-57)") {
    assert(valuesOf(new PassThrough(redWithValue = true, redRev = true),
      data213) == Seq(3, 2, 1))
  }

  val elemData = Seq((3, "a"), (2, "b"), (1, "c")) // sorting.py:63-67

  test("(key,sort,value): values ordered by sort element, element stripped") {
    val got = new SortElem().run(sc.parallelize(elemData, 1))
      .collect().toMap.apply("k")
    assert(got == Seq("c", "b", "a"))
  }
  test("(key,sort,value) reverse map-side sort (sorting.py:91-121)") {
    val got = new SortElem(mapRev = true).run(sc.parallelize(elemData, 1))
      .collect().toMap.apply("k")
    assert(got == Seq("a", "b", "c"))
  }

  test("composite (year,month) sort, shuffled input (sorting.py:124-167)") {
    val days = Seq((2018, 11, 7), (2018, 12, 21), (2019, 1, 2), (2019, 2, 25))
    val shuffled = new scala.util.Random(7).shuffle(days)
    val asc = new CompositeSort(false).run(sc.parallelize(shuffled, 2))
      .collect().toMap.apply("data")
    assert(asc == days)
    val desc = new CompositeSort(true).run(sc.parallelize(shuffled, 2))
      .collect().toMap.apply("data")
    assert(desc == days.reverse)
  }

  test("stable sort preserves arrival order of equal sort keys [verified]") {
    val recs = Seq((1, "x"), (1, "y"), (0, "z"), (1, "w"))
    val got = new SortElem().run(sc.parallelize(recs, 1))
      .collect().toMap.apply("k")
    assert(got == Seq("z", "x", "y", "w"))
  }

  /** Runs `body` in its own job group; returns how many jobs it ran and
    * the shuffle records each of their stages wrote, in stage order
    * (for one Layer A job: shuffle 1, shuffle 2, then the result stage). */
  def shuffleWrites(body: => Unit): (Int, Seq[Long]) = {
    import org.apache.spark.scheduler._
    val group = s"counted-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet(); e.stageIds.foreach(stages.add(_))
          case g if g == s"$group-end" => done.countDown()
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          written.merge(e.stageId, e.taskMetrics.shuffleWriteMetrics.recordsWritten, _ + _)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      body
      // listener events arrive in order: once the sentinel job is seen,
      // so is every task of the counted jobs
      sc.setJobGroup(s"$group-end", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS), "sentinel job not seen")
      import scala.jdk.CollectionConverters._
      (jobs.get, stages.asScala.toSeq.sorted.map(written.getOrDefault(_, 0L)))
    } finally sc.removeSparkListener(listener)
  }

  test("stable keeps input order of tied sort keys across input partitions, in one job") {
    val recs = (0 until 40).map(i => (i % 2, s"v$i"))
    val inOrder = recs.sortBy(_._1).map(_._2) // stable: ties keep input order
    var got, rev = Seq.empty[String]
    val (jobs, _) = shuffleWrites {
      got = new SortElem().run(sc.parallelize(recs, 4)).collect().toMap.apply("k")
    }
    val (revJobs, _) = shuffleWrites {
      rev = new SortElem(mapRev = true).run(sc.parallelize(recs, 4)).collect().toMap.apply("k")
    }
    assert(got == inOrder)
    assert(rev == recs.sortBy(-_._1).map(_._2))
    assert(jobs == 1 && revJobs == 1, s"jobs: $jobs, $revJobs")
  }

  // two map partitions: {a, b, c, d} from 7 tokens and {a, d, e} from 7
  val twoParts = Seq("a b a c", "b b d", "a d e", "e e a a")
  def words(lines: Seq[String]): Seq[String] = lines.flatMap(_.split(' ')).distinct

  test("the combiner ships one shuffle-1 record per distinct word of each map partition") {
    var combined, plain = Map.empty[String, Long]
    val (jobs, writes) = shuffleWrites {
      combined = new graft.queries.MrQueries.WordCount().run(sc.parallelize(twoParts, 2))
        .collect().map { case (w, vs) => (w, vs.head) }.toMap
    }
    val (plainJobs, plainWrites) = shuffleWrites {
      plain = new WC().run(sc.parallelize(twoParts, 2))
        .collect().map { case (w, vs) => (w, vs.head) }.toMap
    }
    val oracle = twoParts.flatMap(_.split(' ')).groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(combined == oracle && plain == oracle)
    val perPartition = twoParts.grouped(2).map(words(_).size.toLong).sum
    assert(perPartition == 7)
    assert(writes.take(2) == Seq(perPartition, oracle.size.toLong), s"combiner: $writes")
    assert(plainWrites.take(2) == Seq(14L, oracle.size.toLong), s"no combiner: $plainWrites")
    assert(jobs == 1 && plainJobs == 1, s"jobs: $jobs, $plainJobs")
  }

  test("runCollapsed ships one shuffle-2 record per key after a key-preserving reducer") {
    var collapsed = Map.empty[String, String]
    var ran = Map.empty[String, Seq[String]]
    val (jobs, writes) = shuffleWrites {
      collapsed = new LongestLine().runCollapsed(sc.parallelize(twoParts, 2)).collect().toMap
    }
    val (runJobs, runWrites) = shuffleWrites {
      ran = new LongestLine().run(sc.parallelize(twoParts, 2)).collect().toMap
    }
    val keys = words(twoParts)
    val longest = keys.map(w => w -> twoParts.filter(_.split(' ').contains(w))
      .maxBy(l => (l.length, l))).toMap
    assert(collapsed == longest)
    assert(ran.view.mapValues(_.head).toMap == longest)
    assert(writes.take(2) == Seq(14L, keys.size.toLong), s"runCollapsed: $writes")
    assert(runWrites.take(2) == Seq(14L, 14L), s"run: $runWrites")
    assert(jobs == 1 && runJobs == 1, s"jobs: $jobs, $runJobs")
  }

  test("runCollapsed and the combiner keep -0.0 and 0.0 apart and NaN together, also in tuples, on both shuffle paths") {
    val ds = Seq(-0.0, 0.0, Double.NaN, Double.NaN, -0.0)
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    def check[K: scala.reflect.ClassTag](keys: Seq[K], natural: Ordering[K], other: Ordering[K],
        id: K => Any): Unit = {
      val data = keys.zipWithIndex.map { case (k, i) => (k, i + 1) }
      for (ord <- Seq(natural, other)) {
        val job = new KeepKeys(ord, combine = false)
        assert(job.sortsBytes == (ord eq natural))
        val got = job.runCollapsed(sc.parallelize(data, 1)).collect().map(kv => (id(kv._1), kv._2))
        assert(got.toSet == Set((id(keys(0)), 1), (id(keys(1)), 2), (id(keys(2)), 3)), s"$ord: ${got.toSeq}")
        val sums = new KeepKeys(ord, combine = true).run(sc.parallelize(data, 1)).collect()
          .map(kv => (id(kv._1), kv._2.sum))
        assert(sums.toSet == Set((id(keys(0)), 6), (id(keys(1)), 2), (id(keys(2)), 7)), s"$ord: ${sums.toSeq}")
      }
    }
    check[Double](ds, Ordering.Double.TotalOrdering, DoubleOrder, bits)
    check[(Double, Int)](ds.map((_, 1)), Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int),
      Ordering.Tuple2(DoubleOrder, Ordering.Int), k => bits(k._1))
  }

  test("a combiner job whose mapper emits KSV fails naming the job class") {
    val ex = intercept[org.apache.spark.SparkException] {
      new KsvCombiner().run(sc.parallelize(twoParts, 2)).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    assert(causes(ex).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains(classOf[KsvCombiner].getName)), ex.toString)
  }

  test("numPartitions below 1 is rejected when the job is built, naming the setting") {
    for (n <- Seq(0, -2)) {
      val ex = intercept[IllegalArgumentException] {
        new FixedPartsWC(n).run(sc.parallelize(text, 2))
      }
      assert(ex.getMessage.contains("numPartitions") && ex.getMessage.contains(s"got $n") &&
        ex.getMessage.contains("FixedPartsWC"), ex.getMessage)
    }
    val got = new FixedPartsWC(1).run(sc.parallelize(text, 2)).collect().toMap
    assert(got("word") == Seq(2L))
  }

  test("return-style collapse keeps first value per key; with sort = arg-min/max [verified]") {
    val data = Seq((2, "bbb"), (1, "a"), (3, "cc"))
    val asc = new CollapseJob(false).runCollapsed(sc.parallelize(data, 2)).collect().toMap
    assert(asc("same") == "a") // min length
    val desc = new CollapseJob(true).runCollapsed(sc.parallelize(data, 2)).collect().toMap
    assert(desc("same") == "bbb") // max length
  }

  test("output hook transforms the final mapping (docs.rst:150-159)") {
    val top3 = new Top3WC()(sc.parallelize(text)).asInstanceOf[Seq[(String, Long)]]
    assert(top3 == Seq(("else", 2), ("something", 2), ("word", 2)))
  }

  test("untyped surface: ElementCountError on arity 1 and 4") {
    intercept[ElementCountError] { UntypedEmit.validate(Seq(1)) }
    intercept[ElementCountError] { UntypedEmit.validate(Seq(1, 2, 3, 4)) }
    assert(UntypedEmit.validate(Seq("k", "v")) == KV("k", "v"))
    assert(UntypedEmit.validate(Seq("k", 1, "v")) == KSV("k", 1, "v"))
  }

  test("map-side and reduce-side sorts are independent (sorting.py:48-49)") {
    assert(valuesOf(new UnsortedMapSide(), data213) == Seq(1, 2, 3))
  }

  test("write() finalizes distributed to a parquet sink (SURVEY 7.4.6)") {
    import spark.implicits._
    val tmp = graft.core.Staging.tempAtExit("graft_mr_sink_")
    new WC().write(spark, sc.parallelize(text, 2), tmp)
    val back = spark.read.parquet(tmp).as[(String, Long)].collect().toMap
    assert(back("word") == 2L && back("python") == 1L)
  }

  test("write() emits every value of a multi-value key as its own row") {
    import spark.implicits._
    val data = (0 until 30).map(i => (if (i % 3 == 0) "a" else "b", i))
    val tmp = graft.core.Staging.tempAtExit("graft_mr_rows_")
    new PassThrough().write(spark, sc.parallelize(data, 3), tmp)
    val back = spark.read.parquet(tmp).as[(String, Int)].collect()
    assert(back.sorted.toSeq == data.sorted)
  }

  test("write() reaches the full connector matrix: CSV and ORC round-trip") {
    import spark.implicits._
    val expected = new WC()
      .run(sc.parallelize(text, 2)).flatMap { case (k, vs) => vs.map((k, _)) }
      .collect().toMap
    val csvDir = graft.core.Staging.tempAtExit("graft_mr_csv_")
    new WC().write(spark, sc.parallelize(text, 2), csvDir,
      format = "csv", options = Map("header" -> "true"))
    val csvBack = spark.read.option("header", "true")
      .schema("key STRING, value BIGINT").csv(csvDir)
      .as[(String, Long)].collect().toMap
    assert(csvBack == expected)
    val orcDir = graft.core.Staging.tempAtExit("graft_mr_orc_")
    new WC().write(spark, sc.parallelize(text, 2), orcDir, format = "orc")
    val orcBack = spark.read.orc(orcDir).as[(String, Long)].collect().toMap
    assert(orcBack == expected)
    val jsonDir = graft.core.Staging.tempAtExit("graft_mr_json_")
    new WC().write(spark, sc.parallelize(text, 2), jsonDir, format = "json")
    val jsonBack = spark.read.schema("key STRING, value BIGINT").json(jsonDir)
      .as[(String, Long)].collect().toMap
    assert(jsonBack == expected)
  }

  test("shipped jobs with natural orderings shuffle bytes; untyped jobs shuffle objects") {
    import graft.queries.{MrQueries, Relational3, Relational4}
    val bytes: Seq[MapReduce[_, _, _, _]] = Seq(new MrQueries.WordCount, new MrQueries.KeyOverload,
      new MrQueries.LongestDoc, new Relational3.GlobalSum, new Relational4.NationEnrich(null),
      new MrQueries.OrdersTimeline, new graft.streaming.EventStreams.TypeCount)
    val objects: Seq[MapReduce[_, _, _, _]] = Seq(new MrQueries.FreqOfFreq, new UntypedWC(bad = false))
    assert(bytes.filterNot(_.sortsBytes).map(_.getClass.getSimpleName).isEmpty)
    assert(objects.filter(_.sortsBytes).map(_.getClass.getSimpleName).isEmpty)
  }

  test("the result's partitioner places each key where it is, on both shuffle paths") {
    val typed = new FixedPartsWC(3).run(sc.parallelize(text, 2))
    val untyped = new UntypedWC(bad = false).run(sc.parallelize(text.map(Seq[Any](_)), 2))
    for (res <- Seq(typed, untyped.asInstanceOf[org.apache.spark.rdd.RDD[(Any, Seq[Long])]])) {
      val at = res.mapPartitionsWithIndex((i, it) => it.map(kv => (kv._1, i))).collect()
      assert(at.nonEmpty && at.forall { case (k, i) => res.partitioner.get.getPartition(k) == i })
    }
    assert(typed.lookup("word") == Seq(Seq(2L)))
  }

  test("both shuffle paths read their shuffles under the repartitionAndSortWithinPartitions scope") {
    import org.apache.spark.scheduler._
    // a listener filing Layer A stages by RDD scope sees both rounds of either path
    val group = s"scoped-${System.nanoTime}"
    val scoped = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == s"$group-end")) done.countDown()
        else scoped.addAndGet(e.stageInfos.count(_.rddInfos.exists(
          _.scope.exists(_.name == "repartitionAndSortWithinPartitions"))))
    }
    sc.addSparkListener(listener)
    try {
      new FixedPartsWC(3).run(sc.parallelize(text, 2)).collect()
      new UntypedWC(bad = false).run(sc.parallelize(text.map(Seq[Any](_)), 2)).collect()
      sc.setJobGroup(s"$group-end", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS), "sentinel job not seen")
      assert(new FixedPartsWC(3).sortsBytes && !new UntypedWC(bad = false).sortsBytes)
      assert(scoped.get == 4, s"${scoped.get} stages read a scoped shuffle, expected 2 per job")
    } finally sc.removeSparkListener(listener)
  }

  test("untyped surface runs end-to-end and raises ElementCountError on bad arity") {
    val wc = new UntypedWC(bad = false)
    val got = wc.run(sc.parallelize(text.map(Seq[Any](_)), 2)).collect()
      .map { case (k, vs) => (k.asInstanceOf[String], vs.head) }.toMap
    assert(got("word") == 2L && got("python") == 1L)
    val ex = intercept[org.apache.spark.SparkException] {
      new UntypedWC(bad = true).run(sc.parallelize(text.map(Seq[Any](_)), 2)).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    assert(causes(ex).exists(_.isInstanceOf[ElementCountError]))
  }
}

/** The reference's 4-shape execution matrix
  * (tests/test_mapreduce_concurrency.py:31-98): {yield,return}-style
  * mapper × {yield,return}-style reducer, each checked against the
  * independent Counter oracle across partition counts (partitioning
  * replaces the reference's pool matrix — Spark owns parallelism).
  */
class ShapeMatrixSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.build(cpus = 4)
  override def afterAll(): Unit = spark.stop()
  def sc = spark.sparkContext

  val text = Seq(
    "word something else",
    "else something word",
    "mr python could be cool 1")
  val oracle: Map[String, Long] = text.flatMap(_.toLowerCase.split("\\s+"))
    .groupBy(identity).view.mapValues(_.size.toLong).toMap
  val lineOracle: Map[String, Long] =
    text.map(l => l -> l.split("\\s+").length.toLong).toMap

  for (parts <- Seq(1, 2, 4)) {
    test(s"yield-mapper × yield-reducer over $parts partitions") {
      val got = new WC().run(sc.parallelize(text, parts)).collect()
        .map { case (k, vs) => (k, vs.head) }.toMap
      assert(got == oracle)
    }
    test(s"return-mapper (exactly one emission) × yield-reducer over $parts partitions") {
      val got = new ReturnMapperWC().run(sc.parallelize(text, parts)).collect()
        .map { case (k, vs) => (k, vs.head) }.toMap
      assert(got == lineOracle)
    }
    test(s"yield-mapper × return-reducer (collapse) over $parts partitions") {
      val got = new WC().runCollapsed(sc.parallelize(text, parts)).collect()
        .map { case (k, v) => (k, v) }.toMap
      assert(got == oracle) // single emission per key → collapse == yield
    }
    test(s"return-mapper × return-reducer over $parts partitions") {
      val got = new ReturnMapperWC().runCollapsed(sc.parallelize(text, parts))
        .collect().toMap
      assert(got == lineOracle)
    }
  }
}

/** Return-style mapper: exactly one emission per item (the reference's
  * non-generator mapper, tinymr.py:196-199) — key = the line itself,
  * value = its token count.
  */
class ReturnMapperWC extends MapReduce[String, String, Int, Long] {
  def mapper(line: String): IterableOnce[Emit[String, Int, Long]] =
    Iterator.single(KV(line, line.split("\\s+").length.toLong))
  def reducer(k: String, vs: Iterator[Long]): IterableOnce[Emit[String, Int, Long]] =
    Iterator.single(KV(k, vs.sum))
}

/** Word count through the dynamically-typed surface (arity checked per
  * record at runtime, tests/test_exceptions.py analogue end-to-end).
  */
class UntypedWC(bad: Boolean) extends UntypedMapReduce {
  def rawMapper(item: Seq[Any]): IterableOnce[Seq[Any]] =
    item.head.asInstanceOf[String].toLowerCase.split("\\s+").toSeq
      .map(w => if (bad) Seq[Any](w, 1L, 2L, 3L) else Seq[Any](w, 1L))
  def rawReducer(key: Any, values: Iterator[Any]): IterableOnce[Seq[Any]] =
    Iterator.single(Seq(key, values.map(_.asInstanceOf[Long]).sum))
}
