package graft

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Encoders, SparkSession}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.reflect.ClassTag
import graft.mr._

/** One generated Layer A job: emit arity, sort flags and direction on
  * each side, `stable`, parallelism, the reducer's shape and whether
  * the job declares the sum as its map-side combiner.
  *
  * Reducers: 0 re-keys every value (`k % 3`, merging groups) with a
  * tie-heavy sort element `v % 4`; 1 numbers the values in the order
  * it receives them, so its output depends on the map-side order (only
  * generated where that order is total); 2 emits one sum per key, the
  * only shape generated with the combiner, which needs `KV` emits.
  *
  * `byObjects` gives the job an `Ordering[Int]` equal in order to
  * `Ordering.Int` but not `==` to it, so its shuffles take the object
  * path instead of the byte path.
  */
final case class GenSpec(
    mapSort: Boolean, mapWithValue: Boolean, mapRev: Boolean,
    redSort: Boolean, redWithValue: Boolean, redRev: Boolean,
    stable: Boolean, inParts: Int, outParts: Option[Int], reducerShape: Int,
    combine: Boolean = false, byObjects: Boolean = false) {
  def n: Int = outParts.getOrElse(inParts)
}

/** `Ordering.Int`'s order under another identity. */
object IntOrder extends Ordering[Int] {
  def compare(a: Int, b: Int): Int = Integer.compare(a, b)
}

/** `Ordering.String`'s order under another identity, `null` first, as
  * the byte path's `StringC` orders it. */
object StringOrder extends Ordering[String] {
  def compare(a: String, b: String): Int =
    if (a == null || b == null) java.lang.Boolean.compare(a != null, b != null) else a.compareTo(b)
}

/** A generated job's keys, made from the generator's `Int` keys by
  * `of` and mapped back by `index` where the reducer re-keys. `ord` is
  * the byte path's ordering, `objects` one of the same order that is
  * not `==` to it: the object path's, and the serial model's. */
final class Keys[K](val of: Int => K, val index: K => Int, val ord: Ordering[K],
    val objects: Ordering[K])(implicit val tag: ClassTag[K]) extends Serializable

object Keys {
  val ints = new Keys[Int](identity, identity, Ordering.Int, IntOrder)
  /** Null-ish keys, keys sharing their first 8, 16 or 24 bytes, and
    * multi-byte forms; key 0, half the generated items, is `null`. */
  val table: IndexedSeq[String] = IndexedSeq(null, "", "\u0000", "\u0000\u0000", "a",
    "abcdefg", "abcdefgh", "abcdefgh\u0000", "abcdefgha", "abcdefghijklmnop",
    "abcdefghijklmnop\u00e9", "abcdefghijklmnopqrstuvwx", "abcdefghijklmnopqrstuvwxy", "\u00e9", "\uffff")
  val strings = new Keys[String](i => table(i % table.size), table.indexOf(_), Ordering.String, StringOrder)
}

class GenJob[K](val spec: GenSpec, val keys: Keys[K]) extends MapReduce[(Int, Int, Int), K, Int, Int]()(
    keys.tag, if (spec.byObjects) keys.objects else keys.ord, scala.reflect.ClassTag.Int, GenJob.ord(spec),
    scala.reflect.ClassTag.Int, GenJob.ord(spec)) {
  override def sortMapWithValue = spec.mapWithValue
  override def sortReduceWithValue = spec.redWithValue
  override def sortMapReverse = spec.mapRev
  override def sortReduceReverse = spec.redRev
  override def stable = spec.stable
  override def numPartitions = spec.outParts
  override def combiner: Option[(Int, Int) => Int] = if (spec.combine) Some(_ + _) else None

  private def emit(sort: Boolean, k: K, s: Int, v: Int): Emit[K, Int, Int] =
    if (sort) KSV(k, s, v) else KV(k, v)

  /** Filters multiples of 7, explodes multiples of 5 into a second key. */
  def mapper(r: (Int, Int, Int)): IterableOnce[Emit[K, Int, Int]] = {
    val (k, s, v) = r
    if (v % 7 == 0) Iterator.empty
    else if (v % 5 == 0) Iterator(emit(spec.mapSort, keys.of(k), s, v), emit(spec.mapSort, keys.of(k + 1), s, v))
    else Iterator.single(emit(spec.mapSort, keys.of(k), s, v))
  }

  def reducer(k: K, vs: Iterator[Int]): IterableOnce[Emit[K, Int, Int]] =
    spec.reducerShape match {
      case 0 => vs.map(v => emit(spec.redSort, keys.of(keys.index(k) % 3), v % 4, v))
      case 1 => vs.zipWithIndex.map { case (v, i) => emit(spec.redSort, k, i % 3, v * 100 + i) }
      case _ =>
        val sum = vs.sum
        Iterator.single(emit(spec.redSort, keys.of(keys.index(k) % 2), sum % 5, sum))
    }
}

object GenJob {
  def ord(spec: GenSpec): Ordering[Int] = if (spec.byObjects) IntOrder else Ordering.Int
}

/** A serial interpreter of tinymr's `_partition_and_sort`
  * (`tinymr.py:278-345`, SURVEY §1–3): records grouped by key in
  * arrival order, then each key's records stable-sorted on the sort
  * element, the value, or both (absent before present), the whole sort
  * key reversed under `reverse` with ties kept in arrival order, as
  * Python's `list.sort(reverse=True)` does. Each value keeps its sort
  * key, so a caller can tell where the order is total.
  */
object SerialMR {
  type Sorted = Seq[((Option[Int], Option[Int]), Int)]

  def partitionAndSort[K](recs: Seq[Emit[K, Int, Int]], withValue: Boolean,
      reverse: Boolean): ListMap[K, Sorted] = {
    val groups = mutable.LinkedHashMap.empty[K, mutable.ArrayBuffer[Emit[K, Int, Int]]]
    recs.foreach(r => groups.getOrElseUpdate(r.key, mutable.ArrayBuffer.empty) += r)
    val ord = Ordering.Tuple2(Ordering.Option[Int], Ordering.Option[Int])
    ListMap.from(groups.map { case (k, rs) =>
      val keyed = rs.toSeq.map(r => ((r.sortOpt, if (withValue) Some(r.value) else None), r.value))
      k -> keyed.sortBy(_._1)(if (reverse) ord.reverse else ord) // stable
    })
  }

  /** Both rounds. The reducer visits the keys in the order the
    * distributed shuffle hands them over (by hash partition, then by
    * key) instead of tinymr's dict insertion order, which is the
    * arrival order `stable` numbers on the second round. */
  def run[K](job: GenJob[K], items: Seq[(Int, Int, Int)]): ListMap[K, Sorted] = {
    val s = job.spec
    val first = partitionAndSort(items.flatMap(job.mapper), s.mapWithValue, s.mapRev)
    val part = new HashPartitioner(s.n)
    implicit val kOrd: Ordering[K] = job.keys.objects
    val reduced = first.toSeq.sortBy { case (k, _) => (part.getPartition(k), k) }
      .flatMap { case (k, vs) => job.reducer(k, vs.iterator.map(_._2)) }
    partitionAndSort(reduced, s.redWithValue, s.redRev)
  }

  /** Runs of equal sort keys: the places where the order is not total. */
  def ties(vs: Sorted): Seq[Seq[Int]] =
    if (vs.isEmpty) Nil
    else {
      val (run, rest) = vs.span(_._1 == vs.head._1)
      run.map(_._2) +: ties(rest)
    }
}

/** Differential checks: `run`, `runCollapsed`, `apply` and `write` of
  * generated jobs against [[SerialMR]], which ignores the combiner.
  * Under `stable` every per-key sequence must match exactly; otherwise
  * each run of tied sort keys must hold the same multiset in the same
  * place (so a total order is compared exactly), and a collapsed value
  * must come from the first run. `write` is compared per key as a
  * multiset, since parquet keeps no row order. A job must take the
  * shuffle path its spec asks for.
  */
trait SerialDiff extends AnyFunSuite with BeforeAndAfterAll {

  def spark: SparkSession
  override def afterAll(): Unit = spark.stop()
  def sc = spark.sparkContext

  val parts: Gen[Int] = Gen.oneOf(1, 3, 8)

  val specs: Gen[GenSpec] = for {
    mapSort <- Gen.oneOf(false, true)
    mapWithValue <- Gen.oneOf(false, true)
    mapRev <- Gen.oneOf(false, true)
    redSort <- Gen.oneOf(false, true)
    redWithValue <- Gen.oneOf(false, true)
    redRev <- Gen.oneOf(false, true)
    stable <- Gen.oneOf(false, true)
    inParts <- parts
    outParts <- Gen.option(parts)
    shape <- Gen.oneOf(0, 1, 2)
    byObjects <- Gen.oneOf(false, true)
  } yield GenSpec(mapSort, mapWithValue, mapRev, redSort, redWithValue, redRev, stable,
    inParts, outParts,
    // the numbering reducer needs a total map-side order
    if (shape == 1 && !(stable || mapWithValue)) 0 else shape, byObjects = byObjects)

  /** Skewed keys (half the items on key 0) and sort elements from a
    * range of 3, so ties are common. */
  val item: Gen[(Int, Int, Int)] = for {
    k <- Gen.frequency(5 -> Gen.const(0), 3 -> Gen.choose(1, 3), 2 -> Gen.choose(4, 40))
    s <- Gen.choose(0, 2)
    v <- Gen.choose(1, 60)
  } yield (k, s, v)

  /** Jobs with the sum combiner: `KV` emits and the summing reducer,
    * every other flag free. */
  val combinerSpecs: Gen[GenSpec] =
    specs.map(_.copy(mapSort = false, reducerShape = 2, combine = true))

  def casesOf(specs: Gen[GenSpec]): Gen[(GenSpec, Seq[(Int, Int, Int)])] =
    for (s <- specs; n <- Gen.choose(0, 80); xs <- Gen.listOfN(n, item)) yield (s, xs)
  val cases: Gen[(GenSpec, Seq[(Int, Int, Int)])] = casesOf(specs)

  def mismatches(spec: GenSpec, items: Seq[(Int, Int, Int)]): Seq[String] =
    mismatchesOf(Keys.ints)(spec, items)

  def mismatchesOf[K](keys: Keys[K])(spec: GenSpec, items: Seq[(Int, Int, Int)]): Seq[String] = {
    val job = new GenJob(spec, keys)
    implicit val (kOrd, kTag): (Ordering[K], ClassTag[K]) = (keys.objects, keys.tag)
    val want = SerialMR.run(job, items)
    val errs = mutable.ArrayBuffer.empty[String]
    if (job.sortsBytes == spec.byObjects) errs += s"sortsBytes is ${job.sortsBytes}"
    def seqOk(k: K, got: Seq[Int]): Unit = {
      val exp = want(k)
      val ok =
        if (spec.stable) got == exp.map(_._2)
        else got.size == exp.size && {
          var at = 0
          SerialMR.ties(exp).forall { run =>
            val same = got.slice(at, at + run.size).sorted == run.sorted
            at += run.size
            same
          }
        }
      if (!ok) errs += s"key $k: got $got, serial ${exp.map(_._2)}"
    }

    val rdd = sc.parallelize(items, spec.inParts)
    val ran = job.run(rdd).collect()
    if (ran.map(_._1).toSet != want.keySet) errs += s"run keys ${ran.map(_._1).sorted.toSeq}"
    else ran.foreach { case (k, vs) => seqOk(k, vs) }

    val collapsed = job.runCollapsed(rdd).collect()
    if (collapsed.map(_._1).toSet != want.keySet) errs += s"runCollapsed keys ${collapsed.map(_._1).sorted.toSeq}"
    else collapsed.foreach { case (k, v) =>
      val first = SerialMR.ties(want(k)).head
      if (!(if (spec.stable) v == first.head else first.contains(v)))
        errs += s"runCollapsed key $k: got $v, first run $first"
    }

    val applied = job(rdd).asInstanceOf[ListMap[K, Seq[Int]]]
    // apply's insertion order is the shuffle's: hash partition, then key
    val part = new HashPartitioner(spec.n)
    val order = want.keys.toSeq.sortBy(k => (part.getPartition(k), k))
    if (applied.keys.toSeq != order) errs += s"apply keys ${applied.keys.toSeq}, expected $order"
    else applied.foreach { case (k, vs) => seqOk(k, vs) }
    errs.toSeq
  }

  lazy val sink: String = graft.core.Staging.tempAtExit("graft_mr_prop_")

  /** `write` to parquet, read back: each key's multiset of values. */
  def writeMismatches(spec: GenSpec, items: Seq[(Int, Int, Int)]): Seq[String] = {
    val job = new GenJob(spec, Keys.ints)
    val want = SerialMR.run(job, items).map { case (k, vs) => k -> vs.map(_._2).sorted }
    job.write(spark, sc.parallelize(items, spec.inParts), sink)(Encoders.scalaInt, Encoders.scalaInt)
    val back = spark.read.parquet(sink).collect().map(r => (r.getInt(0), r.getInt(1)))
    val got = back.groupBy(_._1).map { case (k, kvs) => k -> kvs.map(_._2).toSeq.sorted }
    if (got == want) Nil
    else want.keySet.union(got.keySet).toSeq.sorted.collect {
      case k if got.get(k) != want.get(k) => s"write key $k: got ${got.get(k)}, serial ${want.get(k)}"
    }
  }

  def check(cases: Gen[(GenSpec, Seq[(Int, Int, Int)])], n: Int, seed: Long)(
      errors: (GenSpec, Seq[(Int, Int, Int)]) => Seq[String]): Unit = {
    val prop = Prop.forAllNoShrink(cases) { case (spec, items) =>
      val errs = errors(spec, items)
      Prop(errs.isEmpty) :| s"$spec over ${items.size} items: ${errs.take(3).mkString("; ")}"
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(n).withWorkers(1).withInitialSeed(Seed(seed))
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}

/** [[SerialDiff]] over generated jobs, each on a shuffle path drawn
  * at random. */
class MapReducePropSpec extends SerialDiff {

  lazy val spark: SparkSession = Session.build(cpus = 4)

  test("run, runCollapsed and apply agree with the serial tinymr interpreter") {
    check(cases, 60, 20261017L)(mismatches)
  }

  test("write to parquet reads back each key's values of the serial interpreter") {
    check(cases, 30, 20261018L)(writeMismatches)
  }

  test("String-keyed jobs, with null, empty, NUL and 8-byte-sharing keys, agree with the serial interpreter") {
    check(casesOf(Gen.oneOf(specs, combinerSpecs)), 40, 20261020L)(mismatchesOf(Keys.strings))
  }

  test("jobs with the sum combiner agree with the serial interpreter run without it") {
    check(casesOf(combinerSpecs), 40, 20261019L)((spec, items) =>
      mismatches(spec, items) ++ writeMismatches(spec, items))
  }

  test("the combiner flushes a map partition holding more keys than it folds at once") {
    // one map partition whose items hold each key twice, the second
    // time after the combiner has flushed
    val keys = MapReduce.CombineKeys + MapReduce.CombineKeys / 2
    val items = (0 until 2 * keys).map(i => (i % keys, 0, 1 + i % 60))
    for (stable <- Seq(false, true); byObjects <- Seq(false, true)) {
      val spec = GenSpec(false, false, false, false, false, false, stable, 1, Some(3), 2,
        combine = true, byObjects = byObjects)
      val errs = mismatches(spec, items)
      assert(errs.isEmpty, s"$spec: ${errs.take(3).mkString("; ")}")
    }
  }

  test("every flag combination agrees on a fixed skewed input") {
    val items = Gen.listOfN(60, item).apply(Gen.Parameters.default, Seed(7L)).get
    for {
      mapSort <- Seq(false, true); mapWithValue <- Seq(false, true); mapRev <- Seq(false, true)
      redSort <- Seq(false, true); redWithValue <- Seq(false, true); redRev <- Seq(false, true)
      stable <- Seq(false, true)
    } {
      val spec = GenSpec(mapSort, mapWithValue, mapRev, redSort, redWithValue, redRev,
        stable, 3, None, if (stable) 1 else 0)
      val errs = mismatches(spec, items)
      assert(errs.isEmpty, s"$spec: ${errs.take(3).mkString("; ")}")
    }
  }
}

/** The reduce-side sorters of both shuffle paths spill: in a session
  * whose sorters spill every [[MapReduceSpillSpec.SpillEvery]] records,
  * generated jobs over a few hundred items agree with [[SerialMR]], and
  * their tasks report bytes spilled from memory. */
class MapReduceSpillSpec extends SerialDiff {
  import MapReduceSpillSpec._

  lazy val spark: SparkSession = {
    System.setProperty(SpillKey, SpillEvery.toString)
    try Session.build(cpus = 2) finally System.clearProperty(SpillKey)
  }

  /** Bytes the tasks of `body`'s jobs report spilled from memory. */
  def spilledBy(body: => Unit): Long = {
    import org.apache.spark.scheduler._
    val spilled = new java.util.concurrent.atomic.AtomicLong
    val seen = new java.util.concurrent.CountDownLatch(1)
    val sentinel = s"spill-sentinel-${System.nanoTime}"
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) spilled.addAndGet(e.taskMetrics.memoryBytesSpilled)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == sentinel)) seen.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      // listener events arrive in order: once the sentinel job is seen,
      // so is every task of `body`
      sc.setJobGroup(sentinel, sentinel)
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      assert(seen.await(30, java.util.concurrent.TimeUnit.SECONDS), "sentinel job not seen")
      spilled.get
    } finally sc.removeSparkListener(listener)
  }

  def bigCases(byObjects: Boolean): Gen[(GenSpec, Seq[(Int, Int, Int)])] = for {
    s <- Gen.oneOf(specs, combinerSpecs)
    n <- Gen.choose(100, 300)
    xs <- Gen.listOfN(n, item)
  } yield (s.copy(byObjects = byObjects), xs)

  for ((path, byObjects) <- Seq("byte" -> false, "object" -> true))
    test(s"$path-path jobs agree with the serial interpreter while their sorters spill") {
      assert(sc.getConf.get(SpillKey) == SpillEvery.toString)
      val spilled = spilledBy(check(bigCases(byObjects), 20, 20261021L)(mismatches))
      assert(spilled > 0, s"$path path: no task spilled")
    }

  for ((path, byObjects) <- Seq("byte" -> false, "object" -> true))
    test(s"$path-path String-keyed jobs agree with the serial interpreter while their sorters spill") {
      val spilled = spilledBy(check(bigCases(byObjects), 10, 20261022L)(mismatchesOf(Keys.strings)))
      assert(spilled > 0, s"$path path: no task spilled")
    }
}

object MapReduceSpillSpec {
  val SpillKey = "spark.shuffle.spill.numElementsForceSpillThreshold"
  val SpillEvery = 16
}
