package graft

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.immutable.ListMap
import scala.collection.mutable
import graft.mr._

/** One generated Layer A job: emit arity, sort flags and direction on
  * each side, `stable`, parallelism and the reducer's shape.
  *
  * Reducers: 0 re-keys every value (`k % 3`, merging groups) with a
  * tie-heavy sort element `v % 4`; 1 numbers the values in the order
  * it receives them, so its output depends on the map-side order (only
  * generated where that order is total); 2 emits one sum per key.
  */
final case class GenSpec(
    mapSort: Boolean, mapWithValue: Boolean, mapRev: Boolean,
    redSort: Boolean, redWithValue: Boolean, redRev: Boolean,
    stable: Boolean, inParts: Int, outParts: Option[Int], reducerShape: Int) {
  def n: Int = outParts.getOrElse(inParts)
}

class GenJob(val spec: GenSpec) extends MapReduce[(Int, Int, Int), Int, Int, Int] {
  override def sortMapWithValue = spec.mapWithValue
  override def sortReduceWithValue = spec.redWithValue
  override def sortMapReverse = spec.mapRev
  override def sortReduceReverse = spec.redRev
  override def stable = spec.stable
  override def numPartitions = spec.outParts

  private def emit(sort: Boolean, k: Int, s: Int, v: Int): Emit[Int, Int, Int] =
    if (sort) KSV(k, s, v) else KV(k, v)

  /** Filters multiples of 7, explodes multiples of 5 into a second key. */
  def mapper(r: (Int, Int, Int)): IterableOnce[Emit[Int, Int, Int]] = {
    val (k, s, v) = r
    if (v % 7 == 0) Iterator.empty
    else if (v % 5 == 0) Iterator(emit(spec.mapSort, k, s, v), emit(spec.mapSort, k + 1, s, v))
    else Iterator.single(emit(spec.mapSort, k, s, v))
  }

  def reducer(k: Int, vs: Iterator[Int]): IterableOnce[Emit[Int, Int, Int]] =
    spec.reducerShape match {
      case 0 => vs.map(v => emit(spec.redSort, k % 3, v % 4, v))
      case 1 => vs.zipWithIndex.map { case (v, i) => emit(spec.redSort, k, i % 3, v * 100 + i) }
      case _ =>
        val sum = vs.sum
        Iterator.single(emit(spec.redSort, k % 2, sum % 5, sum))
    }
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

  def partitionAndSort(recs: Seq[Emit[Int, Int, Int]], withValue: Boolean,
      reverse: Boolean): ListMap[Int, Sorted] = {
    val groups = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Emit[Int, Int, Int]]]
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
  def run(job: GenJob, items: Seq[(Int, Int, Int)]): ListMap[Int, Sorted] = {
    val s = job.spec
    val first = partitionAndSort(items.flatMap(job.mapper), s.mapWithValue, s.mapRev)
    val part = new HashPartitioner(s.n)
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

/** Differential spec: `run`, `runCollapsed` and `apply` of generated
  * jobs against [[SerialMR]]. Under `stable` every per-key sequence must
  * match exactly; otherwise each run of tied sort keys must hold the
  * same multiset in the same place (so a total order is compared
  * exactly), and a collapsed value must come from the first run.
  */
class MapReducePropSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
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
  } yield GenSpec(mapSort, mapWithValue, mapRev, redSort, redWithValue, redRev, stable,
    inParts, outParts,
    // the numbering reducer needs a total map-side order
    if (shape == 1 && !(stable || mapWithValue)) 0 else shape)

  /** Skewed keys (half the items on key 0) and sort elements from a
    * range of 3, so ties are common. */
  val item: Gen[(Int, Int, Int)] = for {
    k <- Gen.frequency(5 -> Gen.const(0), 3 -> Gen.choose(1, 3), 2 -> Gen.choose(4, 40))
    s <- Gen.choose(0, 2)
    v <- Gen.choose(1, 60)
  } yield (k, s, v)

  val cases: Gen[(GenSpec, Seq[(Int, Int, Int)])] =
    for (s <- specs; n <- Gen.choose(0, 80); xs <- Gen.listOfN(n, item)) yield (s, xs)

  def mismatches(spec: GenSpec, items: Seq[(Int, Int, Int)]): Seq[String] = {
    val job = new GenJob(spec)
    val want = SerialMR.run(job, items)
    val errs = mutable.ArrayBuffer.empty[String]
    def seqOk(k: Int, got: Seq[Int]): Unit = {
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

    val applied = job(rdd).asInstanceOf[ListMap[Int, Seq[Int]]]
    // apply's insertion order is the shuffle's: hash partition, then key
    val part = new HashPartitioner(spec.n)
    val order = want.keys.toSeq.sortBy(k => (part.getPartition(k), k))
    if (applied.keys.toSeq != order) errs += s"apply keys ${applied.keys.toSeq}, expected $order"
    else applied.foreach { case (k, vs) => seqOk(k, vs) }
    errs.toSeq
  }

  test("run, runCollapsed and apply agree with the serial tinymr interpreter") {
    val prop = Prop.forAllNoShrink(cases) { case (spec, items) =>
      val errs = mismatches(spec, items)
      Prop(errs.isEmpty) :| s"$spec over ${items.size} items: ${errs.take(3).mkString("; ")}"
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(60).withWorkers(1).withInitialSeed(Seed(20261017L))
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
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
