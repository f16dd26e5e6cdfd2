package graft.mr

import org.apache.spark.{HashPartitioner, SparkEnv}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.{UnsafeExternalRowSorter, UnsafeRowSerializer}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** Raised on the untyped surface when a record does not have 2 or 3
  * elements — the reference's only schema check
  * (`/root/reference/tinymr.py:273-275,301-308`). On the typed surface
  * the [[Emit]] ADT makes bad arity unrepresentable (SURVEY.md §7.1).
  */
class ElementCountError(msg: String) extends RuntimeException(msg)

/** One mapper/reducer emission — the reference's 2-tuple `(key, value)`
  * or 3-tuple `(key, sort, value)` intermediate record
  * (`/root/reference/tinymr.py:52-56,79-83`; `docs.rst:289-291`). The
  * sort element is transient: stripped before the reducer sees data
  * (`tinymr.py:313-314`).
  */
sealed trait Emit[+K, +S, +V] extends Serializable {
  def key: K
  def value: V
  def sortOpt: Option[S]
}
final case class KV[K, V](key: K, value: V) extends Emit[K, Nothing, V] {
  def sortOpt: Option[Nothing] = None
}
final case class KSV[K, S, V](key: K, sort: S, value: V) extends Emit[K, S, V] {
  def sortOpt: Option[S] = Some(sort)
}

/** One shuffled record on the object path ([[RecCodec]] writes the
  * byte path's): an emit and, under [[MapReduce.stable]], its arrival
  * as (map-partition index, offset), else (0, 0). It is the whole
  * shuffle key and hashes as its key, so it is partitioned by it. */
private[mr] final case class ShuffleRec[K, S, V](e: Emit[K, S, V], part: Int, off: Long) {
  override def hashCode: Int = java.util.Objects.hashCode(e.key)
}

/** Layer A — the reference's execution contract, distributed.
  *
  * tinymr's pipeline (`/root/reference/tinymr.py:156-230`) is
  * `mapper → partition+sort → reducer → partition+sort → collapse →
  * output`. Here each stage maps onto Spark's native machinery:
  *
  *   - map phase → `rdd.flatMap` (tinymr.py:196-199; the return-vs-yield
  *     dichotomy of the Python API unifies on `IterableOnce`, SURVEY §7.4)
  *   - partition + secondary sort → one record per emit, ordered by
  *     key then sort key and partitioned by a hash of the key alone:
  *     order-preserving bytes ([[RecCodec]]), which each reduce task
  *     orders in page-sized runs ([[RunSorter]]) for Spark's
  *     `UnsafeExternalRowSorter` to merge, or a [[ShuffleRec]] through
  *     `repartitionAndSortWithinPartitions`. Both final sorters can
  *     SPILL, unlike the reference's driver-resident `defaultdict(list)`
  *     + `list.sort` (tinymr.py:332-343), the wall this build removes
  *   - reduce phase → streaming per-key iterators inside
  *     `mapPartitions` — values of one key never need to fit in a
  *     driver, only in one task
  *   - optional map-side [[combiner]]: the reference's `Counter`
  *     pre-aggregation idiom (`docs.rst:236-246`, SURVEY §2.2) as a job
  *     member, folding each map task's emits per key before the first
  *     shuffle
  *   - second shuffle round with independent flags (tinymr.py:217-221)
  *   - first-per-key collapse for return-style reducers
  *     (tinymr.py:223-227) → `runCollapsed`, which also keeps, from
  *     each run of consecutive equal-key reducer emits, only the least
  *     under the second round's order before that round's shuffle: the
  *     first value per key after the sort is the minimum under that
  *     total order, so the answer is unchanged and a key-preserving
  *     reducer ships one record per key
  *   - `output` driver hook (tinymr.py:93-114,230) → [[apply]]; at
  *     100 TB use [[run]] / [[runCollapsed]] which stay distributed.
  *
  * Sort-mode matrix (normative spec `docs.rst:300-307`, SURVEY §2.1):
  * per-record, `KV` + `sort*WithValue=false` → no sort (arrival order);
  * `KV` + true → sort by value; `KSV` + false → sort element only;
  * `KSV` + true → (sort, value).
  *
  * Decided divergences (SURVEY §7.4): arrival order and unsorted
  * first-per-key are only deterministic under [[stable]], which numbers
  * each record's arrival as (partition index, offset in the partition)
  * in the pass that builds it — the order of a global index, with no
  * extra job — and breaks sort ties on it: Python's Timsort stability
  * reproduced at cluster scale. On the second round the arrival order
  * is the reducer's: keys by hash partition, then key order. Empty
  * input returns an empty result instead of leaking `StopIteration`
  * (tinymr.py:302).
  */
abstract class MapReduce[I, K: ClassTag: Ordering, S: ClassTag: Ordering,
    V: ClassTag: Ordering] extends Serializable {

  /** Map contract (`tinymr.py:39-59`): 0..n emissions per item; 0 =
    * filter, n = explode. */
  def mapper(item: I): IterableOnce[Emit[K, S, V]]

  /** Reduce contract (`tinymr.py:61-91`): values arrive sorted per the
    * map-side sort mode; the sort element has been stripped. The
    * iterator streams — do not retain it past the call. */
  def reducer(key: K, values: Iterator[V]): IterableOnce[Emit[K, S, V]]

  /** Sort-direction / with-value flags (`tinymr.py:116-154`). */
  def sortMapWithValue: Boolean = false
  def sortReduceWithValue: Boolean = false
  def sortMapReverse: Boolean = false
  def sortReduceReverse: Boolean = false

  /** Reproduce Python's stable sort + insertion order exactly (SURVEY
    * §7.4.3): ties break on arrival, numbered per record in the pass
    * that builds it, at the cost of a few shuffled bytes a record. */
  def stable: Boolean = false

  /** Map-side combiner, the `Counter`-merge idiom of `docs.rst:236-246`
    * made a job member. When set, each map task folds its emits per key
    * (of one hash code and equal under the key ordering) in insertion
    * order before the first shuffle, so the reducer receives partial
    * values: one per key per map task, more when a
    * task holds [[MapReduce.CombineKeys]] keys at once and flushes.
    * Contract: the function is associative and commutative, and the
    * reducer gives the same answer on partial values as on the raw
    * ones. Emits must be `KV`; a `KSV` emit under a combiner fails the
    * task with an IllegalArgumentException naming the job class.
    */
  def combiner: Option[(V, V) => V] = None

  /** Reduce-side parallelism; defaults to the input's partition count
    * (the reference's analogue: pool size, `docs.rst:355-358`). A value
    * below 1 is rejected when the job's RDD is built. */
  def numPartitions: Option[Int] = None

  /** Driver-side finalization hook (`tinymr.py:93-114`): "Anything!".
    * Identity by default. Only called from [[apply]]; the distributed
    * entry points never invoke it. */
  def output(results: ListMap[K, Seq[V]]): Any = results

  // ---------------------------------------------------------------------

  private def parts(rdd: RDD[_]): Int = numPartitions match {
    case Some(n) =>
      require(n >= 1, s"numPartitions must be at least 1, got $n in ${getClass.getName}")
      n
    case None => math.max(rdd.getNumPartitions, 1)
  }

  /** The codecs of K, S and V when all three orderings are natural
    * ([[ByteCodec.of]]): then the shuffles carry bytes, else objects. */
  private lazy val codecs = for (k <- ByteCodec.of(implicitly[Ordering[K]]);
    s <- ByteCodec.of(implicitly[Ordering[S]]); v <- ByteCodec.of(implicitly[Ordering[V]])) yield (k, s, v)
  private[graft] def sortsBytes: Boolean = codecs.isDefined

  /** One partition+secondary-sort round (`tinymr.py:278-345`,
    * distributed): each emit becomes one record, sorted by
    * [[recOrdering]] and partitioned by a hash of its key alone. Emits
    * per-key streaming iterators. With `combine` the emits are folded
    * per key first ([[combined]]); under [[stable]] the records are
    * then numbered in the same pass, as (partition index, offset); with
    * `collapse` only the least record of each run of equal keys is
    * shipped ([[runs]]).
    */
  private def shuffle(emits: RDD[Emit[K, S, V]], withValue: Boolean,
      reverse: Boolean, n: Int, combine: Option[(V, V) => V],
      collapse: Boolean): RDD[(K, Iterator[V])] = {
    val numbered = stable
    val job = getClass.getName
    val folded = (it: Iterator[Emit[K, S, V]]) => combine.fold(it)(combined(it, _, job))
    // by K, also the result's; a byte record ships keyed by its p < n
    val partitioner = new HashPartitioner(n)
    codecs match {
      case Some((kc, sc, vc)) =>
        val codec = new RecCodec(kc, sc, vc, withValue, reverse)
        val rows = emits.mapPartitionsWithIndex { (p, it) =>
          val w = new codec.Writer(p, numbered)
          runs(folded(it), collapse, e => (partitioner.getPartition(e.key), w.write(e, first = true)))(
            (least, e) => (least._1, w.write(e, first = false)))
        }
        // the RDD scope of the object path's shuffle, for listeners and the UI
        val (ctx, scope) = (rows.sparkContext, "spark.rdd.scope")
        val outer = ctx.getLocalProperty(scope)
        ctx.setLocalProperty(scope, s"""{"id":"mr${rows.id}","name":"repartitionAndSortWithinPartitions"}""")
        val shuffled = try new ShuffledRDD[Int, UnsafeRow, UnsafeRow](rows, partitioner)
          finally ctx.setLocalProperty(scope, outer)
        shuffled.setSerializer(new UnsafeRowSerializer(0)).mapPartitions({ it =>
          // pages of at most 1/8192 of the heap: the task's 8192-entry page
          // table still spans the heap, and no page is a G1 humongous object
          val page = math.min(SparkEnv.get.memoryManager.pageSizeBytes, Runtime.getRuntime.maxMemory / 8192)
          val sorter = UnsafeExternalRowSorter.createWithRecordComparator(new StructType(),
            () => RecCodec.Comparator, PrefixComparators.BINARY, RecCodec.prefixes(), page, false)
          // fed page-sized sorted runs, its TimSort only merges them
          val runs = new RunSorter(page.toInt).sort(it.map(_._2))
          val r = new codec.Reader
          grouped(sorter.sort(runs).map(_.asInstanceOf[UnsafeRow]))(r.open, r.same, r.value)
        }, preservesPartitioning = true)
      case None =>
        implicit val ord: Ordering[ShuffleRec[K, S, V]] = recOrdering(withValue, reverse)
        val recs = emits.mapPartitionsWithIndex { (p, it) =>
          var off = -1L
          def rec(e: Emit[K, S, V]) = if (!numbered) ShuffleRec(e, 0, 0L) else { off += 1; ShuffleRec(e, p, off) }
          runs(folded(it), collapse, rec)((least, e) => { val r = rec(e); if (ord.lt(r, least)) r else least })
            .map((_, null))
        }
        recs.repartitionAndSortWithinPartitions(partitioner).mapPartitions({ it =>
          var k: K = null.asInstanceOf[K]
          grouped(it.map(_._1.e))(e => { k = e.key; k }, e => kOrd.equiv(e.key, k), _.value)
        }, preservesPartitioning = true)
    }
  }

  private def kOrd = implicitly[Ordering[K]]

  /** A key as a hash-map key, equal to another when [[sameKey]]. */
  private final class Key(val k: K) {
    override def hashCode: Int = java.util.Objects.hashCode(k)
    override def equals(o: Any): Boolean = sameKey(k, o.asInstanceOf[Key].k)
  }

  /** Whether keys meet in one group after a shuffle: of one hash code (so
    * partition) and equal under the key ordering (-0.0 is not 0.0). */
  private def sameKey(a: K, b: K): Boolean =
    if (a == null || b == null) a == null && b == null
    else a.hashCode == b.hashCode && kOrd.equiv(a, b)

  /** One record per emit from `start`, or with `collapse` one per run of
    * emits of the same key ([[sameKey]]), `add` folding in the rest. */
  private def runs[R](it: Iterator[Emit[K, S, V]], collapse: Boolean, start: Emit[K, S, V] => R)(
      add: (R, Emit[K, S, V]) => R): Iterator[R] =
    if (!collapse) it.map(start) else new Iterator[R] {
      private val buf = it.buffered
      def hasNext: Boolean = buf.hasNext
      def next(): R = {
        val e = buf.next()
        var r = start(e)
        while (buf.hasNext && sameKey(buf.head.key, e.key)) r = add(r, buf.next())
        r
      }
    }

  /** A map task's emits under a [[combiner]]: values folded per key in
    * an insertion-ordered hash map, flushed whenever it holds
    * [[MapReduce.CombineKeys]] keys, so the task's memory stays bounded. */
  private def combined(it: Iterator[Emit[K, S, V]], f: (V, V) => V,
      job: String): Iterator[Emit[K, S, V]] =
    Iterator.continually {
      val acc = new java.util.LinkedHashMap[Key, V]()
      while (acc.size < MapReduce.CombineKeys && it.hasNext) it.next() match {
        case KV(k, v) =>
          val key = new Key(k)
          val old = acc.get(key)
          acc.put(key, if (old == null && !acc.containsKey(key)) v else f(old, v))
        case _ => throw new IllegalArgumentException(
          s"$job declares a combiner, so its mapper must emit KV records, got a KSV")
      }
      acc
    }.takeWhile(!_.isEmpty).flatMap(_.asScala.iterator.map(kv => KV(kv._1.k, kv._2)))

  /** The shuffle's sort order: the key; then absent sort element before
    * present, the sort element, and the value when `withValue`, this
    * part reversed as a unit under `reverse`; then arrival ascending,
    * never reversed (equal under no [[stable]]), so reversed ties keep
    * arrival order as Python's stable `sort(reverse=True)` does.
    */
  private def recOrdering(withValue: Boolean,
      reverse: Boolean): Ordering[ShuffleRec[K, S, V]] = {
    val sOrd = implicitly[Ordering[S]]
    val vOrd = implicitly[Ordering[V]]
    val rev = reverse // `reverse` inside the Ordering is its own method
    new Ordering[ShuffleRec[K, S, V]] {
      private def sortPart(a: Emit[K, S, V], b: Emit[K, S, V]): Int = {
        val c = (a, b) match {
          case (KSV(_, x, _), KSV(_, y, _)) => sOrd.compare(x, y)
          case _ => java.lang.Boolean.compare(a.isInstanceOf[KSV[_, _, _]], b.isInstanceOf[KSV[_, _, _]])
        }
        if (c != 0 || !withValue) c else vOrd.compare(a.value, b.value)
      }
      def compare(a: ShuffleRec[K, S, V], b: ShuffleRec[K, S, V]): Int = {
        val c1 = kOrd.compare(a.e.key, b.e.key)
        if (c1 != 0) return c1
        val c2 = if (rev) sortPart(b.e, a.e) else sortPart(a.e, b.e)
        if (c2 != 0) return c2
        val c3 = Integer.compare(a.part, b.part)
        if (c3 != 0) c3 else java.lang.Long.compare(a.off, b.off)
      }
    }
  }

  /** Group a key-sorted record iterator into per-key value iterators
    * without materializing a partition (`open` reads a group's key off
    * its first record, `same` tests a record against it; records may be
    * reused). The inner iterator must be consumed (or abandoned) before
    * the outer advances — guaranteed here since we drain leftovers. */
  private def grouped[R](it: Iterator[R])(open: R => K, same: R => Boolean,
      value: R => V): Iterator[(K, Iterator[V])] =
    new Iterator[(K, Iterator[V])] {
      private val buf = it.buffered
      private var current: Iterator[V] = Iterator.empty
      def hasNext: Boolean = { while (current.hasNext) current.next(); buf.hasNext }
      def next(): (K, Iterator[V]) = {
        while (current.hasNext) current.next()
        val k = open(buf.head)
        current = new Iterator[V] {
          def hasNext: Boolean = buf.hasNext && same(buf.head)
          def next(): V = value(buf.next())
        }
        (k, current)
      }
    }

  /** Full pipeline, yield-style result: every value per output key,
    * ordered by the reduce-side sort mode. Fully distributed — the
    * 100 TB entry point (`.saveAs.../.toDF` downstream).
    */
  final def run(rdd: RDD[I]): RDD[(K, Seq[V])] =
    secondRound(rdd, collapse = false).mapPartitions(
      _.map { case (k, vs) => (k, vs.toVector) }, preservesPartitioning = true)

  /** Return-style collapse (`tinymr.py:223-227` [verified]): FIRST value
    * per key after the reduce-side sort — with a sort element this is
    * arg-min/arg-max; unsorted it is only deterministic under [[stable]].
    */
  final def runCollapsed(rdd: RDD[I]): RDD[(K, V)] =
    secondRound(rdd, collapse = true).mapPartitions(
      _.map { case (k, vs) => (k, vs.next()) }, preservesPartitioning = true)

  private def secondRound(rdd: RDD[I], collapse: Boolean): RDD[(K, Iterator[V])] = {
    val n = parts(rdd)
    val mapped: RDD[Emit[K, S, V]] = rdd.flatMap(mapper)
    val grouped = shuffle(mapped, sortMapWithValue, sortMapReverse, n, combiner, collapse = false)
    val reduced: RDD[Emit[K, S, V]] =
      grouped.mapPartitions(_.flatMap { case (k, vs) => reducer(k, vs) })
    shuffle(reduced, sortReduceWithValue, sortReduceReverse, n, None, collapse)
  }

  /** The reference's eager `__call__` (`tinymr.py:156-230`): run,
    * collect to a driver map (insertion order = reduce-output key
    * order), apply [[output]]. Test/driver-scale only.
    */
  final def apply(rdd: RDD[I]): Any =
    output(ListMap.from(run(rdd).collect()))

  /** Distributed finalization (SURVEY §7.4.6): the 100 TB counterpart
    * of the driver-side [[output]] hook — results go to a columnar (or
    * text) sink as (key, value) rows without ever touching the driver.
    * `format`/`options` pass straight to the DataFrameWriter, so Layer
    * A jobs finalize to any connector Layer B reads (parquet default;
    * CSV/JSON/ORC round-trips are spec-asserted). The `text` writer is
    * the one exception: it requires a SINGLE string column, so callers
    * must pre-concatenate (key, value) in `output`/a mapper before a
    * text-format write — passing format="text" on the two-column frame
    * fails at runtime by Spark's own contract. Requires Encoders for K
    * and V via the caller's SparkSession.
    */
  final def write(spark: org.apache.spark.sql.SparkSession, rdd: RDD[I],
      path: String, format: String = "parquet",
      options: Map[String, String] = Map.empty)(implicit
      ke: org.apache.spark.sql.Encoder[K],
      ve: org.apache.spark.sql.Encoder[V]): Unit = {
    implicit val tupleEnc: org.apache.spark.sql.Encoder[(K, V)] =
      org.apache.spark.sql.Encoders.tuple(ke, ve)
    spark.createDataset(secondRound(rdd, collapse = false).flatMap { case (k, vs) => vs.map((k, _)) })
      .toDF("key", "value")
      .write.mode("overwrite").format(format).options(options).save(path)
  }
}

object MapReduce {
  /** How many keys a map task's [[MapReduce.combiner]] folds at once
    * before it flushes them to the shuffle. */
  private[graft] final val CombineKeys = 1 << 16
}

/** Untyped row surface preserving the reference's runtime arity check
  * (O14): records are `Seq[Any]` of length 2 `(key, value)` or 3
  * `(key, sort, value)`; anything else raises [[ElementCountError]]
  * exactly as `tinymr.py:301-308` does. Typed jobs should prefer
  * [[MapReduce]], where the check is the compiler's.
  */
object UntypedEmit {
  def validate(rec: Seq[Any]): Emit[Any, Any, Any] = rec match {
    case Seq(k, v) => KV(k, v)
    case Seq(k, s, v) => KSV(k, s, v)
    case other => throw new ElementCountError(
      s"Record must have 2 or 3 elements, got ${other.length}")
  }

  /** Natural ordering over runtime Comparables — heterogeneous or
    * non-comparable sort elements fail at sort time, mirroring the
    * reference's `TypeError` (`tinymr.py:337-343` [verified]).
    */
  implicit object AnyOrdering extends Ordering[Any] {
    @SuppressWarnings(Array("unchecked"))
    def compare(a: Any, b: Any): Int =
      a.asInstanceOf[Comparable[Any]].compareTo(b)
  }
}

/** The reference's dynamically-typed surface end-to-end: mapper and
  * reducer emit raw `Seq[Any]` records; every record passes the arity
  * check ([[UntypedEmit.validate]]) exactly where the reference checks
  * (after map and after reduce, `tinymr.py:202-205,217-221`) — except
  * distributed, so EVERY record is checked, not just the first
  * (strictly stronger than the reference's first-record peek,
  * SURVEY §1.2).
  */
abstract class UntypedMapReduce
  extends MapReduce[Seq[Any], Any, Any, Any]()(
    scala.reflect.ClassTag.Any, UntypedEmit.AnyOrdering,
    scala.reflect.ClassTag.Any, UntypedEmit.AnyOrdering,
    scala.reflect.ClassTag.Any, UntypedEmit.AnyOrdering) {

  def rawMapper(item: Seq[Any]): IterableOnce[Seq[Any]]
  def rawReducer(key: Any, values: Iterator[Any]): IterableOnce[Seq[Any]]

  final def mapper(item: Seq[Any]): IterableOnce[Emit[Any, Any, Any]] =
    rawMapper(item).iterator.map(UntypedEmit.validate)
  final def reducer(key: Any, values: Iterator[Any]): IterableOnce[Emit[Any, Any, Any]] =
    rawReducer(key, values).iterator.map(UntypedEmit.validate)
}
