package graft.mr

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD

import scala.collection.immutable.ListMap
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

/** One shuffled Layer A record: an emit's key, its sort element (when
  * the emit has one), its value (once, also when the order uses it)
  * and, under [[MapReduce.stable]], its arrival as (map-partition
  * index, offset in the partition). It is the whole shuffle key; the
  * shuffle value is null. Java serialization writes only a flag byte
  * and the fields present: no tuples or options, no arrival unless it
  * is numbered.
  */
private[mr] final class ShuffleRec[K, S, V](var key: K, var value: V)
    extends java.io.Externalizable {
  var flags: Int = 0
  var sort: S = _
  var part: Int = 0
  var off: Long = 0L

  def this() = this(null.asInstanceOf[K], null.asInstanceOf[V])
  def hasSort: Boolean = (flags & ShuffleRec.HasSort) != 0
  private def numbered: Boolean = (flags & ShuffleRec.Numbered) != 0

  def writeExternal(out: java.io.ObjectOutput): Unit = {
    out.writeByte(flags)
    out.writeObject(key)
    if (hasSort) out.writeObject(sort)
    out.writeObject(value)
    if (numbered) { out.writeInt(part); out.writeLong(off) }
  }
  def readExternal(in: java.io.ObjectInput): Unit = {
    flags = in.readByte()
    key = in.readObject().asInstanceOf[K]
    if (hasSort) sort = in.readObject().asInstanceOf[S]
    value = in.readObject().asInstanceOf[V]
    if (numbered) { part = in.readInt(); off = in.readLong() }
  }
}

private[mr] object ShuffleRec {
  final val HasSort = 1
  final val Numbered = 2
}

/** Layer A — the reference's execution contract, distributed.
  *
  * tinymr's pipeline (`/root/reference/tinymr.py:156-230`) is
  * `mapper → partition+sort → reducer → partition+sort → collapse →
  * output`. Here each stage maps onto Spark's native machinery:
  *
  *   - map phase → `rdd.flatMap` (tinymr.py:196-199; the return-vs-yield
  *     dichotomy of the Python API unifies on `IterableOnce`, SURVEY §7.4)
  *   - partition + secondary sort → `repartitionAndSortWithinPartitions`
  *     of one flat [[ShuffleRec]] per emit, ordered by key then sort
  *     key and partitioned by a hash of the key alone — the shuffle's
  *     ExternalSorter sorts and can SPILL, unlike the reference's
  *     driver-resident `defaultdict(list)` + `list.sort`
  *     (tinymr.py:332-343) which is the single-machine wall this build
  *     removes
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
    * that builds it, at the cost of 12 shuffled bytes a record. */
  def stable: Boolean = false

  /** Map-side combiner, the `Counter`-merge idiom of `docs.rst:236-246`
    * made a job member. When set, each map task folds its emits per key
    * (by `equals`/`hashCode`, as the hash partitioner already assumes)
    * in insertion order before the first shuffle, so the reducer
    * receives partial values: one per key per map task, more when a
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

  /** One partition+secondary-sort round (`tinymr.py:278-345`,
    * distributed): each emit becomes one [[ShuffleRec]], the whole
    * shuffle key, sorted by [[recOrdering]] and partitioned by its key
    * alone. Emits per-key streaming iterators. With `combine` the emits
    * are folded per key first ([[combined]]); under [[stable]] the
    * records are then numbered in the same pass, as (partition index,
    * offset); with `collapse` only the least record of each run of
    * equal keys is shipped ([[leastPerRun]]).
    */
  private def shuffle(emits: RDD[Emit[K, S, V]], withValue: Boolean,
      reverse: Boolean, n: Int, combine: Option[(V, V) => V],
      collapse: Boolean): RDD[(K, Iterator[V])] = {
    val numbered = stable
    implicit val ord: Ordering[ShuffleRec[K, S, V]] = recOrdering(withValue, reverse)
    val job = getClass.getName
    val recs: RDD[(ShuffleRec[K, S, V], Null)] = emits.mapPartitionsWithIndex { (p, it) =>
      val built = combine match {
        case Some(f) => combined(it, f, job)
        case None => it.map { e =>
          val r = new ShuffleRec[K, S, V](e.key, e.value)
          e match {
            case KSV(_, s, _) => r.flags = ShuffleRec.HasSort; r.sort = s
            case _ =>
          }
          r
        }
      }
      var off = -1L
      val arrived = if (!numbered) built else built.map { r =>
        off += 1; r.flags |= ShuffleRec.Numbered; r.part = p; r.off = off; r
      }
      (if (collapse) leastPerRun(arrived, ord) else arrived).map((_, null))
    }
    val partitioner = new HashPartitioner(n) {
      override def getPartition(key: Any): Int =
        super.getPartition(key.asInstanceOf[ShuffleRec[K, S, V]].key)
    }
    val kOrd = implicitly[Ordering[K]]
    recs.repartitionAndSortWithinPartitions(partitioner)
      .mapPartitions(it => groupConsecutive(it.map(_._1))(kOrd), preservesPartitioning = true)
  }

  /** A map task's emits under a [[combiner]]: values folded per key in
    * an insertion-ordered hash map, flushed whenever it holds
    * [[MapReduce.CombineKeys]] keys, so the task's memory stays bounded.
    */
  private def combined(it: Iterator[Emit[K, S, V]], f: (V, V) => V,
      job: String): Iterator[ShuffleRec[K, S, V]] =
    new Iterator[ShuffleRec[K, S, V]] {
      private var out: java.util.Iterator[java.util.Map.Entry[K, V]] =
        java.util.Collections.emptyIterator()
      def hasNext: Boolean = out.hasNext || (it.hasNext && { fill(); out.hasNext })
      def next(): ShuffleRec[K, S, V] = {
        if (!hasNext) throw new NoSuchElementException("next on an empty iterator")
        val e = out.next()
        new ShuffleRec[K, S, V](e.getKey, e.getValue)
      }
      private def fill(): Unit = {
        val acc = new java.util.LinkedHashMap[K, V]()
        while (acc.size < MapReduce.CombineKeys && it.hasNext) it.next() match {
          case KV(k, v) =>
            val old = acc.get(k)
            acc.put(k, if (old == null && !acc.containsKey(k)) v else f(old, v))
          case _ => throw new IllegalArgumentException(
            s"$job declares a combiner, so its mapper must emit KV records, got a KSV")
        }
        out = acc.entrySet.iterator
      }
    }

  /** From each run of consecutive records with equal keys, only the
    * least under `ord`. Equal keys hash to the same reduce partition, so
    * the least record per key after the shuffle is the same as without
    * this pass. */
  private def leastPerRun(it: Iterator[ShuffleRec[K, S, V]],
      ord: Ordering[ShuffleRec[K, S, V]]): Iterator[ShuffleRec[K, S, V]] =
    new Iterator[ShuffleRec[K, S, V]] {
      private val buf = it.buffered
      def hasNext: Boolean = buf.hasNext
      def next(): ShuffleRec[K, S, V] = {
        var least = buf.next()
        while (buf.hasNext && buf.head.key == least.key) {
          val r = buf.next()
          if (ord.lt(r, least)) least = r
        }
        least
      }
    }

  /** The shuffle's sort order: the key; then absent sort element before
    * present, the sort element, and the value when `withValue`, this
    * part reversed as a unit under `reverse`; then arrival ascending,
    * never reversed (equal under no [[stable]]), so reversed ties keep
    * arrival order as Python's stable `sort(reverse=True)` does.
    */
  private def recOrdering(withValue: Boolean,
      reverse: Boolean): Ordering[ShuffleRec[K, S, V]] = {
    val kOrd = implicitly[Ordering[K]]
    val sOrd = implicitly[Ordering[S]]
    val vOrd = implicitly[Ordering[V]]
    val rev = reverse // `reverse` inside the Ordering is its own method
    new Ordering[ShuffleRec[K, S, V]] {
      private def sortPart(a: ShuffleRec[K, S, V], b: ShuffleRec[K, S, V]): Int =
        if (a.hasSort != b.hasSort) { if (a.hasSort) 1 else -1 }
        else {
          val c = if (a.hasSort) sOrd.compare(a.sort, b.sort) else 0
          if (c != 0 || !withValue) c else vOrd.compare(a.value, b.value)
        }
      def compare(a: ShuffleRec[K, S, V], b: ShuffleRec[K, S, V]): Int = {
        val c1 = kOrd.compare(a.key, b.key)
        if (c1 != 0) return c1
        val c2 = if (rev) sortPart(b, a) else sortPart(a, b)
        if (c2 != 0) return c2
        val c3 = Integer.compare(a.part, b.part)
        if (c3 != 0) c3 else java.lang.Long.compare(a.off, b.off)
      }
    }
  }

  /** Group a key-sorted record iterator into per-key value iterators
    * without materializing a partition. The inner iterator must be
    * consumed (or abandoned) before the outer advances — guaranteed by
    * construction here since we drain leftovers on advance.
    */
  private def groupConsecutive(it: Iterator[ShuffleRec[K, S, V]])(
      kOrd: Ordering[K]): Iterator[(K, Iterator[V])] =
    new Iterator[(K, Iterator[V])] {
      private val buf = it.buffered
      private var current: Iterator[V] = Iterator.empty
      def hasNext: Boolean = { while (current.hasNext) current.next(); buf.hasNext }
      def next(): (K, Iterator[V]) = {
        while (current.hasNext) current.next()
        val k = buf.head.key
        current = new Iterator[V] {
          def hasNext: Boolean = buf.hasNext && kOrd.equiv(buf.head.key, k)
          def next(): V = buf.next().value
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
