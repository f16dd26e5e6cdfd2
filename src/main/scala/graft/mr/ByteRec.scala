package graft.mr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.UnsafeExternalRowSorter.PrefixComputer
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.{ByteArrayMethods, LongArray}
import org.apache.spark.unsafe.memory.MemoryBlock
import org.apache.spark.util.collection.unsafe.sort.{RadixSort, RecordComparator}

/** A growable byte buffer. */
private[graft] final class ByteOut {
  var buf = new Array[Byte](64)
  var pos = 0
  def ensure(n: Int): Unit =
    if (pos + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, pos + n))
  /** Writes one byte into room made by `ensure`. */
  def put(b: Int): Unit = { buf(pos) = b.toByte; pos += 1 }
  /** The low `n` bytes of `v`, big-endian. */
  def bytes(v: Long, n: Int): Unit = { ensure(n); var i = n; while (i > 0) { i -= 1; put((v >>> 8 * i).toInt) } }
}

/** Reads what a [[ByteOut]] wrote, from any base object and offset. */
private[graft] final class ByteIn {
  var base: AnyRef = _
  var pos = 0L
  def at(b: AnyRef, p: Long): this.type = { base = b; pos = p; this }
  def byte(): Int = { val b = Platform.getByte(base, pos) & 0xFF; pos += 1; b }
  def bytes(n: Int): Long = { var v = 0L; var i = 0; while (i < n) { v = v << 8 | byte(); i += 1 }; v }
}

/** An order-preserving byte encoding: unsigned byte order of encodings
  * is the type's natural `Ordering`, and no encoding is a proper prefix
  * of another, so concatenations encode tuples. */
private[graft] sealed abstract class ByteCodec[T] extends Serializable {
  def write(x: T, out: ByteOut): Unit
  def read(in: ByteIn): T
}

private[graft] object ByteCodec {
  /** 0x80 + n before the n significant bytes of x >= 0; 0x7F - n before
    * the low n bytes of x < 0 whose complement fits n bytes. */
  object LongC extends ByteCodec[Long] {
    def write(x: Long, out: ByteOut): Unit = {
      val n = (71 - java.lang.Long.numberOfLeadingZeros(x ^ x >> 63)) / 8
      out.bytes(if (x < 0) 0x7F - n else 0x80 + n, 1); out.bytes(x, n)
    }
    def read(in: ByteIn): Long = {
      val h = in.byte(); val n = if (h >= 0x80) h - 0x80 else 0x7F - h; val v = in.bytes(n)
      if (h >= 0x80 || n == 8) v else v | -1L << 8 * n
    }
  }
  /** A type written as a `Long` of the same order. */
  final class ViaLong[T](to: T => Long, from: Long => T) extends ByteCodec[T] {
    def write(x: T, out: ByteOut): Unit = LongC.write(to(x), out)
    def read(in: ByteIn): T = from(LongC.read(in))
  }
  val IntC = new ViaLong[Int](_.toLong, _.toInt)
  /** `java.lang.Double.compare` order (-∞ < -0.0 < 0.0 < ∞ < NaN) is the
    * signed order of the bits with a negative's low 63 flipped. */
  val DoubleC = new ViaLong[Double](d => signed(java.lang.Double.doubleToLongBits(d)),
    l => java.lang.Double.longBitsToDouble(signed(l)))
  private def signed(bits: Long): Long = if (bits < 0) bits ^ Long.MaxValue else bits
  /** `String.compareTo` order, UTF-16 code-unit order: each unit as the
    * UTF-8 form of its value (so surrogates sort below U+E000, as in
    * UTF-16), U+0000 as 00 FF, then 00 01. `null` is 00 00, the least. */
  object StringC extends ByteCodec[String] {
    def write(s: String, out: ByteOut): Unit = {
      out.ensure(if (s == null) 2 else 3 * s.length + 2)
      var i = 0
      while (s != null && i < s.length) {
        val c: Int = s.charAt(i)
        if (c == 0) { out.put(0); out.put(0xFF) }
        else if (c < 0x80) out.put(c)
        else if (c < 0x800) { out.put(0xC0 | c >> 6); out.put(0x80 | c & 0x3F) }
        else { out.put(0xE0 | c >> 12); out.put(0x80 | c >> 6 & 0x3F); out.put(0x80 | c & 0x3F) }
        i += 1
      }
      out.put(0); out.put(if (s == null) 0 else 1)
    }
    def read(in: ByteIn): String = {
      val sb = new java.lang.StringBuilder
      var b = in.byte()
      while (b != 0 || { b = in.byte(); b == 0xFF }) { // 0xFF is never a lead byte
        sb.append((if (b == 0xFF) 0
          else if (b < 0x80) b
          else if (b < 0xE0) (b & 0x1F) << 6 | in.byte() & 0x3F
          else (b & 0x0F) << 12 | (in.byte() & 0x3F) << 6 | in.byte() & 0x3F).toChar)
        b = in.byte()
      }
      if (b == 0) null else sb.toString
    }
  }
  /** A 2-, 3- or 4-tuple, field after field: `Ordering.TupleN` order. */
  final class TupleC(f: Array[ByteCodec[Any]]) extends ByteCodec[Product] {
    def write(x: Product, out: ByteOut): Unit = { var i = 0; while (i < f.length) { f(i).write(x.productElement(i), out); i += 1 } }
    def read(in: ByteIn): Product = f.length match { // arguments are read left to right
      case 2 => (f(0).read(in), f(1).read(in))
      case 3 => (f(0).read(in), f(1).read(in), f(2).read(in))
      case _ => (f(0).read(in), f(1).read(in), f(2).read(in), f(3).read(in))
    }
  }

  private val natural: Seq[(Ordering[_], ByteCodec[_])] = Seq(Ordering.String -> StringC,
    Ordering.Long -> LongC, Ordering.Int -> IntC, implicitly[Ordering[Double]] -> DoubleC,
    Ordering.Double.TotalOrdering -> DoubleC)
  private def tuples(n: Int): Iterator[List[(Ordering[_], ByteCodec[_])]] =
    if (n == 0) Iterator(Nil) else tuples(n - 1).flatMap(t => natural.map(_ :: t))

  /** The codec of a natural ordering of `String`, `Long`, `Int`,
    * `Double` or a 2- to 4-tuple of these, found by `==` (Scala's tuple
    * orderings define `equals`); None for any other ordering. */
  def of[T](ord: Ordering[T]): Option[ByteCodec[T]] =
    (natural.iterator ++ (2 to 4).iterator.flatMap(tuples).map { fs =>
      (fs.map(_._1.asInstanceOf[Ordering[Any]]) match {
        case List(a, b) => Ordering.Tuple2(a, b)
        case List(a, b, c) => Ordering.Tuple3(a, b, c)
        case os => Ordering.Tuple4(os(0), os(1), os(2), os(3))
      }, new TupleC(fs.map(_._2.asInstanceOf[ByteCodec[Any]]).toArray))
    }).collectFirst { case (o, codec) if o == ord => codec.asInstanceOf[ByteCodec[T]] }
}

/** One shuffled record as bytes, in an [[UnsafeRow]] of no fields: the
  * ordered part (the key; the absent-before-present flag, the sort
  * element and, under `withValue`, the value, complemented as a unit
  * under `reverse`; under `stable` the arrival); the value unless the
  * ordered part holds it as written; zeros, and the value's offset in
  * the last 4 bytes of a multiple of 8. Unsigned byte order of records
  * is the object path's `recOrdering`, ties broken on the value. */
private[graft] final class RecCodec[K, S, V](k: ByteCodec[K], s: ByteCodec[S],
    v: ByteCodec[V], withValue: Boolean, reverse: Boolean) extends Serializable {
  import RecCodec._

  /** Writes the records of map partition `part`. */
  final class Writer(part: Int, numbered: Boolean) {
    private var out, kept = new ByteOut
    private var off = -1L
    private val row = new UnsafeRow(0)

    /** Writes `e` and keeps it if it starts a run (`first`) or is less
      * than the record kept; returns the record kept, as a row. */
    def write(e: Emit[K, S, V], first: Boolean): UnsafeRow = {
      out.pos = 0
      k.write(e.key, out)
      val from = out.pos
      e match { case KSV(_, sort, _) => out.bytes(1, 1); s.write(sort, out); case _ => out.bytes(0, 1) }
      var at = out.pos
      if (withValue) v.write(e.value, out)
      if (reverse) { var i = from; while (i < out.pos) { out.buf(i) = (~out.buf(i)).toByte; i += 1 } }
      if (numbered) { off += 1; ByteCodec.IntC.write(part, out); ByteCodec.LongC.write(off, out) }
      if (!withValue || reverse) { at = out.pos; v.write(e.value, out) }
      out.bytes(0, -(out.pos + 4) & 7)
      out.bytes(at.toLong, 4)
      if (first || compare(0, out.buf, Base, out.pos, kept.buf, Base, kept.pos) < 0) { val t = kept; kept = out; out = t }
      row.pointTo(kept.buf, Base, kept.pos); row
    }
  }

  /** Reads a reduce partition's sorted records, group by group. */
  final class Reader {
    private val in = new ByteIn
    private var key: Array[Byte] = Array.emptyByteArray

    /** The key of the group `r` opens. */
    def open(r: UnsafeRow): K = {
      val kv = k.read(in.at(r.getBaseObject, r.getBaseOffset))
      key = new Array[Byte]((in.pos - r.getBaseOffset).toInt)
      Platform.copyMemory(r.getBaseObject, r.getBaseOffset, key, Base, key.length)
      kv
    }
    /** Whether `r` holds the open group's key (keys are prefix-free). */
    def same(r: UnsafeRow): Boolean = key.length <= r.getSizeInBytes &&
      ByteArrayMethods.arrayEquals(r.getBaseObject, r.getBaseOffset, key, Base, key.length)
    /** The value, at the offset the record's last 4 bytes hold. */
    def value(r: UnsafeRow): V = v.read(in.at(r.getBaseObject,
      r.getBaseOffset + in.at(r.getBaseObject, r.getBaseOffset + r.getSizeInBytes - 4).bytes(4)))
  }
}

private[graft] object RecCodec {
  private[mr] final val Base = Platform.BYTE_ARRAY_OFFSET
  private val LittleEndian = java.nio.ByteOrder.nativeOrder == java.nio.ByteOrder.LITTLE_ENDIAN
  /** 8 bytes at `at`, big-endian, so unsigned order is byte order. */
  private[mr] def word(a: AnyRef, at: Long): Long =
    if (LittleEndian) java.lang.Long.reverseBytes(Platform.getLong(a, at)) else Platform.getLong(a, at)

  /** Unsigned byte order of records of `al` and `bl` bytes (multiples
    * of 8) from byte `from` on, the bytes before it being equal. */
  def compare(from: Int, a: AnyRef, ao: Long, al: Int, b: AnyRef, bo: Long, bl: Int): Int = {
    val n = math.min(al, bl)
    var i = from
    while (i < n && Platform.getLong(a, ao + i) == Platform.getLong(b, bo + i)) i += 8
    if (i < n) java.lang.Long.compareUnsigned(word(a, ao + i), word(b, bo + i)) else Integer.compare(al, bl)
  }

  /** The sorter's record order, from byte 8: it compares only on tied prefixes. */
  object Comparator extends RecordComparator {
    def compare(a: AnyRef, ao: Long, al: Int, b: AnyRef, bo: Long, bl: Int): Int =
      RecCodec.compare(8, a, ao, al, b, bo, bl)
  }

  /** A record's first 8 bytes as an unsigned long. */
  def prefixes(): PrefixComputer = new PrefixComputer {
    private val p = new PrefixComputer.Prefix
    def computePrefix(r: InternalRow): PrefixComputer.Prefix = {
      val u = r.asInstanceOf[UnsafeRow]; p.value = word(u.getBaseObject, u.getBaseOffset); p
    }
  }
}

/** Orders a reduce task's records in runs, ahead of the row sorter: it
  * copies them into an on-heap run of at most `page` bytes (grown only
  * as far as the task's records need), sorts the run in [[RecCodec]]
  * byte order, hands it on and refills. A run holds at least one
  * record, so one longer than `page` is a run of its own. The sort is
  * Spark's radix sort on the 8-byte prefix, each group of equal
  * prefixes then merge-sorted on [[RecCodec.compare]]. A row sorter fed
  * these runs finds them as its TimSort's natural runs and only merges
  * them; it still decides the final order. */
private[graft] final class RunSorter(page: Int) {
  import RecCodec.{Base, word}

  private var buf = new Array[Byte](math.min(page, 4096))
  /** Per record (offset << 32 | length, prefix), then as many longs
    * again: the radix sort's other half, and the merge sort's room. */
  private var ptrs = new Array[Long](256)

  def sort(in: Iterator[UnsafeRow]): Iterator[UnsafeRow] = new Iterator[UnsafeRow] {
    private val row = new UnsafeRow(0)
    // a record read that did not fit the run; nothing reads `in` before it is copied
    private var pending: UnsafeRow = null
    private var n, i, at = 0 // records in the run, records handed on, first sorted pair

    def hasNext: Boolean = i < n || { fill(); n > 0 }
    def next(): UnsafeRow = {
      if (!hasNext) throw new NoSuchElementException
      val p = ptrs(at + 2 * i)
      i += 1
      row.pointTo(buf, Base + (p >>> 32), p.toInt); row
    }

    private def fill(): Unit = {
      n = 0; i = 0
      var used = 0
      var r = if (pending != null) pending else if (in.hasNext) in.next() else null
      pending = null
      while (r != null) {
        val len = r.getSizeInBytes
        if (n > 0 && used + len > page) { pending = r; r = null }
        else {
          if (used + len > buf.length)
            buf = java.util.Arrays.copyOf(buf, math.max(math.min(2 * buf.length, page), used + len))
          if (4 * (n + 1) > ptrs.length) ptrs = java.util.Arrays.copyOf(ptrs, 2 * ptrs.length)
          Platform.copyMemory(r.getBaseObject, r.getBaseOffset, buf, Base + used, len)
          ptrs(2 * n) = used.toLong << 32 | len
          ptrs(2 * n + 1) = word(buf, Base + used)
          n += 1; used += len
          r = if (in.hasNext) in.next() else null
        }
      }
      at = RadixSort.sortKeyPrefixArray(new LongArray(MemoryBlock.fromLongArray(ptrs)), 0, n, 0, 7, false, false)
      val room = if (at == 0) 2 * n else 0
      var lo = 0
      while (lo < n) {
        var hi = lo + 1
        while (hi < n && ptrs(at + 2 * hi + 1) == ptrs(at + 2 * lo + 1)) hi += 1
        if (hi - lo > 1) {
          var j = lo; while (j < hi) { ptrs(room + j - lo) = ptrs(at + 2 * j); j += 1 }
          mergeSort(room, room + hi - lo, room + hi - lo)
          j = lo; while (j < hi) { ptrs(at + 2 * j) = ptrs(room + j - lo); j += 1 }
        }
        lo = hi
      }
    }
  }

  private def cmp(p: Long, q: Long): Int =
    RecCodec.compare(8, buf, Base + (p >>> 32), p.toInt, buf, Base + (q >>> 32), q.toInt)

  /** Sorts the pointers `ptrs(lo until hi)` with `(hi - lo) / 2`
    * longs of room from `tmp`; a sorted stretch costs one compare. */
  private def mergeSort(lo: Int, hi: Int, tmp: Int): Unit =
    if (hi - lo <= 8) {
      var j = lo + 1
      while (j < hi) {
        val p = ptrs(j); var k = j
        while (k > lo && cmp(ptrs(k - 1), p) > 0) { ptrs(k) = ptrs(k - 1); k -= 1 }
        ptrs(k) = p; j += 1
      }
    } else {
      val mid = (lo + hi) >>> 1
      mergeSort(lo, mid, tmp); mergeSort(mid, hi, tmp)
      if (cmp(ptrs(mid - 1), ptrs(mid)) > 0) {
        System.arraycopy(ptrs, lo, ptrs, tmp, mid - lo)
        var a = tmp; var b = mid; var k = lo
        val aEnd = tmp + mid - lo
        while (a < aEnd) {
          if (b < hi && cmp(ptrs(b), ptrs(a)) < 0) { ptrs(k) = ptrs(b); b += 1 }
          else { ptrs(k) = ptrs(a); a += 1 }
          k += 1
        }
      }
    }
}
