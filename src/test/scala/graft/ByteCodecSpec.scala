package graft

import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.unsafe.Platform
import org.scalacheck.{Arbitrary, Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.mr._

/** The laws the byte shuffle rests on, for every type it encodes:
  * unsigned byte order of encodings is the type's natural `Ordering`,
  * decoding gives the value back, and no encoding is a proper prefix of
  * another (so encodings concatenate). Then the same order law for
  * whole records: key, absent-before-present flag, sort element and
  * value, reversed as a unit, and arrival. Last, [[RunSorter]]: each
  * run it hands on is in that record order. */
class ByteCodecSpec extends AnyFunSuite {

  def encode[T](c: ByteCodec[T], x: T): Array[Byte] = {
    val out = new ByteOut
    c.write(x, out)
    java.util.Arrays.copyOf(out.buf, out.pos)
  }

  /** Decodes `b` whole, or fails: the codec must read exactly its bytes. */
  def decode[T](c: ByteCodec[T], b: Array[Byte]): T = {
    val in = new ByteIn().at(b, Platform.BYTE_ARRAY_OFFSET)
    val x = c.read(in)
    assert(in.pos == Platform.BYTE_ARRAY_OFFSET + b.length, s"read ${in.pos - Platform.BYTE_ARRAY_OFFSET} of ${b.length} bytes")
    x
  }

  /** Java equality field by field: NaN equals NaN, -0.0 is not 0.0. */
  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (p: Product, q: Product) if p.productArity == q.productArity =>
      p.productIterator.zip(q.productIterator).forall { case (x, y) => same(x, y) }
    case _ => java.util.Objects.equals(a, b)
  }

  def isPrefix(a: Array[Byte], b: Array[Byte]): Boolean =
    a.length < b.length && java.util.Arrays.equals(a, 0, a.length, b, 0, a.length)

  /** The laws for the codec of `ord`, whose order is `model`'s. */
  def laws[T](name: String, ord: Ordering[T], gen: Gen[T], seed: Long)(
      model: Ordering[T] = ord): Unit =
    test(s"$name: byte order is the Ordering, decode inverts encode, encodings are prefix-free") {
      val codec = ByteCodec.of(ord).getOrElse(fail(s"no codec for $name"))
      val prop = Prop.forAllNoShrink(gen, gen) { (a, b) =>
        val (ea, eb) = (encode(codec, a), encode(codec, b))
        val want = Integer.signum(model.compare(a, b))
        val got = Integer.signum(java.util.Arrays.compareUnsigned(ea, eb))
        Prop(got == want) :| s"compare($a, $b): ordering $want, bytes $got" &&
          Prop(same(decode(codec, ea), a)) :| s"round trip of $a" &&
          Prop(!isPrefix(ea, eb) && !isPrefix(eb, ea)) :| s"prefix: $a, $b"
      }
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(2000)
        .withInitialSeed(Seed(seed)), prop)
      assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    }

  /** Code units from every UTF-16 class that orders differently in
    * UTF-8: NUL and U+0001, ASCII, 2- and 3-byte forms, surrogate pairs
    * and lone surrogates, and the U+E000–U+FFFF range above them. */
  val unit: Gen[Char] = Gen.frequency(
    2 -> Gen.oneOf('\u0000', '\u0001', '\u007f', '\u0080', '\u07ff', '\u0800'),
    4 -> Gen.choose('a', 'd'),
    1 -> Gen.choose('\u00e0', '\u00ff'),
    2 -> Gen.choose('\ud800', '\udfff'),
    2 -> Gen.choose('\ue000', '\uffff'))
  val strings: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    6 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, unit).map(_.mkString)),
    2 -> Gen.choose(0x10000, 0x10ffff).map(cp => "a" + new String(Character.toChars(cp))))

  val longs: Gen[Long] = Gen.frequency(
    1 -> Gen.oneOf(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L, Long.MaxValue - 1, Long.MaxValue),
    3 -> Arbitrary.arbitrary[Long], 2 -> Gen.choose(-3L, 3L))
  val ints: Gen[Int] = Gen.frequency(
    1 -> Gen.oneOf(Int.MinValue, Int.MinValue + 1, -1, 0, 1, Int.MaxValue - 1, Int.MaxValue),
    3 -> Arbitrary.arbitrary[Int], 2 -> Gen.choose(-3, 3))
  val doubles: Gen[Double] = Gen.frequency(
    2 -> Gen.oneOf(Double.NaN, -0.0, 0.0, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, -Double.MinPositiveValue, Double.MaxValue, Double.MinValue,
      java.lang.Double.longBitsToDouble(0x7ff8000000000123L)), // a NaN with a payload
    3 -> Arbitrary.arbitrary[Double], 2 -> Gen.choose(-2, 2).map(_.toDouble))

  laws("String", Ordering.String, strings.suchThat(_ != null), 1L)()
  laws("String or null", Ordering.String, strings, 2L)(StringOrder)
  laws("Long", Ordering.Long, longs, 3L)()
  laws("Int", Ordering.Int, ints, 4L)()
  laws("Double", Ordering.Double.TotalOrdering, doubles, 5L)()
  laws("Double under its implicit Ordering", implicitly[Ordering[Double]], doubles, 6L)()
  laws("(String, Long)", Ordering.Tuple2(Ordering.String, Ordering.Long),
    Gen.zip(strings.suchThat(_ != null), Gen.choose(-2L, 2L)), 7L)()
  laws("(Int, Double, String)", Ordering.Tuple3(Ordering.Int, Ordering.Double.TotalOrdering, Ordering.String),
    Gen.zip(Gen.choose(-1, 1), doubles, strings.suchThat(_ != null)), 8L)()
  laws("(Long, Long, Long, Long)", implicitly[Ordering[(Long, Long, Long, Long)]],
    Gen.zip(Gen.choose(0L, 1L), Gen.choose(0L, 1L), Gen.choose(0L, 1L), longs), 9L)()

  test("orderings without a byte encoding get none") {
    assert(ByteCodec.of(Ordering.fromLessThan[Int](_ < _)).isEmpty)
    assert(ByteCodec.of(Ordering.Int.reverse).isEmpty)
    assert(ByteCodec.of(Ordering.Double.IeeeOrdering).isEmpty)
    assert(ByteCodec.of(UntypedEmit.AnyOrdering).isEmpty)
    assert(ByteCodec.of(Ordering.Option(Ordering.Int)).isEmpty)
    assert(ByteCodec.of(Ordering.Tuple2(Ordering.Int, Ordering.Int.reverse)).isEmpty)
    assert(ByteCodec.of(implicitly[Ordering[((Int, Int), Int)]]).isEmpty)
  }

  /** One record's order under `recOrdering`'s rule, as a model: key,
    * then (flag, sort, value when `withValue`) reversed as a unit under
    * `reverse`, then arrival, then (a tie of the rule) the value. */
  def modelCompare(withValue: Boolean, reverse: Boolean)(
      a: (Emit[String, Double, (Int, Long)], Int), b: (Emit[String, Double, (Int, Long)], Int)): Int = {
    val c1 = Ordering.String.compare(a._1.key, b._1.key)
    if (c1 != 0) return c1
    val part = Ordering.Tuple2(Ordering.Option(Ordering.Double.TotalOrdering),
      Ordering.Option(implicitly[Ordering[(Int, Long)]]))
    def sortPart(e: Emit[String, Double, (Int, Long)]) =
      (e.sortOpt, if (withValue) Some(e.value) else None)
    val c2 = if (reverse) part.compare(sortPart(b._1), sortPart(a._1))
      else part.compare(sortPart(a._1), sortPart(b._1))
    if (c2 != 0) c2
    else Ordering.Tuple2(Ordering.Int, implicitly[Ordering[(Int, Long)]])
      .compare((a._2, a._1.value), (b._2, b._1.value))
  }

  test("records: key, then the flag, sort element and value reversed as a unit, then arrival, then value") {
    val emits: Gen[Emit[String, Double, (Int, Long)]] = for {
      k <- Gen.oneOf("", "a", "a\u0000", "ab")
      s <- Gen.option(Gen.oneOf(-0.0, 0.0, 1.5, Double.NaN))
      v <- Gen.zip(Gen.choose(-1, 1), Gen.choose(-1L, 1L))
    } yield s.fold[Emit[String, Double, (Int, Long)]](KV(k, v))(KSV(k, _, v))
    val flags = Gen.zip(Gen.oneOf(false, true), Gen.oneOf(false, true), Gen.oneOf(false, true))
    val prop = Prop.forAllNoShrink(flags, Gen.listOfN(6, emits)) { case ((withValue, reverse, stable), es) =>
      val codec = new RecCodec(ByteCodec.of(Ordering.String).get,
        ByteCodec.of(Ordering.Double.TotalOrdering).get,
        ByteCodec.of(implicitly[Ordering[(Int, Long)]]).get, withValue, reverse)
      val w = new codec.Writer(3, stable)
      val rows = es.map(w.write(_, first = true).copy())
      val r = new codec.Reader
      val arrival = if (stable) es.indices else es.map(_ => 0)
      val model = es.zip(arrival)
      val errs = for {
        i <- es.indices; j <- es.indices
        got = Integer.signum(RecCodec.compare(0, rows(i).getBaseObject, rows(i).getBaseOffset,
          rows(i).getSizeInBytes, rows(j).getBaseObject, rows(j).getBaseOffset, rows(j).getSizeInBytes))
        want = Integer.signum(modelCompare(withValue, reverse)(model(i), model(j)))
        if got != want
      } yield s"${es(i)} vs ${es(j)}: bytes $got, model $want"
      val read = rows.map(row => (r.open(row), r.value(row)))
      Prop(errs.isEmpty) :| s"withValue $withValue, reverse $reverse, stable $stable: ${errs.take(3)}" &&
        Prop(read == es.map(e => (e.key, e.value))) :| s"read back $read"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(500)
      .withInitialSeed(Seed(11L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  def recCompare(a: Array[Byte], b: Array[Byte]): Int = {
    val base = Platform.BYTE_ARRAY_OFFSET.toLong
    RecCodec.compare(0, a, base, a.length, b, base, b.length)
  }

  /** Runs filled in arrival order while they hold at most `page` bytes
    * (at least one record each), each sorted by `RecCodec.compare`. */
  def inRuns(recs: Seq[Array[Byte]], page: Int): Seq[Array[Byte]] = {
    val runs = recs.foldLeft(Vector(Vector.empty[Array[Byte]])) { (rs, r) =>
      if (rs.last.nonEmpty && rs.last.map(_.length).sum + r.length > page) rs :+ Vector(r)
      else rs.init :+ (rs.last :+ r)
    }
    runs.flatMap(_.sortWith(recCompare(_, _) < 0))
  }

  /** The records as a shuffle read serves them: one row over one buffer,
    * overwritten by every `next()`. */
  def served(recs: Seq[Array[Byte]]): Iterator[UnsafeRow] = {
    val buf = new Array[Byte](recs.map(_.length).maxOption.getOrElse(0))
    val row = new UnsafeRow(0)
    recs.iterator.map { r =>
      System.arraycopy(r, 0, buf, 0, r.length)
      row.pointTo(buf, Platform.BYTE_ARRAY_OFFSET, r.length); row
    }
  }

  /** Strings sharing their first 7, 8, 15, 16, 24 or more bytes, then
    * differing in a unit, a NUL, a multi-byte form or in length. */
  val sharing: Gen[String] = for {
    head <- Gen.oneOf(7, 8, 15, 16, 24, 31).map(n => "abcdefghijklmnopqrstuvwxyz012345".take(n))
    tail <- Gen.oneOf("", "\u0000", "\u0001", "a", "b", "\u00e9", "\uffff", "zz")
  } yield head + tail
  val sortKeys: Gen[String] = Gen.frequency(1 -> Gen.oneOf(null, "", "\u0000"), 4 -> sharing,
    2 -> strings, 2 -> Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, unit).map(_.mkString)))

  /** [[RunSorter]] over records of a job keyed by `ord`'s type: record
    * sets of 0 and 1 records, random ones, duplicates, and ones that
    * arrive in reverse order; runs from smaller than a record to larger
    * than the set. */
  def runLaw[K](name: String, ord: Ordering[K], keys: Gen[K], seed: Long): Unit =
    test(s"RunSorter over $name records hands on each run in RecCodec.compare order") {
      val emits: Gen[Emit[K, Int, Long]] = for {
        k <- keys; s <- Gen.option(Gen.choose(-1, 1)); v <- Gen.choose(-2L, 300L)
      } yield s.fold[Emit[K, Int, Long]](KV(k, v))(KSV(k, _, v))
      val cases = for {
        withValue <- Gen.oneOf(false, true); reverse <- Gen.oneOf(false, true)
        stable <- Gen.oneOf(false, true)
        codec = new RecCodec(ByteCodec.of(ord).get, ByteCodec.IntC, ByteCodec.LongC, withValue, reverse)
        es <- Gen.frequency(1 -> Gen.choose(0, 1), 4 -> Gen.choose(2, 300)).flatMap(Gen.listOfN(_, emits))
        recs = { val w = new codec.Writer(1, stable); es.map(w.write(_, first = true).copy().getBytes) }
        dups = if (recs.isEmpty) Gen.const(recs)
          else Gen.choose(2, 300).flatMap(Gen.listOfN(_, Gen.oneOf(recs.take(4))))
        set <- Gen.oneOf(Gen.const(recs), dups,
          Gen.const(recs.sortWith(recCompare(_, _) > 0)))
        page <- Gen.oneOf(8, 64, 512, 4096, 1 << 20)
      } yield (set, page)
      val prop = Prop.forAllNoShrink(cases) { case (recs, page) =>
        val got = new RunSorter(page).sort(served(recs)).map(_.copy().getBytes).toVector
        val want = inRuns(recs, page)
        Prop(got.length == want.length && got.zip(want).forall(p => p._1.sameElements(p._2))) :|
          s"${recs.length} records, page $page: got ${got.map(_.toSeq)}, want ${want.map(_.toSeq)}"
      }
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(300)
        .withInitialSeed(Seed(seed)), prop)
      assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    }

  runLaw("String", Ordering.String, sortKeys, 12L)
  runLaw("Long", Ordering.Long, longs, 13L)
  runLaw("(String, Long)", Ordering.Tuple2(Ordering.String, Ordering.Long),
    Gen.zip(sortKeys, Gen.choose(-2L, 2L)), 14L)
}
