package graft

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
  * value, reversed as a unit, and arrival. */
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
  /** `Ordering.String` with null below every string. */
  val stringOrd: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      if (a == null || b == null) java.lang.Boolean.compare(a != null, b != null)
      else Ordering.String.compare(a, b)
  }

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
  laws("String or null", Ordering.String, strings, 2L)(stringOrd)
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
}
