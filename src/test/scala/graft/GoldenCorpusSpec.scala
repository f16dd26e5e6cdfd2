package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.mr._

// Doctest jobs are top-level (not suite members) so the closures don't
// capture the non-serializable ScalaTest engine via $outer.

/** The reference's published WordCount doctest
  * (`/root/reference/docs.rst:131-159`): Python `line.split()` — runs
  * of whitespace, case PRESERVED (unlike mr01's lowercased variant) —
  * then +1 per occurrence, summed per word.
  */
class GoldenWordCount extends MapReduce[String, String, Int, Long] {
  def mapper(line: String): IterableOnce[Emit[String, Int, Long]] =
    line.split("\\s+").iterator.filter(_.nonEmpty).map(w => KV(w, 1L))
  def reducer(w: String, vs: Iterator[Long]): IterableOnce[Emit[String, Int, Long]] =
    Iterator.single(KV(w, vs.sum))
}

/** The reference's KeyCount doctest (`docs.rst:383-407`): per-line
  * round-robin keys `zip(cycle(range(4)), line.split())`, then
  * `len(set(values))` per key — here the distinct count streams through
  * the secondary sort (count value boundaries) like mr02.
  */
class GoldenKeyCount extends MapReduce[String, Int, String, String] {
  override def sortMapWithValue = true // sort by value — see mr02
  def mapper(line: String): IterableOnce[Emit[Int, String, String]] =
    line.split("\\s+").iterator.filter(_.nonEmpty).zipWithIndex
      .map { case (w, i) => KV(i % 4, w) }
  def reducer(k: Int, vs: Iterator[String]): IterableOnce[Emit[Int, String, String]] = {
    var n = 0; var prev: String = null
    vs.foreach { w => if (prev == null || w != prev) { n += 1; prev = w } }
    Iterator.single(KV(k, n.toString))
  }
}

/** The reference's spec-by-example: its doctests publish exact numbers
  * over its own LICENSE.txt (vendored verbatim as a test fixture).
  * These are the reference's canonical golden values, asserted against
  * the distributed engine.
  */
class GoldenCorpusSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Session.build(cpus = 4)
  override def afterAll(): Unit = spark.stop()
  def sc = spark.sparkContext

  val lines: Seq[String] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/LICENSE.txt"), "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  test("LICENSE word count reproduces docs.rst:155-159: top-3 = OR 8, OF 8, the 7") {
    val counts = new GoldenWordCount().run(sc.parallelize(lines, 4))
      .collect().map { case (k, vs) => (k, vs.head) }.toMap
    assert(counts("OR") == 8L)
    assert(counts("OF") == 8L)
    assert(counts("the") == 7L)
    // and they ARE the top-3: nothing exceeds 8, exactly OR/OF reach 8,
    // third-ranked count is 7
    val ranked = counts.toSeq.sortBy { case (w, n) => (-n, w) }
    assert(ranked.head._2 == 8L)
    assert(counts.filter(_._2 == 8L).keySet == Set("OR", "OF"))
    assert(ranked(2)._2 == 7L)
  }

  test("two concatenated inputs double the goldens (docs.rst:356-371: OR 16, OF 16, the 14)") {
    val counts = new GoldenWordCount().run(sc.parallelize(lines ++ lines, 4))
      .collect().map { case (k, vs) => (k, vs.head) }.toMap
    assert(counts("OR") == 16L)
    assert(counts("OF") == 16L)
    assert(counts("the") == 14L)
  }

  test("KeyCount reproduces docs.rst:404-407: 0 52 / 1 48 / 2 49 / 3 38") {
    val got = new GoldenKeyCount().runCollapsed(sc.parallelize(lines, 4))
      .collect().map { case (k, v) => (k, v.toInt) }.toMap
    assert(got == Map(0 -> 52, 1 -> 48, 2 -> 49, 3 -> 38))
  }
}
