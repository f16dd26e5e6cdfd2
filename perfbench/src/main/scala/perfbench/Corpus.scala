package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** Shape of the generated `mr_corpus` text. Word ranks follow a Zipf
  * law, so one corpus holds both a heavy head (a handful of words make
  * up a large share of all tokens) and a near-unique tail. */
final case class CorpusParams(tokens: Int, vocab: Int, zipfS: Double,
    lineLen: Int)

object CorpusParams {
  val default: CorpusParams =
    CorpusParams(tokens = 800000, vocab = 200000, zipfS = 1.1, lineLen = 12)
}

/** A seeded Zipf corpus, one document per line (`docId<TAB>words`),
  * and the answers a plain serial pass over it gives. The answers are
  * computed while generating, never by Spark, so they are an
  * independent oracle for the Layer A jobs run over the same file.
  *
  * Word ids index every oracle array; `words(id)` is its spelling.
  */
final class Corpus(val seed: Long, val params: CorpusParams) {
  import Corpus._

  val words: Array[String] = spellings(seed, params.vocab)
  val wordId: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](params.vocab * 2)
    words.indices.foreach(i => m.put(words(i), i))
    m
  }

  /** Tokens per word. */
  val counts = new Array[Long](params.vocab)
  /** Distinct words among documents with `docId % 4 == k`. */
  val distinctByKey = new Array[Long](4)
  /** Per word: the longest document holding it, ties to the larger
    * doc id — the arg-max the collapse job must return. */
  val argMaxDoc: Array[Long] = Array.fill(params.vocab)(-1L)
  private val argMaxLen = new Array[Long](params.vocab)
  /** Per word: first and last document holding it, in file order. */
  val firstDoc: Array[Long] = Array.fill(params.vocab)(-1L)
  val lastDoc: Array[Long] = Array.fill(params.vocab)(-1L)
  var docs: Long = 0L

  /** Writes the corpus to `path` and fills the oracle arrays. */
  def write(path: String): Unit = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val cdf = zipfCdf(params.vocab, params.zipfS)
    val seen = Array.fill(4)(new java.util.BitSet(params.vocab))
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 20)
    val line = new java.lang.StringBuilder(256)
    val ids = new Array[Int](params.lineLen * 2)
    var left = params.tokens
    try {
      while (left > 0) {
        val n = math.min(left,
          params.lineLen / 2 + rng.nextInt(params.lineLen + 1))
        left -= n
        val doc = docs
        docs += 1
        line.setLength(0)
        var i = 0
        while (i < n) {
          ids(i) = sample(cdf, rng.nextDouble())
          if (i > 0) line.append(' ')
          line.append(words(ids(i)))
          i += 1
        }
        val len = line.length.toLong
        val key = (doc % 4).toInt
        i = 0
        while (i < n) {
          val w = ids(i)
          counts(w) += 1
          seen(key).set(w)
          if (firstDoc(w) < 0) firstDoc(w) = doc
          lastDoc(w) = doc
          if (len > argMaxLen(w) || (len == argMaxLen(w) && doc > argMaxDoc(w))) {
            argMaxLen(w) = len; argMaxDoc(w) = doc
          }
          i += 1
        }
        out.write(doc.toString); out.write('\t')
        out.write(line.toString); out.write('\n')
      }
    } finally out.close()
    (0 until 4).foreach(k => distinctByKey(k) = seen(k).cardinality().toLong)
  }

  def distinctWords: Int = counts.count(_ > 0)
}

object Corpus {
  private val syllables: Array[String] = (for {
    c <- "bdfgklmnprstvz"; v <- "aeiou"
  } yield s"$c$v").toArray

  /** One distinct lowercase word per id: the id, scrambled by a
    * seed-chosen bijection, written in syllable digits. Different
    * seeds put different spellings at the head of the distribution. */
  def spellings(seed: Long, vocab: Int): Array[String] = {
    val rng = new java.util.SplittableRandom(seed)
    var a = 1L + rng.nextLong(vocab.toLong - 1)
    while (gcd(a, vocab.toLong) != 1L) a += 1
    val b = rng.nextLong(vocab.toLong)
    Array.tabulate(vocab) { i =>
      var x = (a * i + b) % vocab
      val sb = new StringBuilder
      do {
        sb.append(syllables((x % syllables.length).toInt))
        x /= syllables.length
      } while (x > 0)
      sb.toString
    }
  }

  @annotation.tailrec
  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val cdf = new Array[Double](n)
    var acc = 0.0
    var r = 0
    while (r < n) { acc += math.pow(r + 1.0, -s); cdf(r) = acc; r += 1 }
    r = 0
    while (r < n) { cdf(r) /= acc; r += 1 }
    cdf
  }

  private def sample(cdf: Array[Double], u: Double): Int = {
    var lo = 0; var hi = cdf.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}
