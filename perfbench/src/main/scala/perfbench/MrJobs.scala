package perfbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Encoders, SparkSession}

import graft.mr.{Emit, KSV, KV, MapReduce}
import graft.queries.MrQueries

/** Per word, the longest document holding it: the 3-tuple +
  * reduce-side descending sort + return-style collapse idiom of
  * `MrQueries.LongestDoc`, keyed by word, so the job has as many keys
  * as the corpus has distinct words. */
class WordArgMax extends MapReduce[(Long, String), String, (Long, Long), (Long, Long)] {
  override def sortReduceReverse = true
  def mapper(d: (Long, String)): IterableOnce[Emit[String, (Long, Long), (Long, Long)]] = {
    val len = d._2.length.toLong
    d._2.split(' ').iterator.map(w => KSV(w, (len, d._1), (d._1, len)))
  }
  def reducer(w: String, vs: Iterator[(Long, Long)]): IterableOnce[Emit[String, (Long, Long), (Long, Long)]] =
    vs.map(v => KSV(w, (v._2, v._1), v))
}

/** Per word, the first and last document holding it, read off the
  * arrival order that `stable = true` guarantees on both shuffles. */
class FirstLast extends MapReduce[(Long, String), String, Int, Long] {
  override def stable = true
  def mapper(d: (Long, String)): IterableOnce[Emit[String, Int, Long]] =
    d._2.split(' ').iterator.map(w => KV(w, d._1))
  def reducer(w: String, docs: Iterator[Long]): IterableOnce[Emit[String, Int, Long]] = {
    val first = docs.next()
    var last = first
    docs.foreach(last = _)
    Iterator(KV(w, first), KV(w, last))
  }
}

/** The `mr_corpus` items: five Layer A jobs over one generated corpus,
  * each checked against the serial answers [[Corpus]] computed. An item
  * returns None when its answer is right, else what was wrong. */
final class MrJobs(spark: SparkSession, corpus: Corpus, path: String,
    scratch: String, partitions: Int) {

  private def docs: RDD[(Long, String)] =
    spark.sparkContext.textFile(path, partitions).map { l =>
      val t = l.indexOf('\t')
      (l.substring(0, t).toLong, l.substring(t + 1))
    }
  private def texts: RDD[String] = docs.map(_._2)

  private def id(w: String): Int = {
    val i = corpus.wordId.get(w)
    if (i == null) -1 else i.intValue
  }

  private def checkCounts(got: Array[(String, Long)]): Option[String] = {
    val expected = corpus.distinctWords
    if (got.length != expected) return Some(s"${got.length} words, expected $expected")
    got.collectFirst {
      case (w, n) if id(w) < 0 || corpus.counts(id(w)) != n => s"count of '$w' is $n"
    }
  }

  val items: Seq[(String, () => Option[String])] = Seq(
    "word_count" -> (() => checkCounts(
      new MrQueries.WordCount().run(texts).map { case (w, vs) => (w, vs.head) }.collect())),
    "key_overload" -> (() => {
      val got = new MrQueries.KeyOverload().runCollapsed(docs).collect().toMap
      val want = corpus.distinctByKey.indices.map(k => k.toLong -> corpus.distinctByKey(k).toString).toMap
      if (got == want) None else Some(s"distinct per key $got, expected $want")
    }),
    "argmax_collapse" -> (() => {
      val got = new WordArgMax().runCollapsed(docs).collect()
      if (got.length != corpus.distinctWords) Some(s"${got.length} keys")
      else got.collectFirst {
        case (w, (doc, _)) if id(w) < 0 || corpus.argMaxDoc(id(w)) != doc => s"arg-max of '$w' is $doc"
      }
    }),
    "stable_first_last" -> (() => {
      val got = new FirstLast().run(docs).collect()
      if (got.length != corpus.distinctWords) Some(s"${got.length} keys")
      else got.collectFirst {
        case (w, vs) if id(w) < 0 ||
            vs != Seq(corpus.firstDoc(id(w)), corpus.lastDoc(id(w))) => s"arrival order of '$w' is $vs"
      }
    }),
    "write_parquet" -> (() => {
      val out = s"$scratch/word_count.parquet"
      new MrQueries.WordCount().write(spark, texts, out)(Encoders.STRING, Encoders.scalaLong)
      import spark.implicits._
      checkCounts(spark.read.parquet(out).as[(String, Long)].collect())
    }))

  /** A few hundred lines through the same two shuffles: warms the JIT
    * for the Layer A path without touching the timed input. */
  def warmUp(): Unit = {
    new MrQueries.WordCount()
      .run(spark.sparkContext.parallelize(corpus.words.take(2000).grouped(8).map(_.mkString(" ")).toSeq, partitions))
      .count()
    ()
  }
}
