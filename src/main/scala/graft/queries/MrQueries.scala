package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.mr.{Emit, KSV, KV, MapReduce, UntypedMapReduce}

/** Layer A (the distributed MapReduce trait) exercised end-to-end and
  * exposed through the same oracle-checked query surface as Layer B —
  * these queries prove the parity engine computes the same answers as
  * declarative SQL, through the reference's own canonical workloads.
  */
object MrQueries {

  /** Whitespace runs, compiled once: `String.split("\\s+")` compiles
    * a `Pattern` per call, that is per mapped line. */
  private val Blanks = java.util.regex.Pattern.compile("\\s+")

  /** The reference's canonical query: word count
    * (`/root/reference/docs.rst:139-159`), as a MapReduce job. The
    * reducer is mergeable, so values stream; no sort requested —
    * exactly the serial path of SURVEY §3.1, distributed. The sum is
    * also the map-side combiner (the `Counter` merge of
    * `docs.rst:236-246`): each map task ships one partial count per
    * distinct word, not one record per token.
    */
  class WordCount extends MapReduce[String, String, Int, Long] {
    override def combiner: Option[(Long, Long) => Long] = Some(_ + _)
    def mapper(line: String): IterableOnce[Emit[String, Int, Long]] =
      Blanks.split(line.toLowerCase).iterator.filter(_.nonEmpty)
        .map(w => KV(w, 1L))
    def reducer(word: String, counts: Iterator[Long]): IterableOnce[Emit[String, Int, Long]] =
      Iterator.single(KV(word, counts.sum))
  }

  def mr01WordCount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lines = Tables.documents(s, d).select("text").as[String].rdd
    new WordCount().run(lines)
      .map { case (w, vs) => (w, vs.head) }
      .toDF("word", "n")
  }

  /** Key-overloading for bounded reduce parallelism
    * (`docs.rst:373-407`): round-robin synthetic keys, count distinct
    * words per key. Reference keys by line arrival; we key by
    * doc_id % 4 so the grouping is deterministic and oracle-checkable.
    *
    * The distinct count STREAMS through the engine's own secondary sort
    * (SURVEY O5): words arrive at the reducer already sorted within the
    * key, so counting value boundaries gives the distinct count with
    * O(1) reducer state — with 4 synthetic keys a per-key `toSet` would
    * hold ~25% of the corpus vocabulary in one task's memory at scale,
    * while the shuffle's ExternalSorter spills.
    */
  class KeyOverload extends MapReduce[(Long, String), Long, String, String] {
    // sort BY VALUE (KV + sortMapWithValue), not KSV(k, w, w): the
    // sort-mode matrix gives the same sorted-adjacent guarantee without
    // shipping every word twice through the job's dominant shuffle
    override def sortMapWithValue = true
    def mapper(doc: (Long, String)): IterableOnce[Emit[Long, String, String]] =
      Blanks.split(doc._2.toLowerCase).iterator.filter(_.nonEmpty)
        .map(w => KV(doc._1 % 4, w))
    def reducer(k: Long, words: Iterator[String]): IterableOnce[Emit[Long, String, String]] = {
      var n = 0L; var prev: String = null
      words.foreach { w => if (prev == null || w != prev) { n += 1; prev = w } }
      Iterator.single(KV(k, n.toString))
    }
  }

  def mr02KeyOverload(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select("doc_id", "text")
      .as[(Long, String)].rdd
    new KeyOverload().runCollapsed(docs)
      .map { case (k, n) => (k, n.toLong) }
      .toDF("k", "n_distinct_words")
  }

  /** arg-max through the 3-tuple + return-style-collapse idiom (SURVEY
    * O5+O9 [verified]): sort element (n_chars, doc_id), reduce-side
    * descending sort, collapse keeps the first (= max) value per key.
    */
  class LongestDoc extends MapReduce[(String, Long, Long), String, (Long, Long), (Long, Long)] {
    override def sortReduceReverse = true
    def mapper(r: (String, Long, Long)): IterableOnce[Emit[String, (Long, Long), (Long, Long)]] =
      Iterator.single(KSV(r._1, (r._3, r._2), (r._2, r._3)))
    def reducer(lang: String, vs: Iterator[(Long, Long)]): IterableOnce[Emit[String, (Long, Long), (Long, Long)]] =
      vs.map(v => KSV(lang, (v._2, v._1), v)) // re-attach sort for round 2
  }

  def mr03LongestDoc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select("lang", "doc_id", "n_chars")
      .as[(String, Long, Long)].rdd
    new LongestDoc().runCollapsed(docs)
      .map { case (lang, (docId, nChars)) => (lang, docId, nChars) }
      .toDF("lang", "doc_id", "n_chars")
  }

  /** Secondary sort against a real table (SURVEY O5 with an oracle):
    * per-customer orders arrive at the reducer ALREADY sorted by
    * (orderdate, orderkey) — the reducer reads first/last positionally,
    * exactly the positional-logic-over-sorted-values idiom the
    * reference's sort matrix exists for. No in-reducer sorting.
    */
  class OrdersTimeline extends MapReduce[(Long, Long, Long), Long, (Long, Long), (Long, Long, Long, Long)] {
    def mapper(r: (Long, Long, Long)): IterableOnce[Emit[Long, (Long, Long), (Long, Long, Long, Long)]] =
      Iterator.single(KSV(r._1, (r._3, r._2), (r._2, 0L, 0L, 0L)))
    def reducer(cust: Long, vs: Iterator[(Long, Long, Long, Long)]): IterableOnce[Emit[Long, (Long, Long), (Long, Long, Long, Long)]] = {
      val first = vs.next()._1
      var last = first; var n = 1L
      vs.foreach { v => last = v._1; n += 1 }
      Iterator.single(KV(cust, (first, last, n, 0L)))
    }
  }

  def mr06OrdersTimeline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val orders = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t"))
      .as[(Long, Long, Long)].rdd
    new OrdersTimeline().run(orders)
      .map { case (cust, vs) => (cust, vs.head._1, vs.head._2, vs.head._3) }
      .toDF("o_custkey", "first_orderkey", "last_orderkey", "n_orders")
  }

  /** Frequency-of-frequencies THROUGH the second shuffle round — O8 on
    * real data (previously only the unit matrix exercised it): round 1
    * groups by WORD and the reducer emits `(count, 1)` — a NEW key of
    * a different type, the dynamic-key freedom tinymr's untyped
    * surface has (`tinymr.py:217-221`: reducer output is re-partitioned
    * by whatever keys it emitted) — and the second shuffle regroups by
    * count; each count's group SIZE is the spectrum value. t07 is the
    * declarative twin, answer-identical by construction (the q20/mr01
    * parity-pair pattern, applied to O8).
    */
  class FreqOfFreq extends UntypedMapReduce {
    def rawMapper(item: Seq[Any]): IterableOnce[Seq[Any]] =
      Blanks.split(item.head.asInstanceOf[String].toLowerCase).iterator
        .filter(_.nonEmpty).map(w => Seq(w, 1L))
    def rawReducer(key: Any, values: Iterator[Any]): IterableOnce[Seq[Any]] =
      Iterator.single(Seq(values.size.toLong, 1L))
  }

  def mr07FreqSpectrum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lines = Tables.documents(s, d).select("text").as[String]
      .rdd.map(t => Seq[Any](t))
    new FreqOfFreq().run(lines)
      .map { case (k, vs) => (k.asInstanceOf[Long], vs.size.toLong) }
      .toDF("n_occurrences", "n_words")
  }

  /** mr08: O10's 100 TB half surfaced on the query gate — a Layer-A
    * job FINALIZED through [[MapReduce.write]] (the distributed sink:
    * (key, value) rows straight to a connector, never touching the
    * driver — the scale counterpart of the reference's driver-side
    * `__call__`/output hook, `tinymr.py:225-230`) and read back under
    * the oracle. The job is the canonical word count, so the oracle is
    * mr01's — the sink round-trip must be answer-preserving, which is
    * exactly the property a user switching from the eager surface to
    * the sink surface relies on.
    */
  def mr08WriteSink(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lines = Tables.documents(s, d).select("text").as[String].rdd
    val sink = graft.core.Staging.tempAtExit("graft_mr08_sink_")
    new WordCount().write(s, lines, sink)
    s.read.parquet(sink)
      .select(col("key").as("word"), col("value").as("n"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mr08_write_sink" -> mr08WriteSink,
    "mr07_freq_spectrum" -> mr07FreqSpectrum,
    "mr01_word_count" -> mr01WordCount,
    "mr02_key_overload" -> mr02KeyOverload,
    "mr03_longest_doc" -> mr03LongestDoc,
    "mr06_orders_timeline" -> mr06OrdersTimeline)

  val oracles: Map[String, String] = Map(
    // the sink round-trip is answer-preserving, so mr08 answers mr01's
    // oracle (the shared-oracle pattern: the two surfaces cannot drift)
    "mr08_write_sink" ->
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS word
           FROM documents) t
         WHERE word <> '' GROUP BY 1""",
    "mr07_freq_spectrum" ->
      """SELECT n AS n_occurrences, count(*) AS n_words FROM (
           SELECT word, count(*) AS n FROM (
             SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS word
             FROM documents) t
           WHERE word <> '' GROUP BY 1) c
         GROUP BY 1""",
    "mr01_word_count" ->
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS word
           FROM documents) t
         WHERE word <> '' GROUP BY 1""",
    "mr02_key_overload" ->
      """SELECT doc_id % 4 AS k, count(DISTINCT word) AS n_distinct_words
         FROM (
           SELECT doc_id,
                  unnest(regexp_split_to_array(lower(text), '\s+')) AS word
           FROM documents) t
         WHERE word <> '' GROUP BY 1""",
    "mr03_longest_doc" ->
      """SELECT lang, doc_id, n_chars FROM (
           SELECT lang, doc_id, n_chars, row_number() OVER (
             PARTITION BY lang ORDER BY n_chars DESC, doc_id DESC) AS rn
           FROM documents) t WHERE rn = 1""",
    // (o_orderdate, o_orderkey) tiebreak — dates are day-granular so
    // per-customer ties are common and bare arg_min/arg_max would be
    // nondeterministic
    "mr06_orders_timeline" ->
      """WITH r AS (
           SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_custkey) AS n
           FROM orders)
         SELECT o_custkey,
           max(CASE WHEN rn = 1 THEN o_orderkey END) AS first_orderkey,
           max(CASE WHEN rn = n THEN o_orderkey END) AS last_orderkey,
           CAST(max(n) AS BIGINT) AS n_orders
         FROM r GROUP BY 1""")
}
