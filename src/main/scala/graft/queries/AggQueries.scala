package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Aggregators.{CounterMerge, CountMinSketch, MisraGries, TopKByCount}

/** The typed-Aggregator library exercised through the oracle gate:
  * each query computes an answer Spark could also get declaratively,
  * but through the custom partial-aggregation machinery — proving the
  * Counter-merge / bounded-top-k semantics (the reference's map-side
  * combine idiom, `/root/reference/docs.rst:236-276`) hold under
  * distributed merge order.
  */
object AggQueries {

  /** Per-language word counts via CounterMerge: one shuffle of merged
    * Counter buffers (5 langs × vocab), not one row per token.
    */
  def a01CounterMerge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // whole documents flow into the aggregator (5k rows, not 330k
    // exploded tokens) — the buffer does the per-line pre-aggregation,
    // exactly the reference's Counter-per-line idiom
    val docs = Tables.documents(s, d)
      .select(col("lang"), col("text")).as[(String, String)]
    docs.groupByKey(_._1)
      .agg(new CounterMerge[(String, String)](
        r => r._2.toLowerCase.split("\\s+").iterator.filter(_.nonEmpty))
        .toColumn.name("counts"))
      .toDF("lang", "counts")
      .select(col("lang"), explode(col("counts")).as(Seq("word", "n")))
  }

  /** Per-language top-3 words via the bounded TopKByCount buffer —
    * `Counter.most_common(3)` per key without any driver-side step.
    */
  def a02TopKPerKey(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(col("lang"), explode(
        filter(split(lower(col("text")), "\\s+"), x => x =!= "")).as("tok"))
      .as[(String, String)]
    toks.groupByKey(_._1)
      .agg(new TopKByCount[(String, String)](3, t => (t._2, 1L)).toColumn.name("top"))
      .toDF("lang", "top")
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col._1").as("word"), col("col._2").as("n"))
  }

  /** Heavy-hitter detection via a Count-Min sketch — the third sketch
    * family after HLL (q17) and GK quantiles (q39), and the one that
    * answers "which keys are hot" (the question q52/q53's skew fixes
    * presuppose someone answered). The skewed q52 key domain replays
    * here: ~70 % of lineitem on k = 0.
    *
    * Scale shape: the sketch pass shuffles ONE ~2 KB buffer per task
    * (commutative merges let the estimate VALUES face the oracle
    * directly; merge-order-dependent Misra-Gries gates through its
    * bound instead — a05); estimates are
    * then read per candidate key against the broadcast sketch in a
    * narrow typed map. The exact per-key counts here double as the
    * contract's ground truth — at 100 TB that exact pass is the thing
    * you DON'T run (the sketch replaces it); the gate runs both to
    * prove the sketch honored its bounds.
    *
    * Contract (q17's pattern): per key, the exact count plus
    * `est_ge_exact` (CMS never under-counts — deterministic) and
    * `est_within_bound` (est ≤ exact + 8·n/width). Derivation of the
    * slack: one row's collision mass for key k has mean ≤ n/width
    * (residual mass spread over width cells), so by Markov
    * P[collision > 8·n/width] ≤ 1/8 per row; the estimate is the MIN
    * over depth = 4 independent rows, so P[fail] ≤ (1/8)⁴ ≈ 2.4e-4
    * per key, ≈ 0.8 % union-bounded over the ~31 keys — and since the
    * hashes and fixtures are fixed, the booleans are a replayed fact
    * of the dataset (verified TRUE at all three sfs), not a per-run
    * gamble. The slack stays ~2.4× tighter than the trivial
    * deterministic bound (est ≤ exact + residual) even for the
    * planted 70 %-mass hot key, so the gate still has teeth if the
    * fixtures are ever regenerated.
    */
  def a03CmsHeavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val depth = 4; val width = 64
    val items = Tables.lineitem(s, d)
      .select(when(col("l_orderkey") % 10 < 7, 0L)
        .otherwise(col("l_orderkey") % 100).as("k"))
      .as[Long]
    val cms = new CountMinSketch[Long](identity, depth, width)
    val sketch = items.select(cms.toColumn.name("sketch")).head()
    val bc = s.sparkContext.broadcast(sketch)
    val exact = items.groupByKey(identity).count()
    // every item increments exactly one cell per sketch row, so row 0
    // sums to the stream length — nTotal rides the sketch the query
    // already built instead of a third lineitem scan
    val nTotal = sketch.take(width).sum
    val slack = 8L * nTotal / width
    exact.map { case (k, n) =>
      val est = graft.functions.Aggregators.CountMinSketch
        .estimate(bc.value, k, depth, width)
      (k, n, est >= n, est <= n + slack)
    }.toDF("k", "n_exact", "est_ge_exact", "est_within_bound")
  }

  /** HLL++ cardinality estimation per source — the 100 TB distinct
    * counter: `approx_count_distinct` keeps a fixed ~KB sketch per
    * group that merges MAP-SIDE (partial-aggable; the shuffle carries
    * one sketch per group per task), where exact COUNT(DISTINCT) must
    * re-shuffle every distinct value. Contract gate (q39/a03's
    * pattern): run BOTH, report the exact count plus whether the
    * estimate honored its bound — at 100 TB the exact pass is the
    * thing you DON'T run; the gate runs it to prove the sketch's
    * honesty. rsd = 0.02, asserted at 5 % (2.5 standard deviations);
    * sketch hashing and fixtures are deterministic, so the boolean is
    * a replayed fact of the dataset at each sf, not a per-run gamble.
    */
  def a04HllDistinct(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), md5(col("text")).as("h"))
      .groupBy(col("source"))
      .agg(countDistinct(col("h")).as("n_exact"),
        approx_count_distinct(col("h"), 0.02).as("est"))
      .select(col("source"), col("n_exact"),
        (abs(col("est") - col("n_exact")).cast("double") <=
          col("n_exact").cast("double") * 0.05).as("within_5pct"))

  /** Misra–Gries frequent items under the a03 contract-gate pattern —
    * the DETERMINISTIC heavy-hitter summary: k=15 counters, no
    * hashing, guaranteed under-count of at most n/(k+1) whatever the
    * partition order (CMS gives the mirror-image over-count). The
    * summary's contents depend on merge order, so the gate outputs
    * the exact counts plus the two replayed contract booleans
    * (est ≤ exact; exact − est ≤ n/16) — TRUE for every key at every
    * sf by the MG theorem, which is what makes the gate hashable.
    * With 70 % of mass on one key and k=15, the heavy key provably
    * survives every decrement (0.7n − n/16 > 0): the summary a
    * 100 TB pipeline keeps per partition is 15 counters, merged
    * map-side — no shuffle of the key domain at all.
    */
  def a05MgHeavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val kCounters = 15
    val items = Tables.lineitem(s, d)
      .select(when(col("l_orderkey") % 10 < 7, lit(0L))
        .otherwise(col("l_orderkey") % 100).cast("string").as("kk"))
      .as[String]
    val mg = new MisraGries[String](identity, kCounters)
    val summary = items.select(mg.toColumn.name("mg")).head()
    // the exact counts already carry n = Σ counts — derive the bound
    // from the (tiny, cached) per-key frame instead of a third scan
    val exact = items.groupByKey(identity).count().cache()
    val bound = exact.map(_._2).reduce(_ + _) / (kCounters + 1)
    // materialize the (tiny — one row per surviving key) result and
    // release the cache HERE: the other modules route caches through
    // graft.core.CacheReleases, and leaving this one to the harness's
    // per-query clearCache would leak it in any session reusing
    // AggQueries directly
    val rows = exact.map { case (key, cnt) =>
      val est = summary.getOrElse(key, 0L)
      (key.toLong, cnt, est <= cnt, cnt - est <= bound)
    }.collect().toSeq
    exact.unpersist()
    rows.toDF("k", "n_exact", "est_le_exact", "within_bound")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a05_mg_heavy_hitters" -> a05MgHeavyHitters,
    "a04_hll_distinct" -> a04HllDistinct,
    "a03_cms_heavy_hitters" -> a03CmsHeavyHitters,
    "a01_counter_merge" -> a01CounterMerge,
    "a02_topk_per_key" -> a02TopKPerKey)

  val oracles: Map[String, String] = Map(
    // exact side of the MG contract; both booleans replay TRUE for
    // every key by the Misra–Gries theorem (a03's pattern)
    "a05_mg_heavy_hitters" ->
      """SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0
                     ELSE l_orderkey % 100 END AS k,
           count(*) AS n_exact,
           TRUE AS est_le_exact, TRUE AS within_bound
         FROM lineitem GROUP BY 1""",
    // exact side of the HLL contract; the bound boolean must replay
    // TRUE for every source
    "a04_hll_distinct" ->
      """SELECT source, count(DISTINCT md5(text)) AS n_exact,
           true AS within_5pct
         FROM documents GROUP BY source""",
    // the exact side of the contract; the sketch bound booleans must
    // come out TRUE for every key (q17's contract-oracle pattern)
    "a03_cms_heavy_hitters" ->
      """SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0
                     ELSE l_orderkey % 100 END AS k,
           count(*) AS n_exact,
           TRUE AS est_ge_exact, TRUE AS est_within_bound
         FROM lineitem GROUP BY 1""",
    "a01_counter_merge" ->
      """SELECT lang, word, count(*) AS n FROM (
           SELECT lang, unnest(list_filter(
             regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS word
           FROM documents) t GROUP BY 1, 2""",
    "a02_topk_per_key" ->
      """SELECT lang, rank, word, n FROM (
           SELECT lang, word, n, row_number() OVER (
             PARTITION BY lang ORDER BY n DESC, word) AS rank
           FROM (
             SELECT lang, word, count(*) AS n FROM (
               SELECT lang, unnest(list_filter(
                 regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS word
               FROM documents) t GROUP BY 1, 2) c) r
         WHERE rank <= 3""")
}
