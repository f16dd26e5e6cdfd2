package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Confs
import graft.core.Tables

/** Ninth tranche — lakehouse/table-maintenance staples: schema
  * evolution across file generations (q49), time-series gap-fill via
  * generator expressions (q50), and small-file compaction (q51).
  */
object Relational9 {

  /** Schema evolution: a table whose parquet files were written under
    * TWO schema generations — v1 (doc_id, lang) then v2 adding
    * `quality` — read back as ONE table via `mergeSchema`, old rows
    * surfacing NULL for the added column. The append-only evolution
    * every long-lived lakehouse table goes through; the footer-merge
    * costs one extra driver-side pass over file footers, the scan
    * itself stays columnar and pruned.
    */
  def q49SchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // the two schema generations are a fixture of the input dataset —
    // staged once per input dir (Staging doc), read-only afterwards
    val tmp = graft.core.Staging.ensure("schema_evo", s"$d/documents.parquet") { dir =>
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$dir/gen1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") > 200).as("quality"))
        .write.mode("overwrite").parquet(s"$dir/gen2")
    }
    s.read.option("mergeSchema", "true").parquet(s"$tmp/gen1", s"$tmp/gen2")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("quality")).as("n_with_quality"),
        sum(when(col("quality"), 1L).otherwise(0L)).as("n_quality_true"))
  }

  /** Time-series gap-fill: zero rows for hours with no events, per
    * event type — `sequence()` generates each type's full hourly
    * domain from its own min/max (a generator expression, no driver
    * loop, no cross join against a calendar table), explode lands one
    * row per (type, hour), and a left join pulls in the observed
    * counts. At 100 TB the domain side is trivially small (types ×
    * hours) and broadcasts; the observed side is the one real
    * aggregation.
    */
  def q50GapFill(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
    val observed = ev.groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"))
    val domain = ev.groupBy(col("event_type"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, INTERVAL 1 HOUR)")).as("hour"))
    domain.join(observed, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Small-file compaction — the table-maintenance pass that keeps
    * scan task counts sane: a fragmented landing zone (64 files for
    * ~6 MB here, the classic streaming-ingest pathology) is rewritten
    * into size-targeted files via `repartition(ceil(bytes/target))`.
    * The DATA is byte-identical (hash-checked); the file-count
    * contract is asserted in EngineSpec (an oracle can't see files).
    * At 100 TB this runs per partition-directory with the same
    * arithmetic, and the bin-packing read (`maxPartitionBytes`) on
    * the compacted layout does one task per ~128 MB instead of one
    * per source file.
    */
  def q51Compaction(s: SparkSession, d: String): DataFrame = {
    // the fragmented landing zone is the fixture; compaction (below)
    // is the operator and runs fresh every time
    val frag = graft.core.Staging.ensure("fragmented", s"$d/lineitem.parquet") { dir =>
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
        .repartition(64).write.mode("overwrite").parquet(dir)
    }
    val comp = graft.core.Staging.tempAtExit("graft_compact_") + "/compacted"
    // 4 MB target files at gate scale (128 MB in prod)
    compact(s, frag, comp, targetBytes = 4L << 20)
    s.read.parquet(comp)
      .groupBy((col("l_orderkey") % 7).as("bucket"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  /** Rewrite a fragmented parquet dir into ⌈bytes/target⌉ files;
    * returns the file count written (EngineSpec asserts the layout
    * matches it). Driver-side work is metadata only (one listing).
    */
  def compact(s: SparkSession, srcDir: String, outDir: String,
      targetBytes: Long): Int = {
    val bytes = new java.io.File(srcDir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length).sum
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    s.read.parquet(srcDir).repartition(nFiles)
      .write.mode("overwrite").parquet(outDir)
    nFiles
  }

  /** Skew-handled JOIN via key salting — the most common 100 TB
    * incident (one hot key → one straggler task) and the distributed
    * twin of the reference's key-overloading parallelism idiom
    * (`/root/reference/docs.rst:373-407`: overload a hot key into
    * sub-keys to restore parallelism, then merge). A deliberately
    * skewed fact key routes ~70 % of lineitem onto k = 0; the fix:
    *
    *   - FACT side: each row gets a deterministic salt in [0, S) from
    *     its primary key, so the join key becomes (k, salt) and the
    *     hot key's rows spread across S shuffle partitions;
    *   - DIM side: each dim row is replicated S× (one per salt) — the
    *     small side pays S× growth to unsplit the big side's skew;
    *   - the join hint forces a SHUFFLE join: in production the dim
    *     side is too big to broadcast (broadcast is the skew fix you
    *     use FIRST when it fits — q03), and with a broadcast the
    *     salting would be pointless; the plan is asserted to exchange
    *     on (k, salt), never on k alone.
    *
    * The post-join aggregation is skew-immune without help: partial
    * aggregation collapses each partition to ≤ |k| groups before its
    * exchange. AQE's skew-join handles sort-merge skew adaptively at
    * runtime; salting is the deterministic, plan-assertable form that
    * also works for hash joins and pre-AQE engines.
    */
  def q52SaltedJoin(s: SparkSession, d: String): DataFrame =
    saltedSkewJoin(s, d, salts = 16)

  /** q52's implementation with the salt count surfaced (spec-tested
    * at several S; S tunes hot-key spread vs dim replication).
    */
  private[graft] def saltedSkewJoin(s: SparkSession, d: String,
      salts: Int): DataFrame = {
    val fact = Tables.lineitem(s, d)
      .select(
        when(col("l_orderkey") % 10 < 7, 0L)
          .otherwise(col("l_orderkey") % 100).as("k"),
        col("l_extendedprice"),
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salts.toLong))
          .as("salt"))
    val dim = Tables.part(s, d)
      .groupBy((col("p_partkey") % 100).as("k"))
      .agg(min(col("p_brand")).as("brand"))
    val dimExp = dim.withColumn("salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    fact.join(dimExp.hint("shuffle_hash"), Seq("k", "salt"))
      .groupBy(col("k"), col("brand"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
  }

  /** The same skewed join handled by AQE's runtime skew split — the
    * adaptive counterpart to q52's deterministic salting (the two
    * standard fixes, now both demonstrated). The fact side's hot key
    * (70 % of lineitem on k = 0) lands in one sort-merge shuffle
    * partition; AQE observes the map-output sizes at runtime and
    * splits the oversized partition into advisory-sized chunks, each
    * joined against a REPLICATED copy of the dim side's matching
    * partition — the same spread-hot-key/replicate-small-side algebra
    * as salting, but decided from measured sizes with no plan rewrite.
    *
    * `forceOptimizeSkewedJoin` is required here and is itself the
    * lesson: the post-join aggregation could reuse the join's
    * hash-partitioning on k, so honoring the split costs one extra
    * exchange — AQE declines by default and must be told the straggler
    * is worth it. Thresholds are surfaced as parameters (the spec
    * pins a split at sf0.001; these defaults trigger from sf0.01 up).
    *
    * The result is materialized UNDER the modified confs (the session
    * confs are restored before returning — a lazily-returned plan
    * would otherwise execute after the restore), and the executed
    * plan string is surfaced for the spec's `isSkew=true` assertion.
    */
  def q53AqeSkewJoin(s: SparkSession, d: String): DataFrame =
    aqeSkewJoin(s, d, thresholdBytes = 64 << 10, advisoryBytes = 16 << 10)._1

  private[graft] def aqeSkewJoin(s: SparkSession, d: String,
      thresholdBytes: Long, advisoryBytes: Long): (DataFrame, String) = {
    val fact = Tables.lineitem(s, d)
      .select(
        when(col("l_orderkey") % 10 < 7, 0L)
          .otherwise(col("l_orderkey") % 100).as("k"),
        col("l_extendedprice"))
      // skew splits are map-output RANGES: the fixtures are one
      // parquet row group = ONE mapper feeding the join exchange, so
      // the hot partition would have nothing to split into. The
      // round-robin repartition stands in for the many-task upstream
      // stage any cluster-scale query has (where this exchange simply
      // wouldn't exist).
      .repartition(8)
    // One row per key, via filter not groupBy: OptimizeSkewedJoin only
    // matches an ENSURE_REQUIREMENTS shuffle DIRECTLY under each sort.
    // An aggregated dim reuses its own agg partitioning (no fresh
    // exchange → rule can't match), and a repartition(col) exchange is
    // user-origin (rule refuses to rewrite it) — both observed to
    // silently disqualify the join from skew handling.
    val dim = Tables.part(s, d)
      .filter(col("p_partkey") <= 100)
      .select((col("p_partkey") % 100).as("k"), col("p_brand").as("brand"))
    val joined = fact.join(dim.hint("merge"), Seq("k"))
      .groupBy(col("k"), col("brand"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
    Confs.scoped(s,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.5",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> thresholdBytes.toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisoryBytes.toString,
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val out = joined.localCheckpoint() // materializes under the confs
      (out, joined.queryExecution.executedPlan.toString)
    }
  }

  /** In-flight data-quality metrics via `Dataset.observe` — the
    * monitoring primitive every production pipeline needs: row counts,
    * threshold violations and control totals computed DURING the main
    * pass (piggybacking on the scan as accumulator-style aggregates),
    * not by a second job re-reading 100 TB. The observed values are
    * the query's output here so the oracle can check them exactly; in
    * production the same values feed alerting while the main result
    * flows to its sink. A fresh Observation per call — they are
    * one-shot by design.
    */
  def q56ObservedMetrics(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val obs = org.apache.spark.sql.Observation(s"q56_${System.nanoTime()}")
    val li = Tables.lineitem(s, d).observe(obs,
      count(lit(1)).as("n_rows"),
      sum(when(col("l_quantity") > 45, 1L).otherwise(0L)).as("n_high_qty"),
      round(sum(col("l_extendedprice")), 2).as("sum_price"))
    li.write.format("noop").mode("overwrite").save() // the "main" pass
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long], m("n_high_qty").asInstanceOf[Long],
      m("sum_price").asInstanceOf[Double]))
      .toDF("n_rows", "n_high_qty", "sum_price")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q56_observed_metrics" -> q56ObservedMetrics,
    "q53_aqe_skew_join" -> q53AqeSkewJoin,
    "q52_salted_join" -> q52SaltedJoin,
    "q49_schema_evolution" -> q49SchemaEvolution,
    "q50_gap_fill" -> q50GapFill,
    "q51_compaction" -> q51Compaction)

  // q52/q53 share one oracle: both are mechanisms (salting / AQE
  // split) for the SAME plain skewed join — the answer must be
  // mechanism-invariant, exactly like d03/d06 sharing d02's oracle.
  private val skewJoinSql =
    """WITH fact AS (
         SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0
                     ELSE l_orderkey % 100 END AS k,
                l_extendedprice
         FROM lineitem),
       dim AS (
         SELECT p_partkey % 100 AS k, min(p_brand) AS brand
         FROM part GROUP BY 1)
       SELECT k, brand, count(*) AS n_rows,
         round(sum(l_extendedprice), 2) AS revenue
       FROM fact JOIN dim USING (k)
       GROUP BY 1, 2"""

  val oracles: Map[String, String] = Map(
    "q56_observed_metrics" ->
      """SELECT count(*) AS n_rows,
         coalesce(sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END), 0)::BIGINT AS n_high_qty,
         round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem""",
    // q53's dim is one-row-per-key by FILTER (see aqeSkewJoin); the
    // oracle is still the plain mechanism-free join.
    "q53_aqe_skew_join" ->
      """WITH fact AS (
           SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0
                       ELSE l_orderkey % 100 END AS k,
                  l_extendedprice
           FROM lineitem),
         dim AS (
           SELECT p_partkey % 100 AS k, p_brand AS brand
           FROM part WHERE p_partkey <= 100)
         SELECT k, brand, count(*) AS n_rows,
           round(sum(l_extendedprice), 2) AS revenue
         FROM fact JOIN dim USING (k)
         GROUP BY 1, 2""",
    // The salt is join-internal plumbing: the oracle is the PLAIN
    // skewed join — salting must be answer-invariant by construction.
    "q52_salted_join" -> skewJoinSql,
    "q49_schema_evolution" ->
      """WITH unioned AS (
           SELECT doc_id, lang, NULL::BOOLEAN AS quality
           FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT doc_id, lang, n_chars > 200 AS quality
           FROM documents WHERE doc_id % 2 = 1)
         SELECT lang, count(*) AS n_docs,
           count(quality) AS n_with_quality,
           coalesce(sum(CASE WHEN quality THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_quality_true
         FROM unioned GROUP BY 1""",
    "q50_gap_fill" ->
      """WITH ev AS (
           SELECT event_type, date_trunc('hour', ts) AS hour FROM events),
         observed AS (
           SELECT event_type, hour, count(*) AS n FROM ev GROUP BY 1, 2),
         bounds AS (
           SELECT event_type, min(hour) AS h0, max(hour) AS h1
           FROM ev GROUP BY 1),
         domain AS (
           SELECT event_type, unnest(generate_series(h0, h1,
             INTERVAL 1 HOUR))::TIMESTAMP AS hour
           FROM bounds)
         SELECT d.event_type, d.hour, coalesce(o.n, 0) AS n
         FROM domain d LEFT JOIN observed o
           ON d.event_type = o.event_type AND d.hour = o.hour""",
    "q51_compaction" ->
      """SELECT l_orderkey % 7 AS bucket, count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY 1""")
}
