package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Confs
import graft.core.Tables

/** Eighth tranche — the round-2 deferred list plus pipeline staples:
  * an incremental MERGE/upsert sink via dynamic partition overwrite
  * (q43), a conversion funnel with per-stage timeout semantics (q44),
  * an ORC connector round-trip (q45), and a deterministic stratified
  * train/val/test split (q46).
  */
object Relational8 {

  /** Incremental MERGE (upsert) sink — the copy-on-write pattern every
    * lakehouse table format implements, expressed with Spark's own
    * dynamic partition overwrite (no external table format needed):
    *
    *   1. stage a base snapshot partitioned by nation;
    *   2. compute a delta (1997+ order revenue) that touches ONLY
    *      nations 0-4;
    *   3. rewrite JUST the affected partitions — merged rows are
    *      base ⟕ delta with updated balances — while the other 20
    *      nation partitions' files are left physically untouched
    *      (`partitionOverwriteMode=dynamic` deletes only partitions
    *      the write produces);
    *   4. read the whole table back and aggregate, proving merged and
    *      untouched partitions coexist.
    *
    * At 100 TB this is the nightly-upsert shape: write amplification
    * is proportional to the TOUCHED partitions, not the table, and the
    * merge join itself is one shuffle on the upsert key within those
    * partitions.
    */
  def q43MergeUpsert(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
    // staged once per input dir (Staging doc): the merge below mutates
    // only partitions it rebuilds FROM SOURCE, so reuse is idempotent
    val tmp = graft.core.Staging.ensure("merge_upsert", s"$d/customer.parquet") { dir =>
      base.write.mode("overwrite").partitionBy("c_nationkey").parquet(dir)
    }
    val delta = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01"))
      .groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("dlt"))
    // merged rows are rebuilt from the source of truth (not the staged
    // copy) — Spark refuses to overwrite a path that feeds the write
    val merged = base.filter(col("c_nationkey") < 5)
      .join(delta, base("c_custkey") === delta("o_custkey"), "left")
      .select(col("c_custkey"),
        (col("c_acctbal") + coalesce(col("dlt"), lit(0.0))).as("c_acctbal"),
        col("c_nationkey"))
    Confs.scoped(s, "spark.sql.sources.partitionOverwriteMode" -> "dynamic")(
      merged.write.mode("overwrite").partitionBy("c_nationkey").parquet(tmp))
    s.read.parquet(tmp)
      .groupBy(col("c_nationkey").cast("long").as("nation"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("total_bal"))
  }

  /** Conversion funnel with PER-STAGE TIMEOUTS (q40's deferred
    * semantics): a click only counts within 1 hour of the user's first
    * view, a purchase only within 24 hours of that qualifying click.
    *
    * One exchange total: all three stage timestamps are window minima
    * over the SAME user partitioning (each stage's predicate references
    * the previous stage's window column — Catalyst stacks the Window
    * nodes over one hash exchange), and the final per-user collapse
    * groups on the partitioning key, so it reuses the exchange too.
    * The reference could only express this as per-user Python inside a
    * sorted reducer; here it is declarative and spillable.
    */
  def q44FunnelTimeout(s: SparkSession, d: String): DataFrame =
    funnelWithTimeouts(s, d,
      clickTimeout = "INTERVAL 1 HOUR", purchaseTimeout = "INTERVAL 24 HOURS")

  /** q44's implementation with the per-stage timeouts surfaced as
    * arguments — a funnel definition is a (stages, timeouts) config in
    * any real analytics deployment, not literals in the operator.
    * The timeout strings are standard SQL interval literals.
    */
  private[graft] def funnelWithTimeouts(s: SparkSession, d: String,
      clickTimeout: String, purchaseTimeout: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val staged = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" &&
          col("ts") > col("t_view") &&
          col("ts") <= col("t_view") + expr(clickTimeout),
          col("ts"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" &&
          col("ts") > col("t_click") &&
          col("ts") <= col("t_click") + expr(purchaseTimeout),
          col("ts"))).over(w))
    staged.groupBy(col("user_id"))
      .agg(max(col("t_view")).as("t_view"),
        max(col("t_click")).as("t_click"),
        max(col("t_purchase")).as("t_purchase"))
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        col("t_click").isNotNull.as("converted_click"),
        col("t_purchase").isNotNull.as("converted_purchase"))
  }

  /** ORC sink + source round-trip — the third columnar connector
    * (q29 CSV, q30 JSON, here ORC). Same contract: the engine owns
    * serialization, one file per partition, schema carried by the
    * format's own footer (no re-inference on read).
    */
  def q45OrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = graft.core.Staging.tempAtExit("graft_orc_")
    Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      .write.mode("overwrite").orc(tmp)
    s.read.orc(tmp)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        round(sum(col("p_retailprice")), 2).as("total_price"))
  }

  /** XML sink + source round-trip — the row-tag document connector
    * (Spark 4 ships the former spark-xml package as a built-in
    * source), widening the matrix beyond columnar (parquet/ORC),
    * delimited (CSV), and line-JSON to the config/feed format ETL
    * still ingests. Same contract as q29/q30/q45: the engine owns
    * serialization both ways, and the oracle checks the round-tripped
    * aggregate — dropped rows or re-inferred types would corrupt it.
    */
  def q62XmlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = graft.core.Staging.tempAtExit("graft_xml_")
    Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      .write.mode("overwrite").format("xml")
      .option("rowTag", "supplier").save(tmp)
    s.read.format("xml").option("rowTag", "supplier").load(tmp)
      .groupBy(col("s_nationkey").cast("long").as("nation"))
      .agg(count(lit(1)).as("n_suppliers"),
        round(sum(col("s_acctbal")), 2).as("total_bal"))
  }

  /** Deterministic stratified train/val/test split (80/10/10 by
    * doc_id hash) — the q37 reproducible-sampling idiom promoted to
    * the dataset-split op every training pipeline runs. Hash-based
    * assignment means the split is stable under reruns, appends and
    * repartitioning (no rand(), no global sort); outputs per-language
    * per-split counts, i.e. the stratification audit itself.
    */
  def q46StratifiedSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("b",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 10)
      .withColumn("split",
        when(col("b") < 8, "train").when(col("b") === 8, "val")
          .otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))

  /** MERGE with DELETE semantics — q43's copy-on-write pattern where
    * the delta removes rows: "churned" customers (nations 0-4, no
    * order ever) are dropped when their partitions are rewritten. The
    * delete is a LeftSemi join against the surviving-key set (never a
    * tombstone scan of the full table), and dynamic partition
    * overwrite again bounds write amplification to the touched
    * partitions. With q43 this completes the lakehouse merge triad:
    * insert (plain append), update, delete.
    */
  def q47MergeDelete(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
    val tmp = graft.core.Staging.ensure("merge_delete", s"$d/customer.parquet") { dir =>
      base.write.mode("overwrite").partitionBy("c_nationkey").parquet(dir)
    }
    val active = Tables.orders(s, d).select(col("o_custkey")).distinct()
    val survivors = base.filter(col("c_nationkey") < 5)
      .join(active, base("c_custkey") === active("o_custkey"), "left_semi")
    Confs.scoped(s, "spark.sql.sources.partitionOverwriteMode" -> "dynamic")(
      survivors.write.mode("overwrite").partitionBy("c_nationkey").parquet(tmp))
    s.read.parquet(tmp)
      .groupBy(col("c_nationkey").cast("long").as("nation"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("total_bal"))
  }

  /** Per-group corpus cap: keep a deterministic fixed-size sample of
    * each language (50 docs, chosen by md5 order — stable under reruns
    * and repartitioning, per the q37/q46 idiom). The
    * language-balancing pass of corpus assembly. The rank filter is a
    * `WindowGroupLimit`: each task keeps only its top-50 per language
    * BEFORE the exchange, so the shuffle carries ≤ 50·langs rows per
    * task, not the corpus (plan-asserted).
    */
  def q48LangCap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("h"), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 50)
      .select(col("doc_id"), col("lang"), col("rk"))
  }

  /** SCD2 (type-2 slowly-changing dimension) history merge — the
    * third sibling next to q43's in-place upsert and q47's delete:
    * applying an update batch to a dimension while KEEPING history.
    * Every updated key closes its old row (valid_to stamped,
    * is_current=false) and appends the new version; untouched keys
    * keep one open row. The update batch is the q37 md5 idiom (every
    * 5th customer gets a balance adjustment) so the merge is
    * reproducible.
    *
    * Shape: one equi-join dim⟕updates on the key, then a 1-or-2-row
    * explode per key — never a window, never a shuffle beyond the
    * join's own (and the join itself co-partitions on the upsert key
    * exactly like q43's merge). At 100 TB history tables are
    * partitioned by is_current so the open-rows scan stays pruned —
    * the explode adds rows only for the touched fraction.
    */
  def q63Scd2History(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal"))
    val upd = Tables.customer(s, d)
      .withColumn("h",
        conv(substring(md5(col("c_custkey").cast("string")), 1, 8), 16, 10)
          .cast("long"))
      .filter(col("h") % 5 === 0)
      .select(col("c_custkey").as("u_key"),
        round(col("c_acctbal") + lit(250.0), 2).as("new_bal"))
    val nullS = lit(null).cast("string")
    val closedOld = struct(col("c_acctbal").as("acctbal"),
      lit("1995-01-01").as("valid_from"), lit("1996-06-01").as("valid_to"),
      lit(false).as("is_current"))
    val openOld = struct(col("c_acctbal").as("acctbal"),
      lit("1995-01-01").as("valid_from"), nullS.as("valid_to"),
      lit(true).as("is_current"))
    val newCur = struct(col("new_bal").as("acctbal"),
      lit("1996-06-01").as("valid_from"), nullS.as("valid_to"),
      lit(true).as("is_current"))
    dim.join(upd, dim("c_custkey") === upd("u_key"), "left")
      .select(col("c_custkey"),
        explode(when(col("new_bal").isNotNull, array(closedOld, newCur))
          .otherwise(array(openOld))).as("ver"))
      .select(col("c_custkey"), col("ver.acctbal").as("acctbal"),
        col("ver.valid_from").as("valid_from"),
        col("ver.valid_to").as("valid_to"),
        col("ver.is_current").as("is_current"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q63_scd2_history" -> q63Scd2History,
    "q48_lang_cap" -> q48LangCap,
    "q47_merge_delete" -> q47MergeDelete,
    "q43_merge_upsert" -> q43MergeUpsert,
    "q44_funnel_timeout" -> q44FunnelTimeout,
    "q45_orc_roundtrip" -> q45OrcRoundtrip,
    "q62_xml_roundtrip" -> q62XmlRoundtrip,
    "q46_stratified_split" -> q46StratifiedSplit)

  val oracles: Map[String, String] = Map(
    "q63_scd2_history" ->
      """WITH upd AS (
           SELECT c_custkey, round(c_acctbal + 250.0, 2) AS new_bal
           FROM customer
           WHERE ('0x' || substr(md5(c_custkey::VARCHAR), 1, 8))::BIGINT % 5 = 0)
         SELECT c.c_custkey, c.c_acctbal AS acctbal,
           '1995-01-01' AS valid_from,
           CASE WHEN u.c_custkey IS NULL THEN NULL ELSE '1996-06-01' END AS valid_to,
           u.c_custkey IS NULL AS is_current
         FROM customer c LEFT JOIN upd u USING (c_custkey)
         UNION ALL
         SELECT c_custkey, new_bal, '1996-06-01', NULL, true FROM upd""",
    "q48_lang_cap" ->
      """SELECT doc_id, lang, rk FROM (
           SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT, doc_id)
               AS rk
           FROM documents) t
         WHERE rk <= 50""",
    "q47_merge_delete" ->
      """SELECT c_nationkey::BIGINT AS nation, count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_bal
         FROM customer
         WHERE NOT (c_nationkey < 5 AND
           c_custkey NOT IN (SELECT o_custkey FROM orders))
         GROUP BY 1""",
    "q43_merge_upsert" ->
      """WITH delta AS (
           SELECT o_custkey, sum(o_totalprice) AS dlt FROM orders
           WHERE o_orderdate >= '1997-01-01' GROUP BY 1)
         SELECT c_nationkey::BIGINT AS nation, count(*) AS n_customers,
           round(sum(c_acctbal +
             CASE WHEN c_nationkey < 5 THEN coalesce(dlt, 0) ELSE 0 END), 2)
             AS total_bal
         FROM customer LEFT JOIN delta ON c_custkey = o_custkey
         GROUP BY 1""",
    "q44_funnel_timeout" ->
      """WITH ev AS (
           SELECT user_id, event_type, date_trunc('microsecond', ts) AS ts
           FROM events),
         staged AS (
           SELECT user_id, event_type, ts,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t_view
           FROM ev),
         staged2 AS (
           SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view
               AND ts <= t_view + INTERVAL 1 HOUR THEN ts END)
               OVER (PARTITION BY user_id) AS t_click
           FROM staged),
         staged3 AS (
           SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click
               AND ts <= t_click + INTERVAL 24 HOURS THEN ts END)
               OVER (PARTITION BY user_id) AS t_purchase
           FROM staged2)
         SELECT user_id, max(t_view) AS t_view, max(t_click) AS t_click,
           max(t_purchase) AS t_purchase,
           max(t_click) IS NOT NULL AS converted_click,
           max(t_purchase) IS NOT NULL AS converted_purchase
         FROM staged3 GROUP BY user_id""",
    "q45_orc_roundtrip" ->
      """SELECT p_brand, count(*) AS n_parts,
         round(sum(p_retailprice), 2) AS total_price
         FROM part GROUP BY 1""",
    "q62_xml_roundtrip" ->
      """SELECT s_nationkey::BIGINT AS nation, count(*) AS n_suppliers,
         round(sum(s_acctbal), 2) AS total_bal
         FROM supplier GROUP BY 1""",
    "q46_stratified_split" ->
      """SELECT lang,
           CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM (SELECT lang, n_chars,
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10 AS b
               FROM documents) t
         GROUP BY 1, 2""")
}
