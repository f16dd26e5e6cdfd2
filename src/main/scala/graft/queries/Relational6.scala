package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Sixth tranche: the reference's native input format (line-oriented
  * text files, `/root/reference/docs.rst:333-371` — multiple files
  * concatenated), and bucketed co-located joins — the shuffle-free
  * join technique bucketing buys at 100 TB.
  */
object Relational6 {

  /** Text source round-trip: documents written as PARTITIONED text
    * files (multiple part files ≈ the reference's `infiles` list,
    * docs.rst:358), read back with a glob, word-counted. This is the
    * reference's canonical pipeline — open text files → tokenize →
    * count — with the engine owning the file I/O instead of the caller.
    */
  def q34TextRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = graft.core.Staging.tempAtExit("graft_text_")
    Tables.documents(s, d).select(col("text"))
      .repartition(4) // several part files, like the multi-file example
      .write.mode("overwrite").text(tmp)
    s.read.text(tmp)
      .select(explode(split(lower(col("value")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
  }

  /** Bucketed co-located join: orders and lineitem both bucketed 8 ways
    * on the join key into the session catalog; the join then needs NO
    * exchange on either side (SortMergeJoin over pre-bucketed scans).
    * At 100 TB this turns the recurring fact-fact join from the
    * dominant shuffle into a local merge — the write-once cost is
    * amortized over every downstream query. (The write happens per
    * invocation here only because the gate is stateless.)
    */
  def q35BucketedJoin(s: SparkSession, d: String): DataFrame = {
    // Bucket tables are keyed by input dir and written once — the whole
    // point of bucketing is paying the layout cost once and joining
    // shuffle-free forever after.
    val suffix = math.abs(d.hashCode).toString
    val ordersT = s"graft_orders_b_$suffix"
    val lineitemT = s"graft_lineitem_b_$suffix"
    for ((t, src, key) <- Seq(
        (ordersT, Tables.orders(s, d), "o_orderkey"),
        (lineitemT, Tables.lineitem(s, d), "l_orderkey"))) {
      // a persistent metastore can hold an entry whose warehouse files
      // were deleted (e.g. spark-warehouse/ cleaned but metastore_db/
      // kept) — drop the stale entry so the rewrite below recovers
      val loc = new java.io.File(
        s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (s.catalog.tableExists(t) && !loc.exists()) s.sql(s"DROP TABLE `$t`")
      if (!s.catalog.tableExists(t)) {
        // clear any orphaned warehouse dir left by a previous session
        val loc = new java.io.File(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
        if (loc.exists()) {
          import scala.reflect.io.Directory
          new Directory(loc).deleteRecursively()
        }
        src.write.mode("overwrite").bucketBy(8, key).sortBy(key).saveAsTable(t)
      }
    }
    s.table(lineitemT)
      .join(s.table(ordersT), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Partition pruning: orders laid out as year-partitioned parquet
    * (written once per input dir, like q35's buckets); a year-filtered
    * query then scans ONE directory — the plan's PartitionFilters
    * prunes before any I/O. At 100 TB date-partitioned layout is the
    * first line of defense: most queries touch a time slice, and
    * pruning turns a full scan into a fractional one.
    */
  def q36PartitionPruning(s: SparkSession, d: String): DataFrame =
    s.read.parquet(partitionedOrders(s, d))
      .filter(col("o_year") === 1995)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))

  /** The year-partitioned orders layout, staged once per input
    * (Staging.ensure) — shared by static (q36) and dynamic (q55)
    * pruning. */
  private def partitionedOrders(s: SparkSession, d: String): String =
    graft.core.Staging.ensure("orders_part", s"$d/orders.parquet") { dir =>
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    }

  /** DYNAMIC partition pruning — q36's static cousin and the bigger
    * 100 TB win: the pruning predicate isn't in the query text at all.
    * The dim side ("busy years": years holding ≥ 15 % of all orders)
    * is DATA-DEPENDENT — no static filter on the partition column can
    * express it — yet the fact scan still skips the pruned-out year
    * partitions, because Catalyst plants a dynamicpruning subquery on
    * the fact's partition column fed by the broadcast dim
    * (plan-asserted in EngineSpec). This is the star-schema shape: at
    * 100 TB the fact table is date-partitioned and every dim-filtered
    * join prunes this way, reading only matching partitions.
    */
  def q55DynamicPruning(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fact = s.read.parquet(partitionedOrders(s, d))
    val dim = Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("total", sum(col("n_orders")).over(Window.partitionBy()))
      .filter(col("n_orders") >= col("total") * 0.15)
      .select(col("yr"))
    fact.join(broadcast(dim), fact("o_year") === dim("yr"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
  }

  /** Pivot (long→wide reshaping): order totals per priority, one
    * column per order status. Explicit value list so the plan is a
    * single pass (no distinct-values pre-query); absent cells stay
    * null in both engines. At scale pivot is just a grouped
    * conditional aggregation — one partial-aggable shuffle.
    */
  def q38Pivot(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum(col("o_totalprice")), 2))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q34_text_roundtrip" -> q34TextRoundtrip,
    "q35_bucketed_join" -> q35BucketedJoin,
    "q36_partition_pruning" -> q36PartitionPruning,
    "q55_dynamic_pruning" -> q55DynamicPruning,
    "q38_pivot" -> q38Pivot)

  val oracles: Map[String, String] = Map(
    "q34_text_roundtrip" ->
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS word
           FROM documents) t
         WHERE word <> '' GROUP BY 1""",
    "q35_bucketed_join" ->
      """SELECT o_orderpriority,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",
    "q36_partition_pruning" ->
      """SELECT o_orderpriority, count(*) AS n,
         round(sum(o_totalprice), 2) AS sum_price
         FROM orders WHERE year(o_orderdate) = 1995
         GROUP BY 1""",
    "q55_dynamic_pruning" ->
      """WITH yc AS (
           SELECT year(o_orderdate) AS yr, count(*) AS n
           FROM orders GROUP BY 1),
         busy AS (
           SELECT yr FROM yc WHERE n >= 0.15 * (SELECT sum(n) FROM yc))
         SELECT o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_price
         FROM orders JOIN busy ON year(o_orderdate) = busy.yr
         GROUP BY 1""",
    "q38_pivot" ->
      """SELECT o_orderpriority,
         round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS "F",
         round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS "O",
         round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS "P"
         FROM orders GROUP BY 1""")
}
