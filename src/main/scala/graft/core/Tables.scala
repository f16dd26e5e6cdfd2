package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * The reference engine has no sources at all — callers pass opened
  * iterables (`/root/reference/tinymr.py:156`, `docs.rst:343-347`). Our
  * Spark-native surface replaces that with `spark.read.parquet`, which
  * gives Catalyst a pushdown-capable scan (column pruning + predicate
  * pushdown reach the parquet footer) — essential at 100 TB where a
  * full-width scan of lineitem is the difference between minutes and
  * hours.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Reads with the schema given, so no read after a table's first
    * pays Spark's schema-inference job ([[schema]]). */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, sfDir, name)).parquet(s"$sfDir/$name.parquet")

  /** The parquet confs that change what inference makes of a file. */
  private val conversionConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive")

  /** Inferred schemas, one per fixture file stamp and setting of the
    * conversion confs: a regenerated file (new size or mtime) or a
    * flipped conf (events' `nanosAsLong`) infers again. JVM-wide, since
    * the key holds everything the inference depends on. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The schema `spark.read.parquet` infers for a fixture table. */
  def schema(spark: SparkSession, sfDir: String, name: String): StructType = {
    val path = s"$sfDir/$name.parquet"
    val key = (Staging.stamp(path) +: conversionConfs.map(spark.conf.get))
      .mkString("\n")
    schemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
  }

  /** Spread a small-input scan across cores before heavy NARROW
    * stages: the fixtures ship each table as ONE parquet file (one
    * row group → one input split), so per-row-expensive projections
    * (shingling, CDC chunking, vector norms) would otherwise run
    * single-task however many cores exist — ScaleProbe measured the
    * CDC chunking 5× faster on an equal-data 32-split layout.
    * Production inputs arrive in thousands of splits and take the
    * no-op branch, so no shuffle is ever added at scale: this is
    * fixture-layout adaptation, not a plan change.
    */
  def spread(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // probe the layout via inputFiles, NOT df.rdd: under AQE,
    // Dataset.rdd materializes every upstream query stage at
    // construction time (silent double execution for any frame with
    // an exchange); inputFiles just lists the leaf scans' files. A
    // non-scan frame reports 0 files and gets spread — harmless for
    // the tiny local relations the specs pass.
    if (df.inputFiles.length < cores) df.repartition(cores) else df
  }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (which
    * Spark's vectorized reader rejects — read nanos as long via the
    * legacy conf, convert to micros in-plan) and plain TIMESTAMP(MICROS)
    * without a UTC flag (reads as TIMESTAMP_NTZ, which `unix_micros`,
    * watermarks, and window() reject). Branch on the inferred type and
    * normalize both to Spark's session-tz TIMESTAMP — the session tz is
    * pinned to UTC, so the NTZ→LTZ cast is value-preserving and both
    * generations of the test data load identically.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    readNanosAsLong(s)
    eventTs(apply(s, d, "events"))
  }
  /** [[events]]' `ts` normalization, for any frame (batch or stream)
    * read with the events schema. */
  private[graft] def eventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw // already a session-tz timestamp
    }
  }
  /** Read parquet TIMESTAMP(NANOS) as a long for every later scan of
    * this session. Set, not scoped: a returned scan reads it lazily at
    * execution time, after any scope around the call has closed. */
  private[graft] def readNanosAsLong(s: SparkSession): Unit =
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
