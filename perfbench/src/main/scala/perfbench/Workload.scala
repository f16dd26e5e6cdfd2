package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A timed unit of a workload. `family` is the query family (the name
  * up to its first digit) for `SparkEntry` items and "mr" for the
  * Layer A jobs. `run` returns None when the answer is right. */
final case class Item(name: String, family: String, run: () => Option[String])

trait Workload {
  def items: Seq[Item]
  /** Input generation and warm-up: everything before the first timed item. */
  def setup(): Unit
  def finish(): Unit = ()
  /** Tokens of the generated corpus, 0 when the workload has none. */
  def tokens: Long = 0L
  def tmpDir: File = new File(System.getProperty("java.io.tmpdir"))
}

object Workload {
  /** Layer B batch queries: sub-second queries across every family
    * (the plan/codegen/job floor), then heavy execution-bound ones. */
  val batchMix: Seq[String] = Seq(
    "q02_filter_project", "q05_semi_join", "q10_rollup", "q38_pivot", "q50_gap_fill",
    "a03_cms_heavy_hitters", "t07_freq_spectrum", "t11_repetition",
    "m04_feature_extract", "p08_weighted_sample", "e03_distribution_drift",
    "s01_cosine_topk", "d13_containment_prefix", "d14_candidate_board")

  /** Streaming gates: state commits on both store backends, checkpoint
    * and offset commits, sink file commits, and Layer A per batch. */
  val streamGates: Seq[String] = Seq(
    "st13_update_upsert", "st04_stateful_sessions", "st14_rocksdb_sessions",
    "st15_stream_mapreduce")

  /** Untimed warm-up queries, outside the timed lists: Bench's own for
    * the batch queries, a small gate for the streaming engine. */
  val warmUp: Map[String, String] = Map(
    "batch_mix" -> "q01_pricing_summary", "stream_gates" -> "st03_sliding_window")

  def family(name: String): String = name.takeWhile(!_.isDigit)

  def apply(name: String, spark: SparkSession, seed: Long, runDir: File,
      fixture: String, expected: String, record: Option[String]): Workload = name match {
    case "mr_corpus" => new MrCorpus(spark, seed, runDir)
    case "batch_mix" => new EntryWorkload(spark, batchMix, warmUp(name), fixture, expected, record)
    case "stream_gates" => new EntryWorkload(spark, streamGates, warmUp(name), fixture, expected, record)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Layer A jobs over a corpus generated from the seed during set-up. */
final class MrCorpus(spark: SparkSession, seed: Long, runDir: File) extends Workload {
  private val corpus = new Corpus(seed, CorpusParams.default)
  private val path = new File(runDir, "corpus.txt").getPath
  private val jobs = new MrJobs(spark, corpus, path, new File(runDir, "out").getPath,
    partitions = 2 * Main.Cores)
  override def tokens: Long = corpus.params.tokens.toLong
  def setup(): Unit = { corpus.write(path); jobs.warmUp() }
  val items: Seq[Item] = jobs.items.map { case (n, f) => Item(n, "mr", f) }
}

/** `SparkEntry` queries over the fixed fixture, each checked by row
  * count and [[Canon]] hash against the recorded answer. With `record`
  * set, the answers seen are written there instead of checked. */
final class EntryWorkload(spark: SparkSession, names: Seq[String], warmUpQuery: String,
    fixture: String, expectedFile: String, record: Option[String]) extends Workload {

  private val expected: Map[String, (Long, String)] =
    if (!new File(expectedFile).exists) Map.empty
    else {
      val src = scala.io.Source.fromFile(expectedFile, "UTF-8")
      try src.getLines().filterNot(_.startsWith("#")).map(_.split('\t')).collect {
        case Array(n, rows, hash) => n -> (rows.toLong, hash)
      }.toMap finally src.close()
    }
  private val seen = mutable.LinkedHashMap[String, (Long, String)]()

  def setup(): Unit = {
    graft.SparkEntry.queries(warmUpQuery)(spark, fixture)
      .write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
  }

  val items: Seq[Item] = names.map { n =>
    val query = graft.SparkEntry.queries(n)
    Item(n, Workload.family(n), () => {
      val df = query(spark, fixture)
      val rows = df.collect()
      val got = (rows.length.toLong, Canon.hash(df.columns.toSeq, rows))
      if (!seen.contains(n)) seen(n) = got
      if (record.nonEmpty) None
      else expected.get(n) match {
        case Some(want) if want == got => None
        case Some(want) => Some(s"answer ${got._1} rows #${got._2}, expected ${want._1} rows #${want._2}")
        case None => Some("no recorded answer")
      }
    })
  }

  override def finish(): Unit = record.foreach { f =>
    val lines = seen.map { case (n, (rows, hash)) => s"$n\t$rows\t$hash" }
    java.nio.file.Files.writeString(new File(f).toPath, lines.mkString("", "\n", "\n"))
  }
}
