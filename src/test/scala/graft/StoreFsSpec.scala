package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Failure-injecting, call-counting local FileSystem for the store
  * machinery specs. Registered under test schemes (`graftfs:`, and as
  * a stand-in `s3a:` for the scheme guard) via the session Hadoop
  * conf; all data lands on the real local disk, so Spark's parquet
  * reader/writer runs unmodified while the spec observes every
  * metadata call and can make any swap step fail — turning
  * rewriteStore's crash-safety claims from code-reading into injected
  * failures (a VERDICT r10 ask).
  */
class GraftTestFs extends RawLocalFileSystem {
  // RawLocalFileSystem's constructor calls getUri() before Scala
  // field initializers run — keep the override null-tolerant
  private var myScheme: String = null
  override def initialize(name: java.net.URI, conf: Configuration): Unit = {
    myScheme = name.getScheme
    super.initialize(name, conf)
  }
  override def getUri: java.net.URI =
    java.net.URI.create((if (myScheme == null) "graftfs" else myScheme) + ":///")
  // RawLocalFileSystem statuses load permissions LAZILY via
  // `new java.io.File(path.toUri)`, which rejects non-file schemes —
  // return plain, fully-materialized copies instead
  private def solid(s: FileStatus): FileStatus = new FileStatus(
    s.getLen, s.isDirectory, s.getReplication.toInt, s.getBlockSize,
    s.getModificationTime, s.getAccessTime, null, null, null, s.getPath)
  override def listStatus(f: Path): Array[FileStatus] = {
    GraftTestFs.record("list", f)
    if (GraftTestFs.failListUnder != null &&
        f.toString.contains(GraftTestFs.failListUnder))
      // persistent: models a broken store (dead ACL, corrupt dir)
      throw new java.io.IOException(s"injected persistent list failure: $f")
    if (GraftTestFs.failListOnce != null &&
        f.toString.contains(GraftTestFs.failListOnce)) {
      // self-clearing: models a TRANSIENT hiccup — the very next
      // listing of the same path succeeds
      GraftTestFs.failListOnce = null
      throw new java.io.IOException(s"injected transient list failure: $f")
    }
    super.listStatus(f).map(solid)
  }
  override def getFileStatus(f: Path): FileStatus = {
    GraftTestFs.record("stat", f)
    solid(super.getFileStatus(f))
  }
  override def rename(src: Path, dst: Path): Boolean = {
    GraftTestFs.record("rename", src)
    if (GraftTestFs.failRenameDstSuffix != null &&
        dst.toString.endsWith(GraftTestFs.failRenameDstSuffix)) false
    else if (GraftTestFs.failRenameSrcSuffix != null &&
        src.toString.endsWith(GraftTestFs.failRenameSrcSuffix)) false
    else super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    GraftTestFs.record("delete", f)
    if (GraftTestFs.failDeleteSuffix != null &&
        f.toString.endsWith(GraftTestFs.failDeleteSuffix)) false
    else super.delete(f, recursive)
  }
  // the one funnel both public create() overloads reach — injecting
  // here fails the parquet task write itself, not just the commit
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: org.apache.hadoop.fs.permission.FsPermission): java.io.OutputStream = {
    if (GraftTestFs.failCreateUnder != null &&
        f.toString.contains(GraftTestFs.failCreateUnder))
      throw new java.io.IOException(s"injected create failure: $f")
    super.createOutputStreamWithMode(f, append, permission)
  }
  // graftfs advertises the swap guard's atomic-rename capability (it
  // IS local-rename-backed); any other scheme this class serves (the
  // unlisted `graftns` stand-in) makes no claim — exercising both
  // sides of the capability probe
  override def hasPathCapability(path: Path, capability: String): Boolean =
    if (capability == graft.streaming.EventStreams.AtomicRenameCapability)
      myScheme == null || myScheme == "graftfs"
    else super.hasPathCapability(path, capability)
}

object GraftTestFs {
  @volatile var failRenameDstSuffix: String = null
  @volatile var failRenameSrcSuffix: String = null
  @volatile var failDeleteSuffix: String = null
  @volatile var failCreateUnder: String = null
  @volatile var failListOnce: String = null
  @volatile var failListUnder: String = null
  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  def record(op: String, p: Path): Unit = { ops.add((op, p.toString)); () }
  /** list+stat calls whose path contains `fragment`. */
  def metadataCalls(fragment: String): Int = {
    val it = ops.iterator(); var n = 0
    while (it.hasNext) {
      val (op, p) = it.next()
      if ((op == "list" || op == "stat") && p.contains(fragment)) n += 1
    }
    n
  }
  def reset(): Unit = {
    ops.clear()
    failRenameDstSuffix = null; failRenameSrcSuffix = null
    failDeleteSuffix = null; failCreateUnder = null
    failListOnce = null; failListUnder = null
  }
}

/** StoreCensus (the stores as catalog tables) and rewriteStore's
  * swap, specified the hard way:
  *
  *  - catalog reads answer EXACTLY what a cold `spark.read.parquet`
  *    answers, across appends, a compaction swap, and a tombstone
  *    fold (the mutation-contract equivalence);
  *  - creating and planning a catalog-served probe frame performs
  *    ZERO filesystem metadata calls on the store (counted by
  *    GraftTestFs, with a positive control proving the counter sees
  *    cold reads);
  *  - an out-of-band mutation is served stale until the next refresh,
  *    and the schema fence fails a refresh that finds a drifted file;
  *  - the swap stays data-safe under an injected failure at EVERY
  *    step — stale-cleanup delete, tmp write, rename-aside, promote
  *    (with rollback), delete-last — the store remains readable with
  *    either the old or the new content, never half of one;
  *  - a non-atomic-rename scheme (s3a) is refused loudly unless the
  *    deployment opts in by conf.
  */
class StoreFsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val sp = Session.build(cpus = 4)
    // test schemes, installed at runtime so an already-running shared
    // session picks them up too: graftfs = counting/failing local FS;
    // s3a = the same class standing in for an object store, so the
    // scheme guard can fire without any real object-store connector
    sp.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    sp.sparkContext.hadoopConfiguration
      .set("fs.s3a.impl", classOf[GraftTestFs].getName)
    // graftns: an UNLISTED scheme that advertises nothing — the
    // fail-safe side of the swap guard's capability probe
    sp.sparkContext.hadoopConfiguration
      .set("fs.graftns.impl", classOf[GraftTestFs].getName)
    sp
  }
  import graft.streaming.{EventStreams => ES, StoreCensus}

  private var cachedAtStart = true
  private var persistedAtStart = Set.empty[Int]
  override def beforeAll(): Unit = {
    cachedAtStart = !spark.sharedState.cacheManager.isEmpty
    persistedAtStart = spark.sparkContext.getPersistentRDDs.keySet.toSet
  }
  override def afterAll(): Unit = {
    GraftTestFs.reset()
    StoreLeaks.check(spark, cachedAtStart, persistedAtStart)
  }

  private def tmpDir(prefix: String): String =
    graft.core.Staging.tempAtExit(prefix)

  /** A tiny batch of documents shaped for st21Batch (doc_id, text)
    * with enough repeated shingle content to produce signatures. */
  private def docBatch(ids: Range): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong,
      s"the quick brown fox jumps over the lazy dog number ${i % 3} " +
        "and the shared boilerplate tail keeps chunk signatures stable " * 4))
      .toDF("doc_id", "text")
  }

  /** Live (census-free) twin of storeNonEmpty/maxFilesPerBucket,
    * computed with raw java.nio so the spec never trusts the code
    * under test. Local paths only. */
  private def liveFiles(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir.stripPrefix("graftfs:"))
    if (!java.nio.file.Files.exists(root)) Seq.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p =>
          p.getFileName.toString.startsWith("part-")).toList
      } finally s.close()
    }
  }

  test("census read == cold read across appends, compaction, and a tombstone fold") {
    graft.functions.VectorExpressions.register(spark)
    val store = tmpDir("graft_censeq_sigs_")
    val pairs = tmpDir("graft_censeq_pairs_")
    // 10 batches: crosses the compaction threshold (8), so the series
    // exercises append-refresh AND the swap-refresh path mid-run
    (0 until 10).foreach { i =>
      ES.st21Batch(docBatch(i * 20 until (i + 1) * 20), store, pairs)
      val census = StoreCensus.read(spark, store).collect().toSet
      val cold = spark.read.parquet(store).collect().toSet
      assert(census == cold, s"census/cold divergence after batch $i")
      assert(ES.storeNonEmpty(store) == liveFiles(store).nonEmpty)
      val liveMax = liveFiles(store).groupBy(_.getParent).values
        .map(_.size).foldLeft(0)(math.max)
      assert(ES.maxFilesPerBucket(store) == liveMax,
        s"census files/bucket ${ES.maxFilesPerBucket(store)} != live $liveMax")
    }
    // schema must match the cold read's exactly (column order included)
    assert(StoreCensus.read(spark, store).schema ==
      spark.read.parquet(store).schema)
    // tombstone fold: delete a slice, census must track the swap
    import spark.implicits._
    ES.deleteFromStore(spark, store, "doc_id",
      (0L until 200L by 7L).toDF("doc_id"))
    val census = StoreCensus.read(spark, store).collect().toSet
    val cold = spark.read.parquet(store).collect().toSet
    assert(census == cold, "census/cold divergence after tombstone fold")
    assert(ES.maxFilesPerBucket(store) == 1, "fold must reset files/bucket")
  }

  test("a census-served probe frame makes zero store metadata calls (cold read as positive control)") {
    graft.functions.VectorExpressions.register(spark)
    val local = tmpDir("graft_cens0_sigs_")
    val store = "graftfs:" + local
    val pairs = "graftfs:" + tmpDir("graft_cens0_pairs_")
    ES.st21Batch(docBatch(0 until 30), store, pairs)
    ES.st21Batch(docBatch(30 until 60), store, pairs)
    assert(StoreCensus.table(store).nonEmpty, "the commits must register the store")
    // catalog-served: creating and planning the frame (listing +
    // schema resolution in the raw path) must touch the filesystem
    // zero times — the commit's refresh listed every bucket
    GraftTestFs.reset()
    val frame = ES.prunedStore(spark, store, 0 until 16)
    frame.queryExecution.executedPlan
    assert(GraftTestFs.metadataCalls(local) == 0,
      s"catalog read listed the store: ${GraftTestFs.metadataCalls(local)} calls")
    // ... and still answers correctly (the scan itself may open files)
    val rows = frame.count()
    // positive control: the same frame cold (table dropped) MUST list
    StoreCensus.invalidate(store)
    GraftTestFs.reset()
    val coldFrame = ES.prunedStore(spark, store, 0 until 16)
    assert(GraftTestFs.metadataCalls(local) > 0,
      "counter failed to observe a cold read — the zero above proves nothing")
    assert(coldFrame.count() == rows)
    // storeNonEmpty/maxFilesPerBucket: fallbacks list, the table doesn't
    StoreCensus.refresh(spark, store)
    GraftTestFs.reset()
    ES.storeNonEmpty(store); ES.maxFilesPerBucket(store)
    assert(GraftTestFs.metadataCalls(local) == 0,
      "registered stores' emptiness/file-count probes must not list")
  }

  test("a census-served probe frame still partition-prunes to the probed buckets") {
    import spark.implicits._
    val dir = tmpDir("graft_censprune_")
    (0 until 4).foreach { b =>
      (b * 4000 until (b + 1) * 4000).toDF("k")
        .withColumn("bucket", ES.bucketOf(col("k")))
        .write.partitionBy("bucket").mode("append").parquet(dir)
    }
    // register the store — from here every read is the catalog table
    // (CatalogFileIndex), and the economics claim must survive the
    // swap of file-index implementations: the bucket IN-list lands in
    // PartitionFilters and the scan touches only the probed bucket
    // dirs' files
    StoreCensus.refresh(spark, dir)
    val total = StoreCensus.read(spark, dir).inputFiles.length
    val buckets = Seq(17).toDF("k")
      .select(ES.bucketOf(col("k")).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val probe = ES.prunedStore(spark, dir, buckets)
    assert(probe.collect().length >= 1, "probed bucket must contain its key")
    val scans = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "census probe must be a file-source scan")
    val scanStr = scans.head.toString
    val pf = scanStr.substring(scanStr.indexOf("PartitionFilters: ["))
    assert(pf.take(pf.indexOf("]") + 1).contains("bucket#"),
      s"bucket IN-list must land in the census relation's PartitionFilters:\n" +
        scanStr.take(400))
    val scanned = scans.map(_.metrics("numFiles").value).sum
    assert(scanned > 0 && scanned * 10 < total,
      s"census probe must scan ~1/16 of the store, got $scanned of $total files")
  }

  /** Builds a small bucketed store on the graftfs scheme and returns
    * (storeDir, its rows) — the fixture every swap-failure case
    * starts from. */
  private def freshStore(tag: String): (String, Set[org.apache.spark.sql.Row]) = {
    import spark.implicits._
    val dir = tmpDir(s"graft_swap_${tag}_")
    // the swap's siblings, which an injected failure can strand
    Seq(".compacting", ".old").foreach(s => graft.core.Staging.registerAtExit(dir + s))
    val store = "graftfs:" + dir
    val df = (0L until 64L).map(i => (i, s"payload_$i"))
      .toDF("doc_id", "text")
      .withColumn("bucket", pmod(hash(col("doc_id")), lit(4)))
    df.repartition(4, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(store)
    (store, spark.read.parquet(store).collect().toSet)
  }

  private def interceptSwapFailure(store: String)(inject: => Unit): Throwable = {
    import spark.implicits._
    inject
    val e = intercept[Throwable] {
      ES.rewriteStore(spark, store,
        spark.read.parquet(store).filter(col("doc_id") =!= 0L))
    }
    GraftTestFs.reset()
    e
  }

  test("swap survives an injected failure at every step (delete-stale, write, rename-aside, promote, delete-last)") {
    // (1) stale-cleanup delete fails: live store untouched
    locally {
      val (store, before) = freshStore("stale")
      // plant a stale .old so the cleanup delete actually runs
      val p = new Path(store + ".old")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
      val e = interceptSwapFailure(store) { GraftTestFs.failDeleteSuffix = ".old" }
      assert(e.getMessage.contains("failed to delete"), e.getMessage)
      assert(spark.read.parquet(store).collect().toSet == before)
    }
    // (2) tmp write fails (injected task IOException): live untouched
    locally {
      val (store, before) = freshStore("write")
      val e = interceptSwapFailure(store) {
        GraftTestFs.failCreateUnder = ".compacting"
      }
      assert(e.getMessage != null)
      assert(spark.read.parquet(store).collect().toSet == before)
    }
    // (3) rename-aside fails: live untouched
    locally {
      val (store, before) = freshStore("aside")
      val e = interceptSwapFailure(store) {
        GraftTestFs.failRenameDstSuffix = ".old"
      }
      assert(e.getMessage.contains("rename aside failed"), e.getMessage)
      assert(spark.read.parquet(store).collect().toSet == before)
    }
    // (4) promote fails: rollback restores the live store
    locally {
      val (store, before) = freshStore("promote")
      val e = interceptSwapFailure(store) {
        GraftTestFs.failRenameSrcSuffix = ".compacting"
      }
      assert(e.getMessage.contains("promote failed"), e.getMessage)
      assert(spark.read.parquet(store).collect().toSet == before)
    }
    // (5) delete-last fails: the swap has COMMITTED — new content is
    // live and complete; the .old tree is stale garbage, and the next
    // swap (switch cleared) cleans it and still works
    locally {
      import spark.implicits._
      val (store, before) = freshStore("last")
      val after = before.filterNot(_.getLong(0) == 0L)
      GraftTestFs.failDeleteSuffix = ".old"
      val e = intercept[Throwable] {
        ES.rewriteStore(spark, store,
          spark.read.parquet(store).filter(col("doc_id") =!= 0L))
      }
      GraftTestFs.reset()
      assert(e.getMessage.contains("failed to delete"), e.getMessage)
      assert(spark.read.parquet(store).collect().toSet == after,
        "delete-last failure must leave the NEW store live and complete")
      ES.rewriteStore(spark, store,
        spark.read.parquet(store).filter(col("doc_id") =!= 1L))
      assert(spark.read.parquet(store).collect().toSet ==
        after.filterNot(_.getLong(0) == 1L))
    }
  }

  test("failed swap invalidates the census (reads fall back, stay correct)") {
    val (store, before) = freshStore("cens")
    StoreCensus.refresh(spark, store)
    assert(StoreCensus.nonEmpty(store).contains(true))
    val e = interceptSwapFailure(store) {
      GraftTestFs.failRenameSrcSuffix = ".compacting"
    }
    assert(e.getMessage.contains("promote failed"))
    assert(StoreCensus.nonEmpty(store).isEmpty,
      "census must not survive a failed swap")
    assert(ES.storeNonEmpty(store)) // fallback path answers
    assert(StoreCensus.read(spark, store).collect().toSet == before)
  }

  test("census survives a driver restart: probe-only reads regain zero-listing from the second read on") {
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val local = tmpDir("graft_censrec_sigs_")
    val store = "graftfs:" + local
    val pairs = "graftfs:" + tmpDir("graft_censrec_pairs_")
    ES.st21Batch(docBatch(0 until 30), store, pairs)
    ES.st21Batch(docBatch(30 until 60), store, pairs)
    // a tombstone fold first: the swap renames the live dir aside and
    // promotes a rewritten tree, and a restart must still find it
    ES.deleteFromStore(spark, store, "doc_id", (0L until 10L).toDF("doc_id"))
    val cold = spark.read.parquet(store).collect().toSet
    // simulated restart: the driver holds no table for the store
    StoreCensus.invalidate(store)
    assert(StoreCensus.table(store).isEmpty)
    // the restarted driver registers its store: CREATE TABLE … LOCATION
    // plus RECOVER PARTITIONS, one listing
    GraftTestFs.reset()
    StoreCensus.refresh(spark, store)
    assert(GraftTestFs.metadataCalls(local) > 0,
      "registration must list the store")
    val first = ES.prunedStore(spark, store, 0 until 16)
    assert(first.collect().toSet == cold)
    // ...and from then on the catalog serves: ZERO filesystem calls
    // to create and plan a probe frame
    GraftTestFs.reset()
    val second = ES.prunedStore(spark, store, 0 until 16)
    second.queryExecution.executedPlan
    assert(GraftTestFs.metadataCalls(local) == 0,
      s"post-restart reads must be catalog-served again: " +
        s"${GraftTestFs.metadataCalls(local)} calls")
    assert(second.collect().toSet == cold)
    // a dir nobody refreshed (an external writer's) is never adopted
    // by a read
    val ext = "graftfs:" + tmpDir("graft_censrec_ext_")
    (0L until 8L).toDF("doc_id").write.mode("overwrite").parquet(ext)
    assert(ES.storeNonEmpty(ext))
    assert(StoreCensus.nonEmpty(ext).isEmpty,
      "an unregistered external store must not be adopted by a read")
  }

  test("docstring corollary pinned: out-of-band mutation of a tracked store is served stale until invalidate/refresh") {
    import spark.implicits._
    val (store, before) = freshStore("stale_corollary")
    StoreCensus.refresh(spark, store)
    // a non-census writer appends behind the census' back
    (100L until 116L).map(i => (i, s"ext_$i"))
      .toDF("doc_id", "text")
      .withColumn("bucket", pmod(hash(col("doc_id")), lit(4)))
      .write.partitionBy("bucket").mode("append").parquet(store)
    val censusRows = StoreCensus.read(spark, store).collect().toSet
    val coldRows = spark.read.parquet(store).collect().toSet
    assert(censusRows == before && coldRows.size > before.size,
      "a tracked store mutated out-of-band MUST be served stale — " +
        "this pins the documented hazard, not an aspiration")
    // the documented repair: route the mutation through the hooks
    StoreCensus.invalidate(store)
    assert(StoreCensus.read(spark, store).collect().toSet == coldRows,
      "after invalidate, reads must fall back to live state")
    StoreCensus.refresh(spark, store)
    assert(StoreCensus.read(spark, store).collect().toSet == coldRows)
  }

  test("schema-evolution fence: a widened append fails the refresh loudly and drops the census") {
    import spark.implicits._
    val (store, _) = freshStore("fence")
    StoreCensus.refresh(spark, store) // pins the (doc_id, text, bucket) schema
    // a future writer appends a WIDENED schema — serving the stale
    // pinned schema silently is the red case
    (200L until 208L).map(i => (i, s"w_$i", i * 2))
      .toDF("doc_id", "text", "extra_col")
      .withColumn("bucket", pmod(hash(col("doc_id")), lit(4)))
      .write.partitionBy("bucket").mode("append").parquet(store)
    val e = intercept[IllegalStateException] { StoreCensus.refresh(spark, store) }
    assert(e.getMessage.contains("schema drift") &&
      e.getMessage.contains("extra_col"), e.getMessage)
    assert(StoreCensus.nonEmpty(store).isEmpty,
      "a fence violation must invalidate the entry, not serve the stale schema")
    assert(ES.storeNonEmpty(store), "fallback paths must still answer")
  }

  test("a failed append invalidates the census (no stale pre-append snapshot for callers that catch and continue)") {
    graft.functions.VectorExpressions.register(spark)
    val local = tmpDir("graft_censfail_sigs_")
    val store = "graftfs:" + local
    val pairs = "graftfs:" + tmpDir("graft_censfail_pairs_")
    ES.st21Batch(docBatch(0 until 30), store, pairs)
    assert(StoreCensus.nonEmpty(store).contains(true))
    val preAppend = spark.read.parquet(store).collect().toSet
    // the sig-store append write fails mid-task; the sibling pair
    // write may have committed — the census must not keep serving the
    // pre-append snapshot to a caller that catches the batch failure
    GraftTestFs.failCreateUnder = "censfail_sigs"
    val e = intercept[Throwable] {
      ES.st21Batch(docBatch(30 until 60), store, pairs)
    }
    GraftTestFs.reset()
    assert(e.getMessage != null)
    assert(StoreCensus.nonEmpty(store).isEmpty,
      "census must not survive a failed append")
    // fallback reads answer the live on-disk state, whatever the
    // failed job left committed
    assert(StoreCensus.read(spark, store).collect().toSet ==
      spark.read.parquet(store).collect().toSet)
    // an append failure never loses pre-append rows
    assert(preAppend.subsetOf(spark.read.parquet(store).collect().toSet))
    // the next successful mutation re-installs the census
    ES.st21Batch(docBatch(60 until 90), store, pairs)
    assert(StoreCensus.nonEmpty(store).contains(true))
    assert(StoreCensus.read(spark, store).collect().toSet ==
      spark.read.parquet(store).collect().toSet)

    // the same rule over TWO stores (st20Batch): the shingle-store
    // append fails while the band append and the probe run beside it.
    // Both census entries go, no sibling job outlives the failure, and
    // the batch's caches are released before the caller sees it.
    val bands = "graftfs:" + tmpDir("graft_censfail_bands_")
    val sh = "graftfs:" + tmpDir("graft_censfail_sh_")
    val out = "graftfs:" + tmpDir("graft_censfail_out_")
    def st20Docs(ids: Range) = docBatch(ids)
      .withColumn("is_new", col("doc_id") % 4 === 0)
    ES.st20Batch(st20Docs(0 until 30).filter(!col("is_new")), bands, sh, out)
    assert(StoreCensus.nonEmpty(bands).contains(true) &&
      StoreCensus.nonEmpty(sh).contains(true))
    spark.catalog.clearCache()
    GraftTestFs.failCreateUnder = "censfail_sh_"
    val e2 = try intercept[Throwable] {
      ES.st20Batch(st20Docs(30 until 60), bands, sh, out)
    } finally GraftTestFs.reset()
    assert(e2.getMessage != null)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "a sibling job outlived the failed batch")
    assert(StoreCensus.nonEmpty(bands).isEmpty && StoreCensus.nonEmpty(sh).isEmpty,
      "both stores' census entries must go on a failed batch")
    assert(spark.sharedState.cacheManager.isEmpty,
      "the failed batch left its caches registered")
    for (dir <- Seq(bands, sh))
      assert(StoreCensus.read(spark, dir).collect().toSet ==
        spark.read.parquet(dir).collect().toSet)
  }

  test("unknown schemes without an atomic-rename capability claim are refused (fail-safe), a claim is honored") {
    import spark.implicits._
    val local = tmpDir("graft_ns_store_")
    val store = "graftns:" + local
    val df = (0L until 16L).map(i => (i, s"p$i")).toDF("doc_id", "text")
      .withColumn("bucket", pmod(hash(col("doc_id")), lit(4)))
    df.repartition(4, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(store)
    // graftns is on NO list and advertises nothing → refused loudly
    val e = intercept[IllegalStateException] {
      ES.rewriteStore(spark, store, spark.read.parquet(store))
    }
    assert(e.getMessage.contains("atomic") &&
      e.getMessage.contains("allowNonAtomicRename") &&
      e.getMessage.contains(ES.AtomicRenameCapability), e.getMessage)
    // the same conf opt-in as the blocklist unblocks it
    spark.conf.set("spark.graft.store.allowNonAtomicRename", "true")
    try {
      val before = spark.read.parquet(store).collect().toSet
      ES.rewriteStore(spark, store,
        spark.read.parquet(store).filter(col("doc_id") =!= 0L))
      assert(spark.read.parquet(store).collect().toSet ==
        before.filterNot(_.getLong(0) == 0L))
    } finally spark.conf.unset("spark.graft.store.allowNonAtomicRename")
    // the capability claim (graftfs advertises it) takes the trusting
    // path — every swap-failure test above already rides it; assert
    // the guard explicitly here so the two sides sit together
    val (cstore, cbefore) = freshStore("cap_ok")
    ES.rewriteStore(spark, cstore,
      spark.read.parquet(cstore).filter(col("doc_id") =!= 0L))
    assert(spark.read.parquet(cstore).collect().toSet ==
      cbefore.filterNot(_.getLong(0) == 0L))
  }

  test("emptiness fallback: hidden components below the root hide files; a hidden-rooted store still answers") {
    import spark.implicits._
    // a store legitimately rooted under a dot-dir must not read empty
    val hiddenRoot = "/tmp/.graft_hidden_r12/store_" + System.nanoTime()
    (0L until 4L).toDF("doc_id").write.mode("overwrite").parquet(hiddenRoot)
    assert(ES.storeNonEmpty(hiddenRoot),
      "a store under a dot-dir must not be reported empty")
    // ...while an aborted job's _temporary leftovers below the root
    // must not make an otherwise-empty store read non-empty
    val ghost = tmpDir("graft_ghost_store_")
    val tmpTask = java.nio.file.Paths.get(ghost, "_temporary", "0")
    java.nio.file.Files.createDirectories(tmpTask)
    java.nio.file.Files.write(tmpTask.resolve("part-00000-ghost"),
      Array[Byte](1, 2, 3))
    assert(!ES.storeNonEmpty(ghost),
      "uncommitted _temporary task files must not count as store content")
    // and refresh agrees: a store with no committed part file gets no
    // table
    StoreCensus.refresh(spark, ghost)
    assert(StoreCensus.table(ghost).isEmpty,
      "refresh must not register a store over uncommitted files only")
  }

  /** Writes `df` as ONE parquet part file and moves it to
    * `target/name` with raw java.nio — an out-of-band writer the
    * census hooks never see, landing files the way a foreign tool
    * would. */
  private def plantPartFile(df: org.apache.spark.sql.DataFrame,
      target: java.nio.file.Path, name: String): Unit = {
    val stage = tmpDir("graft_plant_")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    java.nio.file.Files.createDirectories(target)
    java.nio.file.Files.move(liveFiles(stage).head, target.resolve(name))
    ()
  }

  test("schema fence footers EVERY new file — a mixed-schema multi-file append cannot slip on listing order") {
    import spark.implicits._
    val (store, _) = freshStore("fence_multi")
    StoreCensus.refresh(spark, store) // pins (doc_id, text, bucket)
    val b0 = java.nio.file.Paths.get(store.stripPrefix("graftfs:"), "bucket=0")
    // one CONFORMING new file (footer = the pinned data columns)...
    plantPartFile((900L to 903L).map(i => (i, s"ok_$i")).toDF("doc_id", "text"),
      b0, "part-00000-conforming.parquet")
    // ...and one WIDENED file in the SAME mutation window — under the
    // r12 first-found fence (mutation: `files.find` back in refresh)
    // this slipped whenever the conforming file happened to list
    // first, and "first" was filesystem-order luck
    plantPartFile((904L to 907L).map(i => (i, s"w_$i", i * 2))
        .toDF("doc_id", "text", "extra_col"),
      b0, "part-00001-widened.parquet")
    val e = intercept[IllegalStateException] { StoreCensus.refresh(spark, store) }
    assert(e.getMessage.contains("schema drift") &&
      e.getMessage.contains("extra_col"), e.getMessage)
    assert(StoreCensus.nonEmpty(store).isEmpty,
      "a fence violation must invalidate the entry")
    assert(ES.storeNonEmpty(store), "fallback paths must still answer")
  }

  test("a stray root-level part file lies outside every bucket partition: the catalog neither serves nor fences it") {
    import spark.implicits._
    val (store, before) = freshStore("fence_root")
    StoreCensus.refresh(spark, store)
    val root = java.nio.file.Paths.get(store.stripPrefix("graftfs:"))
    val files = StoreCensus.read(spark, store).inputFiles.length
    // the table's files are its partitions' files: a part file at the
    // store ROOT is in none of them, conforming or widened
    plantPartFile((910L to 913L).map(i => (i, s"r_$i")).toDF("doc_id", "text"),
      root, "part-00000-stray-root.parquet")
    plantPartFile((914L to 915L).map(i => (i, s"w_$i", i * 3))
        .toDF("doc_id", "text", "wide_col"),
      root, "part-00001-widened-root.parquet")
    StoreCensus.refresh(spark, store) // must NOT throw
    assert(StoreCensus.read(spark, store).inputFiles.length == files)
    assert(StoreCensus.read(spark, store).collect().toSet == before)
  }

  test("fence comparator laws: fires iff a non-path-explicable name OR type difference exists (seeded sweep)") {
    val pool = ('a' to 'j').map("c" + _)
    val rnd = new scala.util.Random(13)
    (1 to 500).foreach { _ =>
      val shuffled = rnd.shuffle(pool)
      val data = shuffled.take(1 + rnd.nextInt(6)).toSet
      val parts = rnd.shuffle(pool.filterNot(data)).take(rnd.nextInt(3)).toSet
      val pinned = data ++ parts
      val pinnedT = pinned.iterator.map(_ -> "bigint").toMap
      def fence(footer: Set[String], fileParts: Set[String]) =
        StoreCensus.fenceViolation(
          footer.toSeq.sorted.map(_ -> "bigint"), fileParts, parts, pinnedT)
      // a conforming bucket-dir file never fires
      assert(fence(data, parts).isEmpty)
      // a root-level file missing ONLY path-partition columns never fires
      assert(fence(data, Set.empty).isEmpty)
      val extra = pool.filterNot(pinned.contains).headOption
      extra.foreach { e =>
        // widened footer fires in both placements
        assert(fence(data + e, parts).nonEmpty)
        assert(fence(data + e, Set.empty).nonEmpty)
        // a NEW partition key appearing in the path fires
        assert(fence(data, parts + e).nonEmpty)
      }
      if (data.size > 1) {
        // dropped data column fires even at the root (absence of a
        // DATA column is never path-explicable)
        val dropped = data - data.head
        assert(fence(dropped, parts).nonEmpty)
        assert(fence(dropped, Set.empty).nonEmpty)
        // renamed data column (drop one, add one) fires
        extra.foreach(e => assert(fence(dropped + e, parts).nonEmpty))
      }
      // TYPE dimension (r14): a same-name retyped data column fires
      // in BOTH placements — the root tolerance is a NAME tolerance
      // and must never excuse a type change — and the message names
      // the offending column
      val retyped = data.head
      def fenceT(fileParts: Set[String]) = StoreCensus.fenceViolation(
        data.toSeq.sorted.map(n =>
          n -> (if (n == retyped) "double" else "bigint")),
        fileParts, parts, pinnedT)
      assert(fenceT(parts).exists(m =>
        m.contains(retyped) && m.contains("double") && m.contains("bigint")))
      assert(fenceT(Set.empty).nonEmpty)
      // a retype of a PATH partition column cannot be seen through a
      // footer (partition values live in the path); the name check
      // stays authoritative there — pinned-typed fields absent from
      // the footer are never type-checked
      assert(fence(data, parts).isEmpty)
    }
  }

  test("schema fence catches a same-name RETYPED append at the writer's refresh, not the reader's scan") {
    import spark.implicits._
    val (store, _) = freshStore("fence_retype")
    StoreCensus.refresh(spark, store) // pins doc_id BIGINT, text STRING
    val b0 = java.nio.file.Paths.get(store.stripPrefix("graftfs:"), "bucket=0")
    // same names, doc_id written as INT32 — r13's name-only fence let
    // this into the census and the failure surfaced later as a scan
    // decode error (mutation: drop fenceViolation's type pass — this
    // file conforms by name and the intercept below fails)
    plantPartFile((920 to 923).map(i => (i, s"rt_$i")).toDF("doc_id", "text"),
      b0, "part-00000-retyped.parquet")
    val e = intercept[IllegalStateException] { StoreCensus.refresh(spark, store) }
    assert(e.getMessage.contains("schema drift") &&
      e.getMessage.contains("`doc_id` as int ") &&
      e.getMessage.contains("has bigint"), e.getMessage)
    assert(StoreCensus.nonEmpty(store).isEmpty,
      "a type-drift violation must invalidate the entry")
    assert(ES.storeNonEmpty(store), "fallback paths must still answer")
  }

  /** A parquet file written through parquet-hadoop's Group API — a
    * FOREIGN writer: no embedded Spark schema in the footer, exactly
    * what a non-Spark tool's out-of-band append looks like. `payload`
    * is unannotated BINARY, the type whose Spark reading
    * spark.sql.parquet.binaryAsString flips. */
  private def writeForeignFile(dir: java.nio.file.Path, name: String,
      ids: Range, retypedDocId: Boolean = false): Unit = {
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      if (retypedDocId)
        "message g { required int32 doc_id; optional binary payload; }"
      else
        "message g { required int64 doc_id; optional binary payload; }")
    java.nio.file.Files.createDirectories(dir)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new Path(dir.resolve(name).toString))
      .withConf(new Configuration()).withType(schema).build()
    try ids.foreach { i =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
      if (retypedDocId) g.add("doc_id", i) else g.add("doc_id", i.toLong)
      g.add("payload", org.apache.parquet.io.api.Binary.fromString(s"p_$i"))
      w.write(g)
    } finally w.close()
  }

  test("fence follows the session's parquet conversion confs on FOREIGN files — a conforming append under binaryAsString passes, real drift still fires") {
    // ADVICE r14 (medium): the pin is taken via sp.read.parquet under
    // the SESSION conf, but the r14 fence converted footers with
    // static defaults — on foreign files (no embedded Spark schema) a
    // session overriding binaryAsString made pin ("string") and fence
    // ("binary") disagree on IDENTICAL files, so every post-pin
    // refresh fence-failed conforming appends: a persistent false
    // positive that fails the triggering write. Mutation: rebuild the
    // converter with the no-arg ctor in fenceSchemas — the first
    // refresh below throws.
    val store = tmpDir("graft_fence_foreign_")
    val root = java.nio.file.Paths.get(store, "bucket=0")
    writeForeignFile(root, "part-00000-foreign.parquet", 0 until 8)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try {
      StoreCensus.refresh(spark, store)
      assert(StoreCensus.read(spark, store).schema("payload")
        .dataType.typeName == "string",
        "precondition: binaryAsString must shift a foreign pin to string")
      val before = StoreCensus.read(spark, store).inputFiles.length
      writeForeignFile(root, "part-00001-foreign.parquet", 8 until 16)
      StoreCensus.refresh(spark, store) // must NOT throw
      assert(StoreCensus.read(spark, store).inputFiles.length == before + 1,
        "a conforming foreign append must be censused, not fenced out")
      // ...and the fence still fires on REAL foreign drift under the
      // same overridden conf (the session converter is not a bypass)
      writeForeignFile(root, "part-00002-retyped.parquet", 16 until 20,
        retypedDocId = true)
      val e = intercept[IllegalStateException] {
        StoreCensus.refresh(spark, store)
      }
      // direction pinned: the FILE carries int, the PIN has bigint —
      // a bare contains("int") is implied by contains("bigint") and
      // cannot catch a fence reporting the pinned type on both sides
      assert(e.getMessage.contains("schema drift") &&
        e.getMessage.contains("`doc_id` as int ") &&
        e.getMessage.contains("has bigint"), e.getMessage)
    } finally spark.conf.unset("spark.sql.parquet.binaryAsString")
  }

  test("fence honors a file's embedded Spark schema — conversion-conf overrides never fence Spark-written appends") {
    import spark.implicits._
    // the other half of the ADVICE r14 fix, guarding against the
    // naive converter-only repair: Spark-written files EMBED their
    // exact Spark schema in the footer and both the pin's inference
    // and the scan prefer it over MessageType conversion, so under
    // binaryAsString=true a Spark-written store pins payload as
    // BINARY. A fence that converted the raw MessageType with the
    // session conf would read "string" and fence-fail every
    // conforming Spark-written append — the same false-positive class
    // the fix removes, introduced from the other side. Mutation: drop
    // the embedded-schema preference in fenceFooterFields — the
    // conforming refresh below throws.
    val store = "graftfs:" + tmpDir("graft_fence_embed_")
    val df = (0L until 32L).map(i => (i, s"payload_$i"))
      .toDF("doc_id", "text")
      .withColumn("payload", col("text").cast("binary")) // footer: unannotated BINARY
      .withColumn("bucket", pmod(hash(col("doc_id")), lit(4)))
    df.repartition(4, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(store)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try {
      StoreCensus.refresh(spark, store)
      assert(StoreCensus.read(spark, store).schema("payload")
        .dataType.typeName == "binary",
        "precondition: the embedded Spark schema must win the pin over binaryAsString")
      val before = StoreCensus.read(spark, store).inputFiles.length
      plantPartFile((100L to 103L).map(i => (i, s"ok_$i"))
          .toDF("doc_id", "text")
          .withColumn("payload", col("text").cast("binary")),
        java.nio.file.Paths.get(store.stripPrefix("graftfs:"), "bucket=0"),
        "part-00000-conforming-binary.parquet")
      StoreCensus.refresh(spark, store) // must NOT throw
      assert(StoreCensus.read(spark, store).inputFiles.length == before + 1,
        "a conforming Spark-written append must be censused, not fenced out")
      // real drift in a Spark-written append still fires: the
      // embedded schema is compared, not trusted blindly
      plantPartFile((104 to 105).map(i => (i, s"rt_$i"))
          .toDF("doc_id", "text") // doc_id INT32 — a true retype
          .withColumn("payload", lit("x").cast("binary")),
        java.nio.file.Paths.get(store.stripPrefix("graftfs:"), "bucket=0"),
        "part-00001-retyped.parquet")
      val e = intercept[IllegalStateException] {
        StoreCensus.refresh(spark, store)
      }
      assert(e.getMessage.contains("schema drift") &&
        e.getMessage.contains("doc_id"), e.getMessage)
    } finally spark.conf.unset("spark.sql.parquet.binaryAsString")
  }

  test("fence cross-checks the embedded schema against the physical columns — an inconsistent writer cannot slip physical drift past matching metadata (ADVICE r15)") {
    val (store, _) = freshStore("fence_inconsistent")
    StoreCensus.refresh(spark, store) // pins (doc_id, text) + bucket
    // a file whose footer KEY-VALUE METADATA claims exactly the
    // pinned columns while its PHYSICAL MessageType drifted (text
    // dropped, extra added) — a stale/forged-metadata writer. The
    // embedded preference alone (mutation: drop the name cross-check
    // in chooseFooterStruct) trusts the metadata, censuses the file,
    // and the drift surfaces only as a later scan error — the exact
    // seam the fence exists to close. Zero row groups keeps the
    // fixture minimal: the fence is footer-only (SKIP_ROW_GROUPS).
    val b0 = java.nio.file.Paths.get(store.stripPrefix("graftfs:"), "bucket=0")
    java.nio.file.Files.createDirectories(b0)
    val phys = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message g { required int64 doc_id; optional binary extra; }")
    val claimed = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val w = new org.apache.parquet.hadoop.ParquetFileWriter(
      org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new Path(b0.resolve("part-00000-inconsistent.parquet").toString),
        new Configuration()),
      phys, org.apache.parquet.hadoop.ParquetFileWriter.Mode.CREATE,
      128L << 20, 8 << 20)
    w.start()
    w.end(java.util.Collections.singletonMap(
      org.apache.spark.sql.execution.datasources.parquet
        .ParquetReadSupport.SPARK_METADATA_KEY, claimed.json))
    val e = intercept[IllegalStateException] {
      StoreCensus.refresh(spark, store)
    }
    assert(e.getMessage.contains("schema drift") &&
      e.getMessage.contains("extra"), e.getMessage)
    assert(StoreCensus.nonEmpty(store).isEmpty,
      "the violation must invalidate the entry")
  }

  test("chooseFooterStruct: embedded trusted only while its names match the physical columns") {
    import org.apache.spark.sql.types._
    val emb = new StructType().add("a", "long").add("b", "string")
    val conv = new StructType().add("a", "long").add("c", "binary")
    // consistent writer: embedded wins (its types are the scan's truth,
    // immune to conversion-conf overrides — the r15 fix's direction)
    assert(StoreCensus.chooseFooterStruct(Some(emb), Set("a", "b"), conv) eq emb)
    // inconsistent writer: PHYSICAL truth wins — unconditional
    // embedded preference is the red mutation here
    assert(StoreCensus.chooseFooterStruct(Some(emb), Set("a", "c"), conv) eq conv)
    // foreign file (no embedded schema): converted
    assert(StoreCensus.chooseFooterStruct(None, Set("a", "c"), conv) eq conv)
    // conversion is by-name — a trusted embedded schema must not pay it
    var forced = false
    StoreCensus.chooseFooterStruct(Some(emb), Set("a", "b"),
      { forced = true; conv })
    assert(!forced, "trusted-embedded path must not force the converter")
  }

  test("a transient FS error during restart recovery degrades to live listing and retries — never throws from a probe, never settles permanently") {
    val (store, before) = freshStore("hiccup")
    StoreCensus.refresh(spark, store)
    StoreCensus.invalidate(store) // simulated restart
    val localRoot = store.stripPrefix("graftfs:")
    // the restart's registering refresh dies on a transient listing
    // error: it throws to its caller and registers nothing...
    GraftTestFs.failListOnce = localRoot
    intercept[java.io.IOException] { StoreCensus.refresh(spark, store) }
    assert(StoreCensus.table(store).isEmpty)
    // ...while a probe read lists the dir live and answers correctly
    assert(StoreCensus.read(spark, store).collect().toSet == before)
    // the next refresh registers the store, and frame creation is
    // catalog-served again (the scan itself may open files)
    StoreCensus.refresh(spark, store)
    GraftTestFs.reset()
    val frame = StoreCensus.read(spark, store)
    frame.queryExecution.executedPlan
    assert(GraftTestFs.metadataCalls(localRoot) == 0,
      s"the retried refresh must serve from the catalog: " +
        s"${GraftTestFs.metadataCalls(localRoot)} metadata calls")
    assert(frame.collect().toSet == before)
  }

  test("non-atomic-rename schemes are refused loudly unless opted in") {
    import spark.implicits._
    val local = tmpDir("graft_s3a_store_")
    val store = "s3a:" + local
    val df = (0L until 16L).map(i => (i, s"p$i")).toDF("doc_id", "text")
      .withColumn("bucket", pmod(hash(col("doc_id")), lit(4)))
    df.repartition(4, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(store)
    val e = intercept[IllegalStateException] {
      ES.rewriteStore(spark, store, spark.read.parquet(store))
    }
    assert(e.getMessage.contains("atomically") &&
      e.getMessage.contains("allowNonAtomicRename"), e.getMessage)
    // deployment opt-in: warn-and-proceed (our s3a is local-backed, so
    // the swap itself succeeds once allowed)
    spark.conf.set("spark.graft.store.allowNonAtomicRename", "true")
    try {
      val before = spark.read.parquet(store).collect().toSet
      ES.rewriteStore(spark, store,
        spark.read.parquet(store).filter(col("doc_id") =!= 0L))
      assert(spark.read.parquet(store).collect().toSet ==
        before.filterNot(_.getLong(0) == 0L))
    } finally spark.conf.unset("spark.graft.store.allowNonAtomicRename")
  }
}
