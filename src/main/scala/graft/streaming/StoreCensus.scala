package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.types.StructType

/** The bucket-clustered parquet stores (st20 band/shingle, st21 CDC
  * signature, st24 ANN) as Spark catalog tables: each store is an
  * external parquet table partitioned by `bucket`, located at the
  * store dir. Spark's catalog then does what a store needs between
  * mutations: the table's `CatalogFileIndex` and the session
  * `FileStatusCache` serve each bucket's listing from memory, the
  * schema comes from the catalog (no footer job), and the bucket
  * IN-list of a probe prunes partitions before any listing. From the
  * second read of a bucket on, creating and planning a store frame
  * makes no filesystem call (spec-pinned with a call-counting
  * FileSystem in StoreFsSpec).
  *
  * MUTATION CONTRACT: a store is registered by its first [[refresh]]
  * (`CREATE TABLE … LOCATION` plus `ALTER TABLE … RECOVER
  * PARTITIONS`: one listing and one schema read). From then on
  * appends go through the table ([[append]]: `saveAsTable` resolves
  * the frame's columns by name against the table schema, and new
  * buckets register as partitions), and every commit calls
  * [[refresh]] (`REFRESH TABLE`, then one listing of every bucket,
  * which also primes the cache the next probes read). A store nobody
  * refreshed has no table, and reads fall back to `spark.read.parquet`.
  * A mutation that does not go through these hooks (an out-of-band
  * append, a dir recreated at the same path) is served stale until the
  * next [[refresh]] — the catalog's own refresh law. [[invalidate]]
  * drops the table (its data stays: the table is external), so after
  * a failed mutation reads list the dir live until the next
  * successful refresh registers it again. A restarted driver
  * registers its stores with one [[refresh]] each.
  *
  * SCHEMA-EVOLUTION FENCE: the catalog schema is fixed at
  * registration, and a part file an outside writer drops into a bucket
  * dir would be read under it. So each [[refresh]] reads the footer of
  * every part file new since the store's last listing (driver-side,
  * no Spark job) and compares its top-level names and types with the
  * table schema ([[fenceViolation]]); a drifted file fails the refresh
  * loudly, naming the store and both column sets, and invalidates the
  * table. Cost stays bounded by the mutation's width: an append adds
  * at most one file per touched bucket, a compaction swap renews one
  * file per bucket.
  *
  * Lifetime: table names are unique per store dir, and every table
  * still registered is dropped at JVM exit, before Spark stops, so on
  * a persistent (derby) catalog no entry outlives its store's
  * exit-time deletion.
  */
private[graft] object StoreCensus {

  /** A registered store: its table, and the part files of its last
    * listing (the fence's baseline). */
  private final case class Entry(table: String, files: Set[String], sp: SparkSession)

  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  private lazy val dropAtExit: Unit =
    // above Spark's own hook (priority 40), which stops the context
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(() =>
      entries.values().forEach { e =>
        try e.sp.sharedState.externalCatalog.dropTable("default",
          e.table.stripPrefix("default."), ignoreIfNotExists = true, purge = false)
        catch { case scala.util.control.NonFatal(_) => () }
      }, 50)

  /** Qualified-URI key: two spellings of one dir (bare path vs file:
    * URI) are one store. */
  private def key(dir: String): String = {
    val (fs, p) = EventStreams.storeFs(dir)
    fs.makeQualified(p).toString
  }

  private def entry(dir: String): Option[Entry] = Option(entries.get(key(dir)))

  /** The store's table, if registered. */
  private[graft] def table(dir: String): Option[String] = entry(dir).map(_.table)

  /** The store frame: the catalog table when registered, else a plain
    * `spark.read.parquet`. Callers guard emptiness (schema inference
    * throws on a dir with no part files). */
  private[graft] def read(sp: SparkSession, dir: String): DataFrame =
    table(dir).fold(sp.read.parquet(dir))(sp.table)

  /** A registered store's part files, from the cached index. */
  private def files(dir: String): Option[Array[String]] =
    entry(dir).map(e => e.sp.table(e.table).inputFiles)

  /** Catalog-served emptiness — EventStreams.storeNonEmpty's fast path. */
  private[graft] def nonEmpty(dir: String): Option[Boolean] =
    files(dir).map(_.nonEmpty)

  /** Catalog-served files-per-bucket maximum (compaction's trigger). */
  private[graft] def maxFilesPerBucket(dir: String): Option[Int] =
    files(dir).map(_.groupBy(f => new Path(f).getParent).valuesIterator
      .map(_.length).foldLeft(0)(math.max))

  /** Append `df` (carrying a `bucket` column) to the store: through the
    * table once registered, by path before. */
  private[graft] def append(df: DataFrame, dir: String): Unit = table(dir) match {
    case Some(t) => df.write.mode("append").partitionBy("bucket").saveAsTable(t)
    case None => df.write.partitionBy("bucket").mode("append").parquet(dir)
  }

  /** Commit-time hook after a mutation: register the store if it has
    * part files and no table yet, else `REFRESH TABLE`; then list it
    * once and fence the files new since the last listing. */
  private[graft] def refresh(sp: SparkSession, dir: String): Unit = {
    val k = key(dir)
    try {
      val prior = entry(dir)
      val t = prior match {
        case Some(e) => sp.catalog.refreshTable(e.table); Some(e.table)
        case None if EventStreams.storeNonEmpty(dir) => Some(register(sp, k))
        case None => None
      }
      t.foreach { t =>
        val listed = sp.table(t).inputFiles.toSet
        prior.foreach(p => fenceSchemas(sp, t, dir, (listed -- p.files).toSeq))
        entries.put(k, Entry(t, listed, sp))
      }
    } catch { case e: Throwable =>
      // a refresh that dies (listing error, fence violation) must not
      // leave the table serving a store whose state is now unknown
      invalidate(dir)
      throw e
    }
  }

  private def register(sp: SparkSession, k: String): String = {
    dropAtExit
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(k.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val t = s"default.graft_store_${md5.take(16)}"
    sp.sql(s"DROP TABLE IF EXISTS $t")
    sp.sql(s"CREATE TABLE $t USING parquet LOCATION '${k.replace("'", "\\'")}'")
    sp.sql(s"ALTER TABLE $t RECOVER PARTITIONS")
    t
  }

  /** Forget the store and drop its table (the data stays) — called
    * when a store's on-disk state is no longer known: a failed swap or
    * append, a dying refresh, an expiry of its part files. Reads list
    * the dir live until the next successful [[refresh]]. */
  private[graft] def invalidate(dir: String): Unit =
    Option(entries.remove(key(dir))).foreach(e => e.sp.sql(s"DROP TABLE IF EXISTS ${e.table}"))

  /** The fence's comparison rule, factored pure so it is
    * property-testable (StoreFsSpec's seeded sweep). A new file
    * CONFORMS when the columns it contributes — footer fields plus
    * its path's `k=v` partition components — equal the pinned name
    * set AND every footer field's type equals the pinned type; with
    * ONE tolerance: a file whose path carries none of some store
    * partition columns may omit exactly those columns, because a
    * missing PATH component is a layout quirk, while an
    * added/renamed/dropped DATA column is drift. Types are
    * nullability-free catalogStrings (file scans force top-level
    * fields nullable, and writers legitimately vary required/optional
    * repetition); path partition components contribute no footer type
    * and stay name-checked. Returns the violation message, or None
    * when conforming. */
  private[graft] def fenceViolation(footerFields: Seq[(String, String)],
      filePartNames: Set[String], storePartNames: Set[String],
      pinnedTypes: Map[String, String]): Option[String] = {
    val pinned = pinnedTypes.keySet
    val found = footerFields.iterator.map(_._1).toSet ++ filePartNames
    // partition columns this file's PATH does not carry — tolerated as
    // absent, never as renamed: any other difference is drift
    val missing = (storePartNames & pinned) -- filePartNames
    if (found != pinned && !(missing.nonEmpty && found == pinned -- missing))
      Some(
        s"carries columns ${found.toSeq.sorted.mkString("[", ",", "]")} " +
          s"but the store's pinned schema has " +
          s"${pinned.toSeq.sorted.mkString("[", ",", "]")}")
    else
      // names conform — now the TYPE dimension: a same-name retyped
      // append must fail the writer's refresh, not the reader's scan
      footerFields.collectFirst {
        case (n, t) if pinnedTypes.get(n).exists(_ != t) =>
          s"carries column `$n` as $t but the store's pinned schema " +
            s"has ${pinnedTypes(n)}"
      }
  }

  /** One file's footer top-level FIELDS — (name, Spark type) pairs,
    * the type being what the standard parquet read path would assign,
    * rendered as a nullability-free catalogString. A schema-only
    * metadata read: SKIP_ROW_GROUPS elides the row-group metadata (the
    * bulk of a footer), and the open goes through the RAW filesystem
    * when the store FS is a ChecksumFileSystem wrapper (the crc
    * sidecar read costs more than the footer; a corrupted footer still
    * fails the thrift parse or the compare, and the scan keeps its own
    * verification). */
  private val fenceReadOptions = org.apache.parquet.ParquetReadOptions.builder()
    .withMetadataFilter(
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    .build()

  private def fenceFooterFields(fs: org.apache.hadoop.fs.FileSystem,
      file: Path,
      converter: org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter)
      : Seq[(String, String)] = {
    val readFs = fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    val len = readFs.getFileStatus(file).getLen
    val in = new org.apache.parquet.io.InputFile {
      override def getLength: Long = len
      override def newStream(): org.apache.parquet.io.SeekableInputStream =
        org.apache.parquet.hadoop.util.HadoopStreams.wrap(readFs.open(file))
    }
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in, fenceReadOptions)
    try {
      val fmd = reader.getFooter.getFileMetaData
      // mirror ParquetFileFormat.readSchemaFromFooter, the inference the
      // table schema came from: a Spark-written file embeds its exact
      // Spark schema and inference PREFERS it over MessageType
      // conversion; only a FOREIGN file (no embedded schema) falls
      // through to the converter, built from the refreshing session's
      // SQLConf. An unparseable embedded schema falls through too.
      val embedded = Option(fmd.getKeyValueMetaData.get(
          org.apache.spark.sql.execution.datasources.parquet
            .ParquetReadSupport.SPARK_METADATA_KEY))
        .flatMap(s => scala.util.Try(
          org.apache.spark.sql.types.DataType.fromJson(s)
            .asInstanceOf[StructType]).toOption)
      import scala.jdk.CollectionConverters._
      val physicalNames =
        fmd.getSchema.getFields.asScala.iterator.map(_.getName).toSet
      val struct = chooseFooterStruct(embedded, physicalNames,
        converter.convert(fmd.getSchema))
      struct.fields.toSeq.map(f => f.name -> f.dataType.catalogString)
    } finally reader.close()
  }

  /** Which schema the fence trusts for one file's footer. The embedded
    * Spark schema is trusted only while its top-level field NAMES agree
    * with the physical columns; on disagreement (a writer whose footer
    * metadata claims other columns than it wrote) the converted
    * PHYSICAL schema is compared, because physical columns are what the
    * scan reads. Types are not cross-checked: embedded and converted
    * spellings legitimately differ on conforming Spark files
    * (char/varchar, UDTs, int96 timestamps). */
  private[graft] def chooseFooterStruct(embedded: Option[StructType],
      physicalNames: Set[String], converted: => StructType): StructType =
    embedded.filter(_.fields.iterator.map(_.name).toSet == physicalNames)
      .getOrElse(converted)

  /** Shared daemon pool for the fence's footer fan-out (a ranged GET
    * each on an object store, where the fan-out matters). */
  private lazy val fencePool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(8,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-census-fence-${n.incrementAndGet()}")
          t.setDaemon(true); t
        }
      })

  /** Footer every fresh file on [[fencePool]] and apply
    * [[fenceViolation]] to each against table `t`'s schema; the first
    * drift (in path order, deterministic) throws, naming the store, the
    * file and both column sets. */
  private def fenceSchemas(sp: SparkSession, t: String, dir: String,
      fresh: Seq[String]): Unit = if (fresh.nonEmpty) {
    val pinnedTypes: Map[String, String] = sp.table(t).schema.fields.iterator
      .map(f => f.name -> f.dataType.catalogString).toMap
    val parts = sp.sessionState.catalog.getTableMetadata(
      TableIdentifier(t.stripPrefix("default."), Some("default")))
      .partitionColumnNames.toSet
    // from the refreshing session's SQLConf, the conf the table schema
    // was inferred under: a defaults-built converter would disagree
    // with it on foreign files under e.g. binaryAsString
    val converter =
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(sp.sessionState.conf)
    val (fs, _) = EventStreams.storeFs(dir)
    val checks = fresh.sorted.map(new Path(_)).map { file =>
      file -> fencePool.submit(new java.util.concurrent.Callable[Option[String]] {
        def call(): Option[String] = fenceViolation(
          fenceFooterFields(fs, file, converter), parts, parts, pinnedTypes)
      })
    }
    checks.foreach { case (file, fut) =>
      val violation =
        try fut.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
        }
      violation.foreach { why =>
        throw new IllegalStateException(
          s"store census: schema drift detected in $dir — new file " +
            s"${file.getName} $why. " +
            "Store schemas are immutable by contract (bucket layout and " +
            "columns are baked at creation); route an evolution through " +
            "a new store, or rebuild this one.")
      }
    }
  }
}
