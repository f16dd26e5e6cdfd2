package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, forcing full materialization through the noop
  * sink (a bare count() would let Catalyst prune computed columns),
  * after one warmup query to absorb JVM/codegen first-run cost.
  * Prints two JSON lines on stdout (the full map, then the compact
  * line the driver keeps) and writes no file.
  *
  * Environment: SPARK_GRAFT_SF_DIR (the fixture dir, default sf0.1),
  * SPARK_GRAFT_ONLY (comma-separated name prefixes; a subset run
  * raises no flags), SPARK_GRAFT_PRIOR_BENCH (the one record the
  * regression flags diff against; unset → no flags), plus
  * SPARK_GRAFT_CPUS through [[Session.cpus]].
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.build(cpus, hive = true)

    def execOnce(name: String): Double = {
      val t0 = System.nanoTime()
      val elapsed =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      // query-internal caches must not leak into later queries
      // (cleanup is outside the timed region)
      spark.catalog.clearCache()
      elapsed
    }

    // This box shows episodic multi-minute windows where the whole VM
    // drops to ~2 effective cores (trivial 0.5 s queries measured at
    // 20-45 s — and 175 s once — CPU idle, no GC/spill/steal;
    // host-level throttling). A single-pass timing inside such a
    // window misreports the PLAN by 10-50×, so queries whose first
    // pass is anomalously slow are re-run in a SECOND PASS AT THE END
    // of the suite (minutes later, when the window has usually
    // passed) and the min of the real end-to-end runs is reported. A
    // fixed CPU-bound calibration probe brackets the run so the
    // artifact itself records whether the box was healthy.
    val retryAbove = 8.0
    // Every calibration point records BOTH probes (graft.Probes): the
    // r9 misattribution lived in checkpoint/state-store IO that the
    // CPU probe cannot see. The disk probe writes under
    // spark.graft.checkpointDir when that is set (reliable-checkpoint
    // mode writes there, not tmp) and java.io.tmpdir otherwise, so it
    // measures the filesystem the run's checkpoints actually hit.
    // Resolved the way Checkpoints hands it to setCheckpointDir: plain
    // paths and file: URIs probe in place (created if the first
    // checkpoint hasn't yet). ANY failure to land a usable local dir —
    // a non-java.io scheme (hdfs:, s3a:), an authority-bearing file://
    // URI that java.io.File rejects, or a mkdirs that loses to a
    // same-named plain file — falls back to tmp LOUDLY, so the
    // artifact's reader always knows when the recorded number is not
    // the checkpoint filesystem's (an r10 advisory finding).
    val diskDir: java.io.File = spark.conf.getOption("spark.graft.checkpointDir")
      .filter(_.nonEmpty).flatMap { d =>
        val local = try {
          val uri = try new java.net.URI(d) catch {
            case _: java.net.URISyntaxException => null // plain path
          }
          if (uri == null || uri.getScheme == null) Some(new java.io.File(d))
          else if (uri.getScheme == "file") Some(new java.io.File(uri))
          else None
        } catch { // e.g. file://host/p — File(uri) refuses authorities
          case _: IllegalArgumentException => None
        }
        val usable = local.map { x => x.mkdirs(); x }.filter(_.isDirectory)
        if (usable.isEmpty) System.err.println(
          s"[bench] disk probe: checkpointDir $d is not java.io-usable; probing java.io.tmpdir instead")
        usable
      }.orNull // null → createTempFile's java.io.tmpdir default
    def exec(name: String): Double = {
      val t = execOnce(name)
      System.err.println(f"[bench] $name%-28s $t%8.2f s")
      t
    }

    exec("q01_pricing_summary") // warmup: JIT + codegen + FS init
    spark.catalog.listTables() // warmup: derby metastore startup (per-JVM, not per-query)
    // optional comma-separated name-prefix filter for local iteration
    // (the driver never sets it → full set)
    val subset = sys.env.get("SPARK_GRAFT_ONLY")
    val only: String => Boolean = subset match {
      case Some(pfx) => val ps = pfx.split(','); n => ps.exists(n.startsWith)
      case None => _ => true
    }
    // INTERLEAVED calibration: one probe pair every `calibEvery`
    // queries (plus one before each retry block and at both ends), so
    // every timing in the artifact sits inside a bracketing pair of
    // box-health readings — a throttle window (see the comment above)
    // is then visible IN the artifact next to the queries it poisoned.
    val calibEvery = 10
    val calibs = scala.collection.mutable.ListBuffer[(String, Double, Double)]()
    def probe(at: String): Unit = {
      val c = Probes.cpu(spark)
      val io = Probes.disk(diskDir)
      calibs += ((at, c, io))
      System.err.println(f"[bench] calib @$at%-24s $c%8.2f s  io $io%7.1f MB/s")
    }
    probe("start")
    val names = SparkEntry.queries.keys.toSeq.filter(only).sorted
    val pass1 = names.zipWithIndex.map { case (n, i) =>
      if (i > 0 && i % calibEvery == 0) probe(s"before:$n")
      n -> exec(n)
    }
    val needRetry = pass1.filter(_._2 > retryAbove)
    if (needRetry.nonEmpty) probe("before-retry")
    val results = pass1.map { case (n, first) =>
      if (first > retryAbove) {
        val second = execOnce(n)
        val best = if (second >= 0) math.min(first, second) else first
        System.err.println(f"[bench] $n%-28s $best%8.2f s (retry pass; first $first%.2f)")
        n -> best
      } else n -> first
    }
    probe("end")
    // REGRESSION FLAGS: every per-query mover >1.3x AND >0.3s against
    // the flag base gets a same-boot retry, and survivors an A/B,
    // before it is believed. The base is the ONE record named by
    // SPARK_GRAFT_PRIOR_BENCH (tools/bench_local.sh names
    // BENCH_local.json), merged with the base that record carries
    // (BenchPrior.resolvePrior, spec'd in BenchPriorSpec), so the bar
    // is the healthiest reading any run in its chain achieved. Unset,
    // or a record taken at another sf or core count: no flags, stated.
    // A SPARK_GRAFT_ONLY subset run has no base (BenchPrior.flagBase).
    def readText(p: String): String = {
      val srcF = scala.io.Source.fromFile(p)
      try srcF.mkString finally srcF.close()
    }
    val note: String => Unit = m => System.err.println(s"[bench] $m")
    val (priorPath, priorQ) = BenchPrior.flagBase(subset, note) {
      val (p, q) = sys.env.get("SPARK_GRAFT_PRIOR_BENCH").filter(_.nonEmpty)
        .fold(("", Map.empty[String, Double]))(
          BenchPrior.resolvePrior(_, sfDir, readText, note, cpus))
      note(
        if (q.isEmpty) "prior: none — no flags"
        else s"prior: $p with its carried base — ${q.size} queries")
      (p, q)
    }
    val flags = BenchPrior.computeFlags(priorQ, results)
    flags.foreach { case (n, pv, v) => System.err.println(
      f"[bench] FLAG $n%-28s $pv%7.2f -> $v%7.2f s (${v / pv}%.2fx) — " +
        "same-boot A/B required before belief") }
    // SELF-ADJUDICATING RETRY (VERDICT r16 item 4): re-run each
    // flagged query once, same boot, minutes after its pass-1 reading
    // — a retry that lands back at base is weather, adjudicated IN
    // the artifact (flags carry retry + retry_verdict) with no human
    // QBench session; only "stands" survivors need the A/B. Cost is
    // bounded by the flag count (the r16 driver window's 80 flags are
    // mostly sub-second queries); results/total stay the pass-1/2
    // readings — the retry is adjudication metadata, never a rewrite
    // of the series' numbers.
    if (flags.nonEmpty) probe("before-flag-retry")
    val flagRetries: Map[String, Double] =
      flags.map { case (n, _, _) => n -> execOnce(n) }.toMap
    if (flags.nonEmpty) probe("after-flag-retry")
    val retryWeather = flags.count { case (n, pv, _) =>
      BenchPrior.retryVerdict(pv, flagRetries(n)) == "weather" }
    flags.foreach { case (n, pv, _) => System.err.println(
      f"[bench] flag-retry $n%-28s ${flagRetries(n)}%8.2f s vs base $pv%.2f — " +
        BenchPrior.retryVerdict(pv, flagRetries(n))) }
    val diskMbps = Seq(Probes.disk(diskDir), Probes.disk(diskDir)).max // page-cache warm pass
    System.err.println(f"[bench] disk probe $diskMbps%8.1f MB/s")
    val total = results.map(_._2).filter(_ >= 0).sum
    val calibStart = calibs.head._2; val calibEnd = calibs.last._2
    // Full-detail line FIRST: every query at full precision plus the
    // interleaved calibration series (repo-local sweeps capture all of
    // stdout, so nothing is lost for analysis). Rendered by the same
    // unit that parses it when a later run names it as its prior —
    // round-trip spec-pinned.
    println(BenchPrior.renderFullLine(total, results, sfDir,
      calibStart, calibEnd, diskMbps, calibs.toSeq, flags, priorPath,
      base = priorQ, retries = flagRetries, cpus = cpus))
    // Compact summary LAST: the driver keeps only the final ~2,000
    // chars of stdout, and with 125 queries the full line is ~6 KB —
    // the r2/r3 artifacts show it beheaded mid-map ("parsed": null).
    // Rendered by BenchPrior.renderCompactLine, whose greedy fit
    // BOUNDS the line under the window at any flag count (the r16
    // inline version embedded all 80 flag names, outgrew the window,
    // and the official BENCH_r16.json landed parsed:null — VERDICT
    // r16 item 1; the size law is spec-pinned in BenchPriorSpec).
    println(BenchPrior.renderCompactLine(total, results, sfDir,
      calibStart, calibEnd, diskMbps, flags, retryWeather, cpus))
    spark.stop()
  }
}
