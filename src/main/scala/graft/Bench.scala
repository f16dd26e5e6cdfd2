package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, forcing full materialization through the noop
  * sink (a bare count() would let Catalyst prune computed columns),
  * after one warmup query to absorb JVM/codegen first-run cost.
  * Prints ONE JSON line for the driver.
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
    val retryAbove = sys.env.getOrElse("SPARK_GRAFT_RETRY_SEC", "8").toDouble
    def calib(): Double = {
      val t0 = System.nanoTime()
      try { // double math — a long sum of id² overflows under ANSI
        spark.range(0L, 400000000L, 1, 32)
          .selectExpr("sum(cast(id AS double) * id)").collect()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] calibration failed: ${e.getMessage}"); -1.0
      }
    }
    // DISK probe (CPU calib's sibling): streaming gates and sink
    // round-trips are bounded by tmp-disk write throughput, which has
    // measured 3× different across VM boots while the CPU probe stayed
    // flat — a cross-round per-query diff can't tell a plan regression
    // from a slow disk unless the artifact records both. One 64 MiB
    // write+fsync, placed under spark.graft.checkpointDir when that
    // is set (reliable-checkpoint mode writes there, not tmp) and
    // java.io.tmpdir otherwise, so the probe measures the filesystem
    // the run's checkpoints actually hit.
    def diskProbe(): Double = {
      var f: java.io.File = null
      try {
        // resolve the checkpoint dir the way Checkpoints hands it to
        // setCheckpointDir: plain paths and file: URIs probe in place
        // (created if the first checkpoint hasn't yet). ANY failure to
        // land a usable local dir — a non-java.io scheme (hdfs:,
        // s3a:), an authority-bearing file:// URI that java.io.File
        // rejects, or a mkdirs that loses to a same-named plain file —
        // falls back to tmp LOUDLY, so the artifact's reader always
        // knows when the recorded number is not the checkpoint
        // filesystem's (the silent-tmp and probe-abort holes were an
        // r10 advisory finding)
        val dir = spark.conf.getOption("spark.graft.checkpointDir")
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
        f = java.io.File.createTempFile("graft_bench_disk_", ".bin", dir)
        val t0 = System.nanoTime()
        val out = new java.io.FileOutputStream(f)
        val block = new Array[Byte](1 << 20)
        try {
          var i = 0
          while (i < 64) { out.write(block); i += 1 }
          out.getFD.sync()
        } finally out.close()
        64.0 / ((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] disk probe failed: ${e.getMessage}"); -1.0
      } finally if (f != null) f.delete()
    }
    def exec(name: String): Double = {
      val t = execOnce(name)
      System.err.println(f"[bench] $name%-28s $t%8.2f s")
      t
    }

    exec("q01_pricing_summary") // warmup: JIT + codegen + FS init
    spark.catalog.listTables() // warmup: derby metastore startup (per-JVM, not per-query)
    // optional comma-separated name-prefix filter for local iteration
    // (the driver never sets it → full set)
    val only: String => Boolean = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(pfx) => val ps = pfx.split(','); n => ps.exists(n.startsWith)
      case None => _ => true
    }
    // INTERLEAVED calibration: one CPU-bound probe every `calibEvery`
    // queries (plus one before each retry block and at both ends), so
    // every timing in the artifact sits inside a bracketing pair of
    // box-health readings — a throttle window (see the comment above)
    // is then visible IN the artifact next to the queries it poisoned,
    // instead of being inferred from two endpoint probes an hour apart.
    val calibEvery = sys.env.getOrElse("SPARK_GRAFT_CALIB_EVERY", "10").toInt
    // Each calibration point records BOTH probes: CPU and disk. The
    // r9 misattribution lived in checkpoint/state-store IO that the
    // CPU probe cannot see (the box's disk weather moves 3× across
    // boots while CPU stays flat) — a drift read against a CPU-only
    // series is blind to exactly the resource the streaming gates are
    // bounded by. With io_mbps riding every point, a future
    // regression arrives with its attribution in the artifact.
    val calibs = scala.collection.mutable.ListBuffer[(String, Double, Double)]()
    def probe(at: String): Unit = {
      val c = calib()
      val io = diskProbe()
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
    // CROSS-ROUND REGRESSION FLAGS: the standing discipline — every
    // per-query mover >1.3x AND >0.3s against the prior round's
    // LIKE-FOR-LIKE artifact gets a same-boot alternating A/B before
    // it is believed — used to be applied by hand-curated lists; the
    // artifact now GENERATES the A/B worklist itself. Like-for-like
    // (VERDICT r12 item 2): the driver harness and the repo-local
    // sweeps are different environments, and the r12 driver artifact
    // diffed against a LOCAL prior grew 27 flags of pure environment
    // delta that buried the mechanism's signal. The artifact KIND
    // picks the prior series — local sweeps (tools/bench_local.sh
    // exports SPARK_GRAFT_BENCH_KIND=local) diff against the newest
    // BENCH_r*_local.json; anything else (the driver harness exports
    // no kind) diffs against the driver's own BENCH_r*.json. No
    // same-kind prior → no flags: a cross-kind diff is the noise this
    // fix removes, not a fallback. SPARK_GRAFT_PRIOR_BENCH still
    // overrides both. A flag is a to-verify marker, not a verdict:
    // this box's hour-scale weather (see the throttle comment above)
    // moves queries 1.3x with zero code cause, which is exactly why
    // flagged movers get the A/B instead of a revert.
    val kind = sys.env.getOrElse("SPARK_GRAFT_BENCH_KIND", "driver")
    // Prior selection + flag computation live in BenchPrior, a pure
    // unit with its own spec (BenchPriorSpec) — the inline version
    // produced two consecutive rounds of silent flag-coverage loss
    // (r13: slowest-20 driver prior; r14: local self-prior, where both
    // "zero-flag" windows diffed against the round's OWN committed
    // artifact). The rules it pins: only rounds strictly below the
    // current one (the driver artifact series is the round clock)
    // qualify as priors; kinds never cross; driver runs prefer the
    // round-keyed full-map sidecar (VERDICT r13 item 4 — the official
    // artifact carries only the slowest 20) and fall through corrupt /
    // sf-mismatched candidates instead of zeroing coverage.
    val repoDir = new java.io.File(System.getProperty("user.dir"))
    val repoFiles = Option(repoDir.listFiles()).toSeq.flatten.map(_.getName)
    val sfName = BenchPrior.canonicalSf(sfDir)
    val round = BenchPrior.currentRound(repoFiles)
    def readText(p: String): String = {
      val srcF = scala.io.Source.fromFile(p)
      try srcF.mkString finally srcF.close()
    }
    val note: String => Unit = m => System.err.println(s"[bench] $m")
    // WEATHER DEFENSE (VERDICT r15 item 1): the flag base is the
    // per-query MIN over the best candidate of each of the newest
    // K=3 prior rounds, not the single newest prior — a prior
    // recorded in a degraded window (r15's driver sidecar: q69 at
    // 18.40 s vs its healthy 0.52) can't raise false flags, it MASKS
    // true ones, and min-over-rounds means one bad-weather round can
    // never lower the bar. SPARK_GRAFT_PRIOR_BENCH still overrides
    // with an explicit single prior (a pool of one).
    val pool = sys.env.get("SPARK_GRAFT_PRIOR_BENCH").map(p => Seq(Seq(p)))
      .getOrElse(BenchPrior.priorPool(kind, repoFiles, sfName)
        .map(_.map(n => new java.io.File(repoDir, n).getPath)))
    val (priorPaths, priorQ) =
      BenchPrior.resolvePriorPool(pool, sfDir, readText, note)
    System.err.println(
      if (priorQ.isEmpty) s"[bench] prior ($kind kind): none — no flags"
      else s"[bench] prior ($kind kind): per-query min over " +
        s"${priorPaths.mkString(", ")} — ${priorQ.size} queries")
    val flags = BenchPrior.computeFlags(priorQ, results)
    flags.foreach { case (n, pv, v) => System.err.println(
      f"[bench] FLAG $n%-28s $pv%7.2f -> $v%7.2f s (${v / pv}%.2fx) — " +
        "same-boot A/B required before belief") }
    // second, intra-round prior (VERDICT r14 item 5; driver kind per
    // VERDICT r15 item 5): once this round has its own earlier window
    // (a promoted local artifact, or the driver sidecar a previous
    // same-round run wrote), later runs also diff against it — same
    // tree on both sides, so these flags are environment BY
    // CONSTRUCTION. Separate flag set, never mixed into the
    // cross-round series' flags; skipped when the fresh-dir fallback
    // already made the same file the cross-round prior.
    val (intraPath, intraQ) = BenchPrior.intraRoundPrior(kind, repoFiles, sfName)
      .map(n => new java.io.File(repoDir, n).getPath)
      .filterNot(priorPaths.contains)
      // like-for-like core count only: a same-round sidecar written by
      // a DIFFERENT-cpu run (the driver's scaling pass) is a machine-
      // shape diff, not "environment by construction" — refuse it
      // (BenchPrior.intraCpuCompatible; artifacts predating the cpus
      // field pass, local sweeps are constant-core)
      .filter { p =>
        val ok = try BenchPrior.intraCpuCompatible(readText(p), sfDir, cpus)
          catch { case scala.util.control.NonFatal(_) => true }
        if (!ok) note(s"intra-round prior $p records a different core " +
          s"count — skipped (cross-cpu diffs are machine shape, not weather)")
        ok
      }
      .map(p => BenchPrior.resolvePrior(Seq(p), sfDir, readText, note))
      .getOrElse(("", Map.empty[String, Double]))
    val flagsIntra = BenchPrior.computeFlags(intraQ, results)
    flagsIntra.foreach { case (n, pv, v) => System.err.println(
      f"[bench] FLAG(intra-round) $n%-28s $pv%7.2f -> $v%7.2f s " +
        f"(${v / pv}%.2fx vs this round's promoted window)") }
    // SELF-ADJUDICATING RETRY (VERDICT r16 item 4): re-run each
    // flagged query once, same boot, minutes after its pass-1 reading
    // — a retry that lands back at base is weather, adjudicated IN
    // the artifact (flags carry retry + retry_verdict) with no human
    // QBench session; only "stands" survivors need the A/B. Cost is
    // bounded by the flag count (the r16 driver window's 80 flags are
    // mostly sub-second queries); results/total stay the pass-1/2
    // readings — the retry is adjudication metadata, never a rewrite
    // of the series' numbers.
    val retryTargets = (flags.map(_._1) ++ flagsIntra.map(_._1)).distinct.sorted
    if (retryTargets.nonEmpty) probe("before-flag-retry")
    val flagRetries: Map[String, Double] = retryTargets.map { n =>
      val t = execOnce(n)
      n -> t
    }.toMap
    if (retryTargets.nonEmpty) probe("after-flag-retry")
    val retryWeather = flags.count { case (n, pv, _) =>
      flagRetries.get(n).exists(BenchPrior.retryVerdict(pv, _) == "weather") }
    (flags ++ flagsIntra).foreach { case (n, pv, _) =>
      flagRetries.get(n).foreach { rv => System.err.println(
        f"[bench] flag-retry $n%-28s $rv%8.2f s vs base $pv%.2f — " +
          BenchPrior.retryVerdict(pv, rv)) } }
    val diskMbps = Seq(diskProbe(), diskProbe()).max // page-cache warm pass
    System.err.println(f"[bench] disk probe $diskMbps%8.1f MB/s")
    val total = results.map(_._2).filter(_ >= 0).sum
    val calibStart = calibs.head._2; val calibEnd = calibs.last._2
    // Full-detail line FIRST: every query at full precision plus the
    // interleaved calibration series (repo-local sweeps capture all of
    // stdout, so nothing is lost for analysis). Rendered by the same
    // unit that parses it next round — round-trip spec-pinned.
    val fullLine = BenchPrior.renderFullLine(total, results, sfDir,
      calibStart, calibEnd, diskMbps, calibs.toSeq, flags, priorPaths,
      flagsIntra, intraPath, base = priorQ, retries = flagRetries,
      cpus = cpus)
    println(fullLine)
    // persist the full-precision line as the next round's driver-kind
    // prior — round-keyed (BENCH_full_driver_r{N}_{sf}.json, ADVICE
    // r14) so a stray same-sf run or an intra-round re-run overwrites
    // only its own round's file and the prior stays round-over-round;
    // never from a local sweep or a SPARK_GRAFT_ONLY subset run (a
    // partial map would shrink next round's flag coverage)
    if (BenchPrior.shouldWriteSidecar(kind, sys.env.get("SPARK_GRAFT_ONLY"))) {
      val fullSidecar =
        new java.io.File(repoDir, BenchPrior.sidecarName(round, sfName))
      try {
        val w = new java.io.PrintWriter(fullSidecar, "UTF-8")
        try w.println(fullLine) finally w.close()
      } catch { case e: Throwable => // the sidecar is an optimization;
        // a read-only checkout must not fail the bench
        System.err.println(s"[bench] full-map sidecar write failed: ${e.getMessage}")
      }
    }
    // Compact summary LAST: the driver keeps only the final ~2,000
    // chars of stdout, and with 125 queries the full line is ~6 KB —
    // the r2/r3 artifacts show it beheaded mid-map ("parsed": null).
    // Rendered by BenchPrior.renderCompactLine, whose greedy fit
    // BOUNDS the line under the window at any flag count (the r16
    // inline version embedded all 80 flag names, outgrew the window,
    // and the official BENCH_r16.json landed parsed:null — VERDICT
    // r16 item 1; the size law is spec-pinned in BenchPriorSpec).
    println(BenchPrior.renderCompactLine(total, results, sfDir,
      calibStart, calibEnd, diskMbps, flags, flagsIntra.size, retryWeather))
    spark.stop()
  }
}
