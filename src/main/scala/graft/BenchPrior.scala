package graft

/** Pure prior-selection and regression-flag logic for [[Bench]],
  * extracted into a directly-testable unit (VERDICT r14 item 3): the
  * inline version produced two consecutive rounds of silent
  * flag-coverage loss — r13's driver runs diffed against a slowest-20
  * artifact, and r14's local sweeps diffed against the round's OWN
  * committed artifact once it existed (both r14 "zero-flag healthy
  * windows" recorded `flags_prior = BENCH_r14_local.json`, i.e.
  * themselves; against the true r13 prior they carried 16 and 1
  * flags). This logic decides what the whole perf discipline can see,
  * so every rule here is spec-pinned in BenchPriorSpec, with the
  * mutations that reproduce both historical failures asserted red.
  *
  * Nothing here touches the filesystem: callers pass file NAMES (a
  * directory listing) and a `readText` thunk, so the spec drives every
  * branch with in-memory fixtures.
  */
object BenchPrior {

  /** `BENCH_r{N}.json` — the driver-harness artifact series, one per
    * round, committed at round end. This series is the repo's ROUND
    * CLOCK: during round N the newest committed driver artifact is
    * N-1 (locals can run ahead mid-round; driver artifacts cannot). */
  private val DriverArtifact = "BENCH_r(\\d+)\\.json".r

  /** `BENCH_r{N}_local.json` — the repo-local sweep series
    * (tools/bench_local.sh), promoted by hand once per round. */
  private val LocalArtifact = "BENCH_r(\\d+)_local\\.json".r

  /** `BENCH_full_driver_r{N}_{sf}.json` — the full-precision 207-query
    * sidecar a driver-kind run persists (the official BENCH_r*.json
    * "parsed" carries only the slowest 20 — VERDICT r13 item 4).
    * Round-keyed since r15 (ADVICE r14): a stray same-sf manual run or
    * a re-run within a round overwrites only its OWN round's file, so
    * the prior stays round-over-round. */
  private val Sidecar = "BENCH_full_driver_r(\\d+)_(.+)\\.json".r

  /** Canonical scale-factor identity: the basename ("sf0.1"), so
    * relative/absolute/trailing-slash spellings of the same sf dir
    * compare equal (ADVICE r14 — an exact-string compare parsed the
    * sidecar to 0 queries on a respelled path and silently dropped
    * flag coverage to zero). */
  def canonicalSf(s: String): String = {
    val t = s.replace('\\', '/').reverse.dropWhile(_ == '/').reverse
    t.substring(t.lastIndexOf('/') + 1)
  }

  /** The round currently being built: one past the newest committed
    * driver artifact. No driver artifacts → round 1 (no prior exists
    * either way). */
  def currentRound(fileNames: Seq[String]): Int =
    fileNames.collect { case DriverArtifact(n) => n.toInt }
      .maxOption.getOrElse(0) + 1

  /** Prior-artifact candidates for the regression flags, GROUPED BY
    * PRIOR ROUND, newest round first; each inner list is best-first
    * within its round.
    *
    * SELF-PRIOR EXCLUSION (the r14 defect): only rounds STRICTLY BELOW
    * [[currentRound]] qualify. Once a round's own artifact is
    * committed mid-round, a bare newest-first pick resolves the prior
    * to the file the run promotes into, and regressions vs last round
    * go unflagged — exactly what happened to both r14 local windows.
    *
    * Kind routing (VERDICT r12 item 2): local sweeps diff only against
    * the local series; driver runs prefer the round-keyed full-map
    * sidecar over the slowest-20 artifact WITHIN a round, and rounds
    * stay ordered first — so a missing round-16 sidecar degrades to
    * BENCH_r16.json's slowest 20, never silently to a stale r14
    * sidecar. The r14-era UNKEYED sidecar name is deliberately NOT
    * read: it carries no round, so a stale binary could write the
    * current round's own map into it and re-open the self-prior hole
    * through that slot. A cross-kind diff is environment noise, never
    * a fallback. [[resolvePriorPool]] walks the groups. */
  def priorPool(kind: String, fileNames: Seq[String],
      sfName: String): Seq[Seq[String]] = {
    val cur = currentRound(fileNames)
    if (kind == "local")
      fileNames.collect { case f @ LocalArtifact(n) => (n.toInt, f) }
        .filter(_._1 < cur).sortBy(-_._1).map(t => Seq(t._2))
    else {
      // rank within a round: sidecar (full map) before artifact
      val ranked =
        fileNames.collect {
          case f @ Sidecar(n, sf) if sf == sfName => (n.toInt, 0, f)
        } ++
        fileNames.collect { case f @ DriverArtifact(n) => (n.toInt, 1, f) }
      ranked.filter(_._1 < cur).groupBy(_._1).toSeq.sortBy(-_._1)
        .map(_._2.sortBy(_._2).map(_._3))
    }
  }

  /** The node both parse accessors read: covers both artifact shapes —
    * raw stdout sweeps carry one JSON per line (full-precision line +
    * compact slowest-20 line — the biggest query map wins); the
    * driver's artifact is ONE pretty-printed object whose query map
    * sits under "parsed". Only sf-matching nodes qualify — by
    * canonical identity ([[canonicalSf]]), so an absolute sfDir
    * matches a sidecar that recorded a relative spelling of the same
    * scale factor, while a genuinely different sf (a sf0.01 dev sweep
    * vs the sf0.1 series) still filters out. ONE selection for
    * queries AND base: the base must come from the same node whose
    * readings it annotates, never a different line's. */
  private def bestNode(text: String, sfDir: String)
      : Option[com.fasterxml.jackson.databind.JsonNode] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val want = canonicalSf(sfDir)
    val lineNodes = text.linesIterator.map(_.trim)
      .filter(_.startsWith("{"))
      .flatMap(l => scala.util.Try(om.readTree(l)).toOption)
      .toList
    val wholeNodes = scala.util.Try(om.readTree(text)).toOption
      .toList.flatMap(n => n :: Option(n.get("parsed")).toList)
    (lineNodes ++ wholeNodes)
      .filter(n => n.has("queries") && n.get("queries").isObject &&
        (!n.has("sf") || canonicalSf(n.get("sf").asText()) == want))
      .sortBy(-_.get("queries").size()).headOption
  }

  private def nodeToMap(node: com.fasterxml.jackson.databind.JsonNode)
      : Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    node.properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble()).toMap
  }

  /** Parse a prior artifact's text into its query→seconds map (see
    * [[bestNode]] for shape and sf rules). */
  def parsePriorQueries(text: String, sfDir: String): Map[String, Double] =
    bestNode(text, sfDir).map(n => nodeToMap(n.get("queries")))
      .getOrElse(Map.empty[String, Double])

  /** Parse a prior artifact's recorded flag BASE — the merged
    * per-query base the prior run itself flagged against, written by
    * [[renderFullLine]] since r17. Pre-r17 artifacts carry no "base"
    * → empty map (the carry starts from this round's readings).
    * Read from the SAME node [[parsePriorQueries]] selects. */
  def parsePriorBase(text: String, sfDir: String): Map[String, Double] =
    bestNode(text, sfDir)
      .flatMap(n => Option(n.get("base")).filter(_.isObject))
      .map(nodeToMap).getOrElse(Map.empty[String, Double])

  /** Walk the candidate list (paths, best first) and return the first
    * that parses to a NON-EMPTY sf-matching query map, with (path,
    * map); corrupt or empty candidates degrade to the next with a loud
    * note instead of silently zeroing flag coverage (ADVICE r14 — the
    * pre-r15 code took exactly one candidate and ate its failure).
    * All-bad → ("", empty): no prior, no flags, stated. */
  def resolvePrior(candidates: Seq[String], sfDir: String,
      readText: String => String,
      note: String => Unit = _ => ()): (String, Map[String, Double]) =
    candidates.iterator.map { p =>
      val m =
        try {
          val parsed = parsePriorQueries(readText(p), sfDir)
          if (parsed.isEmpty) note(
            s"prior candidate has no sf-matching query map ($p) — trying next")
          parsed
        } catch {
          case scala.util.control.NonFatal(e) =>
            note(s"prior candidate unreadable ($p): ${e.getMessage}")
            Map.empty[String, Double]
        }
      (p, m)
    }.find(_._2.nonEmpty).getOrElse(("", Map.empty[String, Double]))

  /** The flag base: the NEWEST prior round that resolves
    * ([[resolvePrior]] within its group; a round whose every candidate
    * is corrupt or sf-mismatched falls through to the next older
    * round, ADVICE r16), merged per query with that artifact's own
    * carried `base` map by the MIN of positive readings.
    *
    * Why min (VERDICT r15 item 1): a prior recorded in a degraded
    * window (r15's driver sidecar: q69 at 18.40 s vs its healthy 0.52)
    * cannot produce false flags — it MASKS true ones, the worse
    * direction for a regression gate. Failed runs (negative seconds)
    * never participate, so a query that failed once but ran healthily
    * elsewhere still flags against the healthy reading.
    *
    * Why one prior is enough (BASE CARRY, VERDICT r16 item 3): each
    * run RECORDS the merged base it flagged against (the `"base"` map
    * [[renderFullLine]] writes), so base_N = min(readings_{N−1},
    * base_{N−1}) holds, transitively, the healthiest reading every
    * earlier round achieved; the bar stays monotone across any streak
    * of bad weather. The deliberate trade: a slowdown ACCEPTED on
    * purpose keeps flagging until a later prior records it — a flag
    * is a to-verify marker, never a verdict.
    *
    * Core count: a prior that records a `cpus` other than this run's
    * (both known) is machine shape, not weather — stated, and it
    * yields no base (no flags, and the carry restarts from this run's
    * readings). Older rounds are not tried instead: they predate the
    * field and cannot prove their core count.
    *
    * Returns (path merged, merged map); ("", empty) when nothing
    * resolves or the core count differs. */
  def resolvePriorPool(pool: Seq[Seq[String]], sfDir: String,
      readText: String => String,
      note: String => Unit = _ => (),
      cpus: Int = 0): (String, Map[String, Double]) =
    pool.iterator.map(g => resolvePrior(g, sfDir, readText, note))
      .find(_._2.nonEmpty) match {
      case None => ("", Map.empty)
      case Some((p, readings)) =>
        // readText already succeeded for p inside resolvePrior, but a
        // re-read can still race a deletion; the carried base is an
        // extra defense layer, so its failure degrades to none
        val text = try readText(p)
          catch { case scala.util.control.NonFatal(_) => "" }
        val priorCpus = bestNode(text, sfDir).flatMap(n => Option(n.get("cpus")))
          .filter(_.isInt).map(_.asInt())
        priorCpus.filter(c => cpus > 0 && c != cpus) match {
          case Some(c) =>
            note(s"prior $p was recorded at $c cpus, this run at $cpus " +
              "— no flags (a cross-core-count diff is machine shape)")
            ("", Map.empty)
          case None =>
            val base = parsePriorBase(text, sfDir)
            (p, Seq(readings, base).flatten.groupMap(_._1)(_._2)
              .map { case (q, vs) =>
                q -> vs.filter(_ > 0).minOption.getOrElse(-1.0) })
        }
    }

  /** Whether this run's full-map line may be persisted as a future
    * round's sidecar prior: never a local-kind sweep (wrong series),
    * never a SPARK_GRAFT_ONLY subset run (a partial map would shrink
    * the next round's flag coverage to the subset). */
  def shouldWriteSidecar(kind: String, subset: Option[String]): Boolean =
    kind != "local" && fullRun(subset)

  /** This run's flag base ([[resolvePriorPool]]'s result, by-name):
    * none for a SPARK_GRAFT_ONLY subset run — so no flags and no flag
    * retries — with one note saying why. A cold subset diffed against
    * a base taken deep inside a warm full suite flags warm-up, not
    * regressions. */
  def flagBase(subset: Option[String], note: String => Unit)(
      resolve: => (String, Map[String, Double])): (String, Map[String, Double]) =
    if (fullRun(subset)) resolve
    else {
      note(s"subset run (SPARK_GRAFT_ONLY=${subset.getOrElse("")}): no " +
        "flags, no flag retries — a cold subset is not comparable with " +
        "a warm full-suite base")
      ("", Map.empty)
    }

  /** No SPARK_GRAFT_ONLY subset: the one predicate behind both the
    * sidecar write and the flags. */
  private def fullRun(subset: Option[String]): Boolean = subset.isEmpty

  /** The round-keyed sidecar filename this run writes (and the next
    * round's [[priorPool]] will prefer). */
  def sidecarName(round: Int, sfName: String): String =
    s"BENCH_full_driver_r${round}_$sfName.json"

  /** JSON string literal with full escaping (ADVICE r15): query names
    * are SparkEntry keys and prior paths are POSIX paths today, but a
    * parse failure in this artifact silently zeroes NEXT round's flag
    * coverage — the exact failure class this unit exists to close —
    * so the renderer must not depend on those invariants holding
    * forever. */
  private[graft] def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** JSON number rendering: doubles go via toString (round-trips
    * exactly), but NaN/Infinity are not JSON — they render as -1, the
    * artifact's standing failed-run sentinel, which [[computeFlags]]
    * already never flags against (ADVICE r15: a non-finite leaking
    * into the line would fail the whole parse next round). */
  private[graft] def jnum(d: Double): String =
    if (java.lang.Double.isFinite(d)) d.toString else "-1.0"

  /** [[jnum]]'s fixed-precision sibling for the compact summary line
    * (ADVICE r16: its numerics rendered via raw %f interpolation, so
    * one non-finite total would have broken the official artifact's
    * JSON — the exact parse-failure class jstr/jnum were added to
    * close). Locale pinned to ROOT: a comma decimal separator is the
    * same parse failure by another road. */
  private[graft] def jnumF(d: Double, dp: Int): String =
    if (java.lang.Double.isFinite(d))
      String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(d))
    else "-1.0"

  /** Self-adjudication verdict for a flagged query's same-boot retry
    * (VERDICT r16 item 4): a retry that would NOT itself flag against
    * the same base is "weather" — the box moved, not the code — and
    * needs no human A/B session; a retry that still crosses both flag
    * bars "stands" (a real mover, or a window long enough to poison
    * both passes); a failed retry adjudicates nothing. Same two bars
    * as [[computeFlags]], deliberately: one flag rule per artifact. */
  def retryVerdict(prior: Double, retry: Double, ratio: Double = 1.3,
      absSec: Double = 0.3): String =
    if (retry < 0) "failed"
    else if (prior > 0 && retry > prior * ratio && retry - prior > absSec)
      "stands"
    else "weather"

  /** Render a flag list as the artifact's JSON array; flags with a
    * same-boot retry reading carry it plus its [[retryVerdict]]. */
  def flagsToJson(fs: Seq[(String, Double, Double)],
      retries: Map[String, Double] = Map.empty): String =
    fs.map { case (n, pv, v) =>
      val ratio = if (pv != 0 && java.lang.Double.isFinite(v / pv))
        f"${v / pv}%.2f" else "-1.0"
      val retry = retries.get(n).fold("") { rv =>
        s""","retry":${jnum(rv)},"retry_verdict":${jstr(retryVerdict(pv, rv))}"""
      }
      s"""{"q":${jstr(n)},"prior":${jnum(pv)},"now":${jnum(v)},""" +
        s""""ratio":$ratio$retry}""" }
      .mkString("[", ",", "]")

  /** The core count the readings were produced at, for both lines (0 =
    * unknown, omitted): [[resolvePriorPool]] refuses a prior recorded
    * at another count. */
  private def cpusField(cpus: Int): String =
    if (cpus > 0) s""""cpus":$cpus,""" else ""

  /** Render the full-precision artifact line — the EXACT shape
    * [[parsePriorQueries]] consumes next round. Writer and parser
    * live in this one unit so they cannot drift apart silently; the
    * round-trip law (render → parse recovers every query at full
    * precision, for the matching sf and only the matching sf) is
    * property-swept in BenchPriorSpec, including hostile names and
    * non-finite values. `priorPath` is the prior the flag base merged
    * ([[resolvePriorPool]]), "" for none. */
  def renderFullLine(total: Double, queries: Seq[(String, Double)],
      sfDir: String, calibStart: Double, calibEnd: Double,
      diskMbps: Double, calibs: Seq[(String, Double, Double)],
      flags: Seq[(String, Double, Double)], priorPath: String,
      base: Map[String, Double] = Map.empty,
      retries: Map[String, Double] = Map.empty,
      cpus: Int = 0): String = {
    val qs = queries.map { case (k, v) => jstr(k) + ":" + jnum(v) }
      .mkString("{", ",", "}")
    val calibArr = calibs.map { case (at, c, io) =>
      s"""{"at":${jstr(at)},"sec":${jnum(c)},"io_mbps":${jnum(io)}}""" }
      .mkString("[", ",", "]")
    val priorArr = Seq(priorPath).filter(_.nonEmpty).map(jstr)
      .mkString("[", ",", "]")
    // the merged base this run flagged against, sorted for stable
    // diffs — what resolvePriorPool's base carry mins back in next
    // round, making the bar monotone across persistent bad weather
    val baseObj = base.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + jnum(v) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${jnum(total)},"unit":"sec",${cpusField(cpus)}"queries":$qs,""" +
      s""""sf":${jstr(sfDir)},"calib":{"start":${jnum(calibStart)},""" +
      s""""end":${jnum(calibEnd)},"disk_mbps":${jnum(diskMbps)}},""" +
      s""""calibs":$calibArr,""" +
      s""""flags":${flagsToJson(flags, retries)},"flags_prior":$priorArr,""" +
      s""""base":$baseObj}"""
  }

  /** Render the compact summary line — the LAST stdout line, the one
    * the driver's ~2000-char tail window must hold WHOLE for the
    * official BENCH_r{N}.json to carry data. The r16 lesson (VERDICT
    * r16 item 1): the old inline renderer embedded EVERY flag name,
    * and an 80-flag soft window grew the line to ~2.6 KB — the tail
    * held a truncated fragment and the committed official artifact
    * landed `parsed: null`. The min base raises MORE
    * flags on soft windows by design (55–111 measured in one r16
    * afternoon), so the line must be bounded STRUCTURALLY, not by
    * hoping flag counts stay small.
    *
    * The size law, spec-pinned in BenchPriorSpec: the rendered line
    * never exceeds `budget` chars (1900 — window minus margin for the
    * trailing newline), enforced by GREEDY FIT in priority order —
    * headline scaffolding always; then the slowest-20 query map; then
    * flag names while they fit. `n_flags` always carries the TRUE
    * count and `flags_note` says what was elided; the full flag set
    * with priors/ratios/retries lives on the full-precision first
    * line and in the sidecar, so nothing is lost — only the compact
    * VIEW narrows. All numerics render via [[jnum]]/[[jnumF]]
    * (ADVICE r16: one non-finite through raw %f breaks the whole
    * artifact's parse). */
  def renderCompactLine(total: Double, results: Seq[(String, Double)],
      sfDir: String, calibStart: Double, calibEnd: Double,
      diskMbps: Double, flags: Seq[(String, Double, Double)],
      nRetryWeather: Int, cpus: Int = 0,
      budget: Int = 1900): String = {
    val nFailed = results.count(_._2 < 0)
    val slowAll = results.filter(_._2 >= 0).sortBy(-_._2).take(20)
      .map { case (k, v) => jstr(k) + ":" + jnumF(v, 3) }
    val flagNames = flags.map(f => jstr(f._1))
    def line(nq: Int, nf: Int): String = {
      val qNote = s"slowest $nq of ${results.size}; full map on the first metric line"
      val fNote =
        if (nf == flags.size) "all"
        else s"first $nf of ${flags.size}; full set with priors/ratios/retries on the first metric line"
      s"""{"metric":"total","value":${jnumF(total, 3)},"unit":"sec",${cpusField(cpus)}""" +
        s""""n_queries":${results.size},"n_failed":$nFailed,""" +
        s""""queries":${slowAll.take(nq).mkString("{", ",", "}")},""" +
        s""""queries_note":${jstr(qNote)},"sf":${jstr(sfDir)},""" +
        s""""calib":{"start":${jnum(calibStart)},"end":${jnum(calibEnd)},""" +
        s""""disk_mbps":${jnumF(diskMbps, 1)}},""" +
        s""""n_flags":${flags.size},"flags":${flagNames.take(nf).mkString("[", ",", "]")},""" +
        s""""flags_note":${jstr(fNote)},""" +
        s""""n_flags_retry_weather":$nRetryWeather}"""
    }
    // greedy fit: all flags first, shedding flag names before query
    // entries (the slowest-20 map is what the driver's parsed view
    // shows; flag DETAIL already lives elsewhere)
    val candidates =
      (flagNames.size to 0 by -1).iterator.map(nf => line(slowAll.size, nf)) ++
        (slowAll.size - 1 to 0 by -1).iterator.map(nq => line(nq, 0))
    candidates.find(_.length <= budget).getOrElse(line(0, 0))
  }

  /** The standing flag rule: a mover is flagged when it reads >1.3×
    * AND >0.3 s over the prior — both bars, so sub-second jitter on
    * tiny queries and small drift on huge ones both stay quiet.
    * Failed runs (negative seconds) on either side never flag. A flag
    * is a to-verify marker for a same-boot A/B, not a verdict. */
  def computeFlags(prior: Map[String, Double],
      results: Seq[(String, Double)], ratio: Double = 1.3,
      absSec: Double = 0.3): Seq[(String, Double, Double)] =
    results.flatMap { case (n, v) =>
      prior.get(n)
        .filter(pv => pv > 0 && v > 0 && v > pv * ratio && v - pv > absSec)
        .map(pv => (n, pv, v))
    }
}
