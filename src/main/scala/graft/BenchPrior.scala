package graft

/** Pure flag-base and regression-flag logic for [[Bench]], a
  * directly testable unit spec'd in BenchPriorSpec. The flag base is
  * ONE record, the one `SPARK_GRAFT_PRIOR_BENCH` names (none when
  * unset, so no flags), merged with the `base` it carries. A record
  * carries its own context (`sf`, `cpus`, and the merged `base` its
  * run flagged against), so nothing here depends on where a record
  * sits in a file series.
  *
  * Nothing here touches the filesystem: callers pass a `readText`
  * thunk, so the spec drives every branch with in-memory fixtures.
  */
object BenchPrior {

  /** Canonical scale-factor identity: the basename ("sf0.1"), so
    * relative/absolute/trailing-slash spellings of the same sf dir
    * compare equal (an exact-string compare once parsed a record to 0
    * queries on a respelled path and silently dropped flag coverage
    * to zero). */
  def canonicalSf(s: String): String = {
    val t = s.replace('\\', '/').reverse.dropWhile(_ == '/').reverse
    t.substring(t.lastIndexOf('/') + 1)
  }

  /** The node every accessor reads: covers both record shapes — raw
    * stdout sweeps carry one JSON per line (full-precision line +
    * compact slowest-20 line — the biggest query map wins); a driver
    * artifact is ONE pretty-printed object whose query map sits under
    * "parsed". Only sf-matching nodes qualify — by canonical identity
    * ([[canonicalSf]]), so an absolute sfDir matches a record that
    * wrote a relative spelling of the same scale factor, while a
    * genuinely different sf (a sf0.01 dev sweep vs sf0.1) still
    * filters out. ONE selection for queries, base and cpus: each must
    * come from the same node whose readings it annotates, never a
    * different line's. */
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

  /** Parse a record's text into its query→seconds map (see
    * [[bestNode]] for shape and sf rules). */
  def parsePriorQueries(text: String, sfDir: String): Map[String, Double] =
    bestNode(text, sfDir).map(n => nodeToMap(n.get("queries")))
      .getOrElse(Map.empty[String, Double])

  /** Parse a record's flag BASE — the merged per-query base its run
    * flagged against, written by [[renderFullLine]]. Older records
    * carry no "base" → empty map (the carry starts from the record's
    * readings). Read from the SAME node [[parsePriorQueries]]
    * selects. */
  def parsePriorBase(text: String, sfDir: String): Map[String, Double] =
    bestNode(text, sfDir)
      .flatMap(n => Option(n.get("base")).filter(_.isObject))
      .map(nodeToMap).getOrElse(Map.empty[String, Double])

  /** The flag base: the record at `path` merged per query with the
    * `base` it carries, by the MIN of positive readings. Returns
    * (path, merged map), or ("", empty) with one note when the record
    * is unreadable, has no non-empty sf-matching query map, or was
    * recorded at another core count — never a silent zero-coverage
    * base.
    *
    * Why min: a record taken in a degraded window (q69 at 18.40 s vs
    * its healthy 0.52) cannot produce false flags — it MASKS true
    * ones, the worse direction for a regression gate. Failed runs
    * (negative seconds) never participate, so a query that failed once
    * but ran healthily elsewhere still flags against the healthy
    * reading.
    *
    * Why one record is enough (BASE CARRY): each run RECORDS the
    * merged base it flagged against (the `"base"` map
    * [[renderFullLine]] writes), so base_N = min(readings_{N−1},
    * base_{N−1}) holds, transitively, the healthiest reading every
    * earlier run achieved; the bar stays monotone across any streak
    * of bad weather, and a record that is the run's own earlier,
    * regressed reading still carries the healthy bar it flagged
    * against. The deliberate trade: a slowdown ACCEPTED on purpose
    * keeps flagging until a later record resets the chain — a flag is
    * a to-verify marker, never a verdict.
    *
    * Core count: a record whose `cpus` differs from this run's (both
    * known) is machine shape, not weather — stated, and it yields no
    * base (no flags, and the carry restarts from this run's readings).
    */
  def resolvePrior(path: String, sfDir: String,
      readText: String => String,
      note: String => Unit = _ => (),
      cpus: Int = 0): (String, Map[String, Double]) = {
    val none = ("", Map.empty[String, Double])
    val node =
      try {
        val n = bestNode(readText(path), sfDir).filter(_.get("queries").size() > 0)
        if (n.isEmpty) note(s"prior $path has no sf-matching query map — no flags")
        n
      } catch {
        case scala.util.control.NonFatal(e) =>
          note(s"prior $path unreadable: ${e.getMessage} — no flags")
          None
      }
    node.fold(none) { n =>
      Option(n.get("cpus")).filter(_.isInt).map(_.asInt())
        .filter(c => cpus > 0 && c != cpus) match {
        case Some(c) =>
          note(s"prior $path was recorded at $c cpus, this run at $cpus " +
            "— no flags (a cross-core-count diff is machine shape)")
          none
        case None =>
          val base = Option(n.get("base")).filter(_.isObject).map(nodeToMap)
          (path, (nodeToMap(n.get("queries")).toSeq ++ base.toSeq.flatten)
            .groupMap(_._1)(_._2).map { case (q, vs) =>
              q -> vs.filter(_ > 0).minOption.getOrElse(-1.0) })
      }
    }
  }

  /** This run's flag base ([[resolvePrior]]'s result, by-name): none
    * for a SPARK_GRAFT_ONLY subset run — so no flags and no flag
    * retries — with one note saying why. A cold subset diffed against
    * a base taken deep inside a warm full suite flags warm-up, not
    * regressions. */
  def flagBase(subset: Option[String], note: String => Unit)(
      resolve: => (String, Map[String, Double])): (String, Map[String, Double]) =
    if (subset.isEmpty) resolve
    else {
      note(s"subset run (SPARK_GRAFT_ONLY=${subset.getOrElse("")}): no " +
        "flags, no flag retries — a cold subset is not comparable with " +
        "a warm full-suite base")
      ("", Map.empty)
    }

  /** JSON string literal with full escaping (ADVICE r15): query names
    * are SparkEntry keys and prior paths are POSIX paths today, but a
    * parse failure in a record silently zeroes the flag coverage of
    * every run that names it — the exact failure class this unit exists to close —
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
    * into the line would fail the whole record's parse). */
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
    * unknown, omitted): [[resolvePrior]] refuses a record taken at
    * another count. */
  private def cpusField(cpus: Int): String =
    if (cpus > 0) s""""cpus":$cpus,""" else ""

  /** Render the full-precision line — the EXACT shape
    * [[parsePriorQueries]] consumes when a later run names this line's
    * record as its prior. Writer and parser
    * live in this one unit so they cannot drift apart silently; the
    * round-trip law (render → parse recovers every query at full
    * precision, for the matching sf and only the matching sf) is
    * property-swept in BenchPriorSpec, including hostile names and
    * non-finite values. `priorPath` is the record the flag base merged
    * ([[resolvePrior]]), "" for none. */
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
    // diffs — what resolvePrior's base carry mins back in when a later
    // run names this record, making the bar monotone across
    // persistent bad weather
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
    * line, so nothing is lost — only the compact
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
