package graft

import org.scalatest.funsuite.AnyFunSuite

/** Direct tests on [[BenchPrior]] — the flag-base and flag logic
  * that decides what the whole perf discipline can see. Each
  * historical failure is asserted red here: restoring the exact-string
  * sf compare fails the canonical-sf tests; dropping the carried base
  * fails the carry and weather-defense tests (a degraded or
  * self-regressed record would mask a real regression).
  */
class BenchPriorSpec extends AnyFunSuite {

  test("canonicalSf: absolute, relative, and trailing-slash spellings collapse to the basename") {
    for (s <- Seq("/root/testdata/sf0.1", "sf0.1", "/root/testdata/sf0.1/",
        "testdata/sf0.1", "/root/testdata/sf0.1//"))
      assert(BenchPrior.canonicalSf(s) == "sf0.1", s"for input '$s'")
    assert(BenchPrior.canonicalSf("/root/testdata/sf0.01") == "sf0.01")
  }

  test("parsePriorQueries: biggest sf-matching map wins across line and whole-object shapes") {
    val text =
      """{"metric":"total","queries":{"q1":1.0,"q2":2.0,"q3":3.0},"sf":"/root/testdata/sf0.1"}
        |{"metric":"total","queries":{"q1":1.000},"sf":"/root/testdata/sf0.1"}
        |""".stripMargin
    val m = BenchPrior.parsePriorQueries(text, "/root/testdata/sf0.1")
    assert(m == Map("q1" -> 1.0, "q2" -> 2.0, "q3" -> 3.0))
  }

  test("parsePriorQueries: sf matched canonically — respelled path still parses (the ADVICE hole)") {
    val text = """{"queries":{"q1":1.5},"sf":"/root/testdata/sf0.1"}"""
    // pre-r15 this exact-string compare parsed 0 queries and flag
    // coverage silently dropped to zero
    assert(BenchPrior.parsePriorQueries(text, "sf0.1") == Map("q1" -> 1.5))
    assert(BenchPrior.parsePriorQueries(text, "/root/testdata/sf0.1/") ==
      Map("q1" -> 1.5))
    // …while a genuinely different sf still filters out
    assert(BenchPrior.parsePriorQueries(text, "/root/testdata/sf0.01").isEmpty)
  }

  test("parsePriorQueries: driver artifact shape (query map under \"parsed\")") {
    val text =
      """{ "round": 14,
        |  "parsed": {"metric":"total","queries":{"q7":4.2},"sf":"/root/testdata/sf0.1"} }
        |""".stripMargin
    assert(BenchPrior.parsePriorQueries(text, "sf0.1") == Map("q7" -> 4.2))
  }

  test("resolvePrior: corrupt and sf-mismatched candidates degrade to the next, loudly") {
    // the flag base is one named record, so "the next" is no base: a
    // missing, corrupt, sf-mismatched or empty record gives nothing and
    // one note naming it, while a good record still resolves
    val texts = Map(
      "corrupt.json" -> "not json at all {{{",
      "wrong_sf.json" -> """{"queries":{"q1":9.9},"sf":"sf0.01"}""",
      "empty.json" -> """{"queries":{},"sf":"sf0.1"}""",
      "good.json" -> """{"queries":{"q1":1.0,"q2":2.0},"sf":"sf0.1"}""")
    val reader: String => String =
      p => texts.getOrElse(p, throw new java.io.FileNotFoundException(p))
    for (p <- Seq("missing.json", "corrupt.json", "wrong_sf.json", "empty.json")) {
      val notes = scala.collection.mutable.ListBuffer[String]()
      val (path, m) = BenchPrior.resolvePrior(p, "/root/testdata/sf0.1",
        reader, notes += _)
      assert(path == "" && m.isEmpty, p)
      // silence was the failure: a named record that yields nothing
      // says so, naming the file
      assert(notes.size == 1 && notes.head.contains(p), notes.mkString("; "))
    }
    val notes = scala.collection.mutable.ListBuffer[String]()
    val (path, m) = BenchPrior.resolvePrior("good.json", "/root/testdata/sf0.1",
      reader, notes += _)
    assert(path == "good.json" && m == Map("q1" -> 1.0, "q2" -> 2.0))
    assert(notes.isEmpty, notes.mkString("; "))
  }

  test("resolvePrior: all candidates bad → no prior, no flags, stated") {
    val notes = scala.collection.mutable.ListBuffer[String]()
    val (path, m) = BenchPrior.resolvePrior("a", "sf0.1", _ => "garbage", notes += _)
    assert(path == "" && m.isEmpty)
    assert(BenchPrior.computeFlags(m, Seq("q1" -> 100.0)).isEmpty)
    assert(notes.size == 1 && notes.head.contains("a"), notes.mkString("; "))
  }

  test("flagBase: a subset run gets no base, so no flags and no flag retries, and one note; a full run resolves its prior") {
    val prior = Map("q01" -> 1.0, "mr07" -> 0.9)
    val results = Seq("q01" -> 2.0, "mr07" -> 1.25)
    val notes = scala.collection.mutable.ListBuffer[String]()
    val (p, base) = BenchPrior.flagBase(Some("q0,mr"), notes += _)(
      fail("a subset run must not resolve a prior"))
    assert(p == "" && base.isEmpty)
    assert(BenchPrior.computeFlags(base, results).isEmpty)
    assert(notes.size == 1 && notes.head.contains("SPARK_GRAFT_ONLY=q0,mr"),
      notes.mkString("; "))
    notes.clear()
    val (fp, fbase) = BenchPrior.flagBase(None, notes += _)(("prior.json", prior))
    assert(fp == "prior.json" && fbase == prior && notes.isEmpty)
    assert(BenchPrior.computeFlags(fbase, results).map(_._1) == Seq("q01", "mr07"))
  }

  test("round-trip law: renderFullLine → parsePriorQueries recovers every query at full precision (seeded sweep)") {
    // writer and parser live in the same unit; this law is what keeps
    // them from drifting apart silently — the failure mode behind the
    // r13/r14 coverage losses was always the parser seeing something
    // other than what the writer meant
    val rnd = new scala.util.Random(41)
    val words = Vector("q", "agg", "join", "dedup", "ann", "stream", "text")
    (1 to 200).foreach { _ =>
      val n = 1 + rnd.nextInt(40)
      val queries = (0 until n).map { i =>
        val name = s"${words(rnd.nextInt(words.size))}${i}_${words(rnd.nextInt(words.size))}"
        // full double precision, negatives (failed runs) included —
        // they must survive the round trip too
        val v = if (rnd.nextInt(20) == 0) -1.0
                else rnd.nextDouble() * math.pow(10, rnd.nextInt(3))
        name -> v
      }
      val sfDir = Seq("/root/testdata/sf0.1", "sf0.1", "testdata/sf0.1/")(rnd.nextInt(3))
      val calibs = Seq(("start", 0.35, 420.0), ("end", 0.4, 380.0))
      val flags = if (rnd.nextBoolean()) Seq(("q1", 1.0, 1.5)) else Nil
      val line = BenchPrior.renderFullLine(
        queries.map(_._2).filter(_ >= 0).sum, queries, sfDir,
        0.35, 0.4, 450.0, calibs, flags, "/p/prior.json")
      // any same-sf spelling recovers the exact map…
      assert(BenchPrior.parsePriorQueries(line, "/root/testdata/sf0.1") ==
        queries.toMap, s"round-trip failed for sfDir=$sfDir")
      // …and a different sf recovers nothing
      assert(BenchPrior.parsePriorQueries(line, "sf0.01").isEmpty)
    }
  }

  test("weather defense: a degraded newest prior must not mask a regression the healthy round-before would flag — VERDICT r15 item 1") {
    // the exact r15→r16 shape: the named record was taken in a
    // degraded window (q69 at 18.40 s; its healthy reading the run
    // before was 0.52 s). This run regresses q69 to 2.0 s — a real
    // 3.8× regression vs healthy that reads as a 9× "improvement" vs
    // the degraded record. The degraded run recorded the base it
    // flagged against, which holds the healthy reading.
    val texts = Map("r15.json" ->
      """{"queries":{"q69":18.40,"q01":0.9},"sf":"sf0.1","base":{"q69":0.52,"q01":0.95}}""")
    val (path, merged) = BenchPrior.resolvePrior("r15.json", "sf0.1", texts(_))
    assert(path == "r15.json")
    // the merged base is the per-query min: the healthiest reading
    assert(merged("q69") == 0.52 && merged("q01") == 0.9)
    val flags = BenchPrior.computeFlags(merged, Seq("q69" -> 2.0, "q01" -> 1.0))
    assert(flags == Seq(("q69", 0.52, 2.0)),
      "the regression must flag against the healthy carried base")
    // the mutation, red: the record's readings alone mask it
    val stripped = Map("r15.json" ->
      """{"queries":{"q69":18.40,"q01":0.9},"sf":"sf0.1"}""")
    val (_, readingsOnly) = BenchPrior.resolvePrior("r15.json", "sf0.1", stripped(_))
    assert(BenchPrior.computeFlags(readingsOnly, Seq("q69" -> 2.0)).isEmpty,
      "this is the masking failure the carried base exists to close")
  }

  test("weather defense: a failed prior run never participates in the min") {
    val texts = Map(
      "a.json" -> """{"queries":{"q1":-1.0},"sf":"sf0.1","base":{"q1":0.5}}""",
      "b.json" -> """{"queries":{"q1":-1.0},"sf":"sf0.1"}""")
    val (_, merged) = BenchPrior.resolvePrior("a.json", "sf0.1", texts(_))
    // min(-1, 0.5) = -1 would disable flagging for q1 entirely
    assert(merged("q1") == 0.5)
    // …and a query that failed everywhere stays unflaggable
    val (_, allFailed) = BenchPrior.resolvePrior("b.json", "sf0.1", texts(_))
    assert(allFailed("q1") == -1.0)
    assert(BenchPrior.computeFlags(allFailed, Seq("q1" -> 100.0)).isEmpty)
  }

  test("resolvePrior laws: the base is the named record merged with its carried base — union of keys, per-key min of positives, failed runs never in the min (seeded sweep)") {
    val rnd = new scala.util.Random(163)
    def randomMap(): Map[String, Double] =
      (0 until rnd.nextInt(6)).map { i =>
        s"q$i" -> (if (rnd.nextInt(4) == 0) -1.0 else rnd.nextDouble() * 10)
      }.toMap
    def json(m: Map[String, Double]) =
      m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    (1 to 200).foreach { _ =>
      // a random record: a reading map and a carried base (negatives =
      // failed runs); some corrupt entirely, some with no query at all
      val (readings, base) = (randomMap(), randomMap())
      val corrupt = rnd.nextInt(5) == 0
      val text =
        if (corrupt) "corrupt {{{"
        else s"""{"queries":${json(readings)},"sf":"sf0.1","base":${json(base)}}"""
      val (path, merged) = BenchPrior.resolvePrior("r.json", "sf0.1", _ => text)
      // a record resolves when it parses to a non-empty map
      val resolves = !corrupt && readings.nonEmpty
      assert(path == (if (resolves) "r.json" else ""))
      // law 1: keys are exactly the union of the record's readings and
      // its carried base
      assert(merged.keySet == (if (resolves) readings.keySet ++ base.keySet
        else Set.empty[String]))
      // law 2: each value is the min of the positives for that key —
      // a failed run never drags the base down; all-failed stays
      // unflaggable (-1)
      merged.foreach { case (k, v) =>
        val vs = (readings.get(k) ++ base.get(k)).filter(_ > 0)
        assert(v == (if (vs.nonEmpty) vs.min else -1.0), s"key $k")
      }
    }
  }

  test("resolvePrior: a record and its carried base equal the three-run min the base was once taken over (seeded sweep)") {
    // a three-run chain as the runs themselves write it: each run
    // renders its readings with the base it resolved from the record
    // before, so the newest record carries min(all earlier runs)
    val rnd = new scala.util.Random(977)
    val names = (0 until 8).map(i => s"q$i")
    (1 to 100).foreach { _ =>
      def readings() = names.filter(_ => rnd.nextInt(5) > 0).map { n =>
        n -> (if (rnd.nextInt(6) == 0) -1.0 else 0.1 + rnd.nextDouble() * 5)
      }
      val runs = Seq.fill(3)(readings()).filter(_.nonEmpty)
      val texts = scala.collection.mutable.Map[String, String]()
      runs.zipWithIndex.foreach { case (qs, i) =>
        val base = if (i == 0) Map.empty[String, Double]
          else BenchPrior.resolvePrior(s"r${i - 1}.json", "sf0.1", texts(_))._2
        texts(s"r$i.json") = BenchPrior.renderFullLine(1.0, qs, "sf0.1",
          0.3, 0.3, 400.0, Nil, Nil, "", base = base)
      }
      if (runs.nonEmpty) {
        val (_, one) = BenchPrior.resolvePrior(s"r${runs.size - 1}.json",
          "sf0.1", texts(_))
        val threeRunMin = runs.flatten.groupMap(_._1)(_._2).map {
          case (q, vs) => q -> vs.filter(_ > 0).minOption.getOrElse(-1.0) }
        assert(one == threeRunMin)
      }
    }
  }

  test("renderFullLine: hostile names and non-finite values still render valid JSON (ADVICE r15)") {
    val hostile = Seq(
      """q_with_"quote""" -> 1.5,
      "q_with_\\backslash" -> Double.NaN,
      "q_with_\ncontrol" -> Double.PositiveInfinity,
      "q_plain" -> 2.0)
    val line = BenchPrior.renderFullLine(Double.NaN, hostile,
      "/tmp/sf dir/\"x\"", Double.NegativeInfinity, 0.4, Double.NaN,
      Seq(("at\"weird", Double.NaN, 1.0)),
      Seq(("f\"lag", 0.0, 1.0)), "/p/pr\"ior.json")
    // must be ONE parseable JSON object — a parse failure here would
    // silently zero the coverage of every run that names this record
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(line)
    assert(node.get("queries").size() == 4)
    // non-finite values render as the failed-run sentinel
    assert(node.get("queries").get("q_with_\\backslash").asDouble() == -1.0)
    assert(node.get("value").asDouble() == -1.0)
    // escaped names round-trip exactly through the real parser
    val m = BenchPrior.parsePriorQueries(line, "/tmp/sf dir/\"x\"")
    assert(m("""q_with_"quote""") == 1.5 && m("q_plain") == 2.0)
    // a zero-prior flag renders ratio as the sentinel, not Infinity
    assert(node.get("flags").get(0).get("ratio").asDouble() == -1.0)
  }

  test("cpus: the prior's recorded core count must match this run's — a mismatch is stated and yields no base and no flags; legacy artifacts pass") {
    // the full line records its core count
    val line = BenchPrior.renderFullLine(1.0, Seq("q1" -> 1.0), "sf0.1",
      0.35, 0.4, 450.0, Nil, Nil, "", base = Map("q1" -> 0.5), cpus = 32)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(om.readTree(line).get("cpus").asInt() == 32)
    val texts = Map("r19.json" -> line,
      "legacy.json" -> """{"queries":{"q1":0.2},"sf":"sf0.1"}""")
    // same core count: the record and its carried base
    assert(BenchPrior.resolvePrior("r19.json", "sf0.1", texts(_), cpus = 32) ==
      ("r19.json", Map("q1" -> 0.5)))
    // a 4-cpu run against a 32-cpu record: no base, no flags, a note
    // naming both counts
    val notes = scala.collection.mutable.ListBuffer[String]()
    val (p, m) = BenchPrior.resolvePrior("r19.json", "sf0.1", texts(_), notes += _, cpus = 4)
    assert(p == "" && m.isEmpty)
    assert(BenchPrior.computeFlags(m, Seq("q1" -> 100.0)).isEmpty)
    assert(notes.size == 1 && notes.head.contains("32") && notes.head.contains("4"),
      notes.mkString("; "))
    // legacy records (no cpus field) and an unknown run count pass
    assert(BenchPrior.resolvePrior("legacy.json", "sf0.1", texts(_), cpus = 4) ==
      ("legacy.json", Map("q1" -> 0.2)))
    assert(BenchPrior.resolvePrior("r19.json", "sf0.1", texts(_))._1 == "r19.json")
    // cpus must ride the sf-selected node, like every other accessor
    assert(BenchPrior.resolvePrior("r19.json", "sf0.01", texts(_), cpus = 4)._1 == "")
  }

  test("parsePriorBase: read from the same node parsePriorQueries selects; pre-r17 artifacts carry none") {
    val withBase =
      """{"queries":{"q1":5.0},"sf":"sf0.1","base":{"q1":0.5,"q2":0.7}}"""
    assert(BenchPrior.parsePriorBase(withBase, "sf0.1") ==
      Map("q1" -> 0.5, "q2" -> 0.7))
    // pre-r17 shape (no base field) → empty, the carry starts fresh
    assert(BenchPrior.parsePriorBase(
      """{"queries":{"q1":5.0},"sf":"sf0.1"}""", "sf0.1").isEmpty)
    // sf mismatch filters the whole node out, base included
    assert(BenchPrior.parsePriorBase(withBase, "sf0.01").isEmpty)
    // the base must ride the SELECTED node: the bigger query map wins,
    // so the smaller line's base must not leak in
    val twoLines =
      """{"queries":{"q1":1.0},"sf":"sf0.1","base":{"q9":9.9}}
        |{"queries":{"q1":1.0,"q2":2.0},"sf":"sf0.1","base":{"q1":0.4}}
        |""".stripMargin
    assert(BenchPrior.parsePriorBase(twoLines, "sf0.1") == Map("q1" -> 0.4))
  }

  test("base carry: three consecutive degraded rounds still flag against the rotated-out healthy reading — VERDICT r16 item 3") {
    // the decay scenario: r14 was the last healthy window (q1 at
    // 0.5 s); r15–r17 all ran degraded (q1 at ~5 s). The named record
    // is r17, three runs past r14. Without the carry the bar inflates
    // to a degraded reading and a real regression to 2.0 sails
    // through; WITH it, each degraded run recorded the merged base it
    // flagged against (0.5, transitively from r14), and the min folds
    // it back in.
    def record(reading: Double, base: String) =
      s"""{"queries":{"q1":$reading},"sf":"sf0.1","base":$base}"""
    val texts = Map(
      "r17.json" -> record(5.2, """{"q1":0.5}"""),
      // the r14 defect's shape: the record is this run's OWN earlier,
      // regressed reading (a re-run naming what the first pass wrote);
      // that pass flagged q1 against 0.5 and recorded it, so the
      // re-run still flags
      "self.json" -> record(2.0, """{"q1":0.5}"""))
    for (name <- texts.keys) {
      val (_, merged) = BenchPrior.resolvePrior(name, "sf0.1", texts(_))
      assert(merged("q1") == 0.5,
        s"$name: the carried base must survive the healthy run rotating out; got $merged")
      assert(BenchPrior.computeFlags(merged, Seq("q1" -> 2.0)) ==
        Seq(("q1", 0.5, 2.0)), name)
      // the mutation, red: strip the carried base (the pre-r17 shape)
      // and the bar quietly inflates to the record's own reading
      val stripped = texts(name).replaceAll(""","base":.*}$""", "}")
      val (_, decayed) = BenchPrior.resolvePrior(name, "sf0.1", _ => stripped)
      assert(decayed("q1") >= 2.0 &&
        BenchPrior.computeFlags(decayed, Seq("q1" -> 2.0)).isEmpty,
        s"$name: this is the masking failure the carry exists to close")
    }
    // a failed-run sentinel in a carried base never participates
    val withNeg = record(5.2, """{"q1":-1.0,"q3":0.2}""")
    val (_, m2) = BenchPrior.resolvePrior("r17.json", "sf0.1", _ => withNeg)
    assert(m2("q1") == 5.2 && m2("q3") == 0.2)
  }

  test("renderCompactLine size law: bounded under the driver's tail window at the worst case — every query flagged, real names (VERDICT r16 item 1)") {
    // the r16 failure: 80 flag names inline grew the line to ~2.6 KB
    // against the driver's 2000-char stdout tail, and the committed
    // official BENCH_r16.json landed parsed:null. The law: at the
    // absolute worst case — all 207 real queries flagged, a four-digit
    // core count — the line still fits, with n_flags carrying the true
    // count.
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size >= 200, "worst case must be the real query set")
    val results = names.map(_ -> 12.345678)
    val flags = names.map(n => (n, 0.301, 12.345678))
    val line = BenchPrior.renderCompactLine(2556.0, results,
      "/root/testdata/sf0.1", 0.35, 0.41, 450.0, flags,
      nRetryWeather = 207, cpus = 1024)
    assert(line.length <= 1900, s"line is ${line.length} chars")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(line)
    assert(node.get("n_flags").asInt() == names.size,
      "the true flag count must survive the elision")
    assert(node.get("queries").size() == 20, "the slowest-20 map is the driver's parsed view")
    assert(node.get("flags").size() < names.size && node.get("flags").size() > 0)
    assert(node.get("flags_note").asText().startsWith("first "))
    assert(node.get("n_flags_retry_weather").asInt() == 207)
    assert(node.get("cpus").asInt() == 1024)
    // …and a healthy window elides nothing
    val smallLine = BenchPrior.renderCompactLine(253.6, results,
      "/root/testdata/sf0.1", 0.35, 0.41, 450.0, flags.take(7),
      nRetryWeather = 7, cpus = 4)
    val smallNode = om.readTree(smallLine)
    assert(smallNode.get("flags").size() == 7 &&
      smallNode.get("flags_note").asText() == "all" &&
      smallNode.get("cpus").asInt() == 4)
    assert(smallLine.length <= 1900)
  }

  test("renderCompactLine: non-finite numerics render as the sentinel, never NaN/Infinity (ADVICE r16)") {
    // the compact line's numbers went through raw %f interpolation
    // pre-r17 — one NaN total would have broken the official
    // artifact's parse, the exact failure class jstr/jnum closed for
    // the full line
    val line = BenchPrior.renderCompactLine(Double.NaN,
      Seq("q1" -> Double.PositiveInfinity, "q2" -> 1.0), "sf0.1",
      Double.NegativeInfinity, Double.NaN, Double.NaN,
      Seq(("q1", 0.5, 2.0)), nRetryWeather = 0)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(line) // must parse at all
    assert(node.get("value").asDouble() == -1.0)
    assert(node.get("calib").get("start").asDouble() == -1.0)
    assert(node.get("calib").get("disk_mbps").asDouble() == -1.0)
    assert(node.get("queries").get("q1").asDouble() == -1.0)
  }

  test("retryVerdict and retry-annotated flags: weather lands at base, stands crosses both bars, failed adjudicates nothing — VERDICT r16 item 4") {
    assert(BenchPrior.retryVerdict(1.0, 1.1) == "weather") // back at base
    assert(BenchPrior.retryVerdict(0.2, 0.45) == "weather") // 2.25× but +0.25 s — under the abs bar, computeFlags wouldn't flag either
    assert(BenchPrior.retryVerdict(1.0, 2.0) == "stands")
    assert(BenchPrior.retryVerdict(1.0, -1.0) == "failed")
    val js = BenchPrior.flagsToJson(
      Seq(("qa", 1.0, 2.0), ("qb", 1.0, 2.0), ("qc", 1.0, 2.0)),
      retries = Map("qa" -> 1.05, "qb" -> 1.9))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = om.readTree(js)
    assert(arr.get(0).get("retry").asDouble() == 1.05 &&
      arr.get(0).get("retry_verdict").asText() == "weather")
    assert(arr.get(1).get("retry_verdict").asText() == "stands")
    assert(!arr.get(2).has("retry"), "no retry reading → no retry fields")
  }

  test("renderFullLine writes the base and retries; parsePriorBase recovers the base through the real parser") {
    val line = BenchPrior.renderFullLine(10.0,
      Seq("q1" -> 5.0, "q2" -> 1.0), "sf0.1", 0.3, 0.4, 400.0,
      Seq(("start", 0.3, 400.0)), Seq(("q1", 0.5, 5.0)), "/p/prior",
      base = Map("q1" -> 0.5, "q2" -> 0.9),
      retries = Map("q1" -> 0.52))
    assert(BenchPrior.parsePriorBase(line, "sf0.1") ==
      Map("q1" -> 0.5, "q2" -> 0.9))
    assert(BenchPrior.parsePriorQueries(line, "sf0.1") ==
      Map("q1" -> 5.0, "q2" -> 1.0))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val flag = om.readTree(line).get("flags").get(0)
    assert(flag.get("retry").asDouble() == 0.52 &&
      flag.get("retry_verdict").asText() == "weather")
    // the carry, end-to-end: a later run naming THIS line's record as
    // its prior must min the recorded base into its own flag base
    val (_, merged) = BenchPrior.resolvePrior("me.json", "sf0.1", _ => line)
    assert(merged == Map("q1" -> 0.5, "q2" -> 0.9))
  }

  test("computeFlags: both bars required; failed runs on either side never flag") {
    val prior = Map("ratio_only" -> 0.2, "abs_only" -> 10.0,
      "both" -> 1.0, "prior_failed" -> -1.0, "now_failed" -> 1.0)
    val now = Seq(
      "ratio_only" -> 0.45, // 2.25× but +0.25 s — under the abs bar
      "abs_only" -> 11.0, // +1.0 s but 1.1× — under the ratio bar
      "both" -> 1.5, // 1.5× and +0.5 s — flagged
      "prior_failed" -> 5.0, // prior run failed — never flag
      "now_failed" -> -1.0, // this run failed — bench reports n_failed
      "new_query" -> 9.0) // no prior entry — nothing to compare
    assert(BenchPrior.computeFlags(prior, now) ==
      Seq(("both", 1.0, 1.5)))
  }
}
