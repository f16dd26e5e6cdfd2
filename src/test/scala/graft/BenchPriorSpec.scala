package graft

import org.scalatest.funsuite.AnyFunSuite

/** Direct tests on [[BenchPrior]] — the prior-selection and flag
  * logic that decides what the whole perf discipline can see. The
  * inline predecessor produced two consecutive rounds of silent
  * coverage loss (r13: driver runs diffed against a slowest-20
  * artifact; r14: local sweeps diffed against the round's OWN
  * committed artifact), so each historical failure is asserted red
  * here: restoring the bare newest-first pick (dropping the
  * strictly-below-current-round filter) fails the self-prior tests;
  * restoring the take-one-candidate parse fails the fall-through
  * tests; restoring the exact-string sf compare fails the
  * canonical-sf tests.
  */
class BenchPriorSpec extends AnyFunSuite {

  // a repo listing mid-round-15: driver artifacts through r14 (the
  // round clock), local artifacts through r15 (the round's own,
  // already promoted), both sidecar generations
  private val midRound15 = Seq(
    "BENCH_r13.json", "BENCH_r14.json",
    "BENCH_r13_local.json", "BENCH_r14_local.json", "BENCH_r15_local.json",
    "BENCH_full_driver_r14_sf0.1.json", "BENCH_full_driver_r15_sf0.1.json",
    "BENCH_full_driver_r14_sf0.01.json",
    "CORRECTNESS_r14.json", "SURVEY.md", "src")

  test("currentRound: one past the newest driver artifact; locals and sidecars are not the clock") {
    assert(BenchPrior.currentRound(midRound15) == 15)
    assert(BenchPrior.currentRound(Seq("BENCH_r3.json", "BENCH_r14.json")) == 15)
    // locals running ahead must not advance the clock
    assert(BenchPrior.currentRound(
      Seq("BENCH_r14.json", "BENCH_r15_local.json",
        "BENCH_full_driver_r15_sf0.1.json")) == 15)
    assert(BenchPrior.currentRound(Seq("SURVEY.md")) == 1)
    assert(BenchPrior.currentRound(Nil) == 1)
  }

  test("local kind: self-prior excluded — the r14 defect") {
    // during round 15, with the round's own BENCH_r15_local.json
    // already committed, the prior must be r14_local, never r15_local
    val c = BenchPrior.priorPool("local", midRound15, "sf0.1").flatten
    assert(c == Seq("BENCH_r14_local.json", "BENCH_r13_local.json"),
      s"a bare newest-first pick would put BENCH_r15_local.json (self) first; got $c")
  }

  test("local kind: only the local series, never driver artifacts or sidecars") {
    val c = BenchPrior.priorPool("local",
      Seq("BENCH_r14.json", "BENCH_full_driver_r14_sf0.1.json"), "sf0.1")
    assert(c.isEmpty, s"cross-kind priors are noise, not a fallback; got $c")
  }

  test("driver kind: round-keyed sidecar preferred, self-round excluded, sf filtered, artifact fallback ordered") {
    val c = BenchPrior.priorPool("driver", midRound15, "sf0.1").flatten
    assert(c == Seq(
      "BENCH_full_driver_r14_sf0.1.json", // newest prior-round sidecar, right sf
      "BENCH_r14.json", "BENCH_r13.json"), // slowest-20 artifacts, newest first
      s"got $c")
    assert(!c.contains("BENCH_full_driver_r15_sf0.1.json"),
      "the current round's own sidecar (a re-run or stray same-sf run) must never be the prior")
    assert(!c.contains("BENCH_full_driver_r14_sf0.01.json"),
      "another scale factor's sidecar must never be the prior")
  }

  test("priorPool: candidates grouped by prior round, newest first; one group per round, the sidecar ahead of its round's artifact") {
    val pool = BenchPrior.priorPool("driver", midRound15, "sf0.1")
    assert(pool == Seq(
      Seq("BENCH_full_driver_r14_sf0.1.json", "BENCH_r14.json"),
      Seq("BENCH_r13.json")), s"got $pool")
    // local kind: one candidate per round
    assert(BenchPrior.priorPool("local", midRound15, "sf0.1") ==
      Seq(Seq("BENCH_r14_local.json"), Seq("BENCH_r13_local.json")))
  }

  test("driver kind: candidates ordered by round first — a missing newest sidecar degrades to that round's artifact, never to an older sidecar") {
    // independent-review finding on the first r15 cut: ranking ALL
    // sidecars ahead of ALL artifacts made a missing r16 sidecar fall
    // back to a three-round-stale r14 sidecar instead of r16's own
    // slowest-20 artifact
    val files = Seq("BENCH_r13.json", "BENCH_r14.json", "BENCH_r16.json",
      "BENCH_full_driver_r14_sf0.1.json") // r16 sidecar never written
    val c = BenchPrior.priorPool("driver", files, "sf0.1").flatten
    assert(c == Seq("BENCH_r16.json", // round beats sidecar-ness…
      "BENCH_full_driver_r14_sf0.1.json", "BENCH_r14.json", // …within a round the full map wins
      "BENCH_r13.json"), s"got $c")
  }

  test("driver kind: the legacy unkeyed sidecar name is never read (it carries no round, so it could self-prior)") {
    val files = Seq("BENCH_r14.json", "BENCH_full_driver_sf0.1.json")
    assert(BenchPrior.priorPool("driver", files, "sf0.1") ==
      Seq(Seq("BENCH_r14.json")))
  }

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
    val texts = Map(
      "corrupt.json" -> "not json at all {{{",
      "wrong_sf.json" -> """{"queries":{"q1":9.9},"sf":"sf0.01"}""",
      "good.json" -> """{"queries":{"q1":1.0,"q2":2.0},"sf":"sf0.1"}""")
    val notes = scala.collection.mutable.ListBuffer[String]()
    val reader: String => String =
      p => texts.getOrElse(p, throw new java.io.FileNotFoundException(p))
    val (path, m) = BenchPrior.resolvePrior(
      Seq("missing.json", "corrupt.json", "wrong_sf.json", "good.json"),
      "/root/testdata/sf0.1", reader, notes += _)
    assert(path == "good.json" && m == Map("q1" -> 1.0, "q2" -> 2.0))
    // every skipped candidate is noted (missing→unreadable,
    // corrupt→no map, wrong sf→no map); silence was the pre-r15 bug
    assert(notes.size == 3, notes.mkString("; "))
    assert(notes.exists(_.contains("missing.json")))
    assert(notes.exists(_.contains("wrong_sf.json")))
  }

  test("resolvePrior: all candidates bad → no prior, no flags, stated") {
    val (path, m) = BenchPrior.resolvePrior(
      Seq("a", "b"), "sf0.1", _ => "garbage", _ => ())
    assert(path == "" && m.isEmpty)
    assert(BenchPrior.computeFlags(m, Seq("q1" -> 100.0)).isEmpty)
  }

  test("shouldWriteSidecar: never local kind, never a subset run") {
    assert(BenchPrior.shouldWriteSidecar("driver", None))
    assert(!BenchPrior.shouldWriteSidecar("local", None))
    assert(!BenchPrior.shouldWriteSidecar("driver", Some("st2")))
    assert(!BenchPrior.shouldWriteSidecar("local", Some("st2")))
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

  test("sidecarName is round-keyed and sf-keyed") {
    assert(BenchPrior.sidecarName(15, "sf0.1") ==
      "BENCH_full_driver_r15_sf0.1.json")
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
    // the exact r15→r16 shape: the newest prior round's sidecar was
    // recorded in a degraded window (q69 at 18.40 s; its healthy r14
    // reading was 0.52 s). This run regresses q69 to 2.0 s — a real
    // 3.8× regression vs healthy that reads as a 9× "improvement" vs
    // the degraded prior. The r15 run recorded the base it flagged
    // against, which holds r14's healthy reading.
    val texts = Map(
      "BENCH_full_driver_r15_sf0.1.json" ->
        """{"queries":{"q69":18.40,"q01":0.9},"sf":"sf0.1","base":{"q69":0.52,"q01":0.95}}""",
      "BENCH_full_driver_r14_sf0.1.json" ->
        """{"queries":{"q69":0.52,"q01":0.95},"sf":"sf0.1"}""")
    val files = texts.keys.toSeq ++ Seq("BENCH_r14.json", "BENCH_r15.json")
    val pool = BenchPrior.priorPool("driver", files, "sf0.1")
    val (path, merged) = BenchPrior.resolvePriorPool(pool, "sf0.1", texts(_))
    assert(path == "BENCH_full_driver_r15_sf0.1.json")
    // the merged base is the per-query min: the healthiest reading
    assert(merged("q69") == 0.52 && merged("q01") == 0.9)
    val flags = BenchPrior.computeFlags(merged, Seq("q69" -> 2.0, "q01" -> 1.0))
    assert(flags == Seq(("q69", 0.52, 2.0)),
      "the regression must flag against the healthy carried base")
    // the r15-era mutation, red: the newest readings alone mask it
    val stripped = texts.updated("BENCH_full_driver_r15_sf0.1.json",
      """{"queries":{"q69":18.40,"q01":0.9},"sf":"sf0.1"}""")
    val (_, newestOnly) = BenchPrior.resolvePriorPool(pool, "sf0.1", stripped(_))
    assert(BenchPrior.computeFlags(newestOnly, Seq("q69" -> 2.0)).isEmpty,
      "this is the masking failure the carried base exists to close")
  }

  test("weather defense: a failed prior run never participates in the min") {
    val texts = Map(
      "a.json" -> """{"queries":{"q1":-1.0},"sf":"sf0.1","base":{"q1":0.5}}""",
      "b.json" -> """{"queries":{"q1":-1.0},"sf":"sf0.1"}""")
    val (_, merged) = BenchPrior.resolvePriorPool(Seq(Seq("a.json")), "sf0.1", texts(_))
    // min(-1, 0.5) = -1 would disable flagging for q1 entirely
    assert(merged("q1") == 0.5)
    // …and a query that failed everywhere stays unflaggable
    val (_, allFailed) = BenchPrior.resolvePriorPool(
      Seq(Seq("b.json")), "sf0.1", texts(_))
    assert(allFailed("q1") == -1.0)
    assert(BenchPrior.computeFlags(allFailed, Seq("q1" -> 100.0)).isEmpty)
  }

  test("resolvePriorPool laws: the base is the newest resolving prior merged with its carried base — union of keys, per-key min of positives, failed runs never in the min, older rounds never read (seeded sweep)") {
    val rnd = new scala.util.Random(163)
    def randomMap(): Map[String, Double] =
      (0 until rnd.nextInt(6)).map { i =>
        s"q$i" -> (if (rnd.nextInt(4) == 0) -1.0 else rnd.nextDouble() * 10)
      }.toMap
    def json(m: Map[String, Double]) =
      m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    (1 to 200).foreach { _ =>
      // random pool: up to 4 round groups, each one candidate with a
      // random reading map and carried base (negatives = failed runs);
      // some corrupt entirely, some with no query at all
      val nGroups = 1 + rnd.nextInt(4)
      val texts = scala.collection.mutable.Map[String, String]()
      val fixtures = (0 until nGroups).map { g =>
        val name = s"r$g.json"
        val (qs, base) = (randomMap(), randomMap())
        texts(name) =
          if (rnd.nextInt(5) == 0) "corrupt {{{"
          else s"""{"queries":${json(qs)},"sf":"sf0.1","base":${json(base)}}"""
        (name, qs, base)
      }
      val pool = fixtures.map(f => Seq(f._1))
      val (path, merged) = BenchPrior.resolvePriorPool(pool, "sf0.1", texts(_))
      // the prior is the first group that parses to a non-empty map
      val first = fixtures.find { case (n, qs, _) =>
        !texts(n).startsWith("corrupt") && qs.nonEmpty }
      assert(path == first.fold("")(_._1))
      val (readings, base) = first.fold(
        (Map.empty[String, Double], Map.empty[String, Double]))(f => (f._2, f._3))
      // law 1: keys are exactly the union of the prior's readings and
      // its carried base
      assert(merged.keySet == (if (readings.isEmpty) Set.empty[String]
        else readings.keySet ++ base.keySet))
      // law 2: each value is the min of the positives for that key —
      // a failed run never drags the base down; all-failed stays
      // unflaggable (-1)
      merged.foreach { case (k, v) =>
        val vs = (readings.get(k) ++ base.get(k)).filter(_ > 0)
        assert(v == (if (vs.nonEmpty) vs.min else -1.0), s"key $k")
      }
      // law 3: rounds older than the resolved one are never read —
      // appending more of them changes nothing
      val (p2, m2) = BenchPrior.resolvePriorPool(
        pool :+ Seq("older.json"), "sf0.1",
        texts.toMap.updated("older.json", """{"queries":{"q0":0.001},"sf":"sf0.1"}"""))
      if (first.nonEmpty) assert(p2 == path && m2 == merged)
    }
  }

  test("resolvePriorPool: the newest prior and its carried base equal the three-round min the base was once taken over (seeded sweep)") {
    // a three-round chain as the runs themselves write it: each round
    // renders its readings with the base it resolved from the round
    // before, so the newest artifact carries min(all earlier rounds)
    val rnd = new scala.util.Random(977)
    val names = (0 until 8).map(i => s"q$i")
    (1 to 100).foreach { _ =>
      def readings() = names.filter(_ => rnd.nextInt(5) > 0).map { n =>
        n -> (if (rnd.nextInt(6) == 0) -1.0 else 0.1 + rnd.nextDouble() * 5)
      }
      val rounds = Seq.fill(3)(readings()).filter(_.nonEmpty)
      val texts = scala.collection.mutable.Map[String, String]()
      rounds.zipWithIndex.foreach { case (qs, i) =>
        val (_, base) = BenchPrior.resolvePriorPool(
          if (i == 0) Nil else Seq(Seq(s"r${i - 1}.json")), "sf0.1", texts(_))
        texts(s"r$i.json") = BenchPrior.renderFullLine(1.0, qs, "sf0.1",
          0.3, 0.3, 400.0, Nil, Nil, "", base = base)
      }
      val newest = Seq(Seq(s"r${rounds.size - 1}.json"))
      val (_, one) = BenchPrior.resolvePriorPool(newest, "sf0.1", texts(_))
      val threeRoundMin = rounds.flatten.groupMap(_._1)(_._2).map {
        case (q, vs) => q -> vs.filter(_ > 0).minOption.getOrElse(-1.0) }
      assert(one == threeRoundMin)
    }
  }

  test("resolvePriorPool: corrupt candidates degrade within their round, older rounds stay unread; an all-bad pool is no prior") {
    val texts = Map(
      "r16_sidecar" -> "garbage {{{",
      "r16_artifact" -> """{"parsed":{"queries":{"q1":3.0},"sf":"sf0.1"}}""",
      "r15_sidecar" -> """{"queries":{"q1":1.0,"q2":2.0},"sf":"sf0.1"}""")
    // the corrupt r16 sidecar falls through to r16's artifact WITHIN
    // the round group; older rounds stay unread
    assert(BenchPrior.resolvePriorPool(
      Seq(Seq("r16_sidecar", "r16_artifact"), Seq("r15_sidecar")),
      "sf0.1", texts(_)) == ("r16_artifact", Map("q1" -> 3.0)))
    val (p2, m2) = BenchPrior.resolvePriorPool(
      Seq(Seq("x")), "sf0.1", _ => "garbage")
    assert(p2 == "" && m2.isEmpty)
  }

  test("resolvePriorPool: a round resolving to nothing falls through to the next older round, never to no base (ADVICE r16)") {
    val texts = Map(
      "r16.json" -> "corrupt {{{",
      "r15.json" -> """{"queries":{},"sf":"sf0.1"}""",
      "r14.json" -> """{"queries":{"q1":2.0},"sf":"sf0.1"}""",
      "r13.json" -> """{"queries":{"q1":1.0},"sf":"sf0.1"}""")
    val pool = Seq("r16.json", "r15.json", "r14.json", "r13.json").map(Seq(_))
    // a corrupt round and an empty one both fall through; the first
    // round that resolves is the prior, and the rounds past it stay unread
    assert(BenchPrior.resolvePriorPool(pool, "sf0.1", texts(_)) ==
      ("r14.json", Map("q1" -> 2.0)))
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
    // silently zero next round's flag coverage
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
      "r18.json" -> """{"queries":{"q1":0.1},"sf":"sf0.1"}""",
      "legacy.json" -> """{"queries":{"q1":0.2},"sf":"sf0.1"}""")
    val pool = Seq(Seq("r19.json"), Seq("r18.json"))
    // same core count: the prior and its carried base
    assert(BenchPrior.resolvePriorPool(pool, "sf0.1", texts(_), cpus = 32) ==
      ("r19.json", Map("q1" -> 0.5)))
    // a 4-cpu run against a 32-cpu prior: no base, no flags, a note
    // naming both counts — and no fall-through to r18, which predates
    // the field and cannot prove its core count
    val notes = scala.collection.mutable.ListBuffer[String]()
    val (p, m) = BenchPrior.resolvePriorPool(pool, "sf0.1", texts(_), notes += _, cpus = 4)
    assert(p == "" && m.isEmpty)
    assert(BenchPrior.computeFlags(m, Seq("q1" -> 100.0)).isEmpty)
    assert(notes.size == 1 && notes.head.contains("32") && notes.head.contains("4"),
      notes.mkString("; "))
    // legacy artifacts (no cpus field) and an unknown run count pass
    assert(BenchPrior.resolvePriorPool(Seq(Seq("legacy.json")), "sf0.1",
      texts(_), cpus = 4) == ("legacy.json", Map("q1" -> 0.2)))
    assert(BenchPrior.resolvePriorPool(pool, "sf0.1", texts(_))._1 == "r19.json")
    // cpus must ride the sf-selected node, like every other accessor
    assert(BenchPrior.resolvePriorPool(Seq(Seq("r19.json")), "sf0.01",
      texts(_), cpus = 4)._1 == "")
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
    // the decay scenario VERDICT r16 named: r14 was the last healthy
    // window (q1 at 0.5 s); r15–r17 all ran degraded (q1 at ~5 s).
    // Round 18's prior is r17, three rounds past r14. Without the
    // carry the bar inflates to a degraded reading and a real
    // regression to 2.0 sails through; WITH it, each degraded round's sidecar recorded the
    // merged base it flagged against (0.5, transitively from r14), and
    // the min folds it back in.
    def sidecar(reading: Double, base: String) =
      s"""{"queries":{"q1":$reading},"sf":"sf0.1","base":$base}"""
    val texts = Map(
      "r17.json" -> sidecar(5.2, """{"q1":0.5}"""),
      "r16.json" -> sidecar(5.1, """{"q1":0.5}"""),
      "r15.json" -> sidecar(5.0, """{"q1":0.5}"""))
    val pool = Seq(Seq("r17.json"), Seq("r16.json"), Seq("r15.json"))
    val (_, merged) = BenchPrior.resolvePriorPool(pool, "sf0.1", texts(_))
    assert(merged("q1") == 0.5,
      s"the carried base must survive the healthy round rotating out; got $merged")
    assert(BenchPrior.computeFlags(merged, Seq("q1" -> 2.0)) ==
      Seq(("q1", 0.5, 2.0)))
    // the mutation, red: strip the carried bases (the pre-r17 shape)
    // and the bar quietly inflates to the degraded readings' min
    val stripped = texts.map { case (k, _) =>
      k -> s"""{"queries":{"q1":5.0},"sf":"sf0.1"}""" }
    val (_, decayed) = BenchPrior.resolvePriorPool(pool, "sf0.1", stripped(_))
    assert(decayed("q1") == 5.0 &&
      BenchPrior.computeFlags(decayed, Seq("q1" -> 2.0)).isEmpty,
      "this is the rolling-decay failure the carry exists to close")
    // a failed-run sentinel in a carried base never participates
    val withNeg = Map("r17.json" -> sidecar(5.2, """{"q1":-1.0,"q3":0.2}"""))
    val (_, m2) = BenchPrior.resolvePriorPool(Seq(Seq("r17.json")), "sf0.1",
      withNeg(_))
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
    // the carry, end-to-end: next round resolving THIS line as a
    // prior must min the recorded base into its own flag base
    val (_, merged) = BenchPrior.resolvePriorPool(
      Seq(Seq("me.json")), "sf0.1", _ => line)
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
