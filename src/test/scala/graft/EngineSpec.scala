package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Smoke + semantics tests for the query surface and the native
  * expressions/aggregators, on the sf0.001 fixtures (TESTDATA.md).
  * Exact-value correctness against DuckDB is the driver's t2 gate
  * (tools/check.py locally); these tests pin behaviors that gate
  * doesn't see: expression semantics, aggregator merge laws, plan
  * shapes (pushdown, broadcast, top-k).
  */
class EngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = Session.build(cpus = 4)
  override def afterAll(): Unit = spark.stop()

  /** The one key a query may leave set: `Tables.events` and the events
    * file stream set it for the scan they return, and that scan reads
    * it lazily at execution time, after any scope around the call has
    * closed. */
  val confLeakAllowed = Set("spark.sql.legacy.parquet.nanosAsLong")

  test("every SparkEntry query executes at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val before = spark.conf.getAll
      val failed =
        try { fn(spark, sf).collect(); None }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k) && !confLeakAllowed(k))
      failed ++ Option.when(changed.nonEmpty)(
        s"$name leaves session conf changed: ${changed.toSeq.sorted.mkString(", ")}")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("EVERY query key is oracle-backed (sketches via contract oracles)") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"missing oracles: $noOracle")
  }

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("Confs.scoped restores prior values and unsets new keys, also when body throws") {
    val (k1, k2) = ("spark.graft.test.scopedA", "spark.graft.test.scopedB")
    spark.conf.set(k1, "prior")
    try for (fail <- Seq(false, true)) {
      val r = scala.util.Try(Confs.scoped(spark, k1 -> "x", k2 -> "y") {
        assert(spark.conf.get(k1) == "x" && spark.conf.get(k2) == "y")
        if (fail) throw new IllegalStateException("body failed")
      })
      assert(r.isFailure == fail, r)
      assert(spark.conf.get(k1) == "prior")
      assert(!spark.conf.getAll.contains(k2))
    } finally spark.conf.unset(k1)
    // a registered key left at its default stays unset afterwards, not
    // set explicitly to the default
    val reg = "spark.sql.sources.partitionOverwriteMode"
    assert(!spark.conf.getAll.contains(reg))
    Confs.scoped(spark, reg -> "dynamic")(
      assert(spark.conf.get(reg).equalsIgnoreCase("dynamic")))
    assert(!spark.conf.getAll.contains(reg))
  }

  test("Confs.shufflePartitionsAtMost caps but never raises the session's value") {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    Confs.scoped(spark, key -> "1") {
      Confs.shufflePartitionsAtMost(spark, 3)(assert(spark.conf.get(key) == "1"))
      assert(spark.conf.get(key) == "1")
    }
    Confs.shufflePartitionsAtMost(spark, 2)(assert(spark.conf.get(key) == "2"))
    assert(spark.conf.get(key) == prior)
  }

  test("Confs.posInt rejects non-numeric and non-positive values, naming the key") {
    val key = "spark.graft.test.posInt"
    assert(Confs.posInt(spark, key, 7) == 7)
    Confs.scoped(spark, key -> "12")(assert(Confs.posInt(spark, key, 7) == 12))
    for (bad <- Seq("abc", "0", "-3")) Confs.scoped(spark, key -> bad) {
      val e = intercept[IllegalArgumentException](Confs.posInt(spark, key, 7))
      assert(e.getMessage.contains(key), e.getMessage)
    }
    // the store knob reads through it
    Confs.scoped(spark, "spark.graft.storeBuckets" -> "0") {
      val e = intercept[IllegalArgumentException](graft.streaming.EventStreams.StoreBuckets)
      assert(e.getMessage.contains("spark.graft.storeBuckets"), e.getMessage)
    }
  }

  test("BuildInfo exposes version metadata (tests/test_packaging.py analogue)") {
    assert(BuildInfo.version.nonEmpty && BuildInfo.name == "tinymrspark")
    assert(BuildInfo.scalaVersion.startsWith("2.13"))
  }

  test("spread raises a single-split scan to core parallelism, rows intact") {
    import graft.core.Tables
    // single-file fixture scan: one input split < defaultParallelism
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val out = Tables.spread(docs)
    assert(out.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // exact multiset equality — the spread is a pure re-layout
    assert(out.exceptAll(docs).isEmpty && docs.exceptAll(out).isEmpty)
  }

  // --- native expressions --------------------------------------------

  test("DotProduct/SumSquares match left-fold semantics exactly") {
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val xs = Seq(0.1, -2.5, 3.25, 7.0, 1e-9)
    val ys = Seq(4.0, 0.5, -1.25, 2.0, 1e9)
    val df = Seq((xs, ys)).toDF("x", "y")
      .selectExpr("graft_dot(x, y) AS d", "graft_sumsq(x) AS s")
    val (d, sq) = df.as[(Double, Double)].head()
    val expD = xs.zip(ys).foldLeft(0.0) { case (a, (p, q)) => a + p * q }
    val expS = xs.foldLeft(0.0)((a, p) => a + p * p)
    assert(d == expD && sq == expS) // bit-exact, not approx
  }

  test("ShingleSet produces the distinct word-3-gram set") {
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val got = Seq("The  quick\tbrown fox the quick brown fox")
      .toDF("text").selectExpr("graft_shingles(text) AS sh")
      .as[Seq[String]].head()
    assert(got == Seq("the quick brown", "quick brown fox", "brown fox the",
      "fox the quick"))
    val short = Seq("one two").toDF("text")
      .selectExpr("graft_shingles(text) AS sh").as[Seq[String]].head()
    assert(short.isEmpty)
  }

  test("MinHash bands: identical docs collide in every band, disjoint docs in none") {
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x y z")).toDF("id", "text")
      .selectExpr("id", "graft_minhash_bands(graft_shingles(text)) AS b")
      .as[(Long, Seq[Long])].collect().toMap
    assert(df(1L) == df(2L))
    assert(df(1L).intersect(df(3L)).isEmpty)
    assert(df(1L).length == 32)
  }

  // --- aggregators ----------------------------------------------------

  test("CounterMerge equals a local Counter; TopK equals most_common(k)") {
    import spark.implicits._
    import graft.functions.Aggregators._
    val words = Seq("b", "a", "b", "c", "b", "a")
    val ds = words.map(w => ("k", w)).toDS()
    val merged = ds.groupByKey(_._1)
      .agg(new CounterMerge[(String, String)](r => Seq(r._2)).toColumn).head()._2
    assert(merged == Map("a" -> 2L, "b" -> 3L, "c" -> 1L))
    val topk = ds.groupByKey(_._1)
      .agg(new TopKByCount[(String, String)](2, t => (t._2, 1L)).toColumn).head()._2
    assert(topk == Seq(("b", 3L), ("a", 2L)))
  }

  // --- plan shapes (the 100 TB contract) ------------------------------

  def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q02 pushes filters and prunes columns at the parquet scan") {
    val p = planOf("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(500))
    assert(!p.contains("l_returnflag"), "scan should not read unused columns")
  }

  test("q03 uses a broadcast hash join (dimension never shuffles the fact side)") {
    assert(planOf("q03_broadcast_join_agg").contains("BroadcastHashJoin"))
  }

  test("s26 pushes the predicate to the documents scan and broadcasts probes") {
    // the composed production query's 100 TB contract: the metadata
    // predicate lands in the documents scan (pre-filter, not a
    // post-rank filter), and the 90-row probe side broadcasts into
    // the bucketed candidate scan — no vector ever shuffles
    val p = planOf("s26_filtered_multiprobe")
    assert(p.contains("PushedFilters: [In(lang"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "no candidate-side shuffle join may appear in the probe plan")
  }

  test("q08 plans global top-k as TakeOrderedAndProject (no global sort shuffle)") {
    assert(planOf("q08_global_topk").contains("TakeOrderedAndProject"))
  }

  test("q01 aggregates partially before the exchange (map-side combine)") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p.take(800))
  }

  test("q05/q06 plan semi/anti joins, not inner join + dedup") {
    assert(planOf("q05_semi_join").contains("LeftSemi"))
    assert(planOf("q06_anti_join").contains("LeftAnti"))
  }

  test("q36 prunes partitions at the scan (PartitionFilters)") {
    val p = planOf("q36_partition_pruning")
    assert(p.contains("PartitionFilters: [isnotnull(o_year"), p.take(600))
  }

  test("q35 bucketed join needs no exchange on either join key") {
    val p = planOf("q35_bucketed_join")
    assert(!p.contains("Exchange hashpartitioning(l_orderkey"), p.take(600))
    assert(!p.contains("Exchange hashpartitioning(o_orderkey"), p.take(600))
  }

  test("st02 sessionizes via the native session_window operator, not object groups") {
    val p = planOf("st02_sessionize")
    assert(p.contains("session_window"), p.take(800))
    assert(!p.contains("FlatMapGroups") && !p.contains("MapGroups"),
      "sessionization must not materialize per-user arrays in object space")
  }

  test("t08 classification path carries no interpreted lambda functions") {
    val p = planOf("t08_textcat").toLowerCase
    assert(!p.contains("lambdafunction"), "HOF lambda crept back into the hot path")
  }

  test("s08 k-means reaches a fixed point within the round cap") {
    import org.apache.spark.sql.functions._
    graft.functions.VectorExpressions.register(spark)
    val members = graft.core.Tables.embeddings(spark, sf)
      .select(col("label"), col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(expr("graft_sumsq(v)")))
    val (df, rounds) = graft.queries.Similarity
      .kmeansToConvergence(spark, members, maxRounds = 30)
    assert(rounds >= 1 && rounds <= 30, s"rounds=$rounds")
    val row = df.collect().head
    assert(row.getBoolean(0), "converged flag")
    assert(row.getLong(1) == 0L, "fixed point must have zero migrations")
    assert(row.getBoolean(2), "cell count must stay within k")
  }

  test("q52 salted join exchanges on (k, salt) — hot key never lands unsplit") {
    val p = planOf("q52_salted_join")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
      "the skew demo must exercise a SHUFFLE join (broadcast would mask the salting)")
    // every pre-join exchange must carry the salt alongside k: that IS
    // the skew fix (k alone would put 70% of rows in one partition)
    val joinExchanges = "hashpartitioning\\(k#\\d+L?, salt#\\d+L?".r.findAllIn(p).size
    assert(joinExchanges >= 2, s"expected both join inputs partitioned by (k, salt):\n${p.take(1500)}")
    assert(!"hashpartitioning\\(k#\\d+L?, 3?2?\\)".r.findAllIn(p).hasNext,
      "no exchange may partition by the skewed key alone before the join")
  }

  test("q54 rolling RANGE frame runs over ONE custkey exchange") {
    val p = planOf("q54_rolling_range")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 window exchange:\n${p.take(1000)}")
  }

  test("s09/s10/s11 ANN tiers broadcast their probe sides") {
    assert(planOf("s09_rproj_ann").contains("BroadcastExchange"))
    assert(planOf("s10_sq_ann").contains("BroadcastExchange"))
    val s11 = planOf("s11_pq_ann")
    assert(s11.contains("BroadcastExchange"))
    // codebook selection must be a distributed top-16, not a global sort
    assert(s11.contains("TakeOrderedAndProject"), s11.take(800))
  }

  test("d09 probes the held-out gram set via broadcast, not a shuffle join") {
    val p = planOf("d09_ngram_decontam")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("d10 verifies candidates in place (bit_count on the ride-along sigs)") {
    val p = planOf("d10_simhash_band_pairs")
    assert(p.contains("bit_count"), p.take(800))
    // exactly ONE join: the band-bucket self-join. A second join would
    // mean signatures were rejoined instead of riding the candidates
    assert("Join".r.findAllIn(p).size >= 1 &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("d10 banding finds EVERY Hamming<=3 pair, incl. via the sign-bit band") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // planted partners at <=3 flips over random 64-bit signatures
    // (negative longs included) — brute force is the ground truth, the
    // banded join + in-place verify is d10's exact arithmetic
    val rnd = new scala.util.Random(7)
    val docs = Seq.fill(50)(rnd.nextLong()).zipWithIndex.flatMap { case (s0, i) =>
      var s1 = s0
      (0 until 3).foreach(_ => s1 ^= 1L << rnd.nextInt(64))
      Seq((i * 2L, s0), (i * 2L + 1L, s1))
    }
    val expected = (for {
      (ia, sa) <- docs; (ib, sb) <- docs
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(expected.size >= 50, "planted pairs must make the test non-vacuous")
    val df = docs.toDF("doc_id", "sig")
    val bands = df.select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv", expr("shiftright(sig, band * 16) & 65535"))
    val a = bands.as("a"); val b = bands.as("b")
    val got = a.join(b, col("a.band") === col("b.band") &&
        col("a.bv") === col("b.bv") && col("a.doc_id") < col("b.doc_id"))
      .filter(expr("bit_count(a.sig ^ b.sig) <= 3"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct()
      .as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"banding missed ${expected -- got} / invented ${got -- expected}")
  }

  test("d07 candidates come from banded LSH, not d02's shingle fan-out join") {
    val p = graft.queries.Dedup.d07CandidatePairs(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("minhashbands"), p.take(800))
    assert(!p.contains("xxhash64"),
      "d02's hashed-shingle self-join leaked into d07's candidate path")
  }

  test("q58 sessionization and session agg share ONE user exchange") {
    val p = planOf("q58_session_funnel")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"expected one user_id exchange:\n${p.take(1200)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      "only the user exchange plus the tiny final depth agg may shuffle")
  }

  test("q59 runs on ONE events scan and ONE user exchange") {
    val p = planOf("q59_cohort_retention")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"events must be scanned once:\n${p.take(1200)}")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"expected one user_id exchange:\n${p.take(1200)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      "only the user exchange plus the tiny cohort agg may shuffle")
  }

  test("d11 collapses grams to per-source DISTINCT hashes before the self-join") {
    val p = planOf("d11_source_overlap")
    assert("HashAggregate\\(keys=\\[source#\\d+, h#\\d+L\\]".r.findAllIn(p).nonEmpty,
      s"per-source distinct must run below the join:\n${p.take(1200)}")
    assert(p.contains("xxhash64"), "gram join keys must be 8-byte hashes")
  }

  test("d13 prefix filtering finds EVERY containment>=0.8 pair (planted low-Jaccard subsets)") {
    import spark.implicits._
    // Planted worst case for Jaccard-based candidates: short docs that
    // are near-subsets of long docs (containment ~1.0, Jaccard ~0.1).
    // Brute force over the synthetic sets is the ground truth; the
    // prefix-filter join must produce a SUPERSET of the qualifying
    // pairs while probing far fewer than all pairs.
    val rnd = new scala.util.Random(11)
    val vocab = 100000
    val longDocs = (0 until 30).map { i =>
      (i.toLong, Set.fill(80 + rnd.nextInt(40))(rnd.nextInt(vocab).toLong))
    }
    val shortDocs = (0 until 30).map { i =>
      val (_, parent) = longDocs(rnd.nextInt(longDocs.size))
      val core = rnd.shuffle(parent.toSeq).take(8 + rnd.nextInt(5)).toSet
      // one private token in ~half the shorts: containment dips below
      // 1.0 but stays >= 0.8 for most, and some fall just under
      val extra = if (i % 2 == 0) Set((vocab + i).toLong) else Set.empty[Long]
      (100L + i, core ++ extra)
    }
    val docs = longDocs ++ shortDocs
    def qualifies(a: Set[Long], b: Set[Long]): Boolean = {
      val common = (a & b).size
      common >= math.ceil(0.8 * math.min(a.size, b.size)) && common > 0
    }
    val expected = (for {
      (ia, sa) <- docs; (ib, sb) <- docs
      if ia < ib && qualifies(sa, sb)
    } yield (ia, ib)).toSet
    assert(expected.size >= 25, "planted pairs must make the test non-vacuous")
    val sh = docs.flatMap { case (id, s) => s.map(t => (id, t)) }.toDF("doc_id", "s")
    val got = graft.queries.Dedup.prefixCandidates(sh)
      .as[(Long, Long)].collect().toSet
    assert((expected -- got).isEmpty,
      s"prefix filtering missed qualifying pairs: ${expected -- got}")
    val allPairs = docs.size.toLong * (docs.size - 1) / 2
    assert(got.size < allPairs / 2,
      s"candidate set ${got.size} is not selective vs $allPairs all-pairs")
  }

  test("d13 crossover: on a broad-vocab Zipf corpus the prefix tier's work is ≪ d12's") {
    import spark.implicits._
    // d13's docstring derives WHY prefix filtering wins on real text
    // (df-1-dominated tails; boilerplate cliques blow up the quadratic
    // tier) but the shared-vocab documents fixture is adverse to it —
    // this fixture measures the claim. Log-uniform rank sampling gives
    // p(rank) ∝ 1/rank over a 50k vocabulary: a boilerplate head
    // (df ≈ corpus size) plus a df-1..3 tail, text's actual shape.
    val rnd = new scala.util.Random(29)
    val vocab = 50000.0
    def draw(): Long =
      math.max(1, math.exp(rnd.nextDouble() * math.log(vocab)).toInt).toLong
    val base: Seq[(Long, Set[Long])] = (0 until 300).map { i =>
      val s = scala.collection.mutable.Set.empty[Long]
      while (s.size < 60) s += draw()
      (i.toLong, s.toSet)
    }
    // one planted subset pair keeps the fixture honest: completeness
    // must hold while the work collapses
    val planted = (9000L, base.head._2.toSeq.sorted.take(48).toSet)
    val docs = base :+ planted
    val sh = docs.flatMap { case (id, s) => s.map(t => (id, t)) }.toDF("doc_id", "s")
    val cands = graft.queries.Dedup.prefixCandidates(sh)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((0L, 9000L)), "planted subset pair must be a candidate")
    val n = docs.size
    val allPairs = n.toLong * (n - 1) / 2
    val density = cands.size.toDouble / allPairs
    assert(density < 0.01,
      s"candidate density $density (${cands.size} of $allPairs) not < 1%")
    // join-work twins, computed from the same definitions the plans
    // execute: d12 probes df·(df−1)/2 pairs per shingle; d13 probes
    // the full posting list (df) once per df≥2 PREFIX row
    val df = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val d12Work = df.values.map(d => d.toLong * (d - 1) / 2).sum
    val d13Work = docs.iterator.map { case (_, s) =>
      val na = s.size
      val prefixLen = na - (na * 4 + 4) / 5 + 1
      s.toSeq.sortBy(t => (df(t), t)).take(prefixLen)
        .filter(df(_) >= 2).map(df(_).toLong).sum
    }.sum
    val ratio = d13Work.toDouble / d12Work
    assert(ratio < 0.05,
      s"d13:d12 work ratio $ratio ($d13Work vs $d12Work) not ≪ 1")
    info(f"candidate density $density%.5f (${cands.size} of $allPairs); " +
      f"work d13=$d13Work d12=$d12Work ratio=$ratio%.5f")
  }

  test("d13 candidate quality vs d12's exact containment truth (the d14 board row)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // d14's board excludes the prefix tier because xxhash64 ordering
    // is not SQL-replicable; measure it ENGINE-side instead, against
    // d12's truth (which IS oracle-checked). Recall must be exactly 1
    // — the prefix principle is a theorem, conservatively preserved in
    // the hash domain — and precision is the measured number.
    graft.functions.VectorExpressions.register(spark)
    val sh = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(expr("graft_shingles(text)")).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("s"))
    val cands = graft.queries.Dedup.prefixCandidates(sh)
      .as[(Long, Long)].collect().toSet
    val truth = SparkEntry.queries("d12_containment_pairs")(spark, sf)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "no qualifying pairs — fixture vacuous")
    assert((truth -- cands).isEmpty,
      s"prefix candidates MISSED qualifying pairs: ${truth -- cands}")
    val prec = (cands & truth).size.toDouble / cands.size
    info(f"precision $prec%.4f over ${cands.size} candidates; " +
      s"recall 1.0 over ${truth.size} truth pairs")
    graft.queries.Dedup.releaseCaches()
  }

  test("d13 candidates come from the prefix window, not a full shingle self-join") {
    val p = planOf("d13_containment_prefix")
    // the df-ordered per-doc rank that defines the prefix must be in
    // the plan, and its <= prefix-length filter must gate a join input
    assert(p.contains("row_number"), p.take(1200))
    val posFilter = p.linesIterator.filter(l =>
      l.contains("pos#") && l.contains("<=")).toSeq
    assert(posFilter.nonEmpty,
      s"prefix-length filter missing above the candidate join; pos sites:\n" +
        p.linesIterator.filter(_.contains("pos#")).mkString("\n"))
  }

  test("p03 has no per-source unbounded row-order window (two-level prefix sum)") {
    val p = planOf("p03_mix_to_budget")
    // the direct plan's signature: a window PARTITIONED by source alone
    // and ORDERED by the row key h — one unbounded partition per source
    assert("windowspecdefinition\\(source#\\d+, h#".r.findAllIn(p).isEmpty,
      s"per-source row-order window found:\n${p.take(1200)}")
    // the boundary window partitions by (source, bkt) — bounded buckets
    assert("windowspecdefinition\\(source#\\d+, bkt#\\d+L?, h#".r.findAllIn(p).nonEmpty,
      s"expected the (source, bkt)-partitioned boundary window:\n${p.take(1200)}")
  }

  test("q64 ranks without a per-priority unbounded row window (two-level)") {
    val p = planOf("q64_distribution_rank")
    // the naive plan's signature: a row_number window partitioned by
    // the group alone — the whole priority's orders through one task
    assert("windowspecdefinition\\(g#\\d+, v#".r.findAllIn(p).isEmpty,
      s"per-priority row-order window found:\n${p.take(1200)}")
    // the intra-bucket window partitions by (g, bkt) — bounded
    assert("windowspecdefinition\\(g#\\d+, bkt#\\d+L?, v#".r.findAllIn(p).nonEmpty,
      s"expected the (g, bkt)-partitioned bounded window:\n${p.take(1200)}")
  }

  test("q66 lateral decorrelates to a distributed plan (no per-row re-execution)") {
    val p = planOf("q66_lateral_topk")
    assert(!p.contains("CartesianProduct"),
      s"lateral fell back to a cartesian product:\n${p.take(1200)}")
    // Catalyst's lateral rewrite lands on the same window/top-k
    // machinery q21 declares directly
    assert(p.contains("Window") || p.contains("TakeOrdered"),
      s"expected decorrelated window/top-k machinery:\n${p.take(1200)}")
  }

  test("two-level ranking == native distribution windows on randomized tie-heavy frames") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(29)
    // group sizes hit every ntile edge (1, 2, 3 < 4 tiles; 4; odd;
    // large); values drawn from 6 distinct doubles → heavy ties,
    // incl. one ALL-EQUAL group (zero value range → one bucket)
    val sizes = Seq("a" -> 1, "b" -> 2, "c" -> 3, "d" -> 4, "e" -> 37, "f" -> 200)
    val dom = Array(-3.5, 0.0, 1.25, 2.5, 7.75, 9.0)
    val rows = sizes.flatMap { case (g, sz) =>
      (0 until sz).map { i =>
        val v = if (g == "d") 5.0 else dom(rnd.nextInt(dom.length))
        (g, v, (g.hashCode.toLong << 32) | i.toLong)
      }
    }
    val df = rows.toDF("g", "v", "id").repartition(7)
    val got = graft.queries.Relational10
      .distributionCols(graft.queries.Relational10.twoLevelRank(df, Seq(col("id"))))
      .select(col("id"), col("rnk"), col("pr"), col("cd"), col("tile4"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    val w = Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
    val exp = df
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("tile4", ntile(4).over(w).cast("long"))
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("rnk"), r.getAs[Double]("pr"), r.getAs[Double]("cd"),
          r.getAs[Long]("tile4"))).toMap
    assert(got.keySet == exp.keySet)
    val diffs = got.collect { case (k, v) if v != exp(k) => s"$k: $v vs ${exp(k)}" }
    assert(diffs.isEmpty, diffs.take(5).mkString("\n"))
  }

  test("q65 two-level quantiles == Spark's own percentile aggregate") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q65_exact_quantiles")(spark, sf)
      .collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[Double]("p")) ->
        r.getAs[Double]("q")).toMap
    val ps = Seq(0.25, 0.5, 0.75, 0.9)
    val exp = graft.core.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(expr(
        "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.9D))").as("qs"))
      .select(col("l_returnflag"), posexplode(col("qs")))
      .collect()
      .map(r => (r.getAs[String]("l_returnflag"), ps(r.getAs[Int]("pos"))) ->
        r.getAs[Double]("col")).toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - exp(k)) < 1e-9, s"$k: $v vs ${exp(k)}")
    }
  }

  test("s13's Lloyd round strictly lowers PQ reconstruction distortion") {
    import org.apache.spark.sql.functions._
    // Lloyd's actual guarantee (what s12's recall gate does NOT
    // promise): both half-steps are non-increasing in total squared
    // reconstruction error — nearest-codeword assignment by
    // definition, mean re-centering because the mean minimizes
    // within-cell squared distance.
    graft.functions.VectorExpressions.register(spark)
    val e = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    def distortion(cb: org.apache.spark.sql.DataFrame): Double =
      e.crossJoin(broadcast(cb))
        .withColumn("dq", expr("graft_pq_reconstruct(v, cb)"))
        .withColumn("err", expr(
          """aggregate(sequence(1, 64), cast(0.0 AS double), (acc, i) ->
             acc + (element_at(v, i) - element_at(dq, i))
                 * (element_at(v, i) - element_at(dq, i)))"""))
        .agg(sum(col("err"))).head().getDouble(0)
    val init = distortion(graft.queries.Similarity.pqCodebook(e))
    val refined = distortion(graft.queries.Similarity.pqRefinedCodebook(spark, e))
    assert(refined < init,
      s"Lloyd round must strictly lower distortion on these fixtures: $init -> $refined")
  }

  test("p03 two-level fill == direct window on randomized corpora (boundary budgets incl.)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(13)
    // h spans all 32 buckets; includes docs whose cum lands EXACTLY on
    // the budget, zero-width sources, and budgets past the total
    val rows = (0 until 400).map { i =>
      val src = s"s${i % 5}"
      val h = rnd.nextLong() & 0xFFFFFFFFL
      val chars = 1L + rnd.nextInt(50)
      (src, i.toLong, chars, h)
    }
    // one budget exactly equal to a prefix sum of s0's ordered chars:
    val s0 = rows.filter(_._1 == "s0").sortBy(r => (r._4, r._2))
    val exactBudget = s0.take(s0.size / 2).map(_._3).sum
    val budgets = Map("s0" -> exactBudget, "s1" -> 5L, "s2" -> 10000000L,
      "s3" -> 300L, "s4" -> 777L)
    val df = rows.toDF("source", "doc_id", "n_chars", "h")
      .withColumn("budget",
        element_at(typedLit(budgets), col("source")))
    val twoLevel = graft.queries.PipelineOps.mixToBudget(df)
      .as[(String, Long, Long, Long)].collect().toSet
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val direct = df.withColumn("cum", sum(col("n_chars")).over(w))
      .filter(col("cum") <= col("budget"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), max(col("cum")).as("chars_used"),
        first(col("budget")).as("char_budget"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(twoLevel == direct,
      s"two-level diverged: ${twoLevel -- direct} vs ${direct -- twoLevel}")
  }

  test("s15 greedy k-center == brute-force greedy on randomized vectors (dup point incl.)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(17)
    val dim = 6
    val pts = (0 until 40).map { i =>
      (i.toLong, Vector.fill(dim)(rnd.nextDouble() * 2 - 1))
    }
    // an exact duplicate exercises the dmin ≈ 0 tail of the ordering
    val all = pts :+ (40L, pts(3)._2)
    def cosDist(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      1.0 - dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    var sel = List(all.minBy(_._1))
    var expected = List((0L, sel.head._1, 0.0))
    for (r <- 1 until 6) {
      val rest = all.filterNot(p => sel.exists(_._1 == p._1))
      val (farPt, farGap) = rest.iterator
        .map(p => (p, sel.map(c => cosDist(p._2, c._2)).min))
        .maxBy { case (p, dm) => (dm, -p._1) }
      expected = (r.toLong, farPt._1, farGap) :: expected
      sel = farPt :: sel
    }
    val df = all.toDF("vec_id", "v")
      .withColumn("nrm", sqrt(expr("aggregate(v, 0.0D, (a, x) -> a + x * x)")))
    val got = graft.queries.Similarity.kcenterSelect(df, 6)
      .as[(Long, Long, Double)].collect().toList.sortBy(_._1)
    val exp = expected.reverse
    assert(got.size == exp.size)
    got.zip(exp).foreach { case ((gr, gi, gg), (er, ei, eg)) =>
      assert(gr == er && gi == ei && math.abs(gg - eg) < 1e-12,
        s"round $gr: got ($gi, $gg) want ($ei, $eg)")
    }
  }

  test("s15 greedy state is one array literal: k=64 stays exact with a constant-size round plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(43)
    val dim = 5
    val all = (0 until 90).map { i =>
      (i.toLong, Vector.fill(dim)(rnd.nextDouble() * 2 - 1))
    }
    def cosDist(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      1.0 - dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    var sel = List(all.minBy(_._1))
    var expected = List((0L, sel.head._1, 0.0))
    for (r <- 1 until 64) {
      val rest = all.filterNot(p => sel.exists(_._1 == p._1))
      val (farPt, farGap) = rest.iterator
        .map(p => (p, sel.map(c => cosDist(p._2, c._2)).min))
        .maxBy { case (p, dm) => (dm, -p._1) }
      expected = (r.toLong, farPt._1, farGap) :: expected
      sel = farPt :: sel
    }
    val df = all.toDF("vec_id", "v")
      .withColumn("nrm", sqrt(expr("aggregate(v, 0.0D, (a, x) -> a + x * x)")))
    val got = graft.queries.Similarity.kcenterSelect(df, 64)
      .as[(Long, Long, Double)].collect().toList.sortBy(_._1)
    got.zip(expected.reverse).foreach { case ((gr, gi, gg), (er, ei, eg)) =>
      assert(gr == er && gi == ei && math.abs(gg - eg) < 1e-12,
        s"round $gr: got ($gi, $gg) want ($ei, $eg)")
    }
    // the round plan must not grow with the selected set: same node
    // count with 1 selected center as with 63 (array literals only)
    val ev = df.select(col("vec_id"), col("v"), col("nrm"))
    def planNodes(n: Int): Int = {
      val ids = (0L until n.toLong).toList
      val ss = ids.map(i => (all(i.toInt)._2: Seq[Double], 1.0))
      graft.queries.Similarity.kcenterRound(ev, ids, ss)
        .queryExecution.sparkPlan.collect { case p => p }.size
    }
    assert(planNodes(1) == planNodes(63),
      s"round plan grew with k: ${planNodes(1)} vs ${planNodes(63)} nodes")
  }

  test("d12 containment adds no shuffle beyond d02's pair machinery") {
    val n = (s: String) => "Exchange hashpartitioning".r.findAllIn(s).size
    val d02 = n(planOf("d02_jaccard_pairs"))
    val d12 = n(planOf("d12_containment_pairs"))
    assert(d12 == d02, s"d12 has $d12 exchanges vs d02's $d02")
  }

  test("connectedComponents: identical labels under local and reliable checkpoints") {
    import spark.implicits._
    // two chains + a singleton pair — multi-round convergence either way
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L)).toDF("doc_a", "doc_b")
    val local = graft.queries.Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_ck_")
    spark.conf.set("spark.graft.checkpointDir", dir.toString)
    try {
      val reliable = graft.queries.Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toSet
      assert(reliable == local,
        s"reliable-checkpoint labels diverged: ${reliable -- local} vs ${local -- reliable}")
      assert(local.map(_._2) == Set(1L, 10L, 20L), "labels must be component minima")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively()
    }
  }

  test("d07 runs green on the reliable-checkpoint path (Verify surface, Staging-enrolled dir)") {
    // the conf-swap spec above proves label equality for the CC core;
    // this one runs the actual Verify-surface query under the conf so
    // the reliable path is exercised end-to-end: same rows as the
    // (oracle-checked) default path, and round files actually landed
    // under the configured dir — which is enrolled in the Staging
    // exit registry, so a double run leaves no orphans
    def rows() = SparkEntry.queries("d07_dup_clusters")(spark, sf)
      .collect().map(_.toSeq).toSet
    val default = rows()
    val dir = graft.core.Staging.tempAtExit("graft_d07_ckpt_")
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val reliable = rows()
      assert(reliable == default,
        s"reliable-checkpoint d07 diverged: ${reliable -- default} vs ${default -- reliable}")
      def fileCount(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(fileCount).sum else 1
      assert(fileCount(new java.io.File(dir)) > 0,
        s"no checkpoint files under $dir — reliable path not taken")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("dedup shared caches are bounded and fully releasable in one session") {
    val sc = spark.sparkContext
    graft.queries.Dedup.releaseCaches()
    val base = sc.getPersistentRDDs.keySet
    graft.queries.Dedup.d02JaccardPairs(spark, sf).collect()
    assert(sc.getPersistentRDDs.keySet.size > base.size,
      "the shingle cache should be live after an executed build")
    // building the next dedup query releases the previous one's caches;
    // the CC loop self-cleans intermediate checkpoints and registers
    // only its final snapshot
    graft.queries.Dedup.d07DupClusters(spark, sf).collect()
    graft.queries.Dedup.releaseCaches()
    assert(sc.getPersistentRDDs.keySet.subsetOf(base),
      s"dedup blocks survived release: ${sc.getPersistentRDDs.keySet -- base}")
  }

  test("t11 needs no shuffle of its own (per-doc metrics stay narrow)") {
    // the only exchange allowed is Tables.spread's fixture-layout
    // round-robin (a no-op on many-split production inputs); the
    // COMPUTATION must not require one — no hash/range partitioning
    val p = planOf("t11_repetition")
    assert(!p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      s"t11 must not shuffle by key:\n${p.take(800)}")
    assert(!p.replaceAll("Exchange RoundRobinPartitioning[^\\n]*", "")
      .contains("Exchange"), s"t11 must not shuffle:\n${p.take(800)}")
  }

  test("t15 TF-IDF matches hand-computed scores on a tiny corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // N=3; df: apple 1, banana 2, cherry 2, durian 1
    val doc = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry durian cherry cherry")).toDF("doc_id", "text")
    val got = graft.queries.TextOps.tfidfTopK(doc, k = 3)
      .orderBy(col("doc_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    def e(tf: Int, df: Int) = BigDecimal(tf.toDouble * math.log(3.0 / df.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = Seq(
      (1L, "apple", e(2, 1), 1L), (1L, "banana", e(1, 2), 2L),
      (2L, "banana", e(1, 2), 1L), (2L, "cherry", e(1, 2), 2L),
      (3L, "cherry", e(3, 2), 1L), (3L, "durian", e(1, 1), 2L))
    assert(got.toSeq == want) // bit-exact: identical IEEE ops
  }

  test("t15 tokenizes once (cached tf feeds both joins) and caps via WindowGroupLimit") {
    val df = SparkEntry.queries("t15_tfidf")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the (doc,term,tf) cache must serve BOTH join inputs — without it
    // Catalyst plans two full tokenize+explode scans (the branches
    // optimize to different subtrees, so exchange reuse can't fire)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"both join inputs should read the cached tf table:\n${p.take(2000)}")
    assert(p.contains("WindowGroupLimit"),
      s"top-3 should prune per task before the rank exchange:\n${p.take(2000)}")
  }

  test("s16 re-rank recall dominates s09 per probe (structural invariant)") {
    // any true top-5 neighbor that reaches the 50-deep shortlist is
    // beaten by ≤4 others corpus-wide, so the exact re-rank keeps it:
    // per-probe exact-hit counts must satisfy hits(s16) ≥ hits(s09)
    def pairs(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sf)
        .select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = pairs("s01_cosine_topk")
    val jl = pairs("s09_rproj_ann")
    val rr = pairs("s16_rerank_ann")
    val probes = exact.keySet
    assert(probes.nonEmpty)
    for (p <- probes) {
      val hJl = (exact(p) & jl.getOrElse(p, Set.empty)).size
      val hRr = (exact(p) & rr.getOrElse(p, Set.empty)).size
      assert(hRr >= hJl, s"probe $p: rerank hits $hRr < JL hits $hJl")
    }
  }

  test("e02 k-th-NN rank prunes per task and flags exactly 5 per cell") {
    val df = SparkEntry.queries("e02_knn_outliers")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"rk = 3 should prune the pair stream per task:\n${p.take(1200)}")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val perCell = rows.groupBy(_.getAs[Int]("label"))
    for ((cell, xs) <- perCell) {
      val flagged = xs.count(_.getAs[Boolean]("is_outlier"))
      assert(flagged == math.min(5, xs.length),
        s"cell $cell flagged $flagged of ${xs.length}")
    }
  }

  test("s17 MMR picks head the exact ranking and scores decay monotonically") {
    val mmr = SparkEntry.queries("s17_mmr_rerank")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val exactTop1 = SparkEntry.queries("s01_cosine_topk")(spark, sf)
      .filter(org.apache.spark.sql.functions.col("rank") === 1).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toMap
    val byProbe = mmr.groupBy(_._1)
    assert(byProbe.nonEmpty)
    for ((p, xs) <- byProbe) {
      val ordered = xs.sortBy(_._2)
      assert(ordered.map(_._2).toSeq == (1L to 5L),
        s"probe $p: ranks not 1..5")
      assert(ordered.map(_._3).distinct.length == 5,
        s"probe $p: duplicate picks")
      // relevance-only first pick == the exact top-1 neighbor
      assert(ordered.head._3 == exactTop1(p),
        s"probe $p: MMR pick 1 ${ordered.head._3} != exact top-1 ${exactTop1(p)}")
      // greedy objective over a shrinking set with a growing penalty:
      // the winning score can never rise round-over-round
      val scores = ordered.map(_._4)
      assert(scores.zip(scores.tail).forall { case (a, b) => b <= a },
        s"probe $p: MMR scores rose: ${scores.mkString(", ")}")
    }
  }

  test("e04 NN-descent density equals the exact e02 tier, with no cell-blocked self-join") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // a "cell-blocked self-join" is the quadratic signature: an
    // equi-join keyed on label ALONE whose residual condition compares
    // vec_ids (the all-pairs-within-cell shape)
    def labelBlocked(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case j: BaseJoinExec
          if j.leftKeys.length == 1 &&
            j.leftKeys.head.toString.contains("label") &&
            j.condition.exists(_.toString.contains("vec_id")) => j
      }.size
    val e02df = SparkEntry.queries("e02_knn_outliers")(spark, sf)
    val e04df = SparkEntry.queries("e04_knn_outliers_ann")(spark, sf)
    assert(labelBlocked(e02df) >= 1, "positive control: e02 IS label-blocked")
    assert(labelBlocked(e04df) == 0,
      "e04 must not contain an all-pairs-within-cell join")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getLong(3), r.getBoolean(4))).sortBy(_._1)
    assert(canon(e04df) sameElements canon(e02df),
      "NN-descent did not converge to the exact 3-NN density on this fixture")
    graft.queries.PipelineOps.releaseCaches()
  }

  test("e04 init blocks: occupancy bounded at 10x the corpus, union graph connected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, max}
    // The linear-cost claim IS the occupancy bound: nBlocks scales
    // with n_label, so max block size must be the same constant at n
    // and at 10n (the retired fixed-seed cells grew linearly with n —
    // the 17.2x-at-10x quadratic the probe caught). md5 assignment is
    // deterministic, so the observed max is stable, not flaky.
    for (n <- Seq(500, 5000)) {
      val e = spark.range(n).select(col("id").as("vec_id"),
        lit("L").as("label"))
      val assign = graft.queries.PipelineOps.nnInitAssign(e).cache()
      val occ = assign.groupBy("blk").count()
        .agg(max("count")).as[Long].head()
      // expected occupancy 24; 60 leaves headroom for md5 collisions
      // while still refusing anything that scales with n
      assert(occ <= 60, s"n=$n: max block occupancy $occ is not bounded")
      // Convergence needs the init graph CONNECTED per label (a
      // disjoint partition stalls 2-hop expansion at block borders —
      // measured as non-convergence). All members of one blk form a
      // clique, so union-find over consecutive members suffices.
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x; while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      assign.select("blk", "vec_id").as[(String, Long)].collect()
        .groupBy(_._1).values.foreach { ms =>
          ms.map(_._2.toInt).reduce { (a, b) =>
            parent(find(a)) = find(b); b
          }
        }
      val comps = (0 until n).map(find).distinct.size
      assert(comps == 1,
        s"n=$n: init graph has $comps components; descent cannot converge")
      assign.unpersist()
    }
  }

  test("e04 NN-descent exits on the first zero-update round, unchanged answer") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, sqrt, transform}
    graft.functions.VectorExpressions.register(spark)
    // 12 vectors < kDeg, so the COMPLETE pair graph is a legal init:
    // round 1's top-K then equals the init top-K exactly (the
    // expansion can add no pair the init didn't already score), the
    // observed state checksum repeats, and the loop must stop after
    // that single measuring round instead of burning the 4-round cap
    // on provably dead work.
    val rnd = new scala.util.Random(90210)
    val e = (1L to 12L)
      .map(i => (i, Seq.fill(8)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(expr("graft_sumsq(v)")))
      .cache()
    val ids = e.select("vec_id").as[Long].collect()
    val allPairs = (for (a <- ids; b <- ids if a != b) yield (a, b))
      .toSeq.toDF("vec_id", "nb")
    val (state, rounds) =
      graft.queries.PipelineOps.nnDescent(e, allPairs, kDeg = 24, maxRounds = 4)
    assert(rounds == 1,
      s"pre-converged graph must exit after the measuring round, ran $rounds")
    // the early exit must not change the answer: each vector's list is
    // the exact all-pairs ranking (complete init ⇒ top-K IS exact)
    val got = state
      .select(col("vec_id"), expr("transform(nbrs, x -> x.nb)").as("nbs"))
      .as[(Long, Seq[Long])].collect().toMap
    val vecs = e.select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Seq[Double], Double)].collect()
    vecs.foreach { case (i, vi, ni) =>
      val exact = vecs.filter(_._1 != i)
        .map { case (j, vj, nj) =>
          (j, vi.zip(vj).map { case (a, b) => a * b }.sum / (ni * nj)) }
        .sortBy { case (j, c) => (-c, j) }.map(_._1).toSeq
      assert(got(i) == exact, s"vec $i: early-exit list differs from exact")
    }
    graft.queries.PipelineOps.nnRelease(state).apply()
    e.unpersist()
  }

  test("rrfFuse: the damping knob trades single-arm strength against dual-arm presence") {
    import spark.implicits._
    // doc A: rank 1 in the vector arm only; doc B: rank 4 in BOTH
    // arms. rrf(A) = 1/(k+1), rrf(B) = 2/(k+4): at k=1 A wins (0.500
    // vs 0.400), at k=60 B wins (0.0164 vs 0.0313) — the Cormack
    // et al. trade the parameter exists to tune, pinned exactly.
    val vec = Seq((0L, 10L, 1), (0L, 20L, 4)).toDF("probe_id", "doc_id", "rank_v")
    val kw = Seq((0L, 20L, 4)).toDF("probe_id", "doc_id", "rank_k")
    def top(k: Int): Long = graft.queries.Similarity.rrfFuse(vec, kw, k)
      .orderBy("rank").select("doc_id").as[Long].head()
    assert(top(1) == 10L, "k=1 must reward the single strong rank")
    assert(top(60) == 20L, "k=60 must reward dual-arm presence")
  }

  test("s17 mmrSelect's join-accumulated state equals the reference greedy round by round") {
    // randomized synthetic shortlist: 4 probes × 9 candidates, 4-dim
    // vectors — small enough to replay the greedy on the driver, rich
    // enough that every round's penalty term matters
    val rnd = new scala.util.Random(20260813)
    val rows = for (p <- 0L until 4L; c <- 0L until 9L) yield {
      val v = Seq.fill(4)(rnd.nextDouble() * 2 - 1)
      (p, 100L + c * 7L + p, v, math.sqrt(v.map(x => x * x).sum), rnd.nextDouble())
    }
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val cand = rows.toDF("probe_id", "vec_id", "v", "nrm", "cosq").cache()
    val got = graft.queries.Similarity.mmrSelect(cand, k = 4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    // reference greedy, same IEEE op order (sequential dot fold)
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val byProbe = rows.groupBy(_._1)
    for ((p, xs) <- byProbe) {
      var sel = List.empty[(Long, Seq[Double], Double, Double)] // id, v, nrm, mmr
      for (r <- 1 to 4) {
        val remaining = xs.filter(x => !sel.exists(_._1 == x._2))
        val scoredRef = remaining.map { x =>
          val mmr =
            if (r == 1) 0.7 * x._5
            else 0.7 * x._5 - 0.3 * sel.map(s0 => dot(x._3, s0._2) / (x._4 * s0._3)).max
          (x._2, x._3, x._4, mmr)
        }
        val win = scoredRef.maxBy(x => (x._4, -x._1))
        sel = sel :+ ((win._1, win._2, win._3, win._4))
        assert(got((p, r.toLong)) == ((win._1, win._4)),
          s"probe $p round $r: got ${got((p, r.toLong))}, reference $win")
      }
    }
    cand.unpersist()
  }

  test("s17's checkpoint discipline holds at k=32: same greedy, bounded lineage") {
    // the docstring's deep-k prescription (localCheckpoint every ~10
    // rounds), exercised as code: 32 rounds over a 3×40 shortlist,
    // equality against the driver reference greedy at EVERY rank, and
    // the final plan must carry at most checkpointEvery joins — not 31
    val rnd = new scala.util.Random(31)
    val rows = for (p <- 0L until 3L; c <- 0L until 40L) yield {
      val v = Seq.fill(4)(rnd.nextDouble() * 2 - 1)
      (p, 100L + c * 7L + p, v, math.sqrt(v.map(x => x * x).sum), rnd.nextDouble())
    }
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val cand = rows.toDF("probe_id", "vec_id", "v", "nrm", "cosq").cache()
    val out = graft.queries.Similarity.mmrSelect(cand, k = 32, checkpointEvery = 10)
    val joins = out.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size
    assert(joins <= 10,
      s"lineage not truncated: $joins joins in the final plan at k=32")
    val got = out.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    for ((p, xs) <- rows.groupBy(_._1)) {
      var sel = List.empty[(Long, Seq[Double], Double, Double)]
      for (r <- 1 to 32) {
        val remaining = xs.filter(x => !sel.exists(_._1 == x._2))
        val scoredRef = remaining.map { x =>
          val mmr =
            if (r == 1) 0.7 * x._5
            else 0.7 * x._5 - 0.3 * sel.map(s0 => dot(x._3, s0._2) / (x._4 * s0._3)).max
          (x._2, x._3, x._4, mmr)
        }
        val win = scoredRef.maxBy(x => (x._4, -x._1))
        sel = sel :+ ((win._1, win._2, win._3, win._4))
        assert(got((p, r.toLong)) == ((win._1, win._4)),
          s"probe $p round $r: got ${got((p, r.toLong))}, reference $win")
      }
    }
    cand.unpersist()
  }

  test("s17's selection loop never builds a broadcast (state stays off the driver)") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val df = SparkEntry.queries("s17_mmr_rerank")(spark, sf)
    // everything up to the cached shortlist (its probe broadcast, its
    // ranking shuffle) lives INSIDE the InMemoryRelation; the greedy
    // loop on top must add no exchange of any kind: state joins are
    // co-partitioned shuffled-hash, winners aggs reuse partitioning
    val plan = df.queryExecution.sparkPlan
    val bc = plan.collect { case e: BroadcastExchangeExec => e }
    val sh = plan.collect { case e: ShuffleExchangeExec => e }
    assert(bc.isEmpty, s"greedy loop builds a driver-side broadcast:\n$plan")
    assert(sh.isEmpty, s"greedy loop re-shuffles the co-partitioned state:\n$plan")
    graft.queries.Similarity.releaseCaches()
  }

  test("m06 asset dedup finds exactly the shared-asset pairs (key-group consistency)") {
    // the asset fixture is many-to-one by construction (payload keyed
    // by doc_id % 350), so the structurally known answer is every pair
    // within a key group — candidates from signature collisions across
    // groups must all be filtered by the full-vector verify
    val ids = graft.core.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0))
    val expected = ids.groupBy(_ % 350).values.flatMap { g =>
      val s = g.sorted
      for (i <- s.indices; j <- i + 1 until s.length) yield (s(i), s(j))
    }.toSet
    assert(expected.nonEmpty, "fixture must contain shared assets")
    val got = SparkEntry.queries("m06_phash_dedup")(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} spurious=${(got -- expected).take(5)}")
  }

  test("t16 ranks via WindowGroupLimit and fits a negative Zipf slope") {
    val p = planOf("t16_zipf_slope")
    assert(p.contains("WindowGroupLimit"),
      s"per-lang top-100 must prune per task before the exchange:\n${p.take(1000)}")
    val slopes = SparkEntry.queries("t16_zipf_slope")(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(2)))
    assert(slopes.nonEmpty)
    // frequency is non-increasing in rank by construction, so every
    // fitted slope must be negative on any non-degenerate corpus
    slopes.foreach { case (lang, sl) => assert(sl < 0, s"$lang slope $sl") }
  }

  test("planted clusters: approximate tiers retrieve cluster-pure neighbors; rerank == exact") {
    import spark.implicits._
    // The sf fixtures are isotropic, so exact top-5 sets are noise
    // ties and the PQ-family recall@5 numbers on the s12 board are
    // honestly low (the documented fixture caveat). This is the
    // AFFIRMATIVE side of that caveat: on embeddings WITH planted
    // cluster structure (4 well-separated ±1 centers, noise σ 50×
    // smaller than the center scale) every approximate tier must
    // retrieve neighbors from the probe's own cluster, and the
    // two-stage rerank must reproduce the exact ranking VERBATIM —
    // its 50-deep JL shortlist provably covers the 39-member home
    // cluster, so stage 2 degenerates to s01 over a superset of the
    // true top-5.
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(4, 64)(if (rnd.nextBoolean()) 1.0f else -1.0f)
    val rows = (0L until 160L).map { i =>
      val c = (i % 4).toInt
      (i, centers(c).toSeq.map(x => x + (rnd.nextGaussian() * 0.02).toFloat), c)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_planted").toFile
    try {
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/embeddings.parquet")
      val d = dir.getAbsolutePath
      val labelOf = rows.map(r => (r._1, r._3)).toMap
      def purity(name: String): Double = {
        val pairs = SparkEntry.queries(name)(spark, d)
          .select("probe_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        pairs.count { case (p, n) => labelOf(p) == labelOf(n) }.toDouble / pairs.length
      }
      for (t <- Seq("s02_ann_lsh", "s03_ivf_topk", "s09_rproj_ann", "s10_sq_ann",
          "s11_pq_ann", "s13_pq_refined", "s14_ivfpq_ann")) {
        val pu = purity(t)
        assert(pu >= 0.9, s"$t cluster purity $pu < 0.9 on planted clusters")
      }
      def ranked(name: String): Set[(Long, Long, Long)] =
        SparkEntry.queries(name)(spark, d)
          .select("probe_id", "rank", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(ranked("s16_rerank_ann") == ranked("s01_cosine_topk"),
        "rerank must equal the exact ranking when the shortlist covers the cluster")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(); ()
      }
      rm(dir)
    }
  }

  test("q55 plants a dynamicpruning subquery on the fact partition column") {
    val p = planOf("q55_dynamic_pruning")
    assert(p.contains("dynamicpruningexpression"),
      s"expected DPP on the partitioned fact scan:\n${p.take(1200)}")
    // the pruning subquery must REUSE the join's broadcast (adaptive
    // variant), not run the dim side a second time
    assert(p.contains("SubqueryAdaptiveBroadcast") || p.contains("ReusedSubquery"),
      s"DPP subquery should reuse the join broadcast:\n${p.take(1200)}")
  }

  test("p04 split is cluster-atomic: every d07 cluster lands wholly in one split") {
    // materialize each dedup build before starting the next — building
    // a second dedup query releases the first's caches (the documented
    // release-on-next-build registry contract)
    val split = graft.queries.PipelineOps.p04LeakSafeSplit(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val labels = graft.queries.Dedup.d07DupClusters(spark, sf)
      .select("doc_id", "cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val straddling = labels.groupBy(_._2).count { case (_, members) =>
      members.map(m => split(m._1)).distinct.size > 1
    }
    assert(straddling == 0, s"$straddling clusters straddle a split boundary")
    // and the split actually partitions the whole corpus
    val n = graft.core.Tables.documents(spark, sf).count()
    assert(split.size == n)
  }

  test("graft_common_sorted == size(array_intersect) on randomized sorted distinct arrays") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.VectorExpressions.register(spark)
    val rnd = new scala.util.Random(23)
    // overlapping draws from a small domain force real intersections;
    // includes empty and disjoint cases
    val rows = (0 until 200).map { i =>
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(50).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(50).toLong).distinct.sorted
      (i, a, b)
    } :+ ((200, Seq.empty[Long], Seq(1L, 2L))) :+ ((201, Seq(7L), Seq(8L)))
    val df = rows.toDF("id", "a", "b")
      .withColumn("merge", expr("graft_common_sorted(a, b)"))
      .withColumn("ref", size(array_intersect(col("a"), col("b"))).cast("long"))
    val bad = df.filter(col("merge") =!= col("ref")).count()
    assert(bad == 0, s"$bad rows diverged from array_intersect")
  }

  test("DotSelfToSumSq rewrites graft_dot(x, x) into graft_sumsq(x)") {
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    // the shared session predates extension config — inject the same
    // rule through the public experimental hook (the config path is
    // asserted end-to-end in ExtensionsDemo)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ GraftRules.DotSelfToSumSq
    try {
      // non-constant input: a literal array constant-folds before the
      // plan assertion could see either expression
      val df = spark.range(1)
        .selectExpr("array(cast(id AS double) + 3.0D, 4.0D) AS v")
        .selectExpr("graft_dot(v, v) AS n")
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("sumsquares") && !opt.contains("dotproduct"),
        s"rule did not fire:\n$opt")
      assert(df.as[Double].head() == 25.0)
    } finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == GraftRules.DotSelfToSumSq)
  }

  test("q53 AQE splits the hot-key partition at runtime (skew=true)") {
    // tiny thresholds pin the split at sf0.001 (one row group = tiny
    // shuffles); the query's defaults trigger from sf0.01 up
    val (df, plan) = graft.queries.Relational9.aqeSkewJoin(
      spark, sf, thresholdBytes = 1024, advisoryBytes = 512)
    assert(df.count() > 0)
    assert(plan.contains("SortMergeJoin(skew=true)"),
      s"expected a runtime skew split:\n${plan.take(1500)}")
    assert(plan.contains("skewed"), "AQEShuffleRead must mark the split side")
  }

  test("d06 bloom probe is a native expression, not a UDF") {
    val p = planOf("d06_bloom_jaccard")
    assert(p.contains("bloommightcontainlong"), p.take(800))
    assert(!p.toLowerCase.contains("udf"),
      "bloom probe fell back to a UDF wrapper")
  }

  test("q41 range join runs as a bucket equi-join, not a nested-loop join") {
    val p = planOf("q41_interval_bucket_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the interval decomposition must produce an equi-join")
  }

  test("t09 packing window partitions by lang (no single-task global window)") {
    val p = planOf("t09_sequence_pack")
    assert(p.contains("hashpartitioning(lang"), p.take(800))
  }

  test("q44 funnel computes all three stages over ONE user exchange") {
    val p = planOf("q44_funnel_timeout")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 user_id exchange, plan:\n${p.take(1200)}")
  }

  test("s06 broadcasts centroids; only the argmax window shuffles") {
    val p = planOf("s06_kmeans_refine")
    assert(p.contains("Broadcast"), p.take(800))
    // 3 legitimate exchanges: centroid build (label), argmax window
    // (vec_id), occupancy agg (cell) — the k×N scoring join itself
    // must add none
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3, s"scoring side must not shuffle, plan:\n${p.take(1200)}")
  }

  test("d08 band join is an equi-join, not a cartesian candidate scan") {
    val p = planOf("d08_incremental_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
  }

  test("q48 cap runs as WindowGroupLimit (per-task top-k before the exchange)") {
    val p = planOf("q48_lang_cap")
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("p05 quotas stay under the literal ceiling and the rank prunes per task") {
    val df = SparkEntry.queries("p05_temperature_mix")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"the literal rank<=400 cut should prune before the exchange:\n${p.take(1200)}")
    // the ceiling must dominate every data-dependent quota, or the
    // pushdown cut would silently truncate a source's take
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("quota")).max <= 400L,
      "a quota exceeded the WindowGroupLimit ceiling")
    // floor-split of B=300: takes sum to <= 300, each source <= quota
    assert(rows.length <= 300)
  }

  test("q50 generates the hourly domain in-plan (no driver loop, no calendar table)") {
    val p = planOf("q50_gap_fill")
    assert(p.contains("Generate"), p.take(800))
  }

  test("compaction writes exactly the size-targeted file count") {
    val tmp = graft.core.Staging.tempAtExit("graft_ctest_")
    graft.core.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity")
      .repartition(16).write.mode("overwrite").parquet(s"$tmp/frag")
    val n = graft.queries.Relational9.compact(
      spark, s"$tmp/frag", s"$tmp/comp", targetBytes = 16L << 10)
    val written = new java.io.File(s"$tmp/comp").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(n > 1 && written == n, s"expected $n part files, found $written")
  }

  test("p07 z-order tiles prune 2-D predicates the 1-D sort layout cannot") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val z = graft.queries.PipelineOps.p07ZorderLayout(spark, sf).collect()
    // the layout z-order replaces: same rows sorted by ship-day alone,
    // cut into 64 equal-count buckets (row groups of a 1-D sorted file)
    val src = graft.core.Tables.lineitem(spark, sf).select(
      datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
        .cast("long").as("d1"),
      col("l_partkey").as("d2"))
    val b = src.agg(min("d1"), max("d1"), min("d2"), max("d2")).head()
    val (lo1, hi1, lo2, hi2) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val oneD = src
      .withColumn("b1", floor((col("d1") - lo1).cast("double") * 256.0 /
        (hi1 - lo1 + 1).toDouble).cast("long"))
      .withColumn("b2", floor((col("d2") - lo2).cast("double") * 256.0 /
        (hi2 - lo2 + 1).toDouble).cast("long"))
      .withColumn("bkt", ntile(64).over(Window.orderBy(col("d1"), col("d2"))))
      .groupBy("bkt").agg(min("b1").as("b1_lo"), max("b1").as("b1_hi"),
        min("b2").as("b2_lo"), max("b2").as("b2_hi"))
      .collect()
    // buckets a min/max-stats reader must scan for a range predicate
    def reads(rows: Array[org.apache.spark.sql.Row], c: String, lo: Long, hi: Long) =
      rows.count(r => r.getAs[Long](c + "_lo") <= hi && r.getAs[Long](c + "_hi") >= lo)
    val zPart = reads(z, "b2", 96, 127)      // partkey slice: 1/8 of the grid
    val oneDPart = reads(oneD, "b2", 96, 127)
    val zDay = reads(z, "b1", 96, 127)       // ship-day slice
    assert(zPart * 4 <= oneDPart,
      s"z-order reads $zPart buckets for a partkey slice; 1-D sort reads $oneDPart")
    assert(zDay <= 16, s"z-order reads $zDay buckets for a ship-day slice")
  }

  test("e05 training loss decreases and iteration 1 matches the closed form") {
    val rows = graft.queries.PipelineOps.e05LrQualityTrain(spark, sf)
      .orderBy("iter").collect()
    val n = graft.core.Tables.documents(spark, sf).count()
    // w=0 ⇒ p=0.5 for every doc ⇒ per-doc CE pins to round(ln 2 · 1e6)
    assert(rows(0).getLong(5) == 693147L * n)
    val losses = rows.map(_.getLong(5))
    assert(losses(0) > losses(1) && losses(1) > losses(2),
      s"loss trajectory not decreasing: ${losses.mkString(",")}")
  }

  test("d17 CDC chunks meet across alignment shift (planted shared span)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def words(n: Int) = Seq.fill(n)("w" + rnd.nextInt(100000)).mkString(" ")
    val shared = words(80) // ~540 chars of verbatim span
    // same span at very different offsets: doc-level fixed-stride
    // shingle windows shift, content-defined boundaries do not
    val rows = Seq(
      (1L, words(3) + " " + shared + " " + words(5)),
      (2L, words(17) + " " + shared + " " + words(2)),
      (3L, words(60))).toDF("doc_id", "text")
    val got = graft.queries.Dedup.cdcOverlap(rows)
      .select("doc_a", "doc_b", "shared_chars")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      s"expected exactly the planted pair, got $got")
    assert(got.head._3 >= 100, s"shared span under-detected: ${got.head._3}")
    // the self-join's two sides are column-identical, so they share
    // ONE shuffled exchange of the chunk stream (the df-cap hot set is
    // its own tiny partial aggregate). At sf0.001 the build side fits
    // the broadcast threshold and Catalyst rebuilds it instead (fine
    // when tiny); disable broadcast to see the at-scale shape and
    // assert the reuse.
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = SparkEntry.queries("d17_cdc_chunk_overlap")(spark, sf)
      q.collect() // AQE materializes stage reuse at runtime
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
        s"self-join should reuse the window's h-exchange:\n${p.take(1500)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("q67 broadcasts every dimension; lineitem-orders is the only join exchange") {
    val p = planOf("q67_market_share")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    val bigJoins = "SortMergeJoin".r.findAllIn(p).length +
      "ShuffledHashJoin".r.findAllIn(p).length
    // at sf0.001 even orders broadcasts (size-based); at scale it is
    // the one shuffled join — either way all 7 joins plan, ≤1 shuffled
    assert(bhj + bigJoins == 7, s"expected 7 joins, found $bhj+$bigJoins:\n${p.take(800)}")
    assert(bigJoins <= 1, s"expected at most one shuffled join, found $bigJoins")
  }

  test("z-order layout prunes parquet row groups in Spark's own scan") {
    import org.apache.spark.sql.functions._
    // build the p07 grid + Morton code over sf0.001 lineitem
    val src0 = graft.core.Tables.lineitem(spark, sf).select(
      datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
        .cast("long").as("d1"),
      col("l_partkey").as("d2"))
    val b = src0.agg(min("d1"), max("d1"), min("d2"), max("d2")).head()
    val (lo1, hi1, lo2, hi2) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    def grid(v: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      floor((v - lo).cast("double") * 256.0 / (hi - lo + 1).toDouble).cast("long")
    val src = src0
      .withColumn("b1", grid(col("d1"), lo1, hi1))
      .withColumn("b2", grid(col("d2"), lo2, hi2))
      .withColumn("z", (0 until 8).map { i =>
        shiftleft(shiftright(col("b1"), i).bitwiseAND(lit(1L)), 2 * i + 1) +
          shiftleft(shiftright(col("b2"), i).bitwiseAND(lit(1L)), 2 * i)
      }.reduce(_ + _))
    val tmp = graft.core.Staging.tempAtExit("graft_zlay_")
    // 64 files per layout; each file = one row group carrying min/max
    // footer stats — the skipping unit a 100 TB reader prunes on
    src.repartitionByRange(64, col("z")).sortWithinPartitions("z")
      .write.mode("overwrite").parquet(s"$tmp/zorder")
    src.repartitionByRange(64, col("d1"), col("d2")).sortWithinPartitions("d1")
      .write.mode("overwrite").parquet(s"$tmp/daysort")
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def scanRows(path: String): (Long, Long) = {
        val q = spark.read.parquet(path).filter(col("b2").between(96L, 127L))
        // collect() drives THIS queryExecution — count() would spawn a
        // separate execution and leave these metrics at zero
        val kept = q.collect().length.toLong
        val scanned = q.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numOutputRows").value
        }.sum
        (scanned, kept)
      }
      val (zRows, zKept) = scanRows(s"$tmp/zorder")
      val (dRows, dKept) = scanRows(s"$tmp/daysort")
      assert(zKept == dKept && zKept > 0, "layouts must return identical rows")
      // same predicate, same data: the z layout lets parquet stats
      // drop most row groups (measured 1594 vs 6000 rows emitted by
      // the scan at sf0.001); the 1-D layout reads everything
      assert(zRows > 0 && zRows * 2 <= dRows,
        s"z-order scan emitted $zRows rows vs day-sort $dRows — no pruning win")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }

  test("e06 scoring is a pure map: trained weights enter as literals, no keyed exchange") {
    val q = SparkEntry.queries("e06_lr_quality_score")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // Tables.spread's fixture round-robin is the one permitted
    // exchange (t11's note); scoring itself must stay a pure map
    assert(!p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      s"scoring should not shuffle by key:\n${p.take(800)}")
    assert(!p.replaceAll("Exchange RoundRobinPartitioning[^\\n]*", "")
      .contains("Exchange"), s"scoring should not shuffle:\n${p.take(800)}")
    val rows = q.collect()
    assert(rows.nonEmpty)
    // decision boundary consistent with the emitted pinned score
    // (one-sided: rounding can lift a just-below-0.5 score to 500000)
    assert(rows.forall(r => !r.getBoolean(2) || r.getLong(1) >= 500000L))
  }

  test("CDC chunking is lossless: chunks concatenate back to the text") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val rnd = new scala.util.Random(11)
    val docs = (1 to 60).map { i =>
      val len = 9 + rnd.nextInt(400)
      (i.toLong, (0 until len).map(_ => (32 + rnd.nextInt(95)).toChar).mkString)
    }.toDF("doc_id", "text")
    val rebuilt = graft.queries.Dedup.cdcChunks(docs)
      .groupBy("doc_id")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(idx, chunk))), x -> x.chunk), '')").as("re"))
    // left join + null check: a doc dropped from the chunk stream
    // entirely must FAIL, not vanish from the comparison
    val bad = docs.join(rebuilt, Seq("doc_id"), "left")
      .filter(col("re").isNull || col("re") =!= col("text")).count()
    assert(bad == 0, s"$bad documents did not reconstruct from their chunks")
  }

  test("CDC segmentation is invisible: seg=64 equals seg=2^20 across seams") {
    import spark.implicits._
    // breakpoints depend on an 8-char window only, so chunking must
    // be EXACTLY segment-size-independent — this runs the same random
    // corpus with ~6-doc-spanning tiny segments (every seam shape:
    // breakpoints at, before, and straddling segment edges) and with
    // one segment covering each whole doc, and demands identical
    // (doc, idx, chunk) streams
    val rnd = new scala.util.Random(17)
    val docs = (1 to 40).map { i =>
      val len = 9 + rnd.nextInt(500)
      (i.toLong, (0 until len).map(_ => (32 + rnd.nextInt(95)).toChar).mkString)
    }.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame, seg: Int) =
      graft.queries.Dedup.cdcChunks(df, seg)
        .as[(Long, Int, String)].collect().toSet
    assert(rows(docs, 64) == rows(docs, 1 << 20),
      "segmented chunking diverged from naive")
    // and with multi-byte text: split('')/substr/ascii must stay
    // codepoint-aligned across seams for BMP multibyte AND astral
    // (surrogate-pair) characters, or segment-local indices shift
    val pool = "abc déÿ中文𝔘𝔫𝔦🎉é ".toCharArray
    def mk(n: Int) = {
      val sb = new StringBuilder
      while (sb.length < n) sb.append(pool(rnd.nextInt(pool.length)))
      sb.toString
    }
    val uni = (1 to 30).map(i => (i.toLong, mk(30 + rnd.nextInt(300))))
      .toDF("doc_id", "text")
    assert(rows(uni, 64) == rows(uni, 1 << 20),
      "segmented chunking diverged from naive on multi-byte text")
  }

  test("CDC chunks a ≥1MB document losslessly under bounded segment memory") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val rnd = new scala.util.Random(23)
    val big = (0 until (1 << 20) + 12345)
      .map(_ => (32 + rnd.nextInt(95)).toChar).mkString
    val docs = Seq((1L, big)).toDF("doc_id", "text")
    val re = graft.queries.Dedup.cdcChunks(docs)
      .groupBy("doc_id")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(idx, chunk))), x -> x.chunk), '')").as("re"))
      .head().getString(1)
    assert(re == big, "1MB document did not reconstruct from its chunks")
  }

  test("e08's draw domain covers the whole corpus — id 0 is sampleable") {
    import spark.implicits._
    // the r7-flagged edge: the old [1, max(doc_id)] draw could never
    // sample doc id 0. The dense-rank domain draws ranks 0..n-1, so
    // on a sparse universe INCLUDING id 0, the sampler must (a) emit
    // only real doc ids and (b) reach id 0 (deterministic md5 draws —
    // a pinned fact for this universe, not a probabilistic gamble)
    val docs = Seq(0L, 7L, 13L, 21L, 50L, 99L, 100L).toDF("doc_id")
    val noLabels = Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    val got = graft.queries.PipelineOps
      .negativeSample(spark, docs, noLabels)
      .as[(Long, Long, Long)].collect()
    val universe = Set(0L, 7L, 13L, 21L, 50L, 99L, 100L)
    assert(got.nonEmpty && got.forall(r => universe.contains(r._3)),
      s"sampled ids must be real docs: ${got.mkString(",")}")
    assert(got.exists(_._3 == 0L),
      s"id 0 must be reachable as a negative: ${got.mkString(",")}")
  }

  test("d14's hit counting is a broadcast join, not a literal IN-list") {
    import spark.implicits._
    // the one literal-IN-list plan VERDICT-r7 flagged: fine at the
    // board's sample scope, but the pattern a user copies must be the
    // one that survives a large truth set. Assert the replacement both
    // counts correctly and plans as a broadcast join with no IN-list.
    val truth = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val cands = Seq((1L, 2L), (5L, 6L), (3L, 4L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val counted = graft.queries.Dedup.hitCounts(cands, truth)
    val r = counted.head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L,
      s"expected (4 candidates, 2 hits), got (${r.getLong(0)}, ${r.getLong(1)})")
    val plan = counted.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"hit counting must broadcast the truth side:\n$plan")
    assert(!plan.contains(" IN (") && !plan.contains("INSET"),
      s"no literal IN-list may appear in the hit plan:\n$plan")
  }

  test("filtered search is a PRE-filter: predicate holds, k never starves") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the law that distinguishes s21 from post-filtering s01: every
    // returned neighbor passes the metadata predicate, every probe
    // still gets its full k (ranked among survivors), and on this
    // fixture the naive rank-then-filter alternative measurably
    // starves — if it didn't, the pre-filter design would be
    // unfalsifiable here
    val keep = graft.core.Tables.documents(spark, sf)
      .filter(col("lang").isin("de", "fr"))
      .select(col("doc_id")).as[Long].collect().toSet
    val s21 = graft.queries.Similarity.s21FilteredTopK(spark, sf)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
    assert(s21.forall(r => keep.contains(r._2)),
      "s21 returned a neighbor failing the predicate")
    val perProbe = s21.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perProbe.size == 10 && perProbe.values.forall(_ == 5),
      s"every probe must get its full k=5 from the filtered pool: $perProbe")
    val postFiltered = graft.queries.Similarity.s01CosineTopK(spark, sf)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
      .filter(r => keep.contains(r._2))
    assert(postFiltered.length < s21.length,
      s"rank-then-filter kept ${postFiltered.length} of ${s21.length} — " +
        "expected starvation on a ~27%-selective predicate")
    // the ANN tiers obey the same predicate law across BOTH index
    // families (LSH buckets and IVF cells)
    val s22 = graft.queries.Similarity.s22FilteredAnnLsh(spark, sf)
      .select("neighbor_id").as[Long].collect()
    assert(s22.forall(keep.contains),
      "s22 returned a neighbor failing the predicate")
    val s28 = graft.queries.Similarity.s28FilteredIvf(spark, sf)
      .select("neighbor_id").as[Long].collect()
    assert(s28.nonEmpty && s28.forall(keep.contains),
      "s28 returned a neighbor failing the predicate (or none at all)")
  }

  test("multiprobe dominates single-probe: hits are monotone, recall rises") {
    import spark.implicits._
    // the law that makes s24 a DIAL and not a different index: its
    // candidate pool is a strict superset of s02's, and an exact-top-5
    // member found by single-probe can never be displaced from the
    // multiprobe top-5 (any candidate outranking it would outrank it
    // in the exact order too, and there are at most 4 of those in the
    // whole corpus) — so the hit set is monotone per probe, and
    // recall_at_5 is ≥ s05's as a theorem, not a fixture accident
    def hits(ann: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val exact = graft.queries.Similarity.s01CosineTopK(spark, sf)
        .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
      ann.select("probe_id", "neighbor_id").as[(Long, Long)]
        .collect().toSet.intersect(exact)
    }
    val single = hits(graft.queries.Similarity.s02AnnLsh(spark, sf))
    val multi = hits(graft.queries.Similarity.s24MultiprobeAnn(spark, sf))
    assert(single.subsetOf(multi),
      s"multiprobe lost single-probe hits: ${single.diff(multi)}")
    // on this fixture the radius-1 ball must find MORE than the home
    // bucket alone — otherwise the dial is unfalsifiable here
    assert(multi.size > single.size,
      s"expected a measured recall lift: single=${single.size} multi=${multi.size}")
    val recall = graft.queries.Similarity.s25MultiprobeRecall(spark, sf)
      .select("recall_at_5").as[Double].head()
    assert(math.abs(recall - multi.size / 50.0) < 1e-9,
      s"s25's reported recall must equal the measured hit fraction: $recall")
    // the composed tier (s26) inherits BOTH parents' laws: every
    // result passes the predicate, and its hits against the
    // filtered-exact truth dominate the filtered single-probe's
    val keep = graft.core.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("lang").isin("de", "fr"))
      .select("doc_id").as[Long].collect().toSet
    val fExact = graft.queries.Similarity.s21FilteredTopK(spark, sf)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val s26rows = graft.queries.Similarity.s26FilteredMultiprobe(spark, sf)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
    assert(s26rows.forall(r => keep.contains(r._2)),
      "s26 returned a neighbor failing the predicate")
    val fSingle = graft.queries.Similarity.s22FilteredAnnLsh(spark, sf)
      .select("probe_id", "neighbor_id").as[(Long, Long)]
      .collect().toSet.intersect(fExact)
    val fMulti = s26rows.toSet.intersect(fExact)
    assert(fSingle.subsetOf(fMulti),
      s"filtered multiprobe lost filtered single-probe hits: ${fSingle.diff(fMulti)}")
    assert(fMulti.size > fSingle.size,
      s"expected a measured filtered-recall lift: single=${fSingle.size} multi=${fMulti.size}")
  }

  test("canonical keep picks the best copy, not the smallest id") {
    import spark.implicits._
    // p09's three laws against the engine's own parents: the kept doc
    // is a member of its cluster, it carries the cluster-max quality
    // score, and for at least one cluster it is NOT the min-id doc —
    // i.e. the quality argmax genuinely overrides d07's arbitrary
    // canonical, which is the query's reason to exist
    val members = graft.queries.Dedup.d07DupClusters(spark, sf)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val score = graft.queries.PipelineOps.e06LrQualityScore(spark, sf)
      .select("doc_id", "p_scaled").as[(Long, Long)].collect().toMap
    val keep = graft.queries.PipelineOps.p09CanonicalKeep(spark, sf)
      .select("cluster_id", "keep_id", "keep_p_scaled", "n_members")
      .as[(Long, Long, Long, Long)].collect()
    assert(keep.nonEmpty && keep.forall(k => members(k._1).contains(k._2)),
      "every kept doc must belong to its cluster")
    assert(keep.forall(k => k._3 == members(k._1).map(score).max),
      "the kept doc must carry the cluster-max quality score")
    assert(keep.forall(k => k._4 == members(k._1).size),
      "n_members must count the full cluster")
    assert(keep.exists(k => k._2 != members(k._1).min),
      "quality argmax never overrode min-id on this fixture — unfalsifiable")
  }

  test("hybrid RRF actually fuses: both arms contribute, agreement outranks") {
    import spark.implicits._
    // the law that makes s30 a FUSION and not a re-sort of one arm:
    // the fused top-5 mixes vector-ranked and keyword-only docs, and
    // a doc both arms voted for carries rrf ≥ 2/65 — strictly above
    // any single-arm doc's 1/61 ceiling, so agreement always wins
    // (a theorem of depth-5 lists under the k=60 constant)
    val fused = graft.queries.Similarity.s30HybridRrf(spark, sf)
      .select("probe_id", "doc_id", "rrf").as[(Long, Long, Double)].collect()
    val byProbe = fused.groupBy(_._1)
    assert(byProbe.size == 10 && byProbe.values.forall(_.length == 5),
      s"expected 10 probes x fused top-5, got ${byProbe.view.mapValues(_.length).toMap}")
    val vec = graft.queries.Similarity.s01CosineTopK(spark, sf)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val kwOnly = fused.count(r => !vec.contains((r._1, r._2)))
    assert(kwOnly > 0, "keyword arm surfaced nothing the vector arm missed")
    assert(kwOnly < fused.length, "vector arm contributed nothing to the fusion")
    val bothArms = fused.filter(_._3 >= 2.0 / 65 - 1e-9)
    assert(bothArms.nonEmpty,
      "no doc carried both arms' votes on this fixture — fusion unfalsifiable")
    assert(bothArms.forall(r => vec.contains((r._1, r._2))),
      "a both-arm rrf value must come from a vector-ranked doc")
  }

  test("q68 refuses a 20-node clique loudly instead of exploding") {
    import spark.implicits._
    val clique = (for (a <- 1L to 20L; b <- a + 1 to 20L) yield (a, b))
      .toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      graft.queries.Dedup.recursiveClusters(spark, clique)
    }
    assert(e.getMessage.contains("20 nodes") &&
      e.getMessage.contains("d07DupClusters"),
      s"guard message must name the size and the alternative: ${e.getMessage}")
    // a 12-node CLIQUE passes the node-count bound but enumerates
    // ~1.3e9 simple-path rows (every path start is a directed edge,
    // so the blowup is ~10× what a single-anchor estimate suggests) —
    // the density-aware tier must refuse it...
    val clique12 = (for (a <- 1L to 12L; b <- a + 1 to 12L) yield (a, b))
      .toDF("doc_a", "doc_b")
    val e12 = intercept[IllegalStateException] {
      graft.queries.Dedup.recursiveClusters(spark, clique12)
    }
    assert(e12.getMessage.contains("12 nodes") &&
      e12.getMessage.contains("d07DupClusters"),
      s"density guard must refuse the 12-clique: ${e12.getMessage}")
    // ...while a 12-node CHAIN of the same node count (est ~22 rows)
    // walks fine — size alone is not the hazard, density is
    val chain12 = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val chainGot = graft.queries.Dedup.recursiveClusters(spark, chain12)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(chainGot == (1L to 12L).map(i => (i, 1L, i == 1L)).toSet,
      "12-chain must resolve to one component rooted at 1")
    graft.queries.Dedup.releaseCaches()
    // a dense CORE inside a sparse component: 10-clique + 2 pendant
    // nodes. The avg-degree model (2m/n ≈ 3.9) estimated ~3.6e5 and
    // ADMITTED it while the true walk enumerates ~1e7 prefix rows;
    // the max-degree model (dmax = 10) must refuse it
    val corePlusPendants = ((for (a <- 1L to 10L; b <- a + 1 to 10L)
      yield (a, b)) ++ Seq((1L, 11L), (2L, 12L))).toDF("doc_a", "doc_b")
    val eCore = intercept[IllegalStateException] {
      graft.queries.Dedup.recursiveClusters(spark, corePlusPendants)
    }
    assert(eCore.getMessage.contains("max degree") &&
      eCore.getMessage.contains("d07DupClusters"),
      s"max-degree guard must refuse the dense core: ${eCore.getMessage}")
    // and a graph within the bound still resolves through the walk
    val small = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = graft.queries.Dedup.recursiveClusters(spark, small)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)))
    graft.queries.Dedup.releaseCaches()
  }

  test("q68 recursive CTE equals d07's pointer-jumping labels exactly") {
    import spark.implicits._
    val rec = SparkEntry.queries("q68_recursive_clusters")(spark, sf)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    val loop = SparkEntry.queries("d07_dup_clusters")(spark, sf)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(rec == loop, s"recursive=${rec.size} loop=${loop.size}")
    assert(rec.nonEmpty)
  }

  test("CDC cap-after equals cap-before, incl. an over-cap boilerplate chunk") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(13)
    def words(n: Int) = Seq.fill(n)("w" + rnd.nextInt(100000)).mkString(" ")
    val boiler = words(60) // shared verbatim by all 70 → df 70 > 64 cap
    val span = words(80)   // shared by exactly docs 1001/1002 → kept
    val docs = ((1 to 70).map(i => (i.toLong, s"p$i " + boiler)) ++ Seq(
      (1001L, words(5) + " " + span),
      (1002L, words(9) + " " + span))).toDF("doc_id", "text")
    // st21's shape: pair rows from signatures, global cap applied last
    val sigs = graft.queries.Dedup.cdcSigs(docs)
    val shared = sigs.as("a").join(sigs.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.h").as("h"), col("a.clen").as("clen"))
    val capAfter = graft.queries.Dedup.cdcPairsFinal(shared, sigs)
      .as[(Long, Long, Long, Long)].collect().toSet
    val capBefore = graft.queries.Dedup.cdcOverlap(docs)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(capAfter == capBefore,
      s"cap-after ${capAfter.size} pairs != cap-before ${capBefore.size}")
    assert(capAfter.exists(p => p._1 == 1001L && p._2 == 1002L),
      "the rare planted pair must survive the cap")
    // the four df=70 chunks would alone produce 70·69/2 = 2415 pairs;
    // the cap drops them all. The pairs that remain inside the
    // boilerplate group ride RARE chunks (different prefix lengths
    // shift an early breakpoint to the same boiler offset in a couple
    // of docs — CDC's alignment property, correctly uncapped): a
    // handful, not thousands.
    val boilerPairs = capAfter.count(p => p._1 <= 70L && p._2 <= 70L)
    assert(boilerPairs <= 5,
      s"df cap failed: $boilerPairs boilerplate-group pairs survived")
  }

  test("bucketed dedup store probes scan only the batch's buckets") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = graft.core.Staging.tempAtExit("graft_storeprune_spec_")
    // 4 "batch" appends, 16k keys spread across all 16 buckets — the
    // st20/st21 store layout (partitionBy over pmod(hash(key), N))
    (0 until 4).foreach { b =>
      (b * 4000 until (b + 1) * 4000).toDF("k")
        .withColumn("bucket", graft.streaming.EventStreams.bucketOf(col("k")))
        .write.partitionBy("bucket").mode("append").parquet(dir)
    }
    def partFiles(f: java.io.File): Int =
      Option(f.listFiles()).map(_.map(c =>
        if (c.isDirectory) partFiles(c)
        else if (c.getName.startsWith("part-")) 1 else 0).sum).getOrElse(0)
    val total = partFiles(new java.io.File(dir))
    // a small batch probing one key resolves to one bucket dir,
    // exactly how the gates derive their probe set (the explicit
    // IN-list is deliberate: DPP's selectivity heuristic declines
    // these probe shapes — see prunedStore's docstring)
    val buckets = Seq(17).toDF("k")
      .select(graft.streaming.EventStreams.bucketOf(col("k")).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val probe = graft.streaming.EventStreams.prunedStore(spark, dir, buckets)
    assert(probe.collect().length >= 1, "probed bucket must contain its key")
    val scans = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "probe must be a file-source scan")
    // non-vacuous: the scan ALWAYS renders "PartitionFilters: [", so
    // assert a bucket predicate actually sits inside that segment
    val scanStr = scans.head.toString
    val pf = scanStr.substring(scanStr.indexOf("PartitionFilters: ["))
    assert(pf.take(pf.indexOf("]") + 1).contains("bucket#"),
      s"bucket IN-list must land in PartitionFilters, not a post-scan filter:\n" +
        scanStr.take(400))
    val scanned = scans.map(_.metrics("numFiles").value).sum
    assert(scanned > 0 && scanned * 10 < total,
      s"per-batch probe must scan ~1/16 of the store, got $scanned of $total files")
  }

  test("ANN store serving scans only the probed buckets' files") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    // st24/st25's serve-time scale claim: the store read is a
    // PARTITION filter over the probes' buckets, so a one-probe
    // query lists and scans one bucket dir of a many-batch store —
    // asserted on the same annStoreSlice the serve path runs
    val store = graft.core.Staging.tempAtExit("graft_annslice_spec_")
    val emb = graft.core.Tables.embeddings(spark, sf)
    (0 until 4).foreach { b =>
      graft.streaming.EventStreams.st24Batch(
        emb.filter(pmod(col("vec_id"), lit(4)) === b), store)
    }
    def partFiles(f: java.io.File): Int =
      Option(f.listFiles()).map(_.map(c =>
        if (c.isDirectory) partFiles(c)
        else if (c.getName.startsWith("part-")) 1 else 0).sum).getOrElse(0)
    val total = partFiles(new java.io.File(store))
    // one probe vector → one bucket, derived exactly as the serve does
    val bucket = emb.filter(col("vec_id") === 0)
      .selectExpr("transform(embedding, x -> cast(x AS double)) AS pv")
      .selectExpr("graft_lsh_bucket(pv) AS plsh")
      .select(graft.streaming.EventStreams.bucketOf(col("plsh")).as("pb"))
      .as[Int].head()
    val slice = graft.streaming.EventStreams.annStoreSlice(spark, store, Seq(bucket))
    // collect (not count) so THIS frame's queryExecution carries the
    // populated scan metrics the assertions read
    assert(slice.collect().length > 0, "probed bucket must hold vectors")
    val scans = slice.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val scanStr = scans.head.toString
    val pf = scanStr.substring(scanStr.indexOf("PartitionFilters: ["))
    assert(pf.take(pf.indexOf("]") + 1).contains("bucket#"),
      s"bucket IN-list must land in PartitionFilters:\n${scanStr.take(400)}")
    val scanned = scans.map(_.metrics("numFiles").value).sum
    assert(scanned > 0 && scanned * 4 < total,
      s"one-bucket serve must scan a fraction of the store: $scanned of $total files")
  }

  test("bucketOfLong agrees with the Column-side bucketOf over random ids") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the law st20Batch's local shingle-bucket derivation rests on:
    // driver-side Murmur3 (seed 42) must match Spark's hash() for
    // BIGINT keys exactly, or the store would silently probe wrong
    // buckets. Random longs incl. negatives, 0, and the extremes.
    val rnd = new scala.util.Random(77)
    val ids = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue) ++
      Seq.fill(200)(rnd.nextLong())
    val viaCol = ids.toDF("k")
      .select(col("k"), graft.streaming.EventStreams.bucketOf(col("k")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    ids.foreach { id =>
      assert(graft.streaming.EventStreams.bucketOfLong(id) == viaCol(id),
        s"driver/executor bucket mismatch for $id")
    }
  }

  test("st21's per-batch scan volume is proportional to the batch, measured in-flight") {
    import spark.implicits._
    // the VERDICT-r6 'done =' clause, verbatim: a metrics spec showing
    // per-batch scanned volume proportional to the batch, not the
    // corpus — measured through st21Batch itself via a
    // QueryExecutionListener capturing the signature-store scans the
    // pairs job actually executes
    def mkWords(rnd: scala.util.Random): Int => String =
      n => Seq.fill(n)("w" + rnd.nextInt(100000)).mkString(" ")
    // 6 preload batches of diverse-vocab docs → chunks spread over all
    // 16 buckets, many store files
    val sigStore = graft.core.Staging.tempAtExit("graft_st21met_sigs_")
    val pairDir = graft.core.Staging.tempAtExit("graft_st21met_pairs_")
    val words = mkWords(new scala.util.Random(43))
    (0 until 6).foreach { b =>
      val docs = ((b * 20 + 1) to (b * 20 + 15))
        .map(i => (i.toLong, words(60))).toDF("doc_id", "text")
      graft.streaming.EventStreams.st21Batch(docs, sigStore, pairDir)
    }
    def partFiles(f: java.io.File): Int =
      Option(f.listFiles()).map(_.map(c =>
        if (c.isDirectory) partFiles(c)
        else if (c.getName.startsWith("part-")) 1 else 0).sum).getOrElse(0)
    val total = partFiles(new java.io.File(sigStore))
    assert(total >= 32, s"preload must spread files across buckets, got $total")
    // capture every sigStore scan the next batch executes
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      // the slice is cached in st21Batch, so its file scan lives in
      // the InMemoryRelation's cached plan — traverse into it
      def storeScans(p: org.apache.spark.sql.execution.SparkPlan): Unit =
        p.foreach {
          case fs: org.apache.spark.sql.execution.FileSourceScanExec
            if fs.relation.location.rootPaths.exists(_.toString.contains(
              new java.io.File(sigStore).getName)) =>
            scans.add(fs.metrics("numFiles").value)
          case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            storeScans(im.relation.cachedPlan)
          // AQE wraps the real plan and hides it from foreach
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            storeScans(a.executedPlan)
          case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            storeScans(qs.plan)
          case _ => ()
        }
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        storeScans(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // a tiny probe batch: one doc, one long span → a handful of
      // chunks → a handful of buckets (its own rng)
      val probeWords = mkWords(new scala.util.Random(47))
      val probe = Seq((900L, probeWords(40))).toDF("doc_id", "text")
      graft.streaming.EventStreams.st21Batch(probe, sigStore, pairDir)
      // listener delivery is async — poll until the store scan lands
      val deadline = System.nanoTime() + 10e9.toLong
      while (scans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!scans.isEmpty, "no sigStore scan captured from the probe batch")
      import scala.jdk.CollectionConverters._
      val maxScanned = scans.asScala.max
      assert(maxScanned > 0 && maxScanned * 3 < total,
        s"probe batch scanned $maxScanned of $total store files — " +
          "per-batch volume must track the batch's buckets, not the corpus")
    } finally spark.listenerManager.unregister(listener)
  }

  test("st20 streamed band probes equal the direct new×corpus join under random splits") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.VectorExpressions.register(spark)
    // the band-tier replay law, fuzzed like st21's: corpus docs arrive
    // in random batch splits, arrivals last — but a random ~quarter of
    // the corpus rides IN the arrivals batch itself, pinning the
    // mixed-batch contract (same-batch arrival×corpus pairs must
    // surface: the probe side is store ∪ own-batch corpus). The
    // quarantine set must equal the direct exact-jaccard join of
    // arrivals × corpus. Minhash banding is deterministic given text,
    // so equality is a replayed fact per seed, not a probabilistic
    // gamble.
    for (seed <- Seq(201, 202, 203)) {
      val rnd = new scala.util.Random(seed)
      def words(n: Int) = Seq.fill(n)("w" + rnd.nextInt(30000)).mkString(" ")
      val spans = Seq.fill(4)(words(40))
      def doc(i: Long, isNew: Boolean) = {
        val t = rnd.nextInt(10) match {
          case v if v <= 3 => words(1 + rnd.nextInt(4)) + " " +
            spans(rnd.nextInt(4)) + " " + words(rnd.nextInt(4))
          case _ => words(20 + rnd.nextInt(20))
        }
        (i, t, isNew)
      }
      val corpus = (1 to 40 + rnd.nextInt(20)).map(i => doc(i.toLong, false))
      val arrivals = (1001 to 1012).map(i => doc(i.toLong, true))
      val nB = 2 + rnd.nextInt(2)
      val (early, withArrivals) = corpus.partition(_ => rnd.nextInt(4) > 0)
      val corpusBatches = early.groupBy(_ => rnd.nextInt(nB)).values.toSeq
      val dirs = Seq("bands", "sh", "out")
        .map(t => graft.core.Staging.tempAtExit(s"graft_st20fz${seed}_${t}_"))
      (corpusBatches :+ (withArrivals ++ arrivals)).foreach { b =>
        graft.streaming.EventStreams.st20Batch(
          b.toDF("doc_id", "text", "is_new"), dirs(0), dirs(1), dirs(2))
      }
      val got = spark.read
        .schema("new_id BIGINT, corpus_id BIGINT, jaccard DOUBLE")
        .parquet(dirs(2)).as[(Long, Long, Double)].collect().toSet
      val all = (corpus ++ arrivals).toDF("doc_id", "text", "is_new")
        .withColumn("sh", expr("graft_shingles(text)"))
        .filter(size(col("sh")) > 0)
      val want = all.filter(col("is_new"))
        .select(col("doc_id").as("new_id"), col("sh").as("sha"))
        .crossJoin(all.filter(!col("is_new"))
          .select(col("doc_id").as("corpus_id"), col("sh").as("shb")))
        .withColumn("common",
          size(array_intersect(col("sha"), col("shb"))).cast("long"))
        .withColumn("jaccard", col("common") /
          (size(col("sha")) + size(col("shb")) - col("common")).cast("long"))
        .filter(col("jaccard") >= 0.5)
        .select(col("new_id"), col("corpus_id"), col("jaccard"))
        .as[(Long, Long, Double)].collect().toSet
      assert(want.nonEmpty, s"seed $seed: fixture must produce pairs")
      assert(got == want,
        s"seed $seed (${corpusBatches.size}+1 batches): " +
          s"streamed ${got.size} != direct ${want.size}")
    }
  }

  test("streaming dedup funnel guard: over-threshold candidates stay distributed, same answers") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.VectorExpressions.register(spark)
    // the VERDICT-r8 'done =' clause: one batch whose candidate pairs
    // EXCEED the guard, both paths hash-equal. Every doc carries the
    // same long span, so every arrival band-matches every corpus doc —
    // candidates = arrivals × corpus (80 pairs), the boilerplate
    // blow-up the funnel guard exists for. candFunnelMax=1 forces the
    // distributed path; the default (100000) takes the broadcast-local
    // path; outputs must be identical row sets.
    val rnd = new scala.util.Random(77)
    def words(n: Int) = Seq.fill(n)("w" + rnd.nextInt(30000)).mkString(" ")
    val span = words(60)
    val corpus = (1L to 10L).map(i => (i, span + " " + words(2), false))
    val arrivals = (101L to 108L).map(i => (i, span + " " + words(2), true))
    // PLAN ASSERTION rider: answer equality alone would let a refactor
    // silently re-broadcast the unbounded frames on the distributed
    // path — the exact property the guard buys. Every pair/quarantine
    // WRITE is captured by output dir (the analyzed plan's
    // InsertIntoHadoopFsRelationCommand), counting broadcast
    // ResolvedHints in its subtree: the local path must carry ≥1 (the
    // positive control proving the detector sees hints) and the
    // distributed path ZERO — AQE may still broadcast a side it
    // MEASURES as small at runtime, which is the safe, size-checked
    // decision; the spec bans only the unconditional compile-time hint.
    case class WriteStats(events: Int, hints: Int)
    val writeStats =
      new java.util.concurrent.ConcurrentHashMap[String, WriteStats]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = {
        qe.analyzed.collectFirst {
          case c: org.apache.spark.sql.execution.datasources
              .InsertIntoHadoopFsRelationCommand => c.outputPath.getName
        }.foreach { dir =>
          val hints = qe.analyzed.collect {
            case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
              if h.hints.strategy.contains(
                org.apache.spark.sql.catalyst.plans.logical.BROADCAST) => h
          }.size
          writeStats.merge(dir, WriteStats(1, hints),
            (a, b) => WriteStats(a.events + b.events, a.hints + b.hints))
        }
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    def runSt20(tag: String): (Set[(Long, Long, Double)], String) = {
      val dirs = Seq("bands", "sh", "out")
        .map(t => graft.core.Staging.tempAtExit(s"graft_fg20${tag}_${t}_"))
      Seq(corpus, arrivals).foreach { b =>
        graft.streaming.EventStreams.st20Batch(
          b.toDF("doc_id", "text", "is_new"), dirs(0), dirs(1), dirs(2))
      }
      (spark.read.schema("new_id BIGINT, corpus_id BIGINT, jaccard DOUBLE")
        .parquet(dirs(2)).as[(Long, Long, Double)].collect().toSet,
        new java.io.File(dirs(2)).getName)
    }
    def runSt21(tag: String): (Set[(Long, Long, Long, Long)], String) = {
      val sigStore = graft.core.Staging.tempAtExit(s"graft_fg21${tag}_sigs_")
      val pairDir = graft.core.Staging.tempAtExit(s"graft_fg21${tag}_pairs_")
      Seq(corpus, arrivals).foreach { b =>
        graft.streaming.EventStreams.st21Batch(
          b.map(x => (x._1, x._2)).toDF("doc_id", "text"), sigStore, pairDir)
      }
      val shared = spark.read
        .schema("doc_a BIGINT, doc_b BIGINT, h STRING, clen BIGINT")
        .parquet(pairDir)
      val allSigs = spark.read
        .schema("doc_id BIGINT, h STRING, clen BIGINT").parquet(sigStore)
      (graft.queries.Dedup.cdcPairsFinal(shared, allSigs)
        .as[(Long, Long, Long, Long)].collect().toSet,
        new java.io.File(pairDir).getName)
    }
    try {
      val (local20, locOut20) = runSt20("loc")
      val (local21, locOut21) = runSt21("loc")
      assert(local20.size == 80,
        s"fixture must produce arrivals×corpus candidates, got ${local20.size}")
      assert(local21.nonEmpty, "st21 fixture must produce shared-chunk pairs")
      spark.conf.set("spark.graft.candFunnelMax", "1")
      val (dist20, distOut20, dist21, distOut21) =
        try {
          val (d20, o20) = runSt20("dist")
          val (d21, o21) = runSt21("dist")
          (d20, o20, d21, o21)
        } finally spark.conf.unset("spark.graft.candFunnelMax")
      assert(dist20 == local20,
        "st20 distributed funnel path must equal the broadcast-local path")
      assert(dist21 == local21,
        "st21 shuffle-join path must equal the broadcast path")
      // listener delivery is async — poll until every expected write
      // landed (st20: 1 quarantine write per run — the corpus-only
      // first batch never probes; st21: 2 pair writes per run)
      val deadline = System.nanoTime() + 30e9.toLong
      def st(d: String) = Option(writeStats.get(d)).getOrElse(WriteStats(0, 0))
      def missing = Seq(locOut20 -> 1, distOut20 -> 1,
        locOut21 -> 2, distOut21 -> 2)
        .filter { case (d, n) => st(d).events < n }
      while (missing.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      // distinguish listener-bus event loss (an infra flake) from a
      // genuine hint regression before any equality assert runs
      assert(missing.isEmpty,
        s"listener events missing after 30s (bus drop?): " +
          missing.map { case (d, n) => s"$d got ${st(d).events}/$n" }
            .mkString(", "))
      assert(st(locOut20).hints >= 1 && st(locOut21).hints >= 1,
        s"detector control: the local-path writes must carry broadcast " +
          s"hints, got st20=${st(locOut20)} st21=${st(locOut21)}")
      assert(st(distOut20) == WriteStats(1, 0),
        s"st20's distributed quarantine write must be broadcast-hint-free, " +
          s"got ${st(distOut20)}")
      assert(st(distOut21) == WriteStats(2, 0),
        s"st21's distributed pair writes must be broadcast-hint-free, " +
          s"got ${st(distOut21)}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("st27 refresh: a df-capped chunk cools below the cap and pairs surface") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the cap-recompute law behind st27's oracle: 66 corpus docs share
    // a span, so its chunks are df-capped (>64) and emit no pairs;
    // the refresh deletes 10 of them (df 56 <= 64), restarts the
    // quarantine window, and the arrival batch's probe — seeing
    // exactly the post-delete frequencies — must pair with EVERY
    // survivor. A cap computed over the original corpus (or a log
    // retaining pre-refresh segments) breaks this fixture loudly.
    val rnd = new scala.util.Random(91)
    def words(n: Int) = Seq.fill(n)("w" + rnd.nextInt(30000)).mkString(" ")
    val span = words(60)
    val corpus = (1L to 66L).map(i => (i, span + " " + words(2)))
    val sigStore = graft.core.Staging.tempAtExit("graft_st27spec_sigs_")
    val pairDir = graft.core.Staging.tempAtExit("graft_st27spec_pairs_")
    graft.streaming.EventStreams.st21Batch(
      corpus.toDF("doc_id", "text"), sigStore, pairDir)
    val sigSchema = "doc_id BIGINT, h STRING, clen BIGINT"
    val dfMax = spark.read.schema(sigSchema).parquet(sigStore)
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .agg(max(col("df"))).as[Long].head()
    assert(dfMax == 66L,
      s"fixture must make the span's chunks df-capped (66 > 64), got $dfMax")
    val deleted = corpus.map(_._1).filter(_ % 7 == 3)
    assert(deleted.size == 10)
    graft.streaming.EventStreams.deleteFromStore(
      spark, sigStore, "doc_id", deleted.toDF("doc_id"))
    graft.streaming.EventStreams.restartAppendLog(pairDir, ttlMs = 50)
    graft.streaming.EventStreams.st21Batch(
      Seq((101L, span + " " + words(2))).toDF("doc_id", "text"),
      sigStore, pairDir)
    val out = graft.queries.Dedup.cdcPairsFinal(
      spark.read.schema("doc_a BIGINT, doc_b BIGINT, h STRING, clen BIGINT")
        .parquet(pairDir),
      spark.read.schema(sigSchema).parquet(sigStore))
      .as[(Long, Long, Long, Long)].collect()
    val survivors = corpus.map(_._1).toSet -- deleted
    assert(out.forall(r => r._2 == 101L && survivors(r._1)),
      s"post-refresh pairs must be arrival x survivor only: ${out.toSeq.take(5)}")
    assert(out.map(_._1).toSet == survivors,
      s"the cooled chunk must pair the arrival with EVERY survivor " +
        s"(got ${out.length} of ${survivors.size})")
  }

  test("st27's log restart expires every pre-refresh part file and no post-refresh one") {
    import spark.implicits._
    // restartAppendLog runs straight after the last append, with a
    // TTL far above a batch's commit tail: without its mtime-derived
    // wait, that append's files are younger than the TTL and would
    // survive the restart
    val es = graft.streaming.EventStreams
    val sigStore = graft.core.Staging.tempAtExit("graft_restart_sigs_")
    val pairDir = graft.core.Staging.tempAtExit("graft_restart_pairs_")
    val shared = Seq.tabulate(40)(i => s"s$i").mkString(" ")
    def batch(ids: Range) =
      ids.map(i => (i.toLong, s"$shared tail$i")).toDF("doc_id", "text")
    def parts(): Set[String] = {
      def walk(f: java.io.File): Seq[String] =
        Option(f.listFiles()).toSeq.flatten.flatMap(c =>
          if (c.isDirectory) walk(c)
          else if (c.getName.startsWith("part-")) Seq(c.getPath) else Nil)
      walk(new java.io.File(pairDir)).toSet
    }
    es.st21Batch(batch(1 to 4), sigStore, pairDir)
    es.st21Batch(batch(5 to 8), sigStore, pairDir)
    assert(parts().nonEmpty, "the pre-refresh batches must log pairs")
    es.restartAppendLog(pairDir, ttlMs = 1500)
    assert(parts().isEmpty, s"pre-refresh part files survived: ${parts()}")
    es.st21Batch(batch(9 to 12), sigStore, pairDir)
    // the log now holds the post-refresh batch's pairs, and only those
    val docB = spark.read.parquet(pairDir).select("doc_b").as[Long].collect()
    assert(docB.nonEmpty && docB.forall(_ >= 9), docB.toSeq)
  }

  test("store machinery resolves scheme-qualified paths through the Hadoop FS API") {
    import spark.implicits._
    // the cluster path shape: store dirs addressed as URIs
    // (fs.defaultFS-resolved on a real cluster). java.io.File silently
    // read these as empty local dirs; the Hadoop-FS port must treat
    // file:-qualified and bare paths identically — every store
    // operation (emptiness, file census, fold+swap, expiry)
    // round-trips here on a file: URI.
    val dir = graft.core.Staging.tempAtExit("graft_fsuri_")
    val uri = "file://" + dir
    val es = graft.streaming.EventStreams
    assert(!es.storeNonEmpty(uri), "fresh store must read empty via URI")
    Seq((1L, 0), (2L, 1)).toDF("doc_id", "bucket")
      .write.partitionBy("bucket").mode("append").parquet(uri)
    assert(es.storeNonEmpty(uri), "appended store must read non-empty via URI")
    assert(es.maxFilesPerBucket(uri) >= 1)
    es.deleteFromStore(spark, uri, "doc_id", Seq(1L).toDF("doc_id"))
    val left = spark.read.parquet(uri).select("doc_id").as[Long].collect().toSet
    assert(left == Set(2L), s"tombstone fold through a URI store: $left")
    assert(es.maxFilesPerBucket(uri) == 1,
      "the fold's swap must leave one file per bucket on the URI store")
    Thread.sleep(100)
    es.expireAppendLog(uri, ttlMs = 50)
    assert(!es.storeNonEmpty(uri),
      "expiry through a URI store must drop the aged part files")
  }

  test("tombstone fold: deleted docs leave the stores and never match again") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.VectorExpressions.register(spark)
    // the VERDICT-r8 retention gate: ingest, delete a doc set,
    // re-probe — the deleted docs must neither appear in the store
    // files nor surface as matches, while surviving docs still match
    val rnd = new scala.util.Random(55)
    def words(n: Int) = Seq.fill(n)("w" + rnd.nextInt(30000)).mkString(" ")
    val span = words(60)
    val dirs = Seq("bands", "sh", "out")
      .map(t => graft.core.Staging.tempAtExit(s"graft_tomb_${t}_"))
    // docs 1 and 2 both carry the span; 2 will be tombstoned
    val corpus = Seq((1L, span + " " + words(2), false),
      (2L, span + " " + words(3), false), (3L, words(40), false))
    graft.streaming.EventStreams.st20Batch(
      corpus.toDF("doc_id", "text", "is_new"), dirs(0), dirs(1), dirs(2))
    graft.streaming.EventStreams.deleteFromStore(
      spark, dirs(0), "corpus_id", Seq(2L).toDF("corpus_id"))
    graft.streaming.EventStreams.deleteFromStore(
      spark, dirs(1), "doc_id", Seq(2L).toDF("doc_id"))
    assert(spark.read.parquet(dirs(0))
      .filter(col("corpus_id") === 2L).count() == 0,
      "band store must not retain the deleted doc's keys")
    assert(spark.read.parquet(dirs(1))
      .filter(col("doc_id") === 2L).count() == 0,
      "shingle store must not retain the deleted doc's set")
    assert(spark.read.parquet(dirs(0))
      .filter(col("corpus_id") === 1L).count() > 0,
      "tombstone fold must keep every surviving doc's rows")
    val arrival = Seq((101L, span + " " + words(2), true))
    graft.streaming.EventStreams.st20Batch(
      arrival.toDF("doc_id", "text", "is_new"), dirs(0), dirs(1), dirs(2))
    val got = spark.read
      .schema("new_id BIGINT, corpus_id BIGINT, jaccard DOUBLE")
      .parquet(dirs(2)).as[(Long, Long, Double)].collect()
    assert(got.map(_._2).toSet == Set(1L),
      s"probe must match the survivor and NEVER the ghost: ${got.toSeq}")
    // the ANN store (st24): same delete path keyed on vec_id
    val idx = graft.core.Staging.tempAtExit("graft_tomb_idx_")
    val vecs = (1L to 30L)
      .map(i => (i, Seq.fill(8)(rnd.nextDouble().toFloat * 2 - 1)))
      .toDF("vec_id", "embedding")
    graft.streaming.EventStreams.st24Batch(vecs, idx)
    graft.streaming.EventStreams.deleteFromStore(
      spark, idx, "vec_id", Seq(5L, 6L).toDF("vec_id"))
    val left = graft.streaming.EventStreams
      .annStoreSlice(spark, idx, 0 until 16)
      .select("vec_id").as[Long].collect().toSet
    assert(left == (1L to 30L).toSet -- Set(5L, 6L),
      s"ANN store after tombstones holds ${left.size} vectors")
    // pair-log retention: appends are the log segments — an expiry at
    // TTL drops exactly the old batches' part files, no rewrite
    val log = graft.core.Staging.tempAtExit("graft_tomb_log_")
    Seq((1L, 2L)).toDF("a", "b").write.mode("append").parquet(log)
    // age the first append past any TTL (mtime IS the append time)
    def ageParts(f: java.io.File): Unit =
      Option(f.listFiles()).foreach(_.foreach { c =>
        if (c.isDirectory) ageParts(c)
        else if (c.getName.startsWith("part-")) {
          assert(c.setLastModified(System.currentTimeMillis() - 1000000L)); ()
        }
      })
    ageParts(new java.io.File(log))
    Seq((3L, 4L)).toDF("a", "b").write.mode("append").parquet(log)
    graft.streaming.EventStreams.expireAppendLog(log, ttlMs = 500000L)
    val rows = spark.read.schema("a BIGINT, b BIGINT").parquet(log)
      .as[(Long, Long)].collect().toSet
    assert(rows == Set((3L, 4L)),
      s"expiry must drop exactly the aged append: $rows")
  }

  test("st21 streamed batches equal the batch oracle under randomized splits") {
    import spark.implicits._
    // fuzz the replay law: for random corpora (shared spans, over-cap
    // boilerplate, singletons) and RANDOM batch splits, the
    // accumulated pair rows capped once at the end must equal
    // cdcOverlap on the union — the d17 contract, not one fixture
    for (seed <- Seq(101, 102, 103)) {
      val rnd = new scala.util.Random(seed)
      def words(n: Int) = Seq.fill(n)("w" + rnd.nextInt(50000)).mkString(" ")
      val boiler = words(50)
      val spans = Seq.fill(3)(words(60))
      val docs = (1 to (60 + rnd.nextInt(30))).map { i =>
        val t = rnd.nextInt(10) match {
          case 0 | 1 => s"p$i " + boiler // boilerplate carriers
          case 2 | 3 | 4 =>
            words(1 + rnd.nextInt(6)) + " " + spans(rnd.nextInt(3)) // shared spans
          case _ => words(30 + rnd.nextInt(40)) // singletons
        }
        (i.toLong, t)
      }
      val nBatches = 2 + rnd.nextInt(3)
      val batches = docs.groupBy(_ => rnd.nextInt(nBatches)).values.toSeq
      val sigStore = graft.core.Staging.tempAtExit(s"graft_st21fz${seed}_s_")
      val pairDir = graft.core.Staging.tempAtExit(s"graft_st21fz${seed}_p_")
      batches.foreach { b =>
        graft.streaming.EventStreams.st21Batch(
          b.toDF("doc_id", "text"), sigStore, pairDir)
      }
      val shared = spark.read
        .schema("doc_a BIGINT, doc_b BIGINT, h STRING, clen BIGINT")
        .parquet(pairDir)
      val allSigs = spark.read
        .schema("doc_id BIGINT, h STRING, clen BIGINT").parquet(sigStore)
      val streamed = graft.queries.Dedup.cdcPairsFinal(shared, allSigs)
        .as[(Long, Long, Long, Long)].collect().toSet
      val oracle = graft.queries.Dedup.cdcOverlap(docs.toDF("doc_id", "text"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == oracle,
        s"seed $seed (${batches.size} batches): " +
          s"streamed ${streamed.size} != oracle ${oracle.size}")
    }
  }

  test("store compaction bounds files-per-bucket over a long replay, same answers") {
    import spark.implicits._
    // the file-growth gap VERDICT-r7 flagged: one file per bucket per
    // batch means a long-running ingest degrades listing and pruning
    // linearly with batch count. Replay 14 single-doc-heavy batches
    // through st21Batch (threshold 8 → at least one compaction fires)
    // and assert BOTH laws: (a) no bucket dir ever holds unboundedly
    // many part files — strictly fewer than a compaction-free replay
    // would leave and under the threshold+1 bound at the end; (b) the
    // capped pair output still equals cdcOverlap on the union — the
    // fold must be invisible to the replay law.
    val rnd = new scala.util.Random(301)
    def words(n: Int) = Seq.fill(n)("w" + rnd.nextInt(50000)).mkString(" ")
    val boiler = words(50)
    val spans = Seq.fill(3)(words(60))
    val docs = (1 to 84).map { i =>
      val t = rnd.nextInt(10) match {
        case 0 | 1 => s"p$i " + boiler
        case 2 | 3 | 4 => words(1 + rnd.nextInt(6)) + " " + spans(rnd.nextInt(3))
        case _ => words(30 + rnd.nextInt(40))
      }
      (i.toLong, t)
    }
    val batches = docs.grouped(6).toSeq // 14 batches
    val sigStore = graft.core.Staging.tempAtExit("graft_compact_s_")
    val pairDir = graft.core.Staging.tempAtExit("graft_compact_p_")
    var worstSeen = 0
    batches.foreach { b =>
      graft.streaming.EventStreams.st21Batch(
        b.toDF("doc_id", "text"), sigStore, pairDir)
      worstSeen = math.max(worstSeen,
        graft.streaming.EventStreams.maxFilesPerBucket(sigStore))
    }
    // (a) bounded growth: the threshold caps what a bucket can ever
    // accumulate (8 triggers the fold), so 14 appends must never show
    // 9+, and the final state reflects at least one fold having run
    assert(worstSeen <= 8,
      s"files-per-bucket must stay under the compaction threshold, saw $worstSeen")
    val endState = graft.streaming.EventStreams.maxFilesPerBucket(sigStore)
    assert(endState < batches.size,
      s"a compaction must have folded the store: $endState files in the " +
        s"worst bucket after ${batches.size} appends")
    // (b) answers unchanged by the folds
    val shared = spark.read
      .schema("doc_a BIGINT, doc_b BIGINT, h STRING, clen BIGINT")
      .parquet(pairDir)
    val allSigs = spark.read
      .schema("doc_id BIGINT, h STRING, clen BIGINT").parquet(sigStore)
    val streamed = graft.queries.Dedup.cdcPairsFinal(shared, allSigs)
      .as[(Long, Long, Long, Long)].collect().toSet
    val oracle = graft.queries.Dedup.cdcOverlap(docs.toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == oracle,
      s"compacted replay: streamed ${streamed.size} != oracle ${oracle.size}")
  }

  test("st21 prunes a one-batch boilerplate chunk via the combined store+batch df") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(29)
    def words(n: Int) = Seq.fill(n)("w" + rnd.nextInt(100000)).mkString(" ")
    val boiler = words(60)
    val span = words(80)
    // the boilerplate arrives CONCENTRATED in batch 1 — the case where
    // a store-only prune leaks O(df_batch²) within-batch pair rows
    val b1 = (1 to 70).map(i => (i.toLong, s"p$i " + boiler))
      .toDF("doc_id", "text")
    val b2 = Seq((1001L, words(5) + " " + span),
      (1002L, words(9) + " " + span),
      (1003L, "tail " + boiler)).toDF("doc_id", "text")
    val sigStore = graft.core.Staging.tempAtExit("graft_st21spec_sigs_")
    val pairDir = graft.core.Staging.tempAtExit("graft_st21spec_pairs_")
    graft.streaming.EventStreams.st21Batch(b1, sigStore, pairDir)
    val pairSchema = "doc_a BIGINT, doc_b BIGINT, h STRING, clen BIGINT"
    val afterB1 = spark.read.schema(pairSchema).parquet(pairDir).count()
    // each df=70 chunk would alone emit 70·69/2 = 2415 doomed rows
    // under a store-only prune (the store is EMPTY in batch 1); the
    // combined count silences them in-batch — only rare prefix-shift
    // chunks may still pair
    assert(afterB1 < 100,
      s"batch 1 emitted $afterB1 pair rows — the within-batch df leak is back")
    graft.streaming.EventStreams.st21Batch(b2, sigStore, pairDir)
    val shared = spark.read.schema(pairSchema).parquet(pairDir)
    // doc 1003 carries the boilerplate: its cross-batch probes ride
    // hot chunks and must be pruned (rare prefix-shift chunks aside)
    val from1003 = shared
      .filter(col("doc_a") === 1003L || col("doc_b") === 1003L).count()
    assert(from1003 < 10,
      s"hot chunks leaked $from1003 cross-batch pair rows for the boilerplate doc")
    val allSigs = spark.read
      .schema("doc_id BIGINT, h STRING, clen BIGINT").parquet(sigStore)
    val streamed = graft.queries.Dedup.cdcPairsFinal(shared, allSigs)
      .as[(Long, Long, Long, Long)].collect().toSet
    val oracle = graft.queries.Dedup.cdcOverlap(b1.unionByName(b2))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == oracle,
      s"streamed ${streamed.size} pairs != batch oracle ${oracle.size}")
    assert(streamed.exists(p => p._1 == 1001L && p._2 == 1002L),
      "the rare planted pair must survive")
  }

  test("p08 weighted sample plans as TakeOrdered and skews toward heavy docs") {
    val q = SparkEntry.queries("p08_weighted_sample")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted sample must be a distributed top-k, not a global sort:\n${p.take(500)}")
    val sampleMean = q.collect().map(_.getLong(2)).sum.toDouble / 100
    val corpusMean = graft.core.Tables.documents(spark, sf)
      .agg(org.apache.spark.sql.functions.avg("n_chars")).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"weight ∝ n_chars must skew the sample: $sampleMean vs corpus $corpusMean")
  }

  test("the LR gate LEARNS on a corpus with planted language signal") {
    import spark.implicits._
    // the sf fixtures draw text independently of lang (the honest
    // no-signal note in lrFeatures) — this corpus plants the signal
    // the production feature (stopword intersect) is built to carry:
    // en docs open with the five dictionary stopwords, non-en docs
    // never contain them. Classes are BALANCED, so any accuracy
    // above 0.5 is learned, not prior.
    val rnd = new scala.util.Random(41)
    def noise(n: Int) = Seq.fill(n)("z" + rnd.nextInt(5000)).mkString(" ")
    val docs = (1 to 400).map { i =>
      val en = i % 2 == 0
      val text = if (en) "the a and of to " + noise(20 + rnd.nextInt(10))
                 else noise(25 + rnd.nextInt(10))
      (i.toLong, if (en) "en" else "xx", text, text.length.toLong)
    }.toDF("doc_id", "lang", "text", "n_chars")
    val feats = graft.queries.PipelineOps.lrFeaturesOf(docs).cache()
    val (traj, w) = graft.queries.PipelineOps.lrTrain(feats, iters = 40, lr = 5.0)
    // loss entering iteration 1 is the prior's entropy (w = 0): ln 2
    val l1 = traj.head._6 / 1e6 / 400.0
    assert(math.abs(l1 - math.log(2)) < 1e-3, s"w=0 loss must be ln2, got $l1")
    val lFinal = traj.last._6 / 1e6 / 400.0
    assert(lFinal < 0.4,
      s"loss must descend well below the prior's entropy ln2≈0.693, got $lFinal")
    val acc = feats
      .withColumn("p", graft.queries.PipelineOps.lrSigmoid(w))
      .selectExpr(
        "avg(CASE WHEN (p >= 0.5D) = (y = 1.0D) THEN 1.0D ELSE 0.0D END) AS acc")
      .head().getDouble(0)
    assert(acc >= 0.95, s"trained accuracy $acc must crush the 0.5 class prior")
    feats.unpersist()
    ()
  }

  test("lrTrain's pinned terms stay clear of the .5 rounding boundary") {
    import org.apache.spark.sql.functions._
    // JVM exp/log are not correctly rounded, so a pinned term whose
    // fractional part sits AT .5 could round differently from
    // DuckDB's libm and flip the shared-oracle weight trajectory by
    // 1e-6 (lrTrain's documented residual ulp risk). Measure the
    // minimum distance to that boundary across every gradient/loss
    // term of all three oracle iterations — a fixture or feature
    // change that creates a knife-edge term fails here, loudly,
    // instead of flaking the e05/e06/e07 hashes.
    val feats = graft.queries.PipelineOps
      .lrFeaturesOf(graft.core.Tables.documents(spark, sf)).cache()
    val (traj, _) = graft.queries.PipelineOps.lrTrain(feats)
    val entering = Array(0L, 0L, 0L, 0L) +:
      traj.init.map(t => Array(t._2, t._3, t._4, t._5))
    def dist(t: org.apache.spark.sql.Column) =
      min(abs(abs(t) % lit(1.0) - lit(0.5)))
    val worst = entering.map { w =>
      val p = graft.queries.PipelineOps.lrSigmoid(w)
      def g(x: org.apache.spark.sql.Column) = (p - col("y")) * x * lit(1e6)
      feats.agg(least(dist(g(lit(1.0))), dist(g(col("x1"))),
        dist(g(col("x2"))), dist(g(col("x3"))),
        dist(-(col("y") * log(p) +
          (lit(1.0) - col("y")) * log(lit(1.0) - p)) * lit(1e6))))
        .head().getDouble(0)
    }.min
    feats.unpersist()
    // terms are ≤ ~2e6, so a double ulp there is ≤ ~4e-10; the
    // fixture's measured minimum is ~3e-5 (sf0.001) — five orders of
    // magnitude of headroom. 1e-6 still leaves >2000× margin while
    // catching any genuinely knife-edge term a change introduces.
    assert(worst > 1e-6,
      f"a pinned term sits $worst%.2e from the .5 boundary — ulp-flaky vs DuckDB")
  }

  test("e08 negatives are real docs, 3 per anchor, never the anchor's cluster-mates") {
    import org.apache.spark.sql.functions.col
    val neg = SparkEntry.queries("e08_negative_sampling")(spark, sf).cache()
    val docs = graft.core.Tables.documents(spark, sf).select("doc_id")
    val perAnchor = neg.groupBy("anchor_id").count().collect()
    // count against the anchor POPULATION, not just anchors present in
    // the output — an anchor whose every draw was rejected would
    // otherwise vanish silently (both engines under-fill identically,
    // so the oracle can't see it)
    val nAnchors = docs.filter(org.apache.spark.sql.functions
      .col("doc_id") % 50 === 0).count()
    assert(perAnchor.length.toLong == nAnchors,
      s"${perAnchor.length} anchors in output vs $nAnchors in population")
    assert(perAnchor.nonEmpty && perAnchor.forall(_.getLong(1) == 3L),
      "every anchor must fill exactly k=3 negatives")
    assert(neg.join(docs.withColumnRenamed("doc_id", "neg_id"),
      Seq("neg_id"), "left_anti").count() == 0,
      "every negative must be a real corpus document")
    assert(neg.filter(col("neg_id") === col("anchor_id")).count() == 0)
    // the dedup-aware exclusion: no sampled negative shares a d07
    // cluster with its anchor (a near-dup negative would be a false
    // negative for a contrastive objective — the op's entire point)
    val labels = SparkEntry.queries("d07_dup_clusters")(spark, sf)
      .select(col("doc_id"), col("cluster_id"))
    val shared = neg
      .join(labels.select(col("doc_id").as("anchor_id"),
        col("cluster_id").as("ca")), Seq("anchor_id"))
      .join(labels.select(col("doc_id").as("neg_id"),
        col("cluster_id").as("cb")), Seq("neg_id"))
      .filter(col("ca") === col("cb")).count()
    assert(shared == 0, s"$shared negatives share a dup cluster with their anchor")
    neg.unpersist()
    graft.queries.Dedup.releaseCaches()
    ()
  }

  test("e09 hard negatives are hard (≫ random cosine) and never cluster-mates") {
    import org.apache.spark.sql.functions._
    graft.functions.VectorExpressions.register(spark)
    val hn = SparkEntry.queries("e09_hard_negatives")(spark, sf).cache()
    val perAnchor = hn.groupBy("anchor_id").count().collect()
    val nAnchors = graft.core.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 10).count()
    assert(perAnchor.length.toLong == nAnchors,
      s"${perAnchor.length} anchors in output vs $nAnchors probes")
    assert(perAnchor.nonEmpty && perAnchor.forall(_.getLong(1) == 3L))
    val minedMean = hn.agg(avg("cosine")).head().getDouble(0)
    // the mined negatives must sit far above the random-pair baseline
    // (e08's regime) — that's what makes them HARD
    val e = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(expr("graft_sumsq(v)")))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("anchor_id"), col("v").as("pv"),
        col("nrm").as("pnrm"))
    val randMean = e.join(broadcast(probes), col("vec_id") =!= col("anchor_id"))
      .withColumn("cosine", expr("graft_dot(pv, v)") / (col("pnrm") * col("nrm")))
      .agg(avg("cosine")).head().getDouble(0)
    assert(minedMean > randMean + 0.1,
      f"mined negatives must be hard: mined $minedMean%.3f vs random $randMean%.3f")
    // and the exclusion holds: no mined negative shares a d07 cluster
    val labels = SparkEntry.queries("d07_dup_clusters")(spark, sf)
      .select(col("doc_id"), col("cluster_id"))
    val shared = hn
      .join(labels.select(col("doc_id").as("anchor_id"),
        col("cluster_id").as("ca")), Seq("anchor_id"))
      .join(labels.select(col("doc_id").as("neg_id"),
        col("cluster_id").as("cb")), Seq("neg_id"))
      .filter(col("ca") === col("cb")).count()
    assert(shared == 0, s"$shared mined negatives are near-dups of their anchor")
    hn.unpersist()
    graft.queries.Dedup.releaseCaches()
    ()
  }

  test("e10: the cluster-atomic split strictly dominates the naive split") {
    val rows = SparkEntry.queries("e10_split_contamination")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (_, aCon, aLeak) = rows("cluster_atomic")
    val (_, nCon, nLeak) = rows("naive_per_doc")
    // near-dup pairs ARE gram-sharing pairs; a per-doc hash scatters
    // them across the boundary, the atomic split cannot
    assert(aLeak < nLeak,
      s"atomic split must leak fewer gram-pairs: $aLeak vs $nLeak")
    assert(aCon <= nCon,
      s"atomic split must contaminate no more docs: $aCon vs $nCon")
    graft.queries.PipelineOps.releaseCaches()
    graft.queries.Dedup.releaseCaches()
  }

  test("e07 calibration: mean predicted rate tracks the observed rate") {
    val rows = SparkEntry.queries("e07_lr_calibration")(spark, sf).collect()
    val n = rows.map(_.getLong(1)).sum
    val pos = rows.map(_.getLong(2)).sum
    val meanP = rows.map(_.getLong(3)).sum.toDouble / 1e6 / n
    // after three GD rounds on a no-signal corpus the model sits near
    // the class prior; the reliability gap should already be small
    assert(math.abs(meanP - pos.toDouble / n) < 0.1,
      s"calibration gap: predicted $meanP vs observed ${pos.toDouble / n}")
  }

  test("q70 pipe syntax is pure surface: the filter still reaches the scan") {
    val p = planOf("q70_pipe_syntax")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"pipe-form WHERE must push down like the nested form:\n${p.take(600)}")
    assert(p.contains("partial_sum"),
      "aggregate must partial-aggregate (map-side partial_sum)")
  }

  test("connected components resolve transitive dup clusters") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 3L)).toDF("doc_a", "doc_b")
    val got = graft.queries.Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connectedComponents equals driver union-find on randomized graphs") {
    import spark.implicits._
    // the pointer-jumping loop underwrites d07/p02/p04/e08/e10 — fuzz
    // it against a reference union-find on graphs mixing long chains
    // (exercising the jump's log-diameter path compression), random
    // cross edges, dense blobs, and isolated pairs
    for (seed <- Seq(301, 302, 303)) {
      val rnd = new scala.util.Random(seed)
      val chain = (0 until 30).map(i => (100L + i, 100L + i + 1)) // 31-node path
      val blobNodes = (200L to 212L)
      val blob = Seq.fill(20)((blobNodes(rnd.nextInt(13)), blobNodes(rnd.nextInt(13))))
        .filter(p => p._1 != p._2)
      val random = Seq.fill(40)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter(p => p._1 != p._2)
      val edges = (chain ++ blob ++ random :+ (300L -> 301L)).distinct
      val got = graft.queries.Dedup
        .connectedComponents(edges.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      // reference: driver union-find, labels = component minimum
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = nodes.map(n => n -> find(n)).toMap
      assert(got == want, s"seed $seed: ${got.size} labels, diff=" +
        (got.toSet diff want.toSet).take(5))
    }
  }
}
