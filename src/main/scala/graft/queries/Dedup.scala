package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Confs
import graft.core.Tables

/** Deduplication operators over `documents` — the core of any
  * training-data pipeline at 100 TB. Four methods, one shared shingle
  * definition, all pure Catalyst expressions (no UDFs → whole-stage
  * codegen end-to-end):
  *
  *   - exact (content-hash groupBy)                      → d01
  *   - n-gram Jaccard, all-pairs via shingle equi-join   → d02
  *   - MinHash + LSH banding (the scale path for d02)    → d03
  *   - SimHash bit-vote signatures                       → d04
  *
  * The reference could express only d01's shape (group by a key the
  * mapper computes, `/root/reference/docs.rst:141-159`); the rest are
  * new capability built on the same partition/shuffle primitives the
  * MapReduce layer uses (SURVEY §2.3, BASELINE.json north star).
  */
object Dedup {

  /** Shared-scan caches (and CC checkpoint blocks) created by the most
    * recent dedup query BUILD in this session, under the
    * [[graft.core.CacheReleases]] contract (harnesses that clearCache()
    * between queries drop the DataFrame caches anyway; the CC
    * checkpoint blocks below clearCache does NOT reach).
    */
  private val releases = new graft.core.CacheReleases
  def releaseCaches(): Unit = releases.releaseAll()

  /** documents + a word-3-gram shingle-set column, via the fused
    * native `graft_shingles` expression — see
    * VectorExpressions.ShingleSet for why the declarative
    * tokenize+transform form is a plan-hygiene trap (optimizer rules
    * re-inline the tokenizer per shingle element; 23 s → 3 s at sf0.1).
    */
  private def shingled(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    // not spread: the shingle tiers measured flat (their cost is the
    // band/self-join shuffles, not the narrow map) — see normed's
    // note for the cache-reuse hazard a gratuitous spread carries
    Tables.documents(s, d)
      .select(col("doc_id"), expr("graft_shingles(text)").as("sh"))
  }

  /** Exact dedup: md5 content hash → canonical (minimum) doc_id + copy
    * count. One partial-aggable shuffle on the hash; at 100 TB this is
    * the always-first, always-cheap pass.
    */
  def d01ExactDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("n_copies"))

  /** All-pairs n-gram Jaccard ≥ 0.5 via shingle equi-join.
    *
    * Scale analysis: the join fans out per repeated shingle (~1.3 M
    * rows at sf0.1 — fine), but at 100 TB frequent shingles explode
    * quadratically; d03 (MinHash+LSH) is the production path and this
    * operator is its exactness oracle. Jaccard stays a raw long/long
    * division — bit-exact across engines.
    */
  /** (doc_id, shingle-hash) stream shared by the exact-Jaccard tier.
    * Joining on a 64-bit hash of the shingle, not the string: the
    * shuffle carries 8 bytes/key instead of ~17-char strings.
    * Collision risk ~|shingles|²/2⁶⁴ (≈4e-11 here, still <1e-6 at
    * 100 TB) — accepted and documented. Cached: feeds sizes plus both
    * self-join inputs (d02), and additionally the df count + Bloom
    * build (d06).
    */
  private def hashedShingles(s: SparkSession, d: String): DataFrame = {
    releaseCaches()
    val sh = shingled(s, d)
      .select(col("doc_id"), explode(col("sh")).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("s"))
      .cache()
    releases.register(() => sh.unpersist())
    sh
  }

  /** Shared pair-scoring tail of d02/d06: self-join the (possibly
    * pruned) shingle stream, count shared shingles per pair, derive
    * exact Jaccard from the FULL per-doc set sizes. Keeping this in
    * one place is what makes "d06's output is exactly d02's" a
    * structural fact rather than a convention.
    */
  private def jaccardFrom(joinSh: DataFrame, fullSh: DataFrame): DataFrame = {
    val sizes = fullSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = joinSh.as("a"); val b = joinSh.as("b")
    val common = a.join(b, col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    // sizes is |docs| rows — broadcast both lookups so the 1M+ pair
    // stream never shuffles again (at 100 TB sizes moves to a
    // bucketed/bloom side or rides along the shingle rows).
    common
      .join(broadcast(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na")), "doc_a")
      .join(broadcast(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb")), "doc_b")
      .withColumn("jaccard", col("common") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  def d02JaccardPairs(s: SparkSession, d: String): DataFrame = {
    val sh = hashedShingles(s, d)
    jaccardFrom(sh, sh)
  }

  /** MinHash + LSH near-dup detection — d02's answer at 100 TB cost:
    * 32 bands × 2 rows from a 64-perm signature; docs sharing any band
    * bucket become candidates (shuffle is |docs|×32 tiny band keys, not
    * |shingle| fan-out); candidates are then verified with EXACT
    * Jaccard via array_intersect on the two shingle sets. Output — and
    * oracle — identical to d02: with the planted dup separation
    * (nothing between j=0.2 and 0.8 in this corpus) the banding's miss
    * probability at j≥0.8 is (1-j²)³² ≈ 1e-14 (16 bands measurably
    * missed one j=0.8 pair at sf0.1).
    */
  def d03MinhashLsh(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val docs = shingled(s, d).filter(size(col("sh")) > 0)
    val cands = minhashBandCandidates(docs)
    cands
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jaccard", col("common") /
        (size(col("sha")) + size(col("shb")) - col("common")).cast("long"))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** SimHash: 64-bit signature by per-bit voting over token hashes
    * (every occurrence votes, weight 1), one native pass per document
    * (the explode-by-bit formulation shuffled tokens×bits ≈ 10.6 M rows
    * at sf0.1 for the same answer). Near-dup = small Hamming distance;
    * the signature itself is the oracle-checked output. 64 bits (two
    * independent sub-2³² polynomial hashes — see SimHash64) rather than
    * 32: the signature space is what d10's banding buckets divide, and
    * 32 bits left only 256 buckets per 8-bit band — candidates stayed a
    * constant ~9 % of ALL pairs, quadratic at 100 TB.
    */
  def d04Simhash(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"), expr(
        "graft_simhash64(filter(split(lower(text), '\\\\s+'), x -> x != '')) AS simhash"))
  }

  /** Embedding near-dup pairs: exact double-precision cosine over all
    * pairs ≥ 0.5. Brute force is the verification tier; the LSH-bucketed
    * scale path is graft.queries.Similarity.s02. (This corpus plants no
    * >0.6-cosine pairs — threshold 0.5 keeps the result non-trivial.)
    */
  def d05EmbeddingPairs(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(expr("graft_sumsq(v)"))) // once per vector, not per pair
    val a = e.as("a"); val b = e.as("b")
    a.join(b, col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine",
        expr("graft_dot(a.v, b.v)") / (col("a.nrm") * col("b.nrm")))
      .filter(col("cosine") >= 0.5)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cosine"))
  }

  /** d02 with a Bloom pre-join — the deferred scale fix for the exact
    * Jaccard tier. A shingle that occurs in only ONE document can never
    * contribute to a pair, so the self-join only needs shingles with
    * document frequency ≥ 2. A compact Bloom filter (1% fpp) over those
    * hashes, built distributedly and broadcast, prunes BOTH join inputs
    * before the shuffle. Bloom false positives only admit singleton
    * shingles that then match nothing in the join — extra probe work,
    * never a wrong row — so the output (and oracle) is EXACTLY d02's.
    * At 100 TB the win is the join shuffle shrinking to the repeated
    * fraction of the shingle stream; the df counting pass is
    * partial-aggable on 8-byte keys. (`sizes` still counts the full,
    * unpruned sets — Jaccard denominators are exact.)
    */
  def d06BloomJaccard(s: SparkSession, d: String): DataFrame = {
    val sh = hashedShingles(s, d)
    // shingle sets are per-doc distinct, so count(*) = doc frequency
    val dup = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("s")).cache()
    val bf = dup.stat.bloomFilter("s", math.max(dup.count(), 1000L), 0.01)
    dup.unpersist()
    val bfB = s.sparkContext.broadcast(bf)
    // native codegen'd probe (see BloomMightContainLong) — the filter
    // stage stays inside whole-stage codegen; registered per-call
    // because the expression closes over THIS run's broadcast filter
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_contains",
      es => graft.functions.VectorExpressions.BloomMightContainLong(es.head, bfB),
      "built-in")
    jaccardFrom(sh.filter(expr("graft_bloom_contains(s)")), sh)
  }

  /** Candidate pairs feeding d07's clustering: d03's BANDED generation,
    * not d02's shingle fan-out self-join. The pair set is provably the
    * same (banding miss probability ~1e-14 at the planted j≥0.8
    * separation — d03's analysis), so d07's oracle is unchanged, but
    * the cost is |docs|×32 tiny band keys instead of a quadratic
    * shingle join — the composition that must hold at 100 TB, where
    * d02 exists only as the exactness oracle tier. Factored out so the
    * plan shape is unit-assertable (the CC loop's localCheckpoints
    * truncate d07's own lineage past recognition).
    */
  /** d03's raw band-collision candidate stage over a (doc_id, sh)
    * frame. Band keys only — the shingle arrays do NOT travel through
    * the band shuffle (they rejoin on the few surviving candidates).
    * posexplode of the native band-combined signature guarantees one
    * signature evaluation per document (element_at-style projection
    * re-evaluated the signature per band: 40 s → 4 s at sf0.1).
    * Factored out so d14's board can measure the candidate set's
    * precision/recall directly.
    */
  private[graft] def minhashBandCandidates(docs: DataFrame): DataFrame = {
    val bands = docs
      .select(col("doc_id"), posexplode(expr("graft_minhash_bands(sh)")))
      .toDF("doc_id", "band", "bv")
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b,
      col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  private[graft] def d07CandidatePairs(s: SparkSession, d: String): DataFrame =
    d03MinhashLsh(s, d).select(col("doc_a"), col("doc_b"))

  /** Near-dup CLUSTER resolution: connected components over the near-dup
    * pair graph via distributed min-label propagation — the step that
    * turns pairwise near-dup hits into dedup decisions (keep the
    * canonical member of each cluster). Pairs are transitive evidence:
    * A~B and B~C must collapse into ONE cluster even though A,C were
    * never compared (at scale LSH candidate generation guarantees such
    * comparisons are skipped).
    *
    * The loop is standard BSP connected components: each round is one
    * distributed join+agg (label(n) ← min over {n} ∪ neighbors);
    * rounds ≈ cluster diameter (near-dup clusters are shallow — 2-4
    * rounds here). The driver only orchestrates (a changed-row count
    * per round, never a data collect), and the edge set this runs on
    * is the PAIR output — orders of magnitude smaller than the corpus
    * at 100 TB. Singleton documents (no pair) are implicitly their own
    * cluster and omitted, mirrored by the oracle.
    */
  def d07DupClusters(s: SparkSession, d: String): DataFrame =
    connectedComponents(d07CandidatePairs(s, d))
      .select(col("node").as("doc_id"), col("label").as("cluster_id"),
        (col("node") === col("label")).as("is_canonical"))

  /** q68: d07's cluster resolution written DECLARATIVELY as a Spark 4
    * recursive CTE (`WITH RECURSIVE`) — the SQL surface users port
    * from DuckDB/Postgres, answering to the oracle's own recursive
    * formulation verbatim. Spark's recursion supports UNION ALL only
    * (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), which diverges on the
    * cyclic near-dup graph, so the walk carries a visited-path array
    * and extends only to unvisited nodes: simple paths terminate by
    * construction, and a final DISTINCT restores set semantics. Path
    * count is factorial in CLUSTER size, not corpus size — fine for
    * near-dup clusters (couples/triples here; dedup clusters are
    * small by nature). For clusters that aren't small, d07's
    * pointer-jumping loop (log-diameter rounds, linear work per
    * round) is the 100 TB design; q68 exists to prove the engine
    * takes the declarative form and plans the recursion distributed
    * (UnionLoop over the joined step, not a driver loop).
    */
  def q68RecursiveClusters(s: SparkSession, d: String): DataFrame = {
    releaseCaches()
    recursiveClusters(s, d07CandidatePairs(s, d))
  }

  /** The guarded walk behind q68, over any (doc_a, doc_b) pair frame —
    * factored so the spec can feed it a pathological graph and get
    * the GUARD, not the explosion. */
  private[graft] def recursiveClusters(s: SparkSession, pairs0: DataFrame): DataFrame = {
    // materialize the pair list before recursing: every UnionLoop
    // iteration re-reads the anchor view, and uncached that re-runs
    // the whole minhash-LSH pipeline per round (measured 9.7 s → 6.7 s
    // at sf0.1 from the cache alone). The pair graph is tiny (≤ ~1k
    // rows — near-dup evidence, not the corpus), so one partition
    // spares each recursion round its 32-task scheduling overhead;
    // a 100 TB corpus still only changes the EDGE count, and d07's
    // pointer-jumping loop is the design for graphs that aren't tiny.
    val pairs = pairs0.coalesce(1).cache()
    releases.register(() => { pairs.unpersist(); () })
    // LOUD GUARD: the walk enumerates simple paths — factorial in
    // cluster size — so refuse inputs it cannot enumerate instead of
    // exploding. Two tiers: bound the edge count, then bound the
    // worst component by size AND density. Both tiers run DISTRIBUTED
    // (r12 VERDICT's optional item: the guard used to collect() the
    // edge list and union-find it driver-side; now the pointer-jump
    // loop labels components and one join+agg pipeline reduces them
    // to per-component bounds — only the single worst offender's
    // (n, m, dmax) row ever reaches the driver). A 13-node cluster
    // already means ~12! ≈ 5·10⁸ paths; d07DupClusters is the
    // log-round design for anything the guard rejects.
    val nPairs = pairs.count()
    if (nPairs > 100000L) throw new IllegalStateException(
      s"q68: $nPairs dup pairs — the simple-path walk is a declarative-surface " +
        "demo for small graphs; use d07DupClusters (pointer-jumping) instead")
    // Everything below operates on the guarded pair graph (≤100k edges
    // by the check above — orders of magnitude under the session
    // shuffle sizing, which is set for corpus scans): size the guard
    // joins and the walk's per-iteration shuffles by ccBody's
    // edge-count formula, and run the walk EAGERLY inside the scope
    // (UnionLoop reads the conf at execution; a lazily-returned frame
    // would execute after the scope closed). The eager result
    // is component labels over pair-graph nodes only — tiny, cached,
    // released via the registry like ccBody's output.
    val sess = pairs.sparkSession
    Confs.shufflePartitionsAtMost(sess, math.min(
      sess.sparkContext.defaultParallelism.toLong, nPairs / 50000L + 1).toInt) {
    // component labels via the same BSP loop d07 ships (ccBody: no
    // entry releaseCaches, which would drop the pair cache above)
    val labels = ccBody(pairs, reuseCallerCache = true,
        knownCount = Some(nPairs))
      .select(col("node"), col("label"))
    // per-component n / m / max-degree. Degree counts DISTINCT
    // undirected neighbors; the avg-degree (2m/n) branching model
    // underestimated irregular components — a 10-clique plus 2
    // pendants averages b≈3.9 and slipped under the bound while truly
    // enumerating ~1e7 prefix rows, hence MAX degree.
    val und = pairs.select(col("doc_a").as("v"), col("doc_b").as("w"))
      .union(pairs.select(col("doc_b"), col("doc_a"))).distinct()
    val deg = und.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // n and dmax share the labels join (every labeled node has ≥1
    // edge, so the join is inner and lossless); m joins on doc_a
    val nd = labels.join(deg, labels("node") === deg("v"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), max(col("deg")).as("dmax"))
    val mComp = pairs.join(labels, pairs("doc_a") === labels("node"))
      .groupBy(col("label")).agg(count(lit(1)).as("m"))
    // tier 2 is size AND density aware: the walk starts a path from
    // every DIRECTED edge (2m starts, not one per node), and each
    // extension multiplies by at most (dmax - 1) unvisited next hops
    // (every neighbor but the one just arrived from), and never by
    // more than the nodes still unvisited — est = 2m · Π_i max(1,
    // min(dmax-1, n-2-i)), the same fold as the old driver loop,
    // expressed as a SQL aggregate over sequence(0, n-3) (guarded:
    // sequence(0, -1) would DESCEND, so n ≤ 2 short-circuits to 2m).
    // A 12-node CHAIN (dmax 2 → est = 2m ≈ 22 rows) walks fine; a
    // 12-node CLIQUE (est ~5e9, true ~1.3e9 rows, each dragging a
    // visited array) is exactly the hang this guard exists to refuse.
    // The node-count ceiling stays as the path-length backstop.
    val offender = nd.join(mComp, "label")
      .select(col("label"), col("n"), col("m"), col("dmax"))
      .withColumn("est", expr(
        "CASE WHEN n <= 2 THEN cast(2 * m AS double) ELSE " +
          "aggregate(sequence(0, cast(n AS int) - 3), " +
          "cast(2 * m AS double), (acc, i) -> acc * greatest(1.0d, " +
          "least(cast(dmax AS double) - 1.0d, " +
          "cast(n AS double) - 2.0d - i))) END"))
      .filter(col("n") > 12 || col("est") > 2e6)
      .orderBy(col("est").desc, col("n").desc)
      .limit(1).collect()
    offender.foreach { r =>
      val (n, m, dmax, est) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      throw new IllegalStateException(
        f"q68: a dup cluster with $n nodes / $m edges (max degree $dmax) " +
          f"enumerates ~$est%.0f simple-path rows — the walk is factorial " +
          "in dense clusters; use d07DupClusters (pointer-jumping) instead")
    }
    pairs.createOrReplaceTempView("dup_pairs_rv")
    val out = s.sql("""
      WITH RECURSIVE
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM dup_pairs_rv
                UNION SELECT doc_b, doc_a FROM dup_pairs_rv),
      walk(src, dst, path) AS (
        SELECT src, dst, array(src, dst) FROM edges
        UNION ALL
        SELECT w.src, e.dst, array_append(w.path, e.dst)
        FROM walk w JOIN edges e ON w.dst = e.src
        WHERE NOT array_contains(w.path, e.dst)),
      reach AS (SELECT DISTINCT src, dst FROM walk)
      SELECT src AS doc_id, least(src, min(dst)) AS cluster_id,
        src = least(src, min(dst)) AS is_canonical
      FROM reach GROUP BY src""").cache()
    out.count()
    releases.register(() => { out.unpersist(); () })
    out
    }
  }

  /** Min-label propagation over an undirected pair list (doc_a, doc_b)
    * → (node, label) with label = the component's minimum node id.
    * Public so the loop is unit-testable on synthetic graphs.
    */
  def connectedComponents(pairs0: DataFrame): DataFrame = {
    releaseCaches()
    ccBody(pairs0)
  }

  /** [[connectedComponents]] without the entry releaseCaches — for
    * callers (q68's guard) that hold their own registered caches the
    * entry release would drop mid-flight. `reuseCallerCache` skips
    * the internal pairs cache AND its exit unpersist: `toDF` with
    * the frame's own column names is a no-op whose normalized plan
    * EQUALS the input's, so unpersisting "our" cache here silently
    * dropped the CALLER's cache entry for an already-cached input —
    * measured as q68's walk re-running the LSH pipeline per
    * recursion round (2.2 s → ~15 s) after the guard went
    * distributed. */
  private def ccBody(pairs0: DataFrame,
      reuseCallerCache: Boolean = false,
      knownCount: Option[Long] = None): DataFrame = {
    val pairs =
      if (reuseCallerCache) pairs0.toDF("doc_a", "doc_b")
      else pairs0.toDF("doc_a", "doc_b").cache()
    // Size the iteration's parallelism to the EDGE count, not the
    // session default: dup-pair graphs are tiny relative to the corpus
    // (256 edges at sf0.1), and per-round fixed cost is partitions ×
    // rounds. ~50k edges/partition keeps one task busy; at 100 TB the
    // same formula scales the rounds out.
    val nParts = math.max(1, math.min(
      pairs.sparkSession.sparkContext.defaultParallelism,
      (knownCount.getOrElse(pairs.count()) / 50000L + 1).toInt))
    // The loop's joins/aggregates execute INSIDE this call (each round
    // materializes via localCheckpoint), so the session's shuffle
    // partitioning applies to them here — and the session default is
    // sized for corpus-scale scans, not a pair graph orders of
    // magnitude smaller. Size the round shuffles by the SAME edge-count
    // formula as nParts (scale-adaptive, not a constant): at 32 cores
    // the 32-reducer rounds measured ~0.5 s/query slower than
    // edge-sized ones for identical labels. Scoped — callers' own
    // plans never see the override.
    Confs.shufflePartitionsAtMost(pairs.sparkSession, nParts) {
    val edges = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst").repartition(nParts, col("dst")).cache()
    val base = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).cache()
    var labels = base
    // Block-storage discipline: each round's eager localCheckpoint
    // persists ONE new RDD, and its lineage truncation means round k
    // never reads round k-1's blocks — so the previous round's
    // snapshot is released as soon as the current one has
    // materialized. (Before this, every round's snapshot accumulated:
    // the old backing.unpersist() was a no-op from round 2 on because
    // checkpoint-backed frames are not CacheManager-cached, and
    // clearCache() between queries does not reach raw checkpoint RDDs
    // either.) The round's RDD is derived from the checkpointed plan
    // itself (Checkpoints.checkpointedRdd), never by diffing global
    // persistent-RDD state — a shared SparkContext may persist
    // unrelated RDDs concurrently, and a set-diff would capture and
    // later evict them. The FINAL round's blocks are released before
    // returning: the result is first folded into an ordinary cache
    // (see loop exit).
    var releasePrev: () => Unit = () => base.unpersist()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 20) {
      val nbrMin = edges.join(labels, edges("dst") === labels("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_label"))
      val prop = labels.join(nbrMin, labels("node") === nbrMin("src"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("p_label"),
          col("label").as("old_label"))
      // POINTER JUMP: resolve each node's label to its label's label —
      // min-label propagation alone needs DIAMETER rounds, which is
      // fine for shallow near-dup clusters (d07: 2-4) but p02's
      // semantic chains at cosine 0.35 measured 10+ rounds (11 s of a
      // 16 s query); the jump compresses paths exponentially →
      // O(log diameter) rounds (12 → 5 observed). Labels only ever
      // decrease within a component, so the min-label fixed point is
      // unchanged.
      val parents = prop.select(col("node").as("pn"), col("p_label").as("pp"))
      val jumped = prop.join(parents, prop("p_label") === parents("pn"), "left")
        .select(col("node"),
          least(col("p_label"), coalesce(col("pp"), col("p_label"))).as("new_label"),
          (least(col("p_label"), coalesce(col("pp"), col("p_label")))
            < col("old_label")).as("chg"))
      // The jump references `prop` twice and `prop` references
      // `labels` twice → the analyzed tree would QUADRUPLE per round
      // (observed as an explainString OOM). Unlike the k-means loop —
      // whose rounds now depend only on a driver-collected centroid
      // row, so it needs no truncation at all (Similarity.scala) —
      // CC's per-round state is a full TABLE, so the materializing
      // action is an eager localCheckpoint + stats rebase, and the
      // convergence tally rides that SAME pass as an observed metric —
      // one job per round (rounds are inherently sequential).
      val obs = org.apache.spark.sql.Observation(
        s"cc_r${iter}_${System.nanoTime()}")
      val ck = graft.core.Checkpoints.roundCheckpoint(jumped
        .observe(obs, coalesce(sum(when(col("chg"), 1L).otherwise(0L)),
          lit(0L)).as("changed"))) // eager: materializes here; reliable
      // files instead of blocks when spark.graft.checkpointDir is set
      val ckRdd = graft.core.Checkpoints.checkpointedRdd(ck)
      val updated = pairs.sparkSession.createDataFrame(ck.rdd, ck.schema)
      changed = obs.get("changed").asInstanceOf[Long]
      labels = updated.select(col("node"), col("new_label").as("label"))
      releasePrev()
      releasePrev = () => ckRdd.foreach(_.unpersist(blocking = false))
      iter += 1
    }
    // an unconverged result would silently mis-cluster — fail loudly
    // (20 rounds covers any realistic near-dup cluster diameter)
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge in $iter rounds")
    // The final round's snapshot is checkpoint-backed, and a truncated
    // lineage CANNOT recompute — returning it directly made any
    // releaseCaches() before the caller materialized (or any
    // re-evaluation after) a hard "checkpoint block not found" failure
    // rather than a perf loss. So: fold the labels (the COMPRESSED
    // output — pair-graph nodes only, far smaller than the corpus)
    // into an ordinary CacheManager cache NOW, then drop the raw
    // checkpoint blocks immediately. The registered release is then a
    // plain cache unpersist. Remaining edge, documented: on the LOCAL
    // path a released-then-re-evaluated result still cannot recompute;
    // with spark.graft.checkpointDir set the files remain the
    // recompute source and the whole hazard disappears.
    val out = labels.cache()
    out.count()
    releasePrev()
    edges.unpersist()
    if (!reuseCallerCache) pairs.unpersist()
    releases.register(() => out.unpersist())
    out
    }
  }

  /** INCREMENTAL near-dup detection — dedupe an arriving batch against
    * the existing corpus (and, identically, decontaminate a test split
    * against train): the production shape at 100 TB, where re-running
    * all-pairs over corpus+batch is unaffordable. The "new batch" is a
    * deterministic ~20 % hash slice (the q37 idiom standing in for
    * today's arrivals); both sides get MinHash band keys (the d03
    * signature — at steady state the corpus side is PRECOMPUTED and
    * stored, so the nightly cost is bands over the batch plus one
    * band-key join, never a corpus rescan); candidates verify with
    * exact Jaccard. Output: each new doc with the corpus docs it
    * near-duplicates (j ≥ 0.5) — the rows a pipeline would quarantine.
    * Banding miss probability at the planted j≥0.8 dups is ~1e-14
    * (d03's analysis), so the exact-join oracle is the same answer.
    */
  def d08IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val docs = shingled(s, d).filter(size(col("sh")) > 0)
      .withColumn("is_new",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 5 === 0)
    val bands = docs
      .select(col("doc_id"), col("is_new"),
        posexplode(expr("graft_minhash_bands(sh)")))
      .toDF("doc_id", "is_new", "band", "bv")
    val cands = bands.filter(col("is_new"))
      .select(col("doc_id").as("new_id"), col("band"), col("bv"))
      .join(bands.filter(!col("is_new"))
        .select(col("doc_id").as("corpus_id"), col("band"), col("bv")),
        Seq("band", "bv"))
      .select(col("new_id"), col("corpus_id"))
      .dropDuplicates("new_id", "corpus_id")
    cands
      .join(docs.select(col("doc_id").as("new_id"), col("sh").as("sha")), "new_id")
      .join(docs.select(col("doc_id").as("corpus_id"), col("sh").as("shb")), "corpus_id")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jaccard", col("common") /
        (size(col("sha")) + size(col("shb")) - col("common")).cast("long"))
      .filter(col("jaccard") >= 0.5)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** EXACT n-gram decontamination — the GPT-3/benchmark-leak check:
    * flag every training document sharing any word-5-gram with the
    * held-out (evaluation) slice. Complements d08's NEAR-dup
    * decontamination: here the contract is exact containment of a long
    * n-gram, the standard "did an eval question leak into train"
    * filter.
    *
    * Scale shape — deliberately different from d08's band join: eval
    * sets are tiny relative to a 100 TB corpus, so the flagged-gram
    * side collapses to a DISTINCT set that BROADCASTS (here ~14 % of
    * docs via the q37 md5-slice idiom standing in for the eval set; in
    * production a Bloom filter over the eval grams — d06's machinery —
    * replaces the exact broadcast when the eval side outgrows it). The
    * train side is one narrow scan + broadcast semi-probe; only the
    * rare matched grams reach the per-doc count shuffle, which is
    * partial-aggable. Grams travel as xxhash64 longs (d02's 8-byte
    * shuffle-key rationale and collision analysis apply).
    *
    * Output: flagged train docs with leaked-gram counts and the leak
    * fraction — the rows a pipeline quarantines or re-scrubs.
    */
  def d09NgramDecontam(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val grams = Tables.documents(s, d)
      .withColumn("held",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 7 === 0)
      .select(col("doc_id"), col("held"),
        explode(expr("graft_shingles5(text)")).as("g"))
      .select(col("doc_id"), col("held"), xxhash64(col("g")).as("s"))
    val heldGrams = grams.filter(col("held")).select(col("s")).distinct()
    val train = grams.filter(!col("held"))
    val sizes = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val leaked = train.join(broadcast(heldGrams), "s")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_leaked"))
    leaked.join(sizes, "doc_id")
      .select(col("doc_id"), col("n_leaked"), col("n_grams"),
        (col("n_leaked").cast("double") / col("n_grams").cast("double"))
          .as("leak_frac"))
  }

  /** SimHash near-dup PAIRS via Hamming-band bucketing — the scale
    * path that turns d04's signatures into actual pair detection. A
    * 64-bit SimHash over word BIGRAMS (occurrence-weighted votes;
    * bigram features spread this corpus's signatures far better than
    * unigrams, whose votes correlate across docs) is split into 4
    * 16-bit bands; by pigeonhole, any pair within Hamming distance 3
    * agrees exactly on at least one band (3 differing bits touch at
    * most 3 of 4 bands), so bucketing on (band, value) finds EVERY
    * qualifying pair — the banding is lossless, not approximate, and
    * the oracle is the plain all-pairs filter.
    *
    * Scale shape: the shuffle carries 4 tiny (band, value) keys plus
    * the 8-byte signature per doc — and because the signature itself
    * rides the candidate row, verification is a codegen'd
    * `bit_count(a^b)` in place: NO second join back to per-doc state
    * (MinHash LSH must rejoin shingle sets; SimHash verification is
    * free). Band width is the scale knob: the earlier 32-bit/4×8-bit
    * scheme had 256 buckets per band, and candidates measured a
    * constant ~9 % of ALL pairs — a fraction of N², quadratic at
    * 100 TB. 16-bit bands give 65,536 buckets per band; candidates at
    * sf0.1 measured 2,871 band rows / 2,683 distinct pairs of 12.5 M
    * possible (0.023 %, ~400× fewer), and the fraction keeps falling
    * as signatures disperse because expected candidates per band scale
    * as Σ_buckets (n_b choose 2) — bucket collision mass, not corpus
    * size.
    */
  /** d10's raw band-collision candidates (distinct pairs + their
    * Hamming distance, BEFORE the ≤3 verify cut) — factored out so
    * d14's board can measure the candidate set itself.
    */
  private[graft] def simhashBandCandidates(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val sig = Tables.documents(s, d)
      .select(col("doc_id"),
        expr("graft_simhash64(graft_word_bigrams(text))").as("sig"))
    val bands = sig.select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(3))).as("band"))
      // arithmetic shiftright + mask: correct for the sign-bit band too
      .withColumn("bv", expr("shiftright(sig, band * 16) & 65535"))
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.sig ^ b.sig)").cast("long").as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
  }

  def d10SimhashBandPairs(s: SparkSession, d: String): DataFrame =
    simhashBandCandidates(s, d)
      .filter(col("hamming") <= 3) // in-place verify, before the dedup shuffle

  /** Cross-SOURCE overlap matrix — corpus analytics one level above
    * d02's doc pairs: for every pair of ingest sources, the Jaccard
    * similarity of their distinct 3-gram shingle sets. This is the
    * report that decides dedup POLICY (which sources are near-mirrors
    * and need cross-source dedup, which are disjoint and can skip the
    * quadratic work) before any doc-level pass runs.
    *
    * Scale shape: the per-source DISTINCT collapses the gram stream to
    * set entries BEFORE the self-join (partial-aggable, 8-byte keys),
    * and the join's fan-out is bounded by source count per gram (≤ 20
    * here) — not document count, so it stays benign where d02's
    * doc-grain join would explode. Output is the full |S|²/2 matrix —
    * tiny by construction.
    */
  def d11SourceOverlap(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    releaseCaches()
    val sg = Tables.documents(s, d)
      .select(col("source"), explode(expr("graft_shingles(text)")).as("g"))
      .select(col("source"), xxhash64(col("g")).as("h"))
      .distinct()
      .cache() // feeds sizes plus both self-join inputs
    releases.register(() => sg.unpersist())
    val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val a = sg.as("a"); val b = sg.as("b")
    a.join(b, col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("common"))
      .join(broadcast(sizes.withColumnRenamed("source", "src_a")
        .withColumnRenamed("n", "na")), "src_a")
      .join(broadcast(sizes.withColumnRenamed("source", "src_b")
        .withColumnRenamed("n", "nb")), "src_b")
      .select(col("src_a"), col("src_b"), col("common"),
        (col("common") / (col("na") + col("nb") - col("common"))).as("jaccard"))
  }

  /** ASYMMETRIC containment pairs — the near-dup Jaccard misses: a
    * short document embedded verbatim in a longer one (quote farms,
    * aggregator pages, boilerplate-wrapped reposts) has high
    * |A∩B|/|A| but LOW Jaccard (the union is dominated by the long
    * side), so a Jaccard-thresholded pass keeps both copies.
    * Containment ≥ 0.8 in EITHER direction flags the pair, and which
    * side is contained tells the pipeline which document is the
    * subset. Same shingle machinery and join shape as d02 — the tail
    * just divides by each side's OWN size instead of the union.
    *
    * Role: the EXACTNESS ORACLE tier, exactly as d02 is for d03/d06 —
    * quadratic by design. The production path at 100 TB is d13's
    * prefix-filtered candidates + this scoring. (NOT d03's MinHash
    * banding: band-collision probability tracks JACCARD, and the
    * high-containment/low-Jaccard pairs this operator exists for are
    * precisely the pairs Jaccard banding misses most — a 10-shingle
    * doc inside a 1000-shingle doc has containment 1.0 but j ≈ 0.01,
    * per-band collision odds ≈ 0.01² per row.)
    */
  def d12ContainmentPairs(s: SparkSession, d: String): DataFrame = {
    val sh = hashedShingles(s, d)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = sh.as("a"); val b = sh.as("b")
    a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(broadcast(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n", "na")), "doc_a")
      .join(broadcast(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n", "nb")), "doc_b")
      .withColumn("contain_a", col("common") / col("na"))
      .withColumn("contain_b", col("common") / col("nb"))
      .filter(col("contain_a") >= 0.8 || col("contain_b") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("common"),
        col("contain_a"), col("contain_b"))
  }

  /** PREFIX-FILTERED candidate pairs for containment ≥ θ = 0.8 — the
    * AllPairs/PPJoin principle specialized to the overlap predicate.
    *
    * Derivation (why this candidate set is COMPLETE at θ = 0.8):
    * contain_a ≥ θ OR contain_b ≥ θ is equivalent to
    * common ≥ θ·min(na, nb) — the smaller side always has the larger
    * containment, so only the min matters; common is an integer, so
    * the requirement is common ≥ t where t = ⌈θ·n_small⌉.
    *
    * Fix ONE global total order on shingles (here: document frequency
    * ascending, hash ascending as tie-break — any total order is
    * correct; df-ascending minimizes work, below) and sort each doc's
    * distinct shingles by it. Prefix principle: if the first
    * n − t + 1 shingles of the SMALLER doc A all miss B, then at most
    * the remaining t − 1 can be shared, so common ≤ t − 1 < t and the
    * pair cannot qualify. Contrapositive: every qualifying pair is
    * found by joining the smaller side's prefix (length
    * na − ⌈θ·na⌉ + 1 = ⌊(1−θ)·na⌋ + 1, computed in exact integer
    * arithmetic as na − (4·na + 4) DIV 5 + 1) against the OTHER doc's
    * FULL shingle list. Prefix-vs-prefix — the symmetric-Jaccard
    * shortcut — is deliberately NOT used here: for na ≪ nb the
    * required overlap t = ⌈θ·na⌉ is far below ⌈θ·nb⌉, so B's short
    * Jaccard prefix has no hit guarantee — unsound in exactly the
    * short-doc-in-long-doc case this operator exists for. Every doc
    * contributes BOTH prefix rows and full rows, so whichever side of
    * a pair is smaller, its prefix-vs-full probe fires; pairs then
    * dedupe on (least, greatest).
    *
    * Scale shape: df is one partial-aggable count over 8-byte keys;
    * the df join-back and the per-doc sort/rank partition by doc_id
    * (partition size = one doc's shingle count — bounded); the
    * candidate join's fan-out is Σ_prefix-rows df(shingle), and
    * df-ascending ordering puts each doc's RAREST ~20 % of shingles
    * in its prefix, so the posting lists probed are the short ones.
    * df = 1 shingles are dropped from both sides (d06's rationale: a
    * shingle in one document can never witness a pair — prefix
    * membership is decided BEFORE the drop, so prefix positions are
    * unaffected). No quadratic term anywhere: the full self-join of
    * d02/d12 never happens. Hash-domain candidates inherit d02's
    * xxhash64 collision analysis; collisions only merge df mass or
    * admit a false candidate, which the exact verify tier rejects —
    * never a miss (common_hash ≥ common_string keeps the prefix
    * guarantee conservative).
    *
    * Takes the (doc_id, s) stream as a parameter so the completeness
    * proof is unit-testable on synthetic planted-containment corpora
    * (EngineSpec), mirroring d10's lossless-banding proof.
    */
  private[graft] def prefixCandidates(sh: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfTab = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // ONE ordered window spec for both rank and size (count runs with
    // an unbounded frame over the SAME sort) → a single Window
    // operator, a single per-doc sort.
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    // Both candidate-join inputs are projections of this SAME frame;
    // caching it computes the df join + per-doc rank once and both
    // join sides read the cache (the release rides the shared dedup
    // registry, like the shingle cache itself). At 100 TB this
    // materialization is the AllPairs "indexed prefix" structure —
    // the thing a production system would persist alongside the
    // corpus.
    val ranked = sh.join(dfTab, "s")
      .withColumn("pos", row_number().over(byDoc))
      .withColumn("na", count(lit(1)).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("df") >= 2)
      .withColumn("is_prefix",
        col("pos") <= expr("na - (na * 4 + 4) DIV 5 + 1"))
      .select(col("doc_id"), col("s"), col("is_prefix"))
      .cache()
    releases.register(() => ranked.unpersist())
    ranked.filter(col("is_prefix"))
      .select(col("doc_id").as("pref_id"), col("s"))
      .join(ranked.select(col("doc_id").as("full_id"), col("s")), "s")
      .filter(col("pref_id") =!= col("full_id"))
      .select(least(col("pref_id"), col("full_id")).as("doc_a"),
        greatest(col("pref_id"), col("full_id")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** d12's production twin: prefix-filtered candidates (see
    * [[prefixCandidates]] for the completeness derivation) + the same
    * exact containment scoring — the oracle is d12's quadratic
    * `containmentSql`, unchanged, exactly as d03/d06 answer to d02's
    * `jaccardSql`.
    *
    * Honest local cost note: this synthetic corpus draws every doc
    * from one small shared vocabulary, so even df-ascending prefixes
    * hit df ≥ 2 shingles and candidates measure ~181 k of 2.1 M
    * possible pairs (8.7 %) at sf0.1 — d13 runs ~1.7× d12's wall
    * clock HERE. The crossover is corpus breadth, not size: on real
    * text the rarest ⌊0.2·n⌋+1 shingles of a doc are overwhelmingly
    * df = 1 (dropped) or df = 2-3, candidate cost stays
    * Σ_prefix df(s) ≈ linear in corpus size, while d12's self-join
    * grows with Σ_s df(s)² — the boilerplate-shingle cliques that
    * dominate at 100 TB and make the quadratic tier unrunnable.
    * MEASURED, not just derived (EngineSpec "d13 crossover"): on a
    * 301-doc log-uniform (Zipf-head + df-1 tail) corpus with a
    * planted subset pair, candidate density is 0.07 % of all pairs
    * and the d13:d12 probe-work ratio is 2.4e-4 — while the planted
    * pair is still found (completeness and collapse together).
    */
  def d13ContainmentPrefix(s: SparkSession, d: String): DataFrame = {
    val sh = hashedShingles(s, d)
    val cands = prefixCandidates(sh)
    // Verify on per-doc HASH arrays folded from the already-cached
    // shingle stream — no second document scan/re-shingle (the array
    // rejoin d03 uses would rescan documents twice here; with this
    // corpus's dense shared vocab the candidate set is large, so the
    // verify tier is the bulk of the query), and the intersects run
    // over 8-byte longs, not strings. Counts are hash-domain — d02's
    // collision analysis applies, exactly as in d12's own scoring.
    // Arrays are sorted ONCE per doc so the per-pair common count is a
    // native linear merge over primitive long[] (graft_common_sorted)
    // instead of array_intersect's per-pair hash-set build +
    // intersection-array materialization — the verify tier is the bulk
    // of this query, and the merge halves its per-candidate cost.
    // Equivalence needs per-doc-distinct elements, which the shingle
    // SET (graft_shingles' LinkedHashSet) guarantees modulo the same
    // in-doc xxhash64 collision the hash-domain scoring already
    // accepts; the spec asserts merge == array_intersect on randomized
    // inputs.
    val docArr = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("s"))).as("hs"))
    cands
      .join(docArr.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(docArr.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
      .withColumn("common", expr("graft_common_sorted(ha, hb)"))
      .withColumn("contain_a", col("common") / size(col("ha")).cast("long"))
      .withColumn("contain_b", col("common") / size(col("hb")).cast("long"))
      .filter(col("contain_a") >= 0.8 || col("contain_b") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("common"),
        col("contain_a"), col("contain_b"))
  }

  /** Candidate-quality board — s12's recall board for the DEDUP tiers:
    * each approximate candidate generator measured against d02's exact
    * Jaccard ≥ 0.5 truth as (candidates, hits, precision, recall).
    * This is the number an LSH banding decision is made on (r4's
    * "9 % → 0.023 % of all pairs" re-band was exactly this
    * measurement, promoted from a one-off into an oracle-checked
    * query):
    *   - minhash_b32 — d03's 32×2 band collisions;
    *   - simhash_b16 — d10's 4×16-bit band collisions, scored here
    *     against the JACCARD truth (what a simhash deployment
    *     substitutes for);
    *   - pair_domain — every pair sharing ≥1 shingle: the quadratic
    *     tier's scoring burden, the anchor that motivates banding
    *     (its precision IS truth/domain).
    * d13's prefix tier is deliberately absent: its candidate set is
    * ordered by engine-private xxhash64 tie-breaks (not
    * SQL-replicable); its completeness has a dedicated planted-subset
    * spec instead. Tiers build SEQUENTIALLY and each reduces to one
    * counts row before the next build (the release-on-next-build
    * registry makes interleaved dedup builds unsafe — see
    * releaseCaches); truth pairs materialize once (tiny by the dedup
    * premise) and BROADCAST into each tier's hit join — see
    * [[hitCounts]] for why a literal IN-list is deliberately not used.
    * At 100 TB the board runs on a fixed-size corpus SAMPLE — the
    * measurement is per-tier candidate density, which is
    * scale-invariant by design.
    */
  /** (n_candidates, hits) of a candidate tier against the verified
    * truth pairs — ONE aggregate over a broadcast LEFT join (truth
    * pairs are unique by construction, so the join cannot fan out),
    * deliberately NOT a collected literal IN-list: the truth set is
    * sample-scoped today, but a literal list is the plan shape that
    * explodes (expression-tree size, codegen limits) the moment it
    * is not. Factored so the spec can assert the physical plan
    * carries a broadcast join and no literal IN-list.
    */
  private[graft] def hitCounts(cands: DataFrame, truth: DataFrame): DataFrame =
    cands.join(broadcast(truth.withColumn("hit", lit(1L))),
        Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("hit")), lit(0L)).as("hits"))

  def d14CandidateBoard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.VectorExpressions.register(s)
    // ONE quadratic pass serves both the truth AND the pair_domain
    // anchor: the domain count rides the truth collection as an
    // observed metric (the s08 one-job discipline), and the domain
    // tier's hits equal n_true by superset construction (every j≥0.5
    // pair shares ≥1 shingle), so no second self-join ever runs —
    // measured 6.9 → 5.1 s at sf0.1 against the two-pass form
    // (d02's truth pass alone is 4.2 s: board overhead ≈ 0.9 s).
    val sh = hashedShingles(s, d)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = sh.as("a"); val b = sh.as("b")
    val pairsJ = a.join(b, col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(broadcast(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n", "na")), "doc_a")
      .join(broadcast(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n", "nb")), "doc_b")
      .withColumn("jaccard",
        col("common") / (col("na") + col("nb") - col("common")))
    val obs = org.apache.spark.sql.Observation(
      s"d14_dom_${System.nanoTime()}")
    val truth = pairsJ.observe(obs, count(lit(1)).as("n_dom"))
      .filter(col("jaccard") >= 0.5).select(col("doc_a"), col("doc_b"))
      .cache()
    val nTrue = truth.count()
    val nDom = obs.get("n_dom").asInstanceOf[Long]
    def measure(name: String, cands: DataFrame): (String, Long, Long) = {
      val r = hitCounts(cands, truth).head()
      (name, r.getLong(0), r.getLong(1))
    }
    val rows = Seq(
      measure("minhash_b32",
        minhashBandCandidates(shingled(s, d).filter(size(col("sh")) > 0))),
      measure("simhash_b16", simhashBandCandidates(s, d)),
      ("pair_domain", nDom, nTrue))
    truth.unpersist()
    rows.map { case (tier, n, hits) =>
      (tier, n, nTrue, hits,
        if (n == 0) 0.0 else hits.toDouble / n.toDouble,
        if (nTrue == 0) 0.0 else hits.toDouble / nTrue.toDouble)
    }.toDF("tier", "n_candidates", "n_true", "hits", "precision", "recall")
  }

  /** MinHash estimator calibration — the companion measurement to
    * d14's candidate board: for every VERIFIED near-dup pair, the
    * Jaccard estimate the signature itself implies (fraction of the
    * 64 permutations that agree — the number an LSH-only pipeline
    * would act on if it skipped exact verification) against the exact
    * value, with the absolute error. E[est] = J by the MinHash
    * theorem; this query is the empirical check that the LCG
    * permutation family actually delivers it on this corpus (a
    * rank-correlated family — the bug the large-multiplier comment in
    * MinHashSig records — would show here as systematic bias). All
    * values are exact rationals (k/64 and the Jaccard fraction):
    * hash-checked raw, no rounding. One narrow signature pass plus a
    * broadcast-sized join against the verified pairs; the estimate
    * costs nothing at 100 TB because the signatures already exist for
    * banding.
    */
  def d15MinhashCalibration(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val pairs = d03MinhashLsh(s, d)
    val sigs = shingled(s, d).filter(size(col("sh")) > 0)
      .select(col("doc_id"), expr("graft_minhash(sh)").as("sig"))
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
      .withColumn("est_jaccard",
        expr("size(filter(zip_with(sa, sb, (x, y) -> x = y), b -> b))") / lit(64.0))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("est_jaccard"),
        abs(col("est_jaccard") - col("jaccard")).as("abs_err"))
  }

  /** SimHash estimator calibration — d15's discipline applied to the
    * OTHER sketch family: for every d10-verified near-dup pair, the
    * cosine the 64-bit signature IMPLIES (cos(π·hamming/64), the
    * random-hyperplane estimator an LSH-only pipeline acts on) vs the
    * EXACT count-weighted bigram cosine of the same feature stream the
    * signature sketched (dot and norms are integer sums — one IEEE
    * division per pair at the end). Pairs sharing no COMMON bigram
    * keep a 0 dot via the left join rather than vanishing; the norm
    * joins stay inner, which is safe because d10 membership implies a
    * non-empty bigram stream (the simhash is derived FROM it), so
    * every paired doc has an ss row. Scale shape: the verified pair
    * set is the tiny post-banding side; the per-doc norm frame is
    * corpus-sized and partial-aggable, so it is first semi-restricted
    * to the paired docs (pair-set-sized) and only THAT slice
    * broadcasts — broadcasting the corpus-sized frame itself would
    * hit the driver at 100 TB.
    */
  def d16SimhashCalibration(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val pairs = d10SimhashBandPairs(s, d)
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr("graft_word_bigrams(text)")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val pairDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b"))).distinct()
    val ss = bg.groupBy(col("doc_id")).agg(sum(col("c") * col("c")).as("ss"))
      .join(pairDocs, Seq("doc_id"), "left_semi")
    val dots = pairs
      .join(bg.as("ca"), col("ca.doc_id") === col("doc_a"))
      .join(bg.as("cb"), col("cb.doc_id") === col("doc_b") &&
        col("cb.g") === col("ca.g"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("ca.c") * col("cb.c")).as("dot"))
    pairs
      .join(dots, Seq("doc_a", "doc_b"), "left")
      .join(broadcast(ss.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("ss", "ssa")), "doc_a")
      .join(broadcast(ss.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("ss", "ssb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        round(cos(lit(3.141592653589793) * col("hamming").cast("double") / 64.0),
          6).as("est_cos"),
        round(coalesce(col("dot"), lit(0L)).cast("double") /
          (sqrt(col("ssa").cast("double")) * sqrt(col("ssb").cast("double"))),
          6).as("exact_cos"))
  }

  /** d17: content-defined chunking (CDC) overlap — SUB-document
    * duplicate-span detection, the storage-dedup/plagiarism tier the
    * doc-level signatures (d03/d04) cannot see: two documents that
    * share a long verbatim span but differ elsewhere chunk that span
    * IDENTICALLY because boundaries depend only on local content (a
    * Rabin-style rolling hash over the last 8 chars, breakpoint where
    * h % 64 == 0 — the LBFS design), so shared spans meet at equal
    * chunk hashes however the surrounding text shifts alignment.
    *
    * Pipeline shape, all codegen'd higher-order functions (zero UDFs):
    * per doc, ONE narrow pass materializes char codes → breakpoint
    * positions → chunk substrings (transform/filter/sequence); chunks
    * ≥ 24 chars hash to md5 keys; one distinct + one equi-join on the
    * chunk hash yields pairs. Boilerplate guard: chunk hashes seen in
    * > 64 documents are dropped BEFORE the self-join (d09's df-cap
    * lesson) — at 100 TB a ubiquitous header would otherwise square
    * into |df|² pairs; a 64-doc cap bounds per-key fan-out at 64²
    * while keeping every genuine near-dup span (true overlap pairs
    * share RARE chunks). The rolling hash is exact 64-bit integer
    * arithmetic (13^j weights, max term ≈ 7e13 ≪ 2^63) — identical in
    * every engine, no floats anywhere.
    */
  def d17CdcChunkOverlap(s: SparkSession, d: String): DataFrame =
    cdcOverlap(Tables.documents(s, d))

  /** The chunking stage alone: (doc_id, idx, chunk) with idx the
    * in-document chunk position. Boundaries partition [0, n] exactly,
    * so chunks concatenate back to the text verbatim — the lossless
    * invariant `EngineSpec` property-checks on randomized strings
    * (including a ≥1 MB document).
    *
    * Bounded task memory for long documents: breakpoints are computed
    * SEGMENT BY SEGMENT, never materializing a per-character array
    * over the whole text. Each 64 KiB segment carries 7 chars of
    * left overlap (the rolling hash's full history), its char codes
    * are bound via the `transform(array(x), v -> …)` let-binding
    * idiom, and per-position hashes index ONLY that bounded local
    * array — so peak per-row scratch is one segment's codes plus the
    * accumulated breakpoint ints (≈ len/64), instead of the 16×-text
    * blowup of whole-document code arrays (a 10 MB doc would have
    * pinned >600 MB of array scratch in one task). Breakpoints
    * depend only on an 8-char window, so segmentation is invisible:
    * every segment size yields IDENTICAL breakpoints (the seam spec
    * equates seg=64 with seg=2^20 on random strings, and the DuckDB
    * oracle — which replays the naive whole-doc arithmetic — pins the
    * production default). Everything stays one narrow codegen'd
    * projection: no extra scan, no shuffle, no UDF.
    */
  private[graft] def cdcChunks(docs: DataFrame, seg: Int = 65536): DataFrame = {
    // global position i maps into segment k's local codes as
    // i - base + 1 with base = max(k*seg - 6, 1); the k-th segment
    // owns positions [max(k*seg + 1, 8), min((k+1)*seg, len - 1)]
    val lb = s"greatest(k * $seg - 6, 1)"        // segment char base
    val lo = s"greatest(k * $seg + 1, 8)"        // first owned position
    val hi = s"least((k + 1) * $seg, length(text) - 1)"
    val terms = Seq("1L" -> 1, "13L" -> 0, "169L" -> -1, "2197L" -> -2,
      "28561L" -> -3, "371293L" -> -4, "4826809L" -> -5, "62748517L" -> -6)
      .map { case (w, off) =>
        val idx = if (off == 1) s"i - $lb + 1"
        else if (off == 0) s"i - $lb"
        else s"i - $lb - ${-off}"
        s"element_at(c, $idx) * $w"
      }.mkString(" + ")
    docs
      .filter(length(col("text")) >= 9)
      .selectExpr("doc_id", "text",
        s"""concat(array(0),
             flatten(transform(sequence(0, int((length(text) - 1) / $seg)), k ->
               flatten(transform(array(transform(
                   split(substr(text, $lb, ${seg + 7}), ''), ch -> ascii(ch))), c ->
                 CASE WHEN $lo > $hi THEN array()
                 ELSE filter(sequence($lo, $hi), i -> ($terms) % 64 = 0) END)))),
             array(length(text))) AS bps""")
      .selectExpr("doc_id",
        """posexplode(transform(sequence(1, size(bps) - 1), k ->
             substr(text, element_at(bps, k) + 1,
               element_at(bps, k + 1) - element_at(bps, k)))) AS (idx, chunk)""")
  }

  /** Per-doc distinct chunk signatures (doc_id, h, clen) for chunks
    * ≥ 24 chars — the unit the batch tier joins on and the streaming
    * gate (st21) accumulates in its persisted store. Docs never span
    * batches, so per-batch distinct equals global distinct.
    */
  private[graft] def cdcSigs(docs: DataFrame): DataFrame =
    cdcChunks(docs)
      .filter(length(col("chunk")) >= 24)
      .select(col("doc_id"), md5(col("chunk")).as("h"),
        length(col("chunk")).cast("long").as("clen"))
      .distinct()

  /** st21's closing step: apply the GLOBAL df cap to an accumulated
    * per-shared-chunk pair list and aggregate to d17's output shape.
    * The cap must see the final document frequencies — a chunk can
    * stay under 64 docs for early batches and cross later, so the
    * incremental tier emits (pair, h, clen) rows uncapped and this
    * step drops capped chunks exactly once, at the end. Equal to
    * cdcOverlap's cap-before-join by construction (either way, pairs
    * through capped chunks are excluded).
    */
  private[graft] def cdcPairsFinal(shared: DataFrame, allSigs: DataFrame): DataFrame = {
    val hot = allSigs.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 64).select(col("h"))
    shared.join(broadcast(hot), Seq("h"), "left_anti")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_chunks"), sum(col("clen")).as("shared_chars"))
  }

  /** d17's core over any (doc_id, text) frame — package-visible so the
    * spec can assert the property that justifies CDC: a shared span
    * found at DIFFERENT offsets in two documents still meets at equal
    * chunk hashes, because breakpoints depend only on local content.
    */
  private[graft] def cdcOverlap(docs: DataFrame): DataFrame = {
    // Tables.spread: the single-file fixture scan would otherwise
    // run the heavy narrow chunking in ONE task (see Tables.spread's
    // docstring; ScaleProbe measured the 5× gap)
    val chunks = cdcSigs(Tables.spread(docs))
    // df cap as a partial-aggregated hot set + broadcast anti-join:
    // the hot side map-combines to (h, count) partials (tiny shuffle,
    // skew-immune) and only over-cap hashes — a handful of boilerplate
    // chunks — broadcast back to prune map-side. A count-over-window
    // formulation was tried first (one documents scan instead of two)
    // and rejected: it buffers each h-group in ONE task's sorter, and
    // a boilerplate chunk shared by 10⁹ documents — the exact case the
    // cap exists for — becomes a single-task spill-sort. The extra
    // chunking scan is narrow, parallel map work; everything heavy
    // stays hot-key-safe, and the self-join below still shuffles the
    // chunk stream exactly once (its two sides are column-identical,
    // so the exchange is reused).
    val hot = chunks.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 64).select(col("h"))
    val rare = chunks.join(broadcast(hot), Seq("h"), "left_anti")
    // least(a.clen, b.clen) is degenerate (equal h ⇒ equal chunk ⇒
    // equal length) — it exists to keep BOTH join inputs column-
    // identical so the two sides of this self-join share ONE shuffled
    // exchange of the chunk stream (column pruning would otherwise
    // fork the subplans and re-derive the probe side from a second
    // document scan)
    rare.as("a").join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        least(col("a.clen"), col("b.clen")).as("clen"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_chunks"), sum(col("clen")).as("shared_chars"))
  }

  /** d18: the d14-style quality row for the CDC tier — precision and
    * recall of d17's chunk-sharing pairs against d02's exact jaccard
    * ≥ 0.5 truth, pinned to scaled BIGINTs. The two metrics decide
    * where CDC sits in a dedup cascade: high recall says chunk
    * sharing subsumes doc-level near-dup on this corpus; precision
    * below 1e6 counts the partial-overlap pairs CDC finds that
    * doc-level jaccard misses (CDC's reason to exist — they are not
    * false positives, they are a finer-grained signal). Three counts
    * via joins of the two (tiny) pair sets; corpus-scale work is the
    * two generators themselves, each its own audited design.
    *
    * Measured (two-threshold board, 0.5 and 0.8): sf0.001/sf0.01
    * P=R=1.0 at both thresholds; sf0.1 P=1.0, R=0.926 — at BOTH
    * thresholds, because this corpus's planted-dup separation is
    * bimodal (every ≥0.5 truth pair in fact clears 0.8; n_truth is
    * 256 at both rows). That identity is the board's sharpest
    * finding: CDC's 19 misses are NOT marginal near-dups — they are
    * full ≥0.8 near-dups built from scattered token-level mutations
    * with no ≥24-char contiguous verbatim run, i.e. exactly the
    * regime where the doc-level tier (d03) is the right detector and
    * CDC structurally cannot be. The two tiers are complements, not
    * substitutes, and the miss set is threshold-independent.
    */
  def d18CdcQuality(s: SparkSession, d: String): DataFrame = {
    releaseCaches()
    // each generator feeds two consumers per threshold (its own count
    // + the hit join) — cache so the expensive pipelines run once
    val truth = d02JaccardPairs(s, d)
      .select(col("doc_a"), col("doc_b"), col("jaccard")).cache()
    val cand = d17CdcChunkOverlap(s, d).select(col("doc_a"), col("doc_b")).cache()
    releases.register(() => { truth.unpersist(); cand.unpersist(); () })
    // two regimes: the ≥0.5 near-dup tier (where CDC's 0.926 recall
    // at sf0.1 marks its complement boundary with d03) and the ≥0.8
    // planted-dup tier, where every pair shares long verbatim runs
    // and CDC recall must be 1.0 — the complements claim, measured at
    // both ends. Precision is only meaningful against the ≥0.5 truth
    // (cand is threshold-free), so the 0.8 row's rec is the signal.
    Seq(0.5, 0.8).map { thr =>
      val t = truth.filter(col("jaccard") >= thr)
        .select(col("doc_a"), col("doc_b"))
      val hit = t.join(cand, Seq("doc_a", "doc_b"))
      t.agg(count(lit(1)).as("n_truth"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(lit((thr * 100).toLong).as("thr_pct"),
          col("n_truth"), col("n_cand"), col("n_hit"),
          round(lit(1e6) * col("n_hit") / col("n_cand")).cast("long").as("prec_scaled"),
          round(lit(1e6) * col("n_hit") / col("n_truth")).cast("long").as("rec_scaled"))
    }.reduce(_ unionByName _)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q68 is a DEMO-SCALE declarative surface (recursive-CTE cluster
    // walk, factorial in cluster size): it two-tier-guards its input
    // and REFUSES graphs with >100k pair edges or any component >12
    // nodes/~2e6 estimated paths (guard spec-pinned in EngineSpec).
    // For production graphs of any size use d07_dup_clusters — the
    // pointer-jumping log-round design with identical labels.
    "q68_recursive_clusters" -> q68RecursiveClusters,
    "d18_cdc_quality" -> d18CdcQuality,
    "d17_cdc_chunk_overlap" -> d17CdcChunkOverlap,
    "d16_simhash_calibration" -> d16SimhashCalibration,
    "d15_minhash_calibration" -> d15MinhashCalibration,
    "d14_candidate_board" -> d14CandidateBoard,
    "d13_containment_prefix" -> d13ContainmentPrefix,
    "d12_containment_pairs" -> d12ContainmentPairs,
    "d11_source_overlap" -> d11SourceOverlap,
    "d09_ngram_decontam" -> d09NgramDecontam,
    "d10_simhash_band_pairs" -> d10SimhashBandPairs,
    "d08_incremental_dedup" -> d08IncrementalDedup,
    "d01_exact_dedup" -> d01ExactDedup,
    "d02_jaccard_pairs" -> d02JaccardPairs,
    "d03_minhash_lsh" -> d03MinhashLsh,
    "d04_simhash" -> d04Simhash,
    "d05_embedding_pairs" -> d05EmbeddingPairs,
    "d06_bloom_jaccard" -> d06BloomJaccard,
    "d07_dup_clusters" -> d07DupClusters)

  private val shingleSql =
    """SELECT doc_id, unnest(list_distinct(
         list_transform(range(1, len(toks) - 1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
       FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
             FROM documents)"""

  private val jaccardSql =
    s"""WITH sh AS ($shingleSql),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, common / (sa.n + sb.n - common) AS jaccard
        FROM pairs
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE common / (sa.n + sb.n - common) >= 0.5"""

  // Transitive closure over the (tiny) pair graph; DuckDB's recursive
  // CTE plays the oracle for the distributed label propagation. The
  // CTE chain is shared with PipelineOps' end-to-end corpus build.
  private[queries] val clusterCtes =
    s"""sh AS ($shingleSql),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        cp AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        jp AS (
          SELECT doc_a, doc_b
          FROM cp JOIN sizes sa ON doc_a = sa.doc_id
                  JOIN sizes sb ON doc_b = sb.doc_id
          WHERE common / (sa.n + sb.n - common) >= 0.5),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
                  UNION SELECT doc_b, doc_a FROM jp),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)"""

  private val clusterSql =
    s"""WITH RECURSIVE
        $clusterCtes
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_id,
          src = least(src, min(dst)) AS is_canonical
        FROM reach GROUP BY src"""

  // d08's exact-join oracle: same shingle/Jaccard math as d02, but the
  // pair domain is (new-batch doc) × (corpus doc) — no a<b constraint,
  // the batch membership flag is the same md5 slice as the engine's.
  private val incrementalSql =
    s"""WITH sh AS ($shingleSql),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        flags AS (
          SELECT doc_id,
            ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 5 = 0 AS is_new
          FROM documents),
        pairs AS (
          SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS common
          FROM sh a JOIN flags fa ON a.doc_id = fa.doc_id AND fa.is_new
               JOIN sh b ON a.s = b.s
               JOIN flags fb ON b.doc_id = fb.doc_id AND NOT fb.is_new
          GROUP BY 1, 2)
        SELECT new_id, corpus_id, common / (sa.n + sb.n - common) AS jaccard
        FROM pairs
        JOIN sizes sa ON new_id = sa.doc_id
        JOIN sizes sb ON corpus_id = sb.doc_id
        WHERE common / (sa.n + sb.n - common) >= 0.5"""

  // st26's oracle: d08's exact-join arithmetic, with the tombstoned
  // corpus slice (doc_id % 7 = 3, the engine's deterministic delete
  // set) EXCLUDED from the corpus side — a probe against the
  // post-delete store must behave exactly as if those docs never
  // entered the index.
  private[graft] val tombstoneIncrementalSql =
    s"""WITH sh AS ($shingleSql),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        flags AS (
          SELECT doc_id,
            ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 5 = 0 AS is_new
          FROM documents),
        pairs AS (
          SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS common
          FROM sh a JOIN flags fa ON a.doc_id = fa.doc_id AND fa.is_new
               JOIN sh b ON a.s = b.s
               JOIN flags fb ON b.doc_id = fb.doc_id AND NOT fb.is_new
                 AND b.doc_id % 7 <> 3
          GROUP BY 1, 2)
        SELECT new_id, corpus_id, common / (sa.n + sb.n - common) AS jaccard
        FROM pairs
        JOIN sizes sa ON new_id = sa.doc_id
        JOIN sizes sb ON corpus_id = sb.doc_id
        WHERE common / (sa.n + sb.n - common) >= 0.5"""

  // d09's oracle: the same 5-gram extraction and md5 held-out slice in
  // plain SQL; the engine's xxhash64 gram keys are internal plumbing
  // (d02's collision analysis), the flagged docs and counts must match.
  private val decontamSql =
    """WITH toks AS (
         SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
         FROM documents),
       sh AS (
         SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 3),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS s
         FROM toks),
       flags AS (
         SELECT doc_id,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 7 = 0 AS held
         FROM documents),
       held AS (SELECT DISTINCT s FROM sh JOIN flags USING (doc_id) WHERE held),
       tr AS (SELECT sh.doc_id, s FROM sh JOIN flags USING (doc_id) WHERE NOT held),
       sizes AS (SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY 1)
       SELECT l.doc_id, l.n_leaked, sizes.n_grams,
         l.n_leaked::DOUBLE / sizes.n_grams::DOUBLE AS leak_frac
       FROM (SELECT tr.doc_id, count(*) AS n_leaked
             FROM tr JOIN held USING (s) GROUP BY 1) l
       JOIN sizes USING (doc_id)"""

  /** Shared 64-bit SimHash oracle fragment: given a CTE body producing
    * (doc_id, f) feature rows, emits feat/fh/votes/sh CTEs ending in
    * sh(doc_id, simhash). Mirrors SimHash64 exactly — two polynomial
    * hashes mod 2³²−5 / 2³²−17 voting the low/high 32 bits. Bit 63 is
    * written as the min-long literal because DuckDB rejects
    * `1::BIGINT << 63` as shift overflow; the HUGEINT sum then casts
    * back into two's-complement BIGINT range.
    */
  private def simhash64Ctes(feat: String): String =
    s"""feat AS ($feat),
       fh AS (
         SELECT doc_id,
           list_reduce(list_prepend(7::BIGINT, chs),
             (acc, ch) -> (acc * 31 + ch) % 4294967291) AS h1,
           list_reduce(list_prepend(13::BIGINT, chs),
             (acc, ch) -> (acc * 33 + ch) % 4294967279) AS h2
         FROM (SELECT doc_id,
                 list_transform(regexp_split_to_array(f, ''), ch -> ascii(ch)::BIGINT) AS chs
               FROM feat)),
       votes AS (
         SELECT doc_id, bit,
           sum(CASE WHEN ((CASE WHEN bit < 32 THEN h1 >> bit
                           ELSE h2 >> (bit - 32) END) & 1) = 1
               THEN 1 ELSE -1 END) AS v
         FROM fh, unnest(range(0, 64)) AS u(bit) GROUP BY 1, 2),
       sh AS (
         SELECT doc_id,
           sum(CASE WHEN v > 0 THEN
                 (CASE WHEN bit = 63 THEN (-9223372036854775807 - 1)
                  ELSE (1::BIGINT << bit) END)
               ELSE 0 END)::BIGINT AS simhash
         FROM votes GROUP BY 1)"""

  // d10's oracle: ALL-PAIRS Hamming filter over the same bigram
  // SimHash — the banding is lossless by pigeonhole (distance ≤ 3 over
  // 4 bands forces an identical band), so the bucketed path must
  // reproduce the quadratic reference answer exactly.
  private val simhashBandSql =
    s"""WITH ${simhash64Ctes(
      """SELECT doc_id, unnest(list_transform(range(1, len(t)),
           i -> t[i] || ' ' || t[i+1])) AS f
         FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
               FROM documents)""")}
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""

  private val sourceOverlapSql =
    """WITH sg AS (
         SELECT DISTINCT source, s FROM (
           SELECT source, unnest(list_distinct(
             list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
           FROM (SELECT source,
                   list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
                 FROM documents))),
       sizes AS (SELECT source, count(*) AS n FROM sg GROUP BY 1),
       pairs AS (
         SELECT a.source AS src_a, b.source AS src_b, count(*) AS common
         FROM sg a JOIN sg b ON a.s = b.s AND a.source < b.source
         GROUP BY 1, 2)
       SELECT src_a, src_b, common,
         common / (sa.n + sb.n - common) AS jaccard
       FROM pairs
       JOIN sizes sa ON src_a = sa.source
       JOIN sizes sb ON src_b = sb.source"""

  private val containmentSql =
    s"""WITH sh AS ($shingleSql),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, common,
          common / sa.n AS contain_a, common / sb.n AS contain_b
        FROM pairs
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE common / sa.n >= 0.8 OR common / sb.n >= 0.8"""

  /** d14's oracle: every tier's candidate generation replicated in
    * SQL. The minhash replica folds the SAME poly-31 hash over the
    * SAME UTF-8 bytes (expanded from code points arithmetically —
    * DuckDB strings index by code point, the JVM hashes bytes) and
    * the same 64 affine permutations; bands compare the two
    * underlying signature rows directly, which is exactly the
    * engine's sig[2b]·p + sig[2b+1] pairing (injective, both < p).
    * The simhash replica reuses d10's CTEs (which define `sh`, so
    * the shingle CTE here is `shg`).
    */
  /** The 64-perm minhash signature replicated in SQL, as CTEs over a
    * shingle CTE named `shg` (doc_id, s) — shared by d14 and d15.
    */
  private val minhashSigCtes: String = {
    val utf8fold =
      """list_reduce(list_prepend(7::BIGINT, flatten(list_transform(
           list_transform(regexp_split_to_array(s, ''), ch -> unicode(ch)::BIGINT),
           cp -> CASE
             WHEN cp < 128 THEN [cp]
             WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64]
             WHEN cp < 65536 THEN [224 + cp // 4096, 128 + (cp // 64) % 64, 128 + cp % 64]
             ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64, 128 + (cp // 64) % 64, 128 + cp % 64]
           END))),
           (acc, b) -> (acc * 31 + b) % 1000000007)"""
    s"""h0 AS (SELECT doc_id, $utf8fold AS h FROM shg),
        perms AS (
          SELECT p, ((1103515245 * (p + 1) + 12345) % 1000000006) + 1 AS a,
                 (69069 * (p + 7) + 362437) % 1000000007 AS c
          FROM unnest(range(0, 64)) AS t(p)),
        sig AS (
          SELECT doc_id, p, min((h * a + c) % 1000000007) AS v
          FROM h0 CROSS JOIN perms GROUP BY 1, 2)"""
  }

  private val d14Sql: String = {
    s"""WITH shg AS ($shingleSql),
        sizes AS (SELECT doc_id, count(*) AS n FROM shg GROUP BY 1),
        cp AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
          FROM shg a JOIN shg b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        truth AS (
          SELECT doc_a, doc_b FROM cp
          JOIN sizes sa ON doc_a = sa.doc_id
          JOIN sizes sb ON doc_b = sb.doc_id
          WHERE common / (sa.n + sb.n - common) >= 0.5),
        tn AS (SELECT count(*)::BIGINT AS n_true FROM truth),
        $minhashSigCtes,
        bandsm AS (
          SELECT e.doc_id, e.p // 2 AS band, e.v AS v1, o.v AS v2
          FROM sig e JOIN sig o ON e.doc_id = o.doc_id AND o.p = e.p + 1
          WHERE e.p % 2 = 0),
        mh AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bandsm a JOIN bandsm b ON a.band = b.band AND a.v1 = b.v1
            AND a.v2 = b.v2 AND a.doc_id < b.doc_id),
        ${simhash64Ctes(
        """SELECT doc_id, unnest(list_transform(range(1, len(t)),
             i -> t[i] || ' ' || t[i+1])) AS f
           FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
                 FROM documents)""")},
        sbands AS (
          SELECT doc_id, band, (simhash >> (band * 16)) & 65535 AS bv
          FROM sh, unnest(range(0, 4)) AS u(band)),
        sc AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sbands a JOIN sbands b ON a.band = b.band AND a.bv = b.bv
            AND a.doc_id < b.doc_id),
        dom AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM shg a JOIN shg b ON a.s = b.s AND a.doc_id < b.doc_id),
        mstat AS (SELECT count(*)::BIGINT AS n, count(t.doc_a)::BIGINT AS hits
                  FROM mh m LEFT JOIN truth t ON m.doc_a = t.doc_a AND m.doc_b = t.doc_b),
        sstat AS (SELECT count(*)::BIGINT AS n, count(t.doc_a)::BIGINT AS hits
                  FROM sc c LEFT JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b),
        dstat AS (SELECT count(*)::BIGINT AS n, count(t.doc_a)::BIGINT AS hits
                  FROM dom d LEFT JOIN truth t ON d.doc_a = t.doc_a AND d.doc_b = t.doc_b)
        SELECT 'minhash_b32' AS tier, n AS n_candidates, n_true, hits,
          CASE WHEN n = 0 THEN 0.0 ELSE hits::DOUBLE / n::DOUBLE END AS "precision",
          CASE WHEN n_true = 0 THEN 0.0 ELSE hits::DOUBLE / n_true::DOUBLE END AS recall
        FROM mstat CROSS JOIN tn
        UNION ALL
        SELECT 'simhash_b16', n, n_true, hits,
          CASE WHEN n = 0 THEN 0.0 ELSE hits::DOUBLE / n::DOUBLE END,
          CASE WHEN n_true = 0 THEN 0.0 ELSE hits::DOUBLE / n_true::DOUBLE END
        FROM sstat CROSS JOIN tn
        UNION ALL
        SELECT 'pair_domain', n, n_true, hits,
          CASE WHEN n = 0 THEN 0.0 ELSE hits::DOUBLE / n::DOUBLE END,
          CASE WHEN n_true = 0 THEN 0.0 ELSE hits::DOUBLE / n_true::DOUBLE END
        FROM dstat CROSS JOIN tn"""
  }

  private val d15Sql: String =
    s"""WITH shg AS ($shingleSql),
        sizes AS (SELECT doc_id, count(*) AS n FROM shg GROUP BY 1),
        cp AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
          FROM shg a JOIN shg b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        truth AS (
          SELECT doc_a, doc_b, common / (sa.n + sb.n - common) AS jaccard
          FROM cp
          JOIN sizes sa ON doc_a = sa.doc_id
          JOIN sizes sb ON doc_b = sb.doc_id
          WHERE common / (sa.n + sb.n - common) >= 0.5),
        $minhashSigCtes,
        est AS (
          SELECT t.doc_a, t.doc_b, t.jaccard,
            count(CASE WHEN sa.v = sb.v THEN 1 END) / 64.0 AS est_jaccard
          FROM truth t
          JOIN sig sa ON sa.doc_id = t.doc_a
          JOIN sig sb ON sb.doc_id = t.doc_b AND sb.p = sa.p
          GROUP BY 1, 2, 3)
        SELECT doc_a, doc_b, jaccard, est_jaccard,
          abs(est_jaccard - jaccard) AS abs_err
        FROM est"""

  // d16: the same bigram SimHash pairs, then est vs exact over the
  // identical feature stream — dot/norms are integer sums, one IEEE
  // division per pair; cos() agreed to < 1 ulp, rounded at 6
  private val d16Sql =
    s"""WITH ${simhash64Ctes(
      """SELECT doc_id, unnest(list_transform(range(1, len(t)),
           i -> t[i] || ' ' || t[i+1])) AS f
         FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
               FROM documents)""")},
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       bg AS (SELECT doc_id, f AS g, count(*) AS c FROM feat GROUP BY 1, 2),
       ss AS (SELECT doc_id, sum(c * c)::BIGINT AS ss FROM bg GROUP BY 1),
       dots AS (
         SELECT p.doc_a, p.doc_b, sum(ca.c * cb.c)::BIGINT AS dot
         FROM pairs p
         JOIN bg ca ON ca.doc_id = p.doc_a
         JOIN bg cb ON cb.doc_id = p.doc_b AND cb.g = ca.g
         GROUP BY 1, 2)
       SELECT p.doc_a, p.doc_b, p.hamming,
         round(cos(3.141592653589793 * p.hamming / 64.0), 6) AS est_cos,
         round(coalesce(dot, 0) / (sqrt(sa.ss) * sqrt(sb.ss)), 6) AS exact_cos
       FROM pairs p
       LEFT JOIN dots ON dots.doc_a = p.doc_a AND dots.doc_b = p.doc_b
       JOIN ss sa ON sa.doc_id = p.doc_a
       JOIN ss sb ON sb.doc_id = p.doc_b"""

  // identical rolling-hash breakpoints, chunking, df cap, and pair
  // aggregation — exact integer arithmetic end to end; the CTE body
  // through `cf` is ONE string shared by d17, the d18 quality board,
  // and st27's refresh variant, so the three cannot drift
  private val cdcCfCtes: String =
      """docs AS (SELECT doc_id, text FROM documents WHERE length(text) >= 9),
         cs AS (SELECT doc_id, text,
            list_transform(range(1, length(text) + 1), i -> ord(substr(text, i, 1))) AS c
          FROM docs),
         bp AS (SELECT doc_id, text,
            list_concat(list_concat([0::BIGINT],
              list_filter(range(8, length(text)), i ->
                (c[i] * 1::BIGINT + c[i-1] * 13::BIGINT + c[i-2] * 169::BIGINT
                 + c[i-3] * 2197::BIGINT + c[i-4] * 28561::BIGINT
                 + c[i-5] * 371293::BIGINT + c[i-6] * 4826809::BIGINT
                 + c[i-7] * 62748517::BIGINT) % 64 = 0)),
              [length(text)::BIGINT]) AS bps
          FROM cs),
         ck AS (SELECT doc_id,
            unnest(list_transform(range(1, len(bps)), k ->
              substr(text, (bps[k] + 1)::INT, (bps[k+1] - bps[k])::INT))) AS chunk
          FROM bp),
         cf AS (SELECT DISTINCT doc_id, md5(chunk) AS h, length(chunk)::BIGINT AS clen
                FROM ck WHERE length(chunk) >= 24)"""

  private val d17Sql: String =
    s"""WITH $cdcCfCtes,
         keep AS (SELECT h FROM cf GROUP BY h HAVING count(*) <= 64),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.clen
               FROM cf a JOIN cf b USING (h) JOIN keep USING (h)
               WHERE a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, count(*)::BIGINT AS n_shared_chunks,
           sum(clen)::BIGINT AS shared_chars
         FROM p GROUP BY 1, 2"""

  // st27's oracle: d17's arithmetic after a CORPUS REFRESH — the
  // tombstoned corpus slice (doc_id % 7 = 3 among !is_new docs) is
  // excluded from the signature universe (it left the store), the df
  // cap is recomputed over the survivors (a chunk hot pre-delete can
  // cool below 64 after — the engine's arrival-batch frequencies see
  // exactly the post-delete store, so the arithmetic agrees), and
  // only pairs with an arrival on at least one side remain (the
  // refresh restarted the quarantine window; corpus-phase pairs aged
  // out of the log).
  private[graft] val cdcRefreshSql: String =
    s"""WITH $cdcCfCtes,
         flags AS (
           SELECT doc_id,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 5 = 0 AS is_new
           FROM documents),
         surv AS (
           SELECT cf.doc_id, cf.h, cf.clen
           FROM cf JOIN flags USING (doc_id)
           WHERE flags.is_new OR cf.doc_id % 7 <> 3),
         keep AS (SELECT h FROM surv GROUP BY h HAVING count(*) <= 64),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.clen
               FROM surv a JOIN surv b USING (h) JOIN keep USING (h)
               JOIN flags fa ON fa.doc_id = a.doc_id
               JOIN flags fb ON fb.doc_id = b.doc_id
               WHERE a.doc_id < b.doc_id AND (fa.is_new OR fb.is_new))
         SELECT doc_a, doc_b, count(*)::BIGINT AS n_shared_chunks,
           sum(clen)::BIGINT AS shared_chars
         FROM p GROUP BY 1, 2"""

  val oracles: Map[String, String] = Map(
    // the oracle's own recursive-CTE formulation — q68 answers to it
    // directly (same contract as d07, whose loop computes the same
    // labels imperatively)
    "q68_recursive_clusters" -> clusterSql,
    "d17_cdc_chunk_overlap" -> d17Sql,
    // truth = d02's exact jaccard>=0.5 pairs; candidates = d17's CDC
    // pairs; the three counts and both pinned ratios in one row
    "d18_cdc_quality" ->
      s"""WITH truth AS (SELECT doc_a, doc_b, jaccard FROM ($jaccardSql)),
          cand AS (SELECT doc_a, doc_b FROM ($d17Sql)),
          thr AS (SELECT unnest([0.5, 0.8]) AS t)
          SELECT (t * 100)::BIGINT AS thr_pct,
            nt AS n_truth, nc AS n_cand, nh AS n_hit,
            round(1e6 * nh / nc)::BIGINT AS prec_scaled,
            round(1e6 * nh / nt)::BIGINT AS rec_scaled
          FROM (SELECT t,
                  (SELECT count(*) FROM truth WHERE jaccard >= t)::BIGINT AS nt,
                  (SELECT count(*) FROM cand)::BIGINT AS nc,
                  (SELECT count(*) FROM truth JOIN cand USING (doc_a, doc_b)
                   WHERE jaccard >= t)::BIGINT AS nh
                FROM thr)""",
    "d16_simhash_calibration" -> d16Sql,
    "d15_minhash_calibration" -> d15Sql,
    "d14_candidate_board" -> d14Sql,
    // d13 is the prefix-filtered path to the same answer — same oracle
    // by design (the d02/d03 twin pattern).
    "d13_containment_prefix" -> containmentSql,
    "d12_containment_pairs" -> containmentSql,
    "d11_source_overlap" -> sourceOverlapSql,
    "d09_ngram_decontam" -> decontamSql,
    "d10_simhash_band_pairs" -> simhashBandSql,
    "d08_incremental_dedup" -> incrementalSql,
    "d07_dup_clusters" -> clusterSql,
    "d01_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_doc_id,
         count(*) AS n_copies
         FROM documents GROUP BY 1""",
    "d02_jaccard_pairs" -> jaccardSql,
    // d03/d06 are the LSH and Bloom paths to the same answer — same
    // oracle by design.
    "d03_minhash_lsh" -> jaccardSql,
    "d06_bloom_jaccard" -> jaccardSql,
    "d04_simhash" ->
      s"""WITH ${simhash64Ctes(
        """SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS f
           FROM documents""")}
         SELECT doc_id, simhash FROM sh""",
    "d05_embedding_pairs" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         SELECT vec_a, vec_b, cosine FROM (
           SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> a.v[i] * b.v[i])), (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_prepend(0.0, list_transform(a.v, x -> x * x)), (acc, x) -> acc + x))
              * sqrt(list_reduce(list_prepend(0.0, list_transform(b.v, x -> x * x)), (acc, x) -> acc + x))) AS cosine
           FROM e a JOIN e b ON a.vec_id < b.vec_id) t
         WHERE cosine >= 0.5""")
}
